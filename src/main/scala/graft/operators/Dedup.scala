package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.{SetSimilarity, SimHash64, TextFunctions, VectorFunctions}

/** Deduplication operators for the training-data pipeline. None of these
  * exist in the reference (its model has no documents); they are the
  * 100 TB-scale extensions mandated by BASELINE.json's north star.
  *
  * Scale design: exact + fingerprint dedup are single hash shuffles on the
  * dedup key. MinHash-LSH and SimHash turn the quadratic all-pairs problem
  * into equi-joins on (band, bucket) keys — the only joins that survive a
  * billion-document corpus. The brute-force jaccard/cosine variants exist
  * as oracles for small slices, guarded by an explicit id cap.
  */
object Dedup {

  /** Exact dedup: keep the lowest doc_id per identical text.
    *
    * The shuffle key is `xxhash64(text)` — 8 bytes — NOT the document
    * body: partitioning by the raw `text` column ships every byte of the
    * corpus as exchange KEY material, which at 100 TB doubles the shuffle
    * for no information (the hash routes identical texts to the same
    * partition just as well). Exact-text semantics are preserved by a
    * within-bucket check: rows sort by (text, doc_id) inside each hash
    * partition, so identical texts are contiguous and the first row of
    * each text run (null-safe lag comparison) is the lowest-id keeper —
    * hash collisions merely co-locate distinct texts, they never merge
    * them. Output is bit-identical to a `PARTITION BY text` window.
    */
  def exact(docs: DataFrame): DataFrame = {
    val w = Window.partitionBy(xxhash64(col("text")))
      .orderBy(col("text").asc, col("doc_id").asc)
    docs.withColumn("__keep", row_number().over(w) === 1 ||
        !(lag(col("text"), 1).over(w) <=> col("text")))
      .filter(col("__keep")).drop("__keep")
  }

  /** Composite text-identity key: `(primary 64-bit hash, byte length,
    * crc32)` — the grouping key for any aggregate whose GROUPS are text
    * identities but whose outputs never carry the text (leakage audits,
    * per-text split counts). A bare 64-bit hash merges distinct texts
    * with birthday probability ~1 at 10^10 docs — the 100 TB design
    * point — silently corrupting whatever the group stood for; the
    * composite needs a simultaneous 64-bit + 32-bit + exact-length
    * collision (~2^96), while still shipping 16 bytes of key instead of
    * the corpus. Operators that re-CHECK the text within a hash bucket
    * ([[exact]]'s lag comparison) don't need this — the hash there only
    * co-locates. `primary` is injectable so the planted-collision spec
    * can force first-component collisions and prove distinct texts still
    * separate on the remaining components.
    */
  def textKey(text: org.apache.spark.sql.Column,
              primary: org.apache.spark.sql.Column => org.apache.spark.sql.Column =
                c => xxhash64(c)): org.apache.spark.sql.Column =
    struct(primary(text).as("h1"), length(text).as("len"), crc32(text).as("h2"))

  /** Canonical-fingerprint dedup (whitespace/case-insensitive exact). */
  def byFingerprint(docs: DataFrame): DataFrame = {
    val w = Window.partitionBy("fp").orderBy("doc_id")
    docs.withColumn("fp", TextFunctions.fingerprint(col("text")))
      .withColumn("rn", row_number().over(w)).filter(col("rn") === 1).drop("rn")
  }

  /** Sorted distinct token sets: sortedness lets [[JaccardSorted]] run a
    * merge intersection instead of per-pair hash sets. `private[graft]`
    * so the streaming twin derives the IDENTICAL token sets. `sort_array`
    * is code-generated, where a comparator-free `array_sort` runs an
    * interpreted lambda per comparison; the two orders differ only in
    * where nulls go, and a split token is never null.
    */
  private[graft] def withToks(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      sort_array(TextFunctions.distinctTokens(col("text"))).as("toks"))

  /** The `(band, bh)` struct array of a minhash signature — the one band
    * derivation [[minhashBands]] and the streaming screen share, so their
    * LSH keys can never drift apart.
    */
  private[graft] def bandStructs(sig: org.apache.spark.sql.Column,
                                 numHashes: Int, bands: Int): org.apache.spark.sql.Column = {
    val r = numHashes / bands
    array((0 until bands).map { j =>
      struct(lit(j).as("band"), hash(lit(j), slice(sig, j * r + 1, r)).as("bh"))
    }: _*)
  }

  /** Size filter (set-similarity-join standard): `jac >= tau` implies
    * `min(|A|,|B|) >= tau * max(|A|,|B|)`, so a join carrying this
    * predicate never runs the expensive merge for pairs the threshold
    * already excludes — output-identical to the unfiltered join.
    */
  def sizeFilter(tau: Double, szA: org.apache.spark.sql.Column,
                 szB: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    least(szA, szB).cast("double") >= lit(tau) * greatest(szA, szB)

  /** Brute-force token-set Jaccard pairs >= `tau` among doc_id < `idCap`.
    * Quadratic — the DuckDB-checkable oracle for [[minhashLsh]], capped so
    * it stays feasible at any SF. Intersection sizes are integers, so the
    * ratio (and the threshold decision) is bit-identical across engines.
    *
    * The join condition is written cheap-first, and its conjuncts keep
    * that order in the nested-loop join, which evaluates them left to
    * right and stops at the first false one: the id order and the
    * [[sizeFilter]] reject most pairs before the merge runs. A `jac >= tau`
    * filter over the join would be pushed into the condition AHEAD of
    * them, running the merge on every pair. The output rows recompute the
    * merge for their `jaccard` column.
    */
  def jaccardPairs(docs: DataFrame, tau: Double, idCap: Long): DataFrame = {
    val t = withToks(docs.filter(col("doc_id") < idCap))
      .withColumn("sz", size(col("toks")))
    val jac = SetSimilarity.jaccard_sorted(col("a.toks"), col("b.toks"))
    t.as("a").join(t.as("b"), col("a.doc_id") < col("b.doc_id") &&
        sizeFilter(tau, col("a.sz"), col("b.sz")) && jac >= tau)
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"),
              round(jac, 6).as("jaccard"))
  }

  /** EXACT set-similarity self-join via prefix filtering (Bayardo, Ma,
    * Srikant: "Scaling up all pairs similarity search", WWW 2007; Xiao et
    * al.: "Efficient similarity joins for near duplicate detection", WWW
    * 2008 — the AllPairs/PPJoin family). Zero recall loss, unlike the
    * MinHash/SimHash screens: the result set equals brute force, which is
    * exactly what the gate's quadratic DuckDB oracle checks.
    *
    * Blocking lemma: order every token set by one global total order and
    * take each set's first `|x| - ceil(tau*|x|) + 1` tokens as its prefix.
    * `J(x,y) >= tau` implies `|x inter y| >= ceil(tau*|x|)` (the union is
    * at least `|x|`), and two sets overlapping in `>= a` elements must
    * meet inside their `(len - a + 1)`-prefixes (pigeonhole: if x's
    * prefix misses all of y, the `a` shared tokens sit in x's last
    * `a - 1` positions). So every qualifying pair shares a PREFIX token
    * and the candidate step is an equi-join on prefix tokens — an
    * inverted index, not all-pairs.
    *
    * Scale design: the canonical order is document frequency ascending
    * (ties by token text), so each doc's prefix holds its RAREST tokens —
    * inverted lists stay short by construction and the join is skew-free
    * precisely where a naive token join explodes (stopwords land at the
    * ORDER'S tail, never in a prefix). Three shuffles total: the df
    * aggregation, the per-doc reassembly, the prefix equi-join; the
    * verification joins are id-keyed. The [[sizeFilter]] rides the
    * candidate join, and verification merges the lex-sorted arrays
    * ([[graft.functions.SetSimilarity.jaccard_sorted]], integer counts —
    * the threshold decision is bit-identical across engines).
    */
  def prefixJaccardPairs(docs: DataFrame, tau: Double, idCap: Long): DataFrame = {
    val t = withToks(docs.filter(col("doc_id") < idCap))
      .withColumn("sz", size(col("toks"))).filter(col("sz") > 0)
    val tok = t.select(col("doc_id"), col("sz"), explode(col("toks")).as("tok"))
    val freq = tok.groupBy("tok").agg(count(lit(1)).as("df"))
    // canonical rare-first order (df asc, token asc) — deterministic, and
    // array_sort fixes collect_list's arrival-order nondeterminism
    val pref = tok.join(freq, "tok")
      .groupBy("doc_id", "sz")
      .agg(array_sort(collect_list(struct(col("df"), col("tok")))).as("ots"))
      .withColumn("plen", (col("sz") - ceil(lit(tau) * col("sz")) + lit(1)).cast("int"))
      .select(col("doc_id"), col("sz"),
        explode(transform(slice(col("ots"), lit(1), col("plen")),
          x => x.getField("tok"))).as("ptok"))
    val cand = pref.as("a").join(pref.as("b"),
        col("a.ptok") === col("b.ptok") && col("a.doc_id") < col("b.doc_id") &&
        sizeFilter(tau, col("a.sz"), col("b.sz")))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
      .distinct()
    cand
      .join(t.select(col("doc_id").as("id_a"), col("toks").as("ta")), "id_a")
      .join(t.select(col("doc_id").as("id_b"), col("toks").as("tb")), "id_b")
      .withColumn("jac", SetSimilarity.jaccard_sorted(col("ta"), col("tb")))
      .filter(col("jac") >= tau)
      .select(col("id_a"), col("id_b"), round(col("jac"), 6).as("jaccard"))
  }

  /** EXACT directed containment join: emit (a, b) where
    * `C(a->b) = |toks(a) inter toks(b)| / |toks(a)| >= tau` — the
    * quote/subset-duplication detector (a is mostly contained in b even
    * when b is far larger, which symmetric jaccard misses by design).
    *
    * Blocking: containment bounds the overlap from the PROBE side only —
    * `|a inter b| >= ceil(tau*|a|)` — so a's rare-first prefix of length
    * `|a| - ceil(tau*|a|) + 1` must hit b somewhere (same pigeonhole as
    * [[prefixJaccardPairs]]), while b, whose size the predicate never
    * constrains, contributes its FULL token list as the inverted index.
    * That asymmetry is intrinsic to containment joins (no size filter
    * either: a tiny a can be contained in any b). The prefix side still
    * carries only rarest tokens, so the candidate join stays skew-free
    * where it matters; the index side's hot tokens are the operator's
    * honest cost at scale, bounded by df-ascending prefix choice on a.
    *
    * Verification is exact integer set math: both token arrays are
    * distinct + lex-sorted, `array_intersect` counts overlap, and the
    * one division `inter / |a|` is a ratio of exact ints — bit-stable
    * across engines.
    */
  def containmentPairs(docs: DataFrame, tau: Double, idCap: Long): DataFrame = {
    // 3-word shingles, not unigrams: containment over raw vocabulary is
    // vacuous on any corpus with a shared register (most docs reuse most
    // words), while a shared shingle is a shared phrase — the actual
    // quote signal
    val t = docs.filter(col("doc_id") < idCap)
      .select(col("doc_id"),
        array_sort(TextFunctions.shingles(col("text"), 3)).as("toks"))
      .withColumn("sz", size(col("toks"))).filter(col("sz") > 0)
    val tok = t.select(col("doc_id"), col("sz"), explode(col("toks")).as("tok"))
    val freq = tok.groupBy("tok").agg(count(lit(1)).as("df"))
    val pref = tok.join(freq, "tok")
      .groupBy("doc_id", "sz")
      .agg(array_sort(collect_list(struct(col("df"), col("tok")))).as("ots"))
      .withColumn("plen", (col("sz") - ceil(lit(tau) * col("sz")) + lit(1)).cast("int"))
      .select(col("doc_id"),
        explode(transform(slice(col("ots"), lit(1), col("plen")),
          x => x.getField("tok"))).as("ptok"))
    val cand = pref.as("a").join(tok.select(col("doc_id"), col("tok")).as("b"),
        col("a.ptok") === col("b.tok") && col("a.doc_id") =!= col("b.doc_id"))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
      .distinct()
    cand
      .join(t.select(col("doc_id").as("id_a"), col("toks").as("ta"),
        col("sz").as("na")), "id_a")
      .join(t.select(col("doc_id").as("id_b"), col("toks").as("tb")), "id_b")
      .withColumn("inter", size(array_intersect(col("ta"), col("tb"))).cast("long"))
      .withColumn("containment",
        round(col("inter").cast("double") / col("na").cast("double"), 6))
      .filter(col("containment") >= tau)
      .select(col("id_a"), col("id_b"), col("inter"), col("containment"))
  }

  /** SemDeDup-style semantic near-dup pairs (Abbas et al.: "SemDeDup:
    * data-efficient learning at web-scale through semantic deduplication",
    * 2023): assign every embedding to its nearest quantizer cell, then
    * search for cosine near-dups WITHIN cells only. Candidate pairs scale
    * as `sum(cell_size^2)` instead of `corpus^2` — with k cells over n
    * docs that is ~`n^2/k`, and k grows with the corpus (SemDeDup runs
    * ~100k clusters at web scale). The accepted trade is recall at cell
    * boundaries: a pair split across cells is never compared — the same
    * contract as the paper, and the gate's oracle replays the SAME
    * exported cells, so the decision is exact per cell.
    *
    * Composition: feed the emitted pairs to [[connectedComponents]] and
    * the `dedup_canonical` min_by keeper for the actual drop step.
    * Assignment reuses [[Similarity.assignCellsRounded]] (rounded-distance
    * argmin, cell-asc tiebreak — the cross-engine-deterministic form).
    */
  def semanticPairs(emb: DataFrame, centers: Array[Array[Double]],
                    tau: Double, idCap: Long): DataFrame = {
    val cells = Similarity.assignCellsRounded(emb, centers, dp = 4)
      .select(col("vec_id"), col("cell"))
    val t = emb.filter(col("vec_id") < idCap)
      .select(col("vec_id"), VectorFunctions.asDouble(col("embedding")).as("v"))
      .join(cells, "vec_id")
    val sim = round(VectorFunctions.cosine(col("a.v"), col("b.v")), 6)
    t.as("a").join(t.as("b"),
        col("a.cell") === col("b.cell") && col("a.vec_id") < col("b.vec_id"))
      .select(col("a.cell").as("cell"), col("a.vec_id").as("id_a"),
              col("b.vec_id").as("id_b"), sim.as("sim"))
      .filter(col("sim").isNotNull && !isnan(col("sim")) && col("sim") >= tau)
  }

  /** Edit-distance near-dup pairs over a `key` string column, blocked by
    * PassJoin-style pigeonhole segments (Li, Deng, Feng: "PASS-JOIN: a
    * partition-based method for similarity joins", PVLDB 5(3), 2011).
    *
    * Blocking lemma: split the BUILD string into `maxDist + 1` contiguous
    * segments; at most `maxDist` edits cannot touch them all, so some
    * segment survives verbatim in any string within distance `maxDist`,
    * shifted by at most the number of edits before it (<= maxDist). The
    * PROBE side therefore emits, for every candidate partner length
    * `lb in [len-D, len+D]` and segment index, the substrings at the
    * segment's position +- D — and the pair meets on the equi-join key
    * `(lb, segment index, segment text)`.
    *
    * Why this survives scale where length-band blocking does not: a corpus
    * of near-uniform key lengths (the common case — fixed-width prefixes,
    * IDs, titles) collapses length bands into ONE bucket, and the band
    * join degenerates to all-pairs in a single task. Segment TEXT is the
    * key here, so candidates form only among keys sharing actual content;
    * the join stays high-cardinality and skew-free, and fan-out is bounded
    * by `(2D+1)^2 * (D+1)` probe keys per row — constants, not corpus
    * size. Verification is the THRESHOLDED `levenshtein(a, b, maxDist)`
    * (early-exit O(D*len) band DP, not the full O(len^2) matrix).
    *
    * Keys shorter than `maxDist + 1` have degenerate (empty) segments;
    * those route through a tiny residual all-pairs among short keys —
    * bounded by the short-key population, which any realistic key choice
    * makes negligible. Emits (id_a, id_b, ed) with id_a < id_b, each pair
    * exactly once.
    */
  def editPairs(docs: DataFrame, key: org.apache.spark.sql.Column,
                maxDist: Int, idCap: Long): DataFrame = {
    require(maxDist >= 0, "maxDist must be non-negative")
    val D = maxDist
    val n = D + 1 // segments per build string
    val t = docs.filter(col("doc_id") < idCap)
      .select(col("doc_id"), key.as("p"))
      .withColumn("len", length(col("p")))

    // ---- segment geometry for a string of length L: even split, first
    // `L mod n` segments one char longer; 0-based start of segment i ----
    def segStart(len: org.apache.spark.sql.Column, i: Int) =
      floor(len / n).cast("int") * i + least(lit(i), pmod(len, lit(n)).cast("int"))
    def segLen(len: org.apache.spark.sql.Column, i: Int) =
      floor(len / n).cast("int") +
        when(lit(i) < pmod(len, lit(n)).cast("int"), 1).otherwise(0)

    // build side: each key's n segments (all non-empty when len >= n)
    val build = t.filter(col("len") >= n)
      .select(col("doc_id").as("id_b"), col("p").as("pb"), col("len").as("lb"),
        explode(array((0 until n).map(i =>
          struct(lit(i).as("i"),
            col("p").substr(segStart(col("len"), i) + 1, segLen(col("len"), i))
              .as("seg"))): _*)).as("s"))
      .select(col("id_b"), col("pb"), col("lb"), col("s.i").as("i"), col("s.seg").as("seg"))

    // probe side: for every partner length lb in [len-D, len+D] (>= n) and
    // segment index, the substrings at the segment's build-side position
    // shifted by -D..D and clipped to the string — static combo set, so
    // the generator is one explode of a compact literal-indexed array
    val combos = for { delta <- -D to D; i <- 0 until n; shift <- -D to D }
      yield (delta, i, shift)
    val probe = t.select(col("doc_id").as("id_a"), col("p").as("pa"), col("len").as("la"),
        explode(filter(array(combos.map { case (delta, i, shift) =>
          val lb = col("len") + delta
          val st = segStart(lb, i) + shift // 0-based start in the probe string
          val sl = segLen(lb, i)
          when(lb >= n && st >= 0 && st + sl <= col("len") && sl >= 1,
            struct(lb.cast("int").as("lb"), lit(i).as("i"),
              col("p").substr(st + 1, sl).as("seg")))
            .otherwise(lit(null))
        }: _*), x => x.isNotNull)).as("s"))
      .select(col("id_a"), col("pa"), col("la"),
        col("s.lb").as("lb"), col("s.i").as("i"), col("s.seg").as("seg"))

    val segCandidates = probe.join(build, Seq("lb", "i", "seg"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), col("pa"), col("pb"))

    // residual: pairs whose BUILD-side (higher-id) key is shorter than n —
    // its segments are degenerate, so block them by length instead: the
    // short key replicates to its 2D+1 admissible partner lengths, and
    // the join stays an equi-join (a raw |la-lb| <= D condition would
    // plan as a nested loop, which the plan tripwire forbids)
    val shortB = t.filter(col("len") < n)
      .select(col("doc_id").as("id_b"), col("p").as("pb"),
        explode(array((-D to D).map(dd => col("len") + dd): _*)).as("la"))
    val nearShortA = t.filter(col("len") < n + D)
      .select(col("doc_id").as("id_a"), col("p").as("pa"), col("len").as("la"))
    val shortCandidates = nearShortA.join(shortB, Seq("la"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), col("pa"), col("pb"))

    segCandidates.union(shortCandidates)
      .distinct() // several segments may witness the same pair
      .withColumn("ed", levenshtein(col("pa"), col("pb"), D).cast("long"))
      .filter(col("ed") >= 0 && col("ed") <= D)
      .select(col("id_a"), col("id_b"), col("ed"))
  }

  // ---- MinHash + LSH ------------------------------------------------------

  /** MinHash signature via the fused one-pass [[graft.functions.MinHashSig]]
    * expression (fixed-seed permutations — signatures must be identical
    * across runs/executors or the band join silently loses recall).
    */
  def minhashSignature(toks: org.apache.spark.sql.Column, numHashes: Int): org.apache.spark.sql.Column =
    SetSimilarity.minhash_sig(toks, numHashes)

  /** MinHash-LSH near-dup pairs: signature -> `bands` band-hashes ->
    * equi-self-join per band -> distinct candidates -> exact-jaccard verify
    * at `tau`. With numHashes=64, bands=16 (r=4) the s-curve keeps recall
    * ~0.99+ at jaccard 0.8. The only join is on (band, bandHash): at 100 TB
    * this shuffles each doc id `bands` times plus the candidate pairs —
    * never the corpus cross-product.
    */
  /** `(doc_id, band, bh)` LSH band hashes — exposed so the correctness gate
    * can export them and have DuckDB re-derive candidate pairs (band
    * equi-join) + exact-jaccard verify independently of the Spark plan.
    */
  def minhashBands(docs: DataFrame, numHashes: Int = 64, bands: Int = 16): DataFrame = {
    require(numHashes % bands == 0)
    withToks(docs).withColumn("sig", minhashSignature(col("toks"), numHashes))
      .select(
        col("doc_id"),
        explode(bandStructs(col("sig"), numHashes, bands)).as("bb"))
      .select(col("doc_id"), col("bb.band").as("band"), col("bb.bh").as("bh"))
  }

  /** LSH candidate pairs via the band self-join, with a HOT-BUCKET guard:
    * a boilerplate-heavy corpus can put B documents into one `(band, bh)`
    * bucket, and a plain self-join then emits all B^2/2 pairs from the
    * single task that owns that key — the classic LSH straggler. Buckets
    * above `hotBucketCap` members are decomposed into `k = ceil(B/cap)`
    * pseudo-random blocks and joined TRIANGULARLY: a member in block `g`
    * replicates to the `k` cells `(g, g..k-1)` and `(0..g-1, g)` of the
    * upper-triangular block grid — the same emission on BOTH join sides —
    * so an unordered pair with blocks `(g1, g2)` meets exactly in cell
    * `(min, max)` (same-block pairs meet in several cells of the shared
    * cross, collapsed by the `distinct`). The candidate SET is
    * bit-identical to the plain join —
    * this redistributes the inherent B^2 work across ~k^2/2 tasks of at
    * most ~cap^2 pairs each instead of avoiding it, so exactness gates
    * hold at any skew. Cold buckets have k=1 and reduce to the plain join
    * (one replica per side). Costs one map-side-combinable count per
    * bucket, reused across both join sides.
    */
  def minhashLsh(docs: DataFrame, tau: Double,
                 numHashes: Int = 64, bands: Int = 16,
                 hotBucketCap: Int = 4096): DataFrame = {
    val t = withToks(docs)
    val banded = minhashBands(docs, numHashes, bands)
    val counts = banded.groupBy("band", "bh").agg(count(lit(1)).as("bc"))
    val blocked = banded.join(counts, Seq("band", "bh"))
      .withColumn("k", ceil(col("bc") / hotBucketCap).cast("int"))
      .withColumn("g", pmod(xxhash64(col("doc_id")), col("k")).cast("int"))
    val cells = blocked.select(col("band"), col("bh"), col("doc_id"),
      explode(concat(
        transform(sequence(col("g"), col("k") - 1),
          j => struct(col("g").as("i"), j.as("j"))),
        // (0..g-1, g): slice off the i == g element rather than build a
        // sequence(0, g-1), which for g = 0 would DESCEND to [0, -1]
        slice(transform(sequence(lit(0), col("g")),
          i => struct(i.as("i"), col("g").as("j"))), lit(1), col("g")))).as("c"))
      .select(col("band"), col("bh"), col("doc_id"),
        col("c.i").as("i"), col("c.j").as("j"))
    val cand = cells.as("x").join(cells.as("y"),
        col("x.band") === col("y.band") && col("x.bh") === col("y.bh") &&
        col("x.i") === col("y.i") && col("x.j") === col("y.j") &&
        col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("ida"), col("y.doc_id").as("idb"))
      .distinct()
    val withSets = cand
      .join(t.select(col("doc_id").as("ida"), col("toks").as("atoks")), "ida")
      .join(t.select(col("doc_id").as("idb"), col("toks").as("btoks")), "idb")
    withSets
      .withColumn("jac", SetSimilarity.jaccard_sorted(col("atoks"), col("btoks")))
      .filter(col("jac") >= tau)
      .select(col("ida").as("id_a"), col("idb").as("id_b"), round(col("jac"), 6).as("jaccard"))
  }

  /** Incremental NEAR-dup: the near-dup screen of a rolling crawl ingest —
    * which NEW documents (not `isHistory`) collide with the HISTORY corpus
    * at jaccard >= `tau`. Candidates come from the same MinHash band
    * equi-join as [[minhashLsh]], but BIPARTITE across the split (new
    * probe side vs history build side — never history x history or
    * new x new, which a full self-join would also pay for); verification
    * is exact jaccard. Emits `(doc_id, hist_id, jaccard)`.
    *
    * Scale: at 100 TB the history bands are a precomputed table appended
    * once per ingest; the per-batch cost is the new batch's signatures
    * plus one equi-join against that table. The hot-bucket hazard gets
    * the bipartite form of [[minhashLsh]]'s guard: history members of a
    * bucket with more than `hotBucketCap` HISTORY rows split into
    * `k = ceil(B_hist/cap)` pseudo-random blocks and each new row
    * replicates to all k, bounding any task to ~(new-in-bucket * cap)
    * pairs. Joining new rows against the per-bucket history count first
    * also prunes new rows whose bucket holds no history at all — the
    * common case — before any fan-out. Candidate set is exactly the
    * bipartite band-collision set regardless of the cap.
    */
  def minhashLshIncremental(docs: DataFrame, isHistory: org.apache.spark.sql.Column,
                            tau: Double, numHashes: Int = 64, bands: Int = 16,
                            hotBucketCap: Int = 4096): DataFrame = {
    val t = withToks(docs)
    val flagged = minhashBands(docs, numHashes, bands)
      .join(docs.select(col("doc_id"), isHistory.as("__hist")), "doc_id")
    val hist  = flagged.filter(col("__hist"))
    val fresh = flagged.filter(!col("__hist"))
    val histCounts = hist.groupBy("band", "bh").agg(count(lit(1)).as("bc"))
    val histK = hist.join(histCounts, Seq("band", "bh"))
      .withColumn("g", pmod(xxhash64(col("doc_id")),
        ceil(col("bc") / hotBucketCap).cast("int")).cast("int"))
      .select(col("band"), col("bh"), col("g"), col("doc_id").as("hist_id"))
    val freshK = fresh.join(histCounts, Seq("band", "bh"))
      .select(col("band"), col("bh"), col("doc_id"),
        explode(sequence(lit(0), ceil(col("bc") / hotBucketCap).cast("int") - 1)).as("g"))
    val cand = freshK.join(histK, Seq("band", "bh", "g"))
      .select(col("doc_id"), col("hist_id"))
      .distinct()
    cand
      .join(t.select(col("doc_id"), col("toks").as("ntoks")), "doc_id")
      .join(t.select(col("doc_id").as("hist_id"), col("toks").as("htoks")), "hist_id")
      .withColumn("jac", SetSimilarity.jaccard_sorted(col("ntoks"), col("htoks")))
      .filter(col("jac") >= tau)
      .select(col("doc_id"), col("hist_id"), round(col("jac"), 6).as("jaccard"))
  }

  /** Incremental dedup: documents in `docs` NOT matching `isHistory` whose
    * canonical fingerprint never occurs among the history documents — the
    * shape of every rolling crawl ingest ("drop what we already have").
    *
    * One anti-join on the 16-byte fingerprint. At 100 TB both sides are
    * large, so the join shuffles on the fingerprint hash; Spark's runtime
    * bloom-filter join injection (`spark.sql.optimizer.runtime.bloomFilter`)
    * then prunes definite-new rows before the exchange. The final answer is
    * EXACT either way — bloom only pre-filters, the anti-join verifies.
    */
  def incremental(docs: DataFrame, isHistory: org.apache.spark.sql.Column): DataFrame = {
    // anti-join key = (md5 fingerprint, canonical-form length): the md5
    // alone is already 128-bit, but a dropped-because-"seen" doc is
    // silently LOST training data, so the identity convention (textKey)
    // applies — the length component costs 8 bytes and makes a false
    // match require a simultaneous md5 + exact-length collision
    val fp = docs
      .withColumn("fp", TextFunctions.fingerprint(col("text")))
      .withColumn("__len", length(TextFunctions.canonical(col("text"))))
      .withColumn("__hist", isHistory)
    val history = fp.filter(col("__hist")).select(col("fp"), col("__len"))
    fp.filter(!col("__hist")).drop("__hist")
      .join(history, Seq("fp", "__len"), "left_anti")
      .drop("__len")
  }

  // ---- SimHash ------------------------------------------------------------

  /** SimHash near-dup pairs at Hamming distance <= `maxDist` (<= 3 here by
    * pigeonhole: 4 16-bit chunks, close pairs share at least one chunk).
    * Candidate generation is an equi-join on (chunk index, chunk value);
    * verification is `bit_count(xor) <= maxDist`.
    */
  /** `(doc_id, sh)` 64-bit SimHash sketches — exposed so the correctness
    * gate can export them and have DuckDB re-derive the near-dup pairs by
    * brute `bit_count(xor)` over identical sketches.
    */
  def simhashSketches(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      SimHash64.simhash64(TextFunctions.distinctTokens(col("text"))).as("sh"))

  def simhashNearDup(docs: DataFrame, maxDist: Int = 3): DataFrame =
    hammingNearDup(simhashSketches(docs), maxDist)

  /** Hamming near-dup pairs over ANY `(doc_id, sh)` 64-bit sketch table —
    * text SimHash and image thumbnail sketches feed the same plan. The
    * pigeonhole chunk join (maxDist <= 3 edits cannot touch all four
    * 16-bit chunks, so some chunk matches verbatim) turns the sketch-pair
    * scan into an equi-join on `(chunk index, chunk value)`; verification
    * is one `bit_count(xor)` per candidate.
    *
    * HOT-BUCKET guard (the [[minhashLsh]] decomposition): unlike LSH band
    * hashes, chunk values have only 4 x 65,536 possible keys, so at
    * corpus scale EVERY bucket holds ~n/65,536 members by pigeonhole
    * alone — hot buckets are guaranteed, not a data smell. Buckets above
    * `hotBucketCap` split into `k = ceil(B/cap)` pseudo-random blocks
    * joined triangularly (a member in block `g` replicates to the cells
    * `(g, g..k-1)` and `(0..g-1, g)` of the upper-triangular block grid on
    * both sides), so an unordered pair always shares at least one cell and
    * the `distinct` collapses repeats: the candidate — and output — pair
    * set is bit-identical to the plain join at any cap, with no task
    * owning more than ~cap² of a bucket's pairs. Cold buckets have k = 1
    * and reduce to the plain join exactly.
    */
  def hammingNearDup(sketches: DataFrame, maxDist: Int,
                     hotBucketCap: Int = 4096): DataFrame = {
    require(maxDist <= 3, s"4-chunk pigeonhole is only complete for maxDist <= 3, got $maxDist")
    val chunked = sketches.select(col("doc_id"), col("sh"),
      explode(array((0 until 4).map { i =>
        struct(lit(i).as("ci"), (shiftrightunsigned(col("sh"), i * 16) bitwiseAND lit(0xffffL)).as("cv"))
      }: _*)).as("ch"))
      .select(col("doc_id"), col("sh"), col("ch.ci").as("ci"), col("ch.cv").as("cv"))
    val counts = chunked.groupBy("ci", "cv").agg(count(lit(1)).as("bc"))
    val cells = chunked.join(counts, Seq("ci", "cv"))
      .withColumn("k", ceil(col("bc") / hotBucketCap).cast("int"))
      .withColumn("g", pmod(xxhash64(col("doc_id")), col("k")).cast("int"))
      .select(col("doc_id"), col("sh"), col("ci"), col("cv"),
        explode(concat(
          transform(sequence(col("g"), col("k") - 1),
            j => struct(col("g").as("i"), j.as("j"))),
          // (0..g-1, g) via slice — sequence(0, g-1) would DESCEND for g=0
          slice(transform(sequence(lit(0), col("g")),
            i => struct(i.as("i"), col("g").as("j"))), lit(1), col("g")))).as("c"))
      .select(col("doc_id"), col("sh"), col("ci"), col("cv"),
        col("c.i").as("bi"), col("c.j").as("bj"))
    cells.as("x").join(cells.as("y"),
        col("x.ci") === col("y.ci") && col("x.cv") === col("y.cv") &&
        col("x.bi") === col("y.bi") && col("x.bj") === col("y.bj") &&
        col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("id_a"), col("y.doc_id").as("id_b"),
              bit_count(col("x.sh").bitwiseXOR(col("y.sh"))).cast("long").as("hamming"))
      // verify BEFORE the dedup shuffle: hamming is a pure function of the
      // pair, so filter-then-distinct equals distinct-then-filter — but the
      // filter runs inside the join's codegen stage and drops ~all of the
      // B² candidate mass before any row is exchanged
      .filter(col("hamming") <= maxDist)
      .distinct()
  }

  /** Exact-blocking-key candidate pairs — the generate step of every
    * block-then-verify entity-resolution join (blocking survey: Papadakis
    * et al., VLDB J 2020). Each unordered pair of rows sharing `blkCol`
    * comes out exactly once as `(id_a, id_b, <c>_a, <c>_b)` for each carry
    * column `c` (the payloads the verifier — edit distance, Jaro-Winkler,
    * a model score — needs).
    *
    * Hot blocks get the [[minhashLsh]] triangular cell decomposition:
    * blocks above `hotBlockCap` split into `k = ceil(B/cap)` pseudo-random
    * member blocks joined on upper-triangular cells, so no task owns more
    * than ~cap² of a block's pairs and the pair set is bit-identical to
    * the plain self-join at any cap. Cross-member-block pairs meet only in
    * the cell `(min(gx,gy), max(gx,gy))`; SAME-member-block pairs would
    * meet in every cell their shared `g` touches, so those are restricted
    * to the diagonal cell `(g, g)` by the join predicate — making each
    * pair appear EXACTLY once with no distinct pass (unlike the banded
    * [[minhashLsh]]/[[hammingNearDup]] joins, which need the distinct
    * anyway to collapse multi-band collisions). Spec-pinned multiset-
    * identical to the unguarded join.
    */
  def blockedPairs(rows: DataFrame, idCol: String, blkCol: String,
                   carry: Seq[String] = Nil, hotBlockCap: Int = 4096): DataFrame = {
    // internals are __bp_-prefixed so a caller's id/block/carry column can
    // never be silently overwritten; assert disjointness anyway
    val reserved = Set("__bp_bc", "__bp_k", "__bp_g", "__bp_bi", "__bp_bj", "__bp_c")
    require((idCol +: blkCol +: carry).forall(!reserved.contains(_)),
      s"blockedPairs reserves the __bp_* column names; rename the input column")
    val base = rows.select((idCol +: blkCol +: carry).map(col): _*)
    val counts = base.groupBy(blkCol).agg(count(lit(1)).as("__bp_bc"))
    val cells = base.join(counts, Seq(blkCol))
      .withColumn("__bp_k", ceil(col("__bp_bc") / hotBlockCap).cast("int"))
      .withColumn("__bp_g", pmod(xxhash64(col(idCol)), col("__bp_k")).cast("int"))
      .select(col(blkCol) +: col(idCol) +: col("__bp_g") +: carry.map(col) :+
        explode(concat(
          transform(sequence(col("__bp_g"), col("__bp_k") - 1),
            j => struct(col("__bp_g").as("i"), j.as("j"))),
          // (0..g-1, g) via slice — sequence(0, g-1) would DESCEND for g=0
          slice(transform(sequence(lit(0), col("__bp_g")),
            i => struct(i.as("i"), col("__bp_g").as("j"))), lit(1), col("__bp_g")))).as("__bp_c"): _*)
      .select(col(blkCol) +: col(idCol) +: col("__bp_g") +: col("__bp_c.i").as("__bp_bi") +:
        col("__bp_c.j").as("__bp_bj") +: carry.map(col): _*)
      // EXPLICIT join-key repartition (the wedges/coOccurrenceEdges pin):
      // the cell table is small relative to its B²-expanding self-join
      // output, so in the shuffle regime AQE coalesces cells onto few
      // reducers exactly where the expansion needs spread. Under a
      // broadcast conversion the pin is harmless (probe parallelism = p).
      .repartition(rows.sparkSession.sparkContext.defaultParallelism,
        col(blkCol), col("__bp_bi"), col("__bp_bj"))
    cells.as("x").join(cells.as("y"),
        col(s"x.$blkCol") === col(s"y.$blkCol") &&
        col("x.__bp_bi") === col("y.__bp_bi") && col("x.__bp_bj") === col("y.__bp_bj") &&
        // same-member-block pairs share every cell their g touches —
        // count them only in the diagonal cell (g, g)
        (col("x.__bp_g") =!= col("y.__bp_g") ||
          (col("x.__bp_bi") === col("x.__bp_g") && col("x.__bp_bj") === col("x.__bp_g"))) &&
        col(s"x.$idCol") < col(s"y.$idCol"))
      .select(col(s"x.$idCol").as("id_a") +: col(s"y.$idCol").as("id_b") +:
        carry.flatMap(c => Seq(col(s"x.$c").as(s"${c}_a"), col(s"y.$c").as(s"${c}_b"))): _*)
  }

  // ---- Duplicate clustering -----------------------------------------------

  /** Connected components over a near-dup pair list `(id_a, id_b)`: every
    * document gets the MINIMUM doc id reachable through dup edges as its
    * `component` — the canonical-document assignment that turns pairwise
    * dedup output into keep/drop decisions.
    *
    * Spark-first: iterative min-label propagation — each round pulls
    * labels across edges and keeps the per-node minimum, converging in
    * O(diameter) rounds. Dup-pair graphs are near-cliques (diameter a few
    * hops), so rounds stay in the single digits; each is one equi-join +
    * one aggregation shuffling on node id — bounded exchanges at any
    * scale, no adjacency beyond the edge list. Throws rather than
    * returning partial labels if `maxRounds` is ever insufficient (a
    * >50-hop chain of pairwise near-dups is a data smell, not a normal
    * input). The smell check applies to the DISTRIBUTED path only: the
    * driver-side union-find below is exact at any diameter, so under the
    * local edge limit a long chain simply succeeds (OptR13Spec pins this).
    */
  def connectedComponents(pairs: DataFrame, maxRounds: Int = 50): DataFrame = {
    // cache the edge list: its lineage may be an expensive pair join
    // (jaccard/LSH) that must run ONCE, not once per propagation round
    val edges = pairs.select(col("id_a").as("u"), col("id_b").as("v"))
      .unionByName(pairs.select(col("id_b").as("u"), col("id_a").as("v")))
      .cache()
    // Driver-side union-find fast path (r13 optimization): when the DUP
    // EDGE list is metadata-scale — it is |near-dup pairs|, usually a tiny
    // fraction of the corpus even at 100 TB — a bounded collect plus local
    // union-find replaces O(diameter) join+aggregate rounds (each a full
    // AQE stage chain + a convergence collect). Semantics identical:
    // component = min reachable id (union roots keep the minimum;
    // PropertySpec's random-graph model and DedupSpec pin equality).
    // Past the limit the iterative path below is unchanged — that is the
    // billion-duplicate regime where labels must stay distributed.
    // Default dropped 2M -> 500k in r14 (r13 verdict item 5): with Row
    // overhead the 2M-pair collect could reach several hundred MB of
    // driver heap; 500k pairs of primitive (Long, Long) tuples is ~16 MB.
    val localEdgeLimit = pairs.sparkSession.conf
      .get("spark.graft.ccLocalEdgeLimit", "500000").toLong
    val longIds =
      pairs.schema("id_a").dataType == org.apache.spark.sql.types.LongType &&
      pairs.schema("id_b").dataType == org.apache.spark.sql.types.LongType
    // one cached-edge pass decides BOTH the size gate and null presence:
    // null endpoints (or non-long ids) stay on the iterative path, whose
    // join/groupBy null semantics the fast path must not have to mimic
    val edgeStats = edges.agg(count(lit(1)),
      count(when(col("u").isNull || col("v").isNull, 1))).head()
    if (longIds && edgeStats.getLong(1) == 0 &&
        edgeStats.getLong(0) <= 2 * localEdgeLimit) {
      // u <= v, not u < v (r14, ADVICE fix): a degenerate self-pair
      // (id_a == id_b) must still register its node — with u < v it
      // vanished entirely and the node got no component row, while the
      // iterative path labels it with itself. The symmetric list holds
      // each undirected edge in both orders, so u <= v keeps exactly one
      // per edge plus every self-loop; primitive tuple encoder keeps the
      // collect unboxed.
      val sess = pairs.sparkSession
      import sess.implicits._
      val es = edges.filter(col("u") <= col("v"))
        .as[(Long, Long)].collect()
      val parent = new java.util.HashMap[Long, Long]()
      def find(x0: Long): Long = {
        var x = x0
        var p = parent.getOrDefault(x, x)
        while (p != x) { // path-halve
          val gp = parent.getOrDefault(p, p)
          parent.put(x, gp); x = gp; p = parent.getOrDefault(x, x)
        }
        x
      }
      es.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) { // min-id root: the final label IS the min id
          if (ra < rb) parent.put(rb, ra) else parent.put(ra, rb)
        }
        parent.putIfAbsent(a, find(a)); parent.putIfAbsent(b, find(b))
      }
      val nodes = new java.util.HashSet[Long]()
      es.foreach { case (a, b) => nodes.add(a); nodes.add(b) }
      val rows = new scala.collection.mutable.ArrayBuffer[(Long, Long)](nodes.size)
      nodes.forEach(n => rows += ((n, find(n))))
      edges.unpersist()
      return rows.toSeq.toDF("doc_id", "component")
    }
    // seed with the FIRST propagation already applied: component =
    // min(self, neighbors) in one aggregate over the (symmetric) edge list
    // — the identity seeding spent a whole join+groupBy round computing
    // exactly this
    var labels = edges.groupBy(col("u"))
      .agg(least(min(col("v")), col("u")).as("component"))
      .withColumnRenamed("u", "doc_id")
      .cache() // seed feeds the count below AND round 1 — compute it once
    // One row per graph node, constant across rounds: count it once (this
    // also serves as the emptiness check) and only ride the label set
    // broadcast when it actually fits an executor — on a heavily duplicated
    // corpus (labels in the tens of millions) an unconditional broadcast
    // hint would OOM where a shuffle join degrades gracefully.
    val nodeCount = labels.count()
    if (nodeCount == 0) { edges.unpersist(); return labels }
    val broadcastLabels = nodeCount <= 2_000_000L
    var round = 0
    var prevSum = Long.MaxValue
    var converged = false
    while (round < maxRounds && !converged) {
      // neighbor's current label, pulled across each edge; when the label
      // set (one row per graph node — near-dup graphs are usually a tiny
      // fraction of the corpus) rides broadcast, each round costs ONE
      // shuffle (the groupBy below), not a join exchange plus a groupBy
      // exchange; past the threshold it falls back to the plain join
      val lbl = labels.withColumnRenamed("doc_id", "v2")
      val viaEdge = edges
        .join(if (broadcastLabels) broadcast(lbl) else lbl, col("v") === col("v2"))
        .select(col("u").as("doc_id"), col("component"))
      // cache per round (released next round); every 8th round a
      // localCheckpoint severs the lineage, whose logical plan otherwise
      // DOUBLES per round (labels appears twice in the union) and
      // overflows the planner's stack past ~15 rounds. The checkpoint
      // blocks themselves are reclaimed by the ContextCleaner — at most
      // maxRounds/8 small label-set generations are ever retained.
      val hop = labels.unionByName(viaEdge)
        .groupBy("doc_id").agg(min("component").as("component"))
      val next = (if (round % 8 == 7) hop.localCheckpoint(true) else hop.cache())
      // min-propagation only ever lowers labels, so the label sum strictly
      // decreases until the fixpoint — one cheap aggregate detects
      // convergence, no per-round join
      val sum = next.agg(org.apache.spark.sql.functions.sum("component")).head().getLong(0)
      labels.unpersist()
      labels = next
      converged = sum == prevSum
      prevSum = sum
      round += 1
    }
    org.slf4j.LoggerFactory.getLogger(getClass)
      .debug(s"connectedComponents converged after $round rounds")
    if (!converged)
      throw new IllegalStateException(
        s"connectedComponents did not converge in $maxRounds rounds " +
        "(graph diameter exceeds it?) — raise maxRounds")
    edges.unpersist()
    labels
  }

  /** Cosine near-dup pairs over embeddings: pairs with round(cos, 6) >=
    * `tau` among vec_id < `idCap`. Thresholding on the ROUNDED value keeps
    * the oracle decision boundary engine-independent. Brute force
    * (broadcast-nested-loop) — `idCap` pins the quadratic cost in CODE,
    * like [[jaccardPairs]], so the oracle stays bounded no matter how the
    * fixture grows; the scale path is [[Similarity.lshCosinePairs]].
    */
  def cosinePairs(emb: DataFrame, tau: Double, idCap: Long): DataFrame = {
    val e = emb.filter(col("vec_id") < idCap)
      .select(col("vec_id"), VectorFunctions.asDouble(col("embedding")).as("v"))
    val sim = round(VectorFunctions.cosine(col("a.v"), col("b.v")), 6)
    e.as("a").join(e.as("b"), col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("id_a"), col("b.vec_id").as("id_b"), sim.as("sim"))
      .filter(col("sim") >= tau)
  }
}
