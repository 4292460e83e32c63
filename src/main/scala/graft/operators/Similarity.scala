package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions

/** Approximate-nearest-neighbor search over an embedding column.
  *
  * Baseline: brute-force cosine top-k with the (small) query set broadcast —
  * one pass over the corpus, no corpus shuffle, which is exactly the plan
  * you want at 100 TB when the query side fits in memory. Scale path for
  * large query sets: sign-LSH bucketing turns the cross join into an
  * equi-join on bucket id.
  */
object Similarity {

  private def prep(emb: DataFrame): DataFrame =
    emb.select(col("vec_id"), VectorFunctions.asDouble(col("embedding")).as("v"))

  /** [[prep]] for gate bodies that derive vector transforms (whitening)
    * outside this object. */
  private[graft] def prepPublic(emb: DataFrame): DataFrame = prep(emb)

  /** Per-query top-k over scored candidates `(query_id, neighbor_id, sim)`
    * via the bounded-heap [[graft.functions.TopKRows]] aggregate. A
    * `Window.partitionBy(query_id)` sorts EVERY candidate of a query
    * through one task — at scale an IVF query's candidate set is
    * `nProbe/nCells` of the corpus, so that task sorts millions of rows to
    * keep k. The aggregate instead reduces each map partition to k rows
    * per query BEFORE the shuffle (the same argument as the TS `last/n`
    * path, SURVEY R1-R3). Ordering: `sim` is 6dp-rounded, so `sim * 1e6`
    * is integer-valued and rides as an exact long key; ties break on the
    * SMALLEST neighbor id via the negated id inside the descending heap —
    * bit-identical to `(sim desc, neighbor_id asc)` for FINITE
    * similarities (RewriteParitySpec). NaN/null sims — zero-norm or null
    * embeddings, where cosine is undefined — are dropped explicitly: the
    * long key cannot carry them, and the window form's NaN-first ranking
    * was a sort artifact, not a meaningful "nearest neighbor".
    */
  private def topKPerQuery(scored: DataFrame, k: Int): DataFrame = {
    import graft.functions.TopKRows.topk_rows
    scored
      .filter(col("sim").isNotNull && !isnan(col("sim")))
      .select(col("query_id"),
        struct(round(col("sim") * 1e6, 0).cast("long").as("sk"),
          negate(col("neighbor_id")).cast("long").as("nn"),
          col("neighbor_id"), col("sim")).as("row"))
      .groupBy("query_id")
      .agg(topk_rows(col("row"), k, descending = true).as("top"))
      .select(col("query_id"), explode(col("top")).as("r"))
      .select(col("query_id"), col("r.neighbor_id").as("neighbor_id"),
        col("r.sim").as("sim"))
  }

  /** Brute-force cosine top-k: queries = `vec_id < nQueries`, neighbors =
    * every other vector. Ranking uses the rounded similarity plus a
    * neighbor-id tiebreak so the order is reproducible across engines.
    * One corpus scan with the query set broadcast, ranked by the
    * bounded-heap aggregate — map-side heaps make this the exact plan
    * brute-force ANN wants at 100 TB: no corpus shuffle, no per-query
    * sort, `partitions * k` rows per query reaching the reduce side.
    */
  def bruteForceTopK(emb: DataFrame, nQueries: Int, k: Int): DataFrame = {
    val e = prep(emb)
    val q = e.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("v").as("qv"))
    val sim = round(VectorFunctions.cosine(col("qv"), col("v")), 6)
    topKPerQuery(e.join(broadcast(q), col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"), sim.as("sim")), k)
  }

  /** Hard-negative mining: for each query vector, the top-k most-similar
    * vectors with a DIFFERENT label — the contrastive-training pairs that
    * teach a model the decision boundary (the random-negative baseline
    * learns nothing from easy negatives). Same plan as [[bruteForceTopK]]:
    * queries broadcast, ONE corpus scan, bounded-heap top-k per query —
    * no corpus shuffle at any scale. The label predicate rides the join,
    * so same-label vectors never even score.
    */
  def hardNegatives(emb: DataFrame, nQueries: Int, k: Int): DataFrame = {
    val e = emb.select(col("vec_id"),
      VectorFunctions.asDouble(col("embedding")).as("v"), col("label"))
    val q = e.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("v").as("qv"),
        col("label").as("qlabel"))
    val sim = round(VectorFunctions.cosine(col("qv"), col("v")), 6)
    topKPerQuery(e.join(broadcast(q), col("label") =!= col("qlabel"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"), sim.as("sim")), k)
  }

  /** Fixed-seed random hyperplanes for sign-LSH (deterministic sketches). */
  def planes(nPlanes: Int, dim: Int, seed: Long = 7L): Seq[Seq[Double]] = {
    val rnd = new scala.util.Random(seed)
    Seq.fill(nPlanes)(Seq.fill(dim)(rnd.nextGaussian()))
  }

  /** Actual embedding dimensionality, read from one row — a plane set
    * narrower than the vectors would silently sketch only a prefix of each
    * vector (`zip_with` truncates to the shorter array) and recall would
    * degrade with no error.
    */
  def embeddingDim(emb: DataFrame): Int =
    // empty corpus -> any dim works (every downstream result is empty);
    // 1 keeps plane construction trivial instead of throwing on head
    emb.select(size(col("embedding")).as("d")).head(1)
      .headOption.map(_.getInt(0)).getOrElse(1)

  /** `(vec_id, v, bucket)` sign-sketch assignment. Plane dimensionality is
    * derived from the data unless pinned explicitly.
    */
  def signBuckets(emb: DataFrame, nPlanes: Int = 8, dim: Option[Int] = None,
                  seed: Long = 7L): DataFrame = {
    val d = dim.getOrElse(embeddingDim(emb))
    prep(emb).withColumn("bucket",
      VectorFunctions.lshBucket(col("v"), planes(nPlanes, d, seed)))
  }

  /** LSH-bucketed cosine candidate pairs: vectors sharing a sign-sketch
    * bucket are compared exactly; others never meet. `nPlanes` trades
    * recall (fewer planes = bigger buckets) against join fan-out. This is
    * the 100 TB path for all-pairs near-dup: shuffle keys are bucket ids.
    */
  def lshCosinePairs(emb: DataFrame, tau: Double, nPlanes: Int = 8,
                     dim: Option[Int] = None): DataFrame = {
    val e = signBuckets(emb, nPlanes, dim)
    val sim = round(VectorFunctions.cosine(col("a.v"), col("b.v")), 6)
    e.as("a").join(e.as("b"),
        col("a.bucket") === col("b.bucket") && col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("id_a"), col("b.vec_id").as("id_b"), sim.as("sim"))
      .filter(col("sim") >= tau)
  }

  /** IVF top-k: a seeded KMeans coarse quantizer cells the corpus once;
    * each query probes its `nProbe` nearest cells and runs exact cosine
    * only there. At 100 TB: the corpus is written bucketed by `cell`, so a
    * query touches `nProbe/nCells` of the data and the probe join is an
    * equi-join on cell id — the standard IVF-flat trade of recall for scan
    * fraction (the LSH variant above is the hash-based alternative).
    */
  def ivfTopK(emb: DataFrame, nQueries: Int, k: Int,
              nCells: Int = 16, nProbe: Int = 4): DataFrame = {
    val (celled, probes) = ivfParts(emb, nQueries, nCells, nProbe)
    val sim = round(VectorFunctions.cosine(col("qv"), col("v")), 6)
    topKPerQuery(celled.join(broadcast(probes),
        celled("cell") === probes("cell") && col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"), sim.as("sim")), k)
  }

  /** The two IVF inputs — cell assignment `(vec_id, v, cell)` and probe
    * list `(query_id, qv, cell)` — exposed so the correctness gate can
    * export them and have DuckDB re-derive the top-k independently. The
    * seeded KMeans is deterministic for a fixed input and partitioning, so
    * two fits in one session yield identical cells.
    */
  def ivfParts(emb: DataFrame, nQueries: Int,
               nCells: Int = 16, nProbe: Int = 4): (DataFrame, DataFrame) = {
    val (celled, centers) = fitCells(emb, nCells)
    val q = celled.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("v").as("qv"))
    (celled, probeList(q, centers, nProbe))
  }

  /** Seeded-KMeans coarse quantizer: `(vec_id, v, cell)` assignment plus
    * the `(cell, center)` table.
    *
    * Fit is SAMPLE-based and LOCAL: a deterministic hash-sample (bounded at
    * `max(10k, 256*nCells)` vectors) collects to the driver and a seeded
    * Lloyd's/kmeans++ runs there — the standard IVF recipe (a coarse
    * quantizer never trains on the full corpus; FAISS trains on a similar
    * bound). Assignment is then ONE distributed columnar pass: argmin over
    * the literal center table via `transform` + `array_min`, entirely
    * inside codegen — no per-iteration Spark jobs, no MLlib, and (unlike a
    * distributed fit) the result is independent of the corpus partitioning.
    * Ties in the argmin break to the lowest cell id, the same rule as the
    * local fit, so export and assignment agree everywhere.
    */
  def fitCells(emb: DataFrame, nCells: Int): (DataFrame, DataFrame) = {
    val centers = fitCenters(emb, nCells)
    // empty corpus -> no centers; keep the schemas and return empty frames
    // (every downstream result is empty), matching embeddingDim's tolerance
    if (centers.isEmpty) {
      val celled = prep(emb)
        .select(col("vec_id"), col("v"), lit(null).cast("int").as("cell"))
      val centersDf = emb.sparkSession
        .createDataFrame(Seq.empty[(Int, Seq[Double])]).toDF("cell", "center")
      return (celled, centersDf)
    }
    (assignFromCenters(emb, centers), centersDf(emb, centers))
  }

  /** Cell assignment against an explicit center array — the ONE
    * distributed columnar argmin pass [[fitCells]] documents, factored out
    * so the index-append path can assign against STORED centers.
    */
  private def assignFromCenters(emb: DataFrame,
                                centers: Array[Array[Double]]): DataFrame =
    prep(emb).withColumn("cell",
      array_min(transform(centerLit(centers), c =>
        struct(VectorFunctions.l2sq(col("v"), c.getField("center")).as("d"),
               c.getField("cell").as("cell")))).getField("cell"))
      .select(col("vec_id"), col("v"), col("cell"))

  private def centersDf(emb: DataFrame, centers: Array[Array[Double]]): DataFrame =
    emb.sparkSession.createDataFrame(
      centers.zipWithIndex.toSeq.map { case (c, i) => (i, c.toSeq) }
    ).toDF("cell", "center")

  // The fit is fully deterministic (hash-sample + seeded Lloyd's), so one
  // driver-side memo per (logical plan, nCells) avoids re-running the
  // count+collect+fit jobs when a gate, its oracle export, and a plan
  // audit all ask for the same centers in one session.
  //
  // STATIC-DATA ASSUMPTION: the key is a structural hash of the analyzed
  // plan, NOT of the data — if the files behind the same path are
  // regenerated within one JVM, the memo returns centers fit on the OLD
  // corpus. Callers that rewrite their input (soaks, notebooks) must call
  // [[clearCenterMemo]] or [[fitCentersUncached]]. The memo is bounded: it
  // resets once it exceeds 64 plans, so a long-lived session cannot leak.
  private val centerMemo =
    scala.collection.concurrent.TrieMap.empty[(Int, Int), Array[Array[Double]]]

  /** Test/soak hook: drop every memoized fit (e.g. after rewriting the
    * files behind a previously-fit path, or to measure a cold fit).
    */
  private[graft] def clearCenterMemo(): Unit = centerMemo.clear()

  /** Johnson-Lindenstrauss random sign projection matrix: `k` rows of
    * `dim` entries in `{+1/sqrt(k), -1/sqrt(k)}` (Achlioptas: "Database-
    * friendly random projections", PODS 2001 — the sign distribution
    * satisfies the JL lemma with the same distortion bound as Gaussian
    * entries and needs no float generation). Deterministic in `seed`, so
    * the gate and its oracle export the identical matrix.
    */
  def jlMatrix(dim: Int, k: Int, seed: Long = 42L): Array[Array[Double]] = {
    val rnd = new scala.util.Random(seed)
    val s = 1.0 / math.sqrt(k)
    Array.fill(k, dim)(if (rnd.nextBoolean()) s else -s)
  }

  /** Project embeddings through a JL matrix: `(vec_id, j, p)` — coordinate
    * `j` of the projected vector, rounded for cross-engine compare.
    *
    * Scale design: this is the map-only dimensionality cut that runs
    * BEFORE clustering/ANN at 100 TB — the matrix is `k*dim` doubles
    * folded into the plan as literals (no join, no broadcast variable, no
    * shuffle), each row costs `k` fused dot products inside whole-stage
    * codegen, and downstream distance work shrinks by `dim/k`. The fold
    * order matches DuckDB's `list_dot_product`, so values agree at the
    * rounding precision.
    */
  def jlProject(emb: DataFrame, mat: Array[Array[Double]], dp: Int = 6): DataFrame = {
    val rows = array(mat.map(r => array(r.map(lit).toSeq: _*)).toSeq: _*)
    prep(emb)
      .select(col("vec_id"), posexplode(transform(rows,
        r => round(VectorFunctions.dot(col("v"), r), dp))))
      .toDF("vec_id", "j", "p")
  }

  /** The quantizer centers themselves, as driver-side values — exposed so a
    * correctness gate can export them and have DuckDB recompute the
    * assignment independently.
    */
  def fitCenters(emb: DataFrame, nCells: Int): Array[Array[Double]] = {
    if (centerMemo.size > 64) centerMemo.clear()
    centerMemo.getOrElseUpdate(
      (emb.queryExecution.analyzed.semanticHash(), nCells),
      fitCentersUncached(emb, nCells))
  }

  private[graft] def fitCentersUncached(emb: DataFrame, nCells: Int): Array[Array[Double]] = {
    val e = prep(emb)
    val maxSample = math.max(10000, 256 * nCells)
    val n = e.count()
    // empty corpus -> no centers (callers degrade to empty results rather
    // than evaluating a dimensionality-less placeholder against nothing)
    if (n == 0L) return Array.empty
    // expected sample size ~ maxSample; Murmur3 hash of vec_id is
    // partition-independent, so the sample is stable across runs/layouts
    val mod = math.max(1L, n / maxSample)
    val sampled = if (mod == 1L) e
                  else e.filter(pmod(hash(col("vec_id")), lit(mod)) === 0)
    def collect(df: DataFrame) = df.select("vec_id", "v").collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
      .sortBy(_._1).map(_._2)
    val pts0 = collect(sampled)
    // the hash filter can select zero rows on a tiny non-empty corpus; fall
    // back to an unfiltered bounded sample so the centers always carry the
    // corpus dimensionality (a placeholder center would poison the zip_with
    // distance downstream with nulls)
    val pts = if (pts0.nonEmpty || mod == 1L) pts0
              else collect(e.limit(maxSample.toInt))
    require(pts.nonEmpty, "fitCenters: cannot fit a quantizer on an empty corpus")
    localKMeans(pts, nCells, maxIter = 10, seed = 42L)
  }

  private def centerLit(centers: Array[Array[Double]]): Column =
    array(centers.zipWithIndex.map { case (c, i) =>
      struct(lit(i).as("cell"), array(c.map(lit).toSeq: _*).as("center"))
    }.toSeq: _*)

  /** Cell assignment with the distance ROUNDED (to `dp` places) before the
    * argmin, ties to the lowest cell id — the engine-independent decision
    * rule the `cluster_assign` gate shares with its DuckDB oracle (an
    * unrounded argmin could flip on last-ulp float differences between
    * engines' summation orders). Returns `(vec_id, d, cell)`.
    */
  def assignCellsRounded(emb: DataFrame, centers: Array[Array[Double]],
                         dp: Int): DataFrame = {
    if (centers.isEmpty) // empty corpus fit: degrade to an empty result
      return prep(emb).select(col("vec_id"),
        lit(null).cast("double").as("d"), lit(null).cast("int").as("cell"))
    val best = array_min(transform(centerLit(centers), c =>
      struct(round(VectorFunctions.l2sq(col("v"), c.getField("center")), dp).as("d"),
             c.getField("cell").as("cell"))))
    // `b` is referenced twice (two field extractions) so CollapseProject
    // leaves it staged — the argmin scan runs once per row, not twice
    prep(emb).withColumn("b", best)
      .select(col("vec_id"), col("b.d").as("d"), col("b.cell").as("cell"))
  }

  /** Distributed Lloyd refinement over the FULL corpus — the at-scale
    * k-means the sample-seeded [[fitCenters]] only approximates. Each
    * iteration: (1) map-only rounded-distance assignment with the centers
    * broadcast as literals ([[assignCellsRounded]]'s engine-portable
    * decision rule); (2) ONE map-side-combining aggregate to per-(cell,
    * dim) exact `(n, Σ micros)` partials — the `cluster_update` readout,
    * k·dim rows collected (bounded: 16 × 64 here, never corpus-sized);
    * (3) driver-side center update in EXACT integer arithmetic:
    * `floorDiv(Σ micros, n)` micros — floor division is reproducible in
    * SQL over exact integers, so the oracle can replay every iteration
    * bit-for-bit (a double mean would drag engine summation order into
    * the fixpoint). Cells that lose all members keep their center (the
    * standard convention). Each refined coordinate is micros/1e6 —
    * exactly representable, so the next assignment's rounded distances
    * are engine-stable too.
    */
  def lloydRefine(emb: DataFrame, centers0: Array[Array[Double]],
                  iters: Int): Array[Array[Double]] = {
    var centers = centers0
    for (_ <- 1 to iters) {
      val a = assignCellsRounded(emb, centers, dp = 4).select("vec_id", "cell")
      val parts = a.join(prep(emb), "vec_id")
        .select(col("cell"), posexplode(col("v")))
        .groupBy(col("cell"), col("pos"))
        .agg(count(lit(1)).as("n"),
          sum(round(col("col") * 1e6).cast("long")).as("s"))
        .collect()
      val next = centers.map(_.clone)
      parts.foreach { r =>
        next(r.getInt(0))(r.getInt(1)) =
          Math.floorDiv(r.getLong(3), r.getLong(2)).toDouble / 1e6
      }
      centers = next
    }
    centers
  }

  /** [[lloydRefine]], iterate-until-stable: refine until the max absolute
    * center movement drops to `tolMicros` micros or below (or `maxIters`).
    * The convergence probe is driver-side over the k·dim center matrix —
    * metadata-scale, like the kcore/pagerank probes. Returns the refined
    * centers and the iteration count taken.
    */
  def lloydConverged(emb: DataFrame, centers0: Array[Array[Double]],
                     maxIters: Int = 30,
                     tolMicros: Long = 0L): (Array[Array[Double]], Int) = {
    var centers = centers0
    var it = 0
    var moved = Long.MaxValue
    while (it < maxIters && moved > tolMicros) {
      val next = lloydRefine(emb, centers, iters = 1)
      moved = centers.indices.map { i =>
        centers(i).indices.map { j =>
          math.abs(math.round(next(i)(j) * 1e6) - math.round(centers(i)(j) * 1e6))
        }.max
      }.max
      centers = next
      it += 1
    }
    (centers, it)
  }

  /** Product-quantization codebooks: the vector splits into `m` contiguous
    * subspaces (even split, first `dim mod m` one dim longer) and each
    * subspace gets its own `k`-center codebook — `m * log2(k)` bits per
    * vector instead of `dim * 32`, the compression that keeps a 100 TB
    * embedding corpus scannable for ANN (Jegou, Douze, Schmid: "Product
    * quantization for nearest neighbor search", TPAMI 2011). Fit is
    * driver-side on the same bounded hash-sample as [[fitCenters]]
    * (deterministic sample, per-subspace seed), so two fits over the same
    * corpus produce bit-identical codebooks — which is what lets the gate
    * and its oracle export fit independently.
    */
  def pqFit(emb: DataFrame, m: Int = 8, k: Int = 16): Array[Array[Array[Double]]] = {
    val e = prep(emb)
    val n = e.count()
    require(n > 0, "pqFit: empty corpus")
    val maxSample = math.max(10000, 256 * k)
    val mod = math.max(1L, n / maxSample)
    val sampled = if (mod == 1L) e
                  else e.filter(pmod(hash(col("vec_id")), lit(mod)) === 0)
    def collect(df: DataFrame) = df.select("vec_id", "v").collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray)).sortBy(_._1).map(_._2)
    val pts0 = collect(sampled)
    val pts = if (pts0.nonEmpty || mod == 1L) pts0 else collect(e.limit(maxSample.toInt))
    require(pts.nonEmpty, "pqFit: empty fit sample")
    val dim = pts(0).length
    require(m >= 1 && m <= dim, s"pqFit: m=$m must be in [1, $dim]")
    (0 until m).toArray.map { j =>
      val (lo, sd) = pqSlice(dim, m, j)
      localKMeans(pts.map(p => java.util.Arrays.copyOfRange(p, lo, lo + sd)),
        k, maxIter = 10, seed = 42L + j)
    }
  }

  /** 0-based (offset, length) of subspace `j` in a `dim`-vector. */
  def pqSlice(dim: Int, m: Int, j: Int): (Int, Int) = {
    val base = dim / m; val rem = dim % m
    (base * j + math.min(j, rem), base + (if (j < rem) 1 else 0))
  }

  /** PQ encoding in LONG form: one row per `(vec_id, subspace)` with the
    * chosen codebook cell and its ROUNDED squared distance — the rounding
    * (ties to the lowest cell) is the same engine-independent argmin rule
    * as [[assignCellsRounded]], so a DuckDB oracle recomputes the exact
    * codes from the exported codebooks. One scan, all codegen'd
    * expressions; at scale this is the map-only pass that writes the
    * compressed corpus.
    */
  def pqEncode(emb: DataFrame, codebooks: Array[Array[Array[Double]]],
               dp: Int = 4): DataFrame = {
    val perJ = pqBests(codebooks, dp).zipWithIndex.map { case (b, j) =>
      struct(lit(j).as("j"), b.as("b"))
    }
    prep(emb).select(col("vec_id"), explode(array(perJ.toSeq: _*)).as("e"))
      .select(col("vec_id"), col("e.j").as("j"),
        col("e.b.cell").as("code"), col("e.b.d").as("d_r"))
  }

  /** WIDE codes — `(vec_id, codes array<int>)`, the stored form of the
    * compressed corpus (one int per subspace; parquet byte-packs it).
    */
  def pqCodes(emb: DataFrame, codebooks: Array[Array[Array[Double]]],
              dp: Int = 4): DataFrame =
    prep(emb).select(col("vec_id"),
      array(pqBests(codebooks, dp).map(_.getField("cell")).toSeq: _*).as("codes"))

  /** Per-subspace rounded-argmin struct `(d, cell)` over a vector column. */
  private def pqBests(codebooks: Array[Array[Array[Double]]],
                      dp: Int, v: Column = col("v")): Array[Column] = {
    require(codebooks.nonEmpty, "pq: empty codebooks")
    val dim = codebooks.map(_.head.length).sum
    val m = codebooks.length
    codebooks.zipWithIndex.map { case (cb, j) =>
      val (lo, sd) = pqSlice(dim, m, j)
      val sub = slice(v, lo + 1, sd)
      val cLit = array(cb.zipWithIndex.map { case (c, cell) =>
        struct(lit(cell).as("cell"), array(c.map(lit).toSeq: _*).as("center"))
      }.toSeq: _*)
      array_min(transform(cLit, c =>
        struct(round(VectorFunctions.l2sq(sub, c.getField("center")), dp).as("d"),
               c.getField("cell").as("cell"))))
    }
  }

  /** PQ top-k search via asymmetric distance computation (ADC): the query
    * stays full-precision, the corpus is its codes, and the per-query
    * distance is `sum_j lut[q][j][code_j]` where the lookup table holds
    * the query-to-center distances — `nQueries * m * k` integers (4dp
    * micros-style, so sums are exact across engines), built driver-side
    * from the collected query vectors and inlined as LITERALS.
    *
    * Plan: ONE scan of the coded corpus with zero joins and zero
    * shuffles before the bounded-heap per-query top-k (the same
    * `partitions * k` exchange as every ANN path here) — at 100 TB the
    * scan reads m bytes per vector instead of 4*dim, which is the whole
    * point of PQ. Ascending distance, ties to the lowest neighbor id.
    */
  def pqSearch(emb: DataFrame, codebooks: Array[Array[Array[Double]]],
               nQueries: Int, k: Int, dp: Int = 4): DataFrame = {
    val qs = prep(emb).filter(col("vec_id") < nQueries)
      .select("vec_id", "v").collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray)).sortBy(_._1)
    require(qs.nonEmpty, "pqSearch: no query vectors under nQueries")
    adcTopK(pqCodes(emb, codebooks, dp), codebooks, qs, k)
  }

  /** The shared ADC scan: per-query integer lut sums over a coded corpus
    * `(vec_id, codes)` + the bounded ascending-distance heap. Shared by
    * the in-memory [[pqSearch]] and the persisted [[pqSearchIndexed]].
    */
  private def adcTopK(coded: DataFrame, codebooks: Array[Array[Array[Double]]],
                      qs: Array[(Long, Array[Double])], k: Int): DataFrame = {
    import graft.functions.TopKRows.topk_rows
    val m = codebooks.length
    val dim = codebooks.map(_.head.length).sum
    require(qs.nonEmpty, "adcTopK: no query vectors")
    val scored = coded
      .select(col("vec_id").as("neighbor_id"),
        explode(array(qs.map { case (qid, qv) =>
          val adc = (0 until m).map { j =>
            val (lo, sd) = pqSlice(dim, m, j)
            val lut: Seq[Long] = codebooks(j).map { c =>
              var s = 0.0; var i = 0
              while (i < sd) { val t = qv(lo + i) - c(i); s += t * t; i += 1 }
              math.round(s * 10000d)
            }.toSeq
            element_at(typedLit(lut), col("codes").getItem(j) + 1)
          }.reduce(_ + _)
          struct(lit(qid).as("query_id"), adc.as("adc_e4"))
        }.toSeq: _*)).as("s"))
      .select(col("s.query_id").as("query_id"), col("neighbor_id"),
        col("s.adc_e4").as("adc_e4"))
    // ascending-distance heap: descending on (-adc, -id) = (adc asc, id asc)
    scored
      .select(col("query_id"),
        struct(negate(col("adc_e4")).as("sk"),
          negate(col("neighbor_id")).cast("long").as("nn"),
          col("neighbor_id"), col("adc_e4")).as("row"))
      .groupBy("query_id")
      .agg(topk_rows(col("row"), k, descending = true).as("top"))
      .select(col("query_id"), explode(col("top")).as("r"))
      .select(col("query_id"), col("r.neighbor_id").as("neighbor_id"),
        col("r.adc_e4").as("adc_e4"))
  }

  /** Two-stage retrieval: PQ-ADC shortlist (`nShortlist` candidates by
    * integer ADC) then EXACT cosine rerank of only those — the standard
    * compressed-first-stage pattern (Jegou et al.'s IVFADC + re-ranking):
    * the corpus scan reads `m` bytes per vector, and full-precision
    * vectors are touched for only `nQueries * nShortlist` rows, joined by
    * BROADCASTING the tiny shortlist against the corpus scan — no
    * shuffle of the vector table at any scale. Final order: rounded
    * cosine desc, neighbor id asc (the [[bruteForceTopK]] contract).
    */
  def pqRerank(emb: DataFrame, codebooks: Array[Array[Array[Double]]],
               nQueries: Int, nShortlist: Int, k: Int, dp: Int = 4): DataFrame = {
    val shortlist = pqSearch(emb, codebooks, nQueries, nShortlist, dp)
      .select("query_id", "neighbor_id")
    val e = prep(emb)
    val q = e.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("v").as("qv"))
    val sim = round(VectorFunctions.cosine(col("qv"), col("v")), 6)
    topKPerQuery(
      e.select(col("vec_id").as("neighbor_id"), col("v"))
        .join(broadcast(shortlist), "neighbor_id")
        .join(broadcast(q), "query_id")
        .select(col("query_id"), col("neighbor_id"), sim.as("sim")), k)
  }

  /** IVF+PQ residual codebooks (the IVFADC layout of Jegou et al.): the
    * coarse quantizer is [[fitCenters]]'s cell set; PQ codebooks are fit
    * on the RESIDUALS `v - center(cell(v))` of the same bounded
    * deterministic sample. Residuals concentrate around zero regardless
    * of which cell a vector lives in, so one shared residual codebook set
    * quantizes every cell far better than raw-vector PQ at equal bits —
    * this is the standard billion-scale ANN index shape.
    */
  def ivfPqFit(emb: DataFrame, centers: Array[Array[Double]],
               m: Int = 8, k: Int = 16): Array[Array[Array[Double]]] = {
    require(centers.nonEmpty, "ivfPqFit: empty coarse centers")
    val e = prep(emb)
    val n = e.count()
    require(n > 0, "ivfPqFit: empty corpus")
    val maxSample = math.max(10000, 256 * k)
    val mod = math.max(1L, n / maxSample)
    val sampled = if (mod == 1L) e
                  else e.filter(pmod(hash(col("vec_id")), lit(mod)) === 0)
    def collect(df: DataFrame) = df.select("vec_id", "v").collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray)).sortBy(_._1).map(_._2)
    val pts0 = collect(sampled)
    val pts = if (pts0.nonEmpty || mod == 1L) pts0 else collect(e.limit(maxSample.toInt))
    require(pts.nonEmpty, "ivfPqFit: empty fit sample")
    val dim = pts(0).length
    // residual of each sample point vs its (deterministic) nearest center
    val resid = pts.map { p =>
      var bestC = 0; var bestD = Double.MaxValue; var c = 0
      while (c < centers.length) {
        var s = 0.0; var i = 0
        while (i < dim) { val t = p(i) - centers(c)(i); s += t * t; i += 1 }
        if (s < bestD) { bestD = s; bestC = c }
        c += 1
      }
      val r = new Array[Double](dim)
      var i = 0
      while (i < dim) { r(i) = p(i) - centers(bestC)(i); i += 1 }
      r
    }
    (0 until m).toArray.map { j =>
      val (lo, sd) = pqSlice(dim, m, j)
      localKMeans(resid.map(r => java.util.Arrays.copyOfRange(r, lo, lo + sd)),
        k, maxIter = 10, seed = 1042L + j)
    }
  }

  /** IVF+PQ encode in long form: `(vec_id, cell, j, code, d_r)` — the
    * coarse cell via the rounded argmin of [[assignCellsRounded]], the
    * residual `v - center(cell)` taken inline (element_at on the center
    * literal array), then the per-subspace rounded argmin against the
    * residual codebooks. One map-only pass, every step an
    * engine-independent rounded decision a DuckDB oracle replays.
    */
  def ivfPqEncode(emb: DataFrame, centers: Array[Array[Double]],
                  codebooks: Array[Array[Array[Double]]], dp: Int = 4): DataFrame = {
    val perJ = pqBests(codebooks, dp, col("r")).zipWithIndex.map { case (b, j) =>
      struct(lit(j).as("j"), b.as("b"))
    }
    withResidual(emb, centers, dp)
      .select(col("vec_id"), col("cell"), explode(array(perJ.toSeq: _*)).as("e"))
      .select(col("vec_id"), col("cell"), col("e.j").as("j"),
        col("e.b.cell").as("code"), col("e.b.d").as("d_r"))
  }

  /** `(vec_id, cell, r)` — coarse cell (rounded argmin) + residual. */
  private def withResidual(emb: DataFrame, centers: Array[Array[Double]],
                           dp: Int): DataFrame = {
    val best = array_min(transform(centerLit(centers), c =>
      struct(round(VectorFunctions.l2sq(col("v"), c.getField("center")), dp).as("d"),
             c.getField("cell").as("cell"))))
    val centersArr = array(centers.map(c => array(c.map(lit).toSeq: _*)).toSeq: _*)
    prep(emb).withColumn("cell", best.getField("cell"))
      .withColumn("r", zip_with(col("v"),
        element_at(centersArr, col("cell") + 1), (a, b) => a - b))
  }

  /** IVF+PQ ADC top-k: each query probes its `nProbe` closest coarse
    * cells (rounded order, replayable); vectors OUTSIDE the probed cells
    * are skipped entirely — the inverted-list pruning that reads
    * `nProbe/nCells` of a 100 TB corpus. For a probed vector the distance
    * is the integer lut sum over the residual codebooks, where the lut is
    * built from the QUERY'S OWN residual `q - center(cell)` per probed
    * cell (nQueries * nProbe * m * k integers, inlined as literals). Same
    * shuffle-free scan + bounded-heap shape as [[pqSearch]].
    */
  def ivfPqSearch(emb: DataFrame, centers: Array[Array[Double]],
                  codebooks: Array[Array[Array[Double]]],
                  nQueries: Int, nProbe: Int, k: Int, dp: Int = 4): DataFrame = {
    val qs = prep(emb).filter(col("vec_id") < nQueries)
      .select("vec_id", "v").collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray)).sortBy(_._1)
    require(qs.nonEmpty, "ivfPqSearch: no query vectors under nQueries")
    ivfPqAdcTopK(ivfPqCodesWide(emb, centers, codebooks, dp),
      centers, codebooks, qs, nProbe, k, dp)
  }

  private def qd2(a: Array[Double], b: Array[Double]): Double = {
    var s = 0.0; var i = 0
    while (i < a.length) { val t = a(i) - b(i); s += t * t; i += 1 }
    s
  }

  /** A query's probe list: its `nProbe` closest coarse cells under the
    * rounded (d, cell)-asc order — the oracle's replayable sort key.
    */
  private def probeCells(qv: Array[Double], centers: Array[Array[Double]],
                         nProbe: Int, dp: Int): Seq[Int] =
    centers.zipWithIndex.map { case (c, cell) =>
      (BigDecimal(qd2(qv, c)).setScale(dp, BigDecimal.RoundingMode.HALF_UP)
        .toDouble, cell)
    }.sorted.take(nProbe).map(_._2).toSeq

  /** The shared IVFADC scan over a residual-coded corpus
    * `(vec_id, cell, codes)` — per-(query, probed-cell) residual luts +
    * the bounded heap. Shared by the in-memory [[ivfPqSearch]] and the
    * persisted [[ivfPqSearchIndexed]].
    */
  private def ivfPqAdcTopK(coded: DataFrame, centers: Array[Array[Double]],
                           codebooks: Array[Array[Array[Double]]],
                           qs: Array[(Long, Array[Double])],
                           nProbe: Int, k: Int, dp: Int): DataFrame = {
    import graft.functions.TopKRows.topk_rows
    val m = codebooks.length
    val dim = codebooks.map(_.head.length).sum
    require(qs.nonEmpty, "ivfPqAdcTopK: no query vectors")
    def d2(a: Array[Double], b: Array[Double]): Double = qd2(a, b)
    val scored = coded.select(col("vec_id").as("neighbor_id"), col("cell"),
        explode(filter(array(qs.map { case (qid, qv) =>
          // probe order: (rounded d, cell) asc — the oracle's sort key
          val probes = probeCells(qv, centers, nProbe, dp)
          val adcPerCell = probes.map { cell =>
            val qr = qv.indices.map(i => qv(i) - centers(cell)(i)).toArray
            val adc = (0 until m).map { j =>
              val (lo, sd) = pqSlice(dim, m, j)
              val lut: Seq[Long] = codebooks(j).map { c =>
                math.round(d2(java.util.Arrays.copyOfRange(qr, lo, lo + sd), c) * 10000d)
              }.toSeq
              element_at(typedLit(lut), col("codes").getItem(j) + 1)
            }.reduce(_ + _)
            (cell, adc)
          }
          val adcCol = adcPerCell.tail.foldLeft(
            when(col("cell") === adcPerCell.head._1, adcPerCell.head._2)) {
            case (acc, (cell, adc)) => acc.when(col("cell") === cell, adc)
          } // cells outside the probe set -> null -> filtered out
          when(adcCol.isNotNull,
            struct(lit(qid).as("query_id"), adcCol.as("adc_e4")))
            .otherwise(lit(null))
        }.toSeq: _*), x => x.isNotNull)).as("s"))
      .select(col("s.query_id").as("query_id"), col("neighbor_id"),
        col("s.adc_e4").as("adc_e4"))
    scored
      .select(col("query_id"),
        struct(negate(col("adc_e4")).as("sk"),
          negate(col("neighbor_id")).cast("long").as("nn"),
          col("neighbor_id"), col("adc_e4")).as("row"))
      .groupBy("query_id")
      .agg(topk_rows(col("row"), k, descending = true).as("top"))
      .select(col("query_id"), explode(col("top")).as("r"))
      .select(col("query_id"), col("r.neighbor_id").as("neighbor_id"),
        col("r.adc_e4").as("adc_e4"))
  }

  /** `(vec_id, cell, codes array<int>)` — the stored IVFADC corpus. */
  def ivfPqCodesWide(emb: DataFrame, centers: Array[Array[Double]],
                     codebooks: Array[Array[Array[Double]]], dp: Int = 4): DataFrame =
    withResidual(emb, centers, dp)
      .select(col("vec_id"), col("cell"),
        array(pqBests(codebooks, dp, col("r")).map(_.getField("cell")).toSeq: _*).as("codes"))

  /** Driver-side seeded kmeans++ / Lloyd's over the fit sample. Fixed
    * iteration order + fixed seed => bit-deterministic centers for a given
    * sample, with no dependence on cluster layout.
    */
  private def localKMeans(pts: Array[Array[Double]], k: Int, maxIter: Int,
                          seed: Long): Array[Array[Double]] = {
    require(pts.nonEmpty, "localKMeans: empty fit sample")
    val kk = math.min(k, pts.length)
    val dim = pts(0).length
    val rnd = new scala.util.Random(seed)
    def d2(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < dim) { val t = a(i) - b(i); s += t * t; i += 1 }
      s
    }
    // kmeans++ seeding: next center drawn proportional to distance-squared
    // from the nearest already-chosen center
    val centers = Array.ofDim[Array[Double]](kk)
    centers(0) = pts(rnd.nextInt(pts.length)).clone()
    val minD = Array.fill(pts.length)(Double.MaxValue)
    var c = 1
    while (c < kk) {
      var i = 0
      while (i < pts.length) {
        val d = d2(pts(i), centers(c - 1)); if (d < minD(i)) minD(i) = d; i += 1
      }
      val total = minD.sum
      val pick =
        if (total <= 0) rnd.nextInt(pts.length)
        else {
          var r = rnd.nextDouble() * total; var j = 0
          while (j < pts.length - 1 && r > minD(j)) { r -= minD(j); j += 1 }
          j
        }
      centers(c) = pts(pick).clone(); c += 1
    }
    // Lloyd's: assignment breaks ties to the LOWEST center index (strict <),
    // matching the distributed argmin's (d, cell) struct-min rule
    val assign = Array.fill(pts.length)(-1)
    var it = 0; var moved = true
    while (it < maxIter && moved) {
      moved = false
      var i = 0
      while (i < pts.length) {
        var best = 0; var bd = d2(pts(i), centers(0)); var j = 1
        while (j < kk) {
          val d = d2(pts(i), centers(j)); if (d < bd) { bd = d; best = j }; j += 1
        }
        if (assign(i) != best) { assign(i) = best; moved = true }
        i += 1
      }
      if (moved) {
        val sums = Array.fill(kk, dim)(0.0); val cnt = Array.fill(kk)(0L)
        var p = 0
        while (p < pts.length) {
          val a = assign(p); cnt(a) += 1
          var j = 0; while (j < dim) { sums(a)(j) += pts(p)(j); j += 1 }
          p += 1
        }
        var j = 0
        while (j < kk) {
          if (cnt(j) > 0) {
            var t = 0; while (t < dim) { sums(j)(t) /= cnt(j); t += 1 }
            centers(j) = sums(j)
          }
          j += 1
        }
      }
      it += 1
    }
    centers
  }

  /** `nProbe` nearest centers per query (tiny cross join, broadcast). */
  private def probeList(q: DataFrame, centers: DataFrame, nProbe: Int): DataFrame = {
    val probeW = Window.partitionBy("query_id").orderBy(col("dist").asc, col("cell").asc)
    q.crossJoin(broadcast(centers))
      .withColumn("dist", VectorFunctions.l2sq(col("qv"), col("center")))
      .withColumn("pr", row_number().over(probeW)).filter(col("pr") <= nProbe)
      .select(col("query_id"), col("qv"), col("cell"))
  }

  // ---- persisted IVF index ------------------------------------------------

  /** Materialize the IVF index: corpus parquet PARTITIONED BY cell (so a
    * probe is a partition-pruned scan), centers in an underscore dir the
    * partition discovery ignores. This is the durable form of the "at
    * 100 TB the corpus is written bucketed by cell" claim in [[ivfTopK]]'s
    * doc — a query then touches `nProbe/nCells` of the DATA ON DISK, not
    * just of a frame already in memory.
    */
  def writeIvfIndex(emb: DataFrame, path: String, nCells: Int = 16): Unit = {
    val (celled, centers) = fitCells(emb, nCells)
    // cluster by cell before the partitioned write (r13, guide §6): an
    // unclustered frame writes one file per (task, cell) pair — tasks ×
    // cells small files the probe-side reads then pay for on every listing
    graft.sources.WriteLayout.clusterForWrite(celled, Seq("cell"), col("vec_id"))
      .write.partitionBy("cell")
      .mode(org.apache.spark.sql.SaveMode.Overwrite).parquet(path)
    centers.write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .parquet(path.stripSuffix("/") + "/_centers")
  }

  /** Append new vectors to a persisted IVF index WITHOUT refitting: assign
    * them against the index's own STORED centers and append the
    * partitioned files. This is the production maintenance path — a
    * 100 TB index is never rebuilt for a day's arrivals; new vectors
    * stream into their cells (one map-only assignment pass + a
    * partitioned append, no shuffle) and searches see them on the next
    * directory listing. Because the centers are frozen, the merged index
    * is BIT-IDENTICAL to one whose assignment ran over history + arrivals
    * together with the history-fit centers — which is exactly the model
    * the `ann_ivf_append` gate's oracle replays. (Re-fitting is a
    * policy decision for when drift degrades cell balance; that path is
    * [[writeIvfIndex]] again.)
    */
  def appendIvfIndex(emb: DataFrame, path: String): Unit = {
    val spark = emb.sparkSession
    val centers = readCenters(spark, path)
    require(centers.nonEmpty, "appendIvfIndex: index has no centers")
    foldIfDoomedCollides(spark, path, emb)
    graft.sources.WriteLayout.clusterForWrite(
        assignFromCenters(emb, centers), Seq("cell"), col("vec_id"))
      .write.partitionBy("cell")
      .mode(org.apache.spark.sql.SaveMode.Append).parquet(path)
  }

  /** A re-added id would otherwise be hidden by its own old tombstone —
    * and then PHYSICALLY dropped by the next fold, losing the NEW row.
    * If the batch intersects the doomed set, fold first so the append
    * lands on a clean index (the set is flagged keys — tiny — so the
    * intersection probe is one broadcast semi-join over the batch).
    * Shared by every index append path (raw IVF, PQ, IVFADC).
    */
  private def foldIfDoomedCollides(spark: org.apache.spark.sql.SparkSession,
                                   path: String, emb: DataFrame,
                                   partCol: String = "cell"): Unit = {
    val root = path.stripSuffix("/")
    val fs = ivfFs(spark, root)
    val tombP = new org.apache.hadoop.fs.Path(root + "/_tombstones")
    if (fs.exists(tombP) && fs.listStatus(tombP).nonEmpty) {
      val doomedIds = spark.read.parquet(tombP.toString).select("vec_id")
      val collides = !emb.select(col("vec_id"))
        .join(broadcast(doomedIds), Seq("vec_id"), "left_semi").isEmpty
      if (collides) compactIvfIndex(spark, path, partCol)
    }
  }

  /** The persisted centers, cell-ordered — parquet doubles round-trip
    * exactly, so assignment against these equals assignment against the
    * fit's own in-memory array.
    */
  private[graft] def readCenters(spark: org.apache.spark.sql.SparkSession,
                                 path: String): Array[Array[Double]] =
    spark.read.parquet(path.stripSuffix("/") + "/_centers").collect()
      .map(r => (r.getInt(0), r.getSeq[Double](1).toArray))
      .sortBy(_._1).map(_._2)

  /** Aux export for the append gate: the combined corpus assigned under
    * HISTORY-fit centers, plus the probe list for the first `nQueries`
    * ids — the model [[appendIvfIndex]] is proven equivalent to.
    */
  def ivfAppendParts(emb: DataFrame, isHistory: Column, nQueries: Int,
                     nCells: Int = 16, nProbe: Int = 4): (DataFrame, DataFrame) = {
    val centers = fitCenters(emb.filter(isHistory), nCells)
    val celled = assignFromCenters(emb, centers)
    val q = celled.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("v").as("qv"))
    (celled, probeList(q, centersDf(emb, centers), nProbe))
  }

  /** Top-k against a persisted index: probe selection runs on the tiny
    * centers table, then ONLY the probed cell partitions are read — the
    * `.isin` filter on the partition column prunes directories, so scan
    * cost is `nProbe/nCells` of the corpus regardless of corpus size.
    * `queries` carries `(query_id, embedding)`.
    */
  def ivfTopKIndexed(spark: org.apache.spark.sql.SparkSession, path: String,
                     queries: DataFrame, k: Int, nProbe: Int = 4): DataFrame = {
    val centers = spark.read.parquet(path.stripSuffix("/") + "/_centers")
    val q = queries.select(col("query_id"), VectorFunctions.asDouble(col("embedding")).as("qv"))
    val probes = probeList(q, centers, nProbe)
    // partition METADATA collect (a few ints), not data
    val probedCells = probes.select("cell").distinct().collect().map(_.getInt(0)).toSeq
    val corpus = applyIvfTombstones(spark, path,
      spark.read.parquet(path).filter(col("cell").isin(probedCells: _*)))
    val sim = round(VectorFunctions.cosine(col("qv"), col("v")), 6)
    topKPerQuery(corpus.join(broadcast(probes),
        corpus("cell") === probes("cell") && col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"), sim.as("sim")), k)
  }

  private def ivfFs(spark: org.apache.spark.sql.SparkSession, root: String) =
    new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Merge-on-read mask for the index's tombstone set — one existence
    * check on a delete-free index, a broadcast anti-join on the doomed
    * (cell, vec_id) keys otherwise (the set is flagged ids, never data).
    * Underscore-prefixed siblings are invisible to the corpus scan, the
    * same convention `_centers` rides.
    */
  private def applyIvfTombstones(spark: org.apache.spark.sql.SparkSession,
                                 path: String, corpus: DataFrame,
                                 partCol: String = "cell"): DataFrame = {
    val root = path.stripSuffix("/")
    val tombP = new org.apache.hadoop.fs.Path(root + "/_tombstones")
    val fs = ivfFs(spark, root)
    if (!fs.exists(tombP) || fs.listStatus(tombP).isEmpty) corpus
    else {
      val dead = spark.read.parquet(tombP.toString)
        .select(col("vec_id").as("__iv_id"), col(partCol).as("__iv_part"))
      corpus.join(broadcast(dead),
        corpus("vec_id") === col("__iv_id") && corpus(partCol) === col("__iv_part"),
        "left_anti")
    }
  }

  /** Delete vectors from a persisted IVF index WITHOUT a rebuild — the
    * data-removal path every retrieval corpus eventually needs (flagged
    * documents, takedown/unlearning requests). The doomed ids are keyed
    * to their cells by ONE column-pruned scan of the index's (vec_id,
    * cell) columns, then land as a tombstone batch committed by a single
    * rename; [[ivfTopKIndexed]] anti-joins the set and [[compactIvfIndex]]
    * folds it physically, rewriting ONLY the touched cell partitions. Cost is
    * O(index keys) for the cell lookup + O(doomed) for the write — never
    * a vector-data rewrite at delete time.
    */
  def deleteFromIvf(spark: org.apache.spark.sql.SparkSession, path: String,
                    doomed: DataFrame, partCol: String = "cell"): Unit = {
    val root = path.stripSuffix("/")
    val fs = ivfFs(spark, root)
    val tmp = new org.apache.hadoop.fs.Path(root + "/_tombstones_tmp")
    fs.delete(tmp, true) // pre-commit leftovers of a crashed delete: garbage
    val keyed = spark.read.parquet(root).select("vec_id", partCol)
      .join(broadcast(doomed.select(col("vec_id")).distinct()),
        Seq("vec_id"), "left_semi")
    if (keyed.isEmpty) return
    // the doomed key set is O(flagged): land it as few files, not one per
    // scan task (every later read lists and opens the whole batch dir) —
    // coalesce, not repartition: no shuffle, just merged writer tasks
    graft.sources.WriteLayout.boundFiles(keyed)
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite).parquet(tmp.toString)
    val tombRoot = new org.apache.hadoop.fs.Path(root + "/_tombstones")
    fs.mkdirs(tombRoot)
    val batch = new org.apache.hadoop.fs.Path(tombRoot,
      "batch=" + java.util.UUID.randomUUID.toString)
    if (!fs.rename(tmp, batch))
      throw new java.io.IOException(s"ivf tombstone commit failed: $tmp -> $batch")
  }

  /** Fold the index's tombstone set physically: rewrite ONLY the cell
    * partitions the doomed keys live in (dynamic partition overwrite —
    * untouched cells' files are never read or written), then clear the
    * folded batches.
    *
    * Crash contract — deliberately LIGHTER than [[graft.sources.Commit]],
    * the durable stores' commit protocol, and the difference is
    * principled: the index is DERIVED data. The
    * tombstone set clears last, so a crash anywhere up to the overwrite's
    * commit leaves the mask active and a re-run completes the fold; a
    * crash inside the committer's own partition-replace window can lose
    * retained vectors of a touched cell, and the recovery for derived
    * data is to rebuild from the primary store ([[writeIvfIndex]] /
    * [[appendIvfIndex]] over the touched cells) — spending a staged,
    * manifest-committed rewrite to avoid a rebuild that is already cheap
    * and always available would buy nothing. Run folds
    * in the index's single-writer maintenance window.
    */
  def compactIvfIndex(spark: org.apache.spark.sql.SparkSession, path: String,
                      partCol: String = "cell"): Unit = {
    val root = path.stripSuffix("/")
    val fs = ivfFs(spark, root)
    val tombRoot = new org.apache.hadoop.fs.Path(root + "/_tombstones")
    fs.delete(new org.apache.hadoop.fs.Path(root + "/_tombstones_tmp"), true)
    if (!fs.exists(tombRoot)) return
    val batches = fs.listStatus(tombRoot).map(_.getPath).toSeq
    if (batches.isEmpty) { fs.delete(tombRoot, true); return }
    val dead = spark.read.parquet(tombRoot.toString)
    // metadata-scale: the distinct cells carrying doomed keys. Filter by
    // directory EXISTENCE (the TsStorage.compact convention): a crash
    // between a fully-doomed cell's drop and the batch clear leaves
    // tombstones pointing at a deleted dir — inert, and a scoped read
    // including the missing path would wedge every retry of the fold.
    val cells = dead.select(partCol).distinct().collect().map(_.getInt(0))
      .toSeq.filter(c =>
        fs.exists(new org.apache.hadoop.fs.Path(s"$root/$partCol=$c")))
    if (cells.isEmpty) {
      batches.foreach(b => fs.delete(b, true))
      fs.delete(tombRoot, true)
      return
    }
    val scoped = spark.read.option("basePath", root)
      .parquet(cells.map(c => s"$root/$partCol=$c"): _*)
    // localCheckpoint: (a) severs the self-overwrite cycle (the write
    // targets the path the plan reads), (b) bounds the fold's working set
    // to the TOUCHED cells' survivors, materialized once
    val kept = applyIvfTombstones(spark, root, scoped, partCol).localCheckpoint()
    // dynamic overwrite only rewrites partitions PRESENT in the output: a
    // fully-doomed cell would keep its old files and resurrect once the
    // set clears — drop those dirs explicitly (before the clear, so a
    // crash in between leaves the mask active, not a resurrection)
    val keptCells = kept.select(partCol).distinct().collect()
      .map(_.getInt(0)).toSet
    graft.sources.WriteLayout.clusterForWrite(kept, Seq(partCol), col("vec_id"))
      .write.partitionBy(partCol)
      .option("partitionOverwriteMode", "dynamic")
      .mode(org.apache.spark.sql.SaveMode.Overwrite).parquet(root)
    Checkpoints.free(kept)
    cells.filterNot(keptCells).foreach { c =>
      fs.delete(new org.apache.hadoop.fs.Path(s"$root/$partCol=$c"), true)
    }
    batches.foreach(b => fs.delete(b, true))
    fs.delete(tombRoot, true)
  }

  // ---- persisted coded (PQ / IVFADC) indexes + deletion -------------------
  //
  // The r11 verdict's takedown-completeness ask: a removal must reach
  // EVERY derived index, not just the raw-vector IVF. Both coded corpora
  // get the same lifecycle as the IVF index — tombstone-batch delete
  // (O(doomed), one-rename commit), merge-on-read mask at search, and a
  // partition-scoped physical fold — by riding the SAME machinery
  // ([[deleteFromIvf]]/[[compactIvfIndex]] parameterized by the partition
  // column). The flat-PQ corpus has no cells, so its scale unit is a
  // hash BUCKET of vec_id: deletes fold only the touched buckets, and at
  // 100 TB a bucket is one maintenance task, never a corpus rewrite.

  private def writeCodebooks(spark: org.apache.spark.sql.SparkSession,
                             cbs: Array[Array[Array[Double]]], path: String): Unit =
    spark.createDataFrame(
      cbs.zipWithIndex.flatMap { case (cb, j) =>
        cb.zipWithIndex.map { case (c, cell) => (j, cell, c.toSeq) }
      }.toSeq).toDF("j", "cell", "center")
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .parquet(path.stripSuffix("/") + "/_codebooks")

  /** Stored subspace codebooks, (j, cell)-ordered — parquet doubles
    * round-trip exactly (the [[readCenters]] argument).
    */
  private[graft] def readCodebooks(spark: org.apache.spark.sql.SparkSession,
                                   path: String): Array[Array[Array[Double]]] =
    spark.read.parquet(path.stripSuffix("/") + "/_codebooks").collect()
      .map(r => ((r.getInt(0), r.getInt(1)), r.getSeq[Double](2).toArray))
      .sortBy(_._1).groupBy(_._1._1).toSeq.sortBy(_._1)
      .map(_._2.sortBy(_._1._2).map(_._2)).toArray

  /** Materialize a flat-PQ index: coded corpus `(vec_id, codes)` parquet
    * PARTITIONED BY a vec_id hash bucket (the delete/fold scale unit),
    * codebooks in an underscore sibling. Returns the fit codebooks.
    */
  def writePqIndex(emb: DataFrame, path: String, m: Int = 8, k: Int = 16,
                   nBuckets: Int = 16): Array[Array[Array[Double]]] = {
    val cbs = pqFit(emb, m, k)
    graft.sources.WriteLayout.clusterForWrite(
        pqCodes(emb, cbs)
          .withColumn("bucket",
            pmod(xxhash64(col("vec_id")), lit(nBuckets.toLong)).cast("int")),
        Seq("bucket"), col("vec_id"))
      .write.partitionBy("bucket")
      .mode(org.apache.spark.sql.SaveMode.Overwrite).parquet(path)
    writeCodebooks(emb.sparkSession, cbs, path)
    // the bucket function is a BUILD parameter: appends must reproduce it
    // exactly or a vector lands outside its id's bucket and delete's
    // (vec_id, bucket)-keyed mask misses it
    emb.sparkSession.createDataFrame(Seq(Tuple1(nBuckets))).toDF("n_buckets")
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .parquet(path.stripSuffix("/") + "/_meta")
    cbs
  }

  /** Append new vectors to a persisted PQ index WITHOUT refitting: encode
    * against the STORED codebooks, bucket with the index's own stored
    * bucket count, append the partitioned files — the [[appendIvfIndex]]
    * maintenance contract for the coded corpus (frozen fit => the merged
    * index is bit-identical to a single-shot encode of history+arrivals).
    * Re-fitting when drift degrades code quality is [[writePqIndex]].
    */
  def appendPqIndex(emb: DataFrame, path: String): Unit = {
    val spark = emb.sparkSession
    val cbs = readCodebooks(spark, path)
    val nBuckets = spark.read.parquet(path.stripSuffix("/") + "/_meta")
      .head().getInt(0)
    foldIfDoomedCollides(spark, path, emb, partCol = "bucket")
    graft.sources.WriteLayout.clusterForWrite(
        pqCodes(emb, cbs)
          .withColumn("bucket",
            pmod(xxhash64(col("vec_id")), lit(nBuckets.toLong)).cast("int")),
        Seq("bucket"), col("vec_id"))
      .write.partitionBy("bucket")
      .mode(org.apache.spark.sql.SaveMode.Append).parquet(path)
  }

  /** ADC top-k against the persisted PQ index — [[pqSearch]]'s scan shape
    * (integer lut literals, zero joins, bounded heap) over the STORED
    * codes, tombstone-masked. `queries` carries `(query_id, embedding)`.
    */
  def pqSearchIndexed(spark: org.apache.spark.sql.SparkSession, path: String,
                      queries: DataFrame, k: Int, dp: Int = 4): DataFrame = {
    val cbs = readCodebooks(spark, path)
    val coded = applyIvfTombstones(spark, path, spark.read.parquet(path), "bucket")
    adcTopK(coded, cbs, collectQueries(queries), k)
  }

  /** Two-stage retrieval over PERSISTED stores (r12 verdict task 6): the
    * ADC shortlist comes from the stored PQ index ([[pqSearchIndexed]] —
    * tombstone-masked) and the exact-cosine rerank reads the STORED
    * raw-vector table (a [[writeIvfIndex]] layout — tombstone-masked
    * AGAIN, so a vector deleted from the raw store can never resurface
    * through a stale shortlist; the takedown contract deletes from both,
    * and each mask holds independently).
    *
    * Scale shape: the shortlist is `nQueries * nShortlist` ids (bounded,
    * broadcast). Resolving their cells costs ONE two-int-column scan of
    * the raw index — bytes per row, not vectors — and the full-precision
    * read then prunes to those cell partitions on disk, so the expensive
    * columns are touched for only the shortlisted cells. No shuffle of
    * the vector table at any stage.
    */
  def rerankIndexed(spark: org.apache.spark.sql.SparkSession,
                    codedPath: String, rawPath: String, queries: DataFrame,
                    nShortlist: Int, k: Int, dp: Int = 4): DataFrame = {
    // the shortlist is ≤ nQueries × nShortlist rows BY CONSTRUCTION —
    // collect it once (r14, guide §3.1): as a lazy plan it was replayed
    // per broadcast use, re-running the whole ADC search (codebook
    // collect + masked coded scan) for the cell probe AND AGAIN for the
    // rerank join's broadcast build
    val sl = pqSearchIndexed(spark, codedPath, queries, nShortlist, dp)
      .select(col("query_id"), col("neighbor_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    def emptyResult = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("query_id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("neighbor_id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("sim",
          org.apache.spark.sql.types.DoubleType))))
    if (sl.isEmpty) return emptyResult
    val slIds = sl.map(_._2).distinct.sorted.toSeq
    // cells of the shortlisted ids: column-pruned (vec_id, cell) scan with
    // the bounded id set PUSHED into the parquet scan (In → PushedFilters;
    // the broadcast-semi-join form read every row's vec_id instead)
    val cells = spark.read.parquet(rawPath).select("vec_id", "cell")
      .filter(col("vec_id").isin(slIds: _*))
      .select("cell").distinct().collect().map(_.getInt(0)).toSeq
    if (cells.isEmpty) return emptyResult
    import spark.implicits._
    val shortlist = sl.toSeq.toDF("query_id", "neighbor_id")
    // full-precision read: cell partitions pruned on disk AND the vec_id
    // In-filter pushed — the scan touches only shortlisted rows of
    // shortlisted cells; the tombstone mask still applies independently
    val corpus = applyIvfTombstones(spark, rawPath,
      spark.read.parquet(rawPath)
        .filter(col("cell").isin(cells: _*) && col("vec_id").isin(slIds: _*)),
      "cell")
    val q = queries.select(col("query_id"),
      VectorFunctions.asDouble(col("embedding")).as("qv"))
    val sim = round(VectorFunctions.cosine(col("qv"), col("v")), 6)
    topKPerQuery(
      corpus.select(col("vec_id").as("neighbor_id"), col("v"))
        .join(broadcast(shortlist), "neighbor_id")
        .join(broadcast(q), "query_id")
        .select(col("query_id"), col("neighbor_id"), sim.as("sim")), k)
  }

  /** Tombstone-batch delete against the coded PQ corpus (bucket-keyed). */
  def deleteFromPqIndex(spark: org.apache.spark.sql.SparkSession, path: String,
                        doomed: DataFrame): Unit =
    deleteFromIvf(spark, path, doomed, partCol = "bucket")

  /** Fold the PQ index's tombstones: rewrites ONLY touched buckets. */
  def compactPqIndex(spark: org.apache.spark.sql.SparkSession, path: String): Unit =
    compactIvfIndex(spark, path, partCol = "bucket")

  /** Materialize an IVFADC index: residual-coded corpus
    * `(vec_id, codes)` PARTITIONED BY coarse cell (probe = partition
    * prune, the [[writeIvfIndex]] layout), coarse centers and residual
    * codebooks in underscore siblings.
    */
  def writeIvfPqIndex(emb: DataFrame, path: String, nCells: Int = 8,
                      m: Int = 8, k: Int = 16): Unit = {
    val centers = fitCenters(emb, nCells)
    require(centers.nonEmpty, "writeIvfPqIndex: empty corpus")
    val cbs = ivfPqFit(emb, centers, m, k)
    graft.sources.WriteLayout.clusterForWrite(
        ivfPqCodesWide(emb, centers, cbs), Seq("cell"), col("vec_id"))
      .write.partitionBy("cell")
      .mode(org.apache.spark.sql.SaveMode.Overwrite).parquet(path)
    centersDf(emb, centers).write
      .mode(org.apache.spark.sql.SaveMode.Overwrite)
      .parquet(path.stripSuffix("/") + "/_centers")
    writeCodebooks(emb.sparkSession, cbs, path)
  }

  /** Append new vectors to a persisted IVFADC index WITHOUT refitting:
    * coarse-assign + residual-encode against the STORED centers and
    * codebooks, append into the cell partitions — same frozen-fit
    * contract as [[appendPqIndex]]/[[appendIvfIndex]].
    */
  def appendIvfPqIndex(emb: DataFrame, path: String): Unit = {
    val spark = emb.sparkSession
    val centers = readCenters(spark, path)
    val cbs = readCodebooks(spark, path)
    require(centers.nonEmpty, "appendIvfPqIndex: index has no centers")
    foldIfDoomedCollides(spark, path, emb)
    graft.sources.WriteLayout.clusterForWrite(
        ivfPqCodesWide(emb, centers, cbs), Seq("cell"), col("vec_id"))
      .write.partitionBy("cell")
      .mode(org.apache.spark.sql.SaveMode.Append).parquet(path)
  }

  /** IVFADC top-k against the persisted index: probes resolve on the
    * stored centers driver-side, ONLY the probed cell partitions are
    * read (directory pruning via the partition-column `.isin`, the
    * [[ivfTopKIndexed]] shape), the residual luts score the
    * tombstone-masked stored codes.
    */
  def ivfPqSearchIndexed(spark: org.apache.spark.sql.SparkSession, path: String,
                         queries: DataFrame, nProbe: Int, k: Int,
                         dp: Int = 4): DataFrame = {
    val centers = readCenters(spark, path)
    val cbs = readCodebooks(spark, path)
    val qs = collectQueries(queries)
    val probedCells = qs.flatMap { case (_, qv) => probeCells(qv, centers, nProbe, dp) }
      .distinct.toSeq
    val scoped = spark.read.parquet(path)
      .filter(col("cell").isin(probedCells: _*))
    val masked = applyIvfTombstones(spark, path, scoped, "cell")
    ivfPqAdcTopK(masked, centers, cbs, qs, nProbe, k, dp)
  }

  /** Tombstone-batch delete against the coded IVFADC corpus (cell-keyed —
    * literally [[deleteFromIvf]], the stored schema differs only in
    * carrying codes instead of vectors).
    */
  def deleteFromIvfPqIndex(spark: org.apache.spark.sql.SparkSession, path: String,
                           doomed: DataFrame): Unit =
    deleteFromIvf(spark, path, doomed)

  def compactIvfPqIndex(spark: org.apache.spark.sql.SparkSession, path: String): Unit =
    compactIvfIndex(spark, path)

  private def collectQueries(queries: DataFrame): Array[(Long, Array[Double])] =
    queries.select(col("query_id"),
        VectorFunctions.asDouble(col("embedding")).as("v")).collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray)).sortBy(_._1)
}
