package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions

/** Fit/apply separation for corpus-level text models — the 100 TB working
  * pattern: statistics that need a corpus pass (vocabulary counts, IDF,
  * benchmark gram sets) are FIT once and persisted as small parquet
  * "model" tables; scoring any shard later is a map-only pass with the
  * model broadcast. Re-scoring, incremental ingest and train/eval reuse
  * all read the same fitted model instead of re-scanning the corpus —
  * and two shards scored on different days agree bit-for-bit because the
  * model is frozen.
  *
  * Layout under `path`: `vocab/` (tok, c, df), `meta/` (n_docs,
  * total_tokens). Same shape as [[Similarity.writeIvfIndex]]'s centers.
  */
object CorpusModel {

  /** One corpus pass: unigram counts + document frequencies + totals. */
  def fit(docs: DataFrame, path: String): Unit = {
    val toks = docs
      .select(col("doc_id"), TextFunctions.tokens(col("text")).as("arr"))
      .select(col("doc_id"), explode(col("arr")).as("tok"))
    val vocab = toks.groupBy("tok")
      .agg(count(lit(1)).as("c"), countDistinct(col("doc_id")).as("df"))
    vocab.write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .parquet(s"$path/vocab")
    docs.agg(count(lit(1)).as("n_docs"),
        sum(TextFunctions.tokenCount(col("text"))).as("total_tokens"))
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .parquet(s"$path/meta")
  }

  private val SEP = "\u001f"

  /** The symbol array back out of the wrapped encoding: strip the outer
    * separators, split on the doubled inter-symbol boundary.
    */
  private def symbolsOf(seq: org.apache.spark.sql.Column) =
    split(seq.substr(lit(2), length(seq) - 2), SEP + SEP)

  /** BPE merge-loop trainer (Sennrich et al., ACL 2016 "Neural machine
    * translation of rare words with subword units"), from scratch on the
    * word-frequency table — the standard corpus-scale trick: merges apply
    * per DISTINCT word, so after one corpus pass to count words the whole
    * loop runs on the vocabulary axis, not the corpus.
    *
    * State is one row per distinct word: its corpus count and its symbol
    * sequence, encoded as a string with EVERY symbol wrapped in its own
    * U+001F pair (`<SEP>sym<SEP>`, concatenated — tokens are whitespace-
    * split words, so the separator cannot occur inside a symbol). The
    * wrapping anchors BOTH boundaries of a merge match: the pattern
    * `<SEP>L<SEP><SEP>R<SEP>` can only match where L and R are whole
    * ADJACENT symbols — a bare `L<SEP>R` pattern on a singly-joined string
    * also matches when L is a suffix of a preceding merged symbol (state
    * ["ab","c"] under merge (b,c) must NOT become "abc"), which diverges
    * from symbol-wise Sennrich BPE on suffix-collision corpora
    * (Round10OpsSpec pins the corpus that triggers it). And because a
    * match consumes its own wrapping, two candidate sites never share
    * characters, so left-to-right non-overlapping `replace` remains
    * exactly the BPE merge rule ("aaa" + (a,a) -> ["aa","a"]).
    * Each round:
    *   1. adjacent symbol-pair counts, weighted by word count — one
    *      map-side-combining aggregate over the vocab axis;
    *   2. top-1 pair by (count desc, left asc, right asc) — the
    *      deterministic tie-break that makes the merge sequence
    *      engine-portable; a one-row bounded collect (the loop-driver
    *      probe convention, like kcore's);
    *   3. re-segment: one boundary-anchored literal `replace`, identical
    *      semantics in Spark and DuckDB;
    *   4. localCheckpoint the (vocab-sized) state, freeing the prior
    *      round's blocks.
    *
    * Returns the merge table `(merge_rank, lft, rgt, n)` — the trained
    * tokenizer model; stops early if no pair remains. The oracle replays
    * the same rounds in SQL (`text_bpe_vocab`).
    */
  def bpeTrain(docs: DataFrame, merges: Int): DataFrame = {
    val spark = docs.sparkSession
    var words = docs
      .select(explode(TextFunctions.tokens(col("text"))).as("tok"))
      .filter(length(col("tok")) >= 1)
      .groupBy("tok").agg(count(lit(1)).as("c"))
      .select(col("c"), concat(lit(SEP),
        array_join(split(col("tok"), ""), SEP + SEP), lit(SEP)).as("seq"))
      .localCheckpoint()
    val out = scala.collection.mutable.ArrayBuffer[(Int, String, String, Long)]()
    var done = false
    for (rank <- 1 to merges if !done) {
      val pairs = words
        .select(col("c"), symbolsOf(col("seq")).as("l"))
        .filter(size(col("l")) >= 2)
        .select(col("c"), explode(expr(
          "transform(sequence(1, size(l) - 1), j -> struct(l[j-1] AS lft, l[j] AS rgt))")).as("p"))
        .groupBy(col("p.lft").as("lft"), col("p.rgt").as("rgt"))
        .agg(sum("c").as("n"))
      val top = pairs.orderBy(col("n").desc, col("lft").asc, col("rgt").asc)
        .limit(1).collect()
      if (top.isEmpty) done = true
      else {
        val (l, r, n) = (top(0).getString(0), top(0).getString(1), top(0).getLong(2))
        out += ((rank, l, r, n))
        val prev = words
        words = words.select(col("c"),
            replace(col("seq"), lit(SEP + l + SEP + SEP + r + SEP),
              lit(SEP + l + r + SEP)).as("seq"))
          .localCheckpoint()
        Checkpoints.free(prev)
      }
    }
    import spark.implicits._
    out.toSeq.toDF("merge_rank", "lft", "rgt", "n")
  }

  /** Apply a trained merge table to a document frame: per doc, the token
    * count after segmentation — the compression readout every tokenizer
    * is judged by. The merge list is tiny (k rows), so the application is
    * a map-only chain of k literal replaces — no joins, no shuffle except
    * the final per-doc aggregate.
    */
  def bpeSegmentStats(docs: DataFrame, merges: Seq[(String, String)]): DataFrame = {
    // each word in the wrapped encoding, joined by a wrapped space symbol
    // (a word boundary merges with nothing: no merge contains a space)
    val seq0 = array_join(
      transform(TextFunctions.tokens(col("text")),
        t => concat(lit(SEP), array_join(split(t, ""), SEP + SEP), lit(SEP))),
      SEP + " " + SEP)
    val seq = merges.foldLeft(seq0) { case (acc, (l, r)) =>
      replace(acc, lit(SEP + l + SEP + SEP + r + SEP), lit(SEP + l + r + SEP))
    }
    docs.select(col("doc_id"),
      // symbol count = doubled-boundary segment count of the wrapped form
      size(split(seq, SEP + SEP)).cast("long").as("n_symbols"),
      TextFunctions.tokenCount(col("text")).as("n_words"))
  }

  /** Map-only scoring of any document frame against a fitted model:
    * per-doc mean unigram log-prob and top-IDF term, with the (small)
    * vocab broadcast — no corpus-wide shuffle except the per-doc
    * aggregate.
    */
  def scoreLogProb(spark: SparkSession, path: String, docs: DataFrame): DataFrame = {
    val vocab = graft.Tables.parquet(spark, s"$path/vocab")
    val meta = graft.Tables.parquet(spark, s"$path/meta")
    val toks = docs
      .select(col("doc_id"), TextFunctions.tokens(col("text")).as("arr"))
      .select(col("doc_id"), explode(col("arr")).as("tok"))
    toks.join(broadcast(vocab), Seq("tok"), "left")
      .crossJoin(broadcast(meta))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"),
        // unseen tokens (null c) score as a 1-count (add-one floor), so a
        // frozen model applies to NEW shards without nulling the doc score
        round(avg(log(coalesce(col("c"), lit(1L)) /
          col("total_tokens").cast("double"))), 6).as("avg_logprob"))
  }
}
