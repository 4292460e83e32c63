package graft

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Pinned-fixture micro-bench: a testdata-INVARIANT control for
  * round-over-round perf comparison.
  *
  * The driver's sf0.1 testdata is regenerated between rounds, and round 9
  * burned judge time proving an apparent ~25% "regression" was a new
  * data directory + host state, not a plan change. This main removes that
  * ambiguity: the corpus is synthesized IN-PROCESS from fixed seeds
  * (pure hash arithmetic — no RNG, no wall clock), written once per run,
  * and ~10 representative gates are timed min-of-3 against it. Two rounds'
  * `BENCH_pinned_*.json` files therefore measure the identical bytes, so
  * any delta is code or host, never data.
  *
  * Table shapes mirror the sf0.1 bench fixtures (events 100k, documents
  * 5k with planted duplicate clusters, embeddings 2k x 64 with label
  * structure) so gate costs land in the same regime the round bench
  * measures.
  */
object BenchPinned {

  /** Deterministic 64-bit mix — the one seed source for every synthetic
    * column. xxhash64 is seed-stable across Spark versions and, unlike a
    * hand-rolled splitmix, has no ANSI-mode overflow hazard.
    */
  private def mix(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    xxhash64(c)

  private def u(c: org.apache.spark.sql.Column, m: Long) = pmod(mix(c), lit(m))

  private val vocab = Seq("key", "agg", "row", "scan", "slow", "fast",
    "table", "value", "part", "hash", "merge", "batch", "spark", "the",
    "line", "sort", "window", "join", "filter", "plan", "shuffle", "disk",
    "cache", "broadcast", "bucket", "skew", "codegen", "parquet", "stream",
    "state")

  def writeFixture(spark: SparkSession, dir: String): Unit = {
    // events: 100k rows over 30 days, 2000 users with one hub, 5 types
    val types = array(Seq("view", "click", "purchase", "error", "signup")
      .map(lit): _*)
    spark.range(100000L)
      .select(col("id").as("event_id"),
        timestamp_micros(lit(1704067200000000L) +
          u(col("id") + 11L, 2592000L) * 1000000L +
          u(col("id") + 13L, 1000000L)).as("ts"),
        when(u(col("id") + 17L, 97L) === 0L, lit(7L))
          .otherwise(u(col("id") + 19L, 2000L)).as("user_id"),
        element_at(types, (u(col("id") + 23L, 5L) + 1L).cast("int"))
          .as("event_type"),
        (u(col("id") + 29L, 10000L).cast("double") / 100.0).as("value"),
        concat(lit("{\"k\": "), u(col("id") + 31L, 100L).cast("string"),
          lit("}")).as("props"))
      .coalesce(4)
      .write.mode(SaveMode.Overwrite).parquet(s"$dir/events.parquet")

    // documents: 5k docs of ~30 vocab words; doc_id < 1000 form clusters
    // of 5 sharing one text seed (exact dups for the dedup family), the
    // rest are seeded by their own id (near-collisions arise naturally
    // from the 30-word vocab)
    val vocabCol = array(vocab.map(lit): _*)
    val seed = when(col("id") < 1000L, col("id") - pmod(col("id"), lit(5L)))
      .otherwise(col("id"))
    val words = transform(sequence(lit(0L), lit(24L) + u(seed + 37L, 10L)),
      j => element_at(vocabCol, (pmod(mix(seed * lit(131L) + j + 41L),
        lit(vocab.size.toLong)) + 1L).cast("int")))
    spark.range(5000L)
      .select(col("id").as("doc_id"),
        array_join(words, " ").as("text"),
        lit("en").as("lang"),
        concat(lit("src"), u(col("id") + 43L, 4L).cast("string")).as("source"))
      .withColumn("n_chars", length(col("text")))
      .coalesce(2)
      .write.mode(SaveMode.Overwrite).parquet(s"$dir/documents.parquet")

    // embeddings: 2k x 64 floats in [-0.25, 0.25] plus a per-label center
    // offset so IVF/cluster gates see real structure
    val dim = 64
    val emb = transform(sequence(lit(0), lit(dim - 1)), j => {
      val cell = col("id") * lit(dim.toLong) + j.cast("long")
      val base = (u(cell + 47L, 1000001L).cast("double") / 1000000.0 - 0.5) * 0.5
      val ctr = (u(pmod(col("id"), lit(16L)) * lit(dim.toLong) + j.cast("long") + 53L,
        1000001L).cast("double") / 1000000.0 - 0.5) * 0.6
      (base + ctr).cast("float")
    })
    spark.range(2000L)
      .select(col("id").as("vec_id"), emb.as("embedding"),
        pmod(col("id"), lit(16L)).cast("int").as("label"))
      .coalesce(2)
      .write.mode(SaveMode.Overwrite).parquet(s"$dir/embeddings.parquet")
  }

  /** Representative gates: the r9-flagged dedup/doc-corpus family, the
    * graph wedge family, a text scorer, an ANN index path, a TS aggregate
    * and an events window — one per cost regime the round bench covers.
    * Round 11 widened coverage to the regimes the r10 drift questions
    * actually landed in: a full storage round trip (write + partition
    * rewrite delete + read), the stored bucketed graph layout, real
    * multimodal codec work, a streaming batch replay, the BPE replace
    * chain, and three of r10's same-code drift outliers
    * (ts_trend_robust / events_interval_join / mm_gif_frames).
    */
  private val gates = Seq("dedup_minhash", "dedup_canonical",
    "dedup_components", "dedup_jaccard", "graph_fof", "graph_linkpred",
    "text_bm25", "ann_ivf", "ts_agg_median", "user_transitions",
    "ts_storage_delete", "graph_edges_indexed", "mm_gif_frames",
    "stream_sessionize_replay", "text_bpe_compression", "ts_trend_robust",
    "events_interval_join",
    // r12: the coded-index lifecycle (build + delete + masked search +
    // fold) and the two-stage rerank — the round's new plan families
    "ann_pq_delete", "ann_rerank",
    // r13: the durable-KV write/flush/restart round trip and the
    // persisted two-stage rerank with dual tombstone masks
    "kv_durable_restart", "ann_rerank_indexed")

  def main(args: Array[String]): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val dir = new java.io.File("target/tmp-pinned-fixture").getAbsolutePath
    writeFixture(spark, dir)
    // warm shared machinery on the fixture itself (codegen, readers)
    for (g <- gates)
      try SparkEntry.queries(g)(spark, dir).queryExecution.toRdd.count()
      catch { case _: Throwable => () }
    // r12's verdict task 7: the control's authority degraded on a noisy
    // host day (single-execution totals swung ±40% while the per-gate MIN
    // matched within 4%), so the ROBUST statistic is now the artifact
    // itself: N full passes over the gate list (round-robin, so one load
    // spike can't inflate every sample of one gate), per-gate MIN as the
    // headline, the full per-run series + host load averages recorded
    // alongside for adjudication.
    val runs = sys.env.getOrElse("SPARK_GRAFT_PINNED_RUNS", "3").toInt.max(1)
    def loadavg(): String =
      try scala.io.Source.fromFile("/proc/loadavg").mkString.trim
        .split(" ").take(3).mkString("[", ",", "]")
      catch { case _: Exception => "[]" }
    val loads = Seq.newBuilder[String]
    loads += loadavg()
    val failedGates = scala.collection.mutable.LinkedHashSet.empty[String]
    // series(g) = the gate's elapsed seconds, pass by pass
    val series = gates.map(_ -> Seq.newBuilder[Double]).toMap
    for (pass <- 1 to runs) {
      for (g <- gates) {
        val t0 = System.nanoTime()
        // a failed gate must flag itself, never contribute its failure
        // time as a near-zero "measurement" — round_close fails the close
        // when the errors list is non-empty
        try SparkEntry.queries(g)(spark, dir).queryExecution.toRdd.count()
        catch { case t: Throwable =>
          failedGates += g
          System.err.println(s"[pinned] $g failed (pass $pass): ${t.getMessage}")
        }
        series(g) += (System.nanoTime() - t0) / 1e9
      }
      loads += loadavg()
    }
    def s3(v: Double) = String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    val ok = gates.filterNot(failedGates)
    val qs = ok.map(g => "\"" + g + "\":" + s3(series(g).result().min))
      .mkString("{", ",", "}")
    val ser = ok.map(g => "\"" + g + "\":" +
        series(g).result().map(s3).mkString("[", ",", "]"))
      .mkString("{", ",", "}")
    val errs = failedGates.map("\"" + _ + "\"").mkString("[", ",", "]")
    println(s"""{"metric":"pinned","value":${s3(ok.map(g => series(g).result().min).sum)},""" +
      s""""unit":"sec","n_queries":${ok.size},"runs":$runs,""" +
      s""""statistic":"sum_of_per_gate_min","errors":$errs,""" +
      s""""loadavg":${loads.result().mkString("[", ",", "]")},""" +
      s""""series":$ser,"queries":$qs}""")
    spark.stop()
    if (failedGates.nonEmpty) sys.exit(1)
  }
}
