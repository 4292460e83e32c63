package perfbench

import org.apache.spark.sql.{Column, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.SparkEntry

/** `analytics`: a closed loop over a fixed list of registry gates on a
  * seeded fixture, one driver thread. Operators, UDAFs and in-gate storage
  * writes dominate; the wire server, auth and engine are never touched.
  */
object Analytics {

  /** The gates of `BenchPinned`'s list that fit the run budget on 4 cores
    * and whose DuckDB oracle needs no sketch export (BENCHMARK.md lists the
    * gates left out and why).
    */
  val Gates: Seq[String] = Seq("ts_agg_median", "stream_sessionize_replay",
    "dedup_jaccard", "text_bm25")

  private val vocab = Seq("key", "agg", "row", "scan", "slow", "fast",
    "table", "value", "part", "hash", "merge", "batch", "spark", "the",
    "line", "sort", "window", "join", "filter", "plan", "shuffle", "disk",
    "cache", "broadcast", "bucket", "skew", "codegen", "parquet", "stream",
    "state")

  /** `BenchPinned.writeFixture`'s three tables (events 100k, documents 5k
    * with planted duplicate clusters, embeddings 2k x 64 with label
    * structure), with the seed folded into every hash.
    */
  def writeFixture(spark: SparkSession, dir: String, seed: Long): Unit = {
    def mix(c: Column): Column = xxhash64(lit(seed), c)
    def u(c: Column, m: Long) = pmod(mix(c), lit(m))
    val types = array(Seq("view", "click", "purchase", "error", "signup").map(lit): _*)
    spark.range(100000L)
      .select(col("id").as("event_id"),
        timestamp_micros(lit(1704067200000000L) +
          u(col("id") + 11L, 2592000L) * 1000000L +
          u(col("id") + 13L, 1000000L)).as("ts"),
        when(u(col("id") + 17L, 97L) === 0L, lit(7L))
          .otherwise(u(col("id") + 19L, 2000L)).as("user_id"),
        element_at(types, (u(col("id") + 23L, 5L) + 1L).cast("int")).as("event_type"),
        (u(col("id") + 29L, 10000L).cast("double") / 100.0).as("value"),
        concat(lit("{\"k\": "), u(col("id") + 31L, 100L).cast("string"), lit("}")).as("props"))
      .coalesce(4)
      .write.mode(SaveMode.Overwrite).parquet(s"$dir/events.parquet")

    val vocabCol = array(vocab.map(lit): _*)
    val docSeed = when(col("id") < 1000L, col("id") - pmod(col("id"), lit(5L))).otherwise(col("id"))
    val words = transform(sequence(lit(0L), lit(24L) + u(docSeed + 37L, 10L)),
      j => element_at(vocabCol, (pmod(mix(docSeed * lit(131L) + j + 41L),
        lit(vocab.size.toLong)) + 1L).cast("int")))
    spark.range(5000L)
      .select(col("id").as("doc_id"), array_join(words, " ").as("text"),
        lit("en").as("lang"),
        concat(lit("src"), u(col("id") + 43L, 4L).cast("string")).as("source"))
      .withColumn("n_chars", length(col("text")))
      .coalesce(2)
      .write.mode(SaveMode.Overwrite).parquet(s"$dir/documents.parquet")

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

  /** One repetition: phase boundaries (`System.nanoTime`) and plan shape. */
  final case class Rep(t0: Long, t1: Long, t2: Long, t3: Long, exchanges: Int, scans: Int) {
    def construct: Double = (t1 - t0) / 1e9
    def plan: Double = (t2 - t1) / 1e9
    def exec: Double = (t3 - t2) / 1e9
    def total: Double = (t3 - t0) / 1e9
  }

  /** One timed repetition of a gate: construct (the registry closure,
    * including its eager writes), plan (`executedPlan`), execute
    * (`toRdd.count`, which materializes every row).
    */
  def timeGate(spark: SparkSession, g: String, dir: String): Rep = {
    val t0 = System.nanoTime()
    val df = SparkEntry.queries(g)(spark, dir)
    val t1 = System.nanoTime()
    df.queryExecution.executedPlan
    val t2 = System.nanoTime()
    df.queryExecution.toRdd.count()
    val t3 = System.nanoTime()
    val plan = df.queryExecution.executedPlan
    Rep(t0, t1, t2, t3, SparkTrace.exchanges(plan), SparkTrace.scans(plan))
  }

  def run(spark: SparkSession, seed: Long, seconds: Double, tracer: Option[Tracer],
          sp: Option[SparkTrace], scratch: java.io.File, setupDone: () => Unit): Outcome = {
    val dir = new java.io.File(scratch, "fixture").getAbsolutePath
    val c0 = System.nanoTime()
    writeFixture(spark, dir, seed)
    val c1 = System.nanoTime()
    // one warm-up pass, which also dumps each gate's result for the oracle
    // check (run after this process exits, outside every timed section);
    // per-gate medians absorb a first timed pass that is still warming
    val oracleDir = new java.io.File(scratch, "oracle")
    Gates.foreach { g =>
      SparkEntry.queries(g)(spark, dir).coalesce(1).write.mode(SaveMode.Overwrite)
        .parquet(s"$oracleDir/$g")
    }
    val c2 = System.nanoTime()
    // every gate of the list, "" where the registry has no oracle (a failure)
    val sqls = Gates.map(g => g -> SparkEntry.oracleSql.getOrElse(g, "")).toMap
    Main.writeJson(new java.io.File(oracleDir, "oracle_sql.json"), sqls)
    val c3 = System.nanoTime()
    setupDone()

    val sc = spark.sparkContext
    val reps = scala.collection.mutable.LinkedHashMap(Gates.map(_ -> Vector.empty[Rep]): _*)
    val baseReps = scala.collection.mutable.LinkedHashMap(Gates.map(_ -> Vector.empty[Rep]): _*)
    val t0 = System.nanoTime()
    var pass = 0
    // whole passes (round-robin, so a load spike cannot hit every sample of
    // one gate) until the time is up; at least three
    while (pass < 3 || System.nanoTime() - t0 < seconds * 1e9) {
      // a traced run precedes each pass with one with the Spark listener
      // detached: the baseline of trace.overhead_frac, in the same JVM
      sp.foreach { s =>
        s.settle()
        sc.removeSparkListener(s)
        Gates.foreach(g => baseReps(g) = baseReps(g) :+ timeGate(spark, g, dir))
        sc.addSparkListener(s)
      }
      Gates.foreach { g =>
        val req = s"gate:$g:$pass"
        sc.setLocalProperty(Tracer.ReqProp, req)
        val r = try timeGate(spark, g, dir) finally sc.setLocalProperty(Tracer.ReqProp, null)
        reps(g) = reps(g) :+ r
        tracer.foreach { t =>
          def span(n: String, a: Long, b: Long) =
            t.spans.add(Span(n, req, "gate", t.epochNs(a), t.epochNs(b)))
          t.spans.add(Span("gate", req, "", t.epochNs(r.t0), t.epochNs(r.t3)))
          span("gate.construct", r.t0, r.t1); span("gate.plan", r.t1, r.t2)
          span("gate.exec", r.t2, r.t3)
        }
      }
      pass += 1
    }
    val heap = Serving.heapMb()
    val retainedMb = sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / 1048576.0

    def med(g: String, f: Rep => Double): Double = Stats.median(reps(g).map(f))
    /** Median over passes of the pass's mean gate time, in ms. */
    def passMs(rs: collection.Map[String, Vector[Rep]]): Double =
      Stats.median(rs(Gates.head).indices.map(i => Gates.map(rs(_)(i).total).sum / Gates.size * 1000))
    val total = Gates.map(med(_, _.total)).sum
    val layers = sp match {
      case Some(s) =>
        s.settle()
        def perGate(f: Seq[s.Job] => Double): Double = Gates.map { g =>
          Stats.median((0 until pass).map(i => f(s.jobsOf(_ == s"gate:$g:$i"))))
        }.sum
        val jobs = s.jobsOf(_.startsWith("gate:"))
        val writes = s.execsOf(_.startsWith("gate:")).filter(_.write)
        Gates.map(g => s"gate.$g.s" -> med(g, _.total)).toMap ++ Map(
          "analytics.construct_s" -> Gates.map(med(_, _.construct)).sum,
          "analytics.plan_s" -> Gates.map(med(_, _.plan)).sum,
          "analytics.exec_s" -> Gates.map(med(_, _.exec)).sum,
          "analytics.jobs" -> perGate(_.size.toDouble),
          "analytics.tasks" -> perGate(_.map(_.tasks).sum.toDouble),
          "analytics.shuffle_mb" -> perGate(_.map(_.shuffleBytes).sum / 1048576.0),
          "analytics.spill_mb" -> perGate(_.map(_.spillBytes).sum / 1048576.0),
          "analytics.files_written" ->
            Gates.map(g => Stats.median((0 until pass).map(i =>
              s.execsOf(_ == s"gate:$g:$i").filter(_.write).map(_.filesWritten).sum.toDouble))).sum,
          "analytics.exchanges" -> Gates.map(med(_, _.exchanges.toDouble)).sum,
          "analytics.scans" -> Gates.map(med(_, _.scans.toDouble)).sum,
          "analytics.retained_storage_mb" -> retainedMb,
          "plan.ms_p50" -> Stats.median(Gates.map(med(_, _.plan) * 1000)),
          "spark.job_ms_p50" -> Stats.median(jobs.map(j => (j.endMs - j.startMs).toDouble)),
          "spark.queue_ms_p50" ->
            Stats.median(jobs.filter(_.firstTaskMs > 0).map(j => (j.firstTaskMs - j.startMs).toDouble)),
          "spark.failed_tasks" -> jobs.map(_.failedTasks).sum.toDouble,
          "storage.append_ms_p50" -> Stats.median(writes.map(_.durationMs)),
          "storage.append_ms_p99" -> Stats.pct(writes.map(_.durationMs), 99),
          "trace.overhead_frac" -> passMs(reps) / passMs(baseReps)
        ).map { case (k, v) => k -> (if (v.isNaN) 0.0 else v) }
      case None => Map.empty[String, Double]
    }
    val attempted = pass * Gates.size
    Outcome(
      Map("gates_total_s" -> total, "heap_mb" -> heap),
      Map("p50_ms" -> passMs(reps), "work_s" -> total,
        "heap_mb" -> heap),
      layers, attempted, 0, Nil,
      Seq(f"setup: fixture ${(c1 - c0) / 1e9}%.2f s, warm-up and dump ${(c2 - c1) / 1e9}%.2f s, " +
        f"oracle sql ${(c3 - c2) / 1e9}%.2f s", s"passes=$pass " + Gates.map(g => f"$g=${med(g, _.total)}%.3f").mkString(" ")))
  }
}
