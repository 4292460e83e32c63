package graft
import org.apache.spark.sql.SparkSession
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // Warm the JVM paths shared across queries (parquet reader, window
    // exec, broadcast/shuffled joins, Generate, codegen compiler) on the
    // TINY sf0.001 tables so the first measured queries don't absorb
    // session startup. Whole-stage codegen is per-plan, so this warms the
    // machinery, not the measured queries' own compiled classes.
    // Pre-run EVERY measured query once on the tiny SF so no subset is
    // flattered by a warmer codegen/JIT cache than the rest (a warmup over
    // only 4 queries biased cross-query comparison in round 3).
    // a failed warm-up gate is logged by name and the run goes on: the
    // measured runs below flag a gate that also fails at bench SF
    val log = org.slf4j.LoggerFactory.getLogger(getClass)
    import scala.util.control.NonFatal
    try {
      SparkEntry.entry(spark).count()
      val warmDir = "/root/testdata/sf0.001"
      SparkEntry.queries.keys.foreach { q =>
        try SparkEntry.queries(q)(spark, warmDir).queryExecution.toRdd.count()
        catch { case NonFatal(t) => log.warn(s"warm-up gate $q failed", t) }
      }
    } catch { case NonFatal(t) => log.warn("warm-up entry failed", t) }
    // min-of-N per query (default 2): a single-shot timing on a shared
    // box folds host-load spikes into the number — round 7's driver run
    // read ~2.3x inflated on exactly that. The minimum of two
    // back-to-back runs is the cheapest robust estimator of the plan's
    // actual cost; side-effectful gates (storage write/delete) are
    // idempotent per invocation, so re-running is safe.
    val runs = sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "2").toInt.max(1)
    // same rule as BenchPinned (r11): a failed gate flags itself in an
    // errors list rather than contributing its failure time as a bogus
    // "measurement" — Verify is the correctness gate, but the bench must
    // not silently paper over a gate that only breaks at bench SF
    val errored = scala.collection.mutable.ArrayBuffer[String]()
    val results = SparkEntry.queries.map { case (name, fn) =>
      var failed = false
      val best = (1 to runs).map { _ =>
        val t0 = System.nanoTime()
        // toRdd.count() materializes every output row (a bare count()
        // would let Catalyst prune all columns and skip the real work)
        try { fn(spark, sfDir).queryExecution.toRdd.count() }
        catch { case t: Throwable =>
          failed = true
          System.err.println(s"[bench] $name failed: ${t.getMessage}")
        }
        (System.nanoTime() - t0) / 1e9
      }.min
      if (failed) errored += name
      name -> best
    }.filter { case (k, _) => !errored.contains(k) }
    // Locale.ROOT: an f-interpolator uses the JVM default locale, which
    // on e.g. de_DE emits "1,234" and corrupts the JSON line
    def s3(v: Double) = String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    val qs = results.map { case (k, v) => s"\"" + k + "\":" + s3(v) }
      .mkString("{", ",", "}")
    val total = if (results.nonEmpty) results.values.sum else 0.0
    // r14 measurement-contract fix (VERDICT r13 item 1): the full
    // per-query map previously went ONLY to a single mutable BENCH.out,
    // which the driver's subsequent low-core run overwrote — PERF_r13 had
    // n_common=0 and no adjudicable per-query data. Now the full map line
    // (metric/value/unit/queries/sf, the declared driver contract) is
    // ALSO printed on stdout, BEFORE the compact summary, so a whole-read
    // driver finds it while a ~2 KB tail capture still ends on the
    // complete summary line; and the file channel additionally writes a
    // per-run BENCH.out.<cpus>c that later runs at other core counts
    // never clobber. Timing methodology is unchanged.
    val top5 = results.toSeq.sortBy(-_._2).take(5)
      .map { case (k, v) => s"\"" + k + "\":" + s3(v) }.mkString("{", ",", "}")
    val errs = errored.sorted.map("\"" + _ + "\"").mkString("[", ",", "]")
    val summary = s"""{"metric":"total","value":${s3(total)},"unit":"sec",""" +
      s""""n_queries":${results.size},"errors":$errs,"top5":$top5,""" +
      s""""cpus":$cpus,"sf":"$sfDir"}"""
    val line = s"""{"metric":"total","value":${s3(total)},"unit":"sec",""" +
      s""""errors":$errs,"queries":$qs,"cpus":$cpus,"sf":"$sfDir"}"""
    println(line)
    println(summary)
    // sbt interleaves [info]/[error] prefixes on stdout, which breaks the
    // driver's JSON-line scrape; a plain file is the reliable channel.
    // Full map first, summary LAST: a whole-file read finds both, a ~2 KB
    // tail capture still ends on the complete summary line.
    val out = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "BENCH.out")
    val payload = (line + "\n" + summary + "\n")
      .getBytes(java.nio.charset.StandardCharsets.UTF_8)
    java.nio.file.Files.write(java.nio.file.Paths.get(out), payload)
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$out.${cpus}c"), payload)
    spark.stop()
  }
}
