package perfbench

import org.apache.spark.sql.SparkSession

/** One workload run in its own JVM:
  * `perfbench.Main <workload> <seed> <seconds> <trace 0|1> <scratch dir> <launch epoch ms>`.
  * Writes `result.json` (and, traced, `spans.jsonl`) into the scratch dir;
  * `run.py` turns it into the benchmark's report.
  */
object Main {

  def main(args: Array[String]): Unit = {
    val Array(workload, seedS, secondsS, traceS, scratchS, launchS) = args
    val seed = seedS.toLong
    val seconds = secondsS.toDouble
    val trace = traceS == "1"
    val scratch = new java.io.File(scratchS)
    val launchMs = launchS.toDouble
    val cpus = Runtime.getRuntime.availableProcessors()
    // built as WireMain builds its session
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", new java.io.File(scratch, "spark-local").getAbsolutePath)
      .config("spark.sql.warehouse.dir", new java.io.File(scratch, "warehouse").getAbsolutePath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val tracer = if (trace) Some(new Tracer) else None
    val sp = if (trace) Some(new SparkTrace) else None
    sp.foreach(spark.sparkContext.addSparkListener)
    var setupEndMs = -1.0
    val sessionMs = System.currentTimeMillis() - launchMs
    val setupDone = () => setupEndMs = System.currentTimeMillis().toDouble
    try {
      val run = workload match {
        case "ingest" => Ingest.run _
        case "analytics" => Analytics.run _
        case other => throw new IllegalArgumentException(s"unknown workload $other")
      }
      val o = run(spark, seed, seconds, tracer, sp, scratch, setupDone)
      val setupS = (setupEndMs - launchMs) / 1000.0
      for (t <- tracer; s <- sp) {
        s.settle()
        t.addJobs(s)
        t.write(new java.io.File(scratch, "spans.jsonl").toPath)
      }
      writeJson(new java.io.File(scratch, "result.json"), Map(
        "workload" -> workload, "seed" -> seed,
        "metrics" -> (o.metrics + ("setup_s" -> setupS)),
        "universal" -> (o.universal + ("setup_s" -> setupS)),
        "layers" -> o.layers, "attempted" -> o.attempted, "failed" -> o.failed,
        "failures" -> o.failures,
        "notes" -> (f"setup: JVM and SparkSession ${sessionMs / 1000}%.2f s" +: o.notes)))
    } finally spark.stop()
  }

  def ramMb: Long = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getTotalMemorySize / 1048576L

  private def esc(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }

  def json(v: Any): String = v match {
    case s: String => "\"" + esc(s) + "\""
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] => m.toSeq.sortBy(_._1.toString)
      .map { case (k, x) => json(k.toString) + ": " + json(x) }.mkString("{", ", ", "}")
    case xs: Seq[_] => xs.map(json).mkString("[", ", ", "]")
    case other => throw new IllegalArgumentException(s"no JSON form for $other")
  }

  def writeJson(f: java.io.File, v: Any): Unit =
    java.nio.file.Files.writeString(f.toPath, json(v))
}
