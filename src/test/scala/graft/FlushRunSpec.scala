package graft

import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import scala.jdk.CollectionConverters._

import graft.operators.TimeRange
import graft.sources.{Commit, KvStorage, LocalWrite, TsStorage}

/** The S1 write path: an engine flush lands as one flush run with no
  * Spark job, reads see root ∪ runs, and a bounded fold moves the runs
  * into the `(series_id, day)` layout crash-atomically.
  */
class FlushRunSpec extends AnyFunSuite with SparkTestBase with TempDirs {

  private def freshDir(): String =
    tempDir("graft-runs-spec").getAbsolutePath + "/ts"

  private def parquetFiles(dir: String): Seq[java.io.File] =
    Option(new java.io.File(dir).listFiles).toSeq.flatten
      .filter(f => f.getName.endsWith(".parquet") && !f.getName.startsWith("."))

  private def runFiles(root: String): Seq[java.io.File] = parquetFiles(root + "_runs")

  private def hasPartitions(root: String): Boolean =
    Option(new java.io.File(root).listFiles).toSeq.flatten
      .exists(_.getName.startsWith("series_id="))

  private val day0 = 1704067200000L

  /** 12 rows over two series and two days, as `n` driver-local batches. */
  private def batches(n: Int): Seq[org.apache.spark.sql.DataFrame] = {
    val rows = for (i <- 0 until 12) yield
      (if (i % 2 == 0) "a" else "b", day0 + (i % 3) * 43200000L + i,
        i.toDouble, Map("k" -> s"v${i % 3}"), i.toLong + 1)
    rows.grouped(math.ceil(12.0 / n).toInt).map(tsFrame).toSeq
  }

  private def ids(root: String): Seq[Long] =
    TsStorage.read(spark, root).select("event_id").collect().map(_.getLong(0)).sorted.toSeq

  /** The footer facts a reader sees of one parquet file: its key-value
    * metadata, its row count, and each column chunk's codec and encodings.
    */
  private def footer(f: java.io.File) = {
    val r = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(f.getAbsolutePath), spark.sparkContext.hadoopConfiguration))
    try {
      val m = r.getFooter
      val chunks = m.getBlocks.asScala.toSeq.flatMap(_.getColumns.asScala.map(c =>
        (c.getPath.toDotString, c.getCodec, c.getEncodings.asScala.toSet)))
      (m.getFileMetaData.getKeyValueMetaData.asScala.toMap, r.getRecordCount, chunks)
    } finally r.close()
  }

  test("a run and a Spark-written file of the same rows read back equal") {
    val s = spark
    import s.implicits._
    val numeric = Seq(
      ("a", 1000L, 1.5, Map("k" -> "v", "x" -> "y"), 1L),
      ("b", 2000L, -2.0, Map.empty[String, String], 2L),
      ("a", 3000L, 0.0, Map("k" -> "w"), 3L)).toDF("series_id", "t", "value", "tags", "event_id")
    val blob = Seq(("cam", 1000L, """{"f": "a"}""", 7L), ("cam", 2000L, "[]", 8L))
      .toDF("series_id", "t", "blob", "event_id")
    val kv = Seq(("d", "k", """{"v": 1}""", 10L, 4L, false), ("d", "j", "{}", 11L, 5L, true))
      .toDF("id", "key", "value", "write_ts", "event_id", "deleted")
    val sparkMeta = Seq("org.apache.spark.version", "org.apache.spark.sql.parquet.row.metadata")
    for ((df, name) <- Seq(numeric -> "numeric", blob -> "blob", kv -> "kv")) {
      val root = freshDir()
      // the storage's own append, which takes the java.nio branch on a local root
      val local =
        if (name == "kv") { KvStorage.append(df, root + "_kv"); parquetFiles(root + "_kv") }
        else { TsStorage.append(df, root); runFiles(root) }
      assert(local.size === 1, name)
      val rel = LocalWrite.localRelation(df)
      LocalWrite.commit(spark, rel.schema, rel.data.iterator,
        new org.apache.hadoop.fs.Path(root + "_hadoop"), hadoopOutput = true)
      val hadoop = parquetFiles(root + "_hadoop")
      assert(hadoop.size === 1, name)
      df.coalesce(1).write.parquet(root + "_spark")
      val sparkFile = parquetFiles(root + "_spark")
      assert(sparkFile.size === 1, name)
      // each branch took its own OutputFile: only Hadoop's writes a .crc
      def crcs(dir: java.io.File) = dir.listFiles.count(_.getName.endsWith(".crc"))
      assert(crcs(local.head.getParentFile) === 0, name)
      assert(crcs(hadoop.head.getParentFile) === 1, name)
      val expect = spark.read.parquet(sparkFile.head.getAbsolutePath)
      val (expMeta, expRows, expChunks) = footer(sparkFile.head)
      assert(sparkMeta.forall(expMeta.contains), name)
      assert(expRows === df.count(), name)
      for ((file, how) <- Seq(local.head -> "local", hadoop.head -> "hadoop")) {
        val what = s"$name/$how"
        val got = spark.read.parquet(file.getAbsolutePath)
        assert(got.schema === expect.schema, what)
        assert(got.collect().map(_.toString).sorted === expect.collect().map(_.toString).sorted, what)
        val (meta, rows, chunks) = footer(file)
        assert(meta === expMeta, what)
        assert(rows === expRows, what)
        assert(chunks === expChunks, what)
      }
    }
  }

  test("append and KV append reject a distributed frame without a side effect") {
    val root = freshDir()
    val distributed = spark.range(3).select(col("id").cast("string").as("series_id"),
      col("id").as("t"), col("id").cast("double").as("value"), col("id").as("event_id"))
    intercept[IllegalArgumentException](TsStorage.append(distributed, root))
    assert(!new java.io.File(root + "_runs").exists())
    intercept[IllegalArgumentException](KvStorage.append(spark.range(3).select(
      col("id").cast("string").as("id"), col("id").cast("string").as("key"),
      col("id").cast("string").as("value"), col("id").as("write_ts"),
      col("id").as("event_id"), (col("id") < 0).as("deleted")), root + "_kv"))
    assert(!new java.io.File(root + "_kv").exists())
  }

  test("an engine flush of each table and of a KV store runs no Spark job") {
    val root = freshDir()
    var now = 1700000000000L
    val e = new GraftEngine(spark, () => { now += 1; now }, tsStoragePath = Some(root),
      flushEveryRows = 1000)
    // prime class loading and the stores' directories outside the count
    e.post("/ts/s/at/1", """{"value": 1}"""); e.post("/ts/blob/b/at/1", """{"x": 1}""")
    e.kvWrite("json", "d", "k", """{"v": 0}"""); e.flush()
    assert(e.post("/ts/s/at/2", """{"value": 2, "k": "v"}""").isRight)
    e.post("/ts/blob/b/at/2", """{"x": 2}""")
    e.kvWrite("json", "d", "k", """{"v": 1}""")
    assert(jobsDuring(e.flush()) === 0)
    assert(runFiles(root).size === 2 && runFiles(root + "_blob").size === 2)
    assert(e.get("/ts/s/length") === """{"length": 2}""")
    assert(e.kvRead("json", "d", "k") === """{"v": 1}""")
  }

  test("flushEveryRows = 1 folds at the 64-run bound; reads are unchanged by the fold") {
    val root = freshDir()
    var now = 1700000000000L
    val e = new GraftEngine(spark, () => { now += 1; now }, tsStoragePath = Some(root))
    for (i <- 0 until 63) {
      val tag = if (i % 3 == 0) "hot" else "cold"
      assert(e.post(s"/ts/${if (i % 2 == 0) "a" else "b"}/at/${day0 + i * 3600000L}",
        s"""{"value": $i, "room": "$tag"}""").isRight)
    }
    val paths = Seq("/ts/a,b/length", "/ts/a/latest", "/ts/b/latest",
      "/ts/a,b/since/0/mean", "/ts/a,b/since/0/filter/room/equals/hot/count")
    assert(runFiles(root).size === 63 && !hasPartitions(root))
    val before = paths.map(e.get(_))
    // the 64th run reaches the bound: this flush folds
    e.post(s"/ts/z/at/$day0", """{"value": 99}""")
    assert(runFiles(root).isEmpty && hasPartitions(root))
    assert(!new java.io.File(root + "_commit").exists())
    assert(!new java.io.File(root + "_stage").exists())
    assert(paths.map(e.get(_)) === before)
    assert(before.head === """{"length": 63}""")
    assert(e.get("/ts/z/length") === """{"length": 1}""")
    // and a run written after the fold reads together with the layout
    e.post(s"/ts/a/at/${day0 + 999L}", """{"value": -1}""")
    assert(e.get("/ts/a,b/length") === """{"length": 64}""")
  }

  test("all-digit series ids read the same before and after the fold") {
    val root = freshDir()
    var now = 1700000000000L
    val e = new GraftEngine(spark, () => { now += 1; now }, tsStoragePath = Some(root))
    val series = Seq("007", "1e3")
    for (i <- 0 until 63)
      assert(e.post(s"/ts/${series(i % 2)}/at/${day0 + i * 3600000L}", s"""{"value": $i}""").isRight)
    val paths = series.flatMap(id => Seq(s"/ts/$id/length", s"/ts/$id/latest", s"/ts/$id/since/0"))
    val before = paths.map(e.get(_))
    assert(before.head === """{"length": 32}""")
    // the 64th run folds: every read of these series goes through Spark
    // now. Its series is all-digit too, so no id makes inference type the
    // partition column as a string
    e.post(s"/ts/42/at/$day0", """{"value": 99}""")
    assert(runFiles(root).isEmpty && hasPartitions(root))
    assert(paths.map(e.get(_)) === before)
    assert(TsStorage.read(spark, root).select("series_id").distinct().as[String](
      org.apache.spark.sql.Encoders.STRING).collect().sorted.toSeq === Seq("007", "1e3", "42"))
    // a second fold gives each partition a second file, so the
    // compaction rewrites them; it and the rewrite delete read the layout
    // the same way
    for (i <- 0 until 64)
      e.post(s"/ts/${series(i % 2)}/at/${day0 + i * 3600000L + 1}", s"""{"value": ${-i}}""")
    assert(runFiles(root).isEmpty)
    val mid = paths.map(e.get(_))
    assert(mid.head === """{"length": 64}""")
    e.compact()
    val dirs007 = new java.io.File(root, "series_id=007").listFiles.toSeq
    assert(dirs007.nonEmpty && dirs007.forall(d => parquetFiles(d.getPath).size == 1))
    assert(paths.map(e.get(_)) === mid)
    assert(e.delete("/ts/007/latest").isRight)
    assert(e.get("/ts/007/length") === """{"length": 63}""")
  }

  test("a crash at each fold step recovers every row exactly once, reader or writer") {
    val steps = Seq("staged", "committed", "added", "applied")
    for (step <- steps; reader <- Seq(true, false)) {
      val root = freshDir()
      batches(6).foreach(TsStorage.append(_, root))
      val expected = ids(root)
      assert(expected === (1L to 12L))
      Commit.onStep = s => if (s == step) throw new RuntimeException(s"kill@$s")
      try {
        val e = intercept[RuntimeException](TsStorage.compact(spark, root))
        assert(e.getMessage === s"kill@$step")
      } finally Commit.onStep = _ => ()
      val what = s"$step/${if (reader) "reader" else "writer"}"
      if (step == "added")
        assert(new java.io.File(root + "_commit").exists() && hasPartitions(root), what)
      if (reader) assert(ids(root) === expected, what)
      else {
        // a writer's entry: a compact whose bound nothing exceeds
        TsStorage.compact(spark, root, maxFilesPerPartition = Int.MaxValue)
        assert(ids(root) === expected, what)
      }
      // a committed fold is complete after recovery; an uncommitted one
      // left its runs in place, and the next fold finishes the job
      if (step != "staged") assert(runFiles(root).isEmpty, what)
      TsStorage.compact(spark, root)
      assert(ids(root) === expected, what)
      assert(runFiles(root).isEmpty && !new java.io.File(root + "_stage").exists(), what)
    }
  }

  test("a rewrite delete drops a row held only in runs; a later append at its key shows") {
    val root = freshDir()
    batches(3).foreach(TsStorage.append(_, root))
    assert(!hasPartitions(root))
    val doomed = TsStorage.read(spark, root).filter(col("series_id") === "a")
      .orderBy("t").head()
    val t = doomed.getAs[Long]("t")
    TsStorage.delete(spark, root, Seq("a"), TimeRange(t, t), None)
    assert(TsStorage.read(spark, root).filter(col("t") === t).count() === 0L)
    assert(ids(root).size === 11)
    TsStorage.append(tsFrame(Seq(("a", t, 42.0, Map.empty[String, String], 100L))), root)
    val back = TsStorage.read(spark, root).filter(col("t") === t)
      .select("value", "event_id").collect().map(r => (r.getDouble(0), r.getLong(1)))
    assert(back.toSeq === Seq((42.0, 100L)))
    // the fold keeps that view
    TsStorage.compact(spark, root)
    assert(runFiles(root).isEmpty && ids(root).size === 12)
    assert(TsStorage.read(spark, root).filter(col("t") === t)
      .select("value").collect().map(_.getDouble(0)).toSeq === Seq(42.0))
  }

  test("a restarted engine resumes event ids past ids held only in runs") {
    val root = freshDir()
    var now = 1700000000000L
    val clock = () => { now += 1; now }
    val e1 = new GraftEngine(spark, clock, tsStoragePath = Some(root))
    for (i <- 1 to 3) e1.post(s"/ts/s/at/${i * 1000}", s"""{"value": $i}""")
    assert(runFiles(root).size === 3 && !hasPartitions(root))
    assert(TsStorage.exists(spark, root))
    val e2 = new GraftEngine(spark, clock, tsStoragePath = Some(root))
    e2.post("/ts/s/at/4000", """{"value": 4}""")
    assert(ids(root) === Seq(1L, 2L, 3L, 4L))
    assert(e2.get("/ts/s/length") === """{"length": 4}""")
  }

  test("exists: data partitions or committed runs; a hidden in-progress run never counts") {
    val root = freshDir()
    assert(!TsStorage.exists(spark, root))
    val runs = new java.io.File(root + "_runs")
    assert(runs.mkdirs())
    assert(new java.io.File(runs, ".part-0.parquet.inprogress").createNewFile())
    assert(!TsStorage.exists(spark, root))
    TsStorage.append(batches(1).head, root)
    assert(TsStorage.exists(spark, root))
    assert(ids(root).size === 12)
  }
}
