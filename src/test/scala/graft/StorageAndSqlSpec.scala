package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.model.TsModel
import graft.sources.{Commit, TsStorage}

class StorageAndSqlSpec extends AnyFunSuite with SparkTestBase {

  // wiped per run: a table's sibling dirs (`_runs`, `_stage`, ...)
  // outlive the per-test delete of its root
  private lazy val tmpRoot = {
    val p = new java.io.File("target/tmp-storage")
    org.apache.commons.io.FileUtils.deleteQuietly(p)
    p.mkdirs()
    p.getAbsolutePath
  }

  test("partitioned layout round-trips and prunes partitions (SURVEY §4 row 1)") {
    val ts = TsModel.ts(spark, "/root/testdata/sf0.001")
    val path = s"$tmpRoot/ts_part"
    TsStorage.write(ts, path)
    val back = TsStorage.read(spark, path)
    assert(back.count() === ts.count())
    // series filter must prune at PARTITION level, not row level
    val plan = back.filter(org.apache.spark.sql.functions.col("series_id") === "purchase")
      .queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") &&
      plan.contains("(series_id") && plan.contains("purchase"),
      s"no partition filter in:\n$plan")
    // values survive the round trip
    val a = ts.select("event_id", "value").collect().map(r => (r.getLong(0), r.getDouble(1))).toSet
    val b = back.select("event_id", "value").collect().map(r => (r.getLong(0), r.getDouble(1))).toSet
    assert(a === b)
  }

  test("append lands new rows; compact preserves content (S1/S2)") {
    val ts = TsModel.ts(spark, "/root/testdata/sf0.001")
    val path = s"$tmpRoot/ts_append"
    TsStorage.write(ts, path)
    // append takes a driver-local frame (the engine's flush buffer shape)
    val extra = ts.limit(50)
    val extraDf = spark.createDataFrame(
      java.util.Arrays.asList(extra.collect(): _*), extra.schema)
    TsStorage.append(extraDf, path)
    assert(TsStorage.read(spark, path).count() === ts.count() + 50)
    TsStorage.compact(spark, path)
    assert(TsStorage.read(spark, path).count() === ts.count() + 50)
    // single-file compaction: exactly one parquet file per partition dir
    def filesPerDir(p: String): Seq[Int] = {
      val dirs = for {
        sid <- new java.io.File(p).listFiles.toSeq if sid.getName.startsWith("series_id=")
        day <- sid.listFiles.toSeq if day.getName.startsWith("day=")
      } yield day.listFiles.count(_.getName.endsWith(".parquet"))
      dirs
    }
    assert(filesPerDir(path).forall(_ == 1))
    // the file-count bound is honored (salted repartition): four more
    // batches, each folded in by a compact whose bound nothing exceeds,
    // leave their dirs at 5 files; a compact to <= 3 rewrites them
    for (_ <- 1 to 4) {
      TsStorage.append(extraDf, path)
      TsStorage.compact(spark, path, maxFilesPerPartition = Int.MaxValue)
    }
    assert(filesPerDir(path).max === 5)
    TsStorage.compact(spark, path, maxFilesPerPartition = 3)
    val counts = filesPerDir(path)
    assert(counts.forall(_ <= 3), s"over bound: $counts")
    assert(TsStorage.read(spark, path).count() === ts.count() + 250)
    // and the partition-scoped compact squeezes back under a tighter
    // bound, skipping already-single-file dirs
    TsStorage.compact(spark, path)
    assert(filesPerDir(path).forall(_ == 1))
    assert(TsStorage.read(spark, path).count() === ts.count() + 250)
  }

  test("storage delete rewrites only affected partitions, drops emptied ones (S6 at scale)") {
    import org.apache.spark.sql.functions.col
    val ts = TsModel.ts(spark, "/root/testdata/sf0.001")
    val path = s"$tmpRoot/ts_delete"
    TsStorage.write(ts, path)
    val before = TsStorage.read(spark, path)
    val total = before.count()
    // delete one series over a mid-January window (bystander semantics)
    val from = 1704844800000L; val to = 1705276800000L
    val doomedTs = before.filter(col("series_id") === "error" &&
      col("t") >= from && col("t") <= to).select("t").distinct()
      .collect().map(_.getLong(0)).toSet
    val expectDead = before.filter(col("series_id") === "error")
      .collect().count(r => doomedTs(r.getAs[Long]("t")))
    TsStorage.delete(spark, path, Seq("error"),
      graft.operators.TimeRange(from, to), None)
    val after = TsStorage.read(spark, path)
    assert(after.count() === total - expectDead)
    assert(after.filter(col("series_id") === "error" &&
      col("t") >= from && col("t") <= to).count() === 0)
    // other series untouched
    assert(after.filter(col("series_id") =!= "error").count() ===
      before.filter(col("series_id") =!= "error").count())
    // a whole-series delete drops every partition directory of that series
    TsStorage.delete(spark, path, Seq("click"),
      graft.operators.Since(0L), None)
    assert(TsStorage.read(spark, path).filter(col("series_id") === "click").count() === 0)
    assert(!new java.io.File(s"$path/series_id=click").exists())
  }

  test("delete killed between survivor write and swap leaves the table unchanged") {
    import org.apache.spark.sql.functions.col
    val ts = TsModel.ts(spark, "/root/testdata/sf0.001")
    val path = s"$tmpRoot/ts_delete_crash"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(path))
    TsStorage.write(ts, path)
    val before = TsStorage.read(spark, path)
      .collect().map(_.toString).sorted
    // kill the call once the survivors are staged, before its commit
    Commit.onStep = s => if (s == "staged") throw new RuntimeException("injected crash")
    val boom = try intercept[RuntimeException] {
      TsStorage.delete(spark, path, Seq("error"),
        graft.operators.TimeRange(1704844800000L, 1705276800000L), None)
    } finally Commit.onStep = _ => ()
    assert(boom.getMessage === "injected crash")
    val after = TsStorage.read(spark, path).collect().map(_.toString).sorted
    assert(after.sameElements(before), "table changed across a pre-swap crash")
    // a clean retry completes the delete
    TsStorage.delete(spark, path, Seq("error"),
      graft.operators.TimeRange(1704844800000L, 1705276800000L), None)
    assert(TsStorage.read(spark, path).filter(col("series_id") === "error" &&
      col("t") >= 1704844800000L && col("t") <= 1705276800000L).count() === 0)
  }

  test("facade backed by TsStorage: post/read/delete against parquet, no membuf") {
    val path = s"$tmpRoot/ts_facade"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(path))
    val e = new GraftEngine(spark, () => 1700000000000L, tsStoragePath = Some(path))
    assert(e.post("/ts/sensor/at/1000", """{"value": 1}""").isRight)
    assert(e.post("/ts/sensor/at/2000", """{"value": 2, "room": "lounge"}""").isRight)
    assert(e.post("/ts/other/at/1500", """{"value": 7}""").isRight)
    assert(e.get("/ts/sensor/length") === """{"length": 2}""")
    assert(e.get("/ts/sensor/latest") ===
      """[{"timestamp": 2000, "data": {"value": 2, "room": "lounge"}}]""")
    // durable delete through the facade, then re-read from disk
    assert(e.delete("/ts/sensor/range/1500/2500").isRight)
    assert(e.get("/ts/sensor/length") === """{"length": 1}""")
    assert(e.get("/ts/other/length") === """{"length": 1}""")
    // a fresh engine over the same path sees the post-delete state
    val e2 = new GraftEngine(spark, () => 1700000000000L, tsStoragePath = Some(path))
    assert(e2.get("/ts/sensor/latest") === """[{"timestamp": 1000, "data": {"value": 1}}]""")
  }

  test("storage-backed facade edge cases: empty table, pre-write delete, id resume") {
    val path = s"$tmpRoot/ts_facade_edge"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(path))
    val e = new GraftEngine(spark, () => 1700000000000L, tsStoragePath = Some(path))
    // delete and read before ANY write: no-op / empty, not a crash
    assert(e.delete("/ts/x/range/0/10").isRight)
    assert(e.get("/ts/x/length") === """{"length": 0}""")
    assert(e.post("/ts/x/at/1000", """{"value": 1}""").isRight)
    assert(e.post("/ts/x/at/2000", """{"value": 2}""").isRight)
    // delete EVERYTHING: the table dir remains but holds no partitions —
    // reads must fall back to the empty frame
    assert(e.delete("/ts/x/since/0").isRight)
    assert(e.get("/ts/x/length") === """{"length": 0}""")
    // a restarted engine resumes the event-id sequence from the table
    assert(e.post("/ts/x/at/3000", """{"value": 3}""").isRight)
    val e2 = new GraftEngine(spark, () => 1700000000000L, tsStoragePath = Some(path))
    assert(e2.post("/ts/x/at/3000", """{"value": 9}""").isRight)
    // same timestamp, later write: the new row must WIN the tie, which it
    // only can if its event_id continued past the persisted one
    assert(e2.get("/ts/x/latest") === """[{"timestamp": 3000, "data": {"value": 9}}]""")
  }

  test("append into a crashed-compact state heals first; the rewrite is never orphaned") {
    import org.apache.spark.sql.functions.col
    val ts = TsModel.ts(spark, "/root/testdata/sf0.001")
    val path = s"$tmpRoot/ts_append_heal"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(path))
    TsStorage.write(ts, path)
    val total = TsStorage.read(spark, path).count()
    def local(df: org.apache.spark.sql.DataFrame) = // materialized: files move below
      spark.createDataFrame(java.util.Arrays.asList(df.collect(): _*), df.schema)
    val newest = TsStorage.read(spark, path).orderBy(col("event_id").desc).limit(1)
    // a second copy of the newest row, folded in: its dir now holds two
    // files, the one target of a compact to one file per partition
    TsStorage.append(local(newest.withColumn("event_id", col("event_id") + 1)), path)
    TsStorage.compact(spark, path, maxFilesPerPartition = Int.MaxValue)
    val extraDf = local(newest.withColumn("t", col("t") + 999999999L)
      .withColumn("event_id", col("event_id") + 2))
    // crash state: the compact committed its manifest and moved its
    // rewrite in, but never retired the target's old files — a table
    // that shows the target's rows twice until the commit is applied
    Commit.onStep = s => if (s == "added") throw new RuntimeException("injected crash")
    try intercept[RuntimeException] {
      TsStorage.compact(spark, path, maxFilesPerPartition = 1)
    } finally Commit.onStep = _ => ()
    val manifest = new java.io.File(s"${path}_commit")
    val dirs = new String(Files.readAllBytes(manifest.toPath), "UTF-8").split("\n").toSeq
      .map(line => new java.io.File(path).getParentFile.toPath.resolve(line.drop(2)).getParent)
      .distinct
    val rel = dirs match {
      case Seq(dir) => dir
      case _ => fail(s"expected one target, got $dirs")
    }
    assert(rel.toFile.listFiles.count(_.getName.endsWith(".parquet")) === 3)
    TsStorage.append(extraDf, path)
    assert(!manifest.exists() && rel.toFile.listFiles.count(_.getName.endsWith(".parquet")) === 1)
    assert(TsStorage.read(spark, path).count() === total + 2)
    TsStorage.compact(spark, path)
    assert(TsStorage.read(spark, path).count() === total + 2)
    assert(!new java.io.File(s"${path}_stage").exists())
  }

  test("blob-table compact killed between its two renames: facade heals, blobs intact") {
    val path = s"$tmpRoot/ts_blob_compact_crash"
    val blob = s"${path}_blob"
    val e = new GraftEngine(spark, () => 1700000000000L, tsStoragePath = Some(path))
    assert(e.post("/ts/blob/cam/at/1000", """{"frame": "AAAA"}""").isRight)
    assert(e.post("/ts/blob/mic/at/1500", """{"pcm": "CCCC"}""").isRight)
    // two folds: cam's (series, day) dir ends up holding two files, the
    // one target of a compact to one file per partition
    e.compact(maxFilesPerPartition = Int.MaxValue)
    assert(e.post("/ts/blob/cam/at/2000", """{"frame": "BBBB"}""").isRight)
    e.compact(maxFilesPerPartition = Int.MaxValue)
    val want = e.get("/ts/blob/cam/last/2")
    // crash state on the BLOB sibling: the compact committed its manifest
    // and moved cam's rewrite in, but its old files were never retired;
    // the numeric table is untouched
    Commit.onStep = s => if (s == "added") throw new RuntimeException("injected crash")
    try intercept[RuntimeException] {
      TsStorage.compact(spark, blob, maxFilesPerPartition = 1)
    } finally Commit.onStep = _ => ()
    val cam = new java.io.File(blob, "series_id=cam").listFiles.head
    assert(cam.listFiles.count(_.getName.endsWith(".parquet")) === 3)
    // a FRESH engine over the same path must complete the commit at
    // construction and serve every blob once
    val e2 = new GraftEngine(spark, () => 1700000000000L, tsStoragePath = Some(path))
    assert(!new java.io.File(s"${blob}_commit").exists())
    assert(cam.listFiles.count(_.getName.endsWith(".parquet")) === 1)
    assert(e2.get("/ts/blob/cam/last/2") === want)
    assert(e2.get("/ts/blob/mic/length") === """{"length": 1}""")
  }

  test("write-behind ingest batches appends; facade compact sweeps numeric AND blob") {
    val path = s"$tmpRoot/ts_writebehind"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(path))
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(s"${path}_blob"))
    val e = new GraftEngine(spark, () => 1700000000000L, tsStoragePath = Some(path),
      flushEveryRows = 4)
    // three posts stay pending: no Spark job, no parquet file per POST
    assert(e.post("/ts/s/at/1000", """{"value": 1}""").isRight)
    assert(e.post("/ts/s/at/2000", """{"value": 2}""").isRight)
    assert(e.post("/ts/s/at/3000", """{"value": 3}""").isRight)
    def runs() = Option(new java.io.File(s"${path}_runs").listFiles).toSeq.flatten
      .count(_.getName.endsWith(".parquet"))
    assert(!new java.io.File(path).exists() && runs() === 0)
    // reads flush first: read-your-writes holds across the buffer; the
    // flush lands as one run file (the layout comes with the fold)
    assert(e.get("/ts/s/length") === """{"length": 3}""")
    assert(runs() === 1)
    assert(e.post("/ts/s/at/4000", """{"value": 4}""").isRight)
    assert(e.post("/ts/s/at/5000", """{"value": 5}""").isRight) // pending
    // blob writes ride the same write-behind; their reads flush too
    assert(e.post("/ts/blob/b/at/1000", """{"x": 1}""").isRight)
    assert(e.get("/ts/blob/b/length") === """{"length": 1}""")
    // durable delete flushes pending rows first (they must not survive)
    assert(e.post("/ts/s/at/6000", """{"value": 6}""").isRight)
    assert(e.delete("/ts/s/range/5500/6500").isRight)
    assert(e.get("/ts/s/length") === """{"length": 5}""")
    // facade compact: flushes, then coalesces BOTH tables to 1 file/partition
    e.compact()
    def files(p: String) = for {
      sid <- new java.io.File(p).listFiles.toSeq if sid.getName.startsWith("series_id=")
      day <- sid.listFiles.toSeq if day.getName.startsWith("day=")
    } yield day.listFiles.count(_.getName.endsWith(".parquet"))
    assert(files(path).nonEmpty && files(path).forall(_ == 1))
    assert(files(s"${path}_blob").nonEmpty && files(s"${path}_blob").forall(_ == 1))
    // a fresh engine over the same path sees the flushed state
    val e2 = new GraftEngine(spark, () => 1700000000000L, tsStoragePath = Some(path))
    assert(e2.get("/ts/s/length") === """{"length": 5}""")
    assert(e2.get("/ts/blob/b/length") === """{"length": 1}""")
  }

  test("bucketed tables co-locate the fact join: no Exchange in the plan") {
    import org.apache.spark.sql.functions.col
    val s = spark // bucketed tables land in the default spark-warehouse dir
    val d = "/root/testdata/sf0.001"
    Seq("orders_bkt", "lineitem_bkt").foreach { t =>
      s.sql(s"DROP TABLE IF EXISTS $t")
      // the catalog is in-memory but the location persists across JVMs
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(s"spark-warehouse/$t"))
    }
    // bucket both join sides by the key; at 100 TB this is written once at
    // ingest and every orderkey join afterwards skips its shuffle
    Tables.orders(s, d).write.bucketBy(8, "o_orderkey")
      .sortBy("o_orderkey").mode("overwrite").saveAsTable("orders_bkt")
    Tables.lineitem(s, d).write.bucketBy(8, "l_orderkey")
      .sortBy("l_orderkey").mode("overwrite").saveAsTable("lineitem_bkt")
    val prevThresh = s.conf.get("spark.sql.autoBroadcastJoinThreshold")
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force the merge path
    try {
      val j = s.table("lineitem_bkt").join(s.table("orders_bkt"),
        col("l_orderkey") === col("o_orderkey"))
      val plan = j.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"),
        s"bucketed join still shuffles:\n$plan")
      assert(j.count() === Tables.lineitem(s, d).count()) // FK join keeps all lineitems
    } finally s.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThresh)
  }

  test("blob series round-trip through the partitioned layout") {
    import org.apache.spark.sql.functions.col
    val blob = TsModel.tsBlob(spark, "/root/testdata/sf0.001")
    val path = s"$tmpRoot/ts_blob"
    TsStorage.write(blob, path)
    val back = TsStorage.read(spark, path)
    assert(back.columns.contains("blob"))
    val a = blob.select("event_id", "blob").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    val b = back.select("event_id", "blob").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(a === b)
    // delete works over the blob layout too (shared storage code path)
    TsStorage.delete(spark, path, Seq("purchase"), graft.operators.Since(0L), None)
    assert(TsStorage.read(spark, path).filter(col("series_id") === "purchase").count() === 0)
  }

  test("custom expressions usable from spark.sql after register()") {
    GraftFunctions.register(spark)
    GraftFunctions.registerViews(spark, "/root/testdata/sf0.001")
    val sim = spark.sql(
      "SELECT cosine_sim(CAST(array(1.0,2.0) AS array<double>), CAST(array(2.0,4.0) AS array<double>)) AS s")
      .head().getDouble(0)
    assert(math.abs(sim - 1.0) < 1e-12)
    val sh = spark.sql("SELECT simhash64(array('a','b')) AS h").head().getLong(0)
    assert(sh === spark.sql("SELECT simhash64(array('a','b')) AS h").head().getLong(0))
    val top = spark.sql(
      """SELECT series_id, inline(topk_rows(struct(t, event_id, value), 2, true))
        |FROM ts GROUP BY series_id""".stripMargin)
    assert(top.count() === 10) // 5 series x 2
    // free-form SQL over the TS view
    val agg = spark.sql("SELECT max(value) FROM ts WHERE series_id = 'purchase'")
    assert(agg.head().getDouble(0) > 0)
  }

  test("GraftExtensions wires the same functions for new sessions") {
    val e = new org.apache.spark.sql.SparkSessionExtensions
    new GraftExtensions().apply(e) // builds without error; injection is
    // exercised for real through the registry path above (same builders)
  }
}
