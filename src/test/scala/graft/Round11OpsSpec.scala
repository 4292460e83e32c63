package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Round-11 pins: the mechanical gate-key-uniqueness guard,
  * partition-scoped incremental compaction, and the incremental
  * graph-layout append.
  */
class Round11OpsSpec extends AnyFunSuite with SparkTestBase {

  // ---- gate-roster uniqueness guard (r10 verdict item 2) ------------------

  test("uniqueMap trips on a planted duplicate key") {
    val e = intercept[IllegalArgumentException] {
      SparkEntry.uniqueMap("a" -> 1, "b" -> 2, "a" -> 3)
    }
    assert(e.getMessage.contains("duplicate gate keys"))
    assert(e.getMessage.contains("a"))
  }

  test("gate rosters construct (no duplicates) and pair completely") {
    // touching either val would throw on a duplicate — this test makes the
    // guard part of every suite run, not just Verify/Bench
    val q = SparkEntry.queries.keySet
    val o = SparkEntry.oracleSql.keySet
    assert((o -- q).isEmpty, s"oracles without bodies: ${(o -- q).toSeq.sorted}")
  }

  // ---- TS storage: incremental compact -----------------------------------

  private val tmpRoot = {
    val d = new java.io.File("target/tmp-round11-storage")
    org.apache.commons.io.FileUtils.deleteQuietly(d)
    d.mkdirs()
    d.getAbsolutePath
  }

  /** 3 series x 3 days x 4 rows, event_ids 0..35 — small but multi-
    * partition, so partition-scoped claims are observable.
    */
  private def fixture: org.apache.spark.sql.DataFrame = {
    tsFrame(for {
      (sid, si) <- Seq("alpha", "beta", "gamma").zipWithIndex
      d <- 0 until 3
      i <- 0 until 4
    } yield (sid, day0 + d * 86400000L + i * 1000L,
      (si * 100 + d * 10 + i).toDouble, Map("k" -> i.toString),
      (si * 12 + d * 4 + i).toLong))
  }

  private def files(p: String): Map[String, (Long, Long)] = {
    val out = scala.collection.mutable.Map[String, (Long, Long)]()
    def walk(f: java.io.File, rel: String): Unit =
      if (f.isDirectory) f.listFiles.foreach(c => walk(c, s"$rel/${c.getName}"))
      else out(rel) = (f.length(), f.lastModified())
    walk(new java.io.File(p), "")
    out.toMap
  }

  private val day0 = 1704067200000L // 2024-01-01
  private val betaDay1 = "/series_id=beta/day=2024-01-02"

  /** The fixture with one row appended into beta/day-1 and folded in by a
    * compact whose bound nothing exceeds: that partition then holds two
    * parquet files, every other partition one — the one target of a
    * `maxFilesPerPartition = 1` compact.
    */
  private def overBound(path: String): Unit = {
    import graft.sources.TsStorage
    TsStorage.write(fixture, path)
    TsStorage.append(tsFrame(Seq(
      ("beta", day0 + 86400000L + 500L, 9.5, Map("k" -> "9"), 100L))), path)
    TsStorage.compact(spark, path, maxFilesPerPartition = Int.MaxValue)
    assert(parquetFiles(s"$path$betaDay1") === 2)
  }

  private def parquetFiles(dir: String): Int =
    new java.io.File(dir).listFiles.count(_.getName.endsWith(".parquet"))

  private def view(path: String): Seq[String] =
    graft.sources.TsStorage.read(spark, path)
      .select("series_id", "t", "event_id")
      .collect().map(_.toString).sorted.toSeq

  test("incremental compact touches only tombstoned / over-bound partitions") {
    import graft.sources.TsStorage
    val path = s"$tmpRoot/inc"
    overBound(path)
    val preView = view(path)
    val pre = files(path)
    TsStorage.compact(spark, path, maxFilesPerPartition = 1)
    val post = files(path)
    // every file OUTSIDE beta/day-1 is byte-identical (same name, size,
    // mtime — never rewritten, never copied)
    for ((rel, sig) <- pre if !rel.startsWith(betaDay1) && !rel.endsWith("_SUCCESS"))
      assert(post.get(rel).contains(sig), s"untouched file changed: $rel")
    // beta/day-1 WAS rewritten (its old files are gone) into one file
    assert(pre.keys.exists(_.startsWith(betaDay1)))
    assert(pre.keys.filter(_.startsWith(betaDay1)).forall(!post.contains(_)),
      "over-bound partition not rewritten")
    assert(parquetFiles(s"$path$betaDay1") === 1)
    // view unchanged
    assert(view(path) === preView)
    assert(spark.read.parquet(path).count() === preView.size.toLong)
  }

  test("incremental compact killed at the per-partition swap completes on recovery") {
    import graft.sources.{Commit, TsStorage}
    val path = s"$tmpRoot/crash"
    overBound(path)
    val want = view(path)
    // kill AFTER the manifest commit, BEFORE any file moves
    val boom = new RuntimeException("kill: post-commit")
    Commit.onStep = s => if (s == "committed") throw boom
    val thrown = try intercept[RuntimeException] {
      TsStorage.compact(spark, path, maxFilesPerPartition = 1)
    } finally Commit.onStep = _ => ()
    assert(thrown eq boom)
    assert(new java.io.File(path + "_commit").exists())
    assert(parquetFiles(s"$path$betaDay1") === 2)
    // the next entry point, a reader included, completes the commit in
    // full, and its view is unchanged
    assert(view(path) === want)
    assert(!new java.io.File(path + "_commit").exists())
    assert(parquetFiles(s"$path$betaDay1") === 1)
    // a fresh compact has nothing left to rewrite and clears the stage
    TsStorage.compact(spark, path, maxFilesPerPartition = 1)
    assert(!new java.io.File(path + "_stage").exists())
    assert(view(path) === want)
  }

  test("pagerank: knownNodeCount skips the probe, output bit-identical") {
    val s = spark
    import s.implicits._
    import graft.operators.Graph
    val edges = Seq(("a", "b", 3L), ("b", "c", 2L), ("c", "a", 1L),
      ("a", "c", 1L), ("c", "b", 4L)).toDF("src", "dst", "c")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toString).sorted.toSeq
    val auto = rows(Graph.pagerank(edges, maxIters = 4, tolMicros = 0L))
    // known count, broadcast regime
    assert(rows(Graph.pagerank(edges, maxIters = 4, tolMicros = 0L,
      knownNodeCount = Some(3L))) === auto)
    // known count forcing the shuffle regime — same ranks either way
    assert(rows(Graph.pagerank(edges, maxIters = 4, tolMicros = 0L,
      broadcastNodeLimit = 0L, knownNodeCount = Some(3L))) === auto)
  }

  // ---- IVF index deletion (data removal without a rebuild) ----------------

  test("deleteFromIvf: masked == folded == brute over retained; untouched cells byte-identical") {
    val s = spark
    import s.implicits._
    import graft.operators.Similarity
    // 3 tight clusters in 4-dim so cells are predictable; 60 vectors
    val emb = (0 until 60).map { i =>
      val c = i % 3
      Seq(c * 10.0 + (i % 7) * 0.01, c * -5.0 + (i % 5) * 0.01,
        3.0 - c * 4.0, c + (i % 3) * 0.01).map(_.toFloat)
    }.zipWithIndex.map { case (v, i) => (i.toLong, v) }
      .toDF("vec_id", "embedding")
    val idx = s"$tmpRoot/ivfdel"
    Similarity.writeIvfIndex(emb, idx, nCells = 3)
    val q = emb.filter(col("vec_id") < 4)
      .select(col("vec_id").as("query_id"), col("embedding"))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toString).sorted.toSeq
    // kill every cluster-1 member above 30 (same-cell subset) + id 7
    val doomed = emb.filter((col("vec_id") % 3 === 1 && col("vec_id") > 30) ||
      col("vec_id") === 7).select("vec_id")
    val doomedIds = doomed.collect().map(_.getLong(0)).toSet
    Similarity.deleteFromIvf(spark, idx, doomed)
    val masked = rows(Similarity.ivfTopKIndexed(spark, idx, q, k = 3))
    // no doomed id may surface as a neighbor under the mask
    assert(!masked.exists(r => doomedIds.exists(id => r.contains(s"[$id,"))),
      s"doomed neighbor surfaced: $masked")
    val files = { p: String =>
      val out = scala.collection.mutable.Map[String, (Long, Long)]()
      def walk(f: java.io.File, rel: String): Unit =
        if (f.isDirectory) f.listFiles.foreach(c => walk(c, s"$rel/${c.getName}"))
        else out(rel) = (f.length(), f.lastModified())
      walk(new java.io.File(p), ""); out.toMap
    }
    val preFiles = files(idx)
    val touchedCells = spark.read.parquet(s"$idx/_tombstones")
      .select("cell").distinct().collect().map(_.getInt(0)).toSet
    Similarity.compactIvfIndex(spark, idx)
    val postFiles = files(idx)
    for ((rel, sig) <- preFiles
         if rel.startsWith("/cell=") &&
           !touchedCells.exists(c => rel.startsWith(s"/cell=$c/")))
      assert(postFiles.get(rel).contains(sig), s"untouched cell file changed: $rel")
    assert(!new java.io.File(s"$idx/_tombstones").exists())
    // folded search identical to the masked one
    assert(rows(Similarity.ivfTopKIndexed(spark, idx, q, k = 3)) === masked)
    // doomed rows physically gone
    assert(spark.read.parquet(idx).filter(col("vec_id").isin(doomedIds.toSeq: _*))
      .count() === 0L)
  }

  test("deleteFromIvf: a fully-doomed cell's directory is dropped by the fold") {
    val s = spark
    import s.implicits._
    import graft.operators.Similarity
    val emb = (0 until 20).map { i =>
      val c = i % 2
      (i.toLong, Seq(c * 20.0, 1.0 - c * 2.0, 0.5, c * 3.0).map(_.toFloat))
    }.toDF("vec_id", "embedding")
    val idx = s"$tmpRoot/ivfempty"
    Similarity.writeIvfIndex(emb, idx, nCells = 2)
    // doom every odd id — one whole cluster, hence (at 2 cells) a cell
    val cellOfOdd = spark.read.parquet(idx).filter(col("vec_id") === 1)
      .select("cell").head().getInt(0)
    Similarity.deleteFromIvf(spark, idx, emb.filter(col("vec_id") % 2 === 1)
      .select("vec_id"))
    Similarity.compactIvfIndex(spark, idx)
    assert(!new java.io.File(s"$idx/cell=$cellOfOdd").exists(),
      "fully-doomed cell dir survived (would resurrect once the set cleared)")
    assert(spark.read.parquet(idx).filter(col("vec_id") % 2 === 1).count() === 0L)
  }

  test("deleteFromIvf then re-append: the NEW vector is searchable, never re-dropped") {
    val s = spark
    import s.implicits._
    import graft.operators.Similarity
    val emb = (0 until 20).map { i =>
      (i.toLong, Seq((i % 2) * 20.0f, 1.0f, 0.5f, 2.0f))
    }.toDF("vec_id", "embedding")
    val idx = s"$tmpRoot/ivfreadd"
    Similarity.writeIvfIndex(emb, idx, nCells = 2)
    Similarity.deleteFromIvf(spark, idx,
      emb.filter(col("vec_id") === 6L).select("vec_id"))
    // re-ingest id 6 (frozen centers assign it back to its old cell):
    // the append must fold the colliding tombstone first, not let the
    // old mask hide — and the next fold physically drop — the new row
    Similarity.appendIvfIndex(emb.filter(col("vec_id") === 6L), idx)
    assert(spark.read.parquet(idx).filter(col("vec_id") === 6L).count() === 1L)
    val q = emb.filter(col("vec_id") === 0L)
      .select(col("vec_id").as("query_id"), col("embedding"))
    def hit() = Similarity.ivfTopKIndexed(spark, idx, q, k = 20)
      .filter(col("neighbor_id") === 6L).count()
    assert(hit() === 1L, "re-appended vector masked by its old tombstone")
    Similarity.compactIvfIndex(spark, idx)
    assert(hit() === 1L, "re-appended vector dropped by the fold")
  }

  test("compactIvfIndex retry survives tombstones for an already-dropped cell") {
    val s = spark
    import s.implicits._
    import graft.operators.Similarity
    val emb = (0 until 20).map { i =>
      (i.toLong, Seq((i % 2) * 20.0f, 1.0f, 0.5f, 2.0f))
    }.toDF("vec_id", "embedding")
    val idx = s"$tmpRoot/ivfwedge"
    Similarity.writeIvfIndex(emb, idx, nCells = 2)
    Similarity.deleteFromIvf(spark, idx,
      emb.filter(col("vec_id") % 2 === 1).select("vec_id"))
    // simulate the crash window: the fully-doomed cell's dir is gone but
    // the batches were never cleared
    val cellOfOdd = spark.read.parquet(s"$idx/_tombstones")
      .select("cell").head().getInt(0)
    org.apache.commons.io.FileUtils.deleteDirectory(
      new java.io.File(s"$idx/cell=$cellOfOdd"))
    // the retry must fold to completion, not wedge on the missing path
    Similarity.compactIvfIndex(spark, idx)
    assert(!new java.io.File(s"$idx/_tombstones").exists())
    assert(spark.read.parquet(idx).filter(col("vec_id") % 2 === 1).count() === 0L)
  }

  // ---- incremental graph-layout maintenance -------------------------------

  test("appendEdges: census parity with full rebuild, idempotent retry") {
    val s = spark
    import s.implicits._
    import graft.operators.Graph
    // a ring + chords, split 70/30; batch overlaps the base by two edges
    // (the per-table dedup must drop them)
    val all = ((0 until 30).map(i => (i.toLong, ((i + 1) % 30).toLong)) ++
      Seq((0L, 15L), (3L, 21L), (7L, 28L), (2L, 9L), (11L, 24L)))
      .map { case (a, b) => (math.min(a, b), math.max(a, b)) }.distinct
    val (base, batch) = all.splitAt(24)
    val batchWithDups = batch ++ base.take(2)
    val (tU, tV) = ("graft_r11_app_byu", "graft_r11_app_byv")
    spark.sql(s"DROP TABLE IF EXISTS $tU")
    spark.sql(s"DROP TABLE IF EXISTS $tV")
    val baseDf = base.toDF("a", "b")
    val und = baseDf.select(col("a").as("u"), col("b").as("v"))
      .unionAll(baseDf.select(col("b").as("u"), col("a").as("v")))
    und.write.format("parquet").bucketBy(4, "u").sortBy("u").saveAsTable(tU)
    und.write.format("parquet").bucketBy(4, "v").sortBy("v").saveAsTable(tV)
    Graph.appendEdges(batchWithDups.toDF("a", "b"), tU, tV, nBuckets = 4)
    def censusStored(): Seq[String] = {
      val byU = spark.table(tU)
      val stored = byU.filter(col("u") < col("v"))
        .select(col("u").as("a"), col("v").as("b"))
      Graph.fofCensusStored(spark.table(tV), byU, stored)
        .collect().map(_.toString).sorted.toSeq
    }
    val want = Graph.fofCensus(all.toDF("a", "b"))
      .collect().map(_.toString).sorted.toSeq
    assert(censusStored() === want)
    // no duplicate rows landed; both orders carry exactly 2|E|
    assert(spark.table(tU).count() === 2L * all.size)
    assert(spark.table(tV).count() === 2L * all.size)
    // idempotent retry (the crash-between-the-two-appends story): the
    // same batch again appends nothing anywhere
    Graph.appendEdges(batchWithDups.toDF("a", "b"), tU, tV, nBuckets = 4)
    assert(spark.table(tU).count() === 2L * all.size)
    assert(spark.table(tV).count() === 2L * all.size)
    assert(censusStored() === want)
    spark.sql(s"DROP TABLE IF EXISTS $tU")
    spark.sql(s"DROP TABLE IF EXISTS $tV")
  }

  test("incremental compact killed before its commit rolls back cleanly") {
    import graft.sources.{Commit, TsStorage}
    val path = s"$tmpRoot/crashpre"
    overBound(path)
    val want = view(path)
    val pre = files(path)
    Commit.onStep = s => if (s == "staged") throw new RuntimeException("kill: pre-commit")
    try intercept[RuntimeException] {
      TsStorage.compact(spark, path, maxFilesPerPartition = 1)
    } finally Commit.onStep = _ => ()
    // no manifest committed: the table bytes are untouched, the view
    // unchanged, and the next compact completes from scratch
    assert(!new java.io.File(path + "_commit").exists())
    assert(files(path).filterNot(_._1.endsWith("_SUCCESS")) ===
      pre.filterNot(_._1.endsWith("_SUCCESS")))
    TsStorage.compact(spark, path, maxFilesPerPartition = 1)
    assert(view(path) === want)
    assert(parquetFiles(s"$path$betaDay1") === 1)
  }

  test("ts_compact_incremental's compact rewrites at least one partition at sf0.001") {
    // the gate's storage steps, counting commits: the rewrite delete
    // commits once, and the compact commits only when some partition is
    // over its bound
    val d = "/root/testdata/sf0.001"
    var commits = 0
    graft.sources.Commit.onStep = s => if (s == "committed") commits += 1
    val dir = try SparkEntry.compactIncremental(spark, d)
      finally graft.sources.Commit.onStep = _ => ()
    val rewrote = commits == 2
    assert(rewrote, "the gate's compact had no partition over its bound")
    for {
      sd <- new java.io.File(dir).listFiles if sd.getName.startsWith("series_id=")
      dd <- sd.listFiles if dd.getName.startsWith("day=")
    } assert(parquetFiles(dd.getPath) <= 4, s"${sd.getName}/${dd.getName}")
    // and the gate's view is the rewrite delete's
    def rows(gate: String) =
      SparkEntry.queries(gate)(spark, d).collect().map(_.toString).sorted.toSeq
    assert(rows("ts_compact_incremental") === rows("ts_storage_delete"))
  }
}
