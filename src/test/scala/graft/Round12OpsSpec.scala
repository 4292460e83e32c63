package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Round-12 pins: the id-less compact salt fallback, the bounded read
  * contract, and the PQ/IVFPQ deletion path.
  */
class Round12OpsSpec extends AnyFunSuite with SparkTestBase {

  private val tmpRoot = {
    val d = new java.io.File("target/tmp-round12-storage")
    org.apache.commons.io.FileUtils.deleteQuietly(d)
    d.mkdirs()
    d.getAbsolutePath
  }

  test("compact degrades to a timestamp salt on a table without event_id") {
    val s = spark
    import s.implicits._
    // r11 verdict, What's wrong #3: write()/append() accept arbitrary
    // frames and read() treats event_id as optional, so compacting an
    // id-less table must not throw AnalysisException
    val dir = s"$tmpRoot/noid"
    val rows = for (sid <- Seq("a", "b"); i <- 0 until 8)
      yield (sid, 86400000L * (i % 2) + i.toLong, i.toDouble, Map("k" -> s"v$i"))
    val df = rows.toDF("series_id", "t", "value", "tags")
    graft.sources.TsStorage.write(df, dir)
    graft.sources.TsStorage.append(df.filter(col("t") < 4), dir)
    def census() = graft.sources.TsStorage.read(s, dir)
      .groupBy("series_id").agg(count("*").as("n"), sum(col("value")).as("sv"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
    val before = census()
    // the fold lands the appended rows as a second file in their dirs, so
    // the compact rewrites those dirs with the id-less salt
    graft.sources.TsStorage.compact(s, dir, maxFilesPerPartition = 1)
    assert(census() === before)
    // post-compact bound holds: every (series, day) dir has one file
    val root = new java.io.File(dir)
    for {
      sd <- root.listFiles() if sd.getName.startsWith("series_id=")
      dd <- sd.listFiles() if dd.getName.startsWith("day=")
    } assert(dd.listFiles().count(_.getName.endsWith(".parquet")) === 1,
      s"${sd.getName}/${dd.getName}")
  }

  // ---- bounded-result read contract (r11 verdict task 7) -------------------

  test("reads past maxResultRows fail cleanly; getToParquet is the unbounded path") {
    var now = 1700000000000L
    val engine = new GraftEngine(spark, () => { now += 1; now }, maxResultRows = 2L)
    for (i <- 1 to 3)
      engine.post(s"/ts/big/at/${i * 1000}", s"""{"value": $i}""")
    // bounded selections stay fine
    assert(engine.get("/ts/big/latest").contains("\"value\": 3"))
    assert(engine.get("/ts/big/length") === """{"length": 3}""")
    // an unbounded window over the cap: clean error naming the contract
    val e = intercept[graft.ResultCodec.ResultTooLarge] {
      engine.get("/ts/big/since/0")
    }
    assert(e.getMessage.contains("2-row") && e.getMessage.contains("getToParquet"))
    // the to-path variant writes the same selection distributed
    val out = s"$tmpRoot/bigread"
    assert(engine.getToParquet("/ts/big/since/0", out).isRight)
    assert(spark.read.parquet(out).count() === 3)
    assert(engine.getToParquet("/ts/big/nonsense/x", s"$tmpRoot/nope").isLeft)
  }

  // ---- coded-index deletion (PQ / IVFADC takedown completeness) -----------

  import org.apache.spark.sql.functions.{broadcast => bcast}
  import graft.operators.Similarity

  private def dirBytes(d: java.io.File): Map[String, Seq[(String, Long)]] =
    d.listFiles().filter(_.getName.contains("=")).map { p =>
      p.getName -> p.listFiles().filter(_.getName.endsWith(".parquet"))
        .map(f => (f.getName, f.length())).toSeq.sortBy(_._1)
    }.toMap

  test("PQ index delete: masked == folded == retained rebuild; untouched buckets byte-identical") {
    val s = spark
    import s.implicits._
    val dim = 8
    val emb = (0L until 200L).map { id =>
      (id, (0 until dim).map(j => ((id * 31 + j * 7) % 97).toFloat / 97f))
    }.toDF("vec_id", "embedding")
    val idx = s"$tmpRoot/pqidx"
    Similarity.writePqIndex(emb, idx, m = 4, k = 8, nBuckets = 8)
    // doom ids clustered in FEW buckets so untouched buckets exist
    val doomedIds = spark.read.parquet(idx)
      .filter(col("bucket") === 0 && col("vec_id") >= 3) // keep the queries
      .select("vec_id").limit(5).collect().map(_.getLong(0)).toSeq
    assert(doomedIds.nonEmpty)
    val before = dirBytes(new java.io.File(idx))
    Similarity.deleteFromPqIndex(s, idx, doomedIds.toDF("vec_id"))
    val q = emb.filter(col("vec_id") < 3)
      .select(col("vec_id").as("query_id"), col("embedding"))
    def res(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val masked = res(Similarity.pqSearchIndexed(s, idx, q, k = 4))
    // retained-corpus truth: rebuild with the SAME codebooks over survivors
    val cbs = Similarity.readCodebooks(s, idx)
    val retained = emb.join(bcast(doomedIds.toDF("vec_id")), Seq("vec_id"), "left_anti")
    val truth = res(Similarity.pqSearch(retained, cbs, nQueries = 3, k = 4))
    assert(masked === truth)
    Similarity.compactPqIndex(s, idx)
    val folded = res(Similarity.pqSearchIndexed(s, idx, q, k = 4))
    assert(folded === masked)
    // fold touched ONLY bucket 0: every other bucket's files byte-equal
    val after = dirBytes(new java.io.File(idx))
    for ((bdir, files) <- before if bdir != "bucket=0")
      assert(after(bdir) === files, s"$bdir rewritten by a scoped fold")
    assert(after("bucket=0") !== before("bucket=0"))
    // the tombstone set is gone; a second fold is a no-op
    assert(!new java.io.File(idx, "_tombstones").exists())
    Similarity.compactPqIndex(s, idx)
    assert(dirBytes(new java.io.File(idx)) === after)
  }

  test("IVFADC index delete: masked == folded; untouched cells byte-identical") {
    val s = spark
    import s.implicits._
    val dim = 8
    val emb = (0L until 200L).map { id =>
      (id, (0 until dim).map(j => ((id * 17 + j * 13) % 89).toFloat / 89f))
    }.toDF("vec_id", "embedding")
    val idx = s"$tmpRoot/ipqidx"
    Similarity.writeIvfPqIndex(emb, idx, nCells = 4, m = 4, k = 8)
    val doomCell = spark.read.parquet(idx).groupBy("cell").count()
      .orderBy(col("count").desc).head().getInt(0)
    val doomedIds = spark.read.parquet(idx)
      .filter(col("cell") === doomCell && col("vec_id") >= 3) // keep queries
      .select("vec_id").limit(5).collect().map(_.getLong(0)).toSeq
    val before = dirBytes(new java.io.File(idx))
    Similarity.deleteFromIvfPqIndex(s, idx, doomedIds.toDF("vec_id"))
    val q = emb.filter(col("vec_id") < 3)
      .select(col("vec_id").as("query_id"), col("embedding"))
    def res(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val masked = res(Similarity.ivfPqSearchIndexed(s, idx, q, nProbe = 4, k = 4))
    // deleted ids never surface
    assert(masked.map(_._2).intersect(doomedIds.toSet).isEmpty)
    Similarity.compactIvfPqIndex(s, idx)
    val folded = res(Similarity.ivfPqSearchIndexed(s, idx, q, nProbe = 4, k = 4))
    assert(folded === masked)
    val after = dirBytes(new java.io.File(idx))
    for ((cdir, files) <- before if cdir != s"cell=$doomCell")
      assert(after(cdir) === files, s"$cdir rewritten by a scoped fold")
    // parity with the in-memory IVFADC search (same centers + codebooks):
    // the persisted path reads stored codes, the in-memory path re-encodes
    val centers = Similarity.readCenters(spark, idx)
    val cbs = Similarity.readCodebooks(spark, idx)
    val retained = emb.join(bcast(doomedIds.toDF("vec_id")), Seq("vec_id"), "left_anti")
    val mem = res(Similarity.ivfPqSearch(retained, centers, cbs,
      nQueries = 3, nProbe = 4, k = 4))
    assert(folded === mem)
    // and the 100 TB probe shape: the scoped read prunes cell partitions
    val plan = Similarity.ivfPqSearchIndexed(s, idx, q, nProbe = 2, k = 4)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("cell"),
      s"no partition pruning in:\n$plan")
  }

  test("coded-index append with frozen fit equals a single-shot encode of history+arrivals") {
    val s = spark
    import s.implicits._
    val dim = 8
    val emb = (0L until 160L).map { id =>
      (id, (0 until dim).map(j => ((id * 23 + j * 11) % 83).toFloat / 83f))
    }.toDF("vec_id", "embedding")
    val history = emb.filter(col("vec_id") % 2 === 0)
    val arrivals = emb.filter(col("vec_id") % 2 === 1)
    val q = emb.filter(col("vec_id") < 3)
      .select(col("vec_id").as("query_id"), col("embedding"))
    def res(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // PQ: history-fit codebooks frozen through the append
    val pq = s"$tmpRoot/pqappend"
    val cbsHist = Similarity.writePqIndex(history, pq, m = 4, k = 8, nBuckets = 8)
    Similarity.appendPqIndex(arrivals, pq)
    assert(res(Similarity.pqSearchIndexed(s, pq, q, k = 4)) ===
      res(Similarity.pqSearch(emb, cbsHist, nQueries = 3, k = 4)))
    // IVFADC: stored centers + residual codebooks frozen through the append
    val ipq = s"$tmpRoot/ipqappend"
    Similarity.writeIvfPqIndex(history, ipq, nCells = 4, m = 4, k = 8)
    Similarity.appendIvfPqIndex(arrivals, ipq)
    val centersHist = Similarity.readCenters(s, ipq)
    val cbsHist2 = Similarity.readCodebooks(s, ipq)
    assert(res(Similarity.ivfPqSearchIndexed(s, ipq, q, nProbe = 4, k = 4)) ===
      res(Similarity.ivfPqSearch(emb, centersHist, cbsHist2,
        nQueries = 3, nProbe = 4, k = 4)))
  }

  test("re-append at a deleted id folds first: the new vector is visible, the old one gone") {
    val s = spark
    import s.implicits._
    val dim = 8
    def vecs(seedMul: Long) = (0L until 120L).map { id =>
      (id, (0 until dim).map(j => ((id * seedMul + j * 7) % 79).toFloat / 79f))
    }.toDF("vec_id", "embedding")
    val emb = vecs(29L)
    val pq = s"$tmpRoot/pqreadd"
    Similarity.writePqIndex(emb, pq, m = 4, k = 8, nBuckets = 8)
    Similarity.deleteFromPqIndex(s, pq, Seq(50L, 51L).toDF("vec_id"))
    // re-append the same ids with DIFFERENT vectors: without the
    // fold-first guard the old tombstone would mask (then physically
    // drop) the new rows
    val readd = vecs(41L).filter(col("vec_id").isin(50L, 51L))
    Similarity.appendPqIndex(readd, pq)
    val q = emb.filter(col("vec_id") < 2)
      .select(col("vec_id").as("query_id"), col("embedding"))
    val got = Similarity.pqSearchIndexed(s, pq, q, k = 120)
      .filter(col("neighbor_id").isin(50L, 51L)).collect()
    assert(got.length === 4, s"re-added ids missing: ${got.length}") // 2 queries x 2 ids
    // and exactly once each per query: the old rows are physically gone
    val counts = spark.read.parquet(pq).filter(col("vec_id").isin(50L, 51L)).count()
    assert(counts === 2L)
  }
}
