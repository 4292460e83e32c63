package graft

import java.io.File

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.model.TsModel
import graft.sources.{EventSources, TsStorage}

/** The full ingest-to-answer walkthrough across layers added in different
  * rounds: JSON-lines events (the reference's wire format) -> schema-pinned
  * source -> TS model -> durable partitioned storage -> facade path query
  * -> delete -> re-read. Each layer has its own spec; this pins that they
  * compose.
  */
class EndToEndIngestSpec extends AnyFunSuite with SparkTestBase {

  test("json ingest -> storage -> path query -> delete -> re-read") {
    val dir = new File("target/tmp-e2e-ingest").getAbsolutePath
    org.apache.commons.io.FileUtils.deleteQuietly(new File(dir))

    // 1. events arrive as JSON lines (wire format, micros-pinned)
    EventSources.writeJson(Tables.events(spark, "/root/testdata/sf0.001"),
      s"$dir/in")

    // 2. source -> TS model -> durable partitioned table
    val ts = TsModel.fromEvents(EventSources.readJson(spark, s"$dir/in"))
    TsStorage.write(ts, s"$dir/table")

    // 3. facade query against the durable table (reference wire shape)
    val e = new GraftEngine(spark, () => 1700000000000L,
      tsStoragePath = Some(s"$dir/table"))
    val latest = e.get("/ts/purchase/latest")
    assert(latest.startsWith("""[{"timestamp": """), latest.take(80))

    val lengthBefore = e.get("/ts/purchase/length")
    val n0 = """\d+""".r.findFirstIn(lengthBefore).get.toLong
    assert(n0 > 0)

    // 4. delete a range durably, then the re-read reflects it
    val from = 1704844800000L; val to = 1705276800000L
    val expectSurvivors = ts.filter(col("series_id") === "purchase" &&
      !(col("t") >= from && col("t") <= to)).count()
    e.delete(s"/ts/purchase/range/$from/$to")
    val n1 = """\d+""".r.findFirstIn(e.get("/ts/purchase/length")).get.toLong
    assert(n1 === expectSurvivors)
    assert(n1 < n0)

    // 5. a fresh engine over the same path sees the deletion (durability)
    val e2 = new GraftEngine(spark, () => 1700000000000L,
      tsStoragePath = Some(s"$dir/table"))
    val n2 = """\d+""".r.findFirstIn(e2.get("/ts/purchase/length")).get.toLong
    assert(n2 === n1)
  }

  test("blob series: durable post, read, range delete, restart re-read") {
    val dir = new File("target/tmp-e2e-blob").getAbsolutePath
    org.apache.commons.io.FileUtils.deleteQuietly(new File(dir))
    val e = new GraftEngine(spark, () => 1700000000000L,
      tsStoragePath = Some(s"$dir/table"))
    // posts land in the sibling blob table on disk, not a membuf
    assert(e.post("/ts/blob/cam/at/1000", """{"frame": "a"}""").isRight)
    assert(e.post("/ts/blob/cam/at/2000", """{"frame": "b"}""").isRight)
    assert(e.post("/ts/blob/cam/at/3000", """{"frame": "c"}""").isRight)
    assert(e.post("/ts/blob/mic/at/1500", """{"pcm": "x"}""").isRight)
    // one flush run per POST (flushEveryRows = 1), none in the numeric table
    assert(new java.io.File(s"$dir/table_blob_runs").listFiles
      .count(_.getName.endsWith(".parquet")) === 4)
    assert(!new java.io.File(s"$dir/table_runs").exists())
    assert(e.get("/ts/blob/cam/length") === """{"length": 3}""")
    assert(e.get("/ts/blob/cam/latest") ===
      """[{"timestamp": 3000, "data": {"frame": "c"}}]""")
    // durable range delete through the same partition-rewrite path as
    // numeric; bystander series untouched
    assert(e.delete("/ts/blob/cam/range/1500/2500").isRight)
    assert(e.get("/ts/blob/cam/length") === """{"length": 2}""")
    assert(e.get("/ts/blob/mic/length") === """{"length": 1}""")
    // a restarted engine sees the post-delete state AND resumes the
    // event-id sequence past the persisted blob rows
    val e2 = new GraftEngine(spark, () => 1700000000000L,
      tsStoragePath = Some(s"$dir/table"))
    assert(e2.get("/ts/blob/cam/length") === """{"length": 2}""")
    assert(e2.post("/ts/blob/cam/at/3000", """{"frame": "d"}""").isRight)
    // same timestamp, later write: wins the tie only if its event_id
    // continued past the persisted maximum
    assert(e2.get("/ts/blob/cam/latest") ===
      """[{"timestamp": 3000, "data": {"frame": "d"}}]""")
  }
}
