package graft

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.KvOps

/** Pins KV LWW + tombstone semantics (keyvalue.re:14-42, §7.5.9). */
class KvOpsSpec extends AnyFunSuite with SparkTestBase {

  // (id, key, value, write_ts, event_id, deleted)
  private def log(rows: Seq[(String, String, String, Long, Long, Boolean)]): DataFrame = {
    val s = spark
    import s.implicits._
    rows.toDF("id", "key", "value", "write_ts", "event_id", "deleted")
  }

  private def base = log(Seq(
    ("u1", "k1", "v1", 100L, 1L, false),
    ("u1", "k1", "v2", 200L, 2L, false), // overwrites v1
    ("u1", "k2", "x1", 150L, 3L, false),
    ("u1", "k3", "y1", 100L, 4L, false),
    ("u1", "k3", "", 300L, 5L, true),    // tombstone
    ("u2", "k1", "z1", 100L, 6L, false)))

  test("read resolves last-writer-wins per (id, key)") {
    val got = KvOps.read(base, "u1", "k1").head()
    assert(got.getAs[String]("value") === "v2")
  }

  test("read-after-delete finds nothing (keyvalue.re:28-31,37-39)") {
    assert(KvOps.read(base, "u1", "k3").isEmpty)
  }

  test("keys lists only live keys (keys.re:32-45)") {
    val got = KvOps.keys(base, "u1").collect().map(_.getString(0)).toSet
    assert(got === Set("k1", "k2")) // k3 tombstoned
  }

  test("count counts live keys (keyvalue.re:35-36)") {
    assert(KvOps.count(base, "u1").head().getAs[Long]("count") === 2L)
    assert(KvOps.count(base, "u2").head().getAs[Long]("count") === 1L)
  }

  test("same write_ts resolves by event_id (pinned total order)") {
    val tie = log(Seq(
      ("u", "k", "first", 100L, 1L, false),
      ("u", "k", "second", 100L, 2L, false)))
    assert(KvOps.read(tie, "u", "k").head().getAs[String]("value") === "second")
  }

  test("re-write after delete resurrects the key") {
    val resurrect = base.union(log(Seq(("u1", "k3", "y2", 400L, 7L, false))))
    assert(KvOps.read(resurrect, "u1", "k3").head().getAs[String]("value") === "y2")
    assert(KvOps.count(resurrect, "u1").head().getAs[Long]("count") === 3L)
  }

  test("binary kv values are base64 at the engine boundary: garbage is rejected, base64 round-trips") {
    val engine = new GraftEngine(spark, () => 1700000000000L)
    // raw text that is not valid base64 is rejected, not stored-then-garbled
    assert(engine.post("/kv/d/v", "hello!", "binary").isLeft)
    assert(engine.get("/kv/d/v", "binary") === "")
    val b64 = java.util.Base64.getEncoder.encodeToString("hello!".getBytes("UTF-8"))
    assert(engine.post("/kv/d/v", b64, "binary") === Right(()))
    assert(engine.get("/kv/d/v", "binary") === b64)
  }
}
