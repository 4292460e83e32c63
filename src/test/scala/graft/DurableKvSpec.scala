package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.KvOps
import graft.sources.{Commit, KvStorage}

/** Durable KV stores (r12 verdict lead task): the reference persists all
  * three LWW stores — and through the json one the HyperCat catalogue —
  * in its Irmin store (`keyvalue.re:4,46,88`, `hc.re:20-51`), so a
  * restarted engine must keep every key, resume its event-id sequence
  * past ids recorded only in KV logs, and serve point reads from the
  * in-process cache without divergence from the DataFrame LWW view.
  */
class DurableKvSpec extends AnyFunSuite with SparkTestBase with TempDirs {

  private def freshDir(): String =
    tempDir("graft-kv-spec").getAbsolutePath + "/ts"

  test("a restarted engine keeps all three KV stores and the catalogue") {
    val dir = freshDir()
    var now = 1700000000000L
    val clock = () => { now += 1; now }
    val e1 = new GraftEngine(spark, clock, tsStoragePath = Some(dir),
      flushEveryRows = 4)
    e1.kvWrite("json", "dev1", "cfg", """{"a": 1}""")
    e1.kvWrite("json", "dev1", "cfg", """{"a": 2}""") // LWW overwrite
    e1.kvWrite("json", "dev1", "doomed", """{"x": 0}""")
    e1.kvDelete("json", "dev1", "doomed")
    e1.kvWrite("text", "dev1", "note", "hello")
    e1.kvWrite("binary", "dev1", "blob", "AAEC") // base64 contract
    assert(e1.hypercatUpdate(
      """{"href":"/sensor/1","item-metadata":[
        |{"rel":"urn:X-hypercat:rels:hasDescription:en","val":"s1"},
        |{"rel":"urn:X-hypercat:rels:isContentType","val":"application/json"}]}"""
        .stripMargin).isRight)
    val catBefore = e1.get("/cat")
    e1.flush() // the durability boundary

    // RESTART: a brand-new engine over the same store dir
    val e2 = new GraftEngine(spark, clock, tsStoragePath = Some(dir),
      flushEveryRows = 4)
    assert(e2.kvRead("json", "dev1", "cfg") === """{"a": 2}""")
    assert(e2.kvRead("json", "dev1", "doomed") === "{}") // tombstone held
    assert(e2.kvRead("text", "dev1", "note") === "hello")
    assert(e2.kvRead("binary", "dev1", "blob") === "AAEC")
    assert(e2.kvKeys("json", "dev1") === Seq("cfg"))
    assert(e2.kvCount("json", "dev1") === 1L)
    assert(e2.get("/cat") === catBefore)
  }

  test("event-id resume covers ids recorded only in KV logs") {
    val dir = freshDir()
    var now = 1700000000000L
    val clock = () => { now += 1; now }
    val e1 = new GraftEngine(spark, clock, tsStoragePath = Some(dir),
      flushEveryRows = 1)
    // ONLY KV writes — the TS tables never materialize, so a resume that
    // scanned them alone would restart the sequence at 1
    e1.kvWrite("json", "d", "k1", "v1")
    e1.kvWrite("json", "d", "k1", "v2")
    e1.kvWrite("text", "d", "k2", "t1")
    val maxBefore = KvOps.lwwAll(e1.kvLog("json"))
      .agg(org.apache.spark.sql.functions.max("event_id")).head().getLong(0)

    val e2 = new GraftEngine(spark, clock, tsStoragePath = Some(dir),
      flushEveryRows = 1)
    e2.kvWrite("json", "d", "k1", "v3")
    val ids = e2.kvLog("json").select("event_id").collect().map(_.getLong(0))
    assert(ids.distinct.length === ids.length, "event ids reissued after restart")
    assert(ids.max > maxBefore)
    // ...and the LWW winner is the post-restart write even at a TIED
    // write_ts (the event_id tie-break the resume protects)
    assert(e2.kvRead("json", "d", "k1") === "v3")
  }

  test("cache parity: kvRead/kvKeys/kvCount/catalogue == the DataFrame LWW view") {
    val dir = freshDir()
    var now = 1700000000000L
    val clock = () => { now += 1; now }
    val e = new GraftEngine(spark, clock, tsStoragePath = Some(dir),
      flushEveryRows = 3)
    val rnd = new scala.util.Random(13)
    val ids = Seq("a", "b"); val keys = Seq("k1", "k2", "k3")
    for (_ <- 1 to 60) {
      val (id, key) = (ids(rnd.nextInt(2)), keys(rnd.nextInt(3)))
      if (rnd.nextInt(5) == 0) e.kvDelete("json", id, key)
      else e.kvWrite("json", id, key, s"""{"v": ${rnd.nextInt(100)}}""")
    }
    val live = KvOps.lwwView(e.kvLog("json"))
      .select("id", "key", "value").collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getString(2)).toMap
    for (id <- ids) {
      assert(e.kvKeys("json", id) ===
        live.keys.collect { case (i, k) if i == id => k }.toSeq.sorted)
      assert(e.kvCount("json", id) === live.keys.count(_._1 == id).toLong)
      for (key <- keys)
        assert(e.kvRead("json", id, key) === live.getOrElse((id, key), "{}"))
    }
  }

  test("membuf mode: cache parity without any storage path") {
    val e = new GraftEngine(spark, () => 42L)
    e.kvWrite("text", "m", "a", "1")
    e.kvWrite("text", "m", "a", "2")
    e.kvWrite("text", "m", "b", "x")
    e.kvDelete("text", "m", "b")
    assert(e.kvRead("text", "m", "a") === "2")
    assert(e.kvRead("text", "m", "b") === "")
    assert(e.kvKeys("text", "m") === Seq("a"))
    assert(KvOps.lwwView(e.kvLog("text")).count() === 1L)
  }

  test("KvStorage.compact folds to one row per cell, tombstones retained, view unchanged") {
    val dir = freshDir()
    var now = 1700000000000L
    val clock = () => { now += 1; now }
    val e = new GraftEngine(spark, clock, tsStoragePath = Some(dir),
      flushEveryRows = 1) // one file per write: plenty to fold
    for (i <- 1 to 10) e.kvWrite("json", "c", s"k${i % 3}", s"""{"i": $i}""")
    e.kvDelete("json", "c", "k0")
    val before = KvOps.lwwView(e.kvLog("json"))
      .select("id", "key", "value").collect().map(_.toSeq).toSet
    val maxBefore = KvStorage.maxEventId(spark, dir + "_kv_json")
    e.compact()
    val log = e.kvLog("json")
    assert(log.count() === 3L) // k0 tombstone + k1 + k2 winners
    assert(KvOps.lwwView(log).select("id", "key", "value")
      .collect().map(_.toSeq).toSet === before)
    // the high-water mark survives the fold (winners carry the max ids)
    assert(KvStorage.maxEventId(spark, dir + "_kv_json") === maxBefore)
    // the fold bounded the file count
    val files = new java.io.File(dir + "_kv_json").listFiles()
      .count(f => f.getName.endsWith(".parquet"))
    assert(files <= 4)
  }

  test("a crashed compact swap recovers in both directions") {
    val dir = freshDir()
    val p = dir + "_kv_json"
    var now = 1700000000000L
    val clock = () => { now += 1; now }
    val e = new GraftEngine(spark, clock, tsStoragePath = Some(dir),
      flushEveryRows = 1)
    e.kvWrite("json", "r", "k", "v1")
    e.kvWrite("json", "r", "k", "v2")
    def killedAt(step: String): Unit = {
      Commit.onStep = s => if (s == step) throw new RuntimeException(s"kill@$s")
      try intercept[RuntimeException](KvStorage.compact(spark, p))
      finally Commit.onStep = _ => ()
    }

    // rollback case: the LWW fold staged, never committed — the log
    // reads as it was
    killedAt("staged")
    assert(!new java.io.File(p + "_commit").exists())
    assert(KvStorage.read(spark, p).count() === 2L) // rolled back
    assert(KvStorage.exists(spark, p))

    // forward case: the fold committed, then the first file moved in
    // beside the old log — the next read completes it
    killedAt("added")
    assert(KvStorage.read(spark, p).count() === 1L) // rolled forward
    assert(!new java.io.File(p + "_commit").exists())
    assert(KvStorage.exists(spark, p))
  }

  test("write-behind: unflushed KV rows are lost on restart, flushed ones are not") {
    val dir = freshDir()
    var now = 1700000000000L
    val clock = () => { now += 1; now }
    val e1 = new GraftEngine(spark, clock, tsStoragePath = Some(dir),
      flushEveryRows = 100) // large window: nothing auto-flushes
    e1.kvWrite("json", "w", "committed", "1")
    e1.flush()
    e1.kvWrite("json", "w", "pending", "2") // never flushed: abandoned
    val e2 = new GraftEngine(spark, clock, tsStoragePath = Some(dir),
      flushEveryRows = 100)
    assert(e2.kvRead("json", "w", "committed") === "1")
    assert(e2.kvRead("json", "w", "pending") === "{}") // the documented trade
  }
}
