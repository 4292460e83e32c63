package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.ObserveService
import graft.streaming.ObserveService.{ObsEvent, Subscription}

class ObserveSpec extends AnyFunSuite with SparkTestBase {

  private def subsDf(subs: Seq[Subscription]): DataFrame = {
    val s = spark
    import s.implicits._
    subs.toDF()
  }

  private def eventsDf(evs: Seq[ObsEvent]): DataFrame = {
    val s = spark
    import s.implicits._
    evs.toDF()
  }

  private val subs = Seq(
    Subscription("u-exact", "/kv/foo/bar", "json", "data", 1000L, 60L),
    Subscription("u-wild", "/kv/foo/*", "json", "data", 1000L, 0L),   // never expires
    Subscription("u-fmt", "/kv/foo/bar", "text", "data", 1000L, 60L), // format mismatch
    Subscription("u-audit", "/ts/*", "json", "audit", 1000L, 60L))

  private val events = Seq(
    ObsEvent(2000L, "/kv/foo/bar", "json", """{"v":1}""", "POST", "client.local", 65),
    ObsEvent(3000L, "/kv/foo/baz", "json", """{"v":2}""", "POST", "client.local", 65),
    ObsEvent(4000L, "/ts/sensor", "json", """{"value":9}""", "POST", "client.local", 65))

  test("data fan-out: exact + wildcard match, format is part of the key (§7.5.10)") {
    val got = ObserveService.dataFanout(eventsDf(events), subsDf(subs))
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(got === Set(
      ("u-exact", """2000 /kv/foo/bar json {"v":1}"""),
      ("u-wild", """2000 /kv/foo/bar json {"v":1}"""),
      ("u-wild", """3000 /kv/foo/baz json {"v":2}""")))
    // u-fmt got nothing (json events, text subscription); audit sub not in data mode
  }

  test("audit fan-out format: ts server client method path code (README.md:277-279)") {
    val got = ObserveService.auditFanout(eventsDf(events), subsDf(subs))
      .collect().map(r => (r.getString(0), r.getString(1)))
    assert(got.toSeq === Seq(("u-audit", "4000 server.local client.local POST /ts/sensor 65")))
  }

  test("max_age=0 never expires; others drop after expiry at event time") {
    val late = eventsDf(Seq(
      ObsEvent(100000L, "/kv/foo/bar", "json", """{"v":9}""", "POST", "c", 65)))
    val got = ObserveService.dataFanout(late, subsDf(subs))
      .collect().map(_.getString(0)).toSet
    assert(got === Set("u-wild")) // u-exact expired at 61000
  }

  test("expiry sweep emits 163 for dead subscriptions (observe.re:96-113)") {
    val got = ObserveService.expiredSubs(subsDf(subs), nowMs = 62000L)
      .collect().map(r => (r.getString(0), r.getInt(1))).toSet
    assert(got === Set(("u-exact", 163), ("u-fmt", 163), ("u-audit", 163)))
  }

  test("stateful delivery ends a subscription exactly once (T5)") {
    val evs = Seq(
      ObsEvent(2000L, "/kv/foo/bar", "json", "a", "POST", "c", 65),
      ObsEvent(61000L, "/kv/foo/bar", "json", "b", "POST", "c", 65), // at expiry
      ObsEvent(62000L, "/kv/foo/bar", "json", "c", "POST", "c", 65))
    val out = ObserveService.deliverWithExpiry(spark, eventsDf(evs),
        subsDf(subs.take(1))).collect()
    val mine = out.filter(_.uuid == "u-exact")
    assert(mine.count(_.ended) === 1)
    assert(mine.filter(!_.ended).map(_.message).toSeq === Seq("""2000 /kv/foo/bar json a"""))
  }

  test("stateful expiry persists across streaming micro-batches (closed stays closed)") {
    val s = spark
    import s.implicits._
    implicit val sql = s.sqlContext
    val mem = MemoryStream[ObsEvent]
    val out = ObserveService.deliverWithExpiry(s, mem.toDF(), subsDf(subs.take(1)))
    val q = out.writeStream.format("memory").queryName("expiry_out")
      .outputMode("append").start()
    try {
      mem.addData(ObsEvent(2000L, "/kv/foo/bar", "json", "a", "POST", "c", 65))
      q.processAllAvailable()
      mem.addData(ObsEvent(61000L, "/kv/foo/bar", "json", "b", "POST", "c", 65)) // at expiry
      q.processAllAvailable()
      mem.addData(ObsEvent(62000L, "/kv/foo/bar", "json", "c", "POST", "c", 65)) // after close
      q.processAllAvailable()
      val rows = s.sql("select * from expiry_out").collect()
        .map(r => (r.getString(0), r.getString(1), r.getBoolean(2)))
      assert(rows.count(_._3) === 1)                      // exactly one 163
      assert(rows.count(!_._3) === 1)                     // only the pre-expiry delivery
      assert(rows.exists(r => !r._3 && r._2.endsWith("a")))
    } finally q.stop()
  }

  test("notification RPC round trip: request -> observer -> response -> notify client (T6)") {
    val e = new GraftEngine(spark, () => 1534675126283L)
    // no observer yet: a request is the docs' service-unavailable (163)
    assert(e.notification("/notification/request/sensor/on/id/1000", """{"active": true}""")
      === Left("no observer (163)"))
    // server node observes the request subtree in notification mode
    val serverUuid = e.observe("/notification/request/sensor/*", "json", "notification", 0L)
    // client issues the request; the observer receives the walkthrough's
    // wire shape with a response callback path (docs/README.md:303-308)
    val Right(deliveries) =
      e.notification("/notification/request/sensor/on/id/1000", """{"active": true}""",
        client = "Johns-MacBook-Pro-3.local"): @unchecked
    assert(deliveries === Seq((serverUuid,
      "1534675126283 Johns-MacBook-Pro-3.local /notification/response/sensor/on/id/1000 json {\"active\": true}")))
    // response client registers the callback path; duplicates are 163
    assert(e.notifyRegister("/notification/response/sensor/on/id/1000").isRight)
    assert(e.notifyRegister("/notification/response/sensor/on/id/1000")
      === Left("already registered (163)"))
    // server responds; the registered client receives ts path format data
    val Right(resp) =
      e.notification("/notification/response/sensor/on/id/1000", """{"result": true}"""): @unchecked
    assert(resp === Seq(("/notification/response/sensor/on/id/1000",
      "1534675126283 /notification/response/sensor/on/id/1000 json {\"result\": true}")))
    // a response to an unregistered path routes nowhere
    assert(e.notification("/notification/response/other", """{}""") === Right(Nil))
  }

  test("notification fan-out runs under streaming execution too") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.streaming.ObserveService.Subscription
    val s = spark
    import s.implicits._
    implicit val sql = s.sqlContext
    val mem = MemoryStream[ObsEvent]
    val nsubs = Seq(Subscription("u-notif", "/notification/request/sensor/*",
      "json", "notification", 0L, 0L)).toDF()
    val q = ObserveService.notificationFanout(mem.toDF(), nsubs)
      .writeStream.format("memory").queryName("notif_out").outputMode("append").start()
    try {
      mem.addData(ObsEvent(5000L, "/notification/request/sensor/on", "json",
        """{"active": true}""", "POST", "host1", 65))
      q.processAllAvailable()
      val got = s.sql("select message from notif_out").collect().map(_.getString(0))
      assert(got === Array("5000 host1 /notification/response/sensor/on json {\"active\": true}"))
    } finally q.stop()
  }

  // ---- in-process mirror parity (the wire serving path) --------------------

  test("in-process mirrors match the DataFrame fan-out on a sub×event matrix") {
    val matrixSubs = subs ++ Seq(
      Subscription("u-notif", "/notification/request/app/*", "json", "notification", 1000L, 0L),
      Subscription("u-exp", "/kv/*", "json", "data", 0L, 1L), // dead by ts>=1000
      Subscription("u-audit2", "/kv/foo/bar", "json", "audit", 1000L, 60L))
    val matrixEvents = events ++ Seq(
      ObsEvent(5000L, "/notification/request/app/cb", "json", "ping", "POST", "c2", 65),
      ObsEvent(6000L, "/kv/foo/bar", "json", "", "DELETE", "c3", 66),
      ObsEvent(7000L, "/ts/sensor", "text", "x", "POST", "c4", 65),
      ObsEvent(100000L, "/kv/foo/bar", "json", """{"v":9}""", "GET", "c5", 69))
    val sdf = subsDf(matrixSubs); val edf = eventsDf(matrixEvents)
    def pairs(df: DataFrame): Set[(String, String)] =
      df.collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(matrixEvents.flatMap(ObserveService.dataFanoutLocal(_, matrixSubs))
      .map(d => (d.uuid, d.message)).toSet === pairs(ObserveService.dataFanout(edf, sdf)))
    assert(matrixEvents.flatMap(ObserveService.auditFanoutLocal(_, matrixSubs))
      .map(d => (d.uuid, d.message)).toSet === pairs(ObserveService.auditFanout(edf, sdf)))
    assert(matrixEvents.flatMap(ObserveService.notificationFanoutLocal(_, matrixSubs))
      .map(d => (d.uuid, d.message)).toSet === pairs(ObserveService.notificationFanout(edf, sdf)))
    // response routing (exact callback membership)
    val nl = Seq("/kv/foo/bar", "/notification/response/app/cb")
    assert(matrixEvents.flatMap(ObserveService.responseRoutingLocal(_, nl))
      .map(d => (d.uuid, d.message)).toSet ===
      pairs(ObserveService.responseRouting(edf, { val s = spark; import s.implicits._; nl.toDF("ident") })))
    // expiry sweep
    assert(ObserveService.expiredLocal(matrixSubs, 62000L).toSet ===
      ObserveService.expiredSubs(subsDf(matrixSubs), 62000L).collect().map(_.getString(0)).toSet)
  }

  test("wire fan-out parity: fanoutLocal equals the DataFrame fanout on the same event") {
    var now = 1700000000000L
    val engine = new GraftEngine(spark, () => { now += 1; now })
    engine.observe("/ts/p/*", "json", "data", 0L)
    engine.observe("/ts/*", "json", "audit", 3600L)
    engine.observe("/ts/p/x", "text", "data", 0L) // format mismatch for json events
    val ts = now + 1
    val local = engine.fanoutLocal(ts, "/ts/p/x/at/5", "json", """{"value":1}""").toSet
    val spark2 = engine.fanout(ts, "/ts/p/x/at/5", "json", """{"value":1}""").toSet
    assert(local === spark2 && local.size === 2)
  }

  test("response-routing gate: error/ack codes and empty payloads never reach data observers") {
    // create_data_payload (server.re:126-141): 66/128/129/143/163 -> None,
    // empty payload -> None; audit always delivers
    val s = Seq(Subscription("d", "/ts/*", "json", "data", 0L, 0L),
      Subscription("a", "/ts/*", "json", "audit", 0L, 0L))
    def codes(ev: ObsEvent): Set[String] =
      ObserveService.routeResponseLocal(ev, s).map(_.uuid).toSet
    assert(codes(ObsEvent(10L, "/ts/x", "json", "p", "POST", "c", 65)) === Set("d", "a"))
    for (bad <- Seq(66, 128, 129, 143, 163))
      assert(codes(ObsEvent(10L, "/ts/x", "json", "p", "DELETE", "c", bad)) === Set("a"), s"code $bad")
    // GET responses route with an empty payload: audit-only
    assert(codes(ObsEvent(10L, "/ts/x", "json", "", "GET", "c", 69)) === Set("a"))
  }

  test("the same fan-out plan runs as a streaming query (memory sink)") {
    val s = spark
    import s.implicits._
    implicit val sql = s.sqlContext
    val mem = MemoryStream[ObsEvent]
    val q = ObserveService.dataFanout(mem.toDF(), subsDf(subs))
      .writeStream.format("memory").queryName("obs_out").outputMode("append").start()
    try {
      mem.addData(events: _*)
      q.processAllAvailable()
      val got = s.sql("select * from obs_out").collect().map(_.getString(0)).toSet
      assert(got === Set("u-exact", "u-wild"))
    } finally q.stop()
  }
}
