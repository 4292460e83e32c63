package graft

import java.io.{DataInputStream, DataOutputStream}
import java.net.{InetSocketAddress, Socket}

import org.scalatest.funsuite.AnyFunSuite

import graft.server.{ZestWireServer, ZmtpClient, ZmtpCodec}
import graft.server.ZestCodec
import graft.server.ZestCodec._

/** The binary CoAP-style wire framing (ZestCodec) and its server:
  * byte-exact encode/decode round trips, then over real ZMTP sockets the
  * reference's verb/ack codes, observe pushes with the in-band router
  * identity, token enforcement on every verb, response routing to data
  * and audit observers, notification callbacks and slow-observer eviction
  * (the transport and CURVE mechanism themselves are pinned in ZmtpSpec
  * and ZmtpCurveSpec).
  */
class ZestWireServerSpec extends AnyFunSuite with SparkTestBase {

  // ---- codec ---------------------------------------------------------------

  test("frame encode/decode round-trips every field (zest.re:12-115)") {
    val f = request(2, "/ts/a/at/5", format = 50, token = "tok-1",
      host = "h1", payload = """{"value": 9}""",
      observe = Some("audit"), maxAgeSec = Some(3600L))
    val back = decode(encode(f))
    assert(back.code === 2 && back.token === "tok-1")
    assert(back.uriPath === "/ts/a/at/5" && back.uriHost === "h1")
    assert(back.contentFormat === 50 && back.contentFormatName === "json")
    assert(back.observed === "audit" && back.maxAge === 3600L)
    assert(back.payloadString === """{"value": 9}""")
    // header layout is the reference's: code, oc, tkl u16be, then token
    val raw = encode(f)
    assert((raw(0) & 0xff) === 2)
    assert(((raw(2) & 0xff) << 8 | (raw(3) & 0xff)) === 5) // tkl("tok-1")
    assert(new String(raw, 4, 5, "UTF-8") === "tok-1")
  }

  test("ack builders carry the reference's codes and options (zest.re:155-216)") {
    assert(decode(encode(ack(66))).code === 66)
    val p = decode(encode(ackPayload(50, "body")))
    assert(p.code === 69 && p.contentFormat === 50 && p.payloadString === "body")
    val o = decode(encode(ackObserve("pub", "uuid-1")))
    assert(o.code === 69 && o.contentFormat === 0)
    assert(o.options.exists(x => x.number === 2048 && x.string === "pub"))
    assert(o.payloadString === "uuid-1")
    val n = decode(encode(ackNotification("pub2")))
    assert(n.code === 65 &&
      n.options.exists(x => x.number === 2048 && x.string === "pub2"))
    // empty-observe option means data mode ("" | "data" -> data)
    val obs = decode(encode(request(1, "/ts/*", observe = Some(""))))
    assert(obs.observed === "data")
  }

  test("malformed frames are rejected, not mis-parsed") {
    intercept[IllegalArgumentException](decode(Array[Byte](1, 2)))
    // tkl says 10 bytes of token but only 2 follow
    intercept[IllegalArgumentException](decode(Array[Byte](1, 0, 0, 10, 61, 62)))
    // option length pointing past the end
    val bad = encode(request(1, "/x")).dropRight(1)
    intercept[IllegalArgumentException](decode(bad))
  }

  // ---- socket end-to-end (ZMTP NULL) ---------------------------------------

  private def client(port: Int, socketType: String = "REQ") =
    new ZmtpClient(port, socketType = socketType)

  private def token(key: String, caveats: String*): String =
    graft.auth.Macaroons.serialize(
      caveats.foldLeft(graft.auth.Macaroons.mint(key, "wire-client"))(_.addCaveat(_)))

  test("binary verbs over the socket: POST 65, GET 69+payload, DELETE 66, errors 128") {
    var now = 1700000000000L
    val engine = new GraftEngine(spark, () => { now += 1; now })
    val srv = new ZestWireServer(engine, clockMs = () => now)
    try {
      val c = client(srv.boundPort)
      assert(c.call(request(2, "/ts/b1/at/1000", payload = """{"value": 4}""")).code === 65)
      val g = c.call(request(1, "/ts/b1/latest"))
      assert(g.code === 69 && g.contentFormat === 50)
      assert(g.payloadString.contains("\"value\": 4"))
      assert(c.call(request(1, "/hello", format = 0)).payloadString === "hello world!")
      assert(c.call(request(4, "/ts/b1/range/0/2000")).code === 66)
      assert(c.call(request(1, "/ts/b1/length")).payloadString === """{"length": 0}""")
      // invalid payload -> 128, unsupported delete -> 128, bad code -> 128
      assert(c.call(request(2, "/ts/b1/at/1", payload = "nope")).code === 128)
      assert(c.call(request(4, "/ts/b1/last/5")).code === 128)
      assert(c.call(Frame(9, "", Seq.empty, Array.emptyByteArray)).code === 128)
      c.close()
    } finally srv.close()
  }

  test("binary observe: ack carries uuid, pushes ride option 2048, expiry sends bare 163") {
    var now = 1700000000000L
    val engine = new GraftEngine(spark, () => now)
    val srv = new ZestWireServer(engine, clockMs = () => now)
    try {
      val obs = client(srv.boundPort, "DEALER")
      val ackF = obs.call(request(1, "/ts/bo/*", observe = Some("data"),
        maxAgeSec = Some(10L)))
      assert(ackF.code === 69)
      val uuid = ackF.payloadString
      val writer = client(srv.boundPort)
      assert(writer.call(request(2, "/ts/bo/at/1000", payload = """{"value": 1}""")).code === 65)
      val pushF = obs.read()
      assert(pushF.code === 69 && pushF.contentFormat === 50)
      assert(pushF.options.exists(o => o.number === 2048 && o.string === uuid))
      assert(pushF.payloadString.endsWith("""/ts/bo/at/1000 json {"value": 1}"""))
      // expiry: one bare 163 with the uuid ident, nothing after
      now += 11000L
      writer.call(request(2, "/ts/bo/at/2000", payload = """{"value": 2}"""))
      val end = obs.read()
      assert(end.code === 163)
      assert(end.options.exists(o => o.number === 2048 && o.string === uuid))
      writer.call(request(2, "/ts/bo/at/3000", payload = """{"value": 3}"""))
      assert(obs.call(request(1, "/hello", format = 0)).payloadString === "hello world!")
      obs.close(); writer.close()
    } finally srv.close()
  }

  test("binary notification RPC: register ack 65 + router key, duplicate 163, request fans out") {
    var now = 1700000000000L
    val engine = new GraftEngine(spark, () => { now += 1; now })
    val srv = new ZestWireServer(engine, clockMs = () => now)
    try {
      val obs = client(srv.boundPort, "DEALER")
      obs.call(request(1, "/notification/request/app/*",
        observe = Some("notification"), maxAgeSec = Some(0L)))
      val caller = client(srv.boundPort)
      val reg = caller.call(request(1, "/notification/response/app/cb"))
      assert(reg.code === 65 && reg.options.exists(_.number === 2048))
      assert(caller.call(request(1, "/notification/response/app/cb")).code === 163)
      assert(caller.call(request(2, "/notification/request/app/cb",
        payload = "ping")).code === 65)
      assert(obs.read().payloadString.contains("ping"))
      assert(caller.call(request(2, "/notification/request/nobody/x",
        payload = "hi")).code === 163)
      obs.close(); caller.close()
    } finally srv.close()
  }

  test("binary tokens: empty token rejected with 129 when a key is set") {
    var now = 1700000000000L
    val key = "bin-secret"
    val engine = new GraftEngine(spark, () => { now += 1; now },
      tokenSecretKey = Some(key))
    val srv = new ZestWireServer(engine, clockMs = () => now)
    try {
      val c = client(srv.boundPort)
      assert(c.call(request(2, "/ts/a/at/1", payload = """{"value": 1}""")).code === 129)
      val tok = graft.auth.Macaroons.serialize(
        graft.auth.Macaroons.mint(key, "bin-client").addCaveat("method = POST"))
      assert(c.call(request(2, "/ts/a/at/1", token = tok,
        payload = """{"value": 1}""")).code === 65)
      assert(c.call(request(1, "/ts/a/length", token = tok)).code === 129)
      c.close()
    } finally srv.close()
  }

  test("absent token is the EMPTY token: every verb rejected with 129 when a key is set") {
    var now = 1700000000000L
    val key = "bin-secret-2"
    val engine = new GraftEngine(spark, () => { now += 1; now },
      tokenSecretKey = Some(key))
    val srv = new ZestWireServer(engine, clockMs = () => now)
    try {
      val c = client(srv.boundPort)
      // an absent token must not route around macaroon enforcement on any
      // verb (the reference validates on every request, server.re:811-839)
      for ((verb, f) <- Seq(
          "POST" -> request(2, "/ts/a/at/1", payload = """{"value": 1}"""),
          "GET" -> request(1, "/ts/a/length"),
          "DELETE" -> request(4, "/ts/a/range/0/2000"),
          "observe" -> request(1, "/ts/*", observe = Some("data"), maxAgeSec = Some(0L)),
          "notify-register" -> request(1, "/notification/response/app/cb"),
          "notification POST" -> request(2, "/notification/request/app/x", payload = "hi")))
        assert(c.call(f).code === 129, s"$verb without token")
      // nothing got through: no write, no subscription, no callback
      assert(engine.subsSnapshot.isEmpty)
      val getTok = token(key, "method = GET")
      assert(c.call(request(1, "/ts/a/length", token = getTok)).payloadString
        === """{"length": 0}""")
      // notify-register validates as GET, the notification POST as POST —
      // the handlers they route through in the reference (server.re:611-618)
      assert(c.call(request(1, "/notification/response/app/cb", token = getTok)).code === 65)
      assert(c.call(request(2, "/notification/request/app/x", token = getTok,
        payload = "hi")).code === 129)
      c.close()
    } finally srv.close()
  }

  test("audit frames carry the requester's Uri-Host as the client field (server.re:76)") {
    var now = 1700000000000L
    val engine = new GraftEngine(spark, () => now)
    val srv = new ZestWireServer(engine, clockMs = () => now)
    try {
      val aud = client(srv.boundPort, "DEALER")
      aud.call(request(1, "/ts/*", observe = Some("audit"), maxAgeSec = Some(0L)))
      assert(aud.read().payloadString.contains("GET(OBSERVE)")) // own registration
      val writer = client(srv.boundPort)
      writer.call(request(2, "/ts/h/at/1", host = "sensor-7.lan",
        payload = """{"value": 2}"""))
      assert(aud.read().payloadString
        .matches(raw"\d+ server\.local sensor-7\.lan POST /ts/h/at/1 65"))
      aud.close(); writer.close()
    } finally srv.close()
  }

  test("content format selects the KV store: one path, three independent stores") {
    var now = 1700000000000L
    val engine = new GraftEngine(spark, () => { now += 1; now })
    val srv = new ZestWireServer(engine, clockMs = () => now)
    try {
      val c = client(srv.boundPort)
      // same (id, key), three formats -> three stores (server.re:744-760)
      assert(c.call(request(2, "/kv/dev1/cfg", format = 50,
        payload = """{"mode": "fast"}""")).code === 65)
      assert(c.call(request(2, "/kv/dev1/cfg", format = 0,
        payload = "plain text value")).code === 65)
      val blob = Array[Byte](0, 1, -2, 127, -128, 64)
      c.send(ZestCodec.Frame(2, "", Seq(strOption(11, "/kv/dev1/cfg"),
        u16Option(12, 42)), blob))
      assert(c.read().code === 65)
      // reads dispatch on format too; binary values round-trip as bytes
      assert(c.call(request(1, "/kv/dev1/cfg", format = 50)).payloadString
        === """{"mode": "fast"}""")
      assert(c.call(request(1, "/kv/dev1/cfg", format = 0)).payloadString
        === "plain text value")
      val got = c.call(request(1, "/kv/dev1/cfg", format = 42))
      assert(java.util.Arrays.equals(got.payload, blob), got.payload.toSeq.toString)
      // per-store delete: dropping the text entry leaves json + binary
      assert(c.call(request(4, "/kv/dev1/cfg", format = 0)).code === 66)
      assert(c.call(request(1, "/kv/dev1/cfg", format = 0)).payloadString === "")
      assert(c.call(request(1, "/kv/dev1/cfg", format = 50)).payloadString
        === """{"mode": "fast"}""")
      // /ts accepts only json (server.re:751): text-format write is a 128
      assert(c.call(request(2, "/ts/x/at/1", format = 0,
        payload = """{"value": 1}""")).code === 128)
      assert(c.call(request(1, "/ts/x/length", format = 0)).code === 128)
      c.close()
    } finally srv.close()
  }

  test("POST /cat writes the HyperCat; GET /cat returns it (server.re:795-804)") {
    var now = 1700000000000L
    val engine = new GraftEngine(spark, () => { now += 1; now })
    val srv = new ZestWireServer(engine, clockMs = () => now)
    try {
      val c = client(srv.boundPort)
      val item = """{"href": "/ts/room1", "item-metadata": [""" +
        """{"rel": "urn:X-hypercat:rels:hasDescription:en", "val": "room 1"}, """ +
        """{"rel": "urn:X-hypercat:rels:isContentType", "val": "application/json"}]}"""
      assert(c.call(request(2, "/cat", payload = item)).code === 65)
      assert(c.call(request(2, "/cat", payload = """{"nope": 1}""")).code === 128)
      val cat = c.call(request(1, "/cat"))
      assert(cat.code === 69 && cat.payloadString.contains("/ts/room1"))
      c.close()
    } finally srv.close()
  }

  test("binary wire: POST /notification/response routes to the registered binary connection") {
    var now = 1700000000000L
    val engine = new GraftEngine(spark, () => { now += 1; now })
    val srv = new ZestWireServer(engine, clockMs = () => now)
    try {
      val registrant = client(srv.boundPort, "DEALER")
      assert(registrant.call(request(1, "/notification/response/app/cbX")).code === 65)
      val responder = client(srv.boundPort)
      assert(responder.call(request(2, "/notification/response/app/cbX",
        payload = "done-42")).code === 65)
      val push = registrant.read()
      assert(push.code === 69 && push.payloadString.contains("done-42"))
      assert(push.options.exists(o =>
        o.number === 2048 && o.string === "/notification/response/app/cbX"))
      registrant.close(); responder.close()
    } finally srv.close()
  }

  test("a dead connection's notify-callback path frees for re-registration") {
    var now = 1700000000000L
    val engine = new GraftEngine(spark, () => { now += 1; now })
    val srv = new ZestWireServer(engine, clockMs = () => now)
    try {
      val a = client(srv.boundPort)
      assert(a.call(request(1, "/notification/response/app/cbx")).code === 65)
      a.close() // connection dies with the registration live
      // eviction runs in the handler's finally block — poll until the
      // path frees (the r12 defect: it NEVER freed; re-register got 163
      // forever and responses were silently dropped)
      val deadline = System.currentTimeMillis() + 10000
      var ok = false
      while (!ok && System.currentTimeMillis() < deadline) {
        val b = client(srv.boundPort)
        ok = b.call(request(1, "/notification/response/app/cbx")).code == 65
        b.close()
        if (!ok) Thread.sleep(50)
      }
      assert(ok, "callback path never freed after its connection died")
    } finally srv.close()
  }

  test("notification responses route only to the connection that REGISTERED the callback") {
    var now = 1700000000000L
    val engine = new GraftEngine(spark, () => { now += 1; now })
    val srv = new ZestWireServer(engine, clockMs = () => now)
    try {
      val a = client(srv.boundPort, "DEALER")
      assert(a.call(request(1, "/notification/response/app/cbA")).code === 65)
      val b = client(srv.boundPort, "DEALER")
      assert(b.call(request(1, "/notification/response/app/cbB")).code === 65)
      val responder = client(srv.boundPort)
      assert(responder.call(request(2, "/notification/response/app/cbB",
        payload = "for-b")).code === 65)
      assert(responder.call(request(2, "/notification/response/app/cbA",
        payload = "for-a")).code === 65)
      // each registrant's first push is its own callback's response ...
      val pa = a.read()
      assert(pa.payloadString.contains("for-a"))
      assert(pa.options.exists(o =>
        o.number === 2048 && o.string === "/notification/response/app/cbA"))
      val pb = b.read()
      assert(pb.payloadString.contains("for-b"))
      assert(pb.options.exists(o =>
        o.number === 2048 && o.string === "/notification/response/app/cbB"))
      // ... and nothing else is queued for it: its next frame is the reply
      // to its own request
      assert(a.call(request(1, "/hello", format = 0)).payloadString === "hello world!")
      assert(b.call(request(1, "/hello", format = 0)).payloadString === "hello world!")
      a.close(); b.close(); responder.close()
    } finally srv.close()
  }

  test("notification round trip: the request fans to the observer, whose response reaches the caller") {
    var now = 1700000000000L
    val engine = new GraftEngine(spark, () => { now += 1; now })
    val srv = new ZestWireServer(engine, clockMs = () => now)
    try {
      val app = client(srv.boundPort, "DEALER")
      val uuid = app.call(request(1, "/notification/request/app/*",
        observe = Some("notification"), maxAgeSec = Some(0L))).payloadString
      val caller = client(srv.boundPort, "DEALER")
      assert(caller.call(request(1, "/notification/response/app/cb1")).code === 65)
      assert(caller.call(request(2, "/notification/request/app/cb1",
        payload = "ping")).code === 65)
      // the app's observer channel gets the request, keyed by its uuid
      val rq = app.read()
      assert(rq.options.exists(o => o.number === 2048 && o.string === uuid))
      assert(rq.payloadString.contains("ping"))
      // the app answers on the callback path; the caller gets the answer
      assert(app.call(request(2, "/notification/response/app/cb1",
        payload = "pong")).code === 65)
      val rsp = caller.read()
      assert(rsp.code === 69 && rsp.payloadString.contains("pong"))
      assert(rsp.options.exists(o =>
        o.number === 2048 && o.string === "/notification/response/app/cb1"))
      // an unobserved request path: the reference's 163
      assert(caller.call(request(2, "/notification/request/nobody/x",
        payload = "hi")).code === 163)
      app.close(); caller.close()
    } finally srv.close()
  }

  test("an expired observer receives exactly one 163 and nothing after; a live one keeps its pushes") {
    var now = 1700000000000L
    val engine = new GraftEngine(spark, () => now)
    val srv = new ZestWireServer(engine, clockMs = () => now)
    try {
      val short = client(srv.boundPort, "DEALER")
      val shortId = short.call(request(1, "/ts/e1/*", observe = Some("data"),
        maxAgeSec = Some(10L))).payloadString
      val live = client(srv.boundPort, "DEALER")
      assert(live.call(request(1, "/ts/e1/*", observe = Some("data"),
        maxAgeSec = Some(0L))).code === 69)
      val writer = client(srv.boundPort)
      assert(writer.call(request(2, "/ts/e1/at/1", payload = """{"value": 1}""")).code === 65)
      assert(short.read().payloadString.contains("/ts/e1/at/1"))
      assert(live.read().payloadString.contains("/ts/e1/at/1"))
      now += 11000L // past maxAge; the next message sweeps (server.re:203-206)
      assert(writer.call(request(2, "/ts/e1/at/2", payload = """{"value": 2}""")).code === 65)
      val end = short.read()
      assert(end.code === 163 && end.payload.isEmpty)
      assert(end.options.exists(o => o.number === 2048 && o.string === shortId))
      assert(live.read().payloadString.contains("/ts/e1/at/2"))
      // later messages sweep again and match again: the live observer gets
      // each write, the expired one nothing — no second 163, no push
      assert(writer.call(request(1, "/hello", format = 0)).code === 69)
      assert(writer.call(request(2, "/ts/e1/at/3", payload = """{"value": 3}""")).code === 65)
      assert(live.read().payloadString.contains("/ts/e1/at/3"))
      assert(short.call(request(1, "/hello", format = 0)).payloadString === "hello world!")
      assert(engine.subsSnapshot.size === 1)
      short.close(); live.close(); writer.close()
    } finally srv.close()
  }

  test("macaroon tokens enforced per verb over the wire") {
    var now = 1700000000000L
    val key = "wire-secret"
    val engine = new GraftEngine(spark, () => { now += 1; now },
      tokenSecretKey = Some(key))
    val srv = new ZestWireServer(engine, clockMs = () => now)
    try {
      val c = client(srv.boundPort)
      val post = token(key, "path = /ts/*", "method = POST")
      val get = token(key, "path = /ts/*", "method = GET")
      val del = token(key, "path = /ts/*", "method = DELETE")
      assert(c.call(request(2, "/ts/a/at/1", token = post,
        payload = """{"value": 1}""")).code === 65)
      // wrong method caveat: rejected, engine state untouched
      assert(c.call(request(4, "/ts/a/range/0/2000", token = post)).code === 129)
      assert(c.call(request(1, "/ts/a/length", token = post)).code === 129)
      assert(c.call(request(2, "/ts/a/at/2", token = get,
        payload = """{"value": 2}""")).code === 129)
      assert(c.call(request(4, "/ts/a/range/0/2000", token = get)).code === 129)
      assert(c.call(request(1, "/ts/a/length", token = get)).payloadString
        === """{"length": 1}""")
      // the path caveat binds as well as the method one
      assert(c.call(request(2, "/kv/a/k", token = post,
        payload = """{"v": 1}""")).code === 129)
      assert(c.call(request(4, "/ts/a/range/0/2000", token = del)).code === 66)
      assert(c.call(request(1, "/ts/a/length", token = get)).payloadString
        === """{"length": 0}""")
      c.close()
    } finally srv.close()
  }

  test("response routing fidelity: GET audits, DELETE is audit-only, denials audit as 129") {
    var now = 1700000000000L
    val key = "wire-secret-3"
    val engine = new GraftEngine(spark, () => { now += 1; now },
      tokenSecretKey = Some(key))
    val srv = new ZestWireServer(engine, clockMs = () => now)
    try {
      val all = token(key) // no caveats: everything allowed
      val dat = client(srv.boundPort, "DEALER")
      assert(dat.call(request(1, "/ts/*", token = all, observe = Some("data"),
        maxAgeSec = Some(0L))).code === 69)
      val aud = client(srv.boundPort, "DEALER")
      assert(aud.call(request(1, "/ts/*", token = all, observe = Some("audit"),
        maxAgeSec = Some(0L))).code === 69)
      // registrations audit as GET(OBSERVE) — including the audit
      // observer's own (the reference adds, then routes: server.re:103-104)
      assert(aud.read().payloadString
        .matches(raw"\d+ server\.local client\.local GET\(OBSERVE\) /ts/\* 69"))
      val c = client(srv.boundPort)
      assert(c.call(request(2, "/ts/w1/at/1000", token = all,
        payload = """{"value": 3}""")).code === 65)
      // data observer got the write; audit observer got the POST line
      assert(dat.read().payloadString.contains("/ts/w1/at/1000"))
      assert(aud.read().payloadString
        .matches(raw"\d+ server\.local client\.local POST /ts/w1/at/1000 65"))
      // GET routes to audit (server.re:836-847) and NOT to data observers
      assert(c.call(request(1, "/ts/w1/latest", token = all)).code === 69)
      assert(aud.read().payloadString
        .matches(raw"\d+ server\.local client\.local GET /ts/w1/latest 69"))
      // DELETE: audit line with 66, data observers get nothing
      assert(c.call(request(4, "/ts/w1/range/0/2000", token = all)).code === 66)
      assert(aud.read().payloadString
        .matches(raw"\d+ server\.local client\.local DELETE /ts/w1/range/0/2000 66"))
      // a denied request routes 129 to the audit observer
      assert(c.call(request(2, "/ts/w1/at/2000", payload = """{"value": 4}""")).code === 129)
      assert(aud.read().payloadString
        .matches(raw"\d+ server\.local client\.local POST /ts/w1/at/2000 129"))
      // the data observer saw ONLY the original write: its next frame is
      // its own GET response, not a push from GET/DELETE/denial
      assert(dat.call(request(1, "/hello", format = 0, token = all)).payloadString
        === "hello world!")
      aud.close(); dat.close(); c.close()
    } finally srv.close()
  }

  test("slow observer is evicted on queue overflow; other clients never block") {
    var now = 1700000000000L
    val engine = new GraftEngine(spark, () => { now += 1; now })
    val srv = new ZestWireServer(engine, clockMs = () => now, observerQueueSize = 4)
    // a NULL DEALER that registers and then stops reading, with a small
    // receive window (set before connect) so its buffers fill early
    val obs = new Socket()
    try {
      obs.setReceiveBufferSize(4096)
      obs.connect(new InetSocketAddress("127.0.0.1", srv.boundPort))
      obs.setSoTimeout(20000)
      val out = new DataOutputStream(obs.getOutputStream)
      val in = new DataInputStream(obs.getInputStream)
      out.write(ZmtpCodec.greeting(asServer = false)); out.flush()
      ZmtpCodec.readGreeting(in)
      ZmtpCodec.writeFrame(out, ZmtpCodec.FlagCommand, ZmtpCodec.ready("DEALER")); out.flush()
      assert(ZmtpCodec.parseCommand(ZmtpCodec.readCommand(in))._1 === "READY")
      ZmtpCodec.writeMessage(out, Seq(encode(request(1, "/ts/slow/*",
        observe = Some("data"), maxAgeSec = Some(0L)))), None)
      assert(decode(ZmtpCodec.readMessage(in, None).last).code === 69)
      // once the TCP buffers and the bounded queue fill, the channel dies
      // and the store keeps serving (slow-observer liveness). Fat payloads
      // overflow the buffers.
      val pad = "x" * 8192
      val writer = client(srv.boundPort)
      for (i <- 1 to 1024)
        assert(writer.call(request(2, s"/ts/slow/at/$i",
          payload = s"""{"value": $i, "pad": "$pad"}""")).code === 65)
      assert(writer.call(request(1, "/ts/slow/length")).payloadString
        === """{"length": 1024}""")
      // the dead channel's subscription was dropped engine-side too
      assert(engine.subsSnapshot.isEmpty)
      writer.close()
    } finally { obs.close(); srv.close() }
  }
}
