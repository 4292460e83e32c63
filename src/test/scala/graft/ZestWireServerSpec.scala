package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.server.{ZestWireServer, ZmtpClient}
import graft.server.ZestCodec
import graft.server.ZestCodec._

/** The binary CoAP-style wire framing (ZestCodec) and its server:
  * byte-exact encode/decode round trips, then the reference's verb/ack
  * codes and observe pushes with the in-band router identity over real
  * ZMTP sockets (the transport and CURVE mechanism themselves are pinned
  * in ZmtpSpec and ZmtpCurveSpec).
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
}
