package graft

import java.io.{BufferedReader, InputStreamReader, OutputStreamWriter, PrintWriter}
import java.net.Socket

import org.json4s._
import org.json4s.jackson.JsonMethods
import org.scalatest.funsuite.AnyFunSuite

import graft.server.{WireRuntime, WireServer, ZestWireServer, ZmtpClient}
import graft.server.ZestCodec._

/** The WireMain deployment shape: BOTH front-ends over ONE engine through
  * ONE WireRuntime — cross-port observer delivery, cross-port expiry
  * acks, and the notification-response route to the REGISTERED
  * connection (the r12 review's dual-port defects, each pinned here).
  */
class DualWireSpec extends AnyFunSuite with SparkTestBase {

  private implicit val fmts: Formats = DefaultFormats

  private class JClient(port: Int) {
    private val sock = new Socket("127.0.0.1", port)
    sock.setSoTimeout(20000)
    private val out = new PrintWriter(
      new OutputStreamWriter(sock.getOutputStream, "UTF-8"), true)
    private val in = new BufferedReader(
      new InputStreamReader(sock.getInputStream, "UTF-8"))
    def send(fields: (String, JValue)*): JValue = {
      out.println(JsonMethods.compact(JObject(fields.toList)))
      JsonMethods.parse(in.readLine())
    }
    def readLine(): JValue = JsonMethods.parse(in.readLine())
    def close(): Unit = sock.close()
  }

  private def j(s: String): JValue = JString(s)

  test("a write on either port pushes to observers registered on the other") {
    var now = 1700000000000L
    val engine = new GraftEngine(spark, () => { now += 1; now })
    val rt = new WireRuntime(engine)
    val jsonSrv = new WireServer(engine, clockMs = () => now, runtime = Some(rt))
    val binSrv = new ZestWireServer(engine, clockMs = () => now, runtime = Some(rt))
    try {
      // binary-port observer, JSON-port writer
      val bObs = new ZmtpClient(binSrv.boundPort, socketType = "DEALER")
      bObs.call(request(1, "/ts/x/*", observe = Some("data"), maxAgeSec = Some(0L)))
      val jWriter = new JClient(jsonSrv.boundPort)
      jWriter.send("verb" -> j("POST"), "path" -> j("/ts/x/at/1000"),
        "payload" -> j("""{"value": 1}"""))
      val pushF = bObs.read()
      assert(pushF.code === 69 && pushF.contentFormat === 50)
      assert(pushF.payloadString.endsWith("""/ts/x/at/1000 json {"value": 1}"""))
      // JSON-port observer, binary-port writer
      val jObs = new JClient(jsonSrv.boundPort)
      val sub = jObs.send("verb" -> j("OBSERVE"), "path" -> j("/ts/y/*"),
        "maxAgeSec" -> JLong(0L))
      val uuid = (sub \ "body" \ "uuid").extract[String]
      val bWriter = new ZmtpClient(binSrv.boundPort)
      assert(bWriter.call(request(2, "/ts/y/at/2000",
        payload = """{"value": 2}""")).code === 65)
      val push2 = jObs.readLine()
      assert((push2 \ "push").extract[String] === uuid)
      assert((push2 \ "message").extract[String].contains("/ts/y/at/2000"))
      bObs.close(); jObs.close(); jWriter.close(); bWriter.close()
    } finally { jsonSrv.close(); binSrv.close() }
  }

  test("expiry sweeps triggered on one port still deliver the 163 to the other port's observer") {
    var now = 1700000000000L
    val engine = new GraftEngine(spark, () => now)
    val rt = new WireRuntime(engine)
    val jsonSrv = new WireServer(engine, clockMs = () => now, runtime = Some(rt))
    val binSrv = new ZestWireServer(engine, clockMs = () => now, runtime = Some(rt))
    try {
      val bObs = new ZmtpClient(binSrv.boundPort, socketType = "DEALER")
      val ackF = bObs.call(request(1, "/ts/e/*", observe = Some("data"),
        maxAgeSec = Some(10L)))
      val uuid = ackF.payloadString
      now += 11000L
      // the JSON port dispatches the next message -> its sweep owes the
      // binary-port observer its one 163
      val jWriter = new JClient(jsonSrv.boundPort)
      jWriter.send("verb" -> j("GET"), "path" -> j("/hello"))
      val end = bObs.read()
      assert(end.code === 163)
      assert(end.options.exists(o => o.number === 2048 && o.string === uuid))
      bObs.close(); jWriter.close()
    } finally { jsonSrv.close(); binSrv.close() }
  }

  test("NOTIFY responses route to the connection that REGISTERED the callback") {
    var now = 1700000000000L
    val engine = new GraftEngine(spark, () => { now += 1; now })
    val srv = new WireServer(engine, clockMs = () => now)
    try {
      val registrant = new JClient(srv.boundPort)
      val reg = registrant.send("verb" -> j("NOTIFY-REGISTER"),
        "path" -> j("/notification/response/app/cb9"))
      assert((reg \ "status").extract[String] === "ok")
      val responder = new JClient(srv.boundPort)
      val r = responder.send("verb" -> j("NOTIFY"),
        "path" -> j("/notification/response/app/cb9"), "payload" -> j("result-77"))
      assert((r \ "status").extract[String] === "ok")
      // the registered connection receives the routed response push,
      // keyed by the callback path (the ROUTER-identity role)
      val push = registrant.readLine()
      assert((push \ "push").extract[String] === "/notification/response/app/cb9")
      assert((push \ "message").extract[String].contains("result-77"))
      registrant.close(); responder.close()
    } finally srv.close()
  }

  test("binary wire: POST /notification/response routes to the registered binary connection") {
    var now = 1700000000000L
    val engine = new GraftEngine(spark, () => { now += 1; now })
    val srv = new ZestWireServer(engine, clockMs = () => now)
    try {
      val registrant = new ZmtpClient(srv.boundPort, socketType = "DEALER")
      assert(registrant.call(request(1, "/notification/response/app/cbX")).code === 65)
      val responder = new ZmtpClient(srv.boundPort)
      assert(responder.call(request(2, "/notification/response/app/cbX",
        payload = "done-42")).code === 65)
      val push = registrant.read()
      assert(push.code === 69 && push.payloadString.contains("done-42"))
      assert(push.options.exists(o =>
        o.number === 2048 && o.string === "/notification/response/app/cbX"))
      registrant.close(); responder.close()
    } finally srv.close()
  }

  test("binary kv values are base64 at the engine boundary: garbage is rejected on every wire") {
    var now = 1700000000000L
    val engine = new GraftEngine(spark, () => { now += 1; now })
    val srv = new WireServer(engine, clockMs = () => now)
    try {
      val c = new JClient(srv.boundPort)
      // a JSON-wire client must send base64 for format binary — raw text
      // that is not valid base64 is rejected, not stored-then-garbled
      val bad = c.send("verb" -> j("POST"), "path" -> j("/kv/d/v"),
        "format" -> j("binary"), "payload" -> j("hello!"))
      assert((bad \ "status").extract[String] === "err")
      val b64 = java.util.Base64.getEncoder.encodeToString("hello!".getBytes("UTF-8"))
      val good = c.send("verb" -> j("POST"), "path" -> j("/kv/d/v"),
        "format" -> j("binary"), "payload" -> j(b64))
      assert((good \ "status").extract[String] === "ok")
      val got = c.send("verb" -> j("GET"), "path" -> j("/kv/d/v"),
        "format" -> j("binary"))
      assert((got \ "body").extract[String] === b64)
      c.close()
    } finally srv.close()
  }
}
