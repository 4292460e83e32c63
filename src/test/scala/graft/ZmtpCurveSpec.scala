package graft

import java.io.{DataInputStream, DataOutputStream}
import java.net.Socket

import org.scalatest.funsuite.AnyFunSuite

import graft.server.{SecureChannel, ZestCodec, ZestWireServer, ZmtpClient, ZmtpCodec, ZmtpCurve}

/** ZMTP-CURVE over the binary port: full HELLO/WELCOME/INITIATE/READY
  * handshake, sealed REQ round trips, DEALER observe pushes, replay and
  * tamper rejection, wrong-server-key failure. The command layouts were
  * validated against a stock libzmq 4.3.5 CURVE client during
  * development (PERF.md r13); [[ZmtpClient]]'s CURVE half pins the same
  * grammar as the committed regression anchor.
  */
class ZmtpCurveSpec extends AnyFunSuite with SparkTestBase {

  test("CURVE REQ client: handshake, sealed GET/POST round trips, envelope echo") {
    val kp = SecureChannel.generateKeyPair()
    val engine = new GraftEngine(spark, () => 1700000000000L)
    val srv = new ZestWireServer(engine, serverKeys = Some(kp))
    try {
      val c = new ZmtpClient(srv.boundPort, Some(SecureChannel.rawPublic(kp)))
      c.sendMessage(Seq(Array.emptyByteArray,
        ZestCodec.encode(ZestCodec.request(1, "/hello"))))
      val reply = c.readMessage()
      assert(reply.length === 2 && reply.head.isEmpty)
      assert(ZestCodec.decode(reply(1)).payloadString === "hello world!")
      c.sendMessage(Seq(Array.emptyByteArray,
        ZestCodec.encode(ZestCodec.request(2, "/ts/cv/at/1000",
          payload = """{"value": 5}"""))))
      assert(ZestCodec.decode(c.readMessage()(1)).code === 65)
      c.sendMessage(Seq(Array.emptyByteArray,
        ZestCodec.encode(ZestCodec.request(1, "/ts/cv/latest"))))
      assert(ZestCodec.decode(c.readMessage()(1)).payloadString
        .contains("\"value\": 5"))
      c.close()
    } finally srv.close()
  }

  test("REQ/REP verbs over CURVE: post, get, delete round-trip; errors reply 128") {
    var now = 1700000000000L
    val kp = SecureChannel.generateKeyPair()
    val engine = new GraftEngine(spark, () => { now += 1; now })
    val srv = new ZestWireServer(engine, clockMs = () => now, serverKeys = Some(kp))
    try {
      val c = new ZmtpClient(srv.boundPort, Some(SecureChannel.rawPublic(kp)))
      assert(c.call(ZestCodec.request(2, "/ts/s1/at/1000",
        payload = """{"value": 42}""")).code === 65)
      val g = c.call(ZestCodec.request(1, "/ts/s1/latest"))
      assert(g.code === 69 && g.payloadString.contains("\"value\": 42"))
      assert(c.call(ZestCodec.request(4, "/ts/s1/range/0/2000")).code === 66)
      assert(c.call(ZestCodec.request(1, "/ts/s1/length")).payloadString
        === """{"length": 0}""")
      // a bad path is an error reply, and the sealed session carries on
      assert(c.call(ZestCodec.request(4, "/ts/s1/last/5")).code === 128)
      assert(c.call(ZestCodec.request(1, "/hello", format = 0)).payloadString
        === "hello world!")
      c.close()
    } finally srv.close()
  }

  test("CURVE DEALER observer receives sealed pushes") {
    var now = 1700000000000L
    val kp = SecureChannel.generateKeyPair()
    val engine = new GraftEngine(spark, () => { now += 1; now })
    val srv = new ZestWireServer(engine, clockMs = () => now,
      serverKeys = Some(kp))
    try {
      val obs = new ZmtpClient(srv.boundPort, Some(SecureChannel.rawPublic(kp)), "DEALER")
      obs.sendMessage(Seq(ZestCodec.encode(ZestCodec.request(1, "/ts/cw/*",
        observe = Some("data"), maxAgeSec = Some(0L)))))
      val ackF = ZestCodec.decode(obs.readMessage().last)
      assert(ackF.code === 69)
      // the observe ack publishes the server's public key as the router key
      assert(ackF.options.exists(o => o.number === 2048 &&
        o.string === java.util.Base64.getEncoder.encodeToString(SecureChannel.rawPublic(kp))))
      val uuid = ackF.payloadString
      val w = new ZmtpClient(srv.boundPort, Some(SecureChannel.rawPublic(kp)))
      w.sendMessage(Seq(Array.emptyByteArray,
        ZestCodec.encode(ZestCodec.request(2, "/ts/cw/at/2000",
          payload = """{"value": 3}"""))))
      assert(ZestCodec.decode(w.readMessage()(1)).code === 65)
      val push = obs.readMessage()
      assert(push.length === 1)
      val pf = ZestCodec.decode(push.head)
      assert(pf.code === 69)
      assert(pf.options.exists(o => o.number === 2048 && o.string === uuid))
      obs.close(); w.close()
    } finally srv.close()
  }

  test("tamper and replay both drop the connection") {
    val kp = SecureChannel.generateKeyPair()
    val engine = new GraftEngine(spark, () => 1700000000000L)
    val srv = new ZestWireServer(engine, serverKeys = Some(kp))
    try {
      // tamper: flip a ciphertext byte
      val c1 = new ZmtpClient(srv.boundPort, Some(SecureChannel.rawPublic(kp)))
      val good = c1.curve.get.sealMessage(0,
        ZestCodec.encode(ZestCodec.request(1, "/hello")))
      val bad = good.clone(); bad(good.length - 1) = (bad(good.length - 1) ^ 1).toByte
      c1.sendRawFrame(bad)
      assert(c1.readByte() === -1) // dropped
      c1.close()
      // replay: resend an already-used nonce
      val c2 = new ZmtpClient(srv.boundPort, Some(SecureChannel.rawPublic(kp)))
      val frame = c2.curve.get.sealMessage(0,
        ZestCodec.encode(ZestCodec.request(1, "/hello")))
      c2.sendRawFrame(frame)
      c2.readMessage() // fine the first time
      c2.sendRawFrame(frame) // identical nonce: must be rejected
      assert(c2.readByte() === -1)
      c2.close()
    } finally srv.close()
  }

  test("a client with the wrong server key cannot complete the handshake") {
    val kp = SecureChannel.generateKeyPair()
    val wrong = SecureChannel.generateKeyPair()
    val engine = new GraftEngine(spark, () => 1700000000000L)
    val srv = new ZestWireServer(engine, serverKeys = Some(kp))
    try {
      val sock = new Socket("127.0.0.1", srv.boundPort)
      sock.setSoTimeout(20000)
      val out = new DataOutputStream(
        new java.io.BufferedOutputStream(sock.getOutputStream))
      val in = new DataInputStream(sock.getInputStream)
      out.write(ZmtpCodec.greeting(asServer = false, "CURVE")); out.flush()
      val g = new Array[Byte](64); in.readFully(g)
      val hs = new ZmtpCurve.ClientHandshake(ZmtpCurve.generate(),
        SecureChannel.rawPublic(wrong))
      ZmtpCodec.writeFrame(out, ZmtpCodec.FlagCommand, hs.hello()); out.flush()
      // the server cannot open the HELLO box: connection drops, no WELCOME
      assert(in.read() === -1)
      sock.close()
    } finally srv.close()
  }

  test("Session counters: the first server MESSAGE nonce follows READY's") {
    // pin the nonce discipline the stock client enforces (strictly
    // increasing per sender across the whole short-nonce space)
    val serverKeys = ZmtpCurve.generate()
    val clientKeys = ZmtpCurve.generate()
    val hs = new ZmtpCurve.ServerHandshake(serverKeys)
    val chs = new ZmtpCurve.ClientHandshake(clientKeys, serverKeys.publicRaw)
    val welcome = hs.onHello(chs.hello())
    val (initiate, cont) = chs.onWelcome(welcome)
    val (ready, sSess, _, md) = hs.onInitiate(initiate)
    assert(md("Socket-Type") == "REQ")
    val (cSess, _) = cont(ready)
    // server -> client and client -> server both flow through the pair
    val m1 = sSess.sealMessage(0, "push".getBytes)
    assert(new String(cSess.openMessage(m1)._2) === "push")
    val m2 = cSess.sealMessage(0, "req".getBytes)
    assert(new String(sSess.openMessage(m2)._2) === "req")
  }
}
