package graft

import java.io.{ByteArrayOutputStream, DataInputStream, DataOutputStream}
import java.net.Socket

import org.scalatest.funsuite.AnyFunSuite

import graft.server.{SecureChannel, ZestCodec, ZestWireServer, ZmtpClient, ZmtpCodec}

/** ZMTP 3.0, the binary port's transport: golden greeting/frame bytes
  * against the public spec, a full REQ round trip, DEALER observe pushes,
  * the handshake refusals (bad socket type, NULL on a secure server) and
  * the disconnect of a peer that does not speak ZMTP.
  */
class ZmtpSpec extends AnyFunSuite with SparkTestBase {

  private def hex(b: Array[Byte]): String = b.map("%02x".format(_)).mkString

  /** A raw NULL handshake, for the tests that assert the server's own
    * bytes: returns the server's greeting and the first `commands`
    * commands it sends once our READY is out.
    */
  private def rawHandshake(port: Int, socketType: String, commands: Int = 1)
      : (Array[Byte], Seq[(String, Map[String, Array[Byte]])]) = {
    val sock = new Socket("127.0.0.1", port)
    try {
      sock.setSoTimeout(20000)
      val out = new DataOutputStream(sock.getOutputStream)
      val in = new DataInputStream(sock.getInputStream)
      out.write(ZmtpCodec.greeting(asServer = false))
      val g = new Array[Byte](64); in.readFully(g)
      ZmtpCodec.writeFrame(out, ZmtpCodec.FlagCommand, ZmtpCodec.ready(socketType))
      (g, Seq.fill(commands)(ZmtpCodec.parseCommand(ZmtpCodec.readFrame(in)._2)))
    } finally sock.close()
  }

  test("golden bytes: greeting, short frame, long frame, READY command") {
    // greeting per https://rfc.zeromq.org/spec/23/: signature FF..7F,
    // version 3.0, mechanism NULL zero-padded, as-server, 31 filler
    assert(hex(ZmtpCodec.greeting(asServer = true)) ===
      "ff" + "00" * 8 + "7f" + "0300" +
        hex("NULL".getBytes("US-ASCII")) + "00" * 16 + "01" + "00" * 31)
    assert(ZmtpCodec.greeting(asServer = false)(32) === 0.toByte)

    def frameBytes(flags: Int, body: Array[Byte]): Array[Byte] = {
      val bos = new ByteArrayOutputStream()
      ZmtpCodec.writeFrame(new DataOutputStream(bos), flags, body)
      bos.toByteArray
    }
    // short final frame "abc": flags 0x00, size 0x03, body
    assert(hex(frameBytes(0, "abc".getBytes)) === "0003616263")
    // short MORE frame: flags 0x01
    assert(hex(frameBytes(ZmtpCodec.FlagMore, "abc".getBytes)) === "0103616263")
    // long frame (>255): flags 0x02, 8-octet BE size
    val big = Array.fill[Byte](256)(0x61)
    assert(hex(frameBytes(0, big)).startsWith("02" + "0000000000000100" + "61"))
    // READY command body: 05 'READY' + "Socket-Type" metadata
    assert(hex(ZmtpCodec.ready("REQ")) ===
      "05" + hex("READY".getBytes) +
        "0b" + hex("Socket-Type".getBytes) + "00000003" + hex("REQ".getBytes))
    // round trip through the reader
    val in = new DataInputStream(
      new java.io.ByteArrayInputStream(frameBytes(0, big)))
    val (f, b) = ZmtpCodec.readFrame(in)
    assert(f === ZmtpCodec.FlagLong && b.length === 256)
  }

  test("a ZMTP REQ client completes the NULL handshake and a GET round trip") {
    val engine = new GraftEngine(spark, () => 1700000000000L)
    val srv = new ZestWireServer(engine)
    try {
      val (g, Seq((name, props))) = rawHandshake(srv.boundPort, "REQ")
      // the server's greeting, byte-exact (as-server is 0 under NULL —
      // the field is meaningful only for CURVE/PLAIN per the spec)
      assert(hex(g) === hex(ZmtpCodec.greeting(asServer = false)))
      assert(name === "READY")
      assert(new String(props("Socket-Type"), "US-ASCII") === "ROUTER")
      val c = new ZmtpClient(srv.boundPort)
      // REQ message: [empty delimiter][zest request frame]
      c.sendMessage(Seq(Array.emptyByteArray,
        ZestCodec.encode(ZestCodec.request(1, "/hello"))))
      val reply = c.readMessage()
      assert(reply.length === 2)
      assert(reply.head.isEmpty, "reply must echo the REQ envelope")
      val f = ZestCodec.decode(reply(1))
      assert(f.code === 69 && f.payloadString === "hello world!")
      // a POST and a readback through the same connection
      assert(c.call(ZestCodec.request(2, "/ts/z/at/1000",
        payload = """{"value": 7}""")).code === 65)
      assert(c.call(ZestCodec.request(1, "/ts/z/latest")).payloadString
        .contains("\"value\": 7"))
      c.close()
    } finally srv.close()
  }

  test("a DEALER observer gets pushes from a REQ writer's POST") {
    var now = 1700000000000L
    val engine = new GraftEngine(spark, () => { now += 1; now })
    val srv = new ZestWireServer(engine, clockMs = () => now)
    try {
      val obs = new ZmtpClient(srv.boundPort, socketType = "DEALER")
      // DEALER registration: no envelope
      val ackF = obs.call(ZestCodec.request(1, "/ts/zz/*",
        observe = Some("data"), maxAgeSec = Some(0L)))
      assert(ackF.code === 69)
      val uuid = ackF.payloadString

      val writer = new ZmtpClient(srv.boundPort)
      assert(writer.call(ZestCodec.request(2, "/ts/zz/at/1000",
        payload = """{"value": 3}""")).code === 65)

      // the push arrives as an envelope-free single-frame ZMTP message
      val push = obs.readMessage()
      assert(push.length === 1)
      val pf = ZestCodec.decode(push.head)
      assert(pf.code === 69)
      assert(pf.options.exists(o => o.number === 2048 && o.string === uuid))
      assert(pf.payloadString.contains("/ts/zz/at/1000"))
      writer.close(); obs.close()
    } finally srv.close()
  }

  test("a DEALER observer gets each matching write until it disconnects, and nothing else") {
    var now = 1700000000000L
    val engine = new GraftEngine(spark, () => { now += 1; now })
    val srv = new ZestWireServer(engine, clockMs = () => now)
    try {
      val obs = new ZmtpClient(srv.boundPort, socketType = "DEALER")
      val uuid = obs.call(ZestCodec.request(1, "/ts/s2/*",
        observe = Some("data"), maxAgeSec = Some(3600L))).payloadString
      val writer = new ZmtpClient(srv.boundPort)
      assert(writer.call(ZestCodec.request(2, "/ts/s2/at/5000",
        payload = """{"value": 7}""")).code === 65)
      val push = obs.read()
      assert(push.options.exists(o => o.number === 2048 && o.string === uuid))
      // data-mode frame: "ts uri_path format payload"
      assert(push.payloadString.endsWith("""/ts/s2/at/5000 json {"value": 7}"""))
      // a non-matching write pushes nothing: the next push is the next
      // matching write
      assert(writer.call(ZestCodec.request(2, "/ts/other/at/1",
        payload = """{"value": 1}""")).code === 65)
      assert(writer.call(ZestCodec.request(2, "/ts/s2/at/6000",
        payload = """{"value": 8}""")).code === 65)
      assert(obs.read().payloadString.contains("/ts/s2/at/6000"))
      // a disconnected observer is dropped; later matching writes don't hang
      obs.close()
      assert(writer.call(ZestCodec.request(2, "/ts/s2/at/7000",
        payload = """{"value": 9}""")).code === 65)
      assert(writer.call(ZestCodec.request(1, "/ts/s2/length")).payloadString
        === """{"length": 3}""")
      val deadline = System.currentTimeMillis() + 10000
      while (engine.subsSnapshot.nonEmpty && System.currentTimeMillis() < deadline)
        Thread.sleep(20)
      assert(engine.subsSnapshot.isEmpty, "closed observer's subscription never dropped")
      writer.close()
    } finally srv.close()
  }

  test("an expired ZMTP observer gets its one 163 as an envelope-free push") {
    var now = 1700000000000L
    val engine = new GraftEngine(spark, () => now)
    val srv = new ZestWireServer(engine, clockMs = () => now)
    try {
      val obs = new ZmtpClient(srv.boundPort, socketType = "DEALER")
      val uuid = obs.call(ZestCodec.request(1, "/ts/ex/*",
        observe = Some("data"), maxAgeSec = Some(10L))).payloadString
      now += 11000L
      // any next message triggers the sweep — another client's GET here
      val other = new ZmtpClient(srv.boundPort)
      assert(other.call(ZestCodec.request(1, "/hello")).code === 69)
      val end = obs.readMessage()
      assert(end.length === 1)
      val ef = ZestCodec.decode(end.head)
      assert(ef.code === 163)
      assert(ef.options.exists(o => o.number === 2048 && o.string === uuid))
      other.close(); obs.close()
    } finally srv.close()
  }

  test("a multipart body is a protocol error (128), never a silent truncation") {
    val engine = new GraftEngine(spark, () => 1700000000000L)
    val srv = new ZestWireServer(engine)
    try {
      val c = new ZmtpClient(srv.boundPort, socketType = "DEALER")
      c.sendMessage(Seq(
        ZestCodec.encode(ZestCodec.request(2, "/ts/m/at/1",
          payload = """{"value":""")),
        "1}".getBytes("UTF-8"))) // request split across two body frames
      assert(c.read().code === 128)
      // the connection survives and a well-formed request still works
      assert(c.call(ZestCodec.request(1, "/hello")).payloadString === "hello world!")
      c.close()
    } finally srv.close()
  }

  test("an invalid peer socket type is refused with an ERROR command") {
    val engine = new GraftEngine(spark, () => 1700000000000L)
    val srv = new ZestWireServer(engine)
    try {
      // the server's READY goes out eagerly; the ERROR follows ours
      val (_, Seq((ready, _), (name, props))) = rawHandshake(srv.boundPort, "PUB", 2)
      assert(ready === "READY" && name === "ERROR")
      assert(new String(props("reason"), "US-ASCII").contains("invalid socket type"))
    } finally srv.close()
  }

  test("secure mode speaks CURVE on ZMTP; a NULL client is refused with ERROR") {
    val engine = new GraftEngine(spark, () => 1700000000000L)
    val srv = new ZestWireServer(engine,
      serverKeys = Some(SecureChannel.generateKeyPair()))
    try {
      val (g, Seq((name, props))) = rawHandshake(srv.boundPort, "REQ")
      // the server advertises CURVE (NULL can never bypass the crypto)
      assert(new String(g.slice(12, 32), "US-ASCII").takeWhile(_ != 0) === "CURVE")
      assert(g(32) === 1.toByte) // as-server
      assert(name === "ERROR")
      assert(new String(props("reason"), "US-ASCII").contains("NULL not supported"))
    } finally srv.close()
  }

  test("a client that does not speak ZMTP is disconnected after the greeting") {
    val engine = new GraftEngine(spark, () => 1700000000000L)
    val srv = new ZestWireServer(engine)
    try {
      // a u32 length prefix (first octet 0x00) and a valid zest POST
      val sock = new Socket("127.0.0.1", srv.boundPort)
      sock.setSoTimeout(20000)
      val out = new DataOutputStream(sock.getOutputStream)
      val in = new DataInputStream(sock.getInputStream)
      val post = ZestCodec.encode(ZestCodec.request(2, "/ts/nz/at/1000",
        payload = """{"value": 1}"""))
      out.writeInt(post.length); out.write(post); out.flush()
      val g = new Array[Byte](64); in.readFully(g)
      assert(hex(g) === hex(ZmtpCodec.greeting(asServer = false)))
      assert(in.read() === -1) // nothing after the greeting: disconnected
      sock.close()
      // and nothing was dispatched
      val c = new ZmtpClient(srv.boundPort)
      assert(c.call(ZestCodec.request(1, "/ts/nz/length")).payloadString
        === """{"length": 0}""")
      c.close()
    } finally srv.close()
  }
}
