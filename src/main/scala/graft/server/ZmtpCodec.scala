package graft.server

import java.io.{DataInputStream, DataOutputStream}

/** ZMTP 3.0 wire grammar (https://rfc.zeromq.org/spec/23/ — a public
  * spec, implementable JDK-only), the binary port's only transport: the
  * reference binds stock libzmq REP/ROUTER sockets
  * (`/root/reference/src/protocol/zest.re:224-263`), so a zest client
  * links libzmq and speaks ZMTP on the TCP connection.
  *
  * Two security mechanisms ride this grammar: NULL (no credentials —
  * request auth stays the macaroon tokens INSIDE the zest frames, exactly
  * where the reference carries them) and CURVE ([[ZmtpCurve]], whose
  * MESSAGE boxes carry each part and its MORE flag).
  *
  * Grammar implemented:
  *  - greeting: 64 octets = signature (%xFF 8*%x00 %x7F), version (3.x —
  *    any minor accepted; 3.1 only ADDS pub-sub commands), mechanism
  *    ("NULL"/"CURVE" zero-padded to 20), as-server, 31 filler octets;
  *  - frame: flags octet (bit0 MORE, bit1 LONG, bit2 COMMAND) + size
  *    (1 octet short / 8 octets big-endian long) + body;
  *  - commands: READY (metadata = name-octet-string +
  *    u32-length value, carrying Socket-Type) and ERROR.
  */
object ZmtpCodec {

  val FlagMore = 0x01
  val FlagLong = 0x02
  val FlagCommand = 0x04

  /** One peer's complete greeting. `asServer` is advisory under NULL and
    * meaningful under CURVE (the server side holds the permanent key).
    */
  def greeting(asServer: Boolean, mechanism: String = "NULL"): Array[Byte] = {
    require(mechanism.length <= 20, "mechanism name too long")
    val g = new Array[Byte](64)
    g(0) = 0xff.toByte // signature
    g(9) = 0x7f.toByte
    g(10) = 3 // version-major
    g(11) = 0 // version-minor
    mechanism.getBytes("US-ASCII").copyToArray(g, 12) // zero-padded to 20
    g(32) = if (asServer) 1 else 0
    g // filler stays zero
  }

  /** Read and validate the peer greeting; returns (minor, mechanism). */
  def readGreeting(in: DataInputStream): (Int, String) = {
    // the lead octet first: a peer speaking another protocol is refused at
    // once, not after blocking on 63 octets it may never send
    require(in.readUnsignedByte() == 0xff, "not a ZMTP peer")
    val g = new Array[Byte](64)
    g(0) = 0xff.toByte
    in.readFully(g, 1, 63)
    require(g(9) == 0x7f.toByte, "bad ZMTP signature")
    require(g(10) == 3, s"unsupported ZMTP version-major ${g(10)}")
    val mech = new String(g.slice(12, 32), "US-ASCII").takeWhile(_ != 0)
    (g(11).toInt, mech)
  }

  def writeFrame(out: DataOutputStream, flags: Int, body: Array[Byte]): Unit = {
    if (body.length <= 255 && (flags & FlagLong) == 0) {
      out.writeByte(flags)
      out.writeByte(body.length)
    } else {
      out.writeByte(flags | FlagLong)
      out.writeLong(body.length.toLong)
    }
    out.write(body)
  }

  /** Read one frame; returns (flags, body). A frame past 16 MB is a
    * protocol violation, not a buffer to grow.
    */
  def readFrame(in: DataInputStream): (Int, Array[Byte]) = {
    val flags = in.readUnsignedByte()
    val len =
      if ((flags & FlagLong) == 0) in.readUnsignedByte().toLong
      else in.readLong()
    require(len >= 0 && len <= 16L * 1024 * 1024, s"bad ZMTP frame length $len")
    val b = new Array[Byte](len.toInt)
    in.readFully(b)
    (flags, b)
  }

  /** Read one command frame's body (handshakes); a peer's ERROR command
    * ends the handshake as an IOException carrying its reason.
    */
  def readCommand(in: DataInputStream): Array[Byte] = {
    val (flags, body) = readFrame(in)
    require((flags & FlagCommand) != 0, "expected a ZMTP command")
    if (body.length > 6 && body(0) == 5 && new String(body, 1, 5, "US-ASCII") == "ERROR")
      throw new java.io.IOException("ZMTP handshake refused: " +
        new String(parseCommand(body)._2("reason"), "US-ASCII"))
    body
  }

  /** Read one complete multipart message's parts. Under CURVE (`session`
    * set) each frame is a sealed MESSAGE whose box carries the MORE flag;
    * under NULL a command frame mid-message is a protocol error — the
    * handshake is over by the time messages flow.
    */
  def readMessage(in: DataInputStream,
                  session: Option[ZmtpCurve.Session]): Seq[Array[Byte]] = {
    val parts = Seq.newBuilder[Array[Byte]]
    var more = true
    while (more) {
      val (flags, body) = readFrame(in)
      val (partFlags, part) = session match {
        case Some(s) => s.openMessage(body)
        case None =>
          require((flags & FlagCommand) == 0, "unexpected ZMTP command mid-stream")
          (flags, body)
      }
      parts += part
      more = (partFlags & FlagMore) != 0
    }
    parts.result()
  }

  /** Write one multipart message; under CURVE each part travels as a
    * sealed MESSAGE in a flags-0 frame, MORE riding inside the box.
    */
  def writeMessage(out: DataOutputStream, parts: Seq[Array[Byte]],
                   session: Option[ZmtpCurve.Session]): Unit = {
    parts.zipWithIndex.foreach { case (p, i) =>
      val more = if (i < parts.length - 1) FlagMore else 0
      session match {
        case Some(s) => writeFrame(out, 0, s.sealMessage(more, p))
        case None => writeFrame(out, more, p)
      }
    }
    out.flush()
  }

  /** Split a message into (leading empty-frame envelope, body parts); an
    * all-empty message keeps its last empty frame as the body.
    */
  def splitEnvelope(parts: Seq[Array[Byte]]): (Seq[Array[Byte]], Seq[Array[Byte]]) = {
    val (env, rest) = parts.span(_.isEmpty)
    if (rest.isEmpty) (env.dropRight(1), parts.takeRight(1)) else (env, rest)
  }

  /** READY command body: name + metadata properties. */
  def ready(socketType: String, props: Map[String, String] = Map.empty): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    val o = new DataOutputStream(bos)
    o.writeByte(5); o.writeBytes("READY")
    def prop(name: String, value: Array[Byte]): Unit = {
      o.writeByte(name.length); o.writeBytes(name)
      o.writeInt(value.length); o.write(value)
    }
    prop("Socket-Type", socketType.getBytes("US-ASCII"))
    props.foreach { case (k, v) => prop(k, v.getBytes("US-ASCII")) }
    bos.toByteArray
  }

  /** ERROR command body (sent before dropping a bad handshake). */
  def error(reason: String): Array[Byte] = {
    val r = reason.getBytes("US-ASCII").take(255)
    val bos = new java.io.ByteArrayOutputStream()
    val o = new DataOutputStream(bos)
    o.writeByte(5); o.writeBytes("ERROR")
    o.writeByte(r.length); o.write(r)
    bos.toByteArray
  }

  /** Parse a command frame body -> (name, properties). Properties use the
    * READY metadata grammar; ERROR's reason surfaces as `"reason"`.
    */
  def parseCommand(body: Array[Byte]): (String, Map[String, Array[Byte]]) = {
    val in = new DataInputStream(new java.io.ByteArrayInputStream(body))
    val nameLen = in.readUnsignedByte()
    val nameB = new Array[Byte](nameLen); in.readFully(nameB)
    val name = new String(nameB, "US-ASCII")
    if (name == "ERROR") {
      val rl = in.readUnsignedByte()
      val r = new Array[Byte](rl); in.readFully(r)
      (name, Map("reason" -> r))
    } else {
      val props = Map.newBuilder[String, Array[Byte]]
      while (in.available() > 0) {
        val kl = in.readUnsignedByte()
        val k = new Array[Byte](kl); in.readFully(k)
        val vl = in.readInt()
        require(vl >= 0 && vl <= 16 * 1024 * 1024, s"bad ZMTP property length $vl")
        val v = new Array[Byte](vl); in.readFully(v)
        props += new String(k, "US-ASCII") -> v
      }
      (name, props.result())
    }
  }

  /** Socket types this ROUTER-role endpoint accepts (ZMTP 3.0 validity
    * table: ROUTER peers with REQ, DEALER, ROUTER).
    */
  val acceptedPeers: Set[String] = Set("REQ", "DEALER", "ROUTER")
}
