package graft.server

import java.io.{BufferedInputStream, BufferedOutputStream, DataInputStream, DataOutputStream}
import java.net.Socket

import graft.server.ZestCodec.Frame

/** A blocking ZMTP 3.0 client for a local [[ZestWireServer]], shaped like
  * a stock libzmq socket: NULL security, or CURVE when the server's
  * 32-byte public key is given; REQ (requests leave as `[empty, body]`)
  * or DEALER (requests leave as `[body]`). Replies echo the envelope,
  * pushes arrive as single-frame messages, so [[read]] takes a message's
  * last part either way. One thread drives a client.
  */
final class ZmtpClient(port: Int, serverPublicKey: Option[Array[Byte]] = None,
                       socketType: String = "REQ") {
  private val sock = new Socket("127.0.0.1", port)
  sock.setSoTimeout(30000)
  sock.setTcpNoDelay(true)
  private val out = new DataOutputStream(new BufferedOutputStream(sock.getOutputStream))
  private val in = new DataInputStream(new BufferedInputStream(sock.getInputStream))

  private def sendCommand(body: Array[Byte]): Unit = {
    ZmtpCodec.writeFrame(out, ZmtpCodec.FlagCommand, body); out.flush()
  }

  /** The CURVE record session (None under NULL). */
  private[graft] val curve: Option[ZmtpCurve.Session] = try {
    out.write(ZmtpCodec.greeting(asServer = false,
      if (serverPublicKey.isDefined) "CURVE" else "NULL"))
    out.flush()
    ZmtpCodec.readGreeting(in)
    serverPublicKey match {
      case None =>
        sendCommand(ZmtpCodec.ready(socketType))
        val (name, props) = ZmtpCodec.parseCommand(ZmtpCodec.readCommand(in))
        require(name == "READY", s"expected READY, got $name")
        require(props.get("Socket-Type").exists(new String(_, "US-ASCII") == "ROUTER"),
          "the server is not a ROUTER")
        None
      case Some(key) =>
        val hs = new ZmtpCurve.ClientHandshake(ZmtpCurve.generate(), key, socketType)
        sendCommand(hs.hello())
        val (initiate, cont) = hs.onWelcome(ZmtpCodec.readCommand(in))
        sendCommand(initiate)
        val (session, md) = cont(ZmtpCodec.readCommand(in))
        require(md.get("Socket-Type").contains("ROUTER"), "the server is not a ROUTER")
        Some(session)
    }
  } catch { case e: Throwable => sock.close(); throw e }

  /** One multipart message; under CURVE each part is a sealed MESSAGE. */
  def sendMessage(parts: Seq[Array[Byte]]): Unit = ZmtpCodec.writeMessage(out, parts, curve)

  /** The next message's parts, envelope included. */
  def readMessage(): Seq[Array[Byte]] = ZmtpCodec.readMessage(in, curve)

  def send(f: Frame): Unit = {
    val body = ZestCodec.encode(f)
    sendMessage(if (socketType == "REQ") Seq(Array.emptyByteArray, body) else Seq(body))
  }

  /** The next reply or push, decoded. */
  def read(): Frame = ZestCodec.decode(readMessage().last)

  def call(f: Frame): Frame = { send(f); read() }

  /** Raw access for protocol tests: one flags-0 frame, one input byte. */
  private[graft] def sendRawFrame(body: Array[Byte]): Unit = {
    ZmtpCodec.writeFrame(out, 0, body); out.flush()
  }
  private[graft] def readByte(): Int = in.read()

  def close(): Unit = sock.close()
}
