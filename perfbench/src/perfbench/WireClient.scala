package perfbench

import java.io.{BufferedInputStream, BufferedOutputStream, DataInputStream, DataOutputStream}
import java.net.Socket
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import java.util.concurrent.locks.LockSupport

import graft.server.{ZestCodec, ZmtpCodec, ZmtpCurve}

/** One request in flight or done. Times are `System.nanoTime`. */
final class Sent(val conn: String, val req: Gen.Req, val dueNs: Long, val seq: Long) {
  /** The traced server's id for this request (see [[Tracer]]). */
  def reqId: String = s"$conn#${seq - 1}"
  @volatile var sendNs: Long = 0L
  @volatile var recvNs: Long = 0L
  @volatile var reply: ZestCodec.Frame = null
}

/** A ZMTP 3.0 CURVE DEALER connection to the wire server, the way a stock
  * libzmq DEALER talks to it: requests go out as `[empty, body]`, replies
  * come back FIFO with the same envelope, pushes arrive as single frames.
  * One thread sends, one reader thread receives, so open-loop sends never
  * wait on replies.
  */
final class WireClient(port: Int, serverPub: Array[Byte], val name: String,
                       token: String, onPush: (Long, ZestCodec.Frame) => Unit) {
  private val sock = new Socket("127.0.0.1", port)
  sock.setTcpNoDelay(true)
  private val out = new DataOutputStream(new BufferedOutputStream(sock.getOutputStream))
  private val in = new DataInputStream(new BufferedInputStream(sock.getInputStream))
  private val pending = new ConcurrentLinkedQueue[Sent]()
  private val seq = new AtomicLong(0)
  val sentCount = new AtomicLong(0)
  val recvCount = new AtomicLong(0)
  @volatile private var closed = false
  @volatile var error: Throwable = null

  private def command(body: Array[Byte]): Unit = {
    ZmtpCodec.writeFrame(out, ZmtpCodec.FlagCommand, body); out.flush()
  }
  private def readBody(): Array[Byte] = ZmtpCodec.readFrame(in)._2

  private val session: ZmtpCurve.Session = {
    out.write(ZmtpCodec.greeting(asServer = false, "CURVE")); out.flush()
    val g = new Array[Byte](64); in.readFully(g)
    val hs = new ZmtpCurve.ClientHandshake(ZmtpCurve.generate(), serverPub, "DEALER")
    command(hs.hello())
    val (initiate, cont) = hs.onWelcome(readBody())
    command(initiate)
    cont(readBody())._1
  }

  private def readMessage(): Seq[Array[Byte]] = {
    val parts = Seq.newBuilder[Array[Byte]]
    var more = true
    while (more) {
      val (flags, payload) = session.openMessage(readBody())
      parts += payload
      more = (flags & 1) != 0
    }
    parts.result()
  }

  private val reader = new Thread(() => {
    try {
      while (!closed) {
        val parts = readMessage()
        val now = System.nanoTime()
        if (parts.size == 2 && parts.head.isEmpty) {
          val s = pending.poll()
          if (s == null) throw new IllegalStateException(s"$name: reply with nothing pending")
          s.reply = ZestCodec.decode(parts(1))
          s.recvNs = now
          recvCount.incrementAndGet()
        } else if (parts.size == 1) onPush(now, ZestCodec.decode(parts.head))
        else throw new IllegalStateException(s"$name: unexpected ${parts.size}-part message")
      }
    } catch {
      case t: Throwable => if (!closed) error = t
    }
  }, s"perfbench-client-$name")
  reader.setDaemon(true)
  reader.start()

  /** Send one request now; `dueNs` is when it was scheduled. */
  def send(req: Gen.Req, dueNs: Long): Sent =
    transmit(new Sent(name, req, dueNs, seq.getAndIncrement()),
      ZestCodec.request(req.code, req.path, format = 50, token = token, payload = req.payload))

  /** Register a data observer on `path` (maxAge 0: never expires). */
  def observe(path: String): Sent =
    transmit(new Sent(name, Gen.Req(0L, 0, 1, path, "", "observe"), System.nanoTime(),
      seq.getAndIncrement()),
      ZestCodec.request(1, path, format = 50, token = token,
        observe = Some("data"), maxAgeSec = Some(0L)))

  private def transmit(s: Sent, f: ZestCodec.Frame): Sent = {
    val body = ZestCodec.encode(f)
    this.synchronized {
      pending.add(s)
      sentCount.incrementAndGet()
      s.sendNs = System.nanoTime()
      ZmtpCodec.writeFrame(out, 0, session.sealMessage(1, Array.emptyByteArray))
      ZmtpCodec.writeFrame(out, 0, session.sealMessage(0, body))
      out.flush()
    }
    s
  }

  def outstanding: Long = sentCount.get() - recvCount.get()

  /** Block until every sent request has its reply (or `timeoutMs`). */
  def drain(timeoutMs: Long): Boolean = {
    val end = System.nanoTime() + timeoutMs * 1000000L
    while (outstanding > 0 && error == null && System.nanoTime() < end)
      LockSupport.parkNanos(200000L)
    outstanding == 0
  }

  def close(): Unit = {
    closed = true
    try sock.close() catch { case _: Exception => () }
    reader.join(5000)
  }
}

object WireClient {
  /** Sleep until `System.nanoTime` reaches `target` (spin the last 100 µs). */
  def sleepUntil(target: Long): Unit = {
    var left = target - System.nanoTime()
    while (left > 100000L) { LockSupport.parkNanos(left - 100000L); left = target - System.nanoTime() }
    while (System.nanoTime() < target) Thread.onSpinWait()
  }
}
