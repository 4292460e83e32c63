package graft.server

import java.io.{DataInputStream, DataOutputStream}
import java.net.{ServerSocket, Socket}
import java.security.KeyPair
import java.util.concurrent.{LinkedBlockingQueue, TimeUnit}

import graft.GraftEngine
import graft.server.ZestCodec._

/** The wire front-end of [[graft.GraftEngine]]: [[ZestCodec]] frames over
  * ZMTP 3.0 ([[ZmtpCodec]]). Request/response and push frames are the
  * reference's exact byte format (reference
  * `src/protocol/zest.re:12-216`), and the transport is the reference's
  * own: a stock libzmq REQ or DEALER client connects the way it does to
  * the reference's sockets (`zest.re:224-263`). One transport, two
  * security mechanisms:
  *
  *  - NULL when `serverKeys` is unset (request auth stays the macaroon
  *    tokens inside the zest frames, exactly where the reference carries
  *    them);
  *  - CURVE when `serverKeys` is set — CurveZMQ proper ([[ZmtpCurve]]:
  *    HELLO/WELCOME cookie/INITIATE vouch/READY + XSalsa20-Poly1305
  *    MESSAGE boxes; a stock libzmq client with the published server key
  *    connects, interop-validated PERF.md r13). NULL is refused there, so
  *    it can never bypass the channel crypto.
  *
  * This endpoint plays ROUTER. The ROUTER identity is carried IN-BAND:
  * pushes append option 2048 (the router-key option number) holding the
  * subscription uuid, and flow to the observer's own connection as
  * envelope-free single-frame messages. A peer whose first octet is not
  * the ZMTP signature is disconnected after the greeting.
  *
  * Verb dispatch is the reference's `handle_msg` tree
  * (`server.re:1042-1060`): code 1 GET (an Observe option upgrades to a
  * registration, `/notification/response/...` registers a notify
  * callback), 2 POST (`/notification/request/...` is the notification
  * RPC), 4 DELETE; every request validates the (possibly empty) token;
  * every response routes to observers in-process; the expiry sweep runs
  * before each message and owes each dead observer one bare-163 frame.
  *
  * Concurrency: mutations, registrations and the sweep take the write lock
  * of the [[WireRuntime]], GETs its read lock, and fan-out is computed and
  * enqueued inside the critical section, so observers see writes in store
  * order. Socket writes never happen under either lock: each connection
  * owns a bounded outbound queue drained by its writer thread, and on
  * overflow the channel is marked dead and its registrations dropped
  * (slow-observer eviction; the reference GCs gone observers the same
  * way, `server.re:203-206`).
  */
class ZestWireServer(engine: GraftEngine, port: Int = 0,
                     clockMs: () => Long = () => System.currentTimeMillis(),
                     serverKeys: Option[KeyPair] = None,
                     observerQueueSize: Int = 1024,
                     runtime: Option[WireRuntime] = None) {

  // the lock and observer registry (see WireRuntime)
  private val rt = runtime.getOrElse(new WireRuntime(engine))

  private val server = new ServerSocket(port)
  def boundPort: Int = server.getLocalPort

  /** The router-key string handed out in observe/notify acks — the
    * channel public key when encryption is on (what the reference
    * publishes, `zest.re:236-249`), else a fixed tag.
    */
  val routerPublicKey: String = serverKeys
    .map(kp => java.util.Base64.getEncoder.encodeToString(SecureChannel.rawPublic(kp)))
    .getOrElse("router-key")

  // one outbound-queue entry. Handshake commands leave as raw bytes;
  // messages are sealed once the CURVE session exists, which is set
  // before READY enqueues — so no message entry predates it. ONE writer
  // thread owns the socket's output (ADVICE r12).
  private sealed trait OutEntry
  private final case class ZmtpMsg(frames: Seq[Array[Byte]]) extends OutEntry
  private final case class RawBytes(b: Array[Byte]) extends OutEntry
  private case object EndOfOutput extends OutEntry

  private final class Channel(sock: Socket) {
    sock.setTcpNoDelay(true)
    // buffer so a frame's header and body leave as ONE packet — unbuffered
    // writes trigger Nagle/delayed-ACK stalls (~40 ms per frame, measured:
    // 11 posts/s before, wire-rate after)
    private val out = new DataOutputStream(
      new java.io.BufferedOutputStream(sock.getOutputStream))
    private val q = new LinkedBlockingQueue[OutEntry](observerQueueSize)
    @volatile private var dead = false
    /** CURVE record session (null under NULL). */
    @volatile var curveSession: ZmtpCurve.Session = null
    /** The in-flight request's envelope (leading empty frames) — replies
      * echo it (the REQ contract); set by the single reader thread before
      * dispatch, so it is stable while the reply enqueues.
      */
    @volatile var requestEnvelope: Seq[Array[Byte]] = Nil
    def isDead: Boolean = dead
    private val writer = new Thread(() => {
      while (!dead) {
        val e = q.poll(200, TimeUnit.MILLISECONDS)
        if (e != null) {
          try e match {
            case ZmtpMsg(frames) => ZmtpCodec.writeMessage(out, frames, Option(curveSession))
            case RawBytes(b) => out.write(b); out.flush()
            case EndOfOutput => sock.shutdownOutput()
          } catch { case _: java.io.IOException => dead = true }
        }
      }
    }, "zest-channel-writer")
    writer.setDaemon(true)
    writer.start()
    private def offer(e: OutEntry): Boolean =
      !dead && (q.offer(e) || { dead = true; false })
    /** A REPLY: echoes the request envelope. */
    def send(m: Array[Byte]): Boolean = offer(ZmtpMsg(requestEnvelope :+ m))
    /** A PUSH (observe fan-out / notify): an envelope-free single frame —
      * the ROUTER-to-DEALER delivery shape.
      */
    def sendPush(m: Array[Byte]): Boolean = offer(ZmtpMsg(Seq(m)))
    /** Pre-encoded transport bytes (greeting and handshake commands). */
    def sendBytes(b: Array[Byte]): Boolean = offer(RawBytes(b))
    /** Half-close once everything queued so far has left. */
    def endOutput(): Boolean = offer(EndOfOutput)
    def close(): Unit = {
      dead = true
      try sock.close() catch { case _: Exception => () }
    }
  }

  private val live = java.util.concurrent.ConcurrentHashMap.newKeySet[Channel]()
  @volatile private var running = true

  private val accepter = new Thread(() => {
    while (running) {
      try {
        val s = server.accept()
        val t = new Thread(() => handle(s))
        t.setDaemon(true)
        t.start()
      } catch { case _: java.io.IOException => () }
    }
  }, "zest-server-accept")
  accepter.setDaemon(true)
  accepter.start()

  def close(): Unit = {
    running = false
    server.close()
    live.forEach { ch => rt.dropOwned(ch); ch.close() }
    live.clear()
  }

  private def evict(ch: Channel): Unit = rt.dropOwned(ch)

  /** A push: the reference ack frame + option 2048 carrying the ident (the
    * ROUTER-identity, in-band).
    */
  private def push(ident: String, base: Frame): Frame =
    base.copy(options = base.options :+ strOption(2048, ident))

  /** This transport's delivery endpoint for one registration; the 163
    * is the bare ack (`handle_expire` routes create_ack(163)).
    */
  private def binSink(ident: String, ch: Channel): rt.Sink = new rt.Sink {
    def push(formatCode: Int, message: String): Boolean =
      ch.sendPush(encode(ZestWireServer.this.push(ident, ackPayload(formatCode, message))))
    def end(): Unit = ch.sendPush(encode(ZestWireServer.this.push(ident, ack(163))))
    def owner: AnyRef = ch
  }

  /** One connection: greeting exchange, then the NULL READY handshake or
    * the CURVE one ([[ZmtpCurve]]: HELLO -> WELCOME (cookie) -> INITIATE
    * (vouch) -> READY). After it, each inbound message's body frame is one
    * zest request; replies echo the request envelope. Any violation —
    * EOF, a bad frame, a tampered or replayed CURVE box — drops the
    * connection (libzmq's own behavior on a failed CURVE exchange). Like
    * the reference, CURVE client permanent keys are not allow-listed —
    * request auth is the macaroon tokens in the zest frames.
    */
  private def handle(sock: Socket): Unit = {
    val in = new DataInputStream(new java.io.BufferedInputStream(sock.getInputStream))
    val ch = new Channel(sock)
    live.add(ch)
    // a refusal must actually LEAVE before the socket closes: the writer
    // drains asynchronously, so queue the half-close behind it and read
    // until the peer hangs up (closing with unread input would reset the
    // connection) — bounded by the handshake SoTimeout
    def refuse(error: Option[String]): Unit = {
      error.foreach(r => ch.sendBytes(encodeZmtpCommand(ZmtpCodec.error(r))))
      ch.endOutput()
      try { while (in.read() >= 0) () } catch { case _: Exception => () }
    }
    try {
      // a connect-and-stall client must not pin this thread: the
      // handshake has 30 s; an established session blocks freely
      sock.setSoTimeout(30000)
      val myMech = if (serverKeys.isDefined) "CURVE" else "NULL"
      // send eagerly: libzmq completes its own greeting only after reading
      // the peer's signature — both sides waiting would deadlock
      ch.sendBytes(ZmtpCodec.greeting(asServer = serverKeys.isDefined, myMech))
      val mech = scala.util.Try(ZmtpCodec.readGreeting(in)._2).toOption
      if (!mech.contains(myMech)) {
        refuse(mech.map(m => s"mechanism $m not supported"))
        return
      }
      val session = serverKeys match {
        case Some(kp) =>
          val hs = new ZmtpCurve.ServerHandshake(ZmtpCurve.keysFrom(kp))
          ch.sendBytes(encodeZmtpCommand(hs.onHello(ZmtpCodec.readCommand(in))))
          val (ready, s, _, _) = hs.onInitiate(ZmtpCodec.readCommand(in))
          ch.curveSession = s // before READY enqueues: no ZmtpMsg exists yet
          ch.sendBytes(encodeZmtpCommand(ready))
          Some(s)
        case None =>
          ch.sendBytes(encodeZmtpCommand(ZmtpCodec.ready("ROUTER")))
          val (name, props) = ZmtpCodec.parseCommand(ZmtpCodec.readCommand(in))
          require(name == "READY", s"expected READY, got $name")
          val peerType = props.get("Socket-Type")
            .map(new String(_, "US-ASCII")).getOrElse("")
          if (!ZmtpCodec.acceptedPeers(peerType)) {
            refuse(Some(s"invalid socket type $peerType"))
            return
          }
          None
      }
      sock.setSoTimeout(0) // handshake done: idle connections are allowed
      while (running && !ch.isDead) {
        val (env, body) = ZmtpCodec.splitEnvelope(ZmtpCodec.readMessage(in, session))
        ch.requestEnvelope = env
        // zest requests are SINGLE-frame: a multipart body is a protocol
        // error, answered 128 rather than silently truncated (r13 review)
        if (body.lengthIs == 1) dispatch(body.head, ch)
        else ch.send(encode(ack(128)))
      }
    } catch { case _: Exception => () }
    finally {
      evict(ch)
      ch.close()
      live.remove(ch)
    }
  }

  private def encodeZmtpCommand(body: Array[Byte]): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    ZmtpCodec.writeFrame(new DataOutputStream(bos), ZmtpCodec.FlagCommand, body)
    bos.toByteArray
  }

  private def route(path: String, format: Int, payload: String,
                    method: String, respCode: Int,
                    client: String = "client.local"): Unit =
    rt.deliver(format, engine.fanoutLocal(clockMs(), path,
      ZestCodec.formatName(format), payload, method = method,
      respCode = respCode,
      client = if (client.isEmpty) "client.local" else client))

  /** True for `/kv/<id>/<key>` value reads (NOT keys/count, whose results
    * are JSON text in every store — `server.re:525-559`).
    */
  private def isKvValueRead(path: String): Boolean =
    path.stripPrefix("/").split("/").toList match {
      case "kv" :: _ :: key :: Nil => key != "keys" && key != "count"
      case _ => false
    }

  private def locked[A](l: java.util.concurrent.locks.Lock)(f: => A): A = {
    l.lock(); try f finally l.unlock()
  }

  private def dispatch(bytes: Array[Byte], ch: Channel): Unit = {
    var replied = false
    def reply(f: Frame): Unit =
      if (!replied) { replied = true; if (!ch.send(encode(f))) evict(ch) }
    try {
      val f = decode(bytes)
      val path = f.uriPath
      val fmt = f.contentFormat
      val fname = f.contentFormatName
      // sweep under the WRITE lock (see WireRuntime.rw), gated on the
      // earliest-expiry bound so reads skip the write lock when nothing
      // can be expired (ADVICE r12)
      val nowMs = clockMs()
      if (engine.sweepDue(nowMs))
        locked(rt.rw.writeLock()) { rt.sweep(nowMs) }
      def denied(method: String): Unit = {
        route(path, fmt, "", method, respCode = 129, client = f.uriHost)
        reply(ack(129))
      }
      f.code match {
        case 1 if f.observed != "none" => // observation request
          locked(rt.rw.writeLock()) {
            engine.observeAuthed(f.token, path, fname, f.observed, f.maxAge) match {
              case Left(_) => denied("GET")
              case Right(uuid) =>
                rt.register(uuid, binSink(uuid, ch))
                reply(ackObserve(routerPublicKey, uuid))
                route(path, fmt, "", "GET(OBSERVE)", respCode = 69, client = f.uriHost)
            }
          }
        case 1 if path.startsWith("/notification/response/") =>
          // notify-callback registration (`server.re:611-618`): Notify ack
          // with the router key, 163 on duplicate
          locked(rt.rw.writeLock()) {
            if (!engine.isValidToken(f.token, path, "GET")) denied("GET")
            else engine.notifyRegister(path) match {
              case Left(_)  => reply(ack(163))
              case Right(_) =>
                // the registering connection is the response route's
                // target, keyed by the callback path
                rt.register(path, binSink(path, ch))
                reply(ackNotification(routerPublicKey))
            }
          }
        case 1 =>
          locked(rt.rw.readLock()) {
            engine.getAuthed(f.token, path, fname) match {
              case Left(_) => denied("GET")
              case Right(body) =>
                route(path, fmt, "", "GET", respCode = 69, client = f.uriHost)
                // binary kv VALUES round-trip as raw bytes on this wire:
                // the engine stores them base64 (its string-typed store),
                // the frame carries the decoded bytes (`server.re:548-559`
                // returns the binary store's content verbatim)
                if (fname == "binary" && isKvValueRead(path))
                  reply(Frame(69, "", Seq(u16Option(12, fmt)),
                    java.util.Base64.getDecoder.decode(body)))
                else reply(ackPayload(fmt, body))
            }
          }
        case 2 if path.startsWith("/notification/") =>
          locked(rt.rw.writeLock()) {
            if (!engine.isValidToken(f.token, path, "POST")) denied("POST")
            else engine.notificationLocal(path, f.payloadString, fname,
              client = if (f.uriHost.isEmpty) "client.local" else f.uriHost) match {
              case Left(m) if m.startsWith("bad notification") => reply(ack(128))
              case Left(_) => reply(ack(163)) // no observer
              case Right(out) =>
                rt.deliver(fmt, out)
                // the notification POST's response routes like any POST:
                // data/audit observers of the request path see it too
                // (`handle_post_observed`, `server.re:896-907`)
                route(path, fmt, f.payloadString, "POST", respCode = 65,
                  client = f.uriHost)
                reply(ack(65))
            }
          }
        case 2 =>
          // binary kv values land base64 in the engine's string store
          val payloadStr =
            if (fname == "binary" && path.startsWith("/kv/"))
              java.util.Base64.getEncoder.encodeToString(f.payload)
            else f.payloadString
          locked(rt.rw.writeLock()) {
            engine.postAuthed(f.token, path, payloadStr, fname) match {
              case Left(m) if m.startsWith("unauthorized") => denied("POST")
              case Left(_) => reply(ack(128))
              case Right(_) =>
                route(path, fmt, payloadStr, "POST", respCode = 65, client = f.uriHost)
                reply(ack(65))
            }
          }
        case 4 =>
          locked(rt.rw.writeLock()) {
            engine.deleteAuthed(f.token, path, fname) match {
              case Left(m) if m.startsWith("unauthorized") => denied("DELETE")
              case Left(_) => reply(ack(128))
              case Right(_) =>
                route(path, fmt, "", "DELETE", respCode = 66, client = f.uriHost)
                reply(ack(66))
            }
          }
        case _ => reply(ack(128)) // reference failwith("invalid code")
      }
    } catch {
      case _: graft.zestql.ParseError => reply(ack(128))
      case _: graft.ResultCodec.ResultTooLarge => reply(ack(143))
      case _: Exception => reply(ack(128))
    }
  }
}
