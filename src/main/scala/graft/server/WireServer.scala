package graft.server

import java.io.{BufferedReader, InputStreamReader, OutputStreamWriter, PrintWriter}
import java.net.{ServerSocket, Socket}
import java.util.concurrent.{LinkedBlockingQueue, TimeUnit}

import org.json4s._
import org.json4s.jackson.JsonMethods

import graft.GraftEngine

/** JSON-lines TCP front-end for [[graft.GraftEngine]] — the JVM-native
  * stand-in for the reference's ZeroMQ REQ/REP + ROUTER/DEALER server
  * loop (`/root/reference/src/protocol/zest.re:99-192`,
  * `/root/reference/src/server.re:109-141`): one JSON object per line in,
  * one per line out, and OBSERVE upgrades the connection to a push
  * channel that receives every matching write's fan-out frame until the
  * client disconnects (the ROUTER-identity → DEALER-socket delivery,
  * with the subscription uuid playing the router key). For the binary
  * CoAP-style framing twin of this server see [[ZestWireServer]]: zest
  * frames over ZMTP 3.0, with CURVE channel encryption when keyed.
  *
  * Frames:
  *  - request:  `{"verb":"GET|POST|DELETE|OBSERVE|NOTIFY|NOTIFY-REGISTER",
  *               "path":"/ts/...", "payload":..., "token":...,
  *               "mode":"data|audit|notification", "maxAgeSec":...}`
  *  - response: `{"status":"ok","body":...}` / `{"status":"err","body":...}`
  *  - push:     `{"push":"<subscription uuid>","message":"<wire frame>"}`
  *
  * Semantics mirrored from the reference loop (`server.re:836-1042`):
  *  - the (possibly ABSENT) token is validated on EVERY request when the
  *    engine has a secret key — an omitted token is the empty token, which
  *    fails all caveats, never an auth bypass (`server.re:811-820`);
  *    NOTIFY validates as POST and NOTIFY-REGISTER as GET, exactly the
  *    handlers they route through in the reference;
  *  - every RESPONSE routes to matching observers in-process
  *    ([[GraftEngine.fanoutLocal]] — no Spark jobs on the serving path):
  *    data-mode sees successful content-bearing responses, audit-mode
  *    sees everything including GET reads, 129 denials, and OBSERVE
  *    registrations (`create_data_payload`/`create_audit_payload`,
  *    `server.re:74-141`);
  *  - the expiry sweep runs before every message; an expired observer
  *    receives exactly one 163 "observation ended" push and nothing
  *    after (`server.re:203-206`, `observe.re:96-113`).
  *
  * Concurrency: mutations (POST/DELETE/OBSERVE/NOTIFY*) serialize through
  * the write lock — observers see writes in store order because fan-out
  * frames are computed and enqueued inside the writer's critical section.
  * GETs share the read lock, so readers no longer queue behind appends
  * (the reference's loop is single-threaded; the split is safe here
  * because fan-out left the critical section's expensive path). Socket
  * writes never happen under either lock: every connection owns a bounded
  * outbound queue drained by its writer thread, so one stalled reader
  * blocks only its own channel — on queue overflow the channel is marked
  * dead and its subscriptions dropped (slow-observer eviction; the
  * reference GCs gone observers the same way, `server.re:203-206`).
  */
class WireServer(engine: GraftEngine, port: Int = 0,
                 clockMs: () => Long = () => System.currentTimeMillis(),
                 observerQueueSize: Int = 1024,
                 runtime: Option[WireRuntime] = None) {

  private val server = new ServerSocket(port)
  def boundPort: Int = server.getLocalPort

  // the cross-front-end lock + observer registry: pass ONE WireRuntime to
  // every server sharing an engine (WireMain does) or engine state races
  // across ports and cross-port observers miss their pushes
  private val rt = runtime.getOrElse(new WireRuntime(engine))

  /** One connection's outbound half: responses and pushes share a bounded
    * FIFO drained by a dedicated writer thread. `send` never blocks; a
    * full queue (stalled reader) kills the channel instead of the server.
    */
  private final class Channel(sock: Socket) {
    private val out = new PrintWriter(
      new OutputStreamWriter(sock.getOutputStream, "UTF-8"), false)
    private val q = new LinkedBlockingQueue[String](observerQueueSize)
    @volatile private var dead = false
    def isDead: Boolean = dead
    private val writer = new Thread(() => {
      while (!dead) {
        val m = q.poll(200, TimeUnit.MILLISECONDS)
        if (m != null) {
          out.println(m); out.flush()
          if (out.checkError()) dead = true
        }
      }
    }, "wire-channel-writer")
    writer.setDaemon(true)
    writer.start()
    def send(m: String): Boolean =
      !dead && (q.offer(m) || { dead = true; false })
    def close(): Unit = {
      dead = true
      try sock.close() catch { case _: Exception => () }
    }
  }

  // this server's live connections (for close()); delivery routing lives
  // in the shared runtime's sink registry
  private val live = java.util.concurrent.ConcurrentHashMap.newKeySet[Channel]()
  @volatile private var running = true

  private val accepter = new Thread(() => {
    while (running) {
      try {
        val s = server.accept()
        val t = new Thread(() => handle(s))
        t.setDaemon(true)
        t.start()
      } catch { case _: java.io.IOException => () /* server closed */ }
    }
  }, "wire-server-accept")
  accepter.setDaemon(true)
  accepter.start()

  def close(): Unit = {
    running = false
    server.close()
    live.forEach { ch => rt.dropOwned(ch); ch.close() }
    live.clear()
  }

  private implicit val fmts: Formats = DefaultFormats

  private def ok(body: JValue): String =
    JsonMethods.compact(JObject("status" -> JString("ok"), "body" -> body))
  private def err(msg: String): String =
    JsonMethods.compact(JObject("status" -> JString("err"), "body" -> JString(msg)))
  private def pushFrame(uuid: String, message: String): String =
    JsonMethods.compact(JObject("push" -> JString(uuid), "message" -> JString(message)))

  private def evict(ch: Channel): Unit = rt.dropOwned(ch)

  /** This transport's delivery endpoint for one registration: JSON push
    * frames keyed by the ident (subscription uuid or callback path).
    */
  private def jsonSink(ident: String, ch: Channel): rt.Sink = new rt.Sink {
    def push(formatCode: Int, message: String): Boolean =
      ch.send(pushFrame(ident, message))
    def end(): Unit = ch.send(pushFrame(ident, "163"))
    def owner: AnyRef = ch
  }

  /** Bounded line read: a frame past 16 MB (the binary server's cap) is a
    * protocol violation — return null and drop the connection instead of
    * letting one client grow an unbounded buffer on the server.
    */
  private def readLineBounded(in: BufferedReader): String = {
    val max = 16 * 1024 * 1024
    val sb = new StringBuilder
    var c = in.read()
    if (c < 0) return null
    while (c >= 0 && c != '\n') {
      if (c != '\r') sb.append(c.toChar)
      if (sb.length > max) return null
      c = in.read()
    }
    sb.toString
  }

  private def handle(sock: Socket): Unit = {
    val in = new BufferedReader(new InputStreamReader(sock.getInputStream, "UTF-8"))
    val ch = new Channel(sock)
    live.add(ch)
    try {
      var line = readLineBounded(in)
      while (line != null && running && !ch.isDead) {
        dispatch(line, ch)
        line = readLineBounded(in)
      }
    } catch { case _: java.io.IOException => () }
    finally {
      evict(ch)
      ch.close()
      live.remove(ch)
    }
  }

  /** Authenticated response routing: compute the fan-out in-process and
    * enqueue it (cheap — safe inside the write critical section).
    */
  private def route(path: String, format: String, payload: String,
                    method: String, respCode: Int,
                    client: String = "client.local"): Unit =
    rt.deliver(ZestCodec.formatCode(format),
      engine.fanoutLocal(clockMs(), path, format, payload,
        method = method, respCode = respCode, client = client))

  private def locked[A](l: java.util.concurrent.locks.Lock)(f: => A): A = {
    l.lock(); try f finally l.unlock()
  }

  /** Handle one request line: exactly one response frame is enqueued on
    * `ch` (plus any fan-out pushes on observer channels). The REQ/REP
    * reply and the ROUTER pushes ride separate sockets in the reference,
    * so their relative order is unobservable there; here they share the
    * connection, and the one case where it matters — a channel observing
    * a path IT registers/writes — replies before routing (the client must
    * learn its uuid before its first push) while POST/DELETE/GET route
    * first, matching the reference's route-then-ack handler order.
    */
  private def dispatch(line: String, ch: Channel): Unit = {
    var replied = false
    def reply(s: String): Unit =
      if (!replied) { replied = true; if (!ch.send(s)) evict(ch) }
    try {
      val j = JsonMethods.parse(line)
      val verb = (j \ "verb").extract[String]
      val path = (j \ "path").extract[String]
      // an absent token is the EMPTY token: with a secret key configured
      // it fails validation rather than bypassing it (`server.re:811-820`)
      val token = (j \ "token").extractOpt[String].getOrElse("")
      val payload = (j \ "payload").extractOpt[String].getOrElse("")
      val format = (j \ "format").extractOpt[String].getOrElse("json")
      // audit lines carry the requester's host (the Uri-Host option's
      // role, `server.re:76` uses it as the audit client field)
      val host = (j \ "host").extractOpt[String].getOrElse("client.local")
      // sweep under the WRITE lock: a push enqueued under either lock can
      // then never interleave after its subscription's 163 (write
      // excludes read and write). Gated on the engine's earliest-expiry
      // bound so GETs don't serialize through the write lock when nothing
      // CAN be expired (ADVICE r12) — a false is exact, so skipping is
      // identical to the reference's sweep finding nothing
      val nowMs = clockMs()
      if (engine.sweepDue(nowMs))
        locked(rt.rw.writeLock()) { rt.sweep(nowMs) }
      def denied(method: String): Unit = {
        // the reference routes the 129 itself — audit observers see
        // denied requests (`handle_get_observed` else-branch)
        route(path, format, "", method, respCode = 129, client = host)
        reply(err("unauthorized (129)"))
      }
      verb match {
        case "GET" =>
          locked(rt.rw.readLock()) {
            engine.getAuthed(token, path, format) match {
              case Left(_) => denied("GET")
              case Right(body) =>
                // GET responses route too (`server.re:836-847`): audit
                // observers get the read line; data-mode gets nothing
                // (the routed payload of a read is empty, `route(resp,
                // "")` — create_data_payload's empty-payload gate)
                route(path, format, "", "GET", respCode = 69, client = host)
                reply(ok(JString(body)))
            }
          }
        case "POST" =>
          locked(rt.rw.writeLock()) {
            engine.postAuthed(token, path, payload, format) match {
              case Left(m) if m.startsWith("unauthorized") => denied("POST")
              case Left(m) => reply(err(m))
              case Right(_) =>
                route(path, format, payload, "POST", respCode = 65, client = host)
                reply(ok(JString("created")))
            }
          }
        case "DELETE" =>
          locked(rt.rw.writeLock()) {
            engine.deleteAuthed(token, path, format) match {
              case Left(m) if m.startsWith("unauthorized") => denied("DELETE")
              case Left(m) => reply(err(m))
              case Right(_) =>
                // 66: audit-only — create_data_payload gates deletes out
                route(path, format, "", "DELETE", respCode = 66, client = host)
                reply(ok(JString("deleted")))
            }
          }
        case "OBSERVE" =>
          val mode = (j \ "mode").extractOpt[String].getOrElse("data")
          val maxAge = (j \ "maxAgeSec").extractOpt[Long].getOrElse(60L)
          locked(rt.rw.writeLock()) {
            engine.observeAuthed(token, path, format, mode, maxAge) match {
              case Left(_) => denied("GET")
              case Right(uuid) =>
                rt.register(uuid, jsonSink(uuid, ch))
                // ack BEFORE routing: the client learns its uuid before
                // any push can reach it (see dispatch doc)
                reply(ok(JObject("uuid" -> JString(uuid))))
                // registrations are audited as GET(OBSERVE)
                // (`create_audit_payload`, `server.re:103-104`)
                route(path, format, "", "GET(OBSERVE)", respCode = 69, client = host)
            }
          }
        case "NOTIFY-REGISTER" =>
          // a GET through `handle_get_read` in the reference
          // (`server.re:611-618`) — validated as one
          locked(rt.rw.writeLock()) {
            if (!engine.isValidToken(token, path, "GET")) denied("GET")
            else reply(engine.notifyRegister(path).fold(err, { key =>
              // the registering CONNECTION is the response route's target,
              // keyed by the callback path (the ROUTER-identity role)
              rt.register(path, jsonSink(path, ch))
              ok(JObject("router_key" -> JString(key)))
            }))
          }
        case "NOTIFY" =>
          // a POST through `handle_post` in the reference
          locked(rt.rw.writeLock()) {
            if (!engine.isValidToken(token, path, "POST")) denied("POST")
            else engine.notificationLocal(path, payload, format, client = host).fold(
              m => reply(err(m)),
              out2 => {
                rt.deliver(ZestCodec.formatCode(format), out2)
                // data/audit observers of the request path see the POST
                // too (`handle_post_observed`, `server.re:896-907`)
                route(path, format, payload, "POST", respCode = 65,
                  client = host)
                reply(ok(JArray(out2.map { case (u, m) =>
                  JObject("uuid" -> JString(u), "message" -> JString(m))
                }.toList)))
              })
          }
        case other => reply(err(s"unknown verb: $other"))
      }
    } catch {
      // path-grammar rejections are protocol errors, not transport ones
      case e: graft.zestql.ParseError => reply(err(e.message))
      // over-cap reads are a clean protocol error (the 143-style contract)
      case e: graft.ResultCodec.ResultTooLarge => reply(err(e.getMessage))
      case e: Exception => reply(err(s"bad frame: ${e.getMessage}"))
    }
  }
}
