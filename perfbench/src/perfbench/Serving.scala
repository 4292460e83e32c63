package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.GraftEngine
import graft.auth.Macaroons
import graft.server.{SecureChannel, WireRuntime, ZestCodec, ZestWireServer}

/** The wire server exactly as `WireMain` builds it with
  * `GRAFT_WIRE_SECURE=1` and a token key: durable store, write-behind of
  * 64 rows, CURVE on the ZMTP port, one shared runtime, no plaintext port.
  */
final class Server(spark: SparkSession, store: String, tracer: Option[Tracer]) {
  private val key = "perfbench-token-key"
  val engine: GraftEngine = tracer match {
    case Some(t) => new TracedEngine(spark, s"$store/ts", key, t)
    case None => new GraftEngine(spark, tsStoragePath = Some(s"$store/ts"),
      tokenSecretKey = Some(key), flushEveryRows = 64)
  }
  val rt = new WireRuntime(engine)
  private val keys = SecureChannel.generateKeyPair()
  val srv = new ZestWireServer(engine, 0, serverKeys = Some(keys), runtime = Some(rt))
  private val pub = SecureChannel.rawPublic(keys)
  /** A macaroon for every path on this server, as a device would hold. */
  val token: String = Macaroons.serialize(Macaroons.mint(key, "perfbench")
    .addCaveat("path = /*").addCaveat("target = graft.local"))

  /** Connect a DEALER; its first request tells a traced server thread
    * which connection it serves.
    */
  def connect(name: String,
              onPush: (Long, ZestCodec.Frame) => Unit = (_, _) => ()): WireClient = {
    val c = new WireClient(srv.boundPort, pub, name, token, onPush)
    val s = c.send(Gen.Req(0, 0, 2, s"/kv/${Tracer.BindId}/$name", "{}", "bind"), System.nanoTime())
    if (!c.drain(30000) || s.reply.code != 65)
      throw new IllegalStateException(s"$name: bind write failed")
    c
  }

  def close(): Unit = { srv.close(); rt.close() }
}

/** Shared machinery of the open-loop wire workloads. */
object Serving {

  final case class Phase(sent: IndexedSeq[Sent], backlogMax: Long, rwQueueMean: Double)

  /** Send each request on its connection at its due time, from one sender
    * thread that never waits for replies; then wait for every reply (up to
    * `drainMs`). Samples backlog and the server lock's queue.
    */
  def openLoop(clients: IndexedSeq[WireClient], reqs: IndexedSeq[Gen.Req],
               rt: WireRuntime, drainMs: Long = 30000): Phase = {
    val out = new ConcurrentLinkedQueue[Sent]()
    val start = System.nanoTime() + 20000000L
    val sender = new Thread(() => reqs.sortBy(_.dueNs).foreach { q =>
      val due = start + q.dueNs
      WireClient.sleepUntil(due)
      out.add(clients(q.conn).send(q, due))
    }, "perfbench-sender")
    sender.start()
    var backlog = 0L
    var qSum = 0L
    var qN = 0L
    while (sender.isAlive) {
      backlog = math.max(backlog, clients.map(_.outstanding).sum)
      qSum += rt.rw.getQueueLength; qN += 1
      Thread.sleep(2)
    }
    sender.join()
    clients.foreach(_.drain(drainMs))
    clients.foreach(c => if (c.error != null) throw c.error)
    Phase(out.asScala.toIndexedSeq.sortBy(_.dueNs), backlog,
      if (qN == 0) 0.0 else qSum.toDouble / qN)
  }

  /** Closed loop: each connection sends its next request only after the
    * previous reply. Returns the requests and the wall time in ns.
    */
  def closedLoop(clients: IndexedSeq[WireClient], reqs: IndexedSeq[Gen.Req]): (IndexedSeq[Sent], Long) = {
    val out = new ConcurrentLinkedQueue[Sent]()
    val t0 = System.nanoTime()
    val threads = clients.indices.map { ci =>
      val mine = reqs.filter(_.conn == ci)
      val t = new Thread(() => mine.foreach { q =>
        val s = clients(ci).send(q, System.nanoTime())
        out.add(s)
        while (s.recvNs == 0L && clients(ci).error == null)
          java.util.concurrent.locks.LockSupport.parkNanos(20000L)
      })
      t.start(); t
    }
    threads.foreach(_.join())
    clients.foreach(c => if (c.error != null) throw c.error)
    (out.asScala.toIndexedSeq, System.nanoTime() - t0)
  }

  def ms(ns: Long): Double = ns / 1e6
  def latMs(s: Sent): Double = ms(s.recvNs - s.dueNs)
  def ok(s: Sent): Boolean = s.recvNs > 0 && s.reply != null &&
    (s.reply.code == 65 || s.reply.code == 69)

  /** Bytes of every file under `dir`. */
  def diskBytes(dir: java.io.File): (Long, Long) = {
    var bytes = 0L; var parquet = 0L
    def walk(f: java.io.File): Unit =
      if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(walk))
      else { bytes += f.length(); if (f.getName.endsWith(".parquet")) parquet += 1 }
    walk(dir)
    (bytes, parquet)
  }

  def heapMb(): Double = {
    System.gc(); Thread.sleep(200); System.gc()
    java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  /** `name -> value` that skips tails the sample cannot support. */
  def tailMetric(name: String, xs: Seq[Double], q: Double): Seq[(String, Double)] =
    Stats.tail(xs, q).map(name -> _).toSeq

  /** Layer metrics common to the wire workloads, from the traced run. */
  def wireLayers(tr: Tracer, sp: SparkTrace, sent: Seq[Sent], ph: Phase, store: java.io.File,
                 pushes: Seq[(Long, Sent)], nPushMsgs: Int): Map[String, Double] = {
    sp.settle()
    def reqId(s: Sent): String = s.reqId
    val ids = sent.map(reqId).toSet
    val spans = tr.spans.asScala.toSeq.filter(s => ids(s.req)).groupBy(_.req)
    def spanMs(s: Sent, name: String): Seq[Double] =
      spans.getOrElse(reqId(s), Nil).filter(_.name == name).map(_.ms)
    val posts = sent.filter(_.req.code == 2)
    // the open loop's POSTs: the per-request path that p50_ms times
    val olPosts = ph.sent.filter(_.req.code == 2)
    val tsGets = sent.filter(s => s.req.code == 1 && s.req.path.startsWith("/ts/"))
    def rtt(s: Sent) = ms(s.recvNs - s.sendNs)
    def serverSelf(xs: Seq[Sent], top: String) = xs.map { s =>
      rtt(s) - spanMs(s, top).sum - spanMs(s, "observe.fanout").sum
    }
    val jobs = sp.jobsOf(ids)
    val execs = sp.execsOf(ids)
    val writes = execs.filter(_.write)
    val reads = execs.filterNot(_.write)
    val writeExecIds = writes.map(_.execId).toSet
    def per(n: Double, d: Int) = if (d == 0) 0.0 else n / d
    val tsGetIds = tsGets.map(reqId).toSet
    val postIds = posts.map(reqId).toSet
    val readJobs = jobs.filter(j => tsGetIds(j.req))
    val readExecs = reads.filter(e => tsGetIds(e.req))
    val getSpan = tsGets.map { s =>
      val sp0 = spans.getOrElse(reqId(s), Nil).find(_.name == "engine.get")
      sp0.map { g =>
        val jobIv = readJobs.filter(_.req == reqId(s))
          .map(j => (math.max(j.startMs * 1000000L, g.startNs), math.min(j.endMs * 1000000L, g.endNs)))
        (g.ms, g.ms - Stats.covered(jobIv) / 1e6)
      }
    }.flatten
    val codecRows = tsGets.flatMap(s => scala.util.Try(Model.records(s.reply.payloadString).size).toOption)
    val (bytesTotal, filesTotal) = diskBytes(store)
    val flushJobs = jobs.filter(j => writeExecIds(j.execId))
    Map(
      "server.self_ms.post_p50" -> Stats.median(serverSelf(olPosts, "engine.post")),
      "server.rw_queue_mean" -> ph.rwQueueMean,
      "auth.ms_p50" -> Stats.median(sent.flatMap(spanMs(_, "auth"))),
      "engine.post_ms_p50" -> Stats.median(olPosts.flatMap(spanMs(_, "engine.post"))),
      "engine.post_ms_p99" -> Stats.pct(posts.flatMap(spanMs(_, "engine.post")), 99),
      "engine.get_ms_p50" -> Stats.median(getSpan.map(_._1)),
      "engine.driver_ms_p50" -> Stats.median(getSpan.map(_._2)),
      "engine.flushes_per_1k_posts" ->
        per(1000.0 * writes.count(e => postIds(e.req)), posts.size),
      "plan.ms_p50" -> Stats.median(execs.map(_.planMs)),
      "plan.exchanges_per_read" -> per(readExecs.map(_.exchanges).sum, tsGets.size),
      "spark.jobs_per_read" -> per(readJobs.size, tsGets.size),
      "spark.stages_per_read" -> per(readJobs.map(_.stagesDone).sum, tsGets.size),
      "spark.tasks_per_read" -> per(readJobs.map(_.tasks).sum, tsGets.size),
      "spark.job_ms_p50" -> Stats.median(jobs.map(j => (j.endMs - j.startMs).toDouble)),
      "spark.queue_ms_p50" ->
        Stats.median(jobs.filter(_.firstTaskMs > 0).map(j => (j.firstTaskMs - j.startMs).toDouble)),
      "spark.failed_tasks" -> jobs.map(_.failedTasks).sum.toDouble,
      "spark.tasks_per_flush" -> per(flushJobs.map(_.tasks).sum, writes.size),
      "storage.append_ms_p50" -> Stats.median(writes.map(_.durationMs)),
      "storage.append_ms_p99" -> Stats.pct(writes.map(_.durationMs), 99),
      "storage.files_per_flush" -> per(writes.map(_.filesWritten).sum, writes.size),
      "storage.rows_per_file" -> per(writes.map(_.rowsWritten).sum, writes.map(_.filesWritten).sum.toInt),
      "storage.files_total" -> filesTotal.toDouble,
      "storage.bytes_total" -> bytesTotal.toDouble,
      "storage.files_read_per_read" -> per(readExecs.map(_.filesRead).sum, tsGets.size),
      "storage.bytes_read_per_read" -> per(readExecs.map(_.bytesRead).sum, tsGets.size),
      "storage.scan_efficiency" ->
        per(codecRows.sum, readExecs.map(_.rowsScanned).sum.toInt),
      "observe.fanout_ms_p50" -> Stats.median(posts.flatMap(spanMs(_, "observe.fanout"))),
      "observe.deliver_ms_p50" -> Stats.median(pushes.map { case (ns, p) => ms(ns - p.recvNs) }),
      "observe.pushes_per_post" -> per(nPushMsgs, posts.count(_.req.path.startsWith("/ts/"))),
      "codec.rows_per_read" -> per(codecRows.sum, codecRows.size),
      "codec.bytes_per_read" -> per(tsGets.map(_.reply.payload.length.toLong).sum, tsGets.size),
      "gen.late_ms_p99" -> Stats.pct(ph.sent.map(s => ms(s.sendNs - s.dueNs)), 99),
      "gen.backlog_max" -> ph.backlogMax.toDouble
    ).map { case (k, v) => k -> (if (v.isNaN) 0.0 else v) }
  }
}

/** Result of one workload run. */
final case class Outcome(metrics: Map[String, Double], universal: Map[String, Double],
                         layers: Map[String, Double], attempted: Long, failed: Long,
                         failures: Seq[String], notes: Seq[String])
