package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd
import org.apache.spark.sql.perfbench.ExecutionEnd

/** One span: a layer boundary crossed by one request. Times are epoch ns
  * (derived from one `nanoTime` anchor) so they line up with the Spark
  * listener's epoch-ms job times.
  */
final case class Span(name: String, req: String, parent: String,
                      startNs: Long, endNs: Long) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** In-memory span store; written out once, at exit. */
final class Tracer {
  private val anchorEpochNs = System.currentTimeMillis() * 1000000L
  private val anchorNano = System.nanoTime()
  def epochNs(nano: Long): Long = anchorEpochNs + (nano - anchorNano)
  def now(): Long = epochNs(System.nanoTime())

  @volatile var enabled = false
  val spans = new ConcurrentLinkedQueue[Span]()

  /** Per server thread: the connection it serves and its request count. */
  private final class ThreadState(var conn: String = "?", var n: Long = -1,
                                  var stack: List[String] = Nil)
  private val state = ThreadLocal.withInitial[ThreadState](() => new ThreadState())

  def bind(conn: String): Unit = { val s = state.get(); s.conn = conn; s.n = -1 }

  def currentReq: String = { val s = state.get(); s"${s.conn}#${s.n}" }

  /** A top-level engine entry: the next request on this thread's
    * connection. Spark jobs it starts carry the request id.
    */
  def request[A](name: String)(f: => A): A = {
    val s = state.get()
    s.n += 1
    val sc = SparkSession.active.sparkContext
    sc.setLocalProperty(Tracer.ReqProp, currentReq)
    try span(name)(f) finally sc.setLocalProperty(Tracer.ReqProp, null)
  }

  /** A span nested under whatever span this thread has open. */
  def span[A](name: String)(f: => A): A =
    if (!enabled) f
    else {
      val s = state.get()
      val parent = s.stack.headOption.getOrElse("")
      s.stack = name :: s.stack
      val t0 = now()
      try f
      finally {
        spans.add(Span(name, currentReq, parent, t0, now()))
        s.stack = s.stack.tail
      }
    }

  /** Each Spark job of a traced request as a span under the innermost
    * span that encloses it (job times have ms resolution: clipped to it).
    */
  def addJobs(sp: SparkTrace): Unit = {
    val byReq = spans.asScala.toSeq.groupBy(_.req)
    sp.jobs.values.asScala.filter(_.endMs > 0).foreach { j =>
      byReq.get(j.req).foreach { own =>
        val (a, b) = (j.startMs * 1000000L, j.endMs * 1000000L)
        val enclosing = own.filter(x => x.startNs < b && x.endNs > a)
        if (enclosing.nonEmpty) {
          val p = enclosing.minBy(x => x.endNs - x.startNs)
          spans.add(Span("spark.job", j.req, p.name, math.max(a, p.startNs), math.min(b, p.endNs)))
        }
      }
    }
  }

  def write(path: java.nio.file.Path): Unit = {
    val w = java.nio.file.Files.newBufferedWriter(path)
    try spans.asScala.foreach { s =>
      w.write(s"""{"name":"${s.name}","req":"${s.req}","parent":"${s.parent}",""" +
        s""""start_ns":${s.startNs},"end_ns":${s.endNs}}""")
      w.newLine()
    } finally w.close()
  }
}

object Tracer {
  val ReqProp = "perfbench.req"
  /** Marker KV cell a client writes once, so the server thread learns
    * which connection it serves.
    */
  val BindId = "perfbench-conn"
}

/** The program's engine with a span around each public entry the wire
  * server calls. Behaviour is the parent's: every override delegates.
  */
final class TracedEngine(spark: SparkSession, store: String, key: String, tr: Tracer)
    extends graft.GraftEngine(spark, tsStoragePath = Some(store), tokenSecretKey = Some(key),
      flushEveryRows = 64) {

  override def getAuthed(token: String, path: String, format: String): Either[String, String] =
    tr.request("engine.get")(super.getAuthed(token, path, format))
  override def postAuthed(token: String, path: String, payload: String,
                          format: String): Either[String, Unit] =
    tr.request("engine.post")(super.postAuthed(token, path, payload, format))
  override def isValidToken(token: String, path: String, method: String,
                            observe: Option[String]): Boolean =
    tr.span("auth")(super.isValidToken(token, path, method, observe))
  override def get(path: String, format: String): String =
    tr.span("engine.route_get")(super.get(path, format))
  override def post(path: String, payload: String, format: String): Either[String, Unit] =
    tr.span("engine.route_post")(super.post(path, payload, format))
  override def kvRead(store: String, id: String, key: String): String =
    tr.span("engine.kv_read")(super.kvRead(store, id, key))
  override def kvWrite(store: String, id: String, key: String, value: String): Unit = {
    if (id == Tracer.BindId) tr.bind(key)
    tr.span("engine.kv_write")(super.kvWrite(store, id, key, value))
  }
  override def fanoutLocal(ts: Long, path: String, format: String, payload: String,
                           method: String, client: String,
                           respCode: Int): Seq[(String, String)] =
    tr.span("observe.fanout")(super.fanoutLocal(ts, path, format, payload, method, client, respCode))
}

object SparkTrace {
  /** Every node of a physical plan, seeing through adaptive and stage
    * wrappers (so an executed adaptive plan shows its final shape).
    */
  def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => nodes(q.plan)
    case other => other +: (other.children ++ other.subqueries).flatMap(nodes)
  }

  def exchanges(p: SparkPlan): Int = nodes(p).count(_.isInstanceOf[ShuffleExchangeLike])
  def scans(p: SparkPlan): Int = nodes(p).count(_.isInstanceOf[FileSourceScanExec])
}

/** Spark-side records: jobs (with the request that started them) and SQL
  * executions (planning time, plan shape, scan and write metrics).
  */
final class SparkTrace extends SparkListener {

  final class Job(val id: Int, val req: String, val execId: Long, val startMs: Long,
                  val stages: Seq[Int]) {
    @volatile var endMs: Long = -1L
    @volatile var firstTaskMs: Long = -1L
    @volatile var tasks: Int = 0
    @volatile var failedTasks: Int = 0
    @volatile var stagesDone: Int = 0
    @volatile var shuffleBytes: Long = 0L
    @volatile var spillBytes: Long = 0L
  }

  final case class Exec(execId: Long, funcName: String, req: String, durationMs: Double,
                        planMs: Double, exchanges: Int, scans: Int, filesRead: Long,
                        bytesRead: Long, rowsScanned: Long, write: Boolean,
                        filesWritten: Long, bytesWritten: Long, rowsWritten: Long)

  val jobs = new ConcurrentHashMap[Int, Job]()
  private val stageJob = new ConcurrentHashMap[Int, Job]()
  private val execReq = new ConcurrentHashMap[Long, String]()
  val execs = new ConcurrentLinkedQueue[Exec]()
  @volatile var lastEventMs: Long = System.currentTimeMillis()

  private def touch(): Unit = lastEventMs = System.currentTimeMillis()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val props = Option(e.properties)
    val req = props.flatMap(p => Option(p.getProperty(Tracer.ReqProp))).getOrElse("")
    val exec = props.flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .flatMap(_.toLongOption).getOrElse(-1L)
    val j = new Job(e.jobId, req, exec, e.time, e.stageIds)
    jobs.put(e.jobId, j)
    e.stageIds.foreach(s => stageJob.put(s, j))
    if (exec >= 0 && req.nonEmpty) execReq.putIfAbsent(exec, req)
    touch()
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    Option(jobs.get(e.jobId)).foreach(_.endMs = e.time); touch()
  }
  override def onTaskStart(e: SparkListenerTaskStart): Unit = {
    Option(stageJob.get(e.stageId)).foreach { j =>
      j.synchronized { if (j.firstTaskMs < 0) j.firstTaskMs = e.taskInfo.launchTime }
    }
    touch()
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    Option(stageJob.get(e.stageId)).foreach { j =>
      j.synchronized {
        j.tasks += 1
        if (!e.taskInfo.successful) j.failedTasks += 1
        Option(e.taskMetrics).foreach { m =>
          j.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
          j.spillBytes += m.diskBytesSpilled + m.memoryBytesSpilled
        }
      }
    }
    touch()
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    Option(stageJob.get(e.stageInfo.stageId)).foreach(j => j.synchronized(j.stagesDone += 1))
    touch()
  }

  private def metric(p: SparkPlan, name: String): Long =
    p.metrics.get(name).map(_.value).getOrElse(0L)

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case end: SparkListenerSQLExecutionEnd if end.errorMessage.forall(_.isEmpty) =>
      ExecutionEnd.qe(end).foreach(qe => record(end.executionId, ExecutionEnd.name(end), qe,
        ExecutionEnd.durationNs(end)))
      touch()
    case _ => ()
  }

  private def record(execId: Long, funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val plan = SparkTrace.nodes(qe.executedPlan)
    val phases = qe.tracker.phases
    val planMs = Seq("analysis", "optimization", "planning")
      .flatMap(phases.get).map(_.durationMs.toDouble).sum
    val scans = plan.collect { case s: FileSourceScanExec => s }
    val writes = plan.collect { case w: DataWritingCommandExec => w }
    def wm(n: String) = writes.map(w => w.cmd.metrics.get(n).map(_.value).getOrElse(0L)).sum
    execs.add(Exec(execId, funcName, Option(execReq.get(execId)).getOrElse(""),
      durationNs / 1e6, planMs,
      plan.count(_.isInstanceOf[ShuffleExchangeLike]), scans.size,
      scans.map(metric(_, "numFiles")).sum, scans.map(metric(_, "filesSize")).sum,
      scans.map(metric(_, "numOutputRows")).sum, writes.nonEmpty,
      wm("numFiles"), wm("numOutputBytes"), wm("numOutputRows")))
  }

  /** The listener bus is asynchronous: wait until it has been quiet for
    * `quietMs` and every started job has ended.
    */
  def settle(quietMs: Long = 300, maxMs: Long = 10000): Unit = {
    val end = System.currentTimeMillis() + maxMs
    while (System.currentTimeMillis() < end &&
      (System.currentTimeMillis() - lastEventMs < quietMs ||
        jobs.values.asScala.exists(_.endMs < 0))) Thread.sleep(50)
  }

  def jobsOf(req: String => Boolean): Seq[Job] = jobs.values.asScala.filter(j => req(j.req)).toSeq
  def execsOf(req: String => Boolean): Seq[Exec] = execs.asScala.filter(e => req(e.req)).toSeq
}
