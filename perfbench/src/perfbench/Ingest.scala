package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** `ingest`: a sensor fleet POSTs at a fixed Poisson rate over two DEALER
  * connections while a third holds observe registrations; then a
  * closed-loop burst of fixed size on the same two connections. No reads
  * while it writes, so every write-path layer is on the critical path.
  * The open loop runs in rounds that each stay below one 64-row flush, so
  * its latencies are the per-request path; the burst pays for exactly
  * eight flushes. Last, a closed-loop read-back of each read shape puts
  * the query path (parser, planner, operators, codec) on record too.
  */
object Ingest {
  // calibration: BENCHMARK.md, "ingest"
  val RoundPosts = 75      // open-loop round: 60 TS + 15 KV, below one flush of either
  val RoundSeconds = 5.0   // 75 posts in 5 s: 15 POSTs/s
  val KvShare = 0.2        // share of the POSTs that are KV writes
  val Sensors = 32
  val Observed = 16
  val WarmPosts = 256     // three TS flushes and one KV flush before timing
  val WireWarmGets = 8000  // cache-served KV GETs: JIT-warm the wire and auth path
  val BurstPosts = 512     // TS only: exactly eight write-behind flushes of 64 rows
  val ReadbackSets = 2     // read-back: each read shape this many times
  val LimitMs = 1000.0     // latency limit for slo_miss_frac

  def run(spark: SparkSession, seed: Long, seconds: Double, tracer: Option[Tracer],
          sp: Option[SparkTrace], scratch: java.io.File, setupDone: () => Unit): Outcome = {
    val fleet = Gen.fleet(seed, Sensors, Observed)
    val warm = Gen.ingestSchedule(seed, fleet, WarmPosts, 1.0, 0.25, 2, "ingest-warm")
    val nRounds = math.max(1, math.round(seconds / RoundSeconds).toInt)
    def schedules(name: String) = (0 until nRounds).map(k =>
      Gen.ingestSchedule(seed, fleet, RoundPosts, RoundSeconds, KvShare, 2, s"$name-$k"))
    val rounds = schedules("ingest")
    // a traced run precedes each round with a round of spans off: the
    // baseline of trace.overhead_frac, in the same JVM and server
    val baseRounds = if (tracer.isDefined) schedules("ingest-base") else Nil
    val burst = Gen.ingestSchedule(seed, fleet, BurstPosts, 1.0, 0.0, 2, "ingest-burst")
    val storeDir = new java.io.File(scratch, "store")
    val t0 = System.nanoTime()
    val server = new Server(spark, storeDir.getAbsolutePath, tracer)
    val pushes = new ConcurrentLinkedQueue[(Long, String)]()
    try {
      val c0 = server.connect("c0"); val c1 = server.connect("c1")
      val obs = server.connect("obs", onPush = (ns, f) => pushes.add(ns -> f.payloadString))
      val regs = fleet.observed.map(s => obs.observe(s"/ts/$s"))
      if (!obs.drain(30000) || regs.exists(_.reply.code != 69))
        throw new IllegalStateException("observe registration failed")
      val writers = IndexedSeq(c0, c1)
      val t1 = System.nanoTime()
      val (warmSent, _) = Serving.closedLoop(writers, warm)
      val (wireSent, _) = Serving.closedLoop(writers, Gen.kvReads(fleet, WireWarmGets, 2))
      // every read-back shape once, so the timed read-back is not the
      // first query of its shape
      val (warmReads, _) = Serving.closedLoop(IndexedSeq(c0), Gen.ingestReadback(seed + 1, fleet, 1))
      if (!(warmSent ++ wireSent ++ warmReads).forall(Serving.ok))
        throw new IllegalStateException("warm-up request failed")
      Thread.sleep(200)
      pushes.clear()
      // each timed phase starts with empty write-behind buffers, so the
      // flushes it pays for depend on its own writes only
      server.engine.flush()
      val t2 = System.nanoTime()
      setupDone()

      // each round ends with a flush outside its schedule: the next round,
      // and then the burst, start with empty write-behind buffers again
      def round(sched: IndexedSeq[Gen.Req], traced: Boolean): Serving.Phase = {
        tracer.foreach(_.enabled = traced)
        val ph = Serving.openLoop(writers, sched, server.rt)
        server.engine.flush()
        ph
      }
      def merge(phases: Seq[Serving.Phase]) =
        Serving.Phase(phases.flatMap(_.sent).toIndexedSeq, phases.map(_.backlogMax).max,
          phases.map(_.rwQueueMean).sum / phases.size)
      val (basePhases, phases) = rounds.indices.map { k =>
        (baseRounds.lift(k).map(round(_, traced = false)), round(rounds(k), traced = true))
      }.unzip
      val base = if (baseRounds.isEmpty) None else Some(merge(basePhases.flatten))
      val ph = merge(phases)
      val (burstSent, burstNs) = Serving.closedLoop(writers, burst)
      val (readback, readbackNs) =
        Serving.closedLoop(IndexedSeq(c0), Gen.ingestReadback(seed, fleet, ReadbackSets))
      tracer.foreach(_.enabled = false)
      Thread.sleep(300) // last pushes in flight
      server.engine.flush()
      val heap = Serving.heapMb()

      // ---- checks: every acked write read back, every push matched ----
      val failures = Seq.newBuilder[String]
      val baseSent = base.map(_.sent).getOrElse(IndexedSeq.empty)
      val all = warmSent ++ baseSent ++ ph.sent ++ burstSent
      (all ++ readback).filterNot(Serving.ok).foreach(s => failures += s"${s.req.path}: reply ${Option(s.reply).map(_.code)}")
      val tsAcked = all.filter(s => Serving.ok(s) && s.req.path.startsWith("/ts/"))
        .sortBy(_.recvNs)
      // a sensor's posts all ride one connection: ack order is apply order
      val lastVal = IngestModel.latest(tsAcked.map(s =>
        s.req.path.stripPrefix("/ts/") -> Model.payloadValue(s.req.payload)))
      val bySensor = tsAcked.groupBy(_.req.path.stripPrefix("/ts/"))
        .map { case (k, ss) => k -> ss.sortBy(_.seq).map(_.req.payload) }
      readback.filter(Serving.ok).foreach { s =>
        IngestModel.checkReadback(s.req.path, s.reply.payloadString, bySensor, fleet.tagOf)
          .foreach(f => failures += s"${s.req.path}: $f")
      }
      val ids = fleet.sensors.mkString(",")
      val checker = server.connect("check")
      val lenQ = checker.send(Gen.Req(0, 0, 1, s"/ts/$ids/length", "", "check"), System.nanoTime())
      val latQ = checker.send(Gen.Req(0, 0, 1, s"/ts/$ids/latest", "", "check"), System.nanoTime())
      val kvCells = all.filter(s => Serving.ok(s) && s.req.path.startsWith("/kv/"))
        .groupBy(_.req.path).map { case (p, ss) => p -> ss.maxBy(_.seq).req.payload }
      val kvQ = kvCells.keys.toSeq.sorted.map(p =>
        checker.send(Gen.Req(0, 0, 1, p, "", "check"), System.nanoTime()) -> kvCells(p))
      if (!checker.drain(60000)) failures += "verification reads timed out"
      else {
        val n = Model.length(lenQ.reply.payloadString)
        if (n != tsAcked.size) failures += s"length $n != acked ${tsAcked.size}"
        IngestModel.checkLatest(latQ.reply.payloadString, lastVal).foreach(failures += _)
        kvQ.foreach { case (q, want) =>
          if (q.reply.payloadString != want) failures += s"${q.req.path}: ${q.reply.payloadString} != $want"
        }
      }
      checker.close()
      val observedPaths = fleet.observed.map(s => s"/ts/$s").toSet
      val (matched, unmatched) = IngestModel.matchPushes(pushes.asScala.toSeq,
        baseSent ++ ph.sent ++ burstSent, observedPaths)
      unmatched.take(5).foreach(m => failures += s"push matches no POST: $m")
      val wantPushes = (baseSent ++ ph.sent ++ burstSent).count(s => Serving.ok(s) && observedPaths(s.req.path))
      if (matched.size != wantPushes) failures += s"pushes ${matched.size} != observed POSTs $wantPushes"

      // ---- metrics ----
      val measured = ph.sent.filter(Serving.ok)
      val lat = measured.map(Serving.latMs)
      val inPhase = ph.sent.toSet
      val phPush = matched.filter { case (_, p) => inPhase(p) }
      val pushLat = phPush.map { case (ns, p) => Serving.ms(ns - p.dueNs) }
      val payloadBytes = all.filter(Serving.ok).map(_.req.payload.getBytes("UTF-8").length.toLong).sum
      val (diskBytes, _) = Serving.diskBytes(storeDir)
      val failed = (baseSent ++ ph.sent ++ burstSent ++ readback).count(s => !Serving.ok(s))
      val late = lat.count(_ > LimitMs)
      val attempted = baseSent.size + ph.sent.size + burstSent.size + readback.size
      val fail = failures.result()
      val metrics = Map(
        "post_p50_ms" -> Stats.median(lat),
        "post_tput" -> burstSent.size / (burstNs / 1e9),
        "readback_s" -> readbackNs / 1e9,
        "push_p50_ms" -> Stats.median(pushLat),
        "space_amp" -> diskBytes.toDouble / payloadBytes,
        "heap_mb" -> heap,
        "slo_miss_frac" -> (failed + late).toDouble / ph.sent.size
      ) ++ Serving.tailMetric("post_p99_ms", lat, 99) ++
        Serving.tailMetric("push_p99_ms", pushLat, 99)
      val layers = (tracer, sp) match {
        case (Some(t), Some(s)) =>
          val inRun = (ph.sent ++ burstSent).toSet
          val runPushes = matched.filter { case (_, p) => inRun(p) }
          Serving.wireLayers(t, s, ph.sent ++ burstSent ++ readback, ph, storeDir, runPushes,
            runPushes.size) ++ base.map(b => "trace.overhead_frac" ->
            Stats.median(lat) / Stats.median(b.sent.filter(Serving.ok).map(Serving.latMs)))
        case _ => Map.empty[String, Double]
      }
      val notes = Seq(
        f"setup: server and observers ${(t1 - t0) / 1e9}%.2f s, warm-up ${(t2 - t1) / 1e9}%.2f s",
        s"posts=${measured.size} pushes=${pushLat.size} burst=${burstSent.size} " +
          s"burst_s=${burstNs / 1e9} backlog_max=${ph.backlogMax} " +
          s"late_p99_ms=${Stats.pct(ph.sent.map(s => Serving.ms(s.sendNs - s.dueNs)), 99)} " +
          s"rtt_p50_ms=${Stats.median(measured.map(s => Serving.ms(s.recvNs - s.sendNs)))}")
      Outcome(metrics,
        Map("p50_ms" -> Stats.median(lat),
          "work_s" -> (burstNs + readbackNs) / 1e9, "heap_mb" -> heap),
        layers, attempted, failed + fail.size, fail, notes)
    } finally server.close()
  }
}
