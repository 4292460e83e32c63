package perfbench

import java.util.SplittableRandom

/** Every input the benchmark feeds the program, derived from one seed.
  * Each generator draws from its own named stream, so adding draws to one
  * input never shifts another. Nothing here reads a clock.
  */
object Gen {

  def mix64(z0: Long): Long = {
    var z = z0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  def stream(seed: Long, name: String): SplittableRandom =
    new SplittableRandom(mix64(seed ^ mix64(name.hashCode.toLong)))

  /** Distinct seeded names `<prefix>-<6 hex>`. */
  def names(seed: Long, stream0: String, prefix: String, n: Int): IndexedSeq[String] = {
    val r = stream(seed, stream0)
    val out = scala.collection.mutable.LinkedHashSet.empty[String]
    while (out.size < n) out += f"$prefix-${r.nextInt(1 << 24)}%06x"
    out.toIndexedSeq
  }

  /** `n` arrival offsets (ns) in `[0, seconds)`, ascending: a Poisson
    * process on that interval conditioned on its count (sorted uniform
    * draws), so every seed makes the same number of requests.
    */
  def arrivals(r: SplittableRandom, n: Int, seconds: Double): IndexedSeq[Long] =
    IndexedSeq.fill(n)((r.nextDouble() * seconds * 1e9).toLong).sorted

  /** A seeded permutation of `xs`. */
  def shuffle[A](r: SplittableRandom, xs: IndexedSeq[A]): IndexedSeq[A] = {
    val a = xs.toArray[Any]
    var i = a.length - 1
    while (i > 0) {
      val j = r.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
      i -= 1
    }
    a.toIndexedSeq.asInstanceOf[IndexedSeq[A]]
  }

  /** `{"value": v, "<tag>": "<s>"}` — the reference's numeric payload. */
  def tsPayload(value: Double, tag: String, tagValue: String): String =
    s"""{"value": ${fmt(value)}, "$tag": "$tagValue"}"""

  /** Two-decimal value rendered the way the result codec renders it. */
  def fmt(v: Double): String =
    if (v == v.floor && math.abs(v) < 1e15) v.toLong.toString else v.toString

  def round2(v: Double): Double = math.round(v * 100.0) / 100.0

  val TagKeys: IndexedSeq[String] = IndexedSeq("room", "zone", "line", "rack")
  val TagValues: IndexedSeq[String] =
    IndexedSeq("red-1", "red-2", "blue-1", "blue-2", "green-1", "green-2")

  // ---- ingest ---------------------------------------------------------------

  /** One scheduled request: due offset from the phase start, connection,
    * verb (1 GET / 2 POST), path, payload, class label.
    */
  final case class Req(dueNs: Long, conn: Int, code: Int, path: String,
                       payload: String, cls: String)

  final case class Fleet(sensors: IndexedSeq[String], tagOf: Map[String, String],
                         observed: IndexedSeq[String], devices: IndexedSeq[String],
                         keys: IndexedSeq[String])

  def fleet(seed: Long, nSensors: Int, nObserved: Int): Fleet = {
    val sensors = names(seed, "fleet", "sensor", nSensors)
    val r = stream(seed, "fleet-tags")
    val tagOf = sensors.map(s => s -> TagKeys(r.nextInt(TagKeys.size))).toMap
    val observed = shuffle(stream(seed, "observed"), sensors).take(nObserved).sorted
    Fleet(sensors, tagOf, observed, names(seed, "devices", "dev", 8),
      names(seed, "kvkeys", "key", 8))
  }

  /** An ingest schedule of `n` POSTs: seeded Poisson arrivals over
    * `seconds`, exactly `round(kvShare * n)` of them KV writes, and of the
    * TS writes exactly the observed sensors' share of the fleet going to
    * observed sensors. Each sensor and each KV cell is pinned to one
    * connection, so per-key order is the connection's FIFO order. Fixed
    * counts of each kind fix the number of write-behind flushes and of
    * observe pushes the schedule triggers.
    */
  def ingestSchedule(seed: Long, f: Fleet, n: Int, seconds: Double,
                     kvShare: Double, conns: Int, stream0: String): IndexedSeq[Req] = {
    val r = stream(seed, stream0)
    val dues = arrivals(r, n, seconds)
    val nKv = math.round(kvShare * n).toInt
    val nObs = math.round((n - nKv).toDouble * f.observed.size / f.sensors.size).toInt
    val order = shuffle(r, dues.indices)
    val kv = order.take(nKv).toSet
    val obs = order.slice(nKv, nKv + nObs).toSet
    val unobserved = f.sensors.filterNot(f.observed.contains)
    dues.indices.map { i =>
      val due = dues(i)
      if (kv(i)) {
        val d = r.nextInt(f.devices.size); val k = r.nextInt(f.keys.size)
        Req(due, (d * f.keys.size + k) % conns, 2, s"/kv/${f.devices(d)}/${f.keys(k)}",
          s"""{"reading": ${r.nextInt(100000)}}""", "kv_post")
      } else {
        val pool = if (obs(i)) f.observed else unobserved
        val s = pool(r.nextInt(pool.size))
        val v = round2(20.0 + 5.0 * r.nextGaussian())
        Req(due, f.sensors.indexOf(s) % conns, 2, s"/ts/$s",
          tsPayload(v, f.tagOf(s), TagValues(r.nextInt(TagValues.size))), "ts_post")
      }
    }
  }

  /** `n` GETs of the fleet's KV cells, round-robin over `conns`
    * connections. The engine serves them from its cache without a Spark
    * job, so they warm the wire, CURVE and auth path cheaply.
    */
  def kvReads(f: Fleet, n: Int, conns: Int): IndexedSeq[Req] =
    (0 until n).map { i =>
      val c = i / conns
      val (dev, key) = (f.devices(c % f.devices.size), f.keys(c / f.devices.size % f.keys.size))
      Req(0, i % conns, 1, s"/kv/$dev/$key", "", "kv_get")
    }

  /** Closed-loop read-back of the fleet's data after the write phases:
    * `sets` rounds of one read of each shape (latest, last n, multi-series
    * length, full window, aggregates with and without a tag filter).
    */
  def ingestReadback(seed: Long, f: Fleet, sets: Int): IndexedSeq[Req] = {
    val r = stream(seed, "ingest-readback")
    (0 until sets).flatMap { _ =>
      val s = shuffle(r, f.sensors).take(7)
      val v = TagValues(r.nextInt(TagValues.size))
      IndexedSeq(s"/ts/${s(0)}/latest", s"/ts/${s(1)}/last/5",
        s"/ts/${s(2)},${s(3)},${s(4)}/length", s"/ts/${s(5)}/since/0",
        s"/ts/${s(6)}/since/0/mean", s"/ts/${s(0)}/since/0/median",
        s"/ts/${s(1)}/since/0/filter/${f.tagOf(s(1))}/equals/$v/count")
        .map(Req(0, 0, 1, _, "", "readback"))
    }
  }

  /** Byte form of a schedule (the determinism check compares these). */
  def render(reqs: Seq[Req]): Array[Byte] =
    reqs.map(q => s"${q.dueNs}\t${q.conn}\t${q.code}\t${q.path}\t${q.payload}\t${q.cls}")
      .mkString("\n").getBytes("UTF-8")
}
