package graft

import scala.collection.{IndexedSeq, mutable}

import graft.operators._

/** The key the tail orders and selects a TS row by. */
private[graft] trait TailRow {
  def series_id: String
  def t: Long
  def event_id: Long
  /** The row as one record of a read reply. */
  def json: String
  /** A rough estimate of the row's heap footprint, for the tail's cap. */
  def heapBytes: Long
}

/** The rows of one TS table that the fold has not moved into the
  * `(series_id, day)` layout yet: the engine's write-behind buffer plus
  * the committed flush runs ([[graft.sources.TsStorage.append]]). In
  * membuf mode it is the whole store. This is the reference's membuf,
  * which answers `latest` and `last n` before the shard index is walked
  * (`timeseries.re:157-283`).
  *
  * Each series keeps its rows sorted by `(t, event_id)`, the order of
  * every read and top-n. A series is *whole* while the tail holds every
  * row stored for it; [[evict]] ends that for good, for every series it
  * held, and the engine calls it on each step that folds, or may have
  * folded. [[select]] answers a selection only when every queried series
  * is whole. Past `maxBytes` of rows (by [[TailRow.heapBytes]]) the tail
  * evicts itself too, so it holds no more than that plus the pending rows.
  *
  * Not thread-safe: the engine guards it with its flush lock.
  */
private[graft] final class TsTail[R <: TailRow](maxBytes: Long) {

  private val pending = mutable.ArrayBuffer.empty[R]
  private val bySeries = mutable.HashMap.empty[String, mutable.ArrayBuffer[R]]
  private val evicted = mutable.HashSet.empty[String]
  private var bytes = 0L

  private def before(a: R, b: R): Boolean =
    a.t < b.t || (a.t == b.t && a.event_id < b.event_id)

  /** The first index of sorted `rs` at which the monotone `p` holds. */
  private def firstIndex(rs: IndexedSeq[R])(p: R => Boolean): Int = {
    var (lo, hi) = (0, rs.size)
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (p(rs(mid))) hi = mid else lo = mid + 1
    }
    lo
  }

  /** A newly written row, pending until [[flushed]]. A new row carries the
    * highest event id, so it usually lands at its series' end.
    */
  def add(r: R): Unit = {
    pending += r
    if (!evicted(r.series_id)) {
      val rs = bySeries.getOrElseUpdate(r.series_id, mutable.ArrayBuffer.empty[R])
      rs.insert(firstIndex(rs)(before(r, _)), r)
      bytes += r.heapBytes
      if (bytes > maxBytes) evict()
    }
  }

  /** The rows not flushed yet, in write order: in membuf mode, the store. */
  def pendingRows: Seq[R] = pending.toSeq
  def pendingCount: Int = pending.size

  /** The pending rows are a committed flush run now. */
  def flushed(): Unit = pending.clear()

  /** A restart: the series the layout holds rows of are not whole; then
    * the committed runs' rows. False when they did not fit under the cap,
    * and the caller must [[evict]] every series the runs hold.
    */
  def load(folded: Iterable[String], runs: Iterator[R]): Boolean = {
    evicted ++= folded
    runs.filterNot(r => evicted(r.series_id)).takeWhile(_ => bytes <= maxBytes).foreach { r =>
      bySeries.getOrElseUpdate(r.series_id, mutable.ArrayBuffer.empty[R]) += r
      bytes += r.heapBytes
    }
    bySeries.values.foreach(_.sortInPlaceWith(before))
    bytes <= maxBytes
  }

  /** Every held row leaves the tail, as a fold moves them all into the
    * layout: no series it held, nor any of `more`, is whole again.
    */
  def evict(more: Iterable[String] = Nil): Unit = {
    evicted ++= bySeries.keys
    evicted ++= more
    bySeries.clear()
    bytes = 0
  }

  /** Membuf-mode delete: the queried series (all when `ids` is empty)
    * lose every row at one of the timestamps `ts`.
    */
  def deleteAt(ids: Seq[String], ts: Set[Long]): Unit = {
    val hit = (r: R) => (ids.isEmpty || ids.contains(r.series_id)) && ts(r.t)
    pending.filterInPlace(!hit(_))
    bySeries.values.foreach(_.filterInPlace(!hit(_)))
  }

  /** The rows `sel` picks from each of `ids` (all series when empty) in
    * reply order — descending `(t, event_id)`, ascending for `earliest`
    * and `first n` — or None when a queried series is not whole. `n <= 0`
    * is never covered: Spark's top-n rejects it, and that error is the
    * reply.
    */
  def select(ids: Seq[String], sel: Selector): Option[IndexedSeq[R]] = {
    val nonPositive = sel match {
      case LastN(n)  => n <= 0
      case FirstN(n) => n <= 0
      case _         => false
    }
    val series = if (ids.isEmpty) bySeries.keys.toSeq else ids.distinct
    if (nonPositive || (if (ids.isEmpty) evicted.nonEmpty else series.exists(evicted)))
      None
    else {
      val picked = series.flatMap(s => pick(bySeries.getOrElse(s, mutable.ArrayBuffer.empty[R]), sel))
      val rows = picked.toVector.sortWith(before(_, _))
      Some(sel match {
        case Earliest | FirstN(_) => rows
        case _                    => rows.reverse
      })
    }
  }

  private def pick(rs: IndexedSeq[R], sel: Selector): IndexedSeq[R] = {
    def from(t: Long) = firstIndex(rs)(_.t >= t)
    sel match {
      case Latest            => rs.takeRight(1)
      case Earliest          => rs.take(1)
      case LastN(n)          => rs.takeRight(n)
      case FirstN(n)         => rs.take(n)
      case Since(t0)         => rs.drop(from(t0))
      case TimeRange(t0, t1) => rs.slice(from(t0), firstIndex(rs)(_.t > t1))
      case Length            => rs
    }
  }
}
