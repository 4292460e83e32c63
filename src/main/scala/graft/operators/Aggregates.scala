package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The reference's seven scalar aggregates
  * (`/root/reference/src/numeric.re:3-12`, dispatch
  * `/root/reference/src/server.re:217-258`).
  *
  * Pinned semantics:
  *  - `count` returns a FLOAT in `{"result": n.0}` (`numeric.re:41`).
  *  - aggregate over zero rows yields `{}` — not null, not an error
  *    (`numeric.re:26`); see [[Aggregates.resultJson]].
  *  - `sd` is pinned to the sample standard deviation; verified against the
  *    DuckDB oracle (DuckDB `stddev` = stddev_samp), see AggregatesSpec.
  *  - a query applies 0, 1 or 2 functions: optional tag filter then optional
  *    aggregate (`server.re:276-303`) — composition is plain chaining here.
  *
  * All seven are built-in Spark aggregates with map-side partial
  * aggregation, so at 100 TB each is one scan + a 1-row-per-partition
  * shuffle; `median` is exact (Spark >= 3.4) which sorts per group — for
  * cluster scale swap to `percentile_approx` via [[Aggregates.column]]'s
  * `approxMedian` flag. [[Aggregates.local]] is the driver-side twin the
  * engine answers tail-covered GETs with.
  *
  * Float results depend on the order the values are added in, which
  * depends on the layout (how rows split over files and partitions) and
  * the path (Spark or [[Aggregates.local]]): `sum`, `mean` and `sd` agree
  * within 1e-9 relative across engine modes and layouts, not bit for bit
  * (the same 23 rows summed to `1122.549` on a durable engine and to
  * `1122.5489999999998` on a membuf one). `count`, `min`, `max` and
  * `median` pick or interpolate stored values and are exact everywhere.
  */
sealed trait AggFn
case object AggSum    extends AggFn
case object AggCount  extends AggFn
case object AggMin    extends AggFn
case object AggMax    extends AggFn
case object AggMean   extends AggFn
case object AggMedian extends AggFn
case object AggSd     extends AggFn

object Aggregates {

  def column(fn: AggFn, v: Column = col("value"), approxMedian: Boolean = false): Column =
    fn match {
      case AggSum    => sum(v)
      case AggCount  => count(lit(1)).cast("double") // count-as-float, numeric.re:41
      case AggMin    => min(v)
      case AggMax    => max(v)
      case AggMean   => avg(v)
      case AggMedian => if (approxMedian) percentile_approx(v, lit(0.5), lit(10000)) else median(v)
      case AggSd     => stddev_samp(v)
    }

  /** Whole-input scalar fold: one row, one `result` column (double). */
  def aggregate(df: DataFrame, fn: AggFn): DataFrame =
    df.agg(column(fn).cast("double").as("result"))

  /** Reference output shape: `{"result": x}` or `{}` on empty input
    * (`numeric.re:22-27`). Spark's aggregates return null over zero rows
    * (and count returns 0), so emptiness is detected from the count.
    */
  def resultJson(df: DataFrame, fn: AggFn): String = {
    val row = df.agg(column(fn).cast("double").as("result"),
                     count(lit(1)).as("n")).head()
    // null covers aggregates undefined on the input (stddev_samp of one
    // row) — emit the empty-result shape rather than NPE
    resultJson(if (row.getLong(1) == 0L || row.isNullAt(0)) None else Some(row.getDouble(0)))
  }

  /** The shape of one result, None being the empty `{}`. */
  def resultJson(result: Option[Double]): String = result match {
    // NaN/Infinity (e.g. sum over infinite inputs) are not valid JSON
    // numbers — fold them into the empty-result shape. The integral
    // fast-path needs the same < 1e15 magnitude guard as
    // ResultCodec.numJson: toLong would clamp 2^63-and-up silently.
    case Some(r) if !r.isNaN && !r.isInfinite =>
      if (r == r.floor && math.abs(r) < 1e15) s"""{"result": ${r.toLong}.0}"""
      else s"""{"result": $r}"""
    case _ => "{}"
  }

  /** [[column]]'s value over driver-side values, None where Spark's is
    * null (no rows; `sd` of one row). `median` is Spark's exact
    * percentile at 0.5 (interpolating between the two middle values, in
    * Spark's operation order); `sd` is `stddev_samp` by Spark's running
    * central-moment update.
    */
  def local(fn: AggFn, vs: scala.collection.Seq[Double]): Option[Double] =
    if (vs.isEmpty) None
    else fn match {
      case AggSum    => Some(vs.sum)
      case AggCount  => Some(vs.size.toDouble)
      case AggMin    => Some(vs.reduce((a, b) => math.min(a, b)))
      case AggMax    => Some(vs.reduce((a, b) => math.max(a, b)))
      case AggMean   => Some(vs.sum / vs.size)
      case AggMedian =>
        val sorted = vs.toArray.sorted(Ordering.Double.TotalOrdering)
        val pos = (vs.size - 1) * 0.5
        val (lo, hi) = (pos.floor.toLong, pos.ceil.toLong)
        val (a, b) = (sorted(lo.toInt), sorted(hi.toInt))
        Some(if (lo == hi || a == b) a else (hi - pos) * a + (pos - lo) * b)
      case AggSd =>
        var (n, mean, m2) = (0.0, 0.0, 0.0)
        vs.foreach { v =>
          n += 1
          val delta = v - mean
          val deltaN = delta / n
          mean += deltaN
          m2 += delta * (delta - deltaN)
        }
        if (n < 2) None else Some(math.sqrt(m2 / (n - 1)))
    }
}
