package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Time-window selectors of the reference read API
  * (`/root/reference/src/server.re:260-510` dispatch;
  * `/root/reference/src/timeseries/timeseries.re:157-429` execution).
  */
sealed trait Selector
case object Latest                                 extends Selector // timeseries.re:285-286
case class LastN(n: Int)                           extends Selector // timeseries.re:157-283
case object Earliest                               extends Selector // timeseries.re:288-290
case class FirstN(n: Int)                          extends Selector // timeseries.re:292-308
case class Since(fromMs: Long)                     extends Selector // timeseries.re:350,392-409 (inclusive)
case class TimeRange(fromMs: Long, toMs: Long)     extends Selector // timeseries.re:411-429 (both inclusive)
case object Length                                 extends Selector // timeseries.re:310-346

/** Tag predicates (`/root/reference/src/filter.re:3-29`): records lacking
  * the tag are dropped (Not_found -> false); `contains` is a literal
  * substring match, not a regex.
  */
sealed trait TagPred { def tag: String }
case class TagEquals(tag: String, v: String)   extends TagPred
case class TagContains(tag: String, v: String) extends TagPred

/** Read-path operators over the TS table of [[graft.model.TsModel]].
  *
  * Semantics pinned against the reference:
  *  - `last/<n>` over a multi-series union is PER-SERIES n then a global
  *    descending sort — NOT a global top-n (`timeseries.re:275-283`,
  *    `docs/README.md:219-225`). Hence the window per series.
  *  - `since`/`range` bounds are inclusive on both ends.
  *  - Multi-series "join" is UNION ALL (`server.re:208-215`): one `isin`
  *    filter on the shared table, no actual union needed.
  *
  * Scale notes (100 TB): the time filters sit directly on the scan so they
  * prune partitions/row-groups; the per-series top-n is a single shuffle by
  * `series_id`. Because a TS workload has few series but many rows, the
  * window alone would funnel each series through one reducer — so top-n
  * selection first applies a map-side partial top-n (see
  * [[TsOps.perSeriesTopN]]) which bounds the shuffle to
  * `numPartitions * n` rows per series, the Spark analogue of the
  * reference's newest-shard-first early exit (`timeseries.re:197-231`).
  */
object TsOps {

  /** Multi-series selection (R7: union-all is an `isin` on one table). */
  def selectSeries(ts: DataFrame, ids: Seq[String]): DataFrame =
    if (ids.isEmpty) ts else ts.filter(col("series_id").isin(ids: _*))

  /** Apply a window selector. Output keeps the full record shape. */
  def select(ts: DataFrame, ids: Seq[String], sel: Selector): DataFrame = {
    val base = selectSeries(ts, ids)
    sel match {
      case Latest             => perSeriesTopN(base, 1, descending = true)
      case LastN(n)           => perSeriesTopN(base, n, descending = true)
      case Earliest           => perSeriesTopN(base, 1, descending = false)
      case FirstN(n)          => perSeriesTopN(base, n, descending = false)
      case Since(from)        => base.filter(sinceCond(base, from))
      case TimeRange(from, to) => base.filter(sinceCond(base, from) && untilCond(base, to))
      case Length             => base.agg(count(lit(1)).as("length"))
    }
  }

  /** Time-window predicates, rewritten onto the RAW stored time column
    * when the frame carries one (`ts_raw`, an alias-only copy of the
    * scanned column — ntz timestamp under the shipped Spark, epoch-ns
    * long under a `nanosAsLong` reader). A predicate on the derived `t`
    * never reaches `PushedFilters`; a comparison against a same-typed
    * literal ([[graft.model.TimeCols.msLowerBound]], exact inclusive-ms
    * bounds) does, and the parquet reader then skips row groups by
    * min/max stats — the engine equivalent of the reference's shard-index
    * window pruning (`index.re:78-96`).
    */
  private def rawType(df: DataFrame): Option[org.apache.spark.sql.types.DataType] =
    if (df.columns.contains("ts_raw")) Some(df.schema("ts_raw").dataType) else None

  private def sinceCond(df: DataFrame, fromMs: Long) = {
    import graft.model.TimeCols
    rawType(df).filter(TimeCols.msPushable(_, fromMs))
      .map(dt => col("ts_raw") >= TimeCols.msLowerBound(dt, fromMs))
      .getOrElse(col("t") >= fromMs)
  }

  private def untilCond(df: DataFrame, toMs: Long) = {
    import graft.model.TimeCols
    rawType(df).filter(TimeCols.msPushable(_, toMs))
      .map(dt => col("ts_raw") <= TimeCols.msUpperBound(dt, toMs))
      .getOrElse(col("t") <= toMs)
  }

  /** Per-series top-n by timestamp (R1-R3/R11), via the bounded-heap
    * [[graft.functions.TopKRows]] aggregate: map-side partial aggregation
    * truncates each input partition to n rows per series BEFORE the
    * shuffle, so the exchange carries at most `partitions * n` rows per
    * series no matter how many billions the series holds — the Spark
    * analogue of the reference's newest-shard-first early exit
    * (`timeseries.re:197-231`). A window + row_number (see
    * [[perSeriesTopNWindow]]) would funnel every row of a series through
    * one reducer.
    */
  def perSeriesTopN(df: DataFrame, n: Int, descending: Boolean): DataFrame = {
    val cols = df.columns
    require(cols.contains("t") && cols.contains("event_id"),
      s"perSeriesTopN needs t/event_id ordering columns, got ${cols.mkString(",")}")
    val packedFields = Seq("t", "event_id") ++
      cols.filterNot(c => c == "series_id" || c == "t" || c == "event_id")
    val packed = struct(packedFields.map(col): _*)
    df.groupBy(col("series_id"))
      .agg(graft.functions.TopKRows.topk_rows(packed, n, descending).as("__top"))
      .select(col("series_id"), explode(col("__top")).as("__r"))
      .select(cols.map(c => if (c == "series_id") col(c) else col(s"__r.$c").as(c)): _*)
  }

  /** Reference implementation of [[perSeriesTopN]] via a window — kept for
    * cross-checking the custom aggregate in tests.
    */
  def perSeriesTopNWindow(df: DataFrame, n: Int, descending: Boolean): DataFrame = {
    val ord =
      if (descending) Seq(col("t").desc, col("event_id").desc)
      else Seq(col("t").asc, col("event_id").asc)
    val w = Window.partitionBy("series_id").orderBy(ord: _*)
    df.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= n)
      .drop("rn")
  }

  /** Tag filter (R8/R9). `tags[tag]` is null when the tag is absent, and
    * null comparisons are false in Spark — which reproduces the reference's
    * drop-on-missing-tag rule with no extra null handling.
    */
  def tagFilter(df: DataFrame, pred: TagPred): DataFrame = pred match {
    case TagEquals(tag, v)   => df.filter(col("tags").getItem(tag) === v)
    case TagContains(tag, v) => df.filter(col("tags").getItem(tag).contains(v))
  }

  /** [[tagFilter]]'s predicate on one row's tags, for the engine's
    * driver-side evaluator: an absent (or null) tag fails it.
    */
  def tagHolds(pred: TagPred, tags: Map[String, String]): Boolean = {
    val v = Option(tags).flatMap(_.get(pred.tag)).flatMap(Option(_))
    pred match {
      case TagEquals(_, x)   => v.contains(x)
      case TagContains(_, x) => v.exists(_.contains(x))
    }
  }

  /** Delete-by-query (S6, `timeseries.re:431-487`): the reference collects
    * the *timestamps* matched by the read query and removes every record
    * sharing one of those timestamps — same-timestamp bystanders die too
    * (`List.mem` on ts only). Expressed as an anti-join on `t`, which Spark
    * plans as a broadcast anti-join when the matched set is small.
    * Returns the surviving rows (the storage rewrite is the caller's sink).
    */
  def deleteByQuery(ts: DataFrame, ids: Seq[String], sel: Selector,
                    pred: Option[TagPred]): DataFrame = {
    val base    = selectSeries(ts, ids)
    val matched = pred.foldLeft(select(ts, ids, sel))(tagFilter)
    base.join(matched.select(col("t").as("del_t")).distinct(),
              col("t") === col("del_t"), "left_anti")
  }

  /** Exponentially weighted moving average over the trailing `window`
    * observations per series: the standard smoothing companion to the plain
    * moving average. The recursion `y = alpha*x + (1-alpha)*y_prev` is
    * truncated to a bounded row frame (weights below the horizon are
    * ~(1-alpha)^window — sub-ppm for the defaults) so it stays a single
    * windowed pass: one exchange on series_id, no iterative jobs. The fold
    * runs strictly left-to-right over the frame, which makes the float
    * result reproducible across engines — the DuckDB oracle's list_reduce
    * applies the identical operation order.
    */
  def ewma(ts: DataFrame, alpha: Double = 0.2, window: Int = 20): DataFrame = {
    val w = Window.partitionBy("series_id").orderBy(col("t").asc, col("event_id").asc)
      .rowsBetween(-(window - 1), 0)
    val frame = collect_list(col("value")).over(w)
    ts.select(col("series_id"), col("t"), col("event_id"), frame.as("__f"))
      .select(col("series_id"), col("t"), col("event_id"),
        round(aggregate(slice(col("__f"), lit(2), size(col("__f")) - 1),
          element_at(col("__f"), 1),
          (acc, x) => acc * lit(1.0 - alpha) + x * lit(alpha)), 6).as("ewma"))
  }

  /** Time-decay EWMA for IRREGULARLY sampled series: the weight of the
    * previous level decays with the ACTUAL gap, `w = exp(-dt/tau)`, so a
    * 10-minute gap forgets little and a 2-day gap forgets almost all —
    * the correct smoother when samples are event-driven rather than
    * fixed-rate (a fixed-alpha [[ewma]] over-weights bursts). Recursion
    * over the trailing `window` observations:
    * {{{ l' = w*l + (1-w)*x,  w = round(exp(-(t - t_prev)/tau), 6) }}}
    * The per-step weight is ROUNDED to 6 dp before use: both engines
    * compute exp via their native libm, which may differ in the last
    * ulp — the rounding collapses that to a shared value, and every
    * subsequent float op is order-identical with the oracle's recursive
    * CTE. Same single series exchange as the moving average.
    */
  def ewmaIrregular(ts: DataFrame, tauMs: Double = 3600000.0,
                    window: Int = 20): DataFrame = {
    val w = Window.partitionBy("series_id").orderBy(col("t").asc, col("event_id").asc)
      .rowsBetween(-(window - 1), 0)
    val frame = collect_list(struct(col("t"), col("value"))).over(w)
    val fold = aggregate(
      slice(col("__f"), lit(2), size(col("__f")) - 1),
      struct(element_at(col("__f"), 1)("value").as("l"),
        element_at(col("__f"), 1)("t").as("pt")),
      (acc, x) => {
        val wgt = round(exp((acc("pt") - x("t")).cast("double") / lit(tauMs)), 6)
        struct((wgt * acc("l") + (lit(1.0) - wgt) * x("value")).as("l"),
          x("t").as("pt"))
      })
    // the window needs one task per series, but each row's 20-step fold is
    // INDEPENDENT (a bounded lookback, not a running recursion) — spread
    // the frames across the session's parallelism before folding so the
    // higher-order aggregate isn't serialized onto |series| cores (r13;
    // per-row results are deterministic, so partitioning cannot change
    // the output)
    ts.select(col("series_id"), col("t"), col("event_id"), frame.as("__f"))
      .repartition(ts.sparkSession.sparkContext.defaultParallelism,
        col("series_id"), col("t"))
      .select(col("series_id"), col("t"), col("event_id"), fold.as("__h"))
      .select(col("series_id"), col("t"), col("event_id"),
        round(col("__h.l"), 6).as("ewma_decay"))
  }

  /** Holt double-exponential smoothing (level + trend) over the trailing
    * `window` observations — [[ewma]]'s big sibling for drifting series.
    * The recursion
    * {{{ l' = alpha*x + (1-alpha)*(l + b);  b' = beta*(l' - l) + (1-beta)*b }}}
    * folds a (level, trend) struct left-to-right over the frame (init:
    * level = first value, trend = 0), the same operation order as the
    * DuckDB oracle's struct-accumulator list_reduce — float-reproducible
    * across engines. Same single series exchange as the moving average.
    */
  def holt(ts: DataFrame, alpha: Double = 0.5, beta: Double = 0.3,
           window: Int = 20): DataFrame = {
    val w = Window.partitionBy("series_id").orderBy(col("t").asc, col("event_id").asc)
      .rowsBetween(-(window - 1), 0)
    val frame = collect_list(col("value")).over(w)
    val fold = aggregate(
      slice(col("__f"), lit(2), size(col("__f")) - 1),
      struct(element_at(col("__f"), 1).as("l"), lit(0.0).as("b")),
      (acc, x) => {
        val l1 = lit(alpha) * x + lit(1.0 - alpha) * (acc("l") + acc("b"))
        struct(l1.as("l"),
          (lit(beta) * (l1 - acc("l")) + lit(1.0 - beta) * acc("b")).as("b"))
      })
    // same fold spread as [[ewmaIrregular]] — per-row bounded lookback
    ts.select(col("series_id"), col("t"), col("event_id"), frame.as("__f"))
      .repartition(ts.sparkSession.sparkContext.defaultParallelism,
        col("series_id"), col("t"))
      .select(col("series_id"), col("t"), col("event_id"), fold.as("__h"))
      .select(col("series_id"), col("t"), col("event_id"),
        round(col("__h.l"), 6).as("level"), round(col("__h.b"), 6).as("trend"))
  }
}
