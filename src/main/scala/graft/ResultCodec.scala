package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.operators.{AggFn, Aggregates}

/** Reference wire shapes (SURVEY §1.2; `/root/reference/src/timeseries/
  * timeseries.re:233-240`, `/root/reference/src/numeric.re:22-27`).
  *
  * These codecs sit at the API edge where results are small by
  * construction (top-n, aggregates) — the only place `.collect()` is
  * legitimate. Read results serialize as
  * `[{"timestamp": t, "data": {"value": v, "<tag>": "<tv>"}}, ...]`,
  * sorted desc for the Last family / asc for First
  * (`timeseries.re:168-175`).
  */
object ResultCodec {

  private def esc(s: String): String =
    s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    }

  private def numJson(v: Double): String =
    if (v == v.floor && !v.isInfinite && math.abs(v) < 1e15) v.toLong.toString
    else v.toString

  /** One record: `{"timestamp": t, "data": {"value": v, <tags>}}`, the
    * tags sorted by name and empty ones left out.
    */
  def recordJson(t: Long, value: Double, tags: Map[String, String]): String = {
    val fields = (s""""value": ${numJson(value)}"""
      +: Option(tags).getOrElse(Map.empty).filter(_._2.nonEmpty).toSeq.sortBy(_._1)
        .map { case (k, v) => s""""${esc(k)}": "${esc(v)}"""" })
    s"""{"timestamp": $t, "data": {${fields.mkString(", ")}}}"""
  }

  private def recordJson(r: Row): String =
    recordJson(r.getAs[Long]("t"), r.getAs[Double]("value"), r.getAs[Map[String, String]]("tags"))

  /** One blob record: the stored JSON document verbatim as its `data`. */
  def blobRecordJson(t: Long, blob: String): String =
    s"""{"timestamp": $t, "data": $blob}"""

  /** Thrown when a read selection exceeds the engine's result cap — the
    * bounded-result contract for the whole-result-in-driver-memory wire
    * shape (the reference holds every response in memory too; at 100 TB
    * an unbounded `/ts/x/since/0` is a driver OOM, so the cap turns it
    * into a clean error naming the to-path alternative).
    */
  final class ResultTooLarge(val cap: Long) extends RuntimeException(
    s"read result exceeds the $cap-row response cap (143); " +
      "use getToParquet for unbounded selections")

  /** A read reply: the rendered records, in order, as one JSON array;
    * more than `maxRows` of them is [[ResultTooLarge]].
    */
  def arrayJson(records: Iterator[String], maxRows: Long): String = {
    val sb = new StringBuilder("[")
    var n = 0L
    records.foreach { r =>
      n += 1
      if (n > maxRows) throw new ResultTooLarge(maxRows)
      if (n > 1) sb.append(", ")
      sb.append(r)
    }
    sb.append("]").toString
  }

  /** Read-result array, sorted by the reference's rule (desc for Last
    * family). Tie order pinned by event_id (the reference leaves it
    * unspecified — SURVEY §7.5.2). `record` renders one row; the default
    * is the numeric record, [[blobRecordJson]] the blob one.
    *
    * Serialization streams partition-by-partition (`toLocalIterator`): a
    * `since`/`range` over a wide window no longer materializes every row
    * on the driver at once — peak driver memory is one partition plus the
    * output builder, instead of 2x the full result.
    */
  def readJson(df: DataFrame, descending: Boolean = true,
               maxRows: Long = Long.MaxValue,
               record: Row => String = recordJson): String = {
    val ord =
      if (descending) Seq(col("t").desc, col("event_id").desc)
      else Seq(col("t").asc, col("event_id").asc)
    arrayJson(df.orderBy(ord: _*).toLocalIterator().asScala.map(record), maxRows)
  }

  /** `{"result": x}` / `{}` (delegates to Aggregates for the empty rule). */
  def aggJson(df: DataFrame, fn: AggFn): String = Aggregates.resultJson(df, fn)

  /** `{"length": n}` (`timeseries.re:321`). */
  def lengthJson(n: Long): String = s"""{"length": $n}"""
  def lengthJson(df: DataFrame): String = lengthJson(df.head().getAs[Long]("length"))

  /** KV shapes: keys array + count (`keys.re:32-45`, `keyvalue.re:35-36`).
    * The Seq forms serve the engine's in-process cache path; the DataFrame
    * forms wrap them for the analytics surface.
    */
  def keysJson(keys: Seq[String]): String =
    keys.sorted // sort RAW keys, then escape
      .map(k => s""""${esc(k)}"""").mkString("[", ", ", "]")
  def keysJson(keys: DataFrame): String =
    keysJson(keys.collect().map(_.getString(0)).toSeq)
  def countJson(n: Long): String = s"""{"count": $n}"""
  def countJson(count: DataFrame): String =
    countJson(count.head().getAs[Long]("count"))
}
