package perfbench

import org.json4s._
import org.json4s.jackson.JsonMethods

/** The client's model of the store, and the checks of replies against it.
  * Each check returns None when the reply is right, else the reason.
  */
object Model {

  final case class Rec(t: Long, value: Double, tags: Map[String, String])

  private def num(v: JValue): Double = v match {
    case JDouble(d) => d
    case JInt(i) => i.toDouble
    case JLong(l) => l.toDouble
    case JDecimal(d) => d.toDouble
    case other => throw new IllegalArgumentException(s"not a number: $other")
  }

  /** `[{"timestamp": t, "data": {"value": v, "<tag>": "<s>"}}, ...]` */
  def records(body: String): Seq[Rec] = JsonMethods.parse(body) match {
    case JArray(items) => items.map { it =>
      val data = (it \ "data").asInstanceOf[JObject]
      Rec(num(it \ "timestamp").toLong, num(data \ "value"),
        data.obj.collect { case (k, JString(s)) => k -> s }.toMap)
    }
    case other => throw new IllegalArgumentException(s"not a record array: $other")
  }

  /** `{"result": x}` -> Some(x); `{}` -> None. */
  def result(body: String): Option[Double] = JsonMethods.parse(body) match {
    case JObject(Nil) => None
    case o: JObject => Some(num(o \ "result"))
    case other => throw new IllegalArgumentException(s"not an aggregate: $other")
  }

  def payloadValue(payload: String): Double = num(JsonMethods.parse(payload) \ "value")

  def payloadTag(payload: String, tag: String): Option[String] =
    JsonMethods.parse(payload) \ tag match {
      case JString(s) => Some(s)
      case _ => None
    }

  def length(body: String): Long = num(JsonMethods.parse(body) \ "length").toLong

  def close(a: Double, b: Double): Boolean =
    a == b || math.abs(a - b) <= 1e-9 * math.max(1.0, math.max(math.abs(a), math.abs(b)))

  /** The store's seven aggregates over `xs` (None where undefined). */
  def aggregate(fn: String, xs: Seq[Double]): Option[Double] =
    if (xs.isEmpty) None
    else fn match {
      case "sum" => Some(xs.sum)
      case "count" => Some(xs.size.toDouble)
      case "min" => Some(xs.min)
      case "max" => Some(xs.max)
      case "mean" => Some(xs.sum / xs.size)
      case "median" => Some(Stats.median(xs))
      case "sd" =>
        if (xs.size < 2) None
        else {
          val m = xs.sum / xs.size
          Some(math.sqrt(xs.map(x => (x - m) * (x - m)).sum / (xs.size - 1)))
        }
    }
}

/** The ingest model: every acked write, checked after the run by reading
  * the store back, plus the push stream checked against the POSTs.
  */
object IngestModel {

  /** Latest acked value per sensor from the posts of one connection (a
    * sensor's posts all ride one connection, so ack order is apply order).
    */
  def latest(acked: Seq[(String, Double)]): Map[String, Double] =
    acked.foldLeft(Map.empty[String, Double]) { case (m, (s, v)) => m.updated(s, v) }

  /** Check a `/ts/<all>/latest` reply: newest first across sensors, one
    * record per sensor that has any write.
    */
  def checkLatest(body: String, want: Map[String, Double]): Option[String] = {
    val got = Model.records(body).map(_.value).sorted
    val exp = want.values.toSeq.sorted
    if (got == exp) None else Some(s"latest: got ${got.size} values, want ${exp.size}")
  }

  /** Check a read-back reply against every acked write: `posts(sensor)`
    * is that sensor's payloads in apply order, all acked before the read.
    */
  def checkReadback(path: String, body: String, posts: Map[String, Seq[String]],
                    tagOf: Map[String, String]): Option[String] = {
    def values(s: String) = posts.getOrElse(s, Nil).map(Model.payloadValue)
    def newest(s: String) = values(s).reverse
    val segs = path.stripPrefix("/").split("/").toList
    try segs match {
      case "ts" :: s :: "latest" :: Nil =>
        if (Model.records(body).map(_.value) == newest(s).take(1)) None else Some(s"latest $body")
      case "ts" :: s :: "last" :: n :: Nil =>
        if (Model.records(body).map(_.value) == newest(s).take(n.toInt)) None else Some(s"last/$n $body")
      case "ts" :: ids :: "length" :: Nil =>
        val want = ids.split(",").map(values(_).size).sum
        if (Model.length(body) == want) None else Some(s"length $body != $want")
      case "ts" :: s :: "since" :: "0" :: Nil =>
        val got = Model.records(body).map(_.value)
        if (got == newest(s)) None else Some(s"since/0: ${got.size} rows, want ${values(s).size}")
      case "ts" :: s :: "since" :: "0" :: rest =>
        val (xs, fn) = rest match {
          case "filter" :: tag :: "equals" :: v :: fn :: Nil =>
            (posts.getOrElse(s, Nil).filter(p => Model.payloadTag(p, tag).contains(v))
              .map(Model.payloadValue), fn)
          case fn :: Nil => (values(s), fn)
          case _ => return Some(s"unchecked path $path")
        }
        val want = Model.aggregate(fn, xs)
        (Model.result(body), want) match {
          case (None, None) => None
          case (Some(a), Some(b)) if Model.close(a, b) => None
          case (got, _) => Some(s"$fn: got $got want $want")
        }
      case _ => Some(s"unchecked path $path")
    } catch { case e: Exception => Some(s"unparseable reply: ${e.getMessage}") }
  }

  /** Match pushes to POSTs: each push must carry the path and payload of a
    * POST on an observed path (FIFO among identical ones). Returns the
    * matched (push recv ns, post) pairs and the unmatched pushes.
    */
  def matchPushes(pushes: Seq[(Long, String)], posts: Seq[Sent],
                  observed: Set[String]): (Seq[(Long, Sent)], Seq[String]) = {
    val byKey = scala.collection.mutable.HashMap.empty[(String, String), scala.collection.mutable.Queue[Sent]]
    posts.filter(s => observed(s.req.path)).foreach { s =>
      byKey.getOrElseUpdate((s.req.path, s.req.payload), scala.collection.mutable.Queue.empty) += s
    }
    val matched = Seq.newBuilder[(Long, Sent)]
    val bad = Seq.newBuilder[String]
    pushes.foreach { case (ns, msg) =>
      // "<ts> <path> <format> <payload>"
      val parts = msg.split(" ", 4)
      val q = if (parts.length == 4) byKey.get((parts(1), parts(3))) else None
      q.filter(_.nonEmpty) match {
        case Some(queue) => matched += (ns -> queue.dequeue())
        case None => bad += msg
      }
    }
    (matched.result(), bad.result())
  }
}
