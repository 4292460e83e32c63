package graft

import scala.collection.mutable

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

import graft.GraftEngine.TsRow
import graft.operators.{Earliest, FirstN, Latest, Length, Since}
import graft.sources.TsStorage
import graft.zestql.{Compiler, PathParser}

/** The engine's unfolded tail: a GET it covers is answered on the driver
  * with no Spark job, and every GET gets the reply the Spark path gives —
  * `Compiler.compile` + `ResultCodec` over `TsStorage.read` — across
  * flushes, a fold, late and tied writes, a delete and a restart.
  */
class TsTailSpec extends AnyFunSuite with SparkTestBase with TempDirs {

  private def freshRoot(): String = tempDir("graft-tail-spec").getAbsolutePath + "/ts"

  private val day0 = 1704067200000L
  private val Cap = 24L

  /** A reply, or the cap it hit. */
  private def reply(body: => String): Either[Long, String] =
    try Right(body) catch { case e: ResultCodec.ResultTooLarge => Left(e.cap) }

  /** The Spark path's reply to `path` over `numeric` or `blob`, the tables
    * as `TsStorage.read` gives them.
    */
  private def reference(numeric: DataFrame, blob: DataFrame, path: String): Either[Long, String] = {
    val q = PathParser.parseGet(path)
    val frame = if (q.blob) blob else numeric
    val descending = q.selector match {
      case Earliest | FirstN(_) => false
      case _                    => true
    }
    reply((q.selector, q.agg) match {
      case (Length, _)   => ResultCodec.lengthJson(Compiler.compile(frame, q))
      case (_, Some(fn)) => ResultCodec.aggJson(Compiler.compile(frame, q.copy(agg = None)), fn)
      case _ if q.blob =>
        ResultCodec.readJson(Compiler.compile(frame, q), descending, Cap,
          r => ResultCodec.blobRecordJson(r.getAs[Long]("t"), r.getAs[String]("blob")))
      case _ => ResultCodec.readJson(Compiler.compile(frame, q), descending, Cap)
    })
  }

  private val Result = """\{"result": (.+)\}""".r

  /** Float aggregates agree within 1e-9 relative; everything else exactly. */
  private def same(path: String, got: Either[Long, String], want: Either[Long, String]): Boolean =
    (got, want) match {
      case (Right(Result(a)), Right(Result(b)))
          if Seq("/sum", "/mean", "/sd").exists(path.endsWith) =>
        val (x, y) = (a.toDouble, b.toDouble)
        math.abs(x - y) <= 1e-9 * math.max(math.abs(x), math.abs(y))
      case _ => got == want
    }

  private val aggs = Seq("", "/sum", "/count", "/min", "/max", "/mean", "/median", "/sd")
  private val filters = Seq("", "/filter/room/equals/hot", "/filter/room/contains/o")

  /** Every selector with random parameters: `n` in 1..5, time bounds drawn
    * from the stored timestamps (so they tie with rows) or past either end.
    */
  private def selectors(rnd: scala.util.Random, ts: IndexedSeq[Long]): Seq[String] = {
    def at() = if (ts.isEmpty || rnd.nextInt(6) == 0) Seq(0L, Long.MaxValue)(rnd.nextInt(2))
               else ts(rnd.nextInt(ts.size)) + rnd.nextInt(3) - 1
    val (a, b) = (at(), at())
    Seq("latest", "earliest", s"last/${1 + rnd.nextInt(5)}", s"first/${1 + rnd.nextInt(5)}",
      s"since/${at()}", s"range/${math.min(a, b)}/${math.max(a, b)}")
  }

  test("a tail-served GET replies as Compiler.compile + ResultCodec over TsStorage.read") {
    val rnd = new scala.util.Random(106)
    val root = freshRoot()
    var now = day0
    val clock = () => { now += 1000; now }
    def open() = new GraftEngine(spark, clock, tsStoragePath = Some(root),
      flushEveryRows = 2, maxResultRows = Cap)
    var e = open()
    // `d` is first written after the fold, so it is whole until the
    // delete; `f`, first written after the delete, is whole to the end
    var series = Seq("a", "b", "c")
    val written = mutable.ArrayBuffer.empty[Long]
    def post(series: String, at: Option[Long] = None): Unit = {
      val room = Seq("hot", "cold", "warm", "")(rnd.nextInt(4))
      // positive, so no sum cancels to a noise-sized result
      val v = BigDecimal(1 + rnd.nextInt(200000), 3)
      val payload = if (room.isEmpty) s"""{"value": $v}""" else s"""{"value": $v, "room": "$room"}"""
      val path = at.fold(s"/ts/$series")(t => s"/ts/$series/at/$t")
      assert(e.post(path, payload).isRight)
      written += at.getOrElse(now)
    }
    def postBlob(at: Option[Long] = None): Unit = {
      val path = at.fold("/ts/blob/cam")(t => s"/ts/blob/cam/at/$t")
      assert(e.post(path, s"""{"frame": ${rnd.nextInt(1000)}}""").isRight)
    }
    // writes, some at the same millisecond as an earlier one
    def burst(n: Int): Unit = (1 to n).foreach { _ =>
      val s = series(rnd.nextInt(series.size))
      if (rnd.nextInt(5) == 0 && written.nonEmpty) post(s, Some(written(rnd.nextInt(written.size))))
      else post(s)
      if (rnd.nextInt(3) == 0) postBlob()
    }

    // the full shape cross runs on one id set per step, single-series and
    // multi-series (with the empty `e`) in turn
    val idSets = Iterator.continually(Seq("a,b,c,d,e,f", "d", "a,d", "b,d,e", "f", "c,e,f")).flatten
    var (covered, uncovered, capped) = (0, 0, 0)
    def check(step: String): Unit = {
      val ts = written.toIndexedSeq
      val ids = idSets.next()
      // a random third of the shape cross is checked, and every other shape
      val paths = (for {
        sel <- selectors(rnd, ts)
        f <- filters
        g <- aggs
      } yield s"/ts/$ids/$sel$f$g").filter(_ => rnd.nextInt(3) == 0) ++
        Seq("/ts/a,b,c,d,e,f/since/0", "/ts/a/length", "/ts/a,b,c,d,e,f/length", "/ts/d/since/0",
          "/ts/d/length", "/ts/f/since/0", "/ts/f/length", "/ts/e/length", "/ts/blob/cam/length", "/ts/blob/cam,e/length") ++
        selectors(rnd, ts).flatMap(sel => Seq(s"/ts/e/$sel", s"/ts/e/$sel/count",
          s"/ts/blob/cam/$sel", s"/ts/blob/cam,e/$sel"))
      e.flush()
      val numeric = TsStorage.read(spark, root).cache()
      val blob = TsStorage.read(spark, root + "_blob").cache()
      // a GET that ran no Spark job was tail-served
      try paths.foreach { p =>
        var got: Either[Long, String] = null
        if (jobsDuring { got = reply(e.get(p)) } == 0) {
          covered += 1
          if (got.isLeft) capped += 1
        } else uncovered += 1
        val want = reference(numeric, blob, p)
        assert(same(p, got, want), s"$step: $p\n  engine: $got\n  spark:  $want")
      } finally { numeric.unpersist(); blob.unpersist() }
    }

    burst(36)
    check("unfolded")
    val wholeCovered = covered
    assert(uncovered === 0, "every series is whole before the first fold")
    // cross the 64-run bound of both tables (two rows per run)
    burst(100)
    (1 to 140).foreach(_ => postBlob())
    assert(new java.io.File(root).list().exists(_.startsWith("series_id=")), "numeric folded")
    assert(new java.io.File(root + "_blob").list().exists(_.startsWith("series_id=")), "blob folded")
    check("folded")
    series :+= "d"
    post("d")
    // late writes, older than folded rows, and ties with stored rows
    (1 to 8).foreach { _ =>
      post(series(rnd.nextInt(series.size)), Some(day0 + 1000L * rnd.nextInt(60)))
      postBlob(Some(day0 + 1000L * rnd.nextInt(60)))
    }
    burst(10)
    check("late")
    assert(e.delete(s"/ts/a/range/${day0 + 20000}/${day0 + 90000}/filter/room/equals/hot").isRight)
    assert(e.delete("/ts/b/latest").isRight)
    assert(e.delete("/ts/d/latest").isRight)
    check("deleted")
    series :+= "f"
    burst(12)
    e.flush()
    assert(new java.io.File(root + "_runs").list().exists(_.endsWith(".parquet")))
    e = open()
    check("restarted")
    burst(6)
    check("restarted+written")
    assert(wholeCovered > 0 && covered > wholeCovered && uncovered > 0,
      s"tail-served $covered (unfolded $wholeCovered), Spark $uncovered")
    assert(capped > 0, "a tail-served selection over the cap")
  }

  test("read-back GETs over unfolded runs run no Spark job; reads of a folded series do") {
    var now = day0
    val clock = () => { now += 1000; now }
    val rooms = Seq("hot", "cold")
    val e = new GraftEngine(spark, clock, tsStoragePath = Some(freshRoot()), flushEveryRows = 64)
    val sensors = (0 until 8).map(i => s"s$i")
    for (i <- 0 until 300)
      assert(e.post(s"/ts/${sensors(i % 8)}", s"""{"value": ${i % 17}.5, "room": "${rooms(i % 2)}"}""").isRight)
    val readback = Seq("/ts/s0/latest", "/ts/s1/last/5", "/ts/s2,s3,s4/length", "/ts/s5/since/0",
      "/ts/s6/since/0/mean", "/ts/s0/since/0/median", "/ts/s1/since/0/filter/room/equals/cold/count")
    readback.foreach(e.get(_)) // warm: class loading outside the count
    e.post("/ts/s7", """{"value": 1, "room": "hot"}""") // pending: the first GET flushes it
    readback.foreach(p => assert(jobsDuring(e.get(p)) === 0, p))

    // one run per row: the 64th write folds
    val f = new GraftEngine(spark, clock, tsStoragePath = Some(freshRoot()))
    for (i <- 0 until 64) assert(f.post(s"/ts/x/at/${day0 + i * 1000L}", s"""{"value": $i}""").isRight)
    var all = ""
    assert(jobsDuring { all = f.get("/ts/x/since/0/count") } >= 1)
    assert(all === """{"result": 64.0}""")
    // the tail's newest row is older than the folded ones: latest needs the layout
    assert(f.post(s"/ts/x/at/${day0 + 5000L}", """{"value": -1}""").isRight)
    var latest = ""
    assert(jobsDuring { latest = f.get("/ts/x/latest") } >= 1)
    assert(latest === s"""[{"timestamp": ${day0 + 63000L}, "data": {"value": 63}}]""")
    // a folded series stays on the Spark path, newer writes or not
    assert(f.post(s"/ts/x/at/${day0 + 70000L}", """{"value": 70}""").isRight)
    assert(jobsDuring { latest = f.get("/ts/x/latest") } >= 1)
    assert(latest === s"""[{"timestamp": ${day0 + 70000L}, "data": {"value": 70}}]""")
    // a series first written after the fold is whole
    assert(f.post(s"/ts/y/at/${day0 + 80000L}", """{"value": 80}""").isRight)
    assert(jobsDuring { latest = f.get("/ts/y/latest") } === 0)
    assert(latest === s"""[{"timestamp": ${day0 + 80000L}, "data": {"value": 80}}]""")
  }

  test("membuf: compact leaves the tail whole, so deletes and GETs stay job-free") {
    val e = new GraftEngine(spark)
    for (i <- 0 until 4) {
      assert(e.post(s"/ts/a/at/${day0 + 2000L * i}", s"""{"value": $i}""").isRight)
      assert(e.post(s"/ts/b/at/${day0 + 2000L * i + 1000}", s"""{"value": ${10 + i}}""").isRight)
    }
    e.compact()
    var out = ""
    assert(jobsDuring {
      assert(e.delete("/ts/a/latest").isRight)
      assert(e.delete(s"/ts/b/since/${day0 + 5000L}").isRight)
      out = e.get("/ts/a,b/since/0/count")
    } === 0)
    assert(out === """{"result": 5.0}""")
    assert(e.get("/ts/b/latest") === s"""[{"timestamp": ${day0 + 3000L}, "data": {"value": 11}}]""")
  }

  test("past its cap the tail evicts every series it holds; a later series is whole") {
    def row(s: String, i: Long) = TsRow(s, i, i.toDouble, Map.empty, i) // 161 bytes
    val t = new TsTail[TsRow](1700)
    (1L to 5L).foreach(i => t.add(row("a", i)))
    (6L to 10L).foreach(i => t.add(row("b", i)))
    assert(t.select(Seq("a", "b"), Length).map(_.size) === Some(10))
    t.add(row("b", 11)) // 1771 bytes
    assert(t.select(Seq("a"), Latest) === None)
    assert(t.select(Seq("b"), Since(0)) === None)
    t.add(row("c", 12))
    assert(t.select(Seq("c"), Latest) === Some(Vector(row("c", 12))))
    assert(t.select(Nil, Length) === None, "all series: some are not whole")
    assert(t.pendingCount === 12, "the pending rows still flush")

    // a restart: the layout holds `x`; runs over the cap do not fit
    assert(!new TsTail[TsRow](1700).load(Seq("x"), (1L to 20L).iterator.map(row("y", _))))
    val u = new TsTail[TsRow](1700)
    assert(u.load(Seq("x"), Iterator(row("y", 2), row("x", 3), row("y", 1))))
    assert(u.select(Seq("y"), Since(0)) === Some(Vector(row("y", 2), row("y", 1))))
    assert(u.select(Seq("x", "y"), Latest) === None)
  }
}
