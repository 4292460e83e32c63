package graft

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.TimeRange
import graft.sources.{Commit, KvStorage, TsStorage}

/** The one commit protocol ([[graft.sources.Commit]]) killed at each of
  * its steps, for every change that runs through it — the TS fold, the TS
  * delete (with a partition that keeps survivors and partitions it
  * empties), the TS compact and the KV compact — and then met by a
  * reader, a writer, or a fresh engine:
  *  - killed before the commit point (`staged`) the store shows exactly
  *    the pre-commit rows; killed at or after it, exactly the post-commit
  *    rows;
  *  - a clean retry of the change then ends at the post-commit rows with
  *    no manifest, no stage dir and no empty partition dir left;
  *  - a fresh engine resumes event ids past the stored maximum and serves
  *    every committed row.
  */
class CommitCrashSpec extends AnyFunSuite with SparkTestBase with TempDirs {

  private val day0 = 1704067200000L // 2024-01-01
  private val hour = 3600000L

  // the engine's layout under one dir: the TS table and the json KV log
  private def tsRoot(dir: String) = s"$dir/ts"
  private def kvRoot(dir: String) = s"$dir/ts_kv_json"

  /** A store's rows as sorted strings, and its event ids. */
  private final case class View(rows: Seq[String], ids: Seq[Long])

  private def view(df: DataFrame, cols: String*): View = {
    val rows = df.select(cols.head, cols.tail: _*).collect()
    View(rows.map(_.toString).sorted.toSeq, rows.map(_.getAs[Long]("event_id")).sorted.toSeq)
  }

  /** 8 rows: series a over two days, b over one, c one row on day 1. */
  private val tsRows = Seq(
    ("a", day0, 1.0), ("a", day0 + hour, 2.0), ("a", day0 + 2 * hour, 3.0),
    ("a", day0 + 24 * hour, 4.0), ("a", day0 + 25 * hour, 5.0),
    ("b", day0, 6.0), ("b", day0 + hour, 7.0), ("c", day0 + 27 * hour, 8.0)
  ).zipWithIndex.map { case ((s, t, v), i) => (s, t, v, Map("k" -> s"v$i"), i + 1L) }

  /** `rows` as `n` flush runs. */
  private def runs(root: String, rows: Seq[(String, Long, Double, Map[String, String], Long)],
                   n: Int): Unit =
    rows.grouped(math.ceil(rows.size.toDouble / n).toInt).foreach(b => TsStorage.append(tsFrame(b), root))

  private def fold(root: String): Unit = TsStorage.compact(spark, root, Int.MaxValue)

  private def kvAppend(root: String, rows: (String, String, String, Long, Long, Boolean)*): Unit = {
    val s = spark
    import s.implicits._
    KvStorage.append(rows.toDF("id", "key", "value", "write_ts", "event_id", "deleted"), root)
  }

  /** One change that commits through [[Commit]]: `setup` builds its store
    * under a fresh dir, `change` runs it, `read` is a reader's view of the
    * store at a root, `extra` a writer's append (event id 100) that no
    * change touches, `served` the rows a fresh engine over the dir serves
    * and `write` one write through that engine.
    */
  private final case class Kind(name: String, root: String => String,
                                setup: String => Unit, change: String => Unit,
                                read: String => View, extra: String => Unit,
                                served: (GraftEngine, String) => View,
                                write: GraftEngine => Unit)

  private def tsView(root: String) =
    view(TsStorage.read(spark, root), "series_id", "t", "value", "event_id")

  private def tsKind(name: String, setup: String => Unit, change: String => Unit) =
    Kind(name, tsRoot, setup, change, tsView,
      root => TsStorage.append(tsFrame(Seq(("x", day0 + 5 * hour, 42.0, Map.empty[String, String], 100L))), root),
      (e, dir) => {
        val v = tsView(tsRoot(dir))
        assert(e.get("/ts/a,b,c,x/length") === s"""{"length": ${v.rows.size}}""")
        v
      },
      e => assert(e.post(s"/ts/x/at/${day0 + 5 * hour}", """{"value": 42}""").isRight))

  private val kvCols = Seq("id", "key", "value", "write_ts", "event_id", "deleted")

  private val kinds = Seq(
    tsKind("fold", dir => runs(tsRoot(dir), tsRows, 4), dir => fold(tsRoot(dir))),
    // a/day 0 keeps a survivor; a/day 1 and c's only partition empty
    tsKind("delete", dir => { runs(tsRoot(dir), tsRows, 4); fold(tsRoot(dir)) },
      dir => TsStorage.delete(spark, tsRoot(dir), Seq("a", "c"),
        TimeRange(day0 + hour, day0 + 47 * hour), None)),
    // two folds: each partition with rows in both halves holds two files
    tsKind("compact", dir => {
      val (even, odd) = tsRows.partition(_._5 % 2 == 0)
      runs(tsRoot(dir), even, 2); fold(tsRoot(dir))
      runs(tsRoot(dir), odd, 2); fold(tsRoot(dir))
    }, dir => TsStorage.compact(spark, tsRoot(dir), 1)),
    Kind("kv-compact", kvRoot,
      dir => {
        val p = kvRoot(dir)
        kvAppend(p, ("d", "k1", "v1", 1L, 1L, false), ("d", "k2", "x", 2L, 2L, false))
        kvAppend(p, ("d", "k1", "v2", 3L, 3L, false), ("d", "k2", "", 4L, 4L, true))
        kvAppend(p, ("e", "k", "y", 5L, 5L, false))
      },
      dir => KvStorage.compact(spark, kvRoot(dir)),
      root => view(KvStorage.read(spark, root), kvCols: _*),
      root => kvAppend(root, ("z", "k", "new", 9L, 100L, false)),
      (e, _) => view(e.kvLog("json"), kvCols: _*),
      e => e.kvWrite("json", "z", "k", "new"))
  )

  /** Where a crash lands: the `n`th firing of `step` (-1: its last). */
  private final case class Step(label: String, step: String, n: Int)
  private val steps = Seq(Step("staged", "staged", 1), Step("committed", "committed", 1),
    Step("first add", "added", 1), Step("last add", "added", -1),
    Step("applied", "applied", 1))

  /** Run `change` with a crash injected at `at`; the manifest tells how
    * many adds the commit holds.
    */
  private def crash(root: String, at: Step)(change: => Unit): Unit = {
    var fired = 0
    var adds = 0
    Commit.onStep = { s =>
      if (s == "committed") adds = manifestLines(root).count(_.startsWith("A "))
      if (s == at.step) {
        fired += 1
        if (fired == (if (at.n == -1) adds else at.n)) throw new RuntimeException(s"kill@${at.label}")
      }
    }
    try {
      val e = intercept[RuntimeException](change)
      assert(e.getMessage === s"kill@${at.label}")
    } finally Commit.onStep = _ => ()
  }

  private def manifestLines(root: String): Seq[String] = {
    val f = new java.io.File(root + "_commit")
    if (!f.exists()) Nil
    else new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8").split("\n").toSeq
  }

  /** Empty `series_id=` or `day=` dirs under the root. */
  private def emptyDirs(root: String): Seq[String] = {
    def walk(d: java.io.File): Seq[java.io.File] =
      Option(d.listFiles).toSeq.flatten.filter(_.isDirectory).flatMap(c => c +: walk(c))
    walk(new java.io.File(root))
      .filter(d => d.getName.startsWith("series_id=") || d.getName.startsWith("day="))
      .filter(d => d.list().forall(n => n.startsWith(".") || n.startsWith("_")))
      .map(_.getPath)
  }

  private def settled(root: String, what: String): Unit = {
    assert(!new java.io.File(root + "_commit").exists(), s"$what: manifest left")
    assert(!new java.io.File(root + "_stage").exists(), s"$what: stage dir left")
    assert(emptyDirs(root).isEmpty, s"$what: empty partition dirs ${emptyDirs(root)}")
  }

  /** The pre- and post-commit views of a kind, from one clean run. */
  private val cleanRuns = scala.collection.mutable.Map.empty[String, (View, View)]
  private def expected(k: Kind): (View, View) = cleanRuns.getOrElseUpdate(k.name, {
    val dir = tempDir(s"commit-${k.name}").getAbsolutePath
    k.setup(dir)
    val pre = k.read(k.root(dir))
    k.change(dir)
    val post = k.read(k.root(dir))
    settled(k.root(dir), s"${k.name} clean")
    (pre, post)
  })

  for (k <- kinds; at <- steps; mode <- Seq("reader", "writer", "fresh engine")) {
    val sees = if (at.step == "staged") "pre" else "post"
    test(s"${k.name} killed at ${at.label}, then a $mode: $sees-commit rows") {
      val (pre, post) = expected(k)
      val want = if (at.step == "staged") pre else post
      val dir = tempDir(s"commit-${k.name}").getAbsolutePath
      val root = k.root(dir)
      k.setup(dir)
      crash(root, at)(k.change(dir))
      val what = s"${k.name}@${at.label}/$mode"
      assert(manifestLines(root).nonEmpty === (at.step != "staged"), what)
      // the id a write after the crash takes: a writer's own, or the
      // engine's next, past the stored maximum
      val written: Option[Long] = mode match {
        case "reader" =>
          assert(k.read(root) === want, what)
          None
        case "writer" =>
          // the writer's append lands beside exactly the pre- or
          // post-commit rows, never beside a half-applied commit
          k.extra(root)
          val got = k.read(root)
          assert(got.ids === (want.ids :+ 100L).sorted, what)
          assert(want.rows.toSet.subsetOf(got.rows.toSet), what)
          Some(100L)
        case _ =>
          var now = 1700000000000L
          val e = new GraftEngine(spark, () => { now += 1; now }, tsStoragePath = Some(tsRoot(dir)))
          assert(k.served(e, dir) === want, what)
          k.write(e)
          val next = want.ids.max + 1
          assert(k.read(root).ids === (want.ids :+ next).sorted, what)
          Some(next)
      }
      // a clean retry ends at the post-commit rows, fully settled
      k.change(dir)
      val after = k.read(root)
      assert(after.ids === (post.ids ++ written).sorted, what)
      if (written.isEmpty) assert(after === post, what)
      settled(root, what)
    }
  }

  test("a reader's repair inside the writer's apply ends in the same state") {
    // the writer's first add is where a concurrent reader's repair finds
    // the manifest: it applies the whole commit, and the writer then
    // carries on over files already moved, retired and removed
    val k = kinds.find(_.name == "delete").get
    val dir = tempDir("commit-race").getAbsolutePath
    val root = k.root(dir)
    k.setup(dir)
    var fired = 0
    Commit.onStep = { s =>
      if (s == "added" && fired == 0) {
        fired += 1
        assert(k.read(root) === expected(k)._2)
        assert(manifestLines(root).isEmpty)
      }
    }
    try k.change(dir) finally Commit.onStep = _ => ()
    assert(fired === 1)
    assert(k.read(root) === expected(k)._2)
    settled(root, "race")
  }

  test("an engine refuses a store the previous crash protocols left mid-commit") {
    val dir = tempDir("commit-legacy").getAbsolutePath
    kinds.find(_.name == "delete").get.setup(dir)
    val ts = tsRoot(dir)
    for (leftover <- Seq(s"${ts}_fold_manifest", s"${ts}_delete_manifest", s"${ts}_delete_old",
                         s"${ts}_blob_delete_old", s"${kvRoot(dir)}_compacting", s"${kvRoot(dir)}_old")) {
      val f = new java.io.File(leftover)
      assert(f.mkdirs())
      val e = intercept[java.io.IOException](new GraftEngine(spark, tsStoragePath = Some(ts)))
      assert(e.getMessage.contains(leftover), leftover)
      org.apache.commons.io.FileUtils.deleteQuietly(f)
    }
    // with no leftover the store opens and serves every row
    val e = new GraftEngine(spark, tsStoragePath = Some(ts))
    assert(e.get("/ts/a,b,c/length") === s"""{"length": ${tsRows.size}}""")
  }
}
