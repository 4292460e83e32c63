package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.{SetSimilarity, TextFunctions}
import graft.operators.Dedup

/** Round-5 rewrites replaced three gate plans with scale-safe forms (no
  * per-type single-task ntile sort, no collect_list of a user's history,
  * no per-user quadratic band join). These parity tests pin each rewrite
  * to the straightforward formulation it replaced — the rewrites must be
  * pure plan changes, bit-identical in output, at more than one SF.
  */
class RewriteParitySpec extends AnyFunSuite with SparkTestBase with TempDirs {

  private val dirs = Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01")

  private def assertSameRows(a: DataFrame, b: DataFrame): Unit = {
    val cols = a.columns.sorted.map(col(_))
    val l = a.select(cols: _*).collect().map(_.toString).sorted
    val r = b.select(cols: _*).collect().map(_.toString).sorted
    assert(l.length === r.length)
    assert(l.sameElements(r), l.zip(r).find { case (x, y) => x != y })
  }

  test("events_decile boundary-then-assign == ntile over raw rows") {
    for (d <- dirs) {
      val raw = Tables.events(spark, d)
      val w = Window.partitionBy("event_type")
        .orderBy(col("value").asc, col("event_id").asc)
      val direct = raw.select(col("event_type"), col("value"), col("event_id"))
        .withColumn("decile", ntile(10).over(w).cast("long"))
        .groupBy("event_type", "decile")
        .agg(count(lit(1)).as("n"), round(min("value"), 2).as("lo"),
          round(max("value"), 2).as("hi"))
      assertSameRows(SparkEntry.queries("events_decile")(spark, d), direct)
    }
  }

  test("user_path_topk lead-window trigrams == collect_list trigrams") {
    for (d <- dirs) {
      val raw = Tables.events(spark, d)
      val direct = raw
        .select(col("user_id"), graft.model.TimeCols.millis(raw, "ts").as("t"),
          col("event_id"), col("event_type"))
        .groupBy("user_id")
        .agg(sort_array(collect_list(struct(col("t"), col("event_id"),
          col("event_type")))).as("s"))
        .select(expr("transform(s, x -> x.event_type)").as("types"))
        .filter(size(col("types")) >= 3)
        .select(explode(expr(
          "transform(sequence(0, size(types) - 3), " +
          "i -> concat_ws('>', types[i], types[i+1], types[i+2]))")).as("path"))
        .groupBy("path").agg(count(lit(1)).as("c"))
        .orderBy(col("c").desc, col("path").asc)
        .limit(20)
      assertSameRows(SparkEntry.queries("user_path_topk")(spark, d), direct)
    }
  }

  test("pack_sequences bucketed prefix-sum == global-window running pack") {
    for (d <- dirs) {
      val direct = graft.operators.Packing.contiguousPack(
        Tables.documents(spark, d), budgetTokens = 2048L,
        tokensCol = graft.functions.TextFunctions.tokenCount(col("text")))
      assertSameRows(SparkEntry.queries("pack_sequences")(spark, d), direct)
    }
  }

  test("user_transitions bucketed-carry lag == direct per-user lag window") {
    for (d <- dirs) {
      val ev = Tables.events(spark, d)
      val w = Window.partitionBy("user_id").orderBy(col("t").asc, col("event_id").asc)
      val direct = ev.select(col("user_id"), col("event_id"),
          graft.model.TimeCols.millis(ev, "ts").as("t"), col("event_type"))
        .select(col("user_id"), col("event_type").as("to_type"),
          lag("event_type", 1).over(w).as("from_type"))
        .filter(col("from_type").isNotNull)
        .groupBy("from_type", "to_type")
        .agg(count(lit(1)).as("n"))
      assertSameRows(SparkEntry.queries("user_transitions")(spark, d), direct)
    }
  }

  test("events_interval_join as-of containment == direct sessions x points range join") {
    for (d <- dirs) {
      val ev = Tables.events(spark, d)
      val base = ev.select(col("user_id"), graft.model.TimeCols.millis(ev, "ts").as("t"),
        col("value"), col("event_id"), col("event_type"))
      val win = graft.operators.Sessionize.sessions(
          base.select("user_id", "t", "value", "event_id"), gapMs = 3600000L)
        .select(col("user_id").as("w_uid"), col("session_id"),
          col("t_start"), col("t_end"))
      val direct = base.filter(col("event_type") === "purchase")
        .join(win, col("user_id") === col("w_uid") &&
          col("t").between(col("t_start"), col("t_end")))
        .groupBy("user_id", "session_id")
        .agg(count(lit(1)).as("n_purchases"),
          round(sum("value"), 4).as("purchase_value"))
      assertSameRows(SparkEntry.queries("events_interval_join")(spark, d), direct)
    }
  }

  test("ts_lttb invariants: endpoints kept, exactly one point per interior bucket") {
    for (d <- dirs) {
      val src = graft.model.TsModel.ts(spark, d)
        .select("series_id", "t", "value", "event_id")
      val out = SparkEntry.queries("ts_lttb")(spark, d)
      val w = Window.partitionBy("series_id").orderBy(col("t").asc, col("event_id").asc)
      val ranked = src.withColumn("rn", row_number().over(w))
        .withColumn("n", count(lit(1)).over(Window.partitionBy("series_id")))
      // per series: output = min(n, 50) points, all drawn from the input
      val sizes = out.groupBy("series_id").count()
        .join(ranked.groupBy("series_id").agg(max("n").as("n")), "series_id")
        .collect()
      assert(sizes.nonEmpty)
      sizes.foreach { r =>
        assert(r.getAs[Long]("count") === math.min(r.getAs[Long]("n"), 50L), r)
      }
      // endpoints always survive
      val eps = ranked.filter(col("rn") === 1 || col("rn") === col("n"))
        .select("series_id", "event_id")
      assert(eps.join(out, Seq("series_id", "event_id"), "left_anti").count() === 0)
      // every output row is a real input row (same (series, event_id, t, value))
      assert(out.join(src, Seq("series_id", "t", "value", "event_id"), "left_anti")
        .count() === 0)
    }
  }

  test("sampler boundary-bucket selection == row_number window over raw rows") {
    for (d <- dirs) {
      val docs = Tables.documents(spark, d)
      val bucket = pmod(col("doc_id") * lit(2654435761L), lit(4294967296L)) % 1000
      val ranked = docs.select(col("doc_id"), col("source"), bucket.as("bucket"))
        .withColumn("rn", row_number().over(
          Window.partitionBy("source").orderBy(col("bucket").asc, col("doc_id").asc)))
      val counts = docs.groupBy("source").agg(count(lit(1)).as("c"))
      // balance: flat quota = ceil(0.6 * min source count)
      val quota = counts.agg(ceil(lit(0.6) * min("c")).cast("long").as("q"))
      val directBal = ranked.crossJoin(broadcast(quota))
        .filter(col("rn") <= col("q")).select("doc_id", "source")
      assertSameRows(SparkEntry.queries("sample_balance")(spark, d), directBal)
      // temperature: c^0.5 per-source quotas
      val denom = counts
        .agg(sort_array(collect_list(struct(col("source"), sqrt(col("c")).as("w")))).as("ws"))
        .select(expr("aggregate(ws, CAST(0.0 AS DOUBLE), (acc, x) -> acc + x.w)")
          .as("denom"))
      val quotas = counts.crossJoin(broadcast(denom))
        .select(col("source").as("qs"),
          floor(sqrt(col("c")) / col("denom") * 300 + 0.5).cast("long").as("q"))
      val directTemp = ranked.join(broadcast(quotas), col("source") === col("qs"))
        .filter(col("rn") <= col("q")).select("doc_id", "source")
      assertSameRows(SparkEntry.queries("sample_temperature")(spark, d), directTemp)
    }
  }

  test("exact dedup hash-keyed run check == partition-by-text window") {
    for (d <- dirs) {
      val docs = Tables.documents(spark, d)
      val w = Window.partitionBy("text").orderBy("doc_id")
      val direct = docs.withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1).select("doc_id", "text")
      assertSameRows(SparkEntry.queries("dedup_exact")(spark, d), direct)
    }
  }

  test("min_by argmin aggregations == window-rank forms (cluster_assign, dedup_canonical)") {
    for (d <- dirs) {
      // cluster_assign: medoid by (d, vec_id) struct-min vs row_number
      val emb = Tables.embeddings(spark, d)
      val centers = graft.operators.Similarity.fitCenters(emb, 16)
      val a = graft.operators.Similarity.assignCellsRounded(emb, centers, dp = 4)
      val directCells = a
        .withColumn("n", count(lit(1)).over(Window.partitionBy("cell")))
        .withColumn("rn", row_number().over(
          Window.partitionBy("cell").orderBy(col("d").asc, col("vec_id").asc)))
        .filter(col("rn") === 1)
        .select(col("cell"), col("n"), col("vec_id").as("medoid"))
      assertSameRows(SparkEntry.queries("cluster_assign")(spark, d), directCells)
      // dedup_canonical: keeper by (q desc, doc_id asc) vs row_number —
      // the ONE docQuality definition is reused, this test pins only the
      // argmin rewrite, not the formula
      val docs = Tables.documents(spark, d)
      val comps = graft.operators.Dedup.connectedComponents(
        graft.operators.Dedup.jaccardPairs(docs, tau = 0.8, idCap = 500L))
      val q = SparkEntry.docQuality
      val wC = Window.partitionBy("component")
      val directCanon = comps.join(docs.select(col("doc_id"), q.as("q")), "doc_id")
        .withColumn("rn", row_number().over(wC.orderBy(col("q").desc, col("doc_id").asc)))
        .withColumn("n_members", count(lit(1)).over(wC))
        .filter(col("rn") === 1)
        .select(col("component"), col("doc_id").as("keep_id"),
          col("n_members"), col("q").as("quality"))
      assertSameRows(SparkEntry.queries("dedup_canonical")(spark, d), directCanon)
    }
  }

  test("ANN bounded-heap top-k == window-rank top-k (IVF and brute force)") {
    for (d <- dirs) {
      val emb = Tables.embeddings(spark, d)
      val sim = round(graft.functions.VectorFunctions.cosine(col("qv"), col("v")), 6)
      val w = Window.partitionBy("query_id")
        .orderBy(col("sim").desc, col("neighbor_id").asc)
      val (celled, probes) = graft.operators.Similarity.ivfParts(emb, nQueries = 5)
      val directIvf = celled.join(broadcast(probes),
          celled("cell") === probes("cell") && col("vec_id") =!= col("query_id"))
        .select(col("query_id"), col("vec_id").as("neighbor_id"), sim.as("sim"))
        .withColumn("rn", row_number().over(w)).filter(col("rn") <= 5).drop("rn")
      assertSameRows(SparkEntry.queries("ann_ivf")(spark, d), directIvf)
      // brute force: same heap machinery, broadcast-query corpus scan
      val e = emb.select(col("vec_id"),
        graft.functions.VectorFunctions.asDouble(col("embedding")).as("v"))
      val q = e.filter(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"), col("v").as("qv"))
      val directBrute = e.join(broadcast(q), col("vec_id") =!= col("query_id"))
        .select(col("query_id"), col("vec_id").as("neighbor_id"), sim.as("sim"))
        .withColumn("rn", row_number().over(w)).filter(col("rn") <= 5).drop("rn")
      assertSameRows(SparkEntry.queries("ann_topk")(spark, d), directBrute)
      // indexed-IVF parity with the in-memory form is pinned in IvfSpec
    }
  }

  test("events_near_join bucketed band join == direct per-user band join") {
    for (d <- dirs) {
      val raw = Tables.events(spark, d)
      val ev = raw.select(col("user_id"), col("event_id"), col("event_type"),
        graft.model.TimeCols.millis(raw, "ts").as("t"))
      val errs = ev.filter(col("event_type") === "error")
        .select(col("user_id").as("e_uid"), col("event_id").as("err_id"),
          col("t").as("err_t"))
      val clicks = ev.filter(col("event_type") === "click")
      val direct = errs.join(clicks,
          col("e_uid") === col("user_id") &&
          col("t") >= col("err_t") - 60000L && col("t") <= col("err_t") + 60000L,
          "left_outer")
        .groupBy(col("err_id"))
        .agg(count(col("event_id")).as("n_near_clicks"))
      assertSameRows(SparkEntry.queries("events_near_join")(spark, d), direct)
    }
  }

  /** The explode/groupBy BM25 that `bm25Top100` replaced: one row per
    * (doc, query term) occurrence, grouped to tf, regrouped to df. */
  private def bm25Reference(d: String): DataFrame = {
    val docs = Tables.documents(spark, d)
    val terms = Seq("join", "scan", "filter")
    val stats = docs.agg(
      count(lit(1)).cast("double").as("n_docs"),
      (sum(TextFunctions.tokenCount(col("text"))).cast("double") /
        count(lit(1)).cast("double")).as("avgdl"))
    val toks = docs
      .select(col("doc_id"), TextFunctions.tokens(col("text")).as("arr"))
      .select(col("doc_id"), size(col("arr")).cast("long").as("dl"),
        explode(col("arr")).as("tok"))
      .filter(col("tok").isInCollection(terms))
    val tf = toks.groupBy("doc_id", "tok", "dl").agg(count(lit(1)).as("tf"))
    val dfq = tf.groupBy("tok").agg(count(lit(1)).as("df"))
    val idf = log((col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5)) + lit(1.0))
    val denom = col("tf") + lit(1.2) * (lit(0.25) + lit(0.75) * col("dl") / col("avgdl"))
    val scoreMicros = round(col("idf") * (col("tf") * lit(2.2)) / denom * lit(1000000.0), 0)
      .cast("long")
    tf.join(broadcast(dfq), "tok").crossJoin(broadcast(stats))
      .withColumn("idf", idf)
      .select(col("doc_id"), scoreMicros.as("m"))
      .groupBy("doc_id").agg(sum("m").as("bm25_micros"))
      .orderBy(col("bm25_micros").desc, col("doc_id").asc)
      .limit(100)
  }

  test("one-pass bm25Top100 == explode/groupBy BM25 (testdata, bench fixture, crafted corpus)") {
    val fixture = tempDir("graft-bm25-fixture").getAbsolutePath
    BenchPinned.writeFixture(spark, fixture)
    // no query term, repeated terms, empty and null text, a doc of only
    // query terms, and 5 matching docs: far fewer than 100
    val crafted = tempDir("graft-bm25-crafted").getAbsolutePath
    val s = spark
    import s.implicits._
    Seq[(Long, String)]((1L, "a plain row with none of them"), (2L, "join join join scan"),
      (3L, ""), (4L, null), (5L, "Filter the scan, then JOIN"), (6L, "  scan  "),
      (7L, "join scan filter"), (8L, "filtered joins scanning"), (9L, "join"),
      (10L, "the quick brown fox"))
      .toDF("doc_id", "text").write.parquet(s"$crafted/documents.parquet")
    for (d <- dirs :+ fixture :+ crafted) {
      val got = SparkEntry.bm25Top100(spark, d)
      assertSameRows(got, bm25Reference(d))
      assert(got.count() > 0, d)
    }
    assert(SparkEntry.bm25Top100(spark, crafted).count() === 5)
  }

  test("jaccardPairs (cheap-first join condition) == filter-after-join Jaccard pairs") {
    for (d <- dirs; tau <- Seq(0.05, 0.5, 0.8)) {
      val t = Tables.documents(spark, d).filter(col("doc_id") < 500L)
        .select(col("doc_id"), array_sort(TextFunctions.distinctTokens(col("text"))).as("toks"))
        .withColumn("sz", size(col("toks")))
      val reference = t.as("a").join(t.as("b"), col("a.doc_id") < col("b.doc_id") &&
          Dedup.sizeFilter(tau, col("a.sz"), col("b.sz")))
        .withColumn("jac", SetSimilarity.jaccard_sorted(col("a.toks"), col("b.toks")))
        .filter(col("jac") >= tau)
        .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"),
          round(col("jac"), 6).as("jaccard"))
      val got = Dedup.jaccardPairs(Tables.documents(spark, d), tau, idCap = 500L)
      assertSameRows(got, reference)
      assert(got.count() > 0, s"$d tau=$tau")
    }
  }

  test("jaccardPairs: the nested-loop join tests jaccard_sorted after doc_id < and the size filter") {
    import org.apache.spark.sql.catalyst.expressions.{And, Attribute, Expression,
      GreaterThanOrEqual, Least, LessThan}
    import org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec
    def conjuncts(e: Expression): Seq[Expression] = e match {
      case And(l, r) => conjuncts(l) ++ conjuncts(r)
      case other => Seq(other)
    }
    val plan = Dedup.jaccardPairs(Tables.documents(spark, dirs.last), tau = 0.8, idCap = 500L)
      .queryExecution.sparkPlan
    val joins = plan.collect { case j: BroadcastNestedLoopJoinExec => j }
    assert(joins.size === 1, plan.treeString)
    val cs = conjuncts(joins.head.condition.get)
    def isJaccard(e: Expression) = e.exists(_.prettyName == "jaccard_sorted")
    def isIdOrder(e: Expression) = e match {
      case LessThan(l: Attribute, r: Attribute) => l.name == "doc_id" && r.name == "doc_id"
      case _ => false
    }
    def isSizeFilter(e: Expression) = e match {
      case GreaterThanOrEqual(l, _) => l.exists(_.isInstanceOf[Least])
      case _ => false
    }
    assert(cs.size === 3, cs)
    assert(isIdOrder(cs(0)) && isSizeFilter(cs(1)) && isJaccard(cs(2)), cs)
  }
}
