package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Round-8 session-3 operators: pipeline-QA gates (profiler, PSI drift,
  * weighted sampling) — model replays plus the plan-shape requirements
  * that make each the right operator at 100 TB.
  */
class Round8cOpsSpec extends AnyFunSuite with SparkTestBase with TempDirs {

  private val sf = "/root/testdata/sf0.001"

  test("data_profile matches independently-computed per-column stats") {
    val prof = SparkEntry.queries("data_profile")(spark, sf)
      .collect().map(r => r.getString(0) -> r).toMap
    val li = Tables.lineitem(spark, sf)
    val n = li.count()
    assert(prof("l_orderkey").getLong(1) === n)
    assert(prof("l_orderkey").getLong(3) ===
      li.select("l_orderkey").distinct().count())
    assert(prof("l_quantity").getLong(3) ===
      li.select("l_quantity").distinct().count())
    val qMin = li.agg(min(round(col("l_quantity") * 100).cast("long"))).head.getLong(0)
    assert(prof("l_quantity").getLong(4) === qMin)
    assert(prof("l_returnflag").isNullAt(4) && prof("l_returnflag").isNullAt(5))
  }

  test("data_profile is ONE aggregate pass: a single scan of lineitem") {
    val plan = SparkEntry.queries("data_profile")(spark, sf)
      .queryExecution.executedPlan.toString()
    // one parquet scan feeding the multi-distinct Expand — not a union of
    // per-column scans
    assert(plan.split("Scan parquet").length - 1 === 1, plan)
  }

  test("events_psi_drift: every smoothed PSI term is non-negative, bands complete") {
    val rows = SparkEntry.queries("events_psi_drift")(spark, sf).collect()
    val byType = rows.groupBy(_.getString(0))
    byType.foreach { case (_, rs) =>
      assert(rs.map(_.getLong(1)).sorted.toSeq === (0L until 10L))
    }
    // (p-q) and ln(p/q) always share a sign, so each term >= 0 — the
    // property that makes PSI a distance
    rows.foreach(r => assert(r.getDouble(4) >= 0.0, r.toString))
  }

  test("events_psi_drift detects a planted shift") {
    val s = spark
    import s.implicits._
    // reference uniform over bands 0-1, current uniform over bands 8-9:
    // the planted-drift terms must dwarf the no-drift self-comparison
    val ref = (0 until 100).map(i => ("2024-01-10 00:00:00", "t", (i % 2) * 50.0 + 1.0))
    val cur = (0 until 100).map(i => ("2024-01-20 00:00:00", "t", 400.0 + (i % 2) * 50.0))
    val ev = (ref ++ cur).zipWithIndex.map { case ((ts, et, v), i) =>
      (i.toLong, java.sql.Timestamp.valueOf(ts), i.toLong, et, v, "{}")
    }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val tmp = tempDir("psi").toString
    ev.write.mode("overwrite").parquet(s"$tmp/events.parquet")
    val psi = SparkEntry.queries("events_psi_drift")(spark, tmp)
      .agg(sum("psi_term")).head.getDouble(0)
    assert(psi > 2.0, s"planted full shift must yield large PSI, got $psi")
  }

  test("sample_weighted equals the Efraimidis-Spirakis model top-50") {
    val got = SparkEntry.queries("sample_weighted")(spark, sf)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val docs = Tables.documents(spark, sf)
      .select("doc_id", "n_chars").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val model = docs.map { case (id, w) =>
      val u = ((id * 2654435761L + 40503L) % 1000000L + 1.0) / 1000001.0
      (math.log(u) / w, id)
    }.sortBy { case (p, id) => (-p, id) }.take(50).map(_._2).toSet
    assert(got === model)
  }

  test("sample_weighted plans as a bounded-heap TakeOrderedAndProject") {
    val plan = SparkEntry.queries("sample_weighted")(spark, sf)
      .queryExecution.executedPlan.toString()
    assert(plan.contains("TakeOrderedAndProject"), plan)
    assert(!plan.contains("Sort "), plan)
  }

  test("basket_triples: Apriori prune is lossless vs the naive 3-way join") {
    val s = spark
    import s.implicits._
    // item 'q' is frequent alone but never pairs; 'x/y/z' co-occur in 3
    // baskets; 'u/v' pair twice but never close a triple — the prune has
    // real work to do at every level
    val baskets = Seq(
      (1L, "x"), (1L, "y"), (1L, "z"), (1L, "q"),
      (2L, "x"), (2L, "y"), (2L, "z"), (2L, "u"), (2L, "v"),
      (3L, "x"), (3L, "y"), (3L, "z"),
      (4L, "q"), (4L, "u"), (4L, "v"),
      (5L, "q"), (6L, "q")
    ).toDF("bk", "it")
    val got = operators.Itemsets.frequentTriples(baskets, "bk", "it", minSup = 3L)
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2), r.getLong(3)))
    assert(got.toSeq === Seq(("x", "y", "z", 3L)))
    // naive replay
    val t = baskets.distinct()
    val brute = t.as("a").join(t.as("b"), $"a.bk" === $"b.bk" && $"a.it" < $"b.it")
      .join(t.as("c"), $"b.bk" === $"c.bk" && $"b.it" < $"c.it")
      .groupBy($"a.it", $"b.it", $"c.it").count().filter($"count" >= 3)
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2), r.getLong(3)))
    assert(got.toSet === brute.toSet)
  }

  test("basket_triples prunes through broadcast semi-joins, not shuffles") {
    val plan = SparkEntry.queries("basket_triples")(spark, sf)
      .queryExecution.executedPlan.toString()
    assert(plan.contains("BroadcastHashJoin") && plan.contains("LeftSemi"), plan)
  }

  test("dedup_containment is directional: a quote is contained, not jaccard-close") {
    val s = spark
    import s.implicits._
    val quote = "alpha beta gamma delta epsilon zeta eta theta"
    val host = quote + " " + (1 to 60).map(i => s"w$i").mkString(" ")
    val docs = Seq((1L, quote), (2L, host), (3L, "unrelated text entirely here"))
      .toDF("doc_id", "text")
    val got = operators.Dedup.containmentPairs(docs, tau = 0.9, idCap = 10L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(3)))
    // 1 -> 2: every shingle of the quote appears in the host => C = 1.0;
    // the reverse direction and the unrelated doc must not appear
    assert(got.toSeq === Seq((1L, 2L, 1.0)))
  }

  test("text_keywords rank-1 rows equal the text_tfidf top-1 gate") {
    val kw = SparkEntry.queries("text_keywords")(spark, sf)
      .filter(col("rank") === 1L).select("doc_id", "tok", "tfidf")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSet
    val t1 = SparkEntry.queries("text_tfidf")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSet
    assert(kw === t1)
  }

  test("cluster_update sums are mergeable and yield the per-cell mean") {
    val upd = SparkEntry.queries("cluster_update")(spark, sf)
    val emb = Tables.embeddings(spark, sf)
    val centers = operators.Similarity.fitCenters(emb, 16)
    val assigned = operators.Similarity.assignCellsRounded(emb, centers, dp = 4)
      .select("vec_id", "cell").join(emb, "vec_id")
    // independent replay: mean of dim 0 for one populated cell
    val row = upd.filter(col("dim") === 0L).orderBy("cell").head()
    val cell = row.getInt(0)
    val want = assigned.filter(col("cell") === cell)
      .select(round(element_at(col("embedding"), 1).cast("double") * 1e6)
        .cast("long").as("m"))
      .agg(sum("m"), count(lit(1))).head()
    assert(row.getLong(3) === want.getLong(0))
    assert(row.getLong(2) === want.getLong(1))
    // mergeability: the (sum, n) pair from two disjoint halves adds up
    val half = assigned.filter(col("vec_id") % 2 === 0)
      .filter(col("cell") === cell)
      .agg(sum(round(element_at(col("embedding"), 1).cast("double") * 1e6)
        .cast("long"))).head().getLong(0)
    val other = assigned.filter(col("vec_id") % 2 =!= 0)
      .filter(col("cell") === cell)
      .agg(sum(round(element_at(col("embedding"), 1).cast("double") * 1e6)
        .cast("long"))).head().getLong(0)
    assert(half + other === want.getLong(0))
  }

  test("ann_hardneg only returns cross-label neighbors, nearer-same-label skipped") {
    val s = spark
    import s.implicits._
    // q (label 0) has a same-label twin at sim ~1.0 and a cross-label
    // vector further away: hardneg must return the cross-label one
    val emb = Seq(
      (0L, Array(1.0f, 0.0f), 0),
      (1L, Array(0.99f, 0.01f), 0),   // same-label near-twin
      (2L, Array(0.6f, 0.8f), 1),     // cross-label, further
      (3L, Array(-1.0f, 0.0f), 1)
    ).toDF("vec_id", "embedding", "label")
    val got = operators.Similarity.hardNegatives(emb, nQueries = 1, k = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(got.toSeq === Seq((0L, 2L)))
    // gate-level invariant on real data: every neighbor's label differs
    val full = SparkEntry.queries("ann_hardneg")(spark, sf)
    val lbl = Tables.embeddings(spark, sf).select("vec_id", "label")
    val joined = full
      .join(lbl.select(col("vec_id").as("query_id"), col("label").as("ql")), "query_id")
      .join(lbl.select(col("vec_id").as("neighbor_id"), col("label").as("nl")), "neighbor_id")
    assert(joined.filter(col("ql") === col("nl")).count() === 0L)
  }

  test("mm_audio_rms windows reconcile with the whole-file wavStats decode") {
    val docs = Tables.documents(spark, sf)
    val wavs = operators.Multimodal.synthWavs(spark, docs)
    val wins = operators.Multimodal.wavWindows(spark, wavs, winSamples = 100).toDF()
      .groupBy("doc_id")
      .agg(sum("n_in_win").as("n"), sum("sum_abs").as("sa"), sum("sum_sq").as("sq"))
    val stats = operators.Multimodal.wavStats(spark, wavs).toDF()
    val j = wins.join(stats, "doc_id")
    assert(j.count() > 0)
    // n matches; sum|s| = mean_abs * n; sum s^2 = rms^2 * n (square wave:
    // all exact in doubles since mean_abs = amp and rms = amp)
    val bad = j.filter(col("n") =!= col("n_samples") ||
      abs(col("sa").cast("double") - col("mean_abs") * col("n_samples")) > 1e-6 ||
      abs(col("sq").cast("double") - col("rms") * col("rms") * col("n_samples")) > 1e-3)
    assert(bad.count() === 0L)
  }

  /** Write a synthetic events.parquet with one row per (series, hour):
    * value = f(hour). Returns the table dir for gate functions.
    */
  private def plantHourly(name: String, hours: Int, series: Seq[String],
                          f: (String, Int) => Double): String = {
    val s = spark
    import s.implicits._
    val rows = for { et <- series; h <- 0 until hours } yield
      ((et.hashCode.toLong * 10000 + h), new java.sql.Timestamp(h * 3600000L),
        1L, et, f(et, h), "{}")
    val tmp = tempDir(name).toString
    rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$tmp/events.parquet")
    tmp
  }

  test("ts_trend_robust: Theil-Sen shrugs off planted outliers that drag the mean") {
    // linear 1.00/hour with wild spikes clustered EARLY: the median
    // pairwise slope must stay at 100 cents/hour while OLS, levered by
    // the early outliers, lands far below it
    val dir = plantHourly("theil", 240, Seq("purchase"),
      (_, h) => if (h < 30 && h % 4 == 0) 1.0 * h + 500.0 else 1.0 * h)
    val r = SparkEntry.queries("ts_trend_robust")(spark, dir).head()
    assert(math.abs(r.getDouble(2) - 100.0) < 0.5, r.toString)
    val hourly = graft.model.TsModel.ts(spark, dir)
      .select(expr("t div 3600000").as("h"),
        round(col("value") * 100).cast("long").as("c"))
      .groupBy("h").agg(sum("c").as("v"))
    val ols = hourly.agg(
      (covar_samp(col("h").cast("double"), col("v").cast("double")) /
        var_samp(col("h").cast("double"))).as("b")).head().getDouble(0)
    assert(ols < 90.0, s"early outliers should drag OLS well below 100, got $ols")
  }

  test("ts_seasonal_anomaly: a routine nightly spike is normal, a daytime one is not") {
    // 2am is loud EVERY day (so it's this series' normal); day 5's 14:00
    // carries the one true anomaly. Small per-hour jitter keeps sd > 0.
    // 20 days so the spike's own leave-in effect on its hod profile
    // can't hide it (with few days the spike inflates its own sd).
    val dir = plantHourly("seas", 24 * 20, Seq("purchase"), { (_, h) =>
      val hod = h % 24
      val base = if (hod == 2) 400.0 else 50.0
      val jitter = (h % 7).toDouble
      if (h == 24 * 5 + 14) 500.0 else base + jitter
    })
    val out = SparkEntry.queries("ts_seasonal_anomaly")(spark, dir)
      .filter(col("anomaly")).select("h").collect().map(_.getLong(0)).toSet
    assert(out.contains(24L * 5 + 14), s"daytime spike must flag, got $out")
    assert(!out.exists(h => h % 24 == 2), s"routine 2am spikes must not flag: $out")
  }

  test("ts_acf_multi: a 24h-periodic series peaks at lag 24, dips at lag 12") {
    val dir = plantHourly("acf", 24 * 14, Seq("purchase"), { (_, h) =>
      val hod = h % 24
      (if (hod < 12) 100.0 else 200.0) + (h % 5).toDouble * 0.01
    })
    val acf = SparkEntry.queries("ts_acf_multi")(spark, dir)
      .collect().map(r => r.getLong(1) -> r.getDouble(3)).toMap
    assert(acf(24L) > 0.9, acf.toString)
    assert(acf(12L) < 0.0, acf.toString)
  }

  test("rankBucketedBy matches the direct per-group window on random input") {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(11)
    val rows = (0 until 500).map(i =>
      ("g" + rnd.nextInt(4), rnd.nextInt(40).toLong, i.toLong))
    val df = rows.toDF("g", "m", "id")
    val got = operators.Sessionize.rankBucketedBy(df, col("g"), col("m"),
        col("id"), expr("m div 7"), "rk")
      .select("g", "id", "rk").collect()
      .map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    val w = Window.partitionBy("g").orderBy(col("m").asc, col("id").asc)
    val want = df.withColumn("rk", row_number().over(w).cast("long"))
      .select("g", "id", "rk").collect()
      .map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(got === want)
  }

  test("sample_quantile_norm: per-source pct spans [0, 1] and is monotone in length") {
    val out = SparkEntry.queries("sample_quantile_norm")(spark, sf)
    val span = out.groupBy("source")
      .agg(min("pct").as("lo"), max("pct").as("hi")).collect()
    span.foreach { r =>
      assert(r.getDouble(1) === 0.0 && r.getDouble(2) === 1.0, r.toString)
    }
    // monotone: a longer doc never gets a smaller pct within its source
    val viol = out.as("a").join(out.as("b"),
      col("a.source") === col("b.source") &&
        col("a.n_chars") < col("b.n_chars") && col("a.pct") > col("b.pct"))
    assert(viol.count() === 0L)
  }

  test("user_ltv_cohort: ages non-negative, revenue reconciles, week-0 holds first touches") {
    // fields by NAME: the live body is the r10 one (adds n_purchases);
    // positional reads were how the shadowed-duplicate defect hid
    val out = SparkEntry.queries("user_ltv_cohort")(spark, sf).collect()
    assert(out.forall(r => r.getLong(r.fieldIndex("age_weeks")) >= 0L))
    val total = out.map(r => r.getLong(r.fieldIndex("revenue_cents"))).sum
    val ev = Tables.events(spark, sf)
    val direct = ev.filter(col("event_type") === "purchase")
      .agg(sum(round(col("value") * 100).cast("long"))).head.getLong(0)
    assert(total === direct)
  }

  test("data_integrity counts planted orphans exactly") {
    val s = spark
    import s.implicits._
    val tmp = tempDir("integ").toString
    Seq((1L, 10L, 100L), (2L, 10L, 100L), (3L, 99L, 100L), (4L, 10L, 777L))
      .toDF("l_linenumber", "l_orderkey", "l_partkey")
      .withColumn("l_orderkey", col("l_orderkey")).write.parquet(s"$tmp/lineitem.parquet")
    Seq((10L, 5L), (11L, 44L)).toDF("o_orderkey", "o_custkey")
      .write.parquet(s"$tmp/orders.parquet")
    Seq(Tuple1(100L)).toDF("p_partkey").write.parquet(s"$tmp/part.parquet")
    Seq(Tuple1(5L)).toDF("c_custkey").write.parquet(s"$tmp/customer.parquet")
    val got = SparkEntry.queries("data_integrity")(spark, tmp)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(got("lineitem->orders") === ((1L, 4L)))  // orderkey 99
    assert(got("lineitem->part") === ((1L, 4L)))    // partkey 777
    assert(got("orders->customer") === ((1L, 2L)))  // custkey 44
  }

  test("sample_weighted favors heavy docs: selection probability rises with weight") {
    // with w = n_chars, the top-50 should over-represent long docs vs a
    // uniform draw — compare mean weight of selected vs corpus mean
    val sel = SparkEntry.queries("sample_weighted")(spark, sf)
      .agg(avg("n_chars")).head.getDouble(0)
    val all = Tables.documents(spark, sf).agg(avg("n_chars")).head.getDouble(0)
    assert(sel > all, s"selected mean $sel should exceed corpus mean $all")
  }
}
