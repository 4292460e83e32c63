package graft

import org.scalatest.funsuite.AnyFunSuite

/** Plan-shape tripwires for the round-3 gates: these assert the properties
  * that make the queries scale (pushdown reaching the scan, dimension
  * sides broadcast, bounded exchange counts), so a refactor that silently
  * regresses one — e.g. re-introducing a lambda-inlined tokenizer or
  * un-broadcasting a dimension — fails a test instead of a bench run.
  */
class PlanShapeSpec extends AnyFunSuite with SparkTestBase {

  private val d = "/root/testdata/sf0.001"

  private def plan(name: String): String = {
    // default metadata truncation (100 chars) cuts PushedFilters mid-list;
    // set it only for the duration of this plan render and restore after, so
    // the shared test session's config doesn't leak into concurrent suites.
    val key = "spark.sql.maxMetadataStringLength"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "2000")
    try SparkEntry.queries(name)(spark, d).queryExecution.executedPlan.toString
    finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None    => spark.conf.unset(key)
    }
  }

  test("q6: every predicate reaches PushedFilters") {
    val p = plan("q6_revenue_delta")
    assert(p.contains("PushedFilters: ["))
    assert(p.contains("GreaterThanOrEqual(l_shipdate"))
    assert(p.contains("LessThan(l_shipdate"))
    assert(p.contains("GreaterThanOrEqual(l_discount"))
    assert(p.contains("LessThan(l_quantity"))
  }

  test("q10/q18: dimension sides broadcast, fact side never re-shuffled for the join") {
    val p10 = plan("q10_returned")
    assert(p10.contains("BroadcastHashJoin"))
    assert(!p10.contains("SortMergeJoin"))
    assert(p10.contains("EqualTo(l_returnflag,R)")) // filter pushed to the fact scan
    val p18 = plan("q18_large_orders")
    assert(p18.contains("BroadcastHashJoin"))
    assert(!p18.contains("SortMergeJoin"))
  }

  test("dedup_incremental plans as a single anti-join with id pushdown") {
    val p = plan("dedup_incremental")
    assert(p.contains("LeftAnti"))
    assert(p.contains("GreaterThanOrEqual(doc_id,250)"))
    assert(p.contains("LessThan(doc_id,250)"))
  }

  test("pack_greedy: exactly one exchange beyond the scan spread") {
    val p = plan("pack_greedy")
    assert(p.contains("MapPartitions"))
    // r13: +1 REPARTITION exchange from Tables.spread (scan-side
    // parallelism for the single-file documents scan); the operator
    // itself still contributes exactly one (the shard repartition) and
    // nothing forces an ENSURE_REQUIREMENTS shuffle on top
    assert("Exchange ".r.findAllIn(p).size === 2)
    assert(!p.contains("ENSURE_REQUIREMENTS"))
  }

  test("ts selectors push time bounds onto the raw ns column") {
    val p = plan("ts_range")
    assert(p.contains("GreaterThanOrEqual(ts,"))
    assert(p.contains("LessThanOrEqual(ts,"))
  }

  test("ann_pq_search: one exchange (the top-k agg), no joins on the coded scan") {
    val p = plan("ann_pq_search")
    // ADC scoring is literal lookup-table sums inline in the scan
    // projection; the only exchanges are the bounded-heap per-query top-k
    // and (r13) Tables.spread's scan-parallelism repartition
    assert("Exchange ".r.findAllIn(p).size === 2, p.take(3000))
    assert("REPARTITION".r.findAllIn(p).size === 1, p.take(3000))
    assert(!p.contains("Join"), p.take(3000))
  }

  test("dedup_edit: segment blocking joins by hash, never a nested loop") {
    val p = plan("dedup_edit")
    // the PassJoin candidate join must stay an equi-join on
    // (lb, i, seg) — a refactor that degrades it to a cartesian /
    // broadcast-nested-loop re-introduces the all-pairs scan
    assert(!p.contains("CartesianProduct"), p.take(2000))
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(2000))
  }

  test("contamination: benchmark side broadcast; tokenizer not re-run per shingle") {
    val p = plan("text_contamination")
    assert(p.contains("BroadcastHashJoin"))
    // the gram build must zip SLICES of one tokenizer call, never index
    // back into the token array from inside the per-element lambda (that
    // form re-ran the regex split once per shingle — PERF.md round 3)
    assert(p.contains("arrays_zip"))
  }

  test("q4: EXISTS plans as a left-semi join with the quantity filter pushed") {
    val p = plan("q4_priority_exists")
    assert(p.contains("LeftSemi"))
    assert(p.contains("GreaterThan(l_quantity,45.0)"))
    assert(!p.contains("SortMergeJoin"))
  }

  test("q22: NOT EXISTS plans as a left-anti join over the date-pushed slice") {
    val p = plan("q22_no_orders")
    assert(p.contains("LeftAnti"))
    assert(p.contains("GreaterThanOrEqual(o_orderdate,"))
  }

  test("q7/q8: six-table trees stay broadcast, fact side never sort-merge joined") {
    assert(!plan("q7_nation_volume").contains("SortMergeJoin"))
    assert(!plan("q8_market_share").contains("SortMergeJoin"))
  }

  test("events_near_join: band join hashes on (user_id, minute bucket), never a nested loop") {
    val p = plan("events_near_join")
    assert(p.contains("HashJoin"))
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"))
    // the equi key must include the time bucket — keyed on user alone, a
    // hot user's errors x clicks meet quadratically in one reducer
    assert(p.contains("div 60000"))
    // probe expansion on the error side must be outer (outer=true in the
    // Generate line), or InferFiltersFromGenerate re-evaluates the sequence
    assert("Generate explode\\(sequence[^\n]*, true, ".r.findFirstIn(p).isDefined, p.take(3000))
  }

  test("user_path_topk: trigrams via lead windows — no per-user array, no Generate") {
    val p = plan("user_path_topk")
    assert(p.contains("lead(event_type"))
    // the collect_list form materialized a hot user's whole history as one
    // value and its Generate rebuilt the trigram array under an inferred
    // filter (round-3 lesson); neither may reappear
    assert(!p.contains("collect_list") && !p.contains("Generate") &&
      !p.contains("arrays_zip"))
  }

  test("events_decile: boundary-then-assign — no raw-row ntile sort per event type") {
    val p = plan("events_decile")
    // ntile over Window.partitionBy(event_type) funnels every row of a
    // type through ONE sort task; the rewrite may only window over the
    // aggregated (event_type, value) axis
    assert(!p.contains("ntile("))
    assert(p.contains("HashAggregate(keys=[event_type") && p.contains("value"))
    assert("Generate explode\\(sequence[^\n]*, true, ".r.findFirstIn(p).isDefined, p.take(3000))
  }

  test("samplers: whole buckets decided map-side, row_number only over (source, bucket)") {
    for (q <- Seq("sample_balance", "sample_temperature")) {
      val p = plan(q)
      // the (source, bucket) histogram must exist — it is what replaces the
      // raw-row sort
      assert(p.contains("HashAggregate(keys=[source"), q)
      // every row_number window must be partitioned by (source, bucket) —
      // the boundary bucket — never by source alone over raw rows, which
      // funnels a source's whole corpus through ONE sort task
      val specs = "row_number\\(\\) windowspecdefinition\\([^)]*".r.findAllIn(p).toList
      assert(specs.nonEmpty, s"$q:\n${p.take(2000)}")
      specs.foreach(sp => assert(sp.contains("bucket"), s"$q: $sp"))
    }
  }

  test("sample_epoch_shuffle: permutation ranks without a corpus-wide sort task") {
    val p = plan("sample_epoch_shuffle")
    // every row_number window must be partitioned by the hex-prefix
    // bucket (__rbk) — an unpartitioned window would funnel the whole
    // corpus through one sort task per epoch
    val specs = "row_number\\(\\) windowspecdefinition\\([^)]*".r.findAllIn(p).toList
    assert(specs.size >= 2, s"expected two epoch windows:\n${p.take(2000)}")
    specs.foreach(sp => assert(sp.contains("__rbk"), sp))
  }

  test("text_bm25: top-100 is a bounded heap, never a global sort of the scored docs") {
    val p = plan("text_bm25")
    assert(p.contains("TakeOrderedAndProject"), p.take(1500))
    // the df and corpus-stats sides are broadcast, so the only exchange
    // shuffles the (doc, term) tf rows
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastNestedLoopJoin"),
      p.take(1500))
  }

  test("text_bm25: one documents scan; the scored side reuses the stats side's spread exchange") {
    val key = "spark.sql.adaptive.enabled"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "false")
    try {
      val p = plan("text_bm25")
      assert("FileScan parquet".r.findAllIn(p).size === 1, p.take(3000))
      assert(p.contains("ReusedExchange"), p.take(3000))
    } finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None    => spark.conf.unset(key)
    }
  }

  test("dedup_exact / pipeline_filter: shuffle keyed on xxhash64, never the document body") {
    for (q <- Seq("dedup_exact", "pipeline_filter")) {
      val p = plan(q)
      assert(p.contains("xxhash64(text"), q)
      // partitioning by the raw text column ships the corpus as exchange
      // key material — the round-5 verdict's pipeline_filter finding
      assert("hashpartitioning\\(text#".r.findFirstIn(p).isEmpty, q)
    }
  }

  /** True when `p` draws its rows from an aggregate through shape-only
    * nodes — i.e. the window above it sorts an AGGREGATED axis (one row
    * per group), not raw input. A join or scan on the path means raw
    * rows. */
  private def feedsFromAggregate(p: org.apache.spark.sql.execution.SparkPlan): Boolean =
    if (p.nodeName.contains("Aggregate")) true
    // a reused exchange is a leaf wrapping the ORIGINAL exchange subtree:
    // follow it (shared aggregated axes dedup to ReusedExchange — the
    // pipeline_recipe quota histogram reads one this way)
    else if (p.isInstanceOf[org.apache.spark.sql.execution.exchange.ReusedExchangeExec])
      feedsFromAggregate(
        p.asInstanceOf[org.apache.spark.sql.execution.exchange.ReusedExchangeExec].child)
    // a join of two aggregated axes is still an aggregated axis (the
    // asOfBucketed carry: bucket axis LEFT JOIN per-bucket last rows)
    else if (p.nodeName.contains("Join") && p.children.nonEmpty)
      p.children.forall(feedsFromAggregate)
    // BroadcastExchange listed explicitly: a broadcast-joined aggregated
    // axis is still an aggregated axis, and its nodeName does not start
    // with "Exchange" — without it a stats-driven switch to
    // BroadcastHashJoin on the carry join would fail the audit spuriously
    else if (Seq("Sort", "Exchange", "BroadcastExchange", "Project", "Filter",
                 "Window", "AQEShuffleRead", "WholeStageCodegen", "InputAdapter")
               .exists(p.nodeName.startsWith) && p.children.nonEmpty)
      feedsFromAggregate(p.children.head)
    else false

  /** Programmatic WindowExec audit (AQE off so the raw tree is walkable):
    * every window must either partition by a key that includes the time/id
    * bucket (a hot group splits across tasks) or run over an aggregated
    * axis (bounded rows per group). A window failing both funnels raw rows
    * of a whole group — or the whole input — through ONE sort task.
    */
  private def assertWindowsBucketedOrAxis(name: String, bucketCols: String*): Unit = {
    import org.apache.spark.sql.execution.window.WindowExec
    val key = "spark.sql.adaptive.enabled"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "false")
    try {
      val exec = SparkEntry.queries(name)(spark, d).queryExecution.executedPlan
      val windows = exec.collect { case w: WindowExec => w }
      assert(windows.nonEmpty, s"$name: expected WindowExec in plan")
      windows.foreach { w =>
        val bucketed = bucketCols.exists(c =>
          w.partitionSpec.exists(_.toString.contains(c)))
        assert(bucketed || feedsFromAggregate(w),
          s"$name: WindowExec neither ${bucketCols.mkString("/")}-partitioned " +
            s"nor over an aggregated axis:\n$w")
      }
    } finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None    => spark.conf.unset(key)
    }
  }

  test("pipeline_recipe: every window bucketed (hash / mix bucket / boundary) or on an axis") {
    // the composed recipe must not re-introduce a corpus-wide sort that
    // its stages individually avoid: dedup windows key on xxhash64(text)
    // (pre-projected by Catalyst as a `_w…` alias — computed partition
    // keys always are, and a computed key IS the bucketed case; a raw
    // hot-column partition would keep its name and fail), the quota
    // selection on (source, mix bucket), the offsets on the bounded
    // (source, bucket) histogram axis
    assertWindowsBucketedOrAxis("pipeline_recipe", "xxhash64", "bucket", "_w")
  }

  test("pack_sequences: running sum never sorts the corpus in one task") {
    assertWindowsBucketedOrAxis("pack_sequences", "__bk")
    val p = plan("pack_sequences")
    // the per-row window must be partitioned (by the doc_id bucket), and
    // the bucket-offset side must join back as a broadcast
    assert(p.contains("BroadcastHashJoin"), p.take(2000))
  }

  test("user_transitions / user_path_topk: lag/lead windows split by (user, bucket)") {
    assertWindowsBucketedOrAxis("user_transitions", "__bk")
    assertWindowsBucketedOrAxis("user_path_topk", "__bk")
  }

  test("r8: rfm/rate windows bucketed; classifier vocab bounded; kmv heap map-side") {
    // user_rfm's three quintile ranks window only within __rbk buckets
    // (plus offset windows on the aggregated bucket axis)
    assertWindowsBucketedOrAxis("user_rfm", "__rbk")
    // ts_rate: per-series cumsum partitions by the series key; the lag
    // carry windows by (series, hour bucket)
    assertWindowsBucketedOrAxis("ts_rate", "user_id", "__bk")
    // classifier vocabulary selection is a bounded heap, never a full
    // vocab sort
    val pc = plan("text_classifier")
    assert(pc.contains("TakeOrderedAndProject(limit=256"), pc.take(2000))
    // the KMV sketch reduces map-side: a partial topk_rows aggregate must
    // bound each partition's contribution to k rows per group before the
    // exchange
    val pk = plan("agg_kmv_overlap")
    assert(pk.contains("partial_topk_rows"), pk.take(2000))
  }

  test("events_interval_join: every window bucketed or on an axis; shared subtrees reuse exchanges") {
    // sessionize windows split by (user, 2h bucket); as-of windows by
    // (user, day bucket); the remaining windows ride aggregated axes
    assertWindowsBucketedOrAxis("events_interval_join", "bucket", "__b")
    // the round-6 verdict asked whether the sessionize and as-of exchanges
    // could be one: they cannot — different datasets (raw events vs
    // purchases ∪ session rows) under different keys ((user, 2h) vs
    // (user, day) vs (user, session)). What IS shared — the flagged
    // subtree feeding both the offset aggregation and the final join —
    // must keep deduping to ReusedExchange instead of recomputing.
    val key = "spark.sql.adaptive.enabled"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "false")
    try {
      val p = SparkEntry.queries("events_interval_join")(spark, d)
        .queryExecution.executedPlan.toString
      // r14: the session table is materialized ONCE per run via a lazy
      // local checkpoint, so the formerly ReusedExchange-deduped sessionize
      // subtree now enters the plan as a single ExistingRDD scan — the
      // no-recompute guarantee this pin protects, in a stronger form
      // (nothing to dedupe because nothing is duplicated). Accept either.
      assert("ReusedExchange".r.findAllIn(p).nonEmpty ||
        "ExistingRDD".r.findAllIn(p).nonEmpty, p.take(3000))
    } finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None    => spark.conf.unset(key)
    }
  }

  test("cluster_assign: one-pass argmin assignment, no UDF, aggregation not window") {
    val p = plan("cluster_assign")
    assert(!p.contains("BatchEvalPython") && !p.contains("ScalaUDF"))
    // r13: the min_by agg exchange plus Tables.spread's scan repartition
    assert("Exchange hashpartitioning".r.findAllIn(p).size === 2, p.take(2000))
    assert("REPARTITION".r.findAllIn(p).size === 1, p.take(2000))
    // the medoid must come from a map-side-combining min_by aggregate — a
    // window by cell sorts each cell's whole vector set in one task
    assert(!p.contains("Window"), p.take(2000))
    assert(p.contains("min_by"), p.take(2000))
  }

  test("r8 session 2: bounded heaps map-side, histogram axis, no cartesian joins") {
    // per-domain quota and the changepoint argmax must partially aggregate
    // before their exchange (the bounded-heap contract)
    assert(plan("sample_domain_cap").contains("partial_topk_rows"))
    assert(plan("ts_changepoint").contains("partial_topk_rows"))
    // the MWU global window is legal ONLY because it runs over the
    // aggregated cents-histogram axis
    assertWindowsBucketedOrAxis("events_ab_mwu")
    // phrase search probes term postings through broadcasts — the full
    // token stream must never reach an exchange
    val tp = plan("text_phrase")
    assert(tp.contains("BroadcastHashJoin"), tp.take(2000))
    // DTW pairs fan out only AFTER each series collapses to its bounded
    // PAA array (the collect happens on the aggregated bucket axis)
    val dtw = plan("ts_dtw")
    assert(dtw.contains("collect_list"), dtw.take(2000))
    // the PCA gram matrix must combine map-side (sum aggregate with a
    // partial phase), never shuffle raw coordinate pairs unaggregated
    assert(plan("embed_covariance").contains("partial_sum") ||
      plan("embed_covariance").contains("HashAggregate"))
  }

  test("r9: expanding graph self-joins pin their parallelism against AQE") {
    // the B²-expanding self-joins must carry a USER repartition on the
    // join key (REPARTITION_BY_NUM) — AQE sizes these joins by their
    // small inputs and otherwise broadcasts/coalesces away the
    // parallelism the output expansion needs (measured 15 s → 2 s on the
    // sf0.1 wedge pair count). queryExecution.toString includes the
    // optimized logical plan where the hint is visible.
    def logical(name: String): String =
      SparkEntry.queries(name)(spark, d).queryExecution.optimizedPlan.toString
    for (g <- Seq("graph_fof", "graph_linkpred", "graph_adamic_adar"))
      assert(logical(g).contains("RepartitionByExpression"), g)
    assert(logical("graph_triangles").contains("RepartitionByExpression"))
    // the rank windows of the RRF fusion ride bounded top-k lists: the
    // plan's window inputs must sit above GlobalLimit(100) subtrees
    val rrf = logical("ann_rrf_hybrid")
    assert(rrf.contains("GlobalLimit"), rrf.take(2000))
    // text_zipf's rank window likewise runs on the bounded top-100 axis,
    // never over the raw token fan-out
    val zipf = logical("text_zipf")
    assert(zipf.contains("GlobalLimit"), zipf.take(2000))
  }

  test("events_bucketed_join: bucket layout carries aggregate and join — zero exchanges") {
    // the whole point of the gate: pay the partitioning once at write
    // time, then BOTH per-user aggregates and the join read the 8-bucket
    // hash layout directly — any Exchange in this plan is a regression
    val p = plan("events_bucketed_join")
    assert(!p.contains("Exchange"), p.take(3000))
    assert(p.contains("SortMergeJoin"), p.take(3000))
    assert(p.contains("SelectedBucketsCount"), p.take(3000))
  }

  test("graph_edges_indexed: the wedge join reads stored buckets — no exchange below it") {
    import org.apache.spark.sql.execution.joins.SortMergeJoinExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    // AQE off so the raw tree is walkable; broadcast off because at
    // sf0.001 the stored tables fit the broadcast threshold and the plan
    // under test is the 100 TB regime, where both sides exceed it and the
    // bucket layout must carry the sort-merge join
    val key = "spark.sql.adaptive.enabled"
    val bkey = "spark.sql.autoBroadcastJoinThreshold"
    val prev = spark.conf.getOption(key)
    val bprev = spark.conf.getOption(bkey)
    spark.conf.set(key, "false")
    spark.conf.set(bkey, "-1")
    try {
      for (g <- Seq("graph_edges_indexed", "graph_tri_indexed",
                    "graph_edges_append")) {
        val exec = SparkEntry.queries(g)(spark, d).queryExecution.executedPlan
        val smjs = exec.collect { case j: SortMergeJoinExec => j }
        // the wedge join is the inner SMJ carrying a residual condition;
        // its whole subtree must be exchange-free (bucket layouts carry it)
        val wedge = smjs.filter(j =>
          j.joinType.toString == "Inner" && j.condition.isDefined)
        assert(wedge.nonEmpty, s"$g: no wedge SortMergeJoin found:\n$exec")
        wedge.foreach { j =>
          val shuffles = j.collect { case e: ShuffleExchangeExec => e }
          assert(shuffles.isEmpty,
            s"$g: exchange below the wedge join — layout not carrying it:\n$j")
        }
        assert(exec.toString.contains("SelectedBucketsCount"),
          s"$g: ${exec.toString.take(3000)}")
      }
    } finally {
      prev match {
        case Some(v) => spark.conf.set(key, v)
        case None    => spark.conf.unset(key)
      }
      bprev match {
        case Some(v) => spark.conf.set(bkey, v)
        case None    => spark.conf.unset(bkey)
      }
    }
  }

  test("dedup_jaro: the verifier is the native expression, never a UDF") {
    val p = plan("dedup_jaro")
    assert(p.contains("jaro_winkler"), p.take(3000))
    assert(!p.contains("ScalaUDF") && !p.contains("BatchEvalPython"))
  }

  test("r9 s2: negation is a LEFT ANTI join; markov matrix broadcasts") {
    // CEP negation must prove absence via the anti join, never a
    // collected per-user timeline
    val pn = plan("events_pattern_negation")
    assert(pn.contains("LeftAnti"), pn.take(3000))
    // every power iteration of the stationary mix joins the bounded
    // event-type matrix via broadcast — no shuffle grows with iterations
    val mk = plan("events_markov_stationary")
    assert(mk.contains("BroadcastHashJoin"), mk.take(3000))
    assert(!mk.contains("SortMergeJoin"), mk.take(3000))
  }
}
