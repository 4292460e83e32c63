package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.TimestampType

import graft.model.{KvModel, TsModel}
import graft.operators._
import graft.functions.{TextFunctions, VectorFunctions}
import graft.zestql.{Compiler, PathParser, ZestQlParser}

/** Driver contract — one `queries` entry per implemented operator from
  * SURVEY.md §2 (+ the pipeline extensions), each with a DuckDB oracle in
  * [[SparkEntry.oracleSql]] where ANSI-SQL-expressible.
  *
  * Conventions shared by query and oracle so hash-compare is stable:
  *  - identical column names (aliased on both sides);
  *  - timestamps exported as epoch-ms longs (`unix_millis` / `epoch_ms`);
  *  - float aggregates rounded (4 dp for folds, 6 dp for similarities);
  *  - every ordering has a deterministic integer tiebreak;
  *  - counts cast to long / BIGINT on both sides.
  */
object SparkEntry {

  // Fixed query constants (events span 2024-01; TPC-H dates 1995-2001).
  private val SINCE  = 1705708800000L // 2024-01-20T00:00:00Z
  private val R_FROM = 1704844800000L // 2024-01-10T00:00:00Z
  private val R_TO   = 1705276800000L // 2024-01-15T00:00:00Z

  /** Flagship query on sf0.001 (the docs' own example shape,
    * `/root/reference/docs/README.md:216`): multi-series last-100, tag
    * filter, max — exercises selector + filter + aggregate composition.
    */
  def entry(spark: SparkSession): DataFrame =
    tsFlagship(spark, "/root/testdata/sf0.001")

  private def ts(s: SparkSession, d: String)  = TsModel.ts(s, d)
  private def kv(s: SparkSession, d: String)  = KvModel.changeLog(s, d)
  private def outCols = Seq(col("series_id"), col("t"), col("value"), col("event_id"))

  /** User co-occurrence graph shared by the four graph gates: distinct
    * user pairs active on the same event_type inside the same 5-minute
    * window. One builder so the hot-bucket redistribution
    * ([[Graph.coOccurrenceEdges]]: a boilerplate-hour bucket's B² pairs
    * spread over triangular block cells instead of one reducer) is the
    * single audited code path — the edge SET is bit-identical to the
    * plain bucket self-join at any cap.
    */
  private def coOccEdges(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
    // materialize the distinct occupancy table once (r14): it feeds the
    // hot-bucket probe aggregate AND both sides of the pair self-join —
    // three replays of the events-scan + distinct per gate otherwise
    // (exchange reuse covers the join's two sides but never the probe's
    // separate job)
    val occ = ev.select(col("user_id"), col("event_type"),
        (graft.model.TimeCols.millis(ev, "ts") / 300000L).cast("long").as("m"))
      .distinct().localCheckpoint()
    // materialize the built edge table once per gate: every graph operator
    // references its edges several times (degrees, both join sides, the
    // anti-join), and exchange reuse does not reliably cover a lineage
    // this deep — without this the bench showed the B² pair build
    // replaying up to 6x inside one gate
    Graph.coOccurrenceEdges(occ, "user_id", Seq("event_type", "m"))
      .localCheckpoint()
  }

  /** BM25 top-100 for the fixed query terms — the text_bm25 gate body,
    * factored so the hybrid-retrieval fusion gate scores the identical
    * lexical list. Micros-exact per-term score, bounded top-k.
    *
    * One pass over the documents: each doc becomes one narrow row, its
    * length `dl` and one `tf_<term>` count per query term, and one global
    * aggregate over those rows (doc count, mean length, `df_<term>` as the
    * docs with that term) is broadcast back to them. A term a doc lacks
    * scores exactly 0 micros (its tf factor is 0), so the per-doc BIGINT
    * sum of the per-term scores equals the sum over the doc's (doc, term)
    * rows that the oracle groups; docs with no query term are dropped, as
    * they have no such row.
    */
  private[graft] def bm25Top100(s: SparkSession, d: String): DataFrame = {
    val terms = Seq("join", "scan", "filter")
    val perDoc = Tables.documents(s, d)
      .select(col("doc_id"), TextFunctions.tokens(col("text")).as("arr"))
      .select(col("doc_id") +: size(col("arr")).cast("long").as("dl") +:
        terms.map(t => coalesce(size(filter(col("arr"), _ === t)).cast("long"), lit(0L))
          .as(s"tf_$t")): _*)
    val stats = perDoc.agg(
      count(lit(1)).cast("double").as("n_docs"),
      terms.map(t => count_if(col(s"tf_$t") > 0).as(s"df_$t")) :+
        (sum(col("dl")).cast("double") / count(lit(1)).cast("double")).as("avgdl"): _*)
    def scoreMicros(t: String): org.apache.spark.sql.Column = {
      val (tf, df) = (col(s"tf_$t"), col(s"df_$t"))
      val idf = log((col("n_docs") - df + lit(0.5)) / (df + lit(0.5)) + lit(1.0))
      val denom = tf + lit(1.2) * (lit(0.25) + lit(0.75) * col("dl") / col("avgdl"))
      round(idf * (tf * lit(2.2)) / denom * lit(1000000.0), 0).cast("long")
    }
    // The has-a-term test reads `n_docs` (>= 1 wherever a doc exists) so
    // that it stays the join condition: a test on the doc row alone would
    // be pushed under the documents' spread exchange, the aggregate side
    // could no longer reuse that exchange, and the documents would be
    // scanned and shuffled twice. The tf counts are coalesced to 0 (a
    // null text has none) for the same reason: on a nullable count the
    // optimizer infers a not-null filter and pushes it down the same way.
    val hasTerm = terms.map(t => col(s"tf_$t")).reduce(_ + _) * col("n_docs") > 0
    perDoc.join(broadcast(stats), hasTerm)
      .select(col("doc_id"), terms.map(scoreMicros).reduce(_ + _).as("bm25_micros"))
      .orderBy(col("bm25_micros").desc, col("doc_id").asc)
      .limit(100)
  }

  /** The fixed-form document quality composite shared by sample_quality /
    * pipeline_filter / dedup_canonical AND their DuckDB oracles — one
    * definition, because every copy must stay bit-identical to its oracle
    * twin (4dp ratios inside TextFunctions, 5dp outer round: the abstract
    * value has at most 5 decimal digits, so no rounding boundary exists
    * for the engines to disagree on).
    */
  private[graft] def docQuality: org.apache.spark.sql.Column = round(
    lit(0.4) * least(lit(1.0), TextFunctions.tokenCount(col("text")) / 20.0) +
    lit(0.3) * (lit(1.0) - TextFunctions.punctRatio(col("text"))) +
    lit(0.3) * least(lit(1.0), TextFunctions.stopwordRatio(col("text")) * 5.0), 5)

  private def tsFlagship(s: SparkSession, d: String): DataFrame = {
    val sel = TsOps.select(ts(s, d), Seq("purchase", "click"), LastN(100))
    TsOps.tagFilter(sel, TagContains("k", "1"))
      .agg(round(max(col("value")), 4).as("result"))
  }

  /** A gate's scratch directory,
    * `<java.io.tmpdir>/graft-gate-<tag>-<pid>_<sf>`, wiped before use.
    * Keyed by the JVM and the dataset, so a concurrent Verify and Bench,
    * or two datasets in one run, never share one. A storage table goes
    * one level down (`<dir>/table`), so its sibling dirs (`_runs`,
    * `_blob`, `_kv_*`, ...) are wiped with it. Every dir handed out is
    * deleted when the JVM exits ([[scratchDirs]]).
    */
  private def scratchDir(tag: String, d: String): String = {
    val dir = new java.io.File(sys.props("java.io.tmpdir"),
      s"graft-gate-$tag-${ProcessHandle.current().pid()}_" +
        d.replaceAll("[^a-zA-Z0-9]", "_"))
    org.apache.commons.io.FileUtils.deleteQuietly(dir)
    scratchDirs.synchronized(scratchDirs += dir)
    dir.getAbsolutePath
  }

  /** The scratch dirs handed out, deleted by one shutdown hook. Not
    * earlier: a gate returns a lazy frame that still reads its dir after
    * the gate body is done.
    */
  private lazy val scratchDirs: scala.collection.mutable.Set[java.io.File] = {
    val dirs = scala.collection.mutable.LinkedHashSet.empty[java.io.File]
    sys.addShutdownHook(dirs.synchronized(dirs.foreach(org.apache.commons.io.FileUtils.deleteQuietly)))
    dirs
  }

  /** ts_compact_incremental's storage steps; returns the table path. The
    * table is stored in the small-files state a compact exists for: each
    * "error" partition split over up to 8 files (a `TsStorage.write`
    * would bound it to its salt width), every other partition in one.
    * Then the rewrite delete, then a compact to at most 4 files per
    * partition.
    */
  private[graft] def compactIncremental(s: SparkSession, d: String): String = {
    val dir = scratchDir("cinc", d) + "/table"
    graft.sources.TsStorage.withDay(ts(s, d))
      .repartition(8, col("series_id"), col("day"),
        when(col("series_id") === "error", pmod(col("event_id"), lit(8L)))
          .otherwise(lit(0L)))
      .write.partitionBy("series_id", "day").parquet(dir)
    graft.sources.TsStorage.delete(s, dir, Seq("error"),
      TimeRange(R_FROM, R_TO), Some(TagContains("k", "5")))
    graft.sources.TsStorage.compact(s, dir, maxFilesPerPartition = 4)
    dir
  }

  /** The wire-ingest gates' body: the first `n` events POSTed over the
    * binary port (CURVE or NULL), then the stored per-series census.
    */
  private def wireIngest(s: SparkSession, d: String, tag: String, n: Int,
                         curve: Boolean): DataFrame = {
    import graft.server.{SecureChannel, ZestCodec, ZestWireServer, ZmtpClient}
    val dir = scratchDir(tag, d) + "/table"
    val key = s"gate-$tag-key"
    val engine = new GraftEngine(s, tsStoragePath = Some(dir),
      tokenSecretKey = Some(key), flushEveryRows = 512)
    val keys = if (curve) Some(SecureChannel.generateKeyPair()) else None
    val srv = new ZestWireServer(engine, serverKeys = keys)
    try {
      val ev = Tables.events(s, d)
      val rows = ev.filter(col("event_id") < n)
        .select(col("event_type"), graft.model.TimeCols.millis(ev, "ts").as("t"),
          col("value"),
          regexp_extract(col("props"), "\"k\"\\s*:\\s*(\\d+)", 1).as("k"),
          col("event_id"))
        .orderBy("event_id").collect()
      val tok = graft.auth.Macaroons.serialize(graft.auth.Macaroons
        .mint(key, "gate-client").addCaveat("method = POST"))
      val client = new ZmtpClient(srv.boundPort, keys.map(SecureChannel.rawPublic))
      try rows.foreach { r =>
        val k = r.getString(3)
        val payload =
          if (k.isEmpty) s"""{"value": ${r.getDouble(2)}}"""
          else s"""{"value": ${r.getDouble(2)}, "k": "$k"}"""
        val resp = client.call(ZestCodec.request(2,
          s"/ts/${r.getString(0)}/at/${r.getLong(1)}", token = tok, payload = payload))
        require(resp.code == 65, s"POST failed: code ${resp.code}")
      } finally client.close()
      engine.flush()
      graft.sources.TsStorage.read(s, dir)
        .groupBy("series_id")
        .agg(count(lit(1)).as("n"),
          round(sum("value"), 4).cast("double").as("sum_value"),
          min("t").as("min_t"), max("t").as("max_t"),
          sum(when(col("tags").getItem("k") === "5", 1L).otherwise(0L))
            .cast("long").as("k5"))
    } finally srv.close()
  }

  private def aggQuery(s: SparkSession, d: String, fn: AggFn): DataFrame =
    TsOps.select(ts(s, d), Seq("purchase"), TimeRange(R_FROM, R_TO))
      .agg(round(Aggregates.column(fn), 4).cast("double").as("result"))

  /** Gate-roster constructor with a MECHANICAL key-uniqueness guard. A
    * plain `Map(...)` literal silently keeps the LAST entry for a
    * duplicated key — which in round 10 paired dead bodies with live
    * oracles for `user_ltv_cohort` without any signal. Duplicates now fail
    * loudly the first time either roster is touched (every spec, Verify
    * and Bench all do), so a duplicate can never reach a round close.
    */
  private[graft] def uniqueMap[V](entries: (String, V)*): Map[String, V] = {
    val dups = entries.groupBy(_._1).collect { case (k, vs) if vs.size > 1 => k }
    require(dups.isEmpty,
      s"duplicate gate keys: ${dups.toSeq.sorted.mkString(", ")}")
    entries.toMap
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = uniqueMap(
    // ---- TS read API (SURVEY §2.2) ----------------------------------------
    "ts_latest" -> ((s, d) =>
      TsOps.select(ts(s, d), Nil, Latest).select(outCols: _*)),
    "ts_last_n" -> ((s, d) =>
      TsOps.select(ts(s, d), Nil, LastN(10)).select(outCols: _*)),
    "ts_first_n" -> ((s, d) =>
      TsOps.select(ts(s, d), Nil, FirstN(10)).select(outCols: _*)),
    "ts_earliest" -> ((s, d) =>
      TsOps.select(ts(s, d), Nil, Earliest).select(outCols: _*)),
    "ts_since" -> ((s, d) =>
      TsOps.select(ts(s, d), Seq("purchase", "error"), Since(SINCE)).select(outCols: _*)),
    "ts_range" -> ((s, d) =>
      TsOps.select(ts(s, d), Nil, TimeRange(R_FROM, R_TO)).select(outCols: _*)),
    "ts_length" -> ((s, d) =>
      TsOps.select(ts(s, d), Seq("purchase", "click"), Length)),
    "ts_filter_equals" -> ((s, d) =>
      TsOps.tagFilter(TsOps.select(ts(s, d), Nil, Since(SINCE)), TagEquals("k", "42"))
        .select(outCols :+ col("tags").getItem("k").as("k"): _*)),
    "ts_filter_contains" -> ((s, d) =>
      TsOps.tagFilter(TsOps.select(ts(s, d), Nil, Since(SINCE)), TagContains("k", "7"))
        .select(outCols :+ col("tags").getItem("k").as("k"): _*)),
    "ts_delete_range" -> ((s, d) =>
      TsOps.deleteByQuery(ts(s, d), Seq("error"), TimeRange(R_FROM, R_TO),
          Some(TagContains("k", "5")))
        .select(outCols: _*)),
    // The DURABLE S6 path under the same oracle as ts_delete_range: write
    // the table to its partitioned parquet layout, run the crash-atomic
    // partition-swap delete, read back from disk. Gates TsStorage end to
    // end — layout, partition pruning, bystander semantics, swap — not
    // just the in-memory operator. (Write+delete side effects run eagerly
    // when the closure is invoked; the returned frame reads the result.)
    "ts_storage_delete" -> ((s, d) => {
      val dir = scratchDir("sdel", d) + "/table"
      graft.sources.TsStorage.write(ts(s, d), dir)
      graft.sources.TsStorage.delete(s, dir, Seq("error"),
        TimeRange(R_FROM, R_TO), Some(TagContains("k", "5")))
      graft.sources.TsStorage.read(s, dir)
        .filter(col("series_id") === "error")
        .select(outCols: _*)
    }),
    // Partition-scoped INCREMENTAL compaction under the same oracle: the
    // rewrite delete, then a compact that rewrites ONLY partitions over
    // the file bound (the nightly-compact cost model at 100 TB: touched
    // fraction, never a full-table pass; untouched partitions stay
    // byte-identical, Round11OpsSpec pins the bytes). Green iff the
    // compacted table equals the rewrite delete's view.
    "ts_compact_incremental" -> ((s, d) =>
      graft.sources.TsStorage.read(s, compactIncremental(s, d))
        .filter(col("series_id") === "error")
        .select(outCols: _*)),
    "ts_blob_last" -> ((s, d) =>
      TsOps.select(TsModel.tsBlob(s, d), Seq("purchase", "signup"), LastN(5))
        .select("series_id", "t", "blob", "event_id")),
    // S1's wire path under a hash gate: the reference's native JSON-lines
    // ingest (`/root/reference/src/server.re:647-654`) written and read
    // back through the schema-pinned wire format, projected through the TS
    // model, and checksummed per series over every surviving column (time
    // to the stored micros, values, tag extraction, event ids). Green iff
    // the text round trip is lossless.
    "wire_ingest" -> ((s, d) => {
      val dir = scratchDir("wire", d)
      graft.sources.EventSources.writeJson(Tables.events(s, d), dir)
      TsModel.fromEvents(graft.sources.EventSources.readJson(s, dir))
        .groupBy("series_id")
        .agg(
          count(lit(1)).as("n"),
          round(sum("value"), 4).cast("double").as("sum_value"),
          sum("event_id").cast("long").as("sum_eid"),
          min("t").as("min_t"),
          max("t").as("max_t"),
          sum(when(col("tags").getItem("k") === "5", 1L).otherwise(0L))
            .cast("long").as("k5"))
    }),

    // the binary port oracle-checked end-to-end, once per ZMTP security
    // mechanism: events become zest POSTs from a ZMTP REQ client over a
    // REAL socket — greeting, handshake, envelope-framed messages — with a
    // macaroon token, land in the durable write-behind store, and the
    // stored table's per-series census must match DuckDB replaying the
    // same rows off the events table. CURVE over 500 events (framing,
    // crypto, auth, path grammar, validation and storage in one hash
    // gate); NULL over 300.
    "wire_binary_ingest" -> ((s, d) => wireIngest(s, d, "bwire", 500, curve = true)),
    "wire_zmtp_ingest" -> ((s, d) => wireIngest(s, d, "zmtp", 300, curve = false)),

    // ---- TS aggregates (SURVEY §2.3) --------------------------------------
    "ts_agg_sum"    -> ((s, d) => aggQuery(s, d, AggSum)),
    "ts_agg_count"  -> ((s, d) => aggQuery(s, d, AggCount)),
    "ts_agg_min"    -> ((s, d) => aggQuery(s, d, AggMin)),
    "ts_agg_max"    -> ((s, d) => aggQuery(s, d, AggMax)),
    "ts_agg_mean"   -> ((s, d) => aggQuery(s, d, AggMean)),
    "ts_agg_median" -> ((s, d) => aggQuery(s, d, AggMedian)),
    "ts_agg_sd"     -> ((s, d) => aggQuery(s, d, AggSd)),
    "ts_flagship"   -> ((s, d) => tsFlagship(s, d)),
    // as-of join (extension): each click matched to the user's most recent
    // purchase at-or-before it — one shuffle by user, no range explosion
    "ts_asof" -> ((s, d) => {
      val ev = Tables.events(s, d)
      val base = ev.select(col("user_id"),
        graft.model.TimeCols.millis(ev, "ts").as("t"),
        col("value"), col("event_id"), col("event_type"))
      val clicks = base.filter(col("event_type") === "click").drop("event_type")
      val purchases = base.filter(col("event_type") === "purchase").drop("event_type")
      AsOfJoin.asOf(clicks, purchases, key = "user_id", tCol = "t",
          valueCols = Seq("value"))
        .select(col("user_id"), col("t"), col("event_id"), col("asof_t"),
                col("asof_value"))
    }),
    // classic TSDB resampling (extension): hourly buckets per series.
    // Bucket is FLOOR division in exact integer math (Spark's `div`
    // truncates toward zero; DuckDB's `//` floors — they disagree below
    // epoch zero, so the correction term pins floor semantics)
    "ts_resample" -> ((s, d) =>
      ts(s, d).groupBy(col("series_id"),
          expr("t div 3600000 - (CASE WHEN t % 3600000 < 0 THEN 1 ELSE 0 END)").as("bucket"))
        .agg(round(avg("value"), 4).as("avg_v"),
             round(sum("value"), 4).as("sum_v"),
             count(lit(1)).as("n"))),
    // per-series latency-style percentiles (p50/p95/p99): exact linear
    // interpolation, identical in Spark percentile() and DuckDB
    // quantile_cont — one shuffle with map-side partials
    "ts_percentiles" -> ((s, d) =>
      ts(s, d).groupBy("series_id").agg(
        round(expr("percentile(value, 0.5)"), 4).as("p50"),
        round(expr("percentile(value, 0.95)"), 4).as("p95"),
        round(expr("percentile(value, 0.99)"), 4).as("p99"))),
    // winsorization: clamp each value into its series' [p05, p95] band —
    // the outlier-limiting transform robust pipelines apply before
    // training-statistics. Percentile parity with DuckDB's quantile_cont
    // is already pinned by ts_percentiles; the clamp itself is exact.
    // One agg exchange; the tiny per-series band table broadcasts back.
    // LTTB downsample to 50 points per series (endpoints + one winner per
    // interior bucket) — semantics and determinism notes in operators/Lttb
    "ts_lttb" -> ((s, d) =>
      Lttb.downsample(ts(s, d).select("series_id", "t", "value", "event_id"),
        nOut = 50)),
    // M4 pixel-bucket downsample: ONE partial-aggregable groupBy — the
    // shuffle carries a row per (series, hour-bucket), never raw points;
    // outputs are selected (not computed) values, bit-exact on any engine
    "ts_m4" -> ((s, d) =>
      Lttb.m4(ts(s, d).select("series_id", "t", "value", "event_id"),
        spanMs = 3600000L)),
    "ts_winsorize" -> ((s, d) => {
      val t = ts(s, d)
      // band edges ROUNDED at 4 dp before any comparison: the interpolated
      // percentile's abstract value has <= 4 decimals (2-decimal data x
      // 2-decimal rank fraction), so the rounded edge is engine-identical,
      // and the was_clipped BOOLEAN (immune to output rounding) cannot
      // flip on a last-ulp percentile difference between engines
      val band = t.groupBy(col("series_id").as("sb")).agg(
        round(expr("percentile(value, 0.05)"), 4).as("lo"),
        round(expr("percentile(value, 0.95)"), 4).as("hi"))
      t.join(broadcast(band), col("series_id") === col("sb"))
        .select(col("series_id"), col("t"), col("event_id"),
          round(least(greatest(col("value"), col("lo")), col("hi")), 4)
            .as("clamped"),
          (col("value") < col("lo") || col("value") > col("hi")).as("was_clipped"))
    }),
    // trailing moving average over the last 10 records per series — the
    // classic TSDB smoothing read the reference lacks. Scale note: one
    // window per series; for a hot series use ts_resample buckets instead
    "ts_moving_avg" -> ((s, d) => {
      val w = Window.partitionBy("series_id").orderBy(col("t").asc, col("event_id").asc)
        .rowsBetween(-9, 0)
      ts(s, d).select(col("series_id"), col("t"), col("event_id"),
        round(avg("value").over(w), 4).as("ma10"))
    }),
    // gap filling: dense hourly axis per series, empty buckets carry the
    // last observation forward (LOCF) — the resample companion every TSDB
    // needs. The axis is generated per series from its own bucket span,
    // so no global calendar table materializes
    "ts_gapfill" -> ((s, d) => {
      val bucketExpr = expr("t div 3600000 - (CASE WHEN t % 3600000 < 0 THEN 1 ELSE 0 END)")
      val b = ts(s, d).groupBy(col("series_id"), bucketExpr.as("bucket"))
        .agg(round(avg("value"), 4).as("v"), count(lit(1)).as("n"))
      val axis = b.groupBy("series_id").agg(min("bucket").as("b0"), max("bucket").as("b1"))
        .select(col("series_id"), explode(sequence(col("b0"), col("b1"))).as("bucket"))
      val w = Window.partitionBy("series_id").orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, 0)
      axis.join(b, Seq("series_id", "bucket"), "left")
        .select(col("series_id"), col("bucket"),
          last(col("v"), ignoreNulls = true).over(w).as("v_filled"),
          coalesce(col("n"), lit(0L)).as("n"))
    }),
    // anomaly flags: per-series z-score against the series' own
    // distribution — the stats aggregate is tiny and broadcast back onto
    // the stream, so the corpus is scanned twice and shuffled never
    "ts_zscore" -> ((s, d) => {
      val t = ts(s, d)
      val stats = t.groupBy(col("series_id").as("sid")).agg(
        avg("value").as("mu"), stddev_samp(col("value")).as("sd"))
      // a constant series has sd = 0; null it out so the division yields
      // null on both engines instead of tripping ANSI divide-by-zero
      val sdSafe = when(col("sd") === 0d, lit(null)).otherwise(col("sd"))
      val z = round((col("value") - col("mu")) / sdSafe, 4)
      t.join(broadcast(stats), col("series_id") === col("sid"))
        .select(col("series_id"), col("t"), col("event_id"), z.as("z"),
          (abs(z) > 3.0).as("anomaly"))
    }),
    // linear interpolation across empty buckets (gapfill's companion):
    // each gap draws the line between its nearest observed neighbors;
    // leading/trailing gaps extend the nearest value
    "ts_interpolate" -> ((s, d) => {
      val bucketExpr = expr("t div 3600000 - (CASE WHEN t % 3600000 < 0 THEN 1 ELSE 0 END)")
      val b = ts(s, d).groupBy(col("series_id"), bucketExpr.as("bucket"))
        .agg(round(avg("value"), 4).as("v"))
      val axis = b.groupBy("series_id").agg(min("bucket").as("b0"), max("bucket").as("b1"))
        .select(col("series_id"), explode(sequence(col("b0"), col("b1"))).as("bucket"))
      val dense = axis.join(b, Seq("series_id", "bucket"), "left")
      val wP = Window.partitionBy("series_id").orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, 0)
      val wN = Window.partitionBy("series_id").orderBy("bucket")
        .rowsBetween(0, Window.unboundedFollowing)
      val obsBucket = when(col("v").isNotNull, col("bucket"))
      val pv = last(col("v"), ignoreNulls = true).over(wP)
      val pb = last(obsBucket, ignoreNulls = true).over(wP)
      val nv = first(col("v"), ignoreNulls = true).over(wN)
      val nb = first(obsBucket, ignoreNulls = true).over(wN)
      // interpolate in INTEGER 1e-4 space with floor division — a double
      // interpolation rounded at 4dp ties exactly at the .00005 boundary
      // whenever the gap length divides 10^4, and round() tie behavior is
      // the one thing the engines do differently
      val pvi = round(pv * 10000d).cast("long")
      val nvi = round(nv * 10000d).cast("long")
      // num <= ~1e9 so the double division is exact to far below 1 ulp of
      // an integer boundary; the long cast then truncates toward zero,
      // matching DuckDB's `//` (which TRUNCATES, not floors — verified on
      // negative operands), so negative values interpolate identically too
      val num = pvi * (nb - col("bucket")) + nvi * (col("bucket") - pb)
      val den = nb - pb
      val vi = (num / den).cast("long")
      dense.select(col("series_id"), col("bucket"),
        when(col("v").isNotNull, col("v"))
          .when(pv.isNull, nv)
          .when(nv.isNull, pv)
          .otherwise(vi / 10000d)
          .as("v_interp"))
    }),
    // grouping the reference can't do (SURVEY §2.3 note): per-series stats
    // in one pass — map-side partial aggregation, one shuffle
    "ts_agg_by_series" -> ((s, d) =>
      ts(s, d).groupBy("series_id").agg(
        round(sum("value"), 4).as("sum_v"),
        round(avg("value"), 4).as("mean_v"),
        round(median(col("value")), 4).as("median_v"),
        round(stddev_samp(col("value")), 4).as("sd_v"),
        count(lit(1)).as("n"))),

    // ---- Query front-ends (SURVEY §2.5): path language + ZestQL ----------
    "path_query" -> ((s, d) =>
      Compiler.compile(TsModel.ts(s, d),
          PathParser.parseGet("/ts/purchase,click/last/100/filter/k/contains/1/max"))
        .select(round(col("result"), 4).as("result"))),
    "zestql_query" -> ((s, d) => {
      // `since 11d` against a pinned clock of 2024-01-31T00:00:00Z = SINCE
      val stmt = ZestQlParser.parseStatement(
        """get mean from "purchase,error" since 11d""", nowMs = 1706659200000L)
      Compiler.compile(TsModel.ts(s, d), stmt).get
        .select(round(col("result"), 4).as("result"))
    }),

    // ---- KV store (SURVEY §2.1 S3-S5) -------------------------------------
    "kv_lww" -> ((s, d) =>
      KvOps.lwwView(kv(s, d)).select("id", "key", "value", "write_ts", "event_id")),
    "kv_keys" -> ((s, d) =>
      KvOps.lwwView(kv(s, d)).select("id", "key")),
    "kv_count" -> ((s, d) =>
      KvOps.lwwView(kv(s, d)).groupBy("id").agg(count(lit(1)).as("n_keys"))),
    "kv_read" -> ((s, d) => KvOps.read(kv(s, d), "u7", "purchase")),
    // binary store surface: values travel base64-encoded (the engine's
    // binary KV carries base64 on the wire, GraftEngine store "binary");
    // the gate pins encode → LWW → decode round-trip byte-for-byte
    "kv_binary" -> ((s, d) =>
      KvOps.lwwView(kv(s, d).withColumn("value", base64(col("value").cast("binary"))))
        .select(col("id"), col("key"), col("value").as("b64"),
          length(unbase64(col("value"))).cast("long").as("n_bytes"))),
    // TTL view over the LWW store — the reference's max-age expiry
    // (`/root/reference/src/observe.re:96-113`) applied to KV reads: the
    // LWW winner survives only if written within the TTL horizon of the
    // pinned read clock. The horizon filters the RAW time column BEFORE
    // the LWW window, which is equivalent (the winner is max(write_ts):
    // a cell whose winner precedes the horizon loses every row; one
    // whose winner survives keeps its winner — tombstones included) and
    // puts the bound in parquet PushedFilters: at 100 TB the scan reads
    // the TTL horizon, not the full history
    "kv_expire" -> ((s, d) => {
      val horizon = 1706572800000L // read clock 2024-01-31 minus 1d TTL
      val ev = Tables.events(s, d)
      val recent = ev.filter(col("ts") >=
        graft.model.TimeCols.msLowerBound(ev.schema("ts").dataType, horizon))
      KvOps.lwwView(graft.model.KvModel.changeLogOf(recent))
        .select(col("id"), col("key"), col("value"), col("write_ts"),
          ((lit(1706659200000L) - col("write_ts")) / 1000L).cast("long")
            .as("age_s"))
    }),
    // DURABLE KV (r13): replay a bounded slice of the derived change-log
    // through a parquet-backed engine in (write_ts, event_id) order — the
    // engine's own monotonic (clock, id) sequence then preserves each
    // cell's LWW winner — flush, RESTART the engine on the same store
    // dir, and read the live view off the recovered log. The oracle
    // replays the same slice's LWW in DuckDB, so the gate pins write ->
    // flush -> restart -> recover -> LWW end-to-end (the reference
    // persists all three stores in its Irmin repo, keyvalue.re:4,46,88;
    // memory-only KV was the r12 verdict's lead gap).
    "kv_durable_restart" -> ((s, d) => {
      val dir = scratchDir("kvdur", d) + "/table"
      val rows = graft.model.KvModel.changeLog(s, d)
        .filter(col("event_id") < 800)
        .orderBy("write_ts", "event_id").collect()
      var now = 1700000000000L
      val clock = () => { now += 1; now }
      val e1 = new GraftEngine(s, clock, tsStoragePath = Some(dir),
        flushEveryRows = 256)
      rows.foreach { r =>
        if (r.getAs[Boolean]("deleted"))
          e1.kvDelete("json", r.getAs[String]("id"), r.getAs[String]("key"))
        else
          e1.kvWrite("json", r.getAs[String]("id"), r.getAs[String]("key"),
            r.getAs[String]("value"))
      }
      e1.flush()
      // restart: a brand-new engine over the same dir — what it reads is
      // only what the log recovered
      val e2 = new GraftEngine(s, clock, tsStoragePath = Some(dir),
        flushEveryRows = 256)
      KvOps.lwwView(e2.kvLog("json")).select("id", "key", "value")
    }),

    // ---- Relational / bench headliners ------------------------------------
    "q1_pricing" -> ((s, d) =>
      Tables.lineitem(s, d)
        .filter(col("l_shipdate").cast("date") <= lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          round(sum("l_quantity"), 4).as("sum_qty"),
          round(sum("l_extendedprice"), 4).as("sum_base_price"),
          round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 4).as("sum_disc_price"),
          round(sum(col("l_extendedprice") * (lit(1) - col("l_discount")) * (lit(1) + col("l_tax"))), 4).as("sum_charge"),
          round(avg("l_quantity"), 4).as("avg_qty"),
          round(avg("l_discount"), 4).as("avg_disc"),
          count(lit(1)).as("count_order"))),
    "q3_segment_revenue" -> ((s, d) =>
      Tables.lineitem(s, d)
        .join(Tables.orders(s, d).filter(col("o_orderdate").cast("date") < lit("1997-01-01")),
              col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(Tables.customer(s, d)), col("o_custkey") === col("c_custkey"))
        .groupBy("c_mktsegment")
        .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 4).as("revenue"),
             countDistinct(col("o_orderkey")).as("n_orders"))),
    "q5_region_revenue" -> ((s, d) =>
      Tables.orders(s, d)
        .join(broadcast(Tables.customer(s, d)), col("o_custkey") === col("c_custkey"))
        .join(broadcast(Tables.nation(s, d)), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(Tables.region(s, d)), col("n_regionkey") === col("r_regionkey"))
        .groupBy("r_name", "n_name")
        .agg(round(sum("o_totalprice"), 4).as("revenue"),
             count(lit(1)).as("n_orders"))),
    "q9_brand_profit" -> ((s, d) =>
      Tables.lineitem(s, d)
        .join(broadcast(Tables.part(s, d)), col("l_partkey") === col("p_partkey"))
        .join(broadcast(Tables.supplier(s, d)), col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(Tables.nation(s, d)), col("s_nationkey") === col("n_nationkey"))
        .groupBy("n_name", "p_brand")
        .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 4).as("profit"),
             count(lit(1)).as("n_items"))),
    "topk_orders" -> ((s, d) =>
      Tables.orders(s, d)
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
        .limit(10)
        .select(col("o_orderkey"), col("o_custkey"),
                round(col("o_totalprice"), 4).as("total_r"),
                unix_millis(col("o_orderdate").cast(TimestampType)).as("o_date_ms"))),
    "user_spend" -> ((s, d) =>
      Tables.events(s, d)
        .filter(col("event_type") === "purchase")
        .groupBy("user_id")
        .agg(round(sum("value"), 4).as("total_spend"), count(lit(1)).as("n_purchases"))),
    // RFM segmentation: per-user recency/frequency/monetary quintile scores
    // (5 = best). Monetary sums in exact integer cents; each quintile comes
    // from Sessionize.rankBucketed — the bucketed global rank (per-bucket
    // offsets off the tiny bucket axis + __rbk-partitioned row_numbers, no
    // single-task user sort) — then ntile's closed-form tile arithmetic,
    // bit-identical to the oracle's ntile(5) OVER (ORDER BY metric, user)
    "user_rfm" -> ((s, d) => {
      val ev = Tables.events(s, d)
      val ua = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"),
          graft.model.TimeCols.millis(ev, "ts").as("t"), col("value"))
        .groupBy("user_id")
        .agg(max("t").as("r_t"), count(lit(1)).as("f"),
          sum(round(col("value") * 100).cast("long")).as("m_cents"))
      val ranked = Sessionize.rankBucketed(
        Sessionize.rankBucketed(
          Sessionize.rankBucketed(ua,
            col("r_t"), col("user_id"), expr("r_t div 86400000"), "rr"),
          col("f"), col("user_id"), expr("f div 8"), "rf"),
        col("m_cents"), col("user_id"), expr("m_cents div 50000"), "rm")
      def tileOf(r: String) = expr(
        s"CASE WHEN $r <= (__n % 5) * (__n div 5 + 1)" +
        s" THEN ($r + __n div 5) div (__n div 5 + 1)" +
        s" ELSE __n % 5 + ($r - (__n % 5) * (__n div 5 + 1) + __n div 5 - 1)" +
        s" div (__n div 5) END")
      ranked
        .crossJoin(broadcast(ua.agg(count(lit(1)).as("__n"))))
        .withColumn("r_score", tileOf("rr"))
        .withColumn("f_score", tileOf("rf"))
        .withColumn("m_score", tileOf("rm"))
        .select(col("user_id"), col("r_t"), col("f"), col("m_cents"),
          col("r_score"), col("f_score"), col("m_score"),
          (col("r_score") * 100 + col("f_score") * 10 + col("m_score"))
            .as("segment"))
    }),
    // weekly cohort retention: users grouped by first-seen week, counted
    // in each later week they were active — two keyed aggregates and one
    // broadcast join; the classic product-analytics matrix
    "user_retention" -> ((s, d) => {
      val ev = Tables.events(s, d)
      val weekMs = 604800000L
      val base = ev.select(col("user_id"),
        (graft.model.TimeCols.millis(ev, "ts") / weekMs).cast("long").as("week"))
      val cohort = base.groupBy("user_id").agg(min("week").as("cohort_week"))
      base.distinct()
        .join(broadcast(cohort), "user_id")
        .groupBy(col("cohort_week"), (col("week") - col("cohort_week")).as("week_offset"))
        .agg(countDistinct("user_id").as("n_users"))
    }),
    // LTV cohort triangle: signup-week cohorts x week-age purchase revenue
    // in exact cents — the matrix every lifetime-value model trains on.
    // Same shape as user_retention: one keyed min for the cohort frontier
    // (broadcast), one map-combinable aggregate on the (cohort, age) axis;
    // the events table shuffles once
    "user_ltv_cohort" -> ((s, d) => {
      val ev = Tables.events(s, d)
      val weekMs = 604800000L
      val base = ev.select(col("user_id"), col("event_type"),
        (graft.model.TimeCols.millis(ev, "ts") / weekMs).cast("long").as("week"),
        round(col("value") * 100).cast("long").as("cents"))
      val cohort = base.groupBy("user_id").agg(min("week").as("cohort_week"))
      base.filter(col("event_type") === "purchase")
        .join(broadcast(cohort), "user_id")
        .groupBy(col("cohort_week"), (col("week") - col("cohort_week")).as("age_weeks"))
        .agg(countDistinct("user_id").as("n_buyers"),
          count(lit(1)).as("n_purchases"),
          sum("cents").as("revenue_cents"))
    }),
    // ordered funnel: first view -> first click AFTER it -> first purchase
    // after that, per user. Three keyed aggregates; each stage's per-user
    // frontier is a tiny broadcast side, the events table never shuffles
    "user_funnel" -> ((s, d) => {
      val ev = Tables.events(s, d)
      val base = ev.select(col("user_id"),
        graft.model.TimeCols.millis(ev, "ts").as("t"), col("event_type"))
      val v = base.filter(col("event_type") === "view")
        .groupBy("user_id").agg(min("t").as("t_view"))
      val c = base.filter(col("event_type") === "click").as("e")
        .join(broadcast(v), "user_id")
        .filter(col("t") > col("t_view"))
        .groupBy("user_id").agg(min("t").as("t_click"))
      val p = base.filter(col("event_type") === "purchase").as("e")
        .join(broadcast(c), "user_id")
        .filter(col("t") > col("t_click"))
        .groupBy("user_id").agg(min("t").as("t_purchase"))
      v.join(c.select("user_id", "t_click"), Seq("user_id"), "left")
        .join(p.select("user_id", "t_purchase"), Seq("user_id"), "left")
        .select(col("user_id"), col("t_view"), col("t_click"), col("t_purchase"),
          col("t_purchase").isNotNull.as("converted"))
    }),
    // windowed conversion funnel (the ClickHouse windowFunnel constraint
    // grafted onto the broadcast-frontier plan): each next stage must
    // land within W=2h of the PREVIOUS stage's time, not merely after
    // it — the "did they convert in one sitting" readout. Semantics are
    // the deterministic greedy chain (first view, first click in
    // (t_view, t_view+W], first purchase in (t_click, t_click+W]);
    // depth counts the matched stages. Same scale shape as user_funnel:
    // three keyed aggregates, frontiers broadcast, the events table
    // never shuffles
    "user_funnel_windowed" -> ((s, d) => {
      val W = 7200000L
      val ev = Tables.events(s, d)
      val base = ev.select(col("user_id"),
        graft.model.TimeCols.millis(ev, "ts").as("t"), col("event_type"))
      val v = base.filter(col("event_type") === "view")
        .groupBy("user_id").agg(min("t").as("t_view"))
      val c = base.filter(col("event_type") === "click").as("e")
        .join(broadcast(v), "user_id")
        .filter(col("t") > col("t_view") && col("t") <= col("t_view") + W)
        .groupBy("user_id").agg(min("t").as("t_click"))
      val p = base.filter(col("event_type") === "purchase").as("e")
        .join(broadcast(c), "user_id")
        .filter(col("t") > col("t_click") && col("t") <= col("t_click") + W)
        .groupBy("user_id").agg(min("t").as("t_purchase"))
      v.join(c.select("user_id", "t_click"), Seq("user_id"), "left")
        .join(p.select("user_id", "t_purchase"), Seq("user_id"), "left")
        .select(col("user_id"), col("t_view"), col("t_click"), col("t_purchase"),
          (lit(1L) + col("t_click").isNotNull.cast("long") +
            col("t_purchase").isNotNull.cast("long")).as("depth"))
    }),
    // bucketed split-merge sessionize: per-row work partitions by
    // (user, 2h bucket), so a hot user never serializes one sort task;
    // parity with the single-window form is pinned in SessionizeSpec
    "user_sessions" -> ((s, d) => {
      val ev = Tables.events(s, d)
      Sessionize.sessionsBucketed(ev.select(col("user_id"),
        graft.model.TimeCols.millis(ev, "ts").as("t"), col("value"), col("event_id")),
        gapMs = 3600000L)
    }),

    // ---- Text analysis ----------------------------------------------------
    "text_stats" -> ((s, d) =>
      Tables.documents(s, d).select(
        col("doc_id"),
        TextFunctions.tokenCount(col("text")).as("n_tokens"),
        size(TextFunctions.distinctTokens(col("text"))).cast("long").as("n_distinct"),
        TextFunctions.avgTokenLen(col("text")).as("avg_token_len"),
        TextFunctions.stopwordRatio(col("text")).as("stopword_ratio"),
        TextFunctions.punctRatio(col("text")).as("punct_ratio"))),
    "text_langid" -> ((s, d) =>
      Tables.documents(s, d).select(col("doc_id"),
        TextFunctions.langId(col("text")).as("lang_pred"))),
    "text_fingerprint" -> ((s, d) =>
      Tables.documents(s, d).select(col("doc_id"),
        TextFunctions.fingerprint(col("text")).as("fp"))),
    // winnowing fingerprints (SIGMOD'03): distinct minima of each w-hash
    // window over k-gram rolling hashes — any >= w+k-1 char substring
    // match between docs shares a fingerprint. idCap + prefix bound the
    // oracle's VALUES export of the raw hashes (DuckDB replays the window
    // min itself); the operator is uncapped columnar at scale
    "text_winnow" -> ((s, d) =>
      Tables.documents(s, d).filter(col("doc_id") < 50)
        .select(col("doc_id"),
          explode(graft.functions.RollingHash.winnow(
            substring(col("text"), 1, 400), 8, 4)).as("fp"))),
    "text_tokens_bpe" -> ((s, d) =>
      Tables.documents(s, d).select(col("doc_id"),
        size(regexp_extract_all(col("text"),
          lit("[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"), lit(0))).cast("long").as("n_bpe_tokens"))),
    "text_quality" -> ((s, d) => {
      val base = Tables.documents(s, d).select(
        col("doc_id"),
        TextFunctions.tokenCount(col("text")).as("n_tokens"),
        TextFunctions.stopwordRatio(col("text")).as("stop_r"),
        TextFunctions.punctRatio(col("text")).as("punct_r"))
      // fixed-form composite: length signal + cleanliness + stopword-ness
      // round at 5: the abstract value has at most 5 decimal digits, so no
      // rounding boundary exists and Spark/DuckDB round implementations agree
      val score = round(
        lit(0.4) * least(lit(1.0), col("n_tokens") / 20.0) +
        lit(0.3) * (lit(1.0) - col("punct_r")) +
        lit(0.3) * least(lit(1.0), col("stop_r") * 5.0), 5)
      base.select(col("doc_id"), col("n_tokens"), score.as("quality"),
        (score >= 0.5).as("keep"))
    }),

    // repetition signals (Gopher-style quality rules): share of the most
    // common 2-gram and of all repeated 2-grams — high values mark
    // boilerplate/spam for pretraining filtering. Computed as a PURE
    // PROJECTION: one run-length pass over the per-doc sorted gram array
    // (codegen'd lambda), zero explode/shuffle — frequency maps never
    // leave the row
    "text_repetition" -> ((s, d) => {
      // grams as 64-bit hashes, not strings: adjacent token hashes are
      // fused with xxhash64, so the per-doc sort and the run-length fold
      // below compare longs (collision odds ~n^2/2^64 per doc — noise).
      // The DuckDB oracle groups the gram STRINGS; equal multiplicities
      // either way, so the fractions hash-match.
      val toks = transform(TextFunctions.tokens(col("text")), t => xxhash64(t))
      val gramHashes = zip_with(
        slice(toks, lit(1), size(toks) - 1), slice(toks, lit(2), size(toks) - 1),
        (a, b) => xxhash64(a, b))
      val grams = array_sort(gramHashes)
      val acc0 = struct(lit(0L).as("prev"), lit(0L).as("run"), lit(0L).as("maxRun"),
        lit(0L).as("dups"), lit(0L).as("total"))
      val stats = aggregate(grams, acc0, (acc, g) => {
        val newRun = when(acc("total") > 0L && acc("prev") === g, acc("run") + 1L)
          .otherwise(lit(1L))
        struct(g.as("prev"), newRun.as("run"),
          greatest(acc("maxRun"), newRun).as("maxRun"),
          (acc("dups") + when(newRun === 2L, 2L).when(newRun > 2L, 1L).otherwise(0L)).as("dups"),
          (acc("total") + 1L).as("total"))
      })
      Tables.documents(s, d)
        .filter(size(TextFunctions.tokens(col("text"))) >= 2)
        .select(col("doc_id"), stats.as("st"))
        .select(col("doc_id"),
          round(col("st.maxRun").cast("double") / col("st.total"), 6).as("top_2gram_frac"),
          round(col("st.dups").cast("double") / col("st.total"), 6).as("dup_2gram_frac"))
    }),

    // ---- Dedup ------------------------------------------------------------
    "dedup_exact" -> ((s, d) =>
      Dedup.exact(Tables.documents(s, d)).select("doc_id", "text")),
    "dedup_fingerprint" -> ((s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"), TextFunctions.fingerprint(col("text")).as("fp"))
        .groupBy("fp")
        .agg(min("doc_id").as("keep_id"), count(lit(1)).as("n_copies"))),
    // idCap 500 (halved in round 5): the brute pair count dominates this
    // by-design-quadratic oracle's cost; half the ids = a quarter of the
    // pairs with identical coverage intent (minhash keeps the 1000 cap, so
    // the banded path is still exercised on the wider slice)
    "dedup_jaccard" -> ((s, d) =>
      Dedup.jaccardPairs(Tables.documents(s, d), tau = 0.8, idCap = 500L)),
    // LSH TUNING CURVE: measured band-join recall per jaccard decile
    // against the banding theory 1-(1-s^r)^b (r=4 rows/band, b=16 bands)
    // — the table every LSH deployment is tuned from, here hash-gated:
    // recall from exact integer hit counts, the theory column via plain
    // IEEE multiplications (squaring chain, no pow) mirrored textually
    "dedup_lsh_recall" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val truth = Dedup.jaccardPairs(docs, tau = 0.05, idCap = 500L)
      val bands = Dedup.minhashBands(docs.filter(col("doc_id") < 500))
      val cand = bands.as("a").join(bands.as("b"),
          col("a.band") === col("b.band") && col("a.bh") === col("b.bh") &&
          col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
        .distinct().withColumn("hit", lit(1L))
      truth.join(cand, Seq("id_a", "id_b"), "left")
        .groupBy(least(floor(col("jaccard") * 10), lit(9L)).cast("long")
          .as("decile"))
        .agg(count(lit(1)).as("n_pairs"),
          sum(coalesce(col("hit"), lit(0L))).as("n_caught"))
        .withColumn("s", col("decile").cast("double") / 10.0 + 0.05)
        .withColumn("q", lit(1.0) - col("s") * col("s") * col("s") * col("s"))
        .withColumn("q2", col("q") * col("q"))
        .withColumn("q4", col("q2") * col("q2"))
        .withColumn("q8", col("q4") * col("q4"))
        .select(col("decile"), col("n_pairs"), col("n_caught"),
          round(col("n_caught").cast("double") / col("n_pairs"), 6).as("recall"),
          round(lit(1.0) - col("q8") * col("q8"), 6).as("theory"))
    }),
    "dedup_minhash" -> ((s, d) =>
      Dedup.minhashLsh(Tables.documents(s, d).filter(col("doc_id") < 1000), tau = 0.8)),
    // EXACT similarity self-join via AllPairs/PPJoin prefix filtering —
    // the zero-recall-loss counterpart to the LSH screens. The oracle is
    // brute force over the same capped slice: hash equality proves the
    // prefix inverted-index candidate step loses nothing.
    "dedup_prefix" -> ((s, d) =>
      Dedup.prefixJaccardPairs(Tables.documents(s, d), tau = 0.7, idCap = 500L)),
    // SemDeDup-style semantic near-dup: quantizer-cell blocking over
    // embeddings, cosine verify within cells only (candidates ~ n^2/k,
    // recall bounded by cell splits — the paper's contract). The oracle
    // replays assignment from the exported centers and the within-cell
    // pair scan verbatim.
    "dedup_semantic" -> ((s, d) =>
      Dedup.semanticPairs(Tables.embeddings(s, d),
        Similarity.fitCenters(Tables.embeddings(s, d), 16), tau = 0.35, idCap = 1000L)),
    // rolling-ingest near-dup screen: new docs (odd id) that near-dup the
    // history corpus (even id) — bipartite band join + exact-jaccard
    // verify; the oracle replays candidates from the exported bands. The
    // even/odd split cuts through the fixture's dup clusters (all planted
    // near-dups live among doc_id < 500, so an id-threshold split would
    // make the gate vacuous)
    "dedup_incremental_near" -> ((s, d) =>
      Dedup.minhashLshIncremental(
        Tables.documents(s, d).filter(col("doc_id") < 1000),
        col("doc_id") % 2 === 0, tau = 0.8)),
    "dedup_ngram" -> ((s, d) => {
      import graft.functions.{SetSimilarity, TextFunctions}
      // shingles pre-hashed to sorted longs: the pair merge compares ints,
      // not strings (distinct counts survive, collisions ~n^2/2^64)
      val t = Tables.documents(s, d)
        .filter(col("doc_id") < 1000 && size(TextFunctions.tokens(col("text"))) >= 2)
        .select(col("doc_id"),
          array_sort(array_distinct(transform(
            TextFunctions.shingles(col("text"), 2), g => xxhash64(g)))).as("grams"))
        .withColumn("sz", size(col("grams")))
      t.as("a").join(t.as("b"), col("a.doc_id") < col("b.doc_id") &&
          Dedup.sizeFilter(0.5, col("a.sz"), col("b.sz")))
        .withColumn("jac", SetSimilarity.jaccard_sorted_long(col("a.grams"), col("b.grams")))
        .filter(col("jac") >= 0.5)
        .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"),
                round(col("jac"), 6).as("jaccard2"))
    }),
    "dedup_simhash" -> ((s, d) =>
      Dedup.simhashNearDup(Tables.documents(s, d))),
    // Blocked entity-resolution join: Jaro-Winkler >= 0.92 on 24-char doc
    // heads, candidates from an exact 4-char blocking key — the classic
    // block-then-verify ER plan. The verify step is the native codegen'd
    // JaroWinklerSim expression (a Scala UDF here would break whole-stage
    // codegen on exactly the per-block B² hot path). Hot blocks get the
    // minhashLsh triangular cell decomposition, so no task owns more than
    // ~cap² of a block's pairs and the pair set is bit-identical (each
    // pair meets in exactly one (i, j) cell — no distinct needed with a
    // single blocking key).
    "dedup_jaro" -> ((s, d) => {
      val h = Tables.documents(s, d)
        .select(col("doc_id"), substring(lower(trim(col("text"))), 1, 24).as("head"))
        .withColumn("blk", substring(col("head"), 1, 4))
      Dedup.blockedPairs(h, "doc_id", "blk", carry = Seq("head"))
        .select(col("id_a"), col("id_b"),
          graft.functions.JaroWinkler.jaro_winkler(col("head_a"), col("head_b")).as("jw"))
        .filter(col("jw") >= 0.92)
        .select(col("id_a"), col("id_b"), round(col("jw"), 4).as("jw"))
    }),
    // Intra-corpus repeated spans (the substring-level signal behind Lee
    // et al.: "Deduplicating training data makes language models better",
    // ACL 2022): token 8-grams appearing in >= 2 distinct documents, with
    // the earliest carrier. One shuffle keyed by the gram; the partial
    // (gram, doc) distinct combines map-side. The output IS the span text
    // — at 100 TB the same plan keys on the 8-byte rolling hash instead
    // (text_winnow is that hashed path) and resolves text per survivor.
    "dedup_spans" -> ((s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"),
          explode(TextFunctions.shingles(col("text"), 8)).as("gram"))
        .groupBy("gram")
        .agg(countDistinct("doc_id").cast("long").as("n_docs"),
             min("doc_id").as("first_doc"))
        .filter(col("n_docs") >= 2)),
    // Edit-distance near-dup via Dedup.editPairs: PassJoin pigeonhole
    // segment blocking (equi-join on segment text, skew-free on the
    // near-uniform key lengths that collapse length-band blocking), then
    // thresholded levenshtein on candidates only. The fixture's near-dups
    // are exact copies, so a deterministic doc_id%4 prefix chop (0/1/2
    // chars) manufactures real distance-1/2 pairs; the oracle replays the
    // same chop and a brute all-pairs levenshtein — blocking must lose
    // nothing.
    "dedup_edit" -> ((s, d) =>
      Dedup.editPairs(Tables.documents(s, d),
        expr("substring(substring(text, 1, 64), " +
          "1 + (CASE WHEN (doc_id % 4) = 1 THEN 1 " +
          "WHEN (doc_id % 4) = 2 THEN 2 ELSE 0 END))"),
        maxDist = 2, idCap = 800L)),
    // idCap 1000: covers every vector at the sf0.01 gate (500 ids) while
    // pinning the by-design-quadratic oracle's pair count at bench SFs
    "dedup_cosine" -> ((s, d) =>
      Dedup.cosinePairs(Tables.embeddings(s, d), tau = 0.35, idCap = 1000L)),
    // canonicalization: connected components over the near-dup pair graph
    // (id-capped like every brute-force oracle; covers all docs at the
    // sf0.01 gate, bounds the quadratic pair step at bench SF)
    "dedup_components" -> ((s, d) =>
      Dedup.connectedComponents(
        Dedup.jaccardPairs(Tables.documents(s, d), tau = 0.8, idCap = 500L))),
    // the keep/drop decision itself: per dup-cluster, keep the HIGHEST-
    // quality member (5dp-rounded quality, doc_id tiebreak — both engine-
    // stable). Selection is a min_by AGGREGATION, not a window: a window
    // partitioned by component serializes a mega-cluster (boilerplate text
    // can connect millions of docs) through one sort task, while the
    // aggregate combines map-side; (-q, doc_id) struct-min == (q desc,
    // doc_id asc) for NON-NULL q — docQuality is non-null by construction
    // (a null-text doc cannot form jaccard pairs, so no clustered doc
    // lacks a score); pinned in RewriteParitySpec.
    "dedup_canonical" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val comps = Dedup.connectedComponents(
        Dedup.jaccardPairs(docs, tau = 0.8, idCap = 500L))
      comps.join(docs.select(col("doc_id"), docQuality.as("q")), "doc_id")
        .groupBy("component")
        .agg(count(lit(1)).as("n_members"),
          min_by(struct(col("doc_id"), col("q")),
            struct(negate(col("q")), col("doc_id"))).as("k"))
        .select(col("component"), col("k.doc_id").as("keep_id"),
          col("n_members"), col("k.q").as("quality"))
    }),

    // TF-IDF: each document's highest-scoring term against the corpus IDF
    // (ln(N/df)); the df side is a broadcast-joined aggregate — at 100 TB
    // the vocabulary table is the small side, the corpus never re-shuffles
    "text_tfidf" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      // corpus size as a lazy broadcast scalar — no eager count job at
      // plan-construction time
      val nDocs = docs.agg(count(lit(1)).cast("double").as("n_docs"))
      // one explode, ONE shuffle on (doc_id, tok): tf rows are already
      // distinct per (doc, term), so df is a bare count over tf — the
      // exchange under tf is planned twice but ReuseExchange materializes
      // it once. This drops the old distinct() shuffle entirely.
      // The token array is materialized in its OWN projection before the
      // Generate: as a sibling of explode(split(..)), size(split(..))
      // re-runs the regex split per exploded output row (~25x slower,
      // measured) because the generator's Project re-inlines it.
      val toks = docs
        .select(col("doc_id"), TextFunctions.tokens(col("text")).as("arr"))
        .select(col("doc_id"), size(col("arr")).cast("long").as("n_tokens"),
          explode(col("arr")).as("tok"))
      val tf = toks.groupBy("doc_id", "tok", "n_tokens").agg(count(lit(1)).as("c"))
      val df = tf.groupBy("tok").agg(count(lit(1)).as("df"))
      val score = round((col("c") / col("n_tokens")) * log(col("n_docs") / col("df")), 6)
      // top term per doc via min_by on (-tfidf, tok) — same (rounded
      // score desc, tok asc) order as the oracle's row_number, but as a
      // partial-aggregable fold instead of a window sort
      tf.join(broadcast(df), "tok").crossJoin(broadcast(nDocs))
        .select(col("doc_id"), col("tok"), score.as("tfidf"))
        .groupBy("doc_id")
        .agg(min_by(struct(col("tok"), col("tfidf")),
          struct(negate(col("tfidf")), col("tok"))).as("top"))
        .select(col("doc_id"), col("top.tok").as("tok"), col("top.tfidf").as("tfidf"))
    }),
    // BM25 retrieval scoring (k1=1.2, b=0.75) for a fixed query-term set —
    // the ranking function behind corpus search / contamination lookups.
    // Bit-stability: each per-term score is scaled to integer MICROS before
    // the per-doc sum, so the cross-term total is an associative BIGINT sum
    // (no double accumulation-order drift); avgdl divides an exact BIGINT
    // token sum once, so both engines derive the identical double; the
    // top-100 rank breaks ties on doc_id. The limit plans as
    // TakeOrderedAndProject — a bounded per-partition heap, no global sort.
    "text_bm25" -> ((s, d) => bm25Top100(s, d)),
    // quality-weighted sampling: keep probability proportional to the doc's
    // quality score, decided by the same Knuth-hash buckets — the "sample
    // the good half" pass, reproducible across engines/runs/partitionings
    "sample_quality" -> ((s, d) => {
      val bucket = pmod(pmod(col("doc_id") * lit(2654435761L), lit(4294967296L)), lit(1000L))
      Tables.documentsPlain(s, d)
        .select(col("doc_id"), docQuality.as("quality"), bucket.as("bucket"))
        .filter(col("bucket") < (col("quality") * 500.0).cast("long"))
        .select(col("doc_id"), col("quality"))
    }),
    // deterministic stratified sampling: per-source keep rates decided by
    // Knuth-hash buckets — reproducible across engines/runs, no RNG
    "sample_stratified" -> ((s, d) => {
      val bucket = pmod(pmod(col("doc_id") * lit(2654435761L), lit(4294967296L)), lit(1000L))
      val rate = when(col("source").isin("src0", "src1"), 1000L)
        .when(col("source") === "src2", 500L).otherwise(100L)
      Tables.documentsPlain(s, d).filter(bucket < rate).select("doc_id", "source")
    }),

    // ---- Training-batch assembly ------------------------------------------
    // bucketed prefix-sum plan: the only partition-less window runs over
    // the aggregated bucket axis, never the corpus (see contiguousPackBucketed).
    // bucketSize 128 so the gate SFs genuinely split (sf0.001's doc_ids
    // 0..499 span 4 buckets, sf0.01 ~40) — the cross-bucket offset carry is
    // then pinned by the hash gate and RewriteParitySpec, not just
    // PackingSpec's synthetic fixture; output is bucketSize-invariant, so
    // the oracle SQL is unchanged (production default stays 65536)
    "pack_sequences" -> ((s, d) =>
      Packing.contiguousPackBucketed(Tables.documents(s, d), budgetTokens = 2048L,
        tokensCol = TextFunctions.tokenCount(col("text")), bucketSize = 128L)),
    "split_assign" -> ((s, d) =>
      Packing.splitAssign(Tables.documents(s, d))
        .select("doc_id", "split_bucket", "split")),
    // Split-leakage AUDIT — the measuring counterpart of
    // split_leakage_safe: under the naive doc-id split, how many exact-
    // duplicate PAIRS straddle split boundaries (each is a training
    // example the eval set also contains verbatim). One hash-keyed
    // aggregate to per-text split counts (the 16-byte composite
    // Dedup.textKey, NOT a bare 64-bit hash — at the 10^10-doc design
    // point a bare hash merges distinct texts and inflates the leakage
    // counts; the oracle groups by the text itself, the outputs carry no
    // key), then one scalar roll-up of the cross-products. Zero pairs is
    // the bar split_leakage_safe meets by construction.
    "split_contamination" -> ((s, d) => {
      val docs = Packing.splitAssign(Tables.documents(s, d))
      val perText = docs.groupBy(Dedup.textKey(col("text")).as("fp"))
        .agg(sum(when(col("split") === "train", 1L).otherwise(0L)).as("ct"),
             sum(when(col("split") === "val", 1L).otherwise(0L)).as("cv"),
             sum(when(col("split") === "test", 1L).otherwise(0L)).as("cs"))
      perText.agg(
        sum(col("ct") * col("cv")).as("train_val_pairs"),
        sum(col("ct") * col("cs")).as("train_test_pairs"),
        sum(col("cv") * col("cs")).as("val_test_pairs"),
        sum(when((col("ct") > 0 && col("cv") > 0) ||
                 (col("ct") > 0 && col("cs") > 0) ||
                 (col("cv") > 0 && col("cs") > 0), 1L).otherwise(0L))
          .as("n_leaked_groups"))
    }),
    // leakage-safe splits: a near-dup CLUSTER travels to one split — the
    // split hash keys on the cluster's canonical (min) doc_id, so a
    // train/test pair can never be near-duplicates of each other (the
    // contamination hazard doc-level hashing leaves open). Singletons hash
    // on their own id: coalesce(component, doc_id) IS the cluster id.
    // Same capped pair graph as dedup_components, so the oracle reuses
    // that recursive CTE.
    "split_leakage_safe" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val comps = Dedup.connectedComponents(
        Dedup.jaccardPairs(docs, tau = 0.8, idCap = 500L))
      val base = docs.filter(col("doc_id") < 500)
        .join(comps, Seq("doc_id"), "left")
        .select(col("doc_id"), coalesce(col("component"), col("doc_id")).as("cluster_id"))
      Packing.splitAssign(base, idCol = "cluster_id")
        .select("doc_id", "cluster_id", "split_bucket", "split")
    }),
    // no-straddle next-fit bins per source shard — the non-associative
    // scan, as per-partition imperative logic (see Packing.nextFitPack)
    "pack_greedy" -> ((s, d) =>
      Packing.nextFitPack(Tables.documents(s, d), budgetTokens = 512L,
        tokensCol = TextFunctions.tokenCount(col("text")), shardCol = col("source"))),
    // the end-to-end curation pipeline every pretraining corpus runs:
    // exact-dedup -> language gate -> quality gate -> length gate, composed
    // from the same columnar primitives the individual gates check
    "pipeline_filter" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val deduped = Dedup.exact(docs)
      deduped
        .filter(TextFunctions.langId(col("text")) === "en")
        .select(col("doc_id"), TextFunctions.tokenCount(col("text")).as("n_tokens"),
          docQuality.as("quality"))
        .filter(col("quality") >= 0.5 && col("n_tokens").between(20, 500))
    }),

    // THE end-to-end training-data recipe, composed from the library's
    // own stages — the integration readout that the primitives compose:
    // curate (exact-dedup -> langid -> quality -> length) -> mix (<= 15
    // docs per source in seeded-shuffle order, via the boundary-bucket
    // quota selection — no per-source sort task) -> pack (next-fit
    // 512-token bins per source). The hash pins every surviving doc's
    // final (shard, bin) assignment, so drift in ANY stage breaks the
    // gate — the composition contract, not just the stages in isolation.
    "pipeline_recipe" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val kept = Dedup.exact(docs)
        .filter(TextFunctions.langId(col("text")) === "en")
        .select(col("doc_id"), col("source"),
          TextFunctions.tokenCount(col("text")).as("n_tokens"),
          docQuality.as("quality"))
        .filter(col("quality") >= 0.5 && col("n_tokens").between(20, 500))
      // mixture step: the seeded-shuffle bucket is the epoch-shuffle md5
      // convention; (bucket, doc_id) is the selection order
      // materialize curate before mix (r13 — the lesson PERF.md recorded
      // from the 10M-doc soak, 72.5 s staged vs 177 s fused, applied to
      // the gate itself): the quota selection reads its input twice and
      // the quota axis a third time, so without this the whole
      // dedup->langid->quality curate stage replays per reference
      val keyed = kept.withColumn("bucket",
        substring(md5(encode(
          concat(lit("mix:"), col("doc_id").cast("string")), "UTF-8")), 1, 2))
        .localCheckpoint()
      val quotas = keyed.select(col("source")).distinct()
        .withColumn("quota", lit(15L))
      val mixed = Packing.takeQuotaByGroup(keyed, quotas)
      Packing.nextFitPack(mixed, budgetTokens = 512L,
        tokensCol = col("n_tokens"), shardCol = col("source"))
    }),

    // ---- Similarity search ------------------------------------------------
    "ann_topk" -> ((s, d) =>
      Similarity.bruteForceTopK(Tables.embeddings(s, d), nQueries = 5, k = 5)),
    // Matryoshka truncation eval (Kusupati et al., NeurIPS 2022): how
    // much of the full-dimension top-5 survives when vectors are cut to
    // their first 16 of 64 dims — the dimension-vs-recall tradeoff
    // measured before shipping truncated embeddings. Both retrievals are
    // the broadcast-query bounded-heap plan; the overlap join rides two
    // ≤25-row lists
    "embed_mrl_truncate" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val full = Similarity.bruteForceTopK(emb, nQueries = 5, k = 5)
        .select(col("query_id"), col("neighbor_id"), lit(1L).as("__hit"))
      val trunc = Similarity.bruteForceTopK(
        emb.select(col("vec_id"), slice(col("embedding"), 1, 16).as("embedding"),
          col("label")), nQueries = 5, k = 5)
        .select(col("query_id"), col("neighbor_id"))
      trunc.join(broadcast(full), Seq("query_id", "neighbor_id"), "left")
        .groupBy("query_id")
        .agg(count(lit(1)).as("k"),
          sum(coalesce(col("__hit"), lit(0L))).as("n_kept"))
        .select(col("query_id"), col("k"), col("n_kept"),
          round(col("n_kept").cast("double") / col("k"), 6).as("recall16"))
    }),
    // Whitening ablation: recall of the raw-cosine top-5 under per-dim
    // standardization — the preprocessing eval run before shipping
    // whitened embeddings (anisotropy correction). Per-dim (n, Σ, Σx²)
    // come from ONE bounded exact-integer-micros aggregate (64 rows
    // collected — the embed_dim_stats convention); mean/sd and the
    // whitened coordinates are fixed IEEE expressions over those exact
    // integers mirrored textually by the oracle, so both engines whiten
    // to bit-identical doubles before the 6dp-rounded cosine. Both
    // retrievals are the broadcast-query bounded-heap plan; the overlap
    // join rides two <=25-row lists (the embed_mrl_truncate shape).
    "embed_whiten_recall" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val stats = Similarity.prepPublic(emb)
        .select(posexplode(col("v")))
        .select(col("pos"), expr("CAST(round(col * 1000000, 0) AS BIGINT)").as("xm"))
        .groupBy("pos")
        .agg(count(lit(1)).as("n"), sum("xm").as("sm"),
          sum(expr("xm * xm")).as("qm"))
        .collect().map(r => (r.getInt(0),
          (r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
      val dims = stats.size
      val mean = (0 until dims).map { j =>
        val (n, sm, _) = stats(j); sm.toDouble / n
      }
      val sd = (0 until dims).map { j =>
        val (n, sm, qm) = stats(j)
        math.sqrt((qm.toDouble - sm.toDouble * sm.toDouble / n) / n)
      }
      val meanLit = array(mean.map(lit): _*)
      val sdLit = array(sd.map(lit): _*)
      val wv = expr(
        "transform(sequence(0, size(v) - 1), " +
        "j -> CASE WHEN __sd[j] = 0D THEN 0D " +
        "ELSE (CAST(CAST(round(v[j] * 1000000, 0) AS BIGINT) AS DOUBLE) - __mu[j]) / __sd[j] END)")
      val white = Similarity.prepPublic(emb)
        .withColumn("__mu", meanLit).withColumn("__sd", sdLit)
        .select(col("vec_id"), wv.as("embedding"))
      val full = Similarity.bruteForceTopK(emb, nQueries = 5, k = 5)
        .select(col("query_id"), col("neighbor_id"), lit(1L).as("__hit"))
      val wtop = Similarity.bruteForceTopK(white, nQueries = 5, k = 5)
        .select(col("query_id"), col("neighbor_id"))
      wtop.join(broadcast(full), Seq("query_id", "neighbor_id"), "left")
        .groupBy("query_id")
        .agg(count(lit(1)).as("k"),
          sum(coalesce(col("__hit"), lit(0L))).as("n_kept"))
        .select(col("query_id"), col("k"), col("n_kept"),
          round(col("n_kept").cast("double") / col("k"), 6).as("recall_white"))
    }),
    // Hybrid retrieval via reciprocal-rank fusion (Cormack et al.,
    // SIGIR'09): the BM25 lexical top-100 and the dense cosine top-100
    // (query = vec 0, doc_id ↔ vec_id) fused by Σ 1/(60 + rank), kept in
    // exact integer micros (1000000 div (60+r)) so the hash gate holds.
    // Scale shape: both inputs are BOUNDED top-k lists (bounded-heap /
    // TakeOrderedAndProject), so the rank windows and the full-outer
    // fusion join ride a ≤100-row axis — never the corpus
    "ann_rrf_hybrid" -> ((s, d) => {
      val bm = bm25Top100(s, d)
        .withColumn("r1", row_number().over(
          Window.orderBy(col("bm25_micros").desc, col("doc_id").asc)))
        .select(col("doc_id"), col("r1"))
      val cos = Similarity.bruteForceTopK(Tables.embeddings(s, d), nQueries = 1, k = 100)
        .withColumn("r2", row_number().over(
          Window.orderBy(col("sim").desc, col("neighbor_id").asc)))
        .select(col("neighbor_id").as("doc_id"), col("r2"))
      bm.join(cos, Seq("doc_id"), "full_outer")
        .select(col("doc_id"),
          (coalesce(expr("1000000 div (60 + r1)"), lit(0L)) +
            coalesce(expr("1000000 div (60 + r2)"), lit(0L))).as("rrf_micros"))
        .orderBy(col("rrf_micros").desc, col("doc_id").asc)
        .limit(50)
    }),
    "ann_lsh" -> ((s, d) =>
      Similarity.lshCosinePairs(Tables.embeddings(s, d), tau = 0.3)),
    // ANN EVALUATION: recall@5 of the sign-LSH screen against the brute
    // top-5 ground truth, per query — the metric every approximate index
    // must report before it replaces the exact scan. A neighbor is
    // "retrieved" iff it shares the query's bucket; hits and recall are
    // exact integers / an integer ratio, so the gate hash-compares. The
    // oracle replays the brute ranking in SQL and imports the exported
    // bucket assignments (the ann_lsh convention)
    "ann_recall" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val brute = Similarity.bruteForceTopK(emb, nQueries = 5, k = 5)
      val bk = Similarity.signBuckets(emb).select("vec_id", "bucket")
      val qb = bk.filter(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"), col("bucket").as("qb"))
      brute
        .join(broadcast(qb), "query_id")
        .join(bk.select(col("vec_id").as("neighbor_id"),
          col("bucket").as("nb")), "neighbor_id")
        .groupBy("query_id")
        .agg(count(lit(1)).as("k"),
          sum(when(col("nb") === col("qb"), 1L).otherwise(0L)).as("n_hit"))
        .select(col("query_id"), col("k"), col("n_hit"),
          round(col("n_hit").cast("double") / col("k"), 6).as("recall"))
    }),
    "ann_quantize" -> ((s, d) =>
      Quantization.quantizeSummary(Tables.embeddings(s, d))),
    // product quantization: 8 subspaces x 16 centers — codes + rounded
    // subspace distances in long form; the oracle re-derives every code
    // from the exported codebooks (deterministic fit, so the gate's own
    // fit and the export are bit-identical). vec_id cap bounds the
    // oracle's cross join, not the operator
    "ann_pq" -> ((s, d) => {
      val emb = Tables.embeddings(s, d).filter(col("vec_id") < 500)
      val cb = Similarity.pqFit(emb, m = 8, k = 16)
      Similarity.pqEncode(emb, cb)
    }),
    // ADC top-5 over the coded corpus: integer lookup-table sums, one
    // shuffle-free scan; oracle re-derives codes + tables from the same
    // exported codebooks and replays the ranking
    "ann_pq_search" -> ((s, d) => {
      val emb = Tables.embeddings(s, d).filter(col("vec_id") < 500)
      val cb = Similarity.pqFit(emb, m = 8, k = 16)
      Similarity.pqSearch(emb, cb, nQueries = 5, k = 5)
    }),
    // two-stage retrieval: ADC top-20 shortlist from the compressed
    // corpus, then exact-cosine rerank of ONLY those candidates — the
    // compressed-first-stage pattern production retrieval runs at scale;
    // the oracle replays shortlist + rerank from the exported codebooks
    "ann_rerank" -> ((s, d) => {
      val emb = Tables.embeddings(s, d).filter(col("vec_id") < 500)
      val cb = Similarity.pqFit(emb, m = 8, k = 16)
      Similarity.pqRerank(emb, cb, nQueries = 5, nShortlist = 20, k = 5)
    }),
    // two-stage retrieval over PERSISTED stores with deletion on BOTH
    // (r12 verdict task 6): the shortlist reads the stored PQ index
    // (tombstone-masked), the exact rerank reads the stored raw-vector
    // table (masked AGAIN — a deleted vector cannot resurface through a
    // stale shortlist), and the raw read prunes to the shortlist's cell
    // partitions. Oracle = the ann_rerank replay with the doomed ids
    // excluded by predicate.
    "ann_rerank_indexed" -> ((s, d) => {
      val base = scratchDir("rrk", d)
      val (coded, raw) = (base + "/pq", base + "/raw")
      val emb = Tables.embeddings(s, d).filter(col("vec_id") < 500)
      Similarity.writePqIndex(emb, coded, m = 8, k = 16)
      Similarity.writeIvfIndex(emb, raw)
      val doomed = emb.filter(col("vec_id") % 7 === 6).select("vec_id")
      Similarity.deleteFromPqIndex(s, coded, doomed) // takedown reaches
      Similarity.deleteFromIvf(s, raw, doomed)       // BOTH stores
      val q = emb.filter(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"), col("embedding"))
      Similarity.rerankIndexed(s, coded, raw, q, nShortlist = 20, k = 5)
    }),
    // IVFADC: coarse cell (rounded argmin) + residual PQ codes — the
    // billion-scale index layout; oracle replays assignment, residuals
    // and codes from the exported centers + residual codebooks
    "ann_ivfpq" -> ((s, d) => {
      val emb = Tables.embeddings(s, d).filter(col("vec_id") < 500)
      val centers = Similarity.fitCenters(emb, 8)
      val cb = Similarity.ivfPqFit(emb, centers, m = 8, k = 16)
      Similarity.ivfPqEncode(emb, centers, cb)
    }),
    // IVFADC search: probe 3 of 8 cells, integer residual-lut sums over
    // probed vectors only — inverted-list pruning + compressed scan
    "ann_ivfpq_search" -> ((s, d) => {
      val emb = Tables.embeddings(s, d).filter(col("vec_id") < 500)
      val centers = Similarity.fitCenters(emb, 8)
      val cb = Similarity.ivfPqFit(emb, centers, m = 8, k = 16)
      Similarity.ivfPqSearch(emb, centers, cb, nQueries = 5, nProbe = 3, k = 5)
    }),
    "ann_ivf" -> ((s, d) =>
      Similarity.ivfTopK(Tables.embeddings(s, d), nQueries = 5, k = 5)),
    // the PERSISTED index path — the actual 100 TB query shape: corpus
    // parquet partitioned by cell, probes prune partitions on disk
    // (IvfSpec asserts the PartitionFilters). Same deterministic fit as
    // ann_ivf (seeded sample KMeans), so the oracle replays the same
    // exported cell/probe literals; what this gate adds is the
    // write -> partition-pruned read round trip.
    "ann_ivf_indexed" -> ((s, d) => {
      val idx = scratchDir("ivf", d)
      Similarity.writeIvfIndex(Tables.embeddings(s, d), idx)
      val q = Tables.embeddings(s, d).filter(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"), col("embedding"))
      Similarity.ivfTopKIndexed(s, idx, q, k = 5)
    }),
    // index DELETION: the data-removal path every retrieval corpus
    // eventually needs (flagged docs, takedown/unlearning). The doomed
    // ids land as a (cell, vec_id) tombstone batch committed by one
    // rename — O(flagged), never a vector rewrite — search anti-joins
    // the set, and the fold (compactIvfIndex, exercised in-gate) rewrites
    // ONLY the touched cell partitions. The oracle searches the same
    // probes with the doomed ids excluded by predicate: masked search ==
    // folded search == retained-corpus truth.
    "ann_ivf_delete" -> ((s, d) => {
      val idx = scratchDir("ivfd", d)
      val emb = Tables.embeddings(s, d)
      Similarity.writeIvfIndex(emb, idx)
      Similarity.deleteFromIvf(s, idx,
        emb.filter(col("vec_id") % 7 === 6).select("vec_id"))
      val q = emb.filter(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"), col("embedding"))
      val masked = Similarity.ivfTopKIndexed(s, idx, q, k = 5)
        .localCheckpoint() // materialize the masked view BEFORE the fold
      Similarity.compactIvfIndex(s, idx)
      // materialized too (r13): the guard below references the folded view
      // THREE times (result + both exceptAll sides) — one partition-pruned
      // search instead of three replays
      val folded = Similarity.ivfTopKIndexed(s, idx, q, k = 5)
        .localCheckpoint()
      // the gate hashes the folded view; masked-vs-folded equality rides
      // the same result via an exceptAll guard (empty iff identical)
      val diff = masked.exceptAll(folded).unionAll(folded.exceptAll(masked))
      folded.join(broadcast(diff.limit(1)), lit(true), "left_anti")
    }),
    // takedown completeness (r11 verdict task 5): the SAME lifecycle for
    // the derived CODED corpora — flat-PQ partitioned by a vec_id hash
    // bucket (its delete/fold scale unit), tombstone-batch delete, masked
    // ADC search, bucket-scoped fold. Oracle = the ann_pq_search replay
    // with the doomed ids excluded by predicate; masked == folded rides
    // the exceptAll guard.
    "ann_pq_delete" -> ((s, d) => {
      val idx = scratchDir("pqd", d)
      val emb = Tables.embeddings(s, d).filter(col("vec_id") < 500)
      Similarity.writePqIndex(emb, idx, m = 8, k = 16)
      Similarity.deleteFromPqIndex(s, idx,
        emb.filter(col("vec_id") % 7 === 6).select("vec_id"))
      val q = emb.filter(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"), col("embedding"))
      val masked = Similarity.pqSearchIndexed(s, idx, q, k = 5)
        .localCheckpoint()
      Similarity.compactPqIndex(s, idx)
      val folded = Similarity.pqSearchIndexed(s, idx, q, k = 5)
        .localCheckpoint() // referenced 3x by the guard — see ann_ivf_delete
      val diff = masked.exceptAll(folded).unionAll(folded.exceptAll(masked))
      folded.join(broadcast(diff.limit(1)), lit(true), "left_anti")
    }),
    // and for IVFADC: cell-partitioned residual codes, partition-pruned
    // probes, cell-scoped fold — the billion-scale index's removal path
    "ann_ivfpq_delete" -> ((s, d) => {
      val idx = scratchDir("ipqd", d)
      val emb = Tables.embeddings(s, d).filter(col("vec_id") < 500)
      Similarity.writeIvfPqIndex(emb, idx, nCells = 8, m = 8, k = 16)
      Similarity.deleteFromIvfPqIndex(s, idx,
        emb.filter(col("vec_id") % 7 === 6).select("vec_id"))
      val q = emb.filter(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"), col("embedding"))
      val masked = Similarity.ivfPqSearchIndexed(s, idx, q, nProbe = 3, k = 5)
        .localCheckpoint()
      Similarity.compactIvfPqIndex(s, idx)
      val folded = Similarity.ivfPqSearchIndexed(s, idx, q, nProbe = 3, k = 5)
        .localCheckpoint() // referenced 3x by the guard — see ann_ivf_delete
      val diff = masked.exceptAll(folded).unionAll(folded.exceptAll(masked))
      folded.join(broadcast(diff.limit(1)), lit(true), "left_anti")
    }),
    // index MAINTENANCE: build on the even-id history, append the odd-id
    // arrivals against the STORED centers (no refit, map-only assignment +
    // partitioned append), search the merged index. The oracle replays the
    // equivalent single-shot model — all vectors assigned under the
    // history-fit centers — so the gate proves append == rebuild-with-
    // frozen-centers, the invariant that makes incremental maintenance
    // safe at 100 TB.
    "ann_ivf_append" -> ((s, d) => {
      val idx = scratchDir("ivfa", d)
      val emb = Tables.embeddings(s, d)
      Similarity.writeIvfIndex(emb.filter(col("vec_id") % 2 === 0), idx)
      Similarity.appendIvfIndex(emb.filter(col("vec_id") % 2 === 1), idx)
      val q = emb.filter(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"), col("embedding"))
      Similarity.ivfTopKIndexed(s, idx, q, k = 5)
    }),

    // ---- Observe fan-out (batch-replay of the streaming plan) -------------
    "obs_fanout" -> ((s, d) => {
      import graft.streaming.ObserveService
      import graft.streaming.ObserveService.Subscription
      import s.implicits._
      val ev = TsModel.tsBlob(s, d).select(
        col("t").as("ts"), concat(lit("/ts/"), col("series_id")).as("uri_path"),
        lit("json").as("format"), col("blob").as("payload"),
        lit("POST").as("method"), lit("client.local").as("client"),
        lit(65).as("respCode"))
      val subs = Seq(
        Subscription("u-exact", "/ts/purchase", "json", "data", 1704067200000L, 0L),
        Subscription("u-wild", "/ts/*", "json", "data", 1704067200000L, 1209600L), // expires Jan 15
        Subscription("u-fmt", "/ts/error", "text", "data", 1704067200000L, 0L)
      ).toDF()
      ObserveService.dataFanout(ev, subs)
    }),
    // streaming EWMA, batch-replayed: the gate runs the SAME per-tick
    // recursion step the state store carries across micro-batches
    // (StreamingStats.step — ewmaStream applies it via foldTicks,
    // ewmaReplay applies it directly); the oracle reproduces the
    // identical left fold with list_reduce over the ordered prefix
    "stream_ewma_replay" -> ((s, d) => {
      import s.implicits._
      val ticks = ts(s, d)
        .select(col("series_id"), col("t"), col("event_id"), col("value"))
        .as[graft.streaming.StreamingStats.Tick]
      graft.streaming.StreamingStats.ewmaReplay(ticks, alpha = 0.2).toDF()
        .select(col("series_id"), col("t"), col("event_id"),
          round(col("ewma"), 6).as("ewma"))
    }),
    // streaming per-series z-monitor, batch-replayed: the state is THREE
    // EXACT LONGS (n, Σcents, Σcents²), so the replay is a plain
    // strict-history window aggregate — no sequential fold, no float-
    // order pinning — and the z formula is one fixed IEEE expression
    // over integers shared textually by StreamingZscore.step, the
    // replay, and the oracle
    "stream_zscore_replay" -> ((s, d) => {
      import s.implicits._
      val ticks = ts(s, d)
        .select(col("series_id"), col("t"), col("event_id"),
          round(col("value") * 100).cast("long").as("c"))
        .as[graft.streaming.StreamingZscore.Tick]
      graft.streaming.StreamingZscore.zscoreReplay(ticks).toDF()
    }),
    // per-event watermark admission, batch-replayed: an event drops when
    // its event time lags the max event time seen so far (in simulated
    // arrival order = event time + deterministic <=2h jitter) by >1h.
    // The strict-prefix max decomposes over arrival-hour buckets
    // (StreamingWatermark.admittedBucketed): per-bucket max, a lagged
    // running max on the tiny hour axis, and within-bucket prefix
    // windows — never a global single-task sort
    "stream_latedrop_replay" -> ((s, d) => {
      val ev = Tables.events(s, d)
      val arr = ev.select(graft.model.TimeCols.millis(ev, "ts").as("t"),
          col("event_id"), round(col("value") * 100).cast("long").as("c"))
        .withColumn("ak",
          col("t") + expr("(event_id * 2654435761L) % 4294967296L % 7200000L"))
      graft.streaming.StreamingWatermark.admittedBucketed(arr, delayMs = 3600000L)
        .groupBy(expr("t div 3600000").as("hour"))
        .agg(sum(when(col("kept"), 1L).otherwise(0L)).as("kept"),
             sum(when(col("kept"), 0L).otherwise(1L)).as("dropped"),
             sum(when(col("kept"), col("c")).otherwise(0L)).as("kept_cents"))
    }),
    // streaming sessionize, batch-replayed: the gate folds the SAME
    // per-event transition the state store carries across micro-batches
    // (StreamingSessionize.advance, shared by sessionizeStream and
    // sessionizeReplay); the oracle is the batch gap-session definition
    // with the session sum as the identical ordered left fold
    "stream_sessionize_replay" -> ((s, d) => {
      import s.implicits._
      val ev = Tables.events(s, d)
      val sessEv = ev.select(col("user_id"),
          timestamp_millis(graft.model.TimeCols.millis(ev, "ts")).as("ts"),
          col("event_id"), col("value"))
        .as[graft.streaming.StreamingSessionize.SessEvent]
      graft.streaming.StreamingSessionize.sessionizeReplay(sessEv, gapMs = 3600000L)
        .toDF()
        .select(col("user_id"), col("t_start"), col("t_end"), col("n_events"),
          round(col("session_value"), 4).as("session_value"))
    }),
    // streaming first-occurrence dedup, batch-replayed: the gate folds the
    // SAME admit/suppress decision the state store carries per key
    // (StreamingDedup.step, shared by dedupStream and dedupReplay) over the
    // full history — first (t, event_id) per (user, event_type) wins on
    // both sides
    "stream_dedup_replay" -> ((s, d) => {
      import s.implicits._
      val ev = Tables.events(s, d)
      val keyed = ev.select(
          concat_ws("|", col("user_id"), col("event_type")).as("key"),
          graft.model.TimeCols.millis(ev, "ts").as("t"), col("event_id"))
        .as[graft.streaming.StreamingDedup.KeyedEvent]
      graft.streaming.StreamingDedup.dedupReplay(keyed).toDF()
    }),

    // ---- Corpus hygiene (round 3) -----------------------------------------
    // PII redaction over deterministically dirtied text: the synthetic
    // corpus carries no natural PII, so the gate splices a doc_id-derived
    // email/IP/phone into each document and both engines must scrub them
    // identically — a cross-engine check of the regex semantics themselves
    "pii_redact" -> ((s, d) => {
      import graft.functions.Pii
      val dirty = concat_ws(" ",
        substring(col("text"), 1, 40),
        concat(lit("user"), col("doc_id").cast("string"), lit("@mail.example.com")),
        concat(lit("192.168."), (col("doc_id") % 256).cast("string"), lit("."),
          ((col("doc_id") * 7) % 256).cast("string")),
        concat(lit("555-"), lpad((col("doc_id") % 1000).cast("string"), 3, "0"),
          lit("-"), lpad(((col("doc_id") * 3) % 10000).cast("string"), 4, "0")))
      Tables.documents(s, d)
        .select(col("doc_id"), dirty.as("dirty"))
        .select(col("doc_id"), Pii.redact(col("dirty")).as("clean"),
          Pii.emailCount(col("dirty")).as("n_email"),
          Pii.ipv4Count(col("dirty")).as("n_ip"),
          Pii.phoneCount(col("dirty")).as("n_phone"))
    }),
    // benchmark decontamination: 5-gram overlap of every corpus doc against
    // the "eval suite" (every 50th doc stands in for it)
    "text_contamination" -> ((s, d) =>
      CorpusAnalysis.ngramContamination(Tables.documents(s, d),
        col("doc_id") % 50 === 0, n = 5)),
    // unigram LM fluency score (KenLM stand-in)
    "text_logprob" -> ((s, d) =>
      CorpusAnalysis.unigramLogProb(Tables.documents(s, d))),
    // bigram conditional LM — the next rung on the fluency ladder
    "text_logprob2" -> ((s, d) =>
      CorpusAnalysis.bigramLogProb(Tables.documents(s, d))),
    // DSIR importance weights (NeurIPS'23): mean log-likelihood ratio of a
    // target-domain (lang='en') unigram model vs the raw-corpus model,
    // add-one smoothed — the principled "select data that looks like the
    // target" scorer. Both models broadcast; one corpus pass
    "sample_dsir" -> ((s, d) =>
      CorpusAnalysis.importanceWeights(Tables.documentsPlain(s, d),
        col("lang") === "en")),
    // linear classifier serving: top-256 vocab, deterministic integer
    // weights, bag-of-words dot product — all-BIGINT so the scores
    // hash-compare exactly; missing-vocab docs score 0, not dropped
    "text_classifier" -> ((s, d) =>
      CorpusAnalysis.linearScore(Tables.documents(s, d), vocabSize = 256)),
    // rolling vocabulary novelty: the fraction of a doc's token
    // occurrences whose token FIRST appears in this doc (first carrier =
    // min doc_id — the dedup_spans convention) — the corpus-freshness
    // signal behind crawl-frontier prioritization. One token aggregate,
    // broadcast first-carrier table, one per-doc aggregate
    "text_novelty" -> ((s, d) => {
      val toks = Tables.documents(s, d)
        .select(col("doc_id"), explode(TextFunctions.tokens(col("text"))).as("tok"))
      val first = toks.groupBy("tok").agg(min("doc_id").as("first_doc"))
      toks.join(broadcast(first), "tok")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_tokens"),
          sum(when(col("first_doc") === col("doc_id"), 1L).otherwise(0L))
            .as("n_novel"))
        .select(col("doc_id"), col("n_tokens"), col("n_novel"),
          round(col("n_novel").cast("double") / col("n_tokens"), 6).as("novelty"))
    }),
    // domain-mixture weights: per-source token mass and the α=0.5
    // temperature weight sqrt(tokens)/Σsqrt(tokens) (sqrt is IEEE-exact on
    // both engines) — the data-recipe step before sampling
    "sample_domain_mix" -> ((s, d) =>
      CorpusAnalysis.domainMixture(Tables.documentsPlain(s, d), "source")),
    // rolling-crawl ingest: drop incoming docs whose fingerprint is already
    // in the historical half
    "dedup_incremental" -> ((s, d) =>
      Dedup.incremental(Tables.documents(s, d), col("doc_id") < 250)
        .select("doc_id", "fp")),

    // sliding-window chunking: documents -> trainable sequences (map-only)
    "doc_chunks" -> ((s, d) =>
      CorpusAnalysis.chunkTokens(Tables.documents(s, d), window = 32, stride = 24)),

    // ---- TS smoothing (round 3) -------------------------------------------
    "ts_ewma" -> ((s, d) => TsOps.ewma(ts(s, d))),
    // time-decay EWMA for irregular sampling: previous level decays by
    // exp(-gap/1h), per-step weight rounded 6dp so both engines' libm
    // exp agree; fold order pinned to the oracle's recursive CTE
    "ts_ewma_irregular" -> ((s, d) => TsOps.ewmaIrregular(ts(s, d))),
    // Dominant-period detector: single-bin DFT power at candidate
    // periods {6, 12, 24, 168}h over the collapsed hourly axis. Each
    // (series, period) is TWO exact-integer sums (cos/sin projections in
    // per-term micros — the BM25 rounding convention, so sum order
    // cannot matter), power derived from those integers in a fixed IEEE
    // expression; argmax by (power desc, period asc). Never touches raw
    // rows after the hourly collapse.
    "ts_periodogram" -> ((s, d) => {
      val hourly = ts(s, d)
        .groupBy(col("series_id"), expr("t div 3600000").as("bucket"))
        .agg(sum(round(col("value") * 100, 0).cast("long")).as("cents"),
             count(lit(1)).as("cnt"))
        .withColumn("v", col("cents").cast("double") / (col("cnt") * 100.0))
      val terms = hourly.select(col("series_id"), col("bucket"), col("v"),
          explode(array(Seq(6, 12, 24, 168).map(lit): _*)).as("period"))
        .select(col("series_id"), col("period"), col("v"),
          round(cos(lit(2.0 * math.Pi) * pmod(col("bucket"), col("period"))
            / col("period")), 8).as("cs"),
          round(sin(lit(2.0 * math.Pi) * pmod(col("bucket"), col("period"))
            / col("period")), 8).as("sn"))
      val proj = terms.groupBy("series_id", "period")
        .agg(sum(round(col("v") * col("cs") * 1000000, 0).cast("long")).as("vc"),
             sum(round(col("v") * col("sn") * 1000000, 0).cast("long")).as("vs"))
        .withColumn("power", round(
          (col("vc").cast("double") * col("vc").cast("double") +
           col("vs").cast("double") * col("vs").cast("double")) / 1e12, 4))
      val best = proj.groupBy("series_id").agg(max("power").as("pmax"))
      proj.join(best, "series_id").filter(col("power") === col("pmax"))
        .groupBy("series_id").agg(min("period").as("dominant_period"),
          max("power").as("power"))
    }),
    "ts_holt" -> ((s, d) => TsOps.holt(ts(s, d))),
    // running cumulative sum per series — the TSDB integral() primitive
    "ts_cumsum" -> ((s, d) => {
      val w = Window.partitionBy("series_id").orderBy(col("t").asc, col("event_id").asc)
        .rowsBetween(Window.unboundedPreceding, 0)
      ts(s, d).select(col("series_id"), col("t"), col("event_id"),
        round(sum("value").over(w), 4).as("cum_v"))
    }),
    // day x event-type pivot grid (explicit value list keeps the output
    // schema static); the oracle is the equivalent conditional aggregation
    "events_pivot" -> ((s, d) => {
      val ev = Tables.events(s, d)
      ev.select(graft.model.TimeCols.millis(ev, "ts").as("t"), col("event_type"))
        .groupBy(expr("t div 86400000").as("day"))
        .pivot("event_type", Seq("view", "click", "purchase", "error", "signup"))
        .agg(count(lit(1)))
        .na.fill(0L)
    }),
    // the streaming counter-rate's exact per-event recursion replayed over
    // the full history (the stream_ewma_replay pattern): the SAME
    // StreamingRate.step the state store carries, folded per series as an
    // O(1)-memory partition scan; the oracle reproduces the counter as a
    // window prefix-sum residue (equal to the incremental residue because
    // increments are non-negative) and the increase as its lag CASE
    "stream_rate_replay" -> ((s, d) => {
      import s.implicits._
      val ticks = ts(s, d)
        .select(col("series_id"), col("t"), col("event_id"),
          round(col("value") * 100).cast("long").as("cents"))
        .as[graft.streaming.StreamingRate.CTick]
      graft.streaming.StreamingRate.rateReplay(ticks).toDF()
    }),
    // counter-reset-aware rate (the PromQL rate() primitive): a modular
    // cumulative-cents counter per series (the wrap at 1e6 injects
    // deterministic RESETS), per-sample increase = ctr - prev when
    // monotone else ctr (counter restarted), summed per hour. Everything
    // up to the final ratio is exact integer arithmetic; the per-series
    // lag rides the skew-hardened bucketed carry. A series' first sample
    // contributes 0 (no predecessor), matching the oracle's NULL-lag CASE
    "ts_rate" -> ((s, d) => {
      val wc = Window.partitionBy("user_id").orderBy(col("t").asc, col("event_id").asc)
        .rowsBetween(Window.unboundedPreceding, 0)
      val ctr = ts(s, d)
        .select(col("series_id").as("user_id"), col("t"), col("event_id"),
          round(col("value") * 100).cast("long").as("cents"))
        .withColumn("ctr", sum("cents").over(wc) % 1000000L)
      Sessionize.lagBucketed(ctr, "ctr", "prev", bucketMs = 3600000L)
        .withColumn("d",
          when(col("prev").isNull, 0L)
            .when(col("ctr") >= col("prev"), col("ctr") - col("prev"))
            .otherwise(col("ctr")))
        .groupBy(col("user_id").as("series_id"), expr("t div 3600000").as("hour"))
        .agg(sum("d").as("inc_cents"))
        .select(col("series_id"), col("hour"), col("inc_cents"),
          round(col("inc_cents").cast("double") / 360000.0, 6).as("rate"))
    }),
    // rolling exact median over the trailing 9 — the robust moving-average
    // companion (spike-immune smoother); same single series exchange
    "ts_rolling_median" -> ((s, d) => {
      val w = Window.partitionBy("series_id").orderBy(col("t").asc, col("event_id").asc)
        .rowsBetween(-8, 0)
      val l = array_sort(collect_list(col("value")).over(w))
      ts(s, d).select(col("series_id"), col("t"), col("event_id"), l.as("__l"))
        .select(col("series_id"), col("t"), col("event_id"), {
          val n = size(col("__l"))
          val med = when(n % 2 === 1, element_at(col("__l"), ((n + 1) / 2).cast("int")))
            .otherwise((element_at(col("__l"), (n / 2).cast("int")) +
              element_at(col("__l"), (n / 2 + 1).cast("int"))) / 2.0)
          round(med, 4).as("med9")
        })
    }),
    // MAD-based robust outliers: |v - median| > 3 * MAD per series — the
    // z-score's robust sibling (immune to the outliers it hunts). Two
    // grouped medians + broadcast joins, no window
    "ts_mad" -> ((s, d) => {
      val t = ts(s, d)
      val m1 = t.groupBy(col("series_id").as("s1")).agg(median(col("value")).as("med"))
      val dev = t.join(broadcast(m1), col("series_id") === col("s1"))
        .select(col("series_id"), col("t"), col("event_id"),
          col("med"), abs(col("value") - col("med")).as("dev"))
      val m2 = dev.groupBy(col("series_id").as("s2")).agg(median(col("dev")).as("mad"))
      dev.join(broadcast(m2), col("series_id") === col("s2"))
        .select(col("series_id"), col("t"), col("event_id"),
          round(col("dev"), 4).as("dev_r"), (col("dev") > col("mad") * 3.0).as("outlier"))
    }),
    // cross-series Pearson correlation on the hourly-mean grid — "which
    // metrics move together"; the grid is tiny after aggregation, so the
    // pair join is a broadcast
    "ts_corr" -> ((s, d) => {
      val b = ts(s, d)
        .groupBy(col("series_id"), expr("t div 3600000").as("bucket"))
        .agg(avg("value").as("v"))
      b.as("a").join(b.as("b"),
          col("a.bucket") === col("b.bucket") && col("a.series_id") < col("b.series_id"))
        .groupBy(col("a.series_id").as("sa"), col("b.series_id").as("sb"))
        .agg(round(corr(col("a.v"), col("b.v")), 4).as("r"),
          count(lit(1)).as("n_buckets"))
    }),
    // time-of-day seasonal profile: mean value per (series, hour-of-day) —
    // the diurnal fingerprint behind anomaly baselines
    // mean as round(sum,2)/n: event values carry exactly 2 decimals, so the
    // rounded sum is the EXACT decimal sum in both engines (identical
    // double) regardless of summation order; a raw avg rounded at 4 dp hit
    // a true half-tie (…77875) where Spark's HALF_UP and DuckDB's
    // multiply-based rounding disagree. 6 dp leaves terminating quotients
    // mid-cell.
    "ts_hourly_profile" -> ((s, d) =>
      ts(s, d)
        .groupBy(col("series_id"), expr("t div 3600000 % 24").as("hour_of_day"))
        .agg(round(round(sum("value"), 2) / count(lit(1)), 6).as("mean_v"),
             count(lit(1)).as("n"))),
    // first difference + time delta per series — rate-of-change, the TSDB
    // derivative() primitive; lag is the same single series exchange as
    // the moving average
    "ts_diff" -> ((s, d) => {
      val w = Window.partitionBy("series_id").orderBy(col("t").asc, col("event_id").asc)
      ts(s, d).select(col("series_id"), col("t"), col("event_id"),
        round(col("value") - lag("value", 1).over(w), 4).as("dv"),
        (col("t") - lag("t", 1).over(w)).as("dt_ms"))
    }),
    // per-user event-type transition counts (the Markov/path matrix every
    // product-analytics suite ships): one window per user for the lag, one
    // aggregate on the (from, to) pair
    // skew-safe lag: windows partition by (user, day bucket), the bucket
    // boundary crossed by a constant carry off the aggregated axis — a hot
    // user's history never funnels through one sort task (Sessionize.lagBucketed)
    "user_transitions" -> ((s, d) => {
      val ev = Tables.events(s, d)
      val base = ev.select(col("user_id"), col("event_id"),
        graft.model.TimeCols.millis(ev, "ts").as("t"), col("event_type"))
      Sessionize.lagBucketed(base, "event_type", "from_type")
        .select(col("from_type"), col("event_type").as("to_type"))
        .filter(col("from_type").isNotNull)
        .groupBy("from_type", "to_type")
        .agg(count(lit(1)).as("n"))
    }),
    // Stationary behavior mix of the user-transition Markov chain: 3
    // power iterations from uniform, entirely on the BOUNDED event-type
    // axis (the 5x5 count matrix broadcasts; each iteration is one join
    // + keyed sum in exact integer micros with truncating per-term
    // division — the pagerank convention, so the fixpoint is
    // deterministic and engine-portable). The chain matrix reuses
    // user_transitions' bucketed-lag definition.
    "events_markov_stationary" -> ((s, d) => {
      val ev = Tables.events(s, d)
      val base = ev.select(col("user_id"), col("event_id"),
        graft.model.TimeCols.millis(ev, "ts").as("t"), col("event_type"))
      val trans = Sessionize.lagBucketed(base, "event_type", "from_type")
        .select(col("from_type"), col("event_type").as("to_type"))
        .filter(col("from_type").isNotNull)
        .groupBy("from_type", "to_type")
        .agg(count(lit(1)).as("c"))
      val rs = trans.groupBy("from_type").agg(sum("c").as("rsum"))
      val m = trans.join(broadcast(rs), "from_type")
      val states = trans.select(col("from_type").as("state"))
        .unionAll(trans.select(col("to_type").as("state"))).distinct()
      var v = states.withColumn("v", lit(200000L))
      for (_ <- 1 to 3) {
        v = m.join(broadcast(v.select(col("state").as("from_type"), col("v"))),
            "from_type")
          .groupBy(col("to_type").as("state"))
          .agg(sum(expr("v * c div rsum")).as("v"))
      }
      v.select(col("state"), col("v").as("pi_micros"))
    }),
    // rollup-pyramid mergeability: the daily rollup computed FROM the
    // hourly rollup (sum-of-sums, min-of-mins...) must equal the daily
    // aggregate computed directly from raw rows — the algebra that lets
    // a TSDB serve dashboards from materialized cascades without
    // rescanning the lake. The oracle takes the direct path, so the
    // hash compare IS the mergeability proof; all counters exact cents
    "ts_rollup_cascade" -> ((s, d) => {
      val base = ts(s, d).select(col("series_id"), expr("t div 3600000").as("hour"),
        round(col("value") * 100).cast("long").as("cents"))
      val hourly = base.groupBy("series_id", "hour")
        .agg(count(lit(1)).as("hn"), sum("cents").as("hs"),
          min("cents").as("hmn"), max("cents").as("hmx"))
      hourly.groupBy(col("series_id"), expr("hour div 24").as("day"))
        .agg(sum("hn").as("n"), sum("hs").as("sum_cents"),
          min("hmn").as("min_cents"), max("hmx").as("max_cents"))
    }),
    // sliding 3-day distinct actives via the explode-to-window trick:
    // each (user, day) fans out to the 3 windows it belongs to (map-only
    // ×3) and one distinct-aggregate per window end does the rest — the
    // exact-sliding-distinct plan that avoids per-window rescans
    "user_sliding_dau" -> ((s, d) => {
      val ev = Tables.events(s, d)
      val ud = ev.select(col("user_id"),
          (graft.model.TimeCols.millis(ev, "ts") / 86400000L).cast("long").as("day"))
        .distinct()
      ud.select(col("user_id"),
          explode(sequence(col("day"), col("day") + 2)).as("win_end"))
        .groupBy("win_end")
        .agg(countDistinct("user_id").as("active_3d"))
    }),
    // DAU/WAU stickiness per day — the engagement-depth ratio every
    // product dashboard tracks. Same map-only explode trick as the
    // sliding DAU (each (user, day) emits its 7 trailing window ends, so
    // the weekly distinct is ONE keyed aggregate — never a per-day
    // re-scan of 7 days of history); ratio in truncating integer ppm
    "user_stickiness" -> ((s, d) => {
      val ev = Tables.events(s, d)
      val ud = ev.select(col("user_id"),
          (graft.model.TimeCols.millis(ev, "ts") / 86400000L).cast("long").as("day"))
        .distinct()
      val dau = ud.groupBy(col("day")).agg(countDistinct("user_id").as("dau"))
      val wau = ud.select(col("user_id"),
          explode(sequence(col("day"), col("day") + 6)).as("day"))
        .groupBy("day")
        .agg(countDistinct("user_id").as("wau"))
      dau.join(wau, "day")
        .select(col("day"), col("dau"), col("wau"),
          expr("dau * 1000000L div wau").as("stickiness_ppm"))
    }),
    // 2-D census for dashboard heatmap tiles: hour-of-day x fixed value
    // band (50-unit bands derived from exact integer cents — no float
    // floor to disagree on), count + exact cents sum per cell — one
    // map-side-combining aggregate over a bounded cell grid
    "ts_heatmap" -> ((s, d) =>
      ts(s, d)
        .select(col("series_id"), expr("t div 3600000 % 24").as("hod"),
          round(col("value") * 100).cast("long").as("cents"))
        .groupBy(col("series_id"), col("hod"), expr("cents div 5000").as("band"))
        .agg(count(lit(1)).as("n"), sum("cents").as("sum_cents"))),
    // PageRank over the event-type transition graph — the canonical
    // iterative graph aggregation, in EXACT integer micros so three
    // unrolled iterations hash-compare: r'(v) = 0.15/N + 0.85·Σ_u
    // c(u,v)·r(u)/W(u), every division a floor over positive integers
    // (mass loss deterministic and identical on both engines). Scale
    // shape is textbook distributed PageRank: each iteration is one
    // edge-join + keyed sum with the (small) rank/out-weight vectors
    // broadcast; iterations are sequential jobs by nature
    "graph_pagerank" -> ((s, d) => {
      val ev = Tables.events(s, d)
      val base = ev.select(col("user_id"), col("event_id"),
        graft.model.TimeCols.millis(ev, "ts").as("t"), col("event_type"))
      val edges = Sessionize.lagBucketed(base, "event_type", "from_type")
        .filter(col("from_type").isNotNull)
        .groupBy(col("from_type").as("src"), col("event_type").as("dst"))
        .agg(count(lit(1)).as("c"))
      val wout = edges.groupBy("src").agg(sum("c").as("wout"))
      val nodes = ev.select(col("event_type").as("node")).distinct()
      var r = nodes.withColumn("r", lit(200000L))
      for (_ <- 1 to 3) {
        val contrib = edges
          .join(broadcast(wout), "src")
          .join(broadcast(r.select(col("node").as("src"), col("r"))), "src")
          .groupBy(col("dst").as("node"))
          .agg(sum(expr("c * r div wout")).as("sc"))
        r = nodes.join(contrib, Seq("node"), "left")
          .select(col("node"),
            (lit(30000L) + expr("850000 * coalesce(sc, 0L) div 1000000")).as("r"))
      }
      r.select(col("node"), col("r").as("pagerank_micros"))
    }),
    // SAX symbolic approximation (Lin et al.): hourly PAA means
    // z-normalized per series against the POPULATION mean/std derived
    // from exact integer cents sums, then mapped to a 4-symbol alphabet
    // at the +-0.6745 breakpoints — the TS indexing primitive behind
    // motif/anomaly search. The z expression is textually mirrored by
    // the oracle (the ab_ttest convention) so symbols can't drift
    "ts_sax" -> ((s, d) => {
      val t = ts(s, d)
      val cents = round(col("value") * 100).cast("long")
      val per = t.select(col("series_id"), col("t"), cents.as("c"))
        .groupBy("series_id")
        .agg(count(lit(1)).as("n"), sum("c").as("sct"),
          sum(col("c") * col("c")).as("qct"))
      def mu = col("sct").cast("double") / (col("n") * 100.0)
      def sigma = sqrt((col("qct").cast("double") / 10000.0 - col("n") * mu * mu) /
        col("n"))
      val paa = t.select(col("series_id"), col("t"), cents.as("c"))
        .groupBy(col("series_id"), expr("t div 3600000").as("bucket"))
        .agg(count(lit(1)).as("nb"), sum("c").as("sb_cents"))
      paa.join(broadcast(per), "series_id")
        .withColumn("z",
          (col("sb_cents").cast("double") / (col("nb") * 100.0) - mu) / sigma)
        .select(col("series_id"), col("bucket"), col("nb"), col("sb_cents"),
          round(col("z"), 6).as("z_r"),
          when(col("z") < -0.6745, "a").when(col("z") < 0.0, "b")
            .when(col("z") < 0.6745, "c").otherwise("d").as("symbol"))
    }),
    // threshold-crossing (rising-edge) detection — the alerting primitive:
    // emit rows where value crosses >= 50 coming from below. Per-series
    // lag rides the skew-hardened bucketed carry (a hot series splits
    // across hourly buckets instead of one sort task); the first row of a
    // series has NULL prev and is excluded by the < comparison on both
    // engines identically
    "ts_crossings" -> ((s, d) => {
      val base = ts(s, d).select(col("series_id").as("user_id"), col("t"),
        col("value"), col("event_id"))
      Sessionize.lagBucketed(base, "value", "prev_value", bucketMs = 3600000L)
        .filter(col("prev_value") < lit(50.0) && col("value") >= lit(50.0))
        .select(col("user_id").as("series_id"), col("t"), col("event_id"),
          col("prev_value"), col("value"))
    }),
    // count-min frequency sketch with DETERMINISTIC Knuth-style hashes:
    // 4 rows x 64 counters built by ONE map-side-combining groupBy (the
    // sketch is 256 mergeable cells — bounded memory at any corpus size);
    // estimates are min over rows. Deterministic hashes make the estimate
    // itself exactly replayable in SQL, so the gate hash-compares est_n
    // directly — no tolerance boolean needed (and CMS guarantees
    // est_n >= exact_n, asserted in Round7OpsSpec). Operands stay < 2^63:
    // user_id < 2^31 and multipliers < 2^32, so no overflow on either
    // engine (DuckDB errors on BIGINT overflow rather than wrapping)
    "agg_count_min" -> ((s, d) => {
      import s.implicits._
      val hdf = Seq((0L, 2654435761L, 1L), (1L, 2246822519L, 7L),
        (2L, 3266489917L, 13L), (3L, 668265263L, 31L)).toDF("i", "a", "bq")
      def bucket = pmod(pmod(col("user_id") * col("a") + col("bq"),
        lit(2147483647L)), lit(64L))
      val ev = Tables.events(s, d)
      val counters = ev.select("user_id").crossJoin(broadcast(hdf))
        .withColumn("b", bucket)
        .groupBy("i", "b").agg(count(lit(1)).as("n"))
      val perUser = ev.groupBy("user_id").agg(count(lit(1)).as("exact_n"))
      perUser.crossJoin(broadcast(hdf))
        .withColumn("b", bucket)
        .join(counters, Seq("i", "b"))
        .groupBy("user_id", "exact_n").agg(min("n").as("est_n"))
    }),
    // KMV (theta-sketch) set-overlap: pairwise Jaccard between the five
    // event types' (user, day) activity sets, estimated from 64-minima
    // sketches via the union-sample trick and checked against the exact
    // intersection. The hash is the deterministic injective Knuth map, so
    // the SKETCH itself replays in SQL and the estimate is hash-gated
    // (the count-min convention). Sketch build = map-side distinct + the
    // TopKRows bounded heap; only the exact twin is brute
    "agg_kmv_overlap" -> ((s, d) => {
      val ev = Tables.events(s, d)
      val el = ev
        .select(col("event_type"), col("user_id"),
          graft.model.TimeCols.millis(ev, "ts").as("t"))
        .withColumn("m", expr("user_id * 100000 + t div 86400000"))
      val sk = KmvSketch.sketch(el, "event_type", col("m"), k = 64)
      val est = KmvSketch.pairOverlap(sk, "event_type", k = 64)
      KmvSketch.exactOverlap(el, "event_type", col("m"))
        .join(est, Seq("ga", "gb"))
        .select("ga", "gb", "n_a", "n_b", "exact_inter", "exact_jaccard",
          "k_eff", "kmv_both", "kmv_jaccard")
    }),
    // Z-order (Morton) key over (user, minute-of-day): pure integer bit
    // interleaving, replayed term-for-term by the oracle. The key is what
    // Layout.clusteredWrite sorts by so parquet min/max stats prune filters
    // on EITHER dimension; LayoutSpec quantifies the pruning
    "events_zorder" -> ((s, d) => {
      val ev = Tables.events(s, d)
      ev.select(col("event_id"), col("user_id"),
          graft.model.TimeCols.millis(ev, "ts").as("t"))
        .withColumn("m", expr("(t div 60000) % 1440"))
        .select(col("event_id"), col("user_id"), col("m"),
          Layout.zorder2(col("user_id"), col("m")).as("z"))
    }),
    // fact-to-dim join through the salted skew join: the salt column is
    // internal, so the result must equal the plain join bit-for-bit — the
    // oracle is the unsalted SQL join. Tier comes from an exact integer
    // count (never a double sum) so the threshold can't drift. At gate SF
    // the dim auto-broadcasts; SkewJoinSpec pins the salted-exchange plan
    // with broadcast disabled
    "events_salted_join" -> ((s, d) => {
      val ev = Tables.events(s, d)
      val dim = ev.groupBy("user_id").agg(count(lit(1)).as("n_ev"))
        .select(col("user_id"),
          when(col("n_ev") >= 67L, "heavy").otherwise("light").as("tier"))
      SkewJoin.saltedJoin(
        ev.filter(col("event_type") === "purchase").select("user_id", "event_id"),
        dim, "user_id", nSalt = 8)
    }),
    // Bucketed-layout co-located join: both fact slices are written as
    // 8-bucket tables hashed+sorted on user_id, so the per-user aggregate
    // AND the join read the bucket layout directly — the final plan has
    // ZERO shuffle exchanges after the writes (PlanShapeSpec pins it).
    // This is THE pre-shuffle pattern for a 100 TB lake: pay the
    // partitioning once at ingest, then every keyed aggregate / join on
    // the bucket key is exchange-free forever. Sums in exact integer
    // cents so the bucketed result hash-matches the plain-SQL oracle.
    "events_bucketed_join" -> ((s, d) => {
      val ev = Tables.events(s, d)
      // table names keyed by the dataset too — interleaved runs against
      // two datasets must not clobber each other's buckets
      val ds = d.replaceAll("[^a-zA-Z0-9]", "_")
      val dir = scratchDir("bkt", d)
      ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), round(col("value") * 100).cast("long").as("cents"))
        .write.mode("overwrite").format("parquet")
        .bucketBy(8, "user_id").sortBy("user_id")
        .option("path", s"$dir/purchases").saveAsTable(s"graft_bkt_purchases_$ds")
      ev.filter(col("event_type") === "error")
        .select(col("user_id"), col("event_id"))
        .write.mode("overwrite").format("parquet")
        .bucketBy(8, "user_id").sortBy("user_id")
        .option("path", s"$dir/errors").saveAsTable(s"graft_bkt_errors_$ds")
      val spend = s.table(s"graft_bkt_purchases_$ds").groupBy("user_id")
        .agg(sum("cents").as("spend_cents"), count(lit(1)).as("n_purchases"))
      val errs = s.table(s"graft_bkt_errors_$ds").groupBy("user_id")
        .agg(count(lit(1)).as("n_errors"))
      spend.join(errs.hint("merge"), "user_id")
    }),

    // JSON scalar extraction over event props — the engine surface behind
    // the reference's JSON field filter (src/filter.re): parse-once
    // projection, then an ordinary keyed aggregate
    "events_props_agg" -> ((s, d) => {
      val ev = Tables.events(s, d)
      val k = get_json_object(col("props"), "$.k").cast("long")
      ev.select(col("event_type"), k.as("k"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), sum("k").as("sum_k"),
          round(avg("k"), 4).as("avg_k"))
    }),
    // Welch two-sample t statistic per day between purchase and view
    // values — the A/B-test readout. Each side collapses to exact integer
    // (n, Σcents, Σcents²) triples in ONE map-side-combining aggregate;
    // mean/variance/t are derived from those integers in a fixed IEEE
    // expression mirrored textually by the oracle, so the rounded t is
    // engine-stable. The day axis is tiny; the join is a broadcast
    "events_ab_ttest" -> ((s, d) => {
      val ev = Tables.events(s, d)
      def side(tp: String, sfx: String) = ev
        .filter(col("event_type") === tp)
        .select(graft.model.TimeCols.millis(ev, "ts").as("t"),
          round(col("value") * 100).cast("long").as("c"))
        .groupBy(expr("t div 86400000").as("day"))
        .agg(count(lit(1)).as(s"n$sfx"), sum("c").as(s"s$sfx"),
          sum(col("c") * col("c")).as(s"q$sfx"))
      def m(sfx: String) = col(s"s$sfx").cast("double") / (col(s"n$sfx") * 100.0)
      def v(sfx: String) =
        (col(s"q$sfx").cast("double") / 10000.0 -
          col(s"n$sfx") * m(sfx) * m(sfx)) / (col(s"n$sfx") - 1L)
      side("purchase", "1").join(side("view", "2"), "day")
        .filter(col("n1") > 1L && col("n2") > 1L)
        .select(col("day"), col("n1"), col("s1"), col("q1"),
          col("n2"), col("s2"), col("q2"),
          round((m("1") - m("2")) /
            sqrt(v("1") / col("n1") + v("2") / col("n2")), 6).as("t_stat"))
    }),
    // daily active users — distinct-agg per epoch-day bucket
    "user_daily_active" -> ((s, d) => {
      val ev = Tables.events(s, d)
      ev.select(graft.model.TimeCols.millis(ev, "ts").as("t"), col("user_id"))
        .groupBy(expr("t div 86400000").as("day"))
        .agg(countDistinct(col("user_id")).as("n_active"))
    }),
    // left-semi shape: customers holding at least one >=450k order — the
    // probe side never widens the row, no dedup pass needed after the join
    "big_spenders_semi" -> ((s, d) =>
      Tables.customer(s, d)
        .join(Tables.orders(s, d).filter(col("o_totalprice") >= 450000.0),
          col("c_custkey") === col("o_custkey"), "left_semi")
        .select(col("c_custkey"), col("c_name"), round(col("c_acctbal"), 4).as("acctbal_r"))),

    // ---- More OLAP shapes (round 3) ---------------------------------------
    // TPC-H Q6 shape: single-scan filtered aggregate — every predicate
    // reaches PushedFilters, the canonical pushdown showcase
    "q6_revenue_delta" -> ((s, d) =>
      Tables.lineitem(s, d)
        .filter(col("l_shipdate").cast("date") >= lit("1996-01-01") &&
          col("l_shipdate").cast("date") < lit("1997-01-01") &&
          col("l_discount").between(0.05, 0.07) && col("l_quantity") < 24)
        .agg(round(sum(col("l_extendedprice") * col("l_discount")), 4).as("revenue"),
          count(lit(1)).as("n_items"))),
    // TPC-H Q10 shape: top refund-heavy customers in a quarter
    "q10_returned" -> ((s, d) =>
      Tables.lineitem(s, d).filter(col("l_returnflag") === "R")
        .join(Tables.orders(s, d)
          .filter(col("o_orderdate").cast("date") >= lit("1996-01-01") &&
            col("o_orderdate").cast("date") < lit("1996-04-01")),
          col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(Tables.customer(s, d)), col("o_custkey") === col("c_custkey"))
        .join(broadcast(Tables.nation(s, d)), col("c_nationkey") === col("n_nationkey"))
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 4).as("revenue"))
        .orderBy(col("revenue").desc, col("c_custkey").asc)
        .limit(20)),
    // TPC-H Q14 shape: promo revenue share in one month
    "q14_promo" -> ((s, d) =>
      Tables.lineitem(s, d)
        .filter(col("l_shipdate").cast("date") >= lit("1996-09-01") &&
          col("l_shipdate").cast("date") < lit("1996-10-01"))
        .join(broadcast(Tables.part(s, d)), col("l_partkey") === col("p_partkey"))
        .agg(round(
          lit(100.0) * sum(when(col("p_type") === "PROMO",
            col("l_extendedprice") * (lit(1) - col("l_discount"))).otherwise(0.0)) /
            sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 4)
          .as("promo_share"))),
    // TPC-H Q18 shape: large-quantity orders — aggregate-then-join, the
    // big side reduced BEFORE touching the dimension tables
    "q18_large_orders" -> ((s, d) =>
      Tables.lineitem(s, d)
        .groupBy("l_orderkey")
        .agg(round(sum("l_quantity"), 4).as("sum_qty"))
        .filter(col("sum_qty") > 250)
        .join(Tables.orders(s, d), col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(Tables.customer(s, d)), col("o_custkey") === col("c_custkey"))
        .select(col("o_orderkey"), col("c_custkey"), col("c_name"),
          round(col("o_totalprice"), 4).as("total_r"), col("sum_qty"))),
    // HLL++ sketch (approx_count_distinct) gated against EXACT distinct
    // counts: at rsd=0.02 (2^12 registers) a cardinality <= ~25 sits in the
    // linear-counting regime where the estimate rounds to the true count
    // unless two values collide in one register — a deterministic property
    // of these fixed column values, so the gate is stable, and it proves
    // the sketch path end-to-end (the estimator at 100 TB scans once and
    // carries ~4 KB of state per group, no distinct shuffle)
    // hard oracle = EXACT distinct count; the HLL++ sketch is checked as a
    // within-tolerance boolean (5x the configured rsd — these low-
    // cardinality columns sit in the sketch's near-exact linear-counting
    // regime). Hashing the boolean instead of the sketch value keeps the
    // gate from pinning one Spark version's register bit-patterns: a
    // register-colliding new value or an HLL implementation change can't
    // fail the gate unless the sketch actually breaks its error bound.
    "agg_approx_distinct" -> ((s, d) => {
      def one(df: DataFrame, table: String, c: String) =
        df.agg(approx_count_distinct(c, 0.02).as("approx"),
               count_distinct(col(c)).as("n"))
          .select(lit(s"$table.$c").as("col"), col("n"),
            (abs(col("approx").cast("double") - col("n").cast("double")) <=
              lit(0.1) * col("n").cast("double")).as("sketch_ok"))
      one(Tables.events(s, d), "events", "event_type")
        .unionByName(one(Tables.nation(s, d), "nation", "n_name"))
        .unionByName(one(Tables.region(s, d), "region", "r_name"))
        .unionByName(one(Tables.customer(s, d), "customer", "c_mktsegment"))
        .unionByName(one(Tables.orders(s, d), "orders", "o_orderpriority"))
    }),
    // quantile sketch, gated like agg_approx_distinct: the EXACT
    // interpolated percentiles are the hard oracle columns (cross-engine
    // parity with quantile_cont is pinned by ts_percentiles), while the
    // percentile_approx sketch — the bounded-memory form a 100 TB scan
    // would use — is checked as a within-5%-of-exact boolean, not
    // bit-coupled to one Spark version's sketch internals
    // one array-percentile buffer per group (not one per quantile — the
    // exact aggregate holds every value, so buffers are the cost) plus the
    // bounded sketch
    "agg_approx_quantile" -> ((s, d) =>
      Tables.lineitem(s, d).groupBy("l_returnflag").agg(
        expr("percentile(l_extendedprice, array(0.5D, 0.99D))").as("px"),
        expr("percentile_approx(l_extendedprice, 0.5D, 1000)").as("pa"))
        .select(col("l_returnflag"),
          round(col("px")(0), 4).as("p50"),
          round(col("px")(1), 4).as("p99"),
          (abs(col("pa") - col("px")(0)) <= col("px")(0) * lit(0.05)).as("sketch_ok"))),
    // ROLLUP over (lang, source): subtotal lattice in ONE pass (Spark
    // expands grouping sets map-side; no per-level rescans)
    "agg_rollup" -> ((s, d) =>
      Tables.documents(s, d)
        .rollup("lang", "source")
        .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("sum_chars"))
        .select(coalesce(col("lang"), lit("ALL")).as("lang"),
          coalesce(col("source"), lit("ALL")).as("source"),
          col("n_docs"), col("sum_chars"))),

    // Market-basket co-occurrence: the 20 part-type pairs most often
    // bought in the same order — association mining's candidate step. The
    // per-order distinct-type set shrinks the self-join input BEFORE the
    // pair fan-out, and the join key is o_orderkey, so co-occurrence never
    // becomes a cross product.
    "basket_pairs" -> ((s, d) => {
      val types = Tables.lineitem(s, d)
        .join(broadcast(Tables.part(s, d).select("p_partkey", "p_type")),
          col("l_partkey") === col("p_partkey"))
        .select(col("l_orderkey").as("ok"), col("p_type"))
        .distinct()
      types.as("a").join(types.as("b"),
          col("a.ok") === col("b.ok") && col("a.p_type") < col("b.p_type"))
        .groupBy(col("a.p_type").as("type_a"), col("b.p_type").as("type_b"))
        .agg(count(lit(1)).as("c"))
        .orderBy(col("c").desc, col("type_a").asc, col("type_b").asc)
        .limit(20)
    }),
    // Association rules over the same baskets: both directions of every
    // pair with support >= 20, scored by confidence (c_ab/c_a) and lift
    // (c_ab·n/(c_a·c_b)) in truncating integer micros — the rule-mining
    // readout on top of basket_pairs' counts. Item counts and the basket
    // total BROADCAST to the pair axis; top-50 by lift is a bounded heap
    "basket_rules" -> ((s, d) => {
      val types = Tables.lineitem(s, d)
        .join(broadcast(Tables.part(s, d).select("p_partkey", "p_type")),
          col("l_partkey") === col("p_partkey"))
        .select(col("l_orderkey").as("ok"), col("p_type"))
        .distinct()
      val n = types.agg(countDistinct("ok").as("n"))
      val items = types.groupBy("p_type").agg(count(lit(1)).as("ci"))
      val pairs = types.as("a").join(types.as("b"),
          col("a.ok") === col("b.ok") && col("a.p_type") < col("b.p_type"))
        .groupBy(col("a.p_type").as("ta"), col("b.p_type").as("tb"))
        .agg(count(lit(1)).as("cab"))
        .filter(col("cab") >= 20L)
      val directed = pairs.select(col("ta").as("antecedent"),
          col("tb").as("consequent"), col("cab"))
        .unionAll(pairs.select(col("tb").as("antecedent"),
          col("ta").as("consequent"), col("cab")))
      directed
        .join(broadcast(items.select(col("p_type").as("antecedent"),
          col("ci").as("ca"))), "antecedent")
        .join(broadcast(items.select(col("p_type").as("consequent"),
          col("ci").as("cb"))), "consequent")
        .crossJoin(broadcast(n))
        .select(col("antecedent"), col("consequent"), col("cab"),
          expr("cab * 1000000L div ca").as("conf_ppm"),
          expr("cab * n * 1000000L div (ca * cb)").as("lift_micros"))
        .orderBy(col("lift_micros").desc, col("antecedent").asc,
          col("consequent").asc)
        .limit(50)
    }),
    // Value deciles per event type: the distribution profile behind
    // outlier thresholds and histogram tiles. Boundary-then-assign, NOT
    // ntile over raw rows — ntile(10) OVER (PARTITION BY event_type) sorts
    // every row of a type through ONE task (the round-2 last/n lesson), so
    // instead the per-(type, value) counts collapse the table to the
    // distinct-value axis map-side, a cumulative sum over that small axis
    // yields each value group's rank span, and ntile's contiguous tile
    // arithmetic (rem tiles of base+1 rows, then tiles of base) assigns
    // per-tile row counts closed-form. Output is bit-identical to the
    // ntile oracle: the (value, event_id) tiebreak can only permute rows
    // WITHIN a value group, which never changes per-tile counts or min/max.
    "events_decile" -> ((s, d) => {
      val raw = Tables.events(s, d)
      val vc = raw.groupBy("event_type", "value").agg(count(lit(1)).as("c"))
      val wcum = Window.partitionBy("event_type").orderBy(col("value").asc)
        .rowsBetween(Window.unboundedPreceding, -1)
      // tile of row rank r under ntile(10) with N = base*10 + rem:
      // tiles 1..rem hold base+1 rows, tiles rem+1..10 hold base
      def tileOf(r: String) = expr(
        s"CASE WHEN ($r) <= rem * (base + 1) THEN (($r) + base) div (base + 1)" +
        s" ELSE rem + (($r) - rem * (base + 1) + base - 1) div base END")
      vc.withColumn("cum0", coalesce(sum("c").over(wcum), lit(0L)))
        .withColumn("base", expr("sum(c) OVER (PARTITION BY event_type) div 10"))
        .withColumn("rem", expr("sum(c) OVER (PARTITION BY event_type) % 10"))
        .withColumn("t_lo", tileOf("cum0 + 1"))
        .withColumn("t_hi", tileOf("cum0 + c"))
        // a value group spans tiles [t_lo, t_hi]; its row count intersected
        // with tile k's rank interval (end(k-1), end(k)] is the exact split
        .withColumn("decile", explode_outer(sequence(col("t_lo"), col("t_hi"))))
        .withColumn("n_in", expr(
          "least(cum0 + c, decile * base + least(decile, rem)) - " +
          "greatest(cum0, (decile - 1) * base + least(decile - 1, rem))"))
        .groupBy("event_type", "decile")
        .agg(sum("n_in").as("n"), round(min("value"), 2).as("lo"),
          round(max("value"), 2).as("hi"))
    }),
    // STL-lite seasonal decomposition on the hourly grid: trend = 24-bucket
    // centered moving average, seasonal = hour-of-day mean of the
    // detrended signal, residual = the rest. One series exchange carries
    // the bucket agg + trend window; the seasonal profile is a tiny
    // (series x 24) broadcast back. Bit-stability: every mean here is a
    // ratio of exact INTEGER sums (cents of 2-decimal data / row counts) —
    // the trend is row-weighted over the window so its numerator and
    // denominator are plain integer window sums no accumulation order can
    // perturb — and the two integer-ratio OUTPUT columns round half-up in
    // INTEGER arithmetic ((2a + b) div 2b): their exact values land on
    // 4-decimal half-ties for real rows, where Spark (shortest-decimal
    // HALF_UP) and DuckDB (float multiply-round) disagree on the same
    // double. The hour-of-day mean is an ORDERED fold over the per-hod
    // bucket list (the cosine_sim convention).
    "ts_seasonal" -> ((s, d) => {
      val b = ts(s, d)
        .groupBy(col("series_id"), expr("t div 3600000").as("bucket"))
        .agg(sum(round(col("value") * 100, 0).cast("long")).as("cents"),
             count(lit(1)).as("cnt"))
        .withColumn("v", col("cents").cast("double") / (col("cnt") * 100.0))
      val wT = Window.partitionBy("series_id").orderBy(col("bucket").asc)
        .rowsBetween(-11, 12)
      val det = b
        .withColumn("wc", sum("cents").over(wT))
        .withColumn("wn", sum("cnt").over(wT))
        .withColumn("trend", col("wc").cast("double") / (col("wn") * 100.0))
      val seas = det.groupBy(col("series_id"), pmod(col("bucket"), lit(24L)).as("hod"))
        .agg(sort_array(collect_list(struct(col("bucket"),
          (col("v") - col("trend")).as("dt")))).as("ds"))
        .select(col("series_id"), col("hod"),
          (expr("aggregate(ds, CAST(0.0 AS DOUBLE), (acc, x) -> acc + x.dt)") /
           size(col("ds"))).as("seasonal"))
      // a*100/b rounded HALF-UP (away from zero) at 4dp in exact integers:
      // `div` truncates toward zero, so the negative branch mirrors the
      // adjustment (cents can be negative for delta/return-style series).
      // The CAST matters: a bare 10000.0 in SQL text is a DECIMAL literal.
      def r4i(a: String, b: String) =
        expr(s"CAST(CASE WHEN $a >= 0 THEN (200 * $a + $b) div (2 * $b)" +
             s" ELSE -((-200 * $a + $b) div (2 * $b)) END AS DOUBLE) / 10000.0D")
      det.withColumn("hod", pmod(col("bucket"), lit(24L)))
        .join(broadcast(seas), Seq("series_id", "hod"))
        .select(col("series_id"), col("bucket"),
          r4i("cents", "cnt").as("v"),
          r4i("wc", "wn").as("trend"),
          round(col("seasonal"), 4).as("seasonal"),
          round(col("v") - col("trend") - col("seasonal"), 4).as("residual"))
    }),
    // Lag-1 autocorrelation per series on the hourly grid — ts_corr's
    // within-series sibling (persistence/seasonality signal). The lag is
    // a window over the same exchange the bucket aggregation produced.
    "ts_autocorr" -> ((s, d) => {
      val b = ts(s, d)
        .groupBy(col("series_id"), expr("t div 3600000").as("bucket"))
        .agg(avg("value").as("v"))
      val w = Window.partitionBy("series_id").orderBy(col("bucket").asc)
      b.select(col("series_id"), col("v"), lag("v", 1).over(w).as("pv"))
        .filter(col("pv").isNotNull)
        .groupBy("series_id")
        .agg(round(corr(col("v"), col("pv")), 4).as("r1"),
          count(lit(1)).as("n_pairs"))
    }),
    // Sequence mining: the 20 most common 3-step event-type paths — the
    // navigation-pattern query behind funnel discovery. Trigrams come from
    // two `lead`s over ONE per-user window (row i sees types i+1 and i+2),
    // NOT from collect_list + slice-zipping: the array form materializes a
    // hot user's entire history as one in-memory value (unbounded in
    // web-scale event data) and its Generate picked up an inferred filter
    // that rebuilt the trigram array twice (the round-3 lesson). The window
    // sort spills to disk under skew, emits no arrays, no Generate, and
    // only (path, count) rows reach the global top-k.
    // leads via the bucketed carry (Sessionize.leadBucketed2): windows on
    // (user, day bucket); each bucket exports its first two types through a
    // bounded topk_rows heap, so a hot user splits across bucket tasks
    "user_path_topk" -> ((s, d) => {
      val raw = Tables.events(s, d)
      val base = raw.select(col("user_id"),
        graft.model.TimeCols.millis(raw, "ts").as("t"),
        col("event_id"), col("event_type"))
      Sessionize.leadBucketed2(base, "event_type", "e2", "e3")
        .filter(col("e3").isNotNull) // rows with <2 successors open no trigram
        .select(concat_ws(">", col("event_type"), col("e2"), col("e3")).as("path"))
        .groupBy("path").agg(count(lit(1)).as("c"))
        .orderBy(col("c").desc, col("path").asc)
        .limit(20)
    }),
    // Sliding event-time windows (1h long, 15m slide): the batch twin of
    // the streaming windowed aggregation — every event lands in exactly 4
    // overlapping windows; Spark's native window() expands them map-side
    "events_sliding" -> ((s, d) => {
      val raw = Tables.events(s, d)
      raw.select(graft.model.TimeCols.millis(raw, "ts").as("t"),
          col("event_type"), col("value"))
        .groupBy(window(timestamp_millis(col("t")), "1 hour", "15 minutes"),
          col("event_type"))
        .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("sum_v"))
        .select(unix_millis(col("window.start")).as("w_start"),
          col("event_type"), col("n"), col("sum_v"))
    }),
    // TPC-H Q19 shape: disjunctive OR-of-ANDs across the join — each
    // disjunct pairs part attributes with lineitem bounds. The per-table
    // halves of the OR (brand sets, quantity hull) are still pushable;
    // the cross-table disjunction evaluates once after the broadcast join.
    "q19_disjunctive" -> ((s, d) => {
      val rev = col("l_extendedprice") * (lit(1) - col("l_discount"))
      Tables.lineitem(s, d)
        .join(broadcast(Tables.part(s, d)), col("l_partkey") === col("p_partkey"))
        .filter(
          (col("p_brand") === "Brand#12" && col("p_size").between(1, 5) &&
           col("l_quantity").between(1, 11)) ||
          (col("p_brand") === "Brand#23" && col("p_size").between(1, 10) &&
           col("l_quantity").between(10, 20)) ||
          (col("p_brand") === "Brand#34" && col("p_size").between(1, 15) &&
           col("l_quantity").between(20, 30)))
        .agg(round(sum(rev), 4).as("revenue"), count(lit(1)).as("n_items"))
    }),
    // Correlation window join: for each error event, how many clicks the
    // same user made within the surrounding minute — the point-in-range
    // temporal self-join behind alert-context queries. The equi key is
    // (user_id, minute_bucket), NOT user_id alone: keyed only by user, a
    // hot (bot-like) user's errors x clicks all meet in one reducer and
    // the pair fan-out is quadratic in their event count before the band
    // filter runs. Bucketing by the band width (60 s) bounds each reducer
    // to a user-minute, and since |t - err_t| <= 60000 confines a click's
    // bucket to [err_bucket - 1, err_bucket + 1], probing the 3 buckets
    // per error (x3 on the RARE side only) finds every qualifying pair
    // exactly once — a click lives in ONE bucket, so no dedup is needed,
    // and an unmatched error keeps its count-0 row via its own probes.
    // The shared operator is BandJoin.nearCount (also soaked at 10M x 90%
    // single-user skew; the unbucketed form never finished — PERF.md r5).
    "events_near_join" -> ((s, d) => {
      val raw = Tables.events(s, d)
      val ev = raw.select(col("user_id"), col("event_id"), col("event_type"),
          graft.model.TimeCols.millis(raw, "ts").as("t"))
      BandJoin.nearCount(
          ev.filter(col("event_type") === "error")
            .select(col("user_id"), col("event_id").as("err_id"), col("t")),
          ev.filter(col("event_type") === "click"),
          key = "user_id", leftId = "err_id", rightId = "event_id",
          tCol = "t", bandMs = 60000L)
        .withColumnRenamed("n", "n_near_clicks")
    }),
    // CEP with negation: for each signup, the FIRST purchase by the same
    // user within 1h — kept only when NO error falls strictly between
    // them (the MATCH_RECOGNIZE "A then B with no C between" pattern).
    // The positive legs are a user-keyed band join + bounded first-match
    // heap; the negation is a temporal LEFT ANTI join on (user, open
    // interval) — absence is proven by the join finding nothing, never
    // by collecting per-user timelines
    "events_pattern_negation" -> ((s, d) => {
      val raw = Tables.events(s, d)
      val ev = raw.select(col("user_id"), col("event_id"), col("event_type"),
        graft.model.TimeCols.millis(raw, "ts").as("t"))
      val su = ev.filter(col("event_type") === "signup")
        .select(col("user_id"), col("event_id").as("s_id"), col("t").as("ts0"))
      val pu = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id").as("p_id"), col("t").as("tp"))
      val er = ev.filter(col("event_type") === "error")
        .select(col("user_id"), col("t").as("te"))
      val first = su.join(pu, Seq("user_id"))
        .filter(col("tp") > col("ts0") && col("tp") <= col("ts0") + 3600000L)
        .groupBy("user_id", "s_id", "ts0")
        .agg(min_by(struct(col("tp"), col("p_id")),
          struct(col("tp"), col("p_id"))).as("m"))
        .select(col("user_id"), col("s_id"), col("ts0"),
          col("m.tp").as("tp"), col("m.p_id").as("p_id"))
      first.join(er,
          first("user_id") === er("user_id") &&
            col("te") > col("ts0") && col("te") < col("tp"), "left_anti")
        .select(col("user_id"), col("s_id"), col("ts0"), col("p_id"), col("tp"),
          (col("tp") - col("ts0")).as("latency_ms"))
    }),
    // Batch interval join: purchases assigned into the session windows of
    // the same user — the "enrich points with the containing window" shape
    // (streaming twin: StreamJoinSpec). Because gap sessions are DISJOINT
    // per user, containment degenerates to an as-of join (latest session
    // START at-or-before the point, then one t <= t_end check) — so the
    // skew-hardened AsOfJoin.asOfBucketed carries it, not a sessions x
    // points range join that goes quadratic on a hot user.
    "events_interval_join" -> ((s, d) => {
      val ev = Tables.events(s, d)
      val base = ev.select(col("user_id"), graft.model.TimeCols.millis(ev, "ts").as("t"),
        col("value"), col("event_id"), col("event_type"))
      // materialize the sessions once (r14, guide §2.2): asOfBucketed
      // references its right side in BOTH union branches and the range
      // check, so the whole two-window sessionize subtree was replayed —
      // the before-plan has 28 parquet scans and 10 Window nodes for ONE
      // logical sessionize; the session table is O(sessions), tiny
      val sess = Sessionize.sessionsBucketed(
          base.select("user_id", "t", "value", "event_id"), gapMs = 3600000L)
        .select(col("user_id"), col("t_start").as("t"), col("session_id"),
          col("t_end"), col("session_id").as("event_id"))
        // LAZY checkpoint, deliberately not .cache(): a CacheManager
        // entry would be plan-matched by the NEXT invocation of this gate
        // and hand it run 1's materialized sessions — cross-run result
        // reuse the bench must not see. The lazy local checkpoint shares
        // the one materialized RDD across this plan's three references
        // within a run and leaves nothing discoverable behind.
        .localCheckpoint(false)
      val purchases = base.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("t"), col("value"), col("event_id"))
      AsOfJoin.asOfBucketed(purchases, sess, "user_id", "t",
          Seq("session_id", "t_end"))
        .filter(col("t") <= col("asof_t_end"))
        .groupBy(col("user_id"), col("asof_session_id").as("session_id"))
        .agg(count(lit(1)).as("n_purchases"),
          round(sum("value"), 4).as("purchase_value"))
    }),
    // CUBE over (lang, source): the full subtotal lattice (rollup's
    // sibling) — Spark expands grouping sets in ONE pass, map-side
    "agg_cube" -> ((s, d) =>
      Tables.documents(s, d)
        .cube("lang", "source")
        .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("sum_chars"))
        .select(coalesce(col("lang"), lit("ALL")).as("lang"),
          coalesce(col("source"), lit("ALL")).as("source"),
          col("n_docs"), col("sum_chars"))),
    // Explicit GROUPING SETS (the general form rollup/cube specialize):
    // per-lang, per-source, the full cross, and the grand total in ONE
    // pass — Catalyst expands to a single Expand + hash aggregate, so the
    // corpus is scanned once, not once per set. grouping() markers
    // disambiguate a genuine NULL group value from a rolled-up axis
    // (coalesce alone cannot), cast to BIGINT on both engines.
    "agg_grouping_sets" -> ((s, d) =>
      Tables.documents(s, d)
        .groupingSets(
          Seq(Seq(col("lang")), Seq(col("source")),
              Seq(col("lang"), col("source")), Seq()),
          col("lang"), col("source"))
        .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("sum_chars"),
             grouping(col("lang")).cast("long").as("g_lang"),
             grouping(col("source")).cast("long").as("g_source"))
        .select(coalesce(col("lang"), lit("ALL")).as("lang"),
          coalesce(col("source"), lit("ALL")).as("source"),
          col("g_lang"), col("g_source"),
          col("n_docs"), col("sum_chars"))),

    // ---- Round-4 OLAP shapes ---------------------------------------------
    // TPC-H Q4 shape: priority census of orders holding at least one heavy
    // lineitem — EXISTS becomes a LEFT SEMI join, so each order row is
    // emitted once no matter how many lineitems match, and the probe side
    // carries only l_orderkey (one pruned column) into the join
    "q4_priority_exists" -> ((s, d) =>
      Tables.orders(s, d)
        .join(Tables.lineitem(s, d).filter(col("l_quantity") > 45)
                .select("l_orderkey"),
              col("o_orderkey") === col("l_orderkey"), "left_semi")
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n_orders"))),
    // TPC-H Q7 shape: cross-border revenue matrix between customer nation
    // and supplier nation — the fact table flows through once, every
    // dimension side (customer/supplier/nation x2) broadcast
    "q7_nation_volume" -> ((s, d) => {
      val custNation = Tables.nation(s, d)
        .select(col("n_nationkey").as("c_nk"), col("n_name").as("cust_nation"))
      val suppNation = Tables.nation(s, d)
        .select(col("n_nationkey").as("s_nk"), col("n_name").as("supp_nation"))
      Tables.lineitem(s, d)
        .filter(col("l_shipdate").cast("date") >= lit("1995-01-01") &&
          col("l_shipdate").cast("date") < lit("1997-01-01"))
        .join(Tables.orders(s, d), col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(Tables.customer(s, d)), col("o_custkey") === col("c_custkey"))
        .join(broadcast(custNation), col("c_nationkey") === col("c_nk"))
        .join(broadcast(Tables.supplier(s, d)), col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(suppNation), col("s_nationkey") === col("s_nk"))
        .filter(col("cust_nation") =!= col("supp_nation"))
        .groupBy("cust_nation", "supp_nation")
        .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 4)
               .as("revenue"),
             count(lit(1)).as("n_items"))
    }),
    // TPC-H Q13 shape: order-count distribution over customers — LEFT
    // OUTER join so zero-order customers survive into the n_orders=0 bin,
    // then a second aggregation over the first's output
    "q13_custdist" -> ((s, d) =>
      Tables.customer(s, d)
        .join(Tables.orders(s, d), col("c_custkey") === col("o_custkey"), "left_outer")
        .groupBy("c_custkey")
        .agg(count(col("o_orderkey")).as("n_orders"))
        .groupBy("n_orders")
        .agg(count(lit(1)).as("custdist"))),
    // TPC-H Q15 shape: suppliers achieving the quarter's max revenue —
    // aggregate once, then the scalar max rides a one-row broadcast back
    // against its own aggregate (no second scan of the fact table)
    "q15_top_supplier" -> ((s, d) => {
      val rev = Tables.lineitem(s, d)
        .filter(col("l_shipdate").cast("date") >= lit("1996-01-01") &&
          col("l_shipdate").cast("date") < lit("1996-04-01"))
        .groupBy("l_suppkey")
        .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 4)
               .as("total_rev"))
      rev.join(broadcast(rev.agg(max("total_rev").as("max_rev"))),
               col("total_rev") === col("max_rev"))
        .join(broadcast(Tables.supplier(s, d)), col("l_suppkey") === col("s_suppkey"))
        .select(col("s_suppkey"), col("s_name"), col("total_rev"))
    }),
    // TPC-H Q17 shape: small-quantity revenue for one brand against the
    // per-part average — the correlated scalar subquery becomes an
    // aggregate-then-rejoin on partkey. Quantities are integral doubles,
    // so sum/count (and thus the avg threshold) are float-exact in both
    // engines and the < comparison cannot flip on summation order.
    "q17_small_quantity" -> ((s, d) => {
      val brandParts = Tables.part(s, d).filter(col("p_brand") === "Brand#19")
        .select("p_partkey")
      val li = Tables.lineitem(s, d)
        .join(broadcast(brandParts), col("l_partkey") === col("p_partkey"))
      val avgQ = li.groupBy(col("l_partkey").as("a_partkey"))
        .agg(avg(col("l_quantity")).as("avg_qty"))
      li.join(avgQ, col("l_partkey") === col("a_partkey"))
        .filter(col("l_quantity") < lit(0.5) * col("avg_qty"))
        .agg(round(sum(col("l_extendedprice")) / 7.0, 4).as("avg_yearly"))
    }),

    // TPC-H Q8 shape: one supplier nation's share of revenue to a region's
    // customers, by order year — ratio-of-conditional-sums over the same
    // six-table broadcast join tree as q7
    "q8_market_share" -> ((s, d) => {
      val custNk = Tables.nation(s, d)
        .select(col("n_nationkey").as("c_nk"), col("n_regionkey").as("c_rk"))
      val suppNation = Tables.nation(s, d)
        .select(col("n_nationkey").as("s_nk"), col("n_name").as("supp_nation"))
      val rev = col("l_extendedprice") * (lit(1) - col("l_discount"))
      // reduce the CUSTOMER side to the region FIRST (dims joining dims,
      // all broadcast-sized), so non-ASIA order rows drop at their first
      // join and never reach the fact table — at 100 TB this is the
      // difference between shuffling 1/5th of orders and all of them
      val asiaCust = Tables.customer(s, d)
        .join(broadcast(custNk), col("c_nationkey") === col("c_nk"))
        .join(broadcast(Tables.region(s, d).filter(col("r_name") === "ASIA")),
              col("c_rk") === col("r_regionkey"))
        .select("c_custkey")
      Tables.lineitem(s, d)
        .join(Tables.orders(s, d), col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(asiaCust), col("o_custkey") === col("c_custkey"))
        .join(broadcast(Tables.supplier(s, d)), col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(suppNation), col("s_nationkey") === col("s_nk"))
        .groupBy(year(col("o_orderdate")).cast("long").as("o_year"))
        .agg(round(sum(when(col("supp_nation") === "NATION_3", rev).otherwise(0.0)) /
                     sum(rev), 4).as("mkt_share"),
             count(lit(1)).as("n_items"))
    }),
    // TPC-H Q22 shape: lapsed high-balance customers — scalar-subquery
    // threshold (one-row broadcast) + NOT EXISTS as a LEFT ANTI join
    // against recent orders only (the date filter pushes to the scan, so
    // the anti-join's build side is the small recent slice)
    "q22_no_orders" -> ((s, d) => {
      val cust = Tables.customer(s, d)
      // threshold as round(sum,2)/n: balances carry 2 decimals, so the
      // rounded sum is the exact decimal sum (identical double in both
      // engines) and the > comparison cannot flip on summation order —
      // a raw avg() is order-dependent in its last ulps
      val avgBal = cust.filter(col("c_acctbal") > 0.0)
        .agg(round(round(sum("c_acctbal"), 2) / count(lit(1)), 6).as("avg_bal"))
      cust.crossJoin(broadcast(avgBal))
        .filter(col("c_acctbal") > col("avg_bal"))
        .join(Tables.orders(s, d)
                .filter(col("o_orderdate").cast("date") >= lit("2000-01-01"))
                .select("o_custkey"),
              col("c_custkey") === col("o_custkey"), "left_anti")
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n_cust"), round(sum("c_acctbal"), 4).as("total_bal"))
    }),
    // TPC-H Q2 shape: cheapest supplier per part within one region — the
    // correlated-min subquery becomes aggregate-then-rejoin (same recipe as
    // q17). No partsupp table in this corpus, so "supply cost" is the
    // cheapest observed unit price min(l_extendedprice / l_quantity):
    // a single IEEE division is bit-identical on both engines and min()
    // never accumulates, so the equality join-back on the unrounded double
    // cannot miss. Ties on cost resolve to the lowest suppkey (exact
    // integer min). All dims broadcast; lineitem aggregates by its natural
    // (part, supp) key — one shuffle at any scale.
    "q2_min_cost_supplier" -> ((s, d) => {
      val asiaSupp = Tables.supplier(s, d)
        .join(broadcast(Tables.nation(s, d)), col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(Tables.region(s, d).filter(col("r_name") === "ASIA")),
              col("n_regionkey") === col("r_regionkey"))
        .select("s_suppkey", "s_name")
      val parts = Tables.part(s, d).filter(col("p_size") === 10)
        .select("p_partkey", "p_name")
      val cost = Tables.lineitem(s, d)
        .join(broadcast(parts.select("p_partkey")), col("l_partkey") === col("p_partkey"))
        .join(broadcast(asiaSupp.select("s_suppkey")), col("l_suppkey") === col("s_suppkey"))
        .groupBy(col("p_partkey"), col("l_suppkey"))
        .agg(min(col("l_extendedprice") / col("l_quantity")).as("unit_cost"))
      val minCost = cost.groupBy(col("p_partkey").as("mp"))
        .agg(min("unit_cost").as("min_cost"))
      cost.join(broadcast(minCost),
            col("p_partkey") === col("mp") && col("unit_cost") === col("min_cost"))
        .groupBy("p_partkey", "unit_cost")
        .agg(min("l_suppkey").as("s_suppkey"))
        .join(broadcast(parts), Seq("p_partkey"))
        .join(broadcast(asiaSupp), Seq("s_suppkey"))
        .select(col("p_partkey"), col("p_name"), col("s_suppkey"), col("s_name"),
          round(col("unit_cost"), 4).as("unit_cost"))
    }),
    // TPC-H Q11 shape: nations holding an outsized share of stock value,
    // HAVING against a scalar subquery over the same aggregate. Value is
    // sum(quantity x retailprice-in-deci-units) — quantities are integral
    // and retail prices carry exactly one decimal, so the sum is exact
    // BIGINT arithmetic and the 15x share comparison cannot drift (never
    // threshold a double sum). The one-row total broadcasts back.
    "q11_stock_share" -> ((s, d) => {
      val deci = col("l_quantity").cast("long") *
        round(col("p_retailprice") * 10.0, 0).cast("long")
      val v = Tables.lineitem(s, d)
        .join(broadcast(Tables.part(s, d).select("p_partkey", "p_retailprice")),
              col("l_partkey") === col("p_partkey"))
        .join(broadcast(Tables.supplier(s, d)), col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(Tables.nation(s, d)), col("s_nationkey") === col("n_nationkey"))
        .groupBy("n_name").agg(sum(deci).as("stock_decis"))
      v.crossJoin(broadcast(v.agg(sum("stock_decis").as("tot"))))
        .filter(col("stock_decis") * 15L > col("tot"))
        .select("n_name", "stock_decis")
    }),
    // TPC-H Q16 shape: supplier variety per (brand, size) for selected
    // non-PROMO sizes, excluding flagged suppliers — the NOT IN subquery
    // becomes a LEFT ANTI against the 6-row negative-balance list, then a
    // grouped count-distinct. Exact integer output; the distinct shuffles
    // once on the (brand, size, suppkey) partial axis.
    "q16_supplier_variety" -> ((s, d) => {
      val flagged = Tables.supplier(s, d).filter(col("s_acctbal") < 0.0)
        .select("s_suppkey")
      val parts = Tables.part(s, d)
        .filter(col("p_type") =!= "PROMO" && col("p_size").isin(1, 14, 23, 45))
        .select("p_partkey", "p_brand", "p_size")
      Tables.lineitem(s, d)
        .join(broadcast(parts), col("l_partkey") === col("p_partkey"))
        .join(broadcast(flagged), col("l_suppkey") === col("s_suppkey"), "left_anti")
        .groupBy("p_brand", "p_size")
        .agg(countDistinct("l_suppkey").as("supplier_cnt"))
    }),
    // TPC-H Q20 shape: suppliers who moved an outsized share of one part
    // family — IN-on-aggregated-subquery as a broadcast-back threshold
    // (qty > 1.1x the mean, compared as 10*qty*n > 11*total in exact
    // BIGINT so no float mean is ever materialized). The name-prefix
    // filter prunes part FIRST, so lineitem only aggregates matching rows.
    "q20_qty_suppliers" -> ((s, d) => {
      val fam = Tables.part(s, d).filter(col("p_name").startsWith("small "))
        .select("p_partkey")
      val sq = Tables.lineitem(s, d)
        .join(broadcast(fam), col("l_partkey") === col("p_partkey"))
        .groupBy("l_suppkey").agg(sum("l_quantity").cast("long").as("qty"))
      val tot = sq.agg(sum("qty").as("tot"), count(lit(1)).as("nsupp"))
      sq.crossJoin(broadcast(tot))
        .filter(col("qty") * col("nsupp") * 10L > col("tot") * 11L)
        .join(broadcast(Tables.supplier(s, d)
                .join(broadcast(Tables.nation(s, d)),
                      col("s_nationkey") === col("n_nationkey"))
                .select("s_suppkey", "s_name", "n_name")),
              col("l_suppkey") === col("s_suppkey"))
        .select(col("s_suppkey"), col("s_name"), col("n_name"), col("qty"))
    }),
    // TPC-H Q12 shape: late-line priority census by return flag (the
    // synthetic schema has no l_shipmode/l_commitdate, so the mode axis is
    // l_returnflag and "late" is shipped >365 days after the order date —
    // same join + two-conditional-count skeleton). Counts via
    // count(CASE...) so both engines produce BIGINT, never a DuckDB
    // HUGEINT sum; the returnflag filter prunes lineitem BEFORE the join.
    "q12_late_priority" -> ((s, d) =>
      Tables.lineitem(s, d)
        .filter(col("l_returnflag").isin("A", "R"))
        .select("l_orderkey", "l_returnflag", "l_shipdate")
        .join(Tables.orders(s, d)
                .select("o_orderkey", "o_orderdate", "o_orderpriority"),
              col("l_orderkey") === col("o_orderkey"))
        .filter(datediff(col("l_shipdate").cast("date"),
                         col("o_orderdate").cast("date")) > 365)
        .groupBy("l_returnflag")
        .agg(count(when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1))
               .as("high_line_count"),
             count(when(!col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1))
               .as("low_line_count"))),
    // TPC-H Q21 shape: suppliers who were the SOLE late supplier on a
    // multi-supplier finished order. The classic EXISTS / NOT EXISTS pair
    // becomes ONE per-order aggregation (distinct suppliers, distinct
    // late suppliers) rejoined to the late lines: exists(other supplier)
    // ⟺ n_supp > 1, not-exists(other LATE supplier) ⟺ n_late_supp = 1
    // given the probe line is itself late. Both the aggregate and the
    // rejoin shuffle on l_orderkey — the same key, so the lineitem⋈orders
    // subtree is computed once and reused (ReusedExchange); supplier and
    // nation broadcast. Output is an exact integer count per supplier.
    "q21_waiting_supplier" -> ((s, d) => {
      val lo = Tables.lineitem(s, d)
        .select("l_orderkey", "l_suppkey", "l_shipdate")
        .join(Tables.orders(s, d).filter(col("o_orderstatus") === "F")
                .select("o_orderkey", "o_orderdate"),
              col("l_orderkey") === col("o_orderkey"))
        .withColumn("late",
          datediff(col("l_shipdate").cast("date"),
                   col("o_orderdate").cast("date")) > 365)
      val perOrder = lo.groupBy("l_orderkey")
        .agg(countDistinct("l_suppkey").as("n_supp"),
             countDistinct(when(col("late"), col("l_suppkey")))
               .as("n_late_supp"))
      lo.filter(col("late"))
        .join(perOrder, Seq("l_orderkey"))
        .filter(col("n_supp") > 1L && col("n_late_supp") === 1L)
        .join(broadcast(Tables.supplier(s, d)
                .join(broadcast(Tables.nation(s, d)
                        .filter(col("n_name") === "NATION_3")),
                      col("s_nationkey") === col("n_nationkey"))
                .select("s_suppkey", "s_name")),
              col("l_suppkey") === col("s_suppkey"))
        .groupBy("s_name").agg(count(lit(1)).as("numwait"))
    }),
    // Bloom-filter semi-join: the 100 TB pre-shuffle pruning pattern — a
    // 256-bit deterministic filter over the "heavy purchaser" member set
    // via operators/BloomJoin: 8 BIGINT words of 32 bits (shift stays
    // < 2^31: DuckDB raises on a 1<<63 BIGINT overflow, Spark wraps —
    // 32-bit words keep both exact), the same Knuth multipliers as
    // agg_count_min, k=4 probes per row. The probe side is a pure
    // codegen'd expression over the literal bitmap — no join, no
    // exchange; only the tiny word build aggregates. bloom_hit ⊇
    // is_member by construction (false positives expected and surfaced);
    // the oracle replays the identical integer arithmetic term for term.
    // NOTE: buildBitmap runs a real Spark job at query-construction time
    // (like dedup_canonical / ann_ivf_indexed) — keep it off Explain's
    // plan-dump default list.
    "events_bloom_join" -> ((s, d) => {
      val ev = Tables.events(s, d)
      val members = ev.filter(col("event_type") === "purchase")
        .groupBy("user_id").agg(count(lit(1)).as("np"))
        .filter(col("np") >= 16L).select("user_id")
      val bm = BloomJoin.buildBitmap(members, "user_id", mBits = 256, k = 4)
      ev.select("event_id", "user_id")
        .withColumn("bloom_hit", BloomJoin.mightContain(col("user_id"), bm, 256, 4))
        .join(broadcast(members.withColumn("is_m", lit(true))),
              Seq("user_id"), "left")
        .select(col("event_id"), col("user_id"), col("bloom_hit"),
          coalesce(col("is_m"), lit(false)).as("is_member"))
    }),

    // ---- Round-4 corpus / vector analytics --------------------------------
    // Shannon token entropy per document — the vocabulary-diversity signal
    // quality filters use alongside repetition ratios. One explode + two
    // aggregations: (doc_id, tok) then doc_id; entropy folded as
    // log2(n) - sum(c*log2 c)/n so each term is engine-identical and only
    // the (rounded) sum order differs.
    "text_entropy" -> ((s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"), TextFunctions.tokens(col("text")).as("toks"))
        .select(col("doc_id"), explode(col("toks")).as("tok"))
        .groupBy("doc_id", "tok").agg(count(lit(1)).as("c"))
        .groupBy("doc_id")
        .agg(sum("c").cast("long").as("n_tokens"),
             round(log2(sum("c")) - sum(col("c") * log2(col("c"))) / sum("c"), 4)
               .as("entropy"))),
    // Global vocabulary head: top-50 corpus tokens. The groupBy shrinks
    // the exploded stream to vocabulary size map-side (partial agg), and
    // only (token, count) rows reach the final top-k; the (c desc, tok asc)
    // tiebreak makes the cut deterministic across engines.
    "vocab_topk" -> ((s, d) =>
      Tables.documents(s, d)
        .select(TextFunctions.tokens(col("text")).as("toks"))
        .select(explode(col("toks")).as("tok"))
        .groupBy("tok").agg(count(lit(1)).as("c"))
        .orderBy(col("c").desc, col("tok").asc)
        .limit(50)),
    // Vocabulary coverage QA: per source, the share of token occurrences
    // outside the top-256 corpus vocabulary — the OOV audit run before
    // committing to a tokenizer. The vocab head is a bounded TakeOrdered
    // that BROADCASTS to the membership probe; rate in exact integer
    // per-million (truncating div on both engines, counts positive)
    "text_oov_rate" -> ((s, d) => {
      val toks = Tables.documents(s, d)
        .select(col("source"), explode(TextFunctions.tokens(col("text"))).as("tok"))
      val vocab = toks.groupBy("tok").agg(count(lit(1)).as("c"))
        .orderBy(col("c").desc, col("tok").asc).limit(256)
        .select(col("tok"), lit(1).as("__in"))
      toks.join(broadcast(vocab), Seq("tok"), "left")
        .groupBy("source")
        .agg(count(lit(1)).as("n_tokens"),
          sum(when(col("__in").isNull, 1L).otherwise(0L)).as("n_oov"))
        .select(col("source"), col("n_tokens"), col("n_oov"),
          expr("n_oov * 1000000L div n_tokens").as("oov_ppm"))
    }),
    // Heaps'-law vocabulary growth curve: cumulative token count vs
    // cumulative DISTINCT vocabulary along doc order, on a FIXED 32-point
    // axis (bucket = doc_id*32 div (max_id+1), so the axis stays 32 at any
    // corpus size). New-vocab-per-bucket comes from each token's FIRST
    // occurrence (groupBy token, min doc_id) — never a running distinct
    // over raw tokens; the cumulative windows ride the bounded 32-row
    // axis. The tokenizer-budget planning curve run before scaling a
    // corpus 100x.
    "text_heaps" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val mx = docs.agg(max("doc_id").as("mxid"))
      val toks = docs.select(col("doc_id"),
        explode(TextFunctions.tokens(col("text"))).as("tok"))
      val tokC = toks.crossJoin(broadcast(mx))
        .select(expr("doc_id * 32 div (mxid + 1)").as("bucket"))
        .groupBy("bucket").agg(count(lit(1)).as("c"))
      val nv = toks.groupBy("tok").agg(min("doc_id").as("fd"))
        .crossJoin(broadcast(mx))
        .select(expr("fd * 32 div (mxid + 1)").as("bucket"))
        .groupBy("bucket").agg(count(lit(1)).as("nv"))
      val w = Window.orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      tokC.join(nv, Seq("bucket"), "left")
        .select(col("bucket"), col("c"), coalesce(col("nv"), lit(0L)).as("nv"))
        .select(col("bucket"),
          sum("c").over(w).as("cum_tokens"),
          sum("nv").over(w).as("cum_vocab"))
    }),
    // Deterministic mixture rebalance: downsample every source to the same
    // budget (60% of the smallest source) by hash-bucket order — the
    // source-weighting pass every pretraining mixture runs. Selection is
    // Packing.takeQuotaByGroup's boundary-bucket plan (whole hash buckets
    // decided map-side off a broadcast histogram; only each source's one
    // boundary bucket is ranked row-wise) — NOT a row_number window over
    // the raw corpus, which would sort every row of a source through one
    // task to keep ~300 (RewriteParitySpec pins bit-identity to that form).
    "sample_balance" -> ((s, d) => {
      val docs = Tables.documentsPlain(s, d)
      val counts = docs.groupBy("source").agg(count(lit(1)).as("src_n"))
      val minN = counts.agg(ceil(lit(0.6) * min("src_n")).cast("long").as("quota"))
      val quotas = counts.select("source").crossJoin(broadcast(minN))
      val bucketed = docs.select(col("doc_id"), col("source"),
        (pmod(col("doc_id") * lit(2654435761L), lit(4294967296L)) % 1000)
          .as("bucket"))
      Packing.takeQuotaByGroup(bucketed, quotas).select("doc_id", "source")
    }),
    // Temperature mixing (T = 0.5): per-source sampling quotas follow
    // c^T / sum(c^T) of a 300-doc budget — the standard multi-source
    // rebalance that upweights rare sources without equalizing them
    // (sample_balance's flat quota is the T -> 0 limit). Bit-stability:
    // sqrt is IEEE correctly-rounded on both engines, and the denominator
    // folds in sorted-source order (the cosine_sim convention); selection
    // within a source reuses sample_balance's deterministic hash order via
    // the same boundary-bucket plan (takeQuotaByGroup) — per-source quotas
    // ride the broadcast histogram, no raw-row window sort by source.
    "sample_temperature" -> ((s, d) => {
      val docs = Tables.documentsPlain(s, d)
      val counts = docs.groupBy("source").agg(count(lit(1)).as("c"))
      val denom = counts
        .agg(sort_array(collect_list(struct(col("source"),
          sqrt(col("c")).as("w")))).as("ws"))
        .select(expr("aggregate(ws, CAST(0.0 AS DOUBLE), (acc, x) -> acc + x.w)")
          .as("denom"))
      val quotas = counts.crossJoin(broadcast(denom))
        .select(col("source"),
          floor(sqrt(col("c")) / col("denom") * 300 + 0.5).cast("long").as("quota"))
      val bucketed = docs.select(col("doc_id"), col("source"),
        (pmod(col("doc_id") * lit(2654435761L), lit(4294967296L)) % 1000)
          .as("bucket"))
      Packing.takeQuotaByGroup(bucketed, quotas).select("doc_id", "source")
    }),
    // Johnson-Lindenstrauss sign projection 64 -> 16: the map-only
    // dimensionality cut that runs before clustering/ANN at 100 TB. The
    // deterministic matrix is exported for DuckDB to replay the same dot
    // products; per-coordinate rows keep the compare on scalar doubles.
    "embed_project" -> ((s, d) =>
      Similarity.jlProject(Tables.embeddings(s, d).filter(col("vec_id") < 500),
        Similarity.jlMatrix(dim = 64, k = 16))),
    // Per-label embedding centroids (posexplode + two-level agg): the
    // class-prototype computation behind centroid classifiers and
    // diversity balancing. Scalar summaries only, so the gate compares
    // engine-stably at 4 dp.
    "embed_centroid" -> ((s, d) =>
      Tables.embeddings(s, d)
        .select(col("label"), col("vec_id"),
          posexplode(VectorFunctions.asDouble(col("embedding"))).as(Seq("pos", "x")))
        .groupBy("label", "pos")
        .agg(avg("x").as("m"), count(lit(1)).as("n"))
        .groupBy("label")
        .agg(max("n").as("n_vectors"),
             round(sqrt(sum(col("m") * col("m"))), 4).as("centroid_norm"),
             round(avg("m"), 4).as("centroid_mean"))),
    // Per-dimension embedding profile in EXACT integers — the feature-QA
    // pass (dead dims, scale drift, clipped values) run before any vector
    // index is built. Values truncate to micros (|x| < 1 here, so xm² ≤
    // 1e12 and the n·Σx²−(Σx)² variance numerator stays far under int64;
    // a 100 TB run widens the accumulators to DECIMAL(38,0) — same plan,
    // one map-combinable aggregate over the posexploded dim axis)
    "embed_dim_stats" -> ((s, d) =>
      Tables.embeddings(s, d)
        .select(posexplode(VectorFunctions.asDouble(col("embedding"))).as(Seq("dim", "x")))
        .withColumn("xm", round(col("x") * 1000000.0, 0).cast("long"))
        .groupBy("dim")
        .agg(count(lit(1)).as("n"), sum("xm").as("sum_micros"),
          sum(col("xm") * col("xm")).as("sumsq"),
          min("xm").as("min_micros"), max("xm").as("max_micros"))
        .select(col("dim").cast("long").as("dim"), col("n"), col("sum_micros"),
          (col("n") * col("sumsq") - col("sum_micros") * col("sum_micros")).as("var_n2"),
          col("min_micros"), col("max_micros"))),
    // Cluster census over the IVF quantizer: vectors per cell + the cell
    // medoid (closest member). DuckDB recomputes the whole assignment from
    // the exported centers, so this is the direct oracle on the coarse
    // quantizer the ann_ivf gate builds on. Rounded-distance argmin with a
    // lowest-cell tiebreak keeps the decision engine-independent.
    "cluster_assign" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val centers = Similarity.fitCenters(emb, 16)
      val a = Similarity.assignCellsRounded(emb, centers, dp = 4)
      // medoid via min_by AGGREGATION, not a window: a window partitioned
      // by cell funnels each cell's whole vector set through one sort task
      // (16 cells = 16 tasks at any corpus size); the aggregate combines
      // map-side and the (d, vec_id) struct-min is the same deterministic
      // tiebreak (RewriteParitySpec pins bit-parity)
      a.groupBy("cell")
        .agg(count(lit(1)).as("n"),
          min_by(col("vec_id"), struct(col("d"), col("vec_id"))).as("medoid"))
        .select("cell", "n", "medoid")
    }),
    // FULL-corpus k-means: two distributed Lloyd refinement iterations
    // from the sample-seeded quantizer, then the cell census under the
    // refined centers. Each iteration is one map-only assignment + one
    // (cell, dim) partial aggregate (k x dim rows collected — bounded);
    // the center update is EXACT integer floor-division micros, so the
    // oracle replays both iterations bit-for-bit from the exported seed
    // centers. Similarity.lloydConverged is the iterate-until-stable
    // driver behind this bounded-unroll gate (fixpoint spec-pinned).
    "cluster_lloyd" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val refined = Similarity.lloydRefine(emb,
        Similarity.fitCenters(emb, 16), iters = 2)
      Similarity.assignCellsRounded(emb, refined, dp = 4)
        .groupBy("cell")
        .agg(count(lit(1)).as("n"),
          min_by(col("vec_id"), struct(col("d"), col("vec_id"))).as("medoid"))
        .select("cell", "n", "medoid")
    }),

    // ---- Round-8 structure / testing / retrieval gates ---------------------
    // Triangle counts over the user co-occurrence graph (same event_type
    // within the same 5-minute window). Edge building is a bucket-local
    // self-join — (event_type, window) buckets bound each join key — and
    // the counting itself is degree-oriented (Graph.triangles), so hub
    // users cap at O(sqrt(m)) out-degree instead of degree^2 wedges
    "graph_triangles" -> ((s, d) =>
      Graph.triangleCounts(coOccEdges(s, d)).withColumnRenamed("node", "user_id")),
    // The triangle family on the persist-once layout: the degree-oriented
    // adjacency (Graph.orientEdges) written bucketed+sorted by apex, then
    // the wedge self-join reads the buckets directly — zero exchanges
    // below it, no repartition pin needed (bucketing fixed the apex
    // distribution at write time). Same census as graph_triangles (same
    // oracle); the third query family riding one stored graph layout
    // after fof/linkpred (graph_edges_indexed).
    "graph_tri_indexed" -> ((s, d) => {
      val ds = d.replaceAll("[^a-zA-Z0-9]", "_")
      val dir = scratchDir("gidx-tri", d)
      val nBt = Graph.bucketCount(s)
      Graph.orientEdges(coOccEdges(s, d))
        .repartition(nBt, col("u")) // bucket-aligned — see graph_edges_indexed
        .write.mode("overwrite").format("parquet")
        .bucketBy(nBt, "u").sortBy("u")
        .option("path", dir).saveAsTable(s"graft_gidx_tri_$ds")
      Graph.triangleCountsFrom(
          Graph.trianglesStored(s.table(s"graft_gidx_tri_$ds")))
        .withColumnRenamed("node", "user_id")
    }),
    // Last-touch attribution: every purchase credits the most recent
    // prior click by the same user — the marketing-analytics as-of join,
    // reusing the one-shuffle AsOfJoin carry. Revenue rolls up onto the
    // attributed click's hour in exact cents
    "events_attribution" -> ((s, d) => {
      val ev = Tables.events(s, d)
      val base = ev.select(col("user_id"),
        graft.model.TimeCols.millis(ev, "ts").as("t"),
        col("event_type"), col("event_id"),
        round(col("value") * 100).cast("long").as("cents"))
      val purchases = base.filter(col("event_type") === "purchase")
        .select("user_id", "t", "event_id", "cents")
      val clicks = base.filter(col("event_type") === "click")
        .select("user_id", "t", "event_id")
      AsOfJoin.asOf(purchases, clicks, "user_id", "t", Seq("event_id"))
        .groupBy(expr("asof_t div 3600000").as("click_hour"))
        .agg(count(lit(1)).as("n_purchases"), sum("cents").as("rev_cents"),
          countDistinct("user_id").as("n_users"))
    }),
    // Mann-Whitney U between purchase and view values — the rank-based
    // A/B readout that needs no normality assumption. Rank statistics are
    // computed from a VALUE HISTOGRAM, not a global row sort: the window
    // runs over distinct cents values (bounded by measurement resolution,
    // ~48k cells here, independent of row count), carrying twice-the-
    // average-rank as an exact integer so U and the tie correction are
    // hash-comparable; only the final z is IEEE, mirrored textually
    // Exact two-sample Kolmogorov-Smirnov distance between purchase and
    // view value distributions — the distribution-shift readout next to
    // the mean-level t/MWU tests. Everything integer until the last
    // division: per distinct cent value the cumulative counts fold over
    // the BOUNDED histogram axis (the events_ab_mwu convention — the
    // window runs on an aggregated <=10k-row axis, never raw events), and
    // the sup statistic maximizes |F1 - F2| as the exact integer
    // |cum1*n2 - cum2*n1| before one rounded division by n1*n2. The
    // products are bounded by n1*n2, which outgrows BIGINT once each arm
    // passes ~3e9 rows — at the 10^10-row design point Spark non-ANSI
    // would wrap silently while DuckDB errors — so both engines compute
    // them in 38-digit exact decimals (DECIMAL(38,0) / HUGEINT): exact up
    // to ~9.2e18 rows per arm, far past any table this engine will see.
    "events_ab_ks" -> ((s, d) => {
      val ev = Tables.events(s, d)
      val h = ev.filter(col("event_type").isin("purchase", "view"))
        .select(col("event_type"), round(col("value") * 100).cast("long").as("c"))
        .groupBy("c")
        .agg(sum(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("np"),
          sum(when(col("event_type") === "view", 1L).otherwise(0L)).as("nv"))
      val wCum = Window.orderBy("c")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wAll = Window.orderBy("c")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      h.withColumn("cum1", sum("np").over(wCum))
        .withColumn("cum2", sum("nv").over(wCum))
        .withColumn("t1", sum("np").over(wAll))
        .withColumn("t2", sum("nv").over(wAll))
        .withColumn("dn", abs(col("cum1").cast("decimal(38,0)") * col("t2") -
          col("cum2").cast("decimal(38,0)") * col("t1")))
        .agg(max("t1").as("n1"), max("t2").as("n2"), max("dn").as("dnum"))
        .select(col("n1"), col("n2"),
          round(col("dnum").cast("double") /
            (col("n1").cast("double") * col("n2").cast("double")), 6).as("d_stat"))
    }),
    "events_ab_mwu" -> ((s, d) => {
      val ev = Tables.events(s, d)
      val h = ev.filter(col("event_type").isin("purchase", "view"))
        .select(col("event_type"), round(col("value") * 100).cast("long").as("c"))
        .groupBy("c")
        .agg(sum(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("np"),
          sum(when(col("event_type") === "view", 1L).otherwise(0L)).as("nv"))
      val wCum = Window.orderBy("c").rowsBetween(Window.unboundedPreceding, -1)
      val agg = h
        .withColumn("tcnt", col("np") + col("nv"))
        .withColumn("cum", coalesce(sum("tcnt").over(wCum), lit(0L)))
        .withColumn("r2", lit(2L) * col("cum") + col("tcnt") + 1L)
        .agg(sum("np").as("n1"), sum("nv").as("n2"),
          sum(col("np") * col("r2")).as("twoR1"),
          sum(col("tcnt") * col("tcnt") * col("tcnt") - col("tcnt")).as("tie_cubes"))
      agg.select(col("n1"), col("n2"),
          (col("twoR1") - col("n1") * (col("n1") + 1L)).as("two_u1"),
          col("tie_cubes"))
        .withColumn("z", round(
          (col("two_u1").cast("double") / 2.0 -
            col("n1").cast("double") * col("n2").cast("double") / 2.0) /
            sqrt(col("n1").cast("double") * col("n2").cast("double") / 12.0 *
              ((col("n1") + col("n2") + 1L).cast("double") -
                col("tie_cubes").cast("double") /
                  ((col("n1") + col("n2")).cast("double") *
                    (col("n1") + col("n2") - 1L).cast("double")))), 6))
    }),
    // Positional phrase search: fixed bigram phrases answered from a
    // positional postings list — posexplode to (doc, pos, token), keep
    // only phrase vocabulary, adjacency equi-join on (doc, pos+1). The
    // postings build is the inverted-index write path; at corpus scale
    // the probe touches only the phrase terms' postings, never full text
    "text_phrase" -> ((s, d) => {
      import s.implicits._
      val phrases = Seq("hash join", "table scan", "sort merge")
      val p = phrases.map { ph =>
        val Array(w1, w2) = ph.split(" "); (ph, w1, w2)
      }.toDF("phrase", "w1", "w2")
      val toks = Tables.documents(s, d)
        .select(col("doc_id"),
          posexplode(split(lower(trim(col("text"))), "\\s+")).as(Seq("pos", "tok")))
      val starts = toks.join(broadcast(p), col("tok") === col("w1"))
        .select(col("doc_id"), col("pos"), (col("pos") + 1).as("p2"),
          col("phrase"), col("w2"))
      // the probe side keeps only phrase-vocabulary postings BEFORE the
      // adjacency join — at corpus scale both sides are term postings,
      // never the full token stream
      val seconds = phrases.map(_.split(" ")(1)).distinct
      starts.join(toks.filter(col("tok").isInCollection(seconds)).as("t2"),
          starts("doc_id") === col("t2.doc_id") && col("p2") === col("t2.pos") &&
            col("w2") === col("t2.tok"))
        .groupBy(col("phrase"), starts("doc_id").as("doc_id"))
        .agg(count(lit(1)).as("n_hits"), min(starts("pos")).cast("long").as("first_pos"))
    }),
    // Per-domain quota cap: keep the 10 longest docs per source — the
    // corpus-balancing primitive. Bounded-heap topk_rows per group (map-
    // side k rows per source), NOT a row_number window: no source's full
    // doc list ever sorts through one reducer
    "sample_domain_cap" -> ((s, d) =>
      Tables.documentsPlain(s, d)
        .groupBy("source")
        .agg(graft.functions.TopKRows.topk_rows(
          struct(col("n_chars").as("nc"), (-col("doc_id")).as("nid"),
            col("doc_id").as("doc_id")), 10, descending = true).as("top"))
        .select(col("source"), explode(col("top")).as("r"))
        .select(col("source"), col("r.doc_id").as("doc_id"),
          col("r.nc").as("n_chars"))),
    // CUSUM change-point per series: S_i = n·cumsum(c)_i − i·Σc (the
    // mean-shift statistic scaled to exact integers — no fractional mean),
    // report the argmax |S_i|. Sequential prefix per series rides the
    // same per-series window class as ts_cumsum; the argmax itself is a
    // bounded-heap k=1 aggregate keyed (|S|, −i), so ties resolve to the
    // earliest row identically on both engines
    "ts_changepoint" -> ((s, d) => {
      val base = ts(s, d).select(col("series_id"), col("t"), col("event_id"),
        round(col("value") * 100).cast("long").as("c"))
      val wOrd = Window.partitionBy("series_id").orderBy(col("t"), col("event_id"))
      val tot = base.groupBy("series_id")
        .agg(count(lit(1)).as("n"), sum("c").as("tc"))
      base
        .withColumn("i", row_number().over(wOrd).cast("long"))
        .withColumn("cs", sum("c").over(wOrd.rowsBetween(Window.unboundedPreceding, 0)))
        .join(tot, "series_id")
        .withColumn("sabs", abs(col("n") * col("cs") - col("i") * col("tc")))
        .groupBy("series_id")
        .agg(graft.functions.TopKRows.topk_rows(
          struct(col("sabs").as("sabs"), (-col("i")).as("ni"),
            col("t").as("t"), col("n").as("n")), 1, descending = true).as("top"))
        .select(col("series_id"), col("top")(0).as("r"))
        .select(col("series_id"), col("r.t").as("cp_t"),
          col("r.sabs").as("cusum_max"), col("r.n").as("n"))
    }),
    // Edge embeddedness over the same co-occurrence graph: per edge, the
    // triangles it closes (= common neighbors of its endpoints) and the
    // neighborhood jaccard in exact integer micros — tie strength for
    // sparsification/community detection. Restricting common-neighbor
    // counting to EXISTING edges keeps it inside the degree-oriented
    // triangle join: |E| output rows, never the D² all-pairs blow-up
    "graph_edge_support" -> ((s, d) =>
      Graph.edgeSupport(coOccEdges(s, d)).filter(col("support") > 0L)),
    // SAX motif discovery: the most frequent 4-symbol SAX word per series
    // (word = 4 consecutive hourly PAA symbols — the ts_sax alphabet,
    // identical z expression). Words ride lead() over the AGGREGATED
    // hourly bucket axis (~720 rows/series/month, never raw rows); the
    // per-series argmax is the k=1 bounded heap with count-then-word
    // tiebreak pinned on both engines
    "ts_motif" -> ((s, d) => {
      val t = ts(s, d)
      val cents = round(col("value") * 100).cast("long")
      val per = t.select(col("series_id"), cents.as("c"))
        .groupBy("series_id")
        .agg(count(lit(1)).as("n"), sum("c").as("sct"),
          sum(col("c") * col("c")).as("qct"))
      def mu = col("sct").cast("double") / (col("n") * 100.0)
      def sigma = sqrt((col("qct").cast("double") / 10000.0 - col("n") * mu * mu) /
        col("n"))
      val sym = t.select(col("series_id"), col("t"), cents.as("c"))
        .groupBy(col("series_id"), expr("t div 3600000").as("bucket"))
        .agg(count(lit(1)).as("nb"), sum("c").as("sb_cents"))
        .join(broadcast(per), "series_id")
        .withColumn("z",
          (col("sb_cents").cast("double") / (col("nb") * 100.0) - mu) / sigma)
        .select(col("series_id"), col("bucket"),
          when(col("z") < -0.6745, "a").when(col("z") < 0.0, "b")
            .when(col("z") < 0.6745, "c").otherwise("d").as("sym"))
      val wB = Window.partitionBy("series_id").orderBy("bucket")
      val words = sym
        .withColumn("w", concat(col("sym"), lead("sym", 1).over(wB),
          lead("sym", 2).over(wB), lead("sym", 3).over(wB)))
        .filter(col("w").isNotNull)
        .groupBy("series_id", "w").agg(count(lit(1)).as("cnt"))
      // argmax by (cnt desc, word asc): pack the word's 4 symbols into a
      // long so the bounded heap's (long, long) key can carry the tiebreak
      val wordKey = expr(
        "-(ascii(substring(w,1,1)) * 16777216L + ascii(substring(w,2,1)) * 65536L + " +
          "ascii(substring(w,3,1)) * 256L + ascii(substring(w,4,1)))")
      words
        .groupBy("series_id")
        .agg(graft.functions.TopKRows.topk_rows(
          struct(col("cnt").as("cnt"), wordKey.as("wk"), col("w").as("w")),
          1, descending = true).as("top"))
        .select(col("series_id"), col("top")(0).as("r"))
        .select(col("series_id"), col("r.w").as("motif"), col("r.cnt").as("n_occ"))
    }),
    // KV snapshot diff: the live store's added/removed/changed cells
    // between two log horizons — the backup/replication delta the
    // reference's git-backed store reads off `git diff`. Raw-ts upper
    // bound pre-filters the scan (kv_expire pattern); the diff itself is
    // two LWW passes over one slice + a full-outer on the LWW key
    "kv_snapshot_diff" -> ((s, d) => {
      val (t1, t2) = (R_FROM, R_TO)
      val ev = Tables.events(s, d)
      val sliced = ev.filter(col("ts") <=
        graft.model.TimeCols.msUpperBound(ev.schema("ts").dataType, t2))
      KvOps.snapshotDiff(graft.model.KvModel.changeLogOf(sliced), t1, t2)
    }),
    // Inter-event transition latency: per (from_type -> to_type) edge, the
    // count and exact-integer-ms latency stats of consecutive same-user
    // events. Both lag carries (previous type, previous t) ride the
    // bucketed constant-carry plan — a hot user splits across day buckets,
    // never one sort task; mean is the one IEEE value, textually mirrored
    "user_transition_latency" -> ((s, d) => {
      val ev = Tables.events(s, d)
      val base = ev.select(col("user_id"), col("event_id"),
        graft.model.TimeCols.millis(ev, "ts").as("t"), col("event_type"))
      val lagged = Sessionize.lagBucketed(
        Sessionize.lagBucketed(base, "event_type", "from_type"), "t", "prev_t")
      lagged.filter(col("from_type").isNotNull)
        .withColumn("dt", col("t") - col("prev_t"))
        .groupBy(col("from_type"), col("event_type").as("to_type"))
        .agg(count(lit(1)).as("n"), sum("dt").as("sum_ms"),
          min("dt").as("min_ms"), max("dt").as("max_ms"))
        .withColumn("mean_ms",
          round(col("sum_ms").cast("double") / col("n"), 4))
    }),

    // Banded DTW distance between every pair of series — the classic TS
    // similarity behind series clustering. Each series first collapses to
    // its 12-hour PAA sum sequence (~60 integers/month — ONE map-side
    // aggregate, the bounded axis), then the 10 pairs fan out across
    // tasks, each an O(n·band) integer DP (operators/Dtw.scala). The
    // oracle replays the identical DP as a DuckDB recursive-CTE wavefront
    "ts_dtw" -> ((s, d) => {
      val base = ts(s, d)
        .select(col("series_id"), expr("t div 43200000").as("bucket"),
          round(col("value") * 100).cast("long").as("c"))
        .groupBy("series_id", "bucket").agg(sum("c").as("v"))
      val wB = Window.partitionBy("series_id").orderBy("bucket")
      val paa = base.withColumn("idx", row_number().over(wB))
      Dtw.pairDistances(s, paa, band = 6).filter(col("dtw") >= 0L)
    }),
    // PMI-scored collocations: top-20 adjacent word pairs by pointwise
    // mutual information (min count 20) — the corpus-linguistics phrase
    // extractor. Unigram and bigram counts are two map-side-combining
    // aggregates; candidates join the (small, high-frequency) unigram
    // side twice; top-20 plans as a bounded TakeOrderedAndProject. All
    // counts exact integers, the single ln() textually mirrored
    "text_collocations" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val uni = docs
        .select(explode(TextFunctions.tokens(col("text"))).as("tok"))
        .groupBy("tok").agg(count(lit(1)).as("c"))
      val bg = docs
        .select(explode(TextFunctions.allShingles(col("text"), 2)).as("bgm"))
        .groupBy("bgm").agg(count(lit(1)).as("c_ab"))
        .filter(col("c_ab") >= 20L)
        .withColumn("w1", split(col("bgm"), " ")(0))
        .withColumn("w2", split(col("bgm"), " ")(1))
      val tot = uni.agg(sum("c").as("n1")).crossJoin(
        docs.select(explode(TextFunctions.allShingles(col("text"), 2)).as("b"))
          .agg(count(lit(1)).as("n2")))
      bg.join(broadcast(uni.select(col("tok").as("w1"), col("c").as("c_a"))), "w1")
        .join(broadcast(uni.select(col("tok").as("w2"), col("c").as("c_b"))), "w2")
        .crossJoin(broadcast(tot))
        .select(col("w1"), col("w2"), col("c_ab"), col("c_a"), col("c_b"),
          round(log((col("c_ab").cast("double") / col("n2")) /
            ((col("c_a").cast("double") / col("n1")) *
              (col("c_b").cast("double") / col("n1")))), 6).as("pmi"))
        .orderBy(col("pmi").desc, col("w1").asc, col("w2").asc)
        .limit(20)
    }),
    // SCD-2 history of the KV store: each write's validity interval
    // [write_ts, next write's ts) per (id, key) cell, current = the open
    // interval of a non-tombstone — the temporal-table build every
    // warehouse needs. One lead() per cell; per-cell row counts are
    // bounded by the write rate, so the window axis is the cell history,
    // not the corpus
    "kv_history_scd2" -> ((s, d) => {
      val w = Window.partitionBy("id", "key")
        .orderBy(col("write_ts").asc, col("event_id").asc)
      graft.model.KvModel.changeLog(s, d)
        .withColumn("valid_to", lead("write_ts", 1).over(w))
        .select(col("id"), col("key"), col("event_id"), col("write_ts").as("valid_from"),
          col("valid_to"),
          (col("valid_to").isNull && !col("deleted")).as("is_current"))
    }),

    // Streaming CUSUM drift monitor, batch-replayed: the same per-event
    // step (StreamingCusum.step — TWO longs of state per series) the
    // state store carries, folded over the full history. The oracle is
    // the closed form hi = S - min(prefix S, 0): one cumsum + one running
    // min window, provably equal to the max(0,·) recursion
    // Streaming Holt level+trend smoother, batch-replayed: the same
    // per-event step (StreamingHolt.step — TWO doubles of state per
    // series) the state store carries, folded over the full history. The
    // oracle replays the identical recursion as a DuckDB recursive CTE;
    // every float op is written the same way on both sides (including
    // computing 1.0-0.3 instead of the literal 0.7 — they differ in IEEE)
    "stream_holt_replay" -> ((s, d) => {
      import s.implicits._
      val ticks = ts(s, d)
        .select(col("series_id"), col("t"), col("event_id"),
          col("value").cast("double").as("v"))
        .as[graft.streaming.StreamingHolt.Tick]
      graft.streaming.StreamingHolt.holtReplay(ticks, alpha = 0.5, beta = 0.3)
        .toDF()
        .select(col("series_id"), col("t"), col("event_id"),
          round(col("level"), 6).as("level"), round(col("trend"), 6).as("trend"))
    }),
    "stream_cusum_replay" -> ((s, d) => {
      import s.implicits._
      val ticks = ts(s, d)
        .select(col("series_id"), col("t"), col("event_id"),
          round(col("value") * 100).cast("long").as("c"))
        .as[graft.streaming.StreamingCusum.Tick]
      graft.streaming.StreamingCusum.cusumReplay(ticks, mu0 = 5000L).toDF()
    }),

    // Second-moment (Gram) matrix of the embedding corpus in EXACT
    // integers: coordinates scaled to micros, per-vector coordinate pairs
    // from one equi-self-join on vec_id (64×64 per vector, map-side
    // combined), upper triangle emitted. The covariance/PCA feeder — at
    // corpus scale this is ONE pass, shuffle bounded by the 2080-cell
    // output axis
    "embed_covariance" -> ((s, d) => {
      val coords = Tables.embeddings(s, d)
        .select(col("vec_id"), posexplode(col("embedding")).as(Seq("i", "x")))
        .select(col("vec_id"), col("i"),
          round(col("x").cast("double") * 1000000).cast("long").as("xi"))
      coords.as("a").join(coords.as("b"),
          col("a.vec_id") === col("b.vec_id") && col("a.i") <= col("b.i"))
        .groupBy(col("a.i").as("i"), col("b.i").as("j"))
        .agg(count(lit(1)).as("n"), sum(col("a.xi") * col("b.xi")).as("sxx"))
    }),
    // Power iteration for the Gram matrix's top eigenvector — PCA's first
    // component, in the pagerank convention: every step exact integer
    // arithmetic (matrix entries pre-scaled by a truncating div, vector
    // renormalized to ±1e6 by max-|w|), so two unrolled iterations
    // hash-compare. The matrix is 64×64 = one broadcastable axis; each
    // iteration is an edge-join + keyed sum exactly like graph_pagerank
    "embed_pca_power" -> ((s, d) => {
      // Spark's `div` truncates toward zero (Java long division); the
      // oracle mirrors with a sign-aware CASE over DuckDB's flooring `//`.
      // Scales: matrix entries pre-shrunk div 1e9 (≤ ~5e5 at sf0.1), the
      // vector held at ±1e5 — every product and sum stays < 2^63
      val coords = Tables.embeddings(s, d)
        .select(col("vec_id"), posexplode(col("embedding")).as(Seq("i", "x")))
        .select(col("vec_id"), col("i"),
          round(col("x").cast("double") * 1000000).cast("long").as("xi"))
      val gram = coords.as("a").join(coords.as("b"), col("a.vec_id") === col("b.vec_id"))
        .groupBy(col("a.i").as("i"), col("b.i").as("j"))
        .agg(sum(col("a.xi") * col("b.xi")).as("sxx"))
        .selectExpr("i", "j", "sxx div 1000000000L AS m")
      var v = s.range(64).select(col("id").cast("int").as("j"), lit(100000L).as("v"))
      for (_ <- 1 to 2) {
        val w = gram.join(broadcast(v), "j")
          .groupBy(col("i").as("dim")).agg(sum(col("m") * col("v")).as("w"))
        val mx = w.agg(max(abs(col("w"))).as("mx"))
        v = w.crossJoin(broadcast(mx))
          .selectExpr("dim AS j", "(w * 100000L) div mx AS v")
      }
      v.select(col("j").as("dim"), col("v").as("v_micros"))
    }),

    // Nearest-in-time join: every purchase gets the CLOSEST error event of
    // the same user, either direction (kdb `wj`-adjacent; as-of covers
    // only "at-or-before"). Composed from TWO AsOfJoin carries — the
    // backward pass as-is, the forward pass through time negation — then
    // a per-probe pick of the nearer side (ties to the earlier ref, the
    // at-or-before side). Still two keyed shuffles total, no band join
    "ts_nearest_join" -> ((s, d) => {
      val ev = Tables.events(s, d)
      val base = ev.select(col("user_id"),
        graft.model.TimeCols.millis(ev, "ts").as("t"),
        col("event_type"), col("event_id"))
      val probes = base.filter(col("event_type") === "purchase")
        .select("user_id", "t", "event_id")
      val refs = base.filter(col("event_type") === "error")
        .select("user_id", "t", "event_id")
      val before = AsOfJoin.asOf(probes, refs, "user_id", "t", Seq("event_id"))
        .select(col("user_id"), col("t"), col("event_id"),
          col("asof_t").as("bt"), col("asof_event_id").as("bid"))
      val after = AsOfJoin.asOf(
          probes.withColumn("t", -col("t")), refs.withColumn("t", -col("t")),
          "user_id", "t", Seq("event_id"))
        .select(col("user_id"), (-col("t")).as("t"), col("event_id"),
          (-col("asof_t")).as("at"), col("asof_event_id").as("aid"))
      val keys = Seq("user_id", "t", "event_id")
      probes.join(before, keys, "left").join(after, keys, "left")
        .filter(col("bt").isNotNull || col("at").isNotNull)
        .withColumn("useB", col("at").isNull ||
          (col("bt").isNotNull && (col("t") - col("bt")) <= (col("at") - col("t"))))
        .select(col("user_id"), col("t"), col("event_id"),
          when(col("useB"), col("bt")).otherwise(col("at")).as("near_t"),
          when(col("useB"), col("bid")).otherwise(col("aid")).as("near_event_id"),
          abs(when(col("useB"), col("bt")).otherwise(col("at")) - col("t")).as("dist_ms"))
    }),
    // Friends-of-friends census over the co-occurrence graph: per node,
    // direct degree and the count of distinct nodes at distance exactly 2
    // — the link-prediction candidate pool size. An exact FoF census IS
    // deg² wedge work per hub, so Graph.fofCensus redistributes rather
    // than avoids: hot wedge midpoints get the full-square block
    // decomposition (no task owns more than ~cap² of a hub's wedges),
    // census bit-identical to the plain wedge join
    "graph_fof" -> ((s, d) =>
      Graph.fofCensus(coOccEdges(s, d)).withColumnRenamed("node", "user_id")),
    // Persist-once graph layout: the SAME FoF census as graph_fof, but
    // computed off a STORED adjacency — the undirected view written twice,
    // bucketed+sorted by v and by u (16 buckets each), plus the a<b edge
    // list. The wedge join and the degree aggregate then read the bucket
    // layouts directly: ZERO exchanges below the wedge join (PlanShapeSpec
    // walks the tree), where every build-from-scratch graph gate pays two
    // wedge-input shuffles per query. Pay the partitioning once at ingest;
    // every census/link-pred/triangle query after it starts exchange-free
    // — the events_bucketed_join story applied to the graph family, which
    // is the entire bench top-5. Hash-identical to graph_fof (same oracle).
    "graph_edges_indexed" -> ((s, d) => {
      val ds = d.replaceAll("[^a-zA-Z0-9]", "_")
      val dir = scratchDir("gidx", d)
      val e = coOccEdges(s, d)
      val und = e.select(col("a").as("u"), col("b").as("v"))
        .unionAll(e.select(col("b").as("u"), col("a").as("v")))
      // ONE stored table serves BOTH wedge orders (r14, guide §6): the
      // undirected view is symmetric, so the by-v order is exactly the
      // by-u table with the endpoints swapped — the projection alias
      // carries the bucket partitioning onto the renamed column and the
      // wedge join stays exchange-free (PlanShapeSpec walks this tree).
      // Bucket count derives from parallelism (floor 16): the r13 fixed
      // repartition(16) serialized the write onto 16 tasks at 32 cores —
      // the same-core regression the r13 verdict pinned. numPartitions ==
      // nBuckets on the bucket column keeps one file per bucket.
      val nB = Graph.bucketCount(s)
      und.repartition(nB, col("u")).write.mode("overwrite").format("parquet")
        .bucketBy(nB, "u").sortBy("u")
        .option("path", s"$dir/by_u").saveAsTable(s"graft_gidx_byu_$ds")
      // the a < b edge list IS a filtered view of the stored adjacency —
      // no third table: one logical dataset, two bucket orders
      val byU = s.table(s"graft_gidx_byu_$ds")
      val byV = byU.select(col("v").as("u"), col("u").as("v"))
      val stored = byU.filter(col("u") < col("v"))
        .select(col("u").as("a"), col("v").as("b"))
      Graph.fofCensusStored(byV, byU, stored)
        .withColumnRenamed("node", "user_id")
    }),
    // The stored layout MAINTAINED incrementally (same oracle): 80% of
    // the edges build the two bucket orders, the rest arrive as a daily
    // batch through Graph.appendEdges — bucket-aligned appends costing
    // O(batch), never a relayout of resident data — and the census over
    // the appended layout must hash-equal the full-graph oracle. The
    // wedge join still reads buckets exchange-free (PlanShapeSpec walks
    // this gate's tree too).
    "graph_edges_append" -> ((s, d) => {
      val ds = d.replaceAll("[^a-zA-Z0-9]", "_")
      val dir = scratchDir("gidx-app", d)
      val e = coOccEdges(s, d)
      // deterministic 80/20 split: the "resident" graph vs the new batch
      val isBatch = pmod(xxhash64(col("a"), col("b")), lit(5)) === 0
      val base = e.filter(!isBatch)
      val und = base.select(col("a").as("u"), col("b").as("v"))
        .unionAll(base.select(col("b").as("u"), col("a").as("v")))
      // single stored table + parallelism-derived buckets — see
      // graph_edges_indexed; the batch appends into the same one table
      val nB = Graph.bucketCount(s)
      und.repartition(nB, col("u")).write.mode("overwrite").format("parquet")
        .bucketBy(nB, "u").sortBy("u")
        .option("path", s"$dir/by_u").saveAsTable(s"graft_gidx_app_byu_$ds")
      Graph.appendEdgesOneOrder(e.filter(isBatch),
        s"graft_gidx_app_byu_$ds", nBuckets = nB)
      val byU = s.table(s"graft_gidx_app_byu_$ds")
      val byV = byU.select(col("v").as("u"), col("u").as("v"))
      val stored = byU.filter(col("u") < col("v"))
        .select(col("u").as("a"), col("v").as("b"))
      Graph.fofCensusStored(byV, byU, stored)
        .withColumnRenamed("node", "user_id")
    }),
    // k-core peel, 4 unrolled rounds at k=3: drop degree-<3 nodes,
    // recompute, repeat — the dense-community skeleton of the
    // co-occurrence graph. Each round is one map-combinable degree count
    // plus two semi-joins over a monotonically SHRINKING edge set, so the
    // per-round cost decreases; Graph.kcore is the iterate-to-fixpoint
    // form behind this bounded-unroll gate (equivalence spec-pinned)
    "graph_kcore" -> ((s, d) =>
      Graph.kcorePeel(coOccEdges(s, d), k = 3, rounds = 4)
        .withColumnRenamed("node", "user_id")),
    // common-neighbor link prediction: top-100 non-edge pairs by shared-
    // neighbor count — the candidate generation every "people you may
    // know" pipeline starts from. Rides the SAME guarded wedge multiset
    // as graph_fof (hot midpoints block-decomposed), counts wedges per
    // unordered pair, anti-joins existing edges, bounded top-k
    "graph_linkpred" -> ((s, d) =>
      Graph.commonNeighbors(coOccEdges(s, d))
        .orderBy(col("common").desc, col("a").asc, col("b").asc)
        .limit(100)),
    // Adamic-Adar refinement of the same candidates: midpoints discounted
    // by 1/ln(degree), per-term micros rounding so the pair score is an
    // exact integer sum (the BM25 convention). Midpoint degree rides the
    // wedge build from one |E|-row join — the V-sized degree table never
    // joins against the wedge axis
    "graph_adamic_adar" -> ((s, d) =>
      Graph.adamicAdar(coOccEdges(s, d))
        .orderBy(col("aa_micros").desc, col("a").asc, col("b").asc)
        .limit(100)),
    // Community detection: synchronous label propagation, 2 unrolled
    // rounds, deterministic argmax (max neighbor-label count, ties to the
    // smallest label — Raghavan et al.'s random tie-break is not engine-
    // portable). Per round: one |E| join against the V-sized label vector
    // (output exactly |E|, no expansion) + two map-combinable aggregates;
    // Graph.labelPropagationConverged is the iterate-until-stable operator
    // API behind this bounded-unroll gate (equivalence spec-pinned)
    "graph_lpa" -> ((s, d) =>
      Graph.labelPropagation(coOccEdges(s, d), rounds = 2)
        .select(col("node").as("user_id"), col("lab").as("community"))),
    // Neighborhood-Jaccard link prediction: common/(da+db-common) per
    // non-edge distance-2 pair, in truncating integer micros. Rides the
    // SAME guarded wedge multiset as graph_linkpred; the degree join runs
    // on the aggregated PAIR axis (|pairs| << |wedges|) — two ordinary
    // keyed joins, then a bounded top-100 heap
    "graph_jaccard" -> ((s, d) => {
      val e = coOccEdges(s, d)
      val und = e.select(col("a").as("u"))
        .unionAll(e.select(col("b").as("u")))
      val deg = und.groupBy("u").agg(count(lit(1)).as("deg"))
      Graph.commonNeighbors(e)
        .join(deg.select(col("u").as("a"), col("deg").as("da")), "a")
        .join(deg.select(col("u").as("b"), col("deg").as("db")), "b")
        .select(col("a"), col("b"), col("common"),
          expr("common * 1000000L div (da + db - common)").as("jac_micros"))
        .orderBy(col("jac_micros").desc, col("a").asc, col("b").asc)
        .limit(100)
    }),
    // Point-in-time-correct feature join: each purchase reads the LATEST
    // kv write for its entity's 'click' feature at-or-before the event —
    // tombstones yield NULL (a later backfill must not leak into the
    // past: THE feature-store training-serving correctness rule). Rides
    // the bucketed as-of carry, never a per-key global window
    "events_pit_join" -> ((s, d) => {
      val kv = graft.model.KvModel.changeLog(s, d)
      val refs = kv.filter(col("key") === "click")
        .withColumn("rn", row_number().over(
          Window.partitionBy("id", "write_ts").orderBy(col("event_id").desc)))
        .filter(col("rn") === 1)
        .select(col("id"), col("write_ts").as("t"), col("event_id"),
          col("value"), col("deleted"))
      val ev = Tables.events(s, d)
      val probes = ev.filter(col("event_type") === "purchase")
        .select(concat(lit("u"), (col("user_id") % 50).cast("string")).as("id"),
          graft.model.TimeCols.millis(ev, "ts").as("t"), col("event_id"))
      AsOfJoin.asOfBucketed(probes, refs, "id", "t",
          Seq("value", "deleted"), bucketMs = 3600000L)
        .filter(col("asof_t").isNotNull)
        .select(col("id"), col("t"), col("event_id"),
          col("asof_t").as("feat_ts"),
          when(col("asof_deleted"), lit(null)).otherwise(col("asof_value")).as("feat"))
    }),

    // Poissonized bootstrap: 3 deterministic Poisson(1) resampling
    // replicates of the corpus, computed map-only — each doc draws its
    // per-replicate multiplicity from a shared integer hash against the
    // Poisson CDF thresholds (×1e6), no data is ever copied. The
    // replicate statistics' spread is the bootstrap CI machinery at
    // 100 TB: one pass, three counters per replicate
    "sample_bootstrap" -> ((s, d) =>
      Tables.documentsPlain(s, d)
        .crossJoin(s.range(3).select(col("id").as("rep")))
        .withColumn("u", expr("(doc_id * 2654435761L + rep * 40503L) % 1000000L"))
        .withColumn("k",
          when(col("u") < 367879L, 0L).when(col("u") < 735758L, 1L)
            .when(col("u") < 919698L, 2L).when(col("u") < 981011L, 3L)
            .when(col("u") < 996340L, 4L).otherwise(5L))
        .groupBy("rep")
        .agg(sum(when(col("k") > 0L, 1L).otherwise(0L)).as("n_docs"),
          sum("k").as("n_draws"),
          sum(col("k") * col("n_chars")).as("sum_chars"))),

    // Deterministic experiment assignment + sample-ratio-mismatch check:
    // users hash 50/50 into variants, and the chi-square statistic against
    // the designed split is the SRM guardrail every experimentation stack
    // fires before reading results. Counts exact; the one chi2 double is
    // textually mirrored
    // CUPED variance reduction (Deng et al., WSDM 2013): adjust each
    // user's experiment-period mean by theta times their PRE-period mean,
    // theta = cov(X, Y)/var(X). Per-user means are rounded to exact
    // integer CENTI-dollars first (so the user-axis co-moment sums are
    // exact longs and sum order cannot matter — the micros convention,
    // one scale down to keep Σxy products inside int64), then theta and
    // the adjusted arm means are fixed IEEE expressions over those
    // integers. One aggregate over users per side; arm totals broadcast.
    "events_ab_cuped" -> ((s, d) => {
      val ev = Tables.events(s, d)
      val base = ev.select(col("user_id"),
        graft.model.TimeCols.millis(ev, "ts").as("t"),
        round(col("value") * 100).cast("long").as("c"))
      val perUser = base
        .groupBy("user_id")
        .agg(sum(when(col("t") < 1705363200000L, col("c"))).as("sx"),
             count(when(col("t") < 1705363200000L, 1)).as("nx"),
             sum(when(col("t") >= 1705363200000L, col("c"))).as("sy"),
             count(when(col("t") >= 1705363200000L, 1)).as("ny"))
        .filter(col("nx") > 0 && col("ny") > 0)
        .select(col("user_id"),
          round(col("sx").cast("double") / col("nx"), 0).cast("long").as("x"),
          round(col("sy").cast("double") / col("ny"), 0).cast("long").as("y"),
          when(expr("(user_id * 2654435761L) % 1000L") < 500L, "A")
            .otherwise("B").as("variant"))
      val gl = perUser.agg(count(lit(1)).as("n"), sum("x").as("sx"),
        sum("y").as("sy"), sum(col("x") * col("x")).as("sxx"),
        sum(col("x") * col("y")).as("sxy"))
      val theta = (col("n").cast("double") * col("sxy") -
        col("sx").cast("double") * col("sy")) /
        (col("n").cast("double") * col("sxx") -
          col("sx").cast("double") * col("sx"))
      perUser.groupBy("variant")
        .agg(count(lit(1)).as("n_users"), sum("x").as("ax"), sum("y").as("ay"))
        .crossJoin(broadcast(gl))
        .select(col("variant"), col("n_users"),
          round(col("ay").cast("double") / (col("n_users") * 100.0), 4)
            .as("raw_mean"),
          round((col("ay").cast("double") / col("n_users") -
            theta * (col("ax").cast("double") / col("n_users") -
              col("sx").cast("double") / col("n"))) / 100.0, 4)
            .as("cuped_mean"))
    }),
    "events_ab_srm" -> ((s, d) => {
      val ev = Tables.events(s, d)
      val assigned = ev.select(col("user_id"), col("event_id"))
        .withColumn("variant",
          when(expr("(user_id * 2654435761L) % 1000L") < 500L, "A").otherwise("B"))
      val byV = assigned.groupBy("variant")
        .agg(countDistinct("user_id").as("n_users"), count(lit(1)).as("n_events"))
      val tot = byV.agg(sum("n_users").as("tu")).crossJoin(
        byV.agg(sum("n_events").as("te")))
      byV.crossJoin(broadcast(tot))
        .select(col("variant"), col("n_users"), col("n_events"),
          round(
            (col("n_users").cast("double") - col("tu").cast("double") / 2.0) *
              (col("n_users").cast("double") - col("tu").cast("double") / 2.0) /
              (col("tu").cast("double") / 2.0), 6).as("chi2_users"))
    }),
    // Modularity of a fixed 8-way partition of the co-occurrence graph —
    // scaled to EXACT integers (q_term = 4m·e_c − d_c², so ΣQ·4m² needs
    // no division): the community-quality readout, one edge pass + one
    // degree pass
    "graph_modularity" -> ((s, d) => {
      val edges = coOccEdges(s, d)
      val mTot = edges.agg(count(lit(1)).as("m2"))
      val ein = edges.filter(expr("a % 8 = b % 8"))
        .groupBy(expr("a % 8").as("c")).agg(count(lit(1)).as("e_in"))
      val dsum = edges.select(col("a").as("n")).unionAll(edges.select(col("b").as("n")))
        .groupBy(expr("n % 8").as("c")).agg(count(lit(1)).as("d_sum"))
      dsum.join(ein, Seq("c"), "left")
        .withColumn("e_in", coalesce(col("e_in"), lit(0L)))
        .crossJoin(broadcast(mTot))
        .select(col("c"), col("e_in"), col("d_sum"),
          (lit(4L) * col("m2") * col("e_in") - col("d_sum") * col("d_sum")).as("q_term"))
    }),

    // Forecast backtest: seasonal-naive (same hour yesterday) vs naive
    // (previous hour) one-step forecasts over the hourly series, scored
    // by total absolute error in EXACT integer cents — the model-eval
    // loop every forecasting pipeline runs. Two self-joins on the
    // aggregated hourly axis, no windows at all
    "ts_forecast_eval" -> ((s, d) => {
      val hourly = ts(s, d)
        .select(col("series_id"), expr("t div 3600000").as("h"),
          round(col("value") * 100).cast("long").as("c"))
        .groupBy("series_id", "h").agg(sum("c").as("v"))
      val prev = hourly.select(col("series_id"), (col("h") + 1L).as("h"),
        col("v").as("naive"))
      val season = hourly.select(col("series_id"), (col("h") + 24L).as("h"),
        col("v").as("snaive"))
      hourly.join(prev, Seq("series_id", "h"))
        .join(season, Seq("series_id", "h"))
        .groupBy("series_id")
        .agg(count(lit(1)).as("n"),
          sum(abs(col("v") - col("naive"))).as("mae_naive_cents"),
          sum(abs(col("v") - col("snaive"))).as("mae_seasonal_cents"))
    }),
    // Data-liveness gap census per series: count / max / total of
    // inter-sample gaps above 5 minutes — the monitoring readout for
    // "is this stream still flowing". The lag rides the skew-hardened
    // bucketed carry; all stats exact integer ms
    "ts_gap_stats" -> ((s, d) => {
      val base = ts(s, d).select(col("series_id").as("user_id"), col("t"),
        col("event_id"))
      Sessionize.lagBucketed(base, "t", "prev_t", bucketMs = 3600000L)
        .filter(col("prev_t").isNotNull)
        .withColumn("gap", col("t") - col("prev_t"))
        .groupBy(col("user_id").as("series_id"))
        .agg(count(lit(1)).as("n_intervals"),
          sum(when(col("gap") > 300000L, 1L).otherwise(0L)).as("n_gaps"),
          max("gap").as("max_gap_ms"),
          sum(when(col("gap") > 300000L, col("gap")).otherwise(0L)).as("gap_ms_total"))
    }),

    // ---- SQL surface ------------------------------------------------------
    // free-form spark.sql over the registered views, through the custom
    // codegen'd cosine_sim expression — the §2.5 "real Spark SQL" surface
    // under the same oracle gate as the DataFrame API
    "sql_cosine_pairs" -> ((s, d) => {
      GraftFunctions.register(s)
      GraftFunctions.registerViews(s, d)
      s.sql("""
        WITH e AS (SELECT vec_id, CAST(embedding AS ARRAY<DOUBLE>) AS v
                   FROM embeddings WHERE vec_id < 200)
        SELECT a.vec_id AS id_a, b.vec_id AS id_b,
               round(cosine_sim(a.v, b.v), 6) AS sim
        FROM e a JOIN e b ON a.vec_id < b.vec_id
        WHERE round(cosine_sim(a.v, b.v), 6) >= 0.3""")
    }),

    // ---- Multimodal -------------------------------------------------------
    // REAL header decode over synthetic media: PNG for the image sources,
    // PCM16 WAV for the rest — the oracle recomputes every header field
    // from the generation rule, so a hash match certifies encode ->
    // container bytes -> MediaMeta header parse for both format families.
    // (byte_len is excluded: PNG length depends on the encoder's zlib.)
    "mm_meta" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val img = Multimodal.synthImages(s, docs.filter(col("source").isin("src0", "src1")))
      val wav = Multimodal.synthWavs(s, docs.filter(!col("source").isin("src0", "src1")))
      Multimodal.decodeHeaders(img.unionByName(wav))
        .select("doc_id", "format", "width", "height", "sample_rate", "channels", "bits")
    }),
    // image near-dup: REAL decode -> integer-exact 4x4 luminance thumbnail
    // sketch -> the SAME pigeonhole hamming join the text SimHash uses.
    // The oracle replays pairing + hamming from the exported sketches;
    // the decode itself is certified by mm_pixels/mm_meta.
    "mm_phash_neardup" -> ((s, d) =>
      Dedup.hammingNearDup(
        Multimodal.thumbSketches(s, Multimodal.synthImages(s,
          Tables.documents(s, d).filter(col("doc_id") < 500))), maxDist = 3)),
    // REAL animated-GIF frame iteration, gated: per-doc synthetic GIFs
    // with 1-3 closed-form frames through the ImageIO sequence reader
    "mm_gif_frames" -> ((s, d) =>
      Multimodal.gifFrames(s, Multimodal.synthGifs(s, Tables.documents(s, d))).toDF()),
    // REAL scene-cut detection: per adjacent GIF frame pair, the exact
    // per-pixel sum of absolute channel deltas from DECODED rasters
    // (GIF is lossless, so the oracle recomputes the SAD closed-form
    // from the generation rule — a hash match certifies encode ->
    // container walk -> palette decode -> full-raster arithmetic)
    "mm_scenecut" -> ((s, d) =>
      Multimodal.gifSceneCuts(s,
        Multimodal.synthGifs(s, Tables.documents(s, d))).toDF()),
    // REAL resize round trip: decode -> Graphics2D redraw at 24x20 ->
    // PNG re-encode -> header decode. Dimensions are the contract; pixel
    // interpolation at the band boundary is renderer-dependent, so the
    // gate pins the container/codec round trip, not resampled pixels.
    "mm_resize" -> ((s, d) =>
      Multimodal.decodeHeaders(Multimodal.resizeImages(s,
          Multimodal.synthImages(s, Tables.documents(s, d)), w = 24, h = 20))
        .select("doc_id", "format", "width", "height")),
    // REAL video-container frame decode: synthetic MJPEG-AVI per doc (the
    // one video codec the JDK can decode — each frame IS a JPEG) through a
    // RIFF walk to the movi list + per-frame ImageIO decode. The oracle
    // recomputes frame count and dimensions from the generation rule, so a
    // hash match certifies AVI encode -> container walk -> frame decode.
    // This retires the former sampling-schedule stub; codecs with no JVM
    // decoder (H.264-class) remain out of reach by the container's nature.
    "mm_frames" -> ((s, d) =>
      Multimodal.aviFrames(s, Multimodal.synthAvis(s, Tables.documents(s, d))).toDF()),
    // REAL pixel decode, gated: per-doc synthetic two-band PNGs (closed-
    // form statistics) run through ImageIO raster decode; the oracle
    // recomputes width/height/channel means from the generation rule, so
    // a hash match certifies encode -> container -> decode -> stats.
    // Exactness: band sums are integers, and each mean's exact rational
    // equals the oracle's closed form, so both divisions round to the
    // SAME double before round(_, 4).
    "mm_pixels" -> ((s, d) =>
      Multimodal.decodePixels(s,
          Multimodal.synthImages(s, Tables.documents(s, d))).toDF()
        .select(col("doc_id"), col("format"),
          col("width").cast("long").as("width"),
          col("height").cast("long").as("height"),
          round(col("mean_r"), 4).as("mean_r"),
          round(col("mean_g"), 4).as("mean_g"),
          round(col("mean_b"), 4).as("mean_b"),
          round(col("mean_lum"), 4).as("mean_lum"))),
    // REAL PCM16 WAV decode, gated: square-wave payloads whose mean_abs /
    // rms / peak all equal the amplitude exactly
    "mm_audio" -> ((s, d) =>
      Multimodal.wavStats(s,
          Multimodal.synthWavs(s, Tables.documents(s, d))).toDF()
        .select(col("doc_id"), col("n_samples"),
          round(col("mean_abs"), 4).as("mean_abs"),
          round(col("rms"), 4).as("rms"), col("peak"))),

    // ---- Round-8 session-3: pipeline QA gates -----------------------------
    // Deequ-style single-pass column profiler: completeness, distinct
    // count, normalized min/max per column, all from ONE aggregate over
    // the table (count-distincts share the pass via Expand; every partial
    // combines map-side). The shape that replaces N per-column ANALYZE
    // scans with one at 100 TB. Doubles normalize to exact integer cents
    // before min/max so the export is all-BIGINT.
    // Key-skew audit: the top-10 heaviest keys per join/shuffle column
    // with their corpus share in exact ppm — the pre-run diagnostic that
    // decides which keys need salting or block decomposition. Each column
    // is ONE map-combinable count + a bounded top-10 heap; totals
    // broadcast. (data_profile is the column-stats twin; this is the
    // key-frequency view.)
    "data_skew_report" -> ((s, d) => {
      val ev = Tables.events(s, d)
      def top10(c: String) = {
        val counts = ev.groupBy(col(c).cast("string").as("key"))
          .agg(count(lit(1)).as("c"))
        val tot = counts.agg(sum("c").as("tot"))
        counts.crossJoin(broadcast(tot))
          .select(lit(c).as("column_name"), col("key"), col("c"),
            expr("c * 1000000L div tot").as("share_ppm"))
          .orderBy(col("c").desc, col("key").asc).limit(10)
      }
      top10("user_id").unionAll(top10("event_type"))
    }),
    "data_profile" -> ((s, d) => {
      val li = Tables.lineitem(s, d)
      li.agg(
          count(lit(1)).as("n_rows"),
          count(col("l_orderkey")).as("nn_ok"),
          countDistinct(col("l_orderkey")).as("nd_ok"),
          min("l_orderkey").as("min_ok"), max("l_orderkey").as("max_ok"),
          count(col("l_partkey")).as("nn_pk"),
          countDistinct(col("l_partkey")).as("nd_pk"),
          min("l_partkey").as("min_pk"), max("l_partkey").as("max_pk"),
          count(col("l_quantity")).as("nn_q"),
          countDistinct(col("l_quantity")).as("nd_q"),
          min(round(col("l_quantity") * 100).cast("long")).as("min_q"),
          max(round(col("l_quantity") * 100).cast("long")).as("max_q"),
          count(col("l_returnflag")).as("nn_rf"),
          countDistinct(col("l_returnflag")).as("nd_rf"))
        .selectExpr("n_rows", """stack(4,
          'l_orderkey',  nn_ok, nd_ok, min_ok, max_ok,
          'l_partkey',   nn_pk, nd_pk, min_pk, max_pk,
          'l_quantity',  nn_q,  nd_q,  min_q,  max_q,
          'l_returnflag', nn_rf, nd_rf, CAST(NULL AS BIGINT), CAST(NULL AS BIGINT)
        ) AS (col_name, n_nonnull, n_distinct, min_v, max_v)""")
        .select(col("col_name"), col("n_rows"), col("n_nonnull"),
          col("n_distinct"), col("min_v"), col("max_v"))
    }),
    // Population-stability-index drift check between the first half of
    // January and the rest — the pre-training distribution-shift guard
    // every feature pipeline fires. Per-(event_type, band) PSI terms from
    // add-one-smoothed exact integer counts over a generated full band
    // spine (missing bands still contribute), each term one closed-form
    // double — no cross-band float summation, so bit-stable
    "events_psi_drift" -> ((s, d) => {
      val ev = Tables.events(s, d)
      val binned = ev.select(col("event_type"),
        (graft.model.TimeCols.millis(ev, "ts") < lit(1705363200000L)).as("is_ref"),
        // clamp BOTH ends onto the 0-9 spine: a negative value otherwise
        // bins below 0 and its PSI term silently vanishes from the sum
        greatest(lit(0L), least(lit(9L),
          expr("CAST(round(value * 100, 0) AS BIGINT) div 5000"))).as("band"))
      val counts = binned.groupBy("event_type", "band")
        .agg(sum(when(col("is_ref"), 1L).otherwise(0L)).as("c_ref"),
          sum(when(col("is_ref"), 0L).otherwise(1L)).as("c_cur"))
      val totals = binned.groupBy("event_type")
        .agg(sum(when(col("is_ref"), 1L).otherwise(0L)).as("n_ref"),
          sum(when(col("is_ref"), 0L).otherwise(1L)).as("n_cur"))
      val spine = totals.select("event_type")
        .crossJoin(broadcast(binned.sparkSession.range(10).select(col("id").as("band"))))
      val full = spine.join(counts, Seq("event_type", "band"), "left")
        .select(col("event_type"), col("band"),
          coalesce(col("c_ref"), lit(0L)).as("c_ref"),
          coalesce(col("c_cur"), lit(0L)).as("c_cur"))
      val p = (col("c_ref").cast("double") + 1.0) / (col("n_ref").cast("double") + 10.0)
      val q = (col("c_cur").cast("double") + 1.0) / (col("n_cur").cast("double") + 10.0)
      full.join(broadcast(totals), "event_type")
        .select(col("event_type"), col("band"), col("c_ref"), col("c_cur"),
          round((p - q) * log(p / q), 6).as("psi_term"))
    }),
    // Weighted sampling without replacement (Efraimidis-Spirakis, IPL'06):
    // priority = ln(u)/w with a deterministic per-doc uniform and
    // w = n_chars, top-50 by priority — plans as ONE bounded-heap
    // TakeOrderedAndProject, the map-side-k shape that samples 100 TB
    // without a global sort
    "sample_weighted" -> ((s, d) =>
      Tables.documentsPlain(s, d)
        .select(col("doc_id"), col("n_chars"),
          (log((expr("(doc_id * 2654435761L + 40503L) % 1000000L")
              .cast("double") + 1.0) / 1000001.0) /
            col("n_chars").cast("double")).as("pri"))
        .orderBy(col("pri").desc, col("doc_id").asc)
        .limit(50)
        .select(col("doc_id"), col("n_chars"), round(col("pri"), 6).as("priority"))),

    // Deterministic epoch shuffle: the training-dataloader ordering — a
    // seeded pseudo-random PERMUTATION of the corpus with NO global sort.
    // Keys are seeded md5 digests (portable hex on both engines), the
    // global rank is the two-level bucketed rank (per-hex-prefix
    // row_numbers + bounded offsets off the 256-cell axis — a bucket is a
    // PREFIX of the key, so (bucket, key, id) ordering IS (key, id)
    // ordering). Two epochs emitted per doc: reproducible across runs and
    // engines, resumable from any position, independent between epochs —
    // at 100 TB this replaces the unrunnable ORDER BY rand() epoch sort.
    "sample_epoch_shuffle" -> ((s, d) => {
      def keyed(df: DataFrame, seed: String, out: String): DataFrame =
        Sessionize.rankBucketed(
            df.withColumn("__k", md5(encode(
              concat(lit(seed), col("doc_id").cast("string")), "UTF-8"))),
            col("__k"), col("doc_id"), substring(col("__k"), 1, 2), out)
          .drop("__k")
      keyed(keyed(Tables.documentsPlain(s, d).select("doc_id"),
        "e0:", "pos0"), "e1:", "pos1")
    }),

    // budget apportionment -> materialized selection: the "data recipe to
    // concrete doc list" step of a pretraining run. A 1000-doc budget is
    // apportioned across sources by token MASS via largest-remainder
    // (exact integer floor + remainder ranking, ties by source — zero
    // float drift), then each source's quota materializes in
    // seeded-md5-shuffle order through the boundary-bucket selection (no
    // per-source sort task). The quota computation rides the SOURCE axis
    // (bounded, a handful of rows), so its windows are trivially safe.
    "sample_budget_mix" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val docs = Tables.documentsPlain(s, d).select(col("doc_id"), col("source"),
        TextFunctions.tokenCount(col("text")).as("n_tokens"))
      val budget = 1000L
      val wTot = Window.partitionBy(lit(1))
      val wRem = Window.partitionBy(lit(1)).orderBy(col("rem").desc, col("source").asc)
      val quotas = docs.groupBy("source").agg(sum("n_tokens").as("mass"))
        .withColumn("den", sum("mass").over(wTot))
        .withColumn("fl", expr(s"($budget * mass) div den"))
        .withColumn("rem", expr(s"($budget * mass) % den"))
        .withColumn("leftover", lit(budget) - sum("fl").over(wTot))
        .withColumn("rk", row_number().over(wRem))
        .select(col("source"),
          (col("fl") + when(col("rk") <= col("leftover"), 1L).otherwise(0L)).as("quota"))
      val keyed = docs.withColumn("bucket", substring(md5(encode(
        concat(lit("budget:"), col("doc_id").cast("string")), "UTF-8")), 1, 2))
      Packing.takeQuotaByGroup(keyed, quotas)
    }),

    // ---- Round-8 session-3: mining gates ----------------------------------
    // Apriori frequent triples over order baskets (items = part brand):
    // anti-monotone pruning makes every level a broadcast semi-join before
    // the fan-out, and lossless — the naive 3-way-join oracle checks that
    "basket_triples" -> ((s, d) => {
      val baskets = Tables.lineitem(s, d)
        .join(broadcast(Tables.part(s, d).select("p_partkey", "p_brand")),
          col("l_partkey") === col("p_partkey"))
        .select(col("l_orderkey"), col("p_brand"))
      Itemsets.frequentTriples(baskets, "l_orderkey", "p_brand", minSup = 50L)
    }),
    // Directed containment join: docs mostly contained in another doc —
    // the quote/subset-dup detector symmetric jaccard misses. Probe-side
    // rare-token prefix filter, exact integer verify; brute oracle proves
    // zero recall loss
    "dedup_containment" -> ((s, d) =>
      Dedup.containmentPairs(Tables.documents(s, d), tau = 0.6, idCap = 300L)),
    // Per-doc top-3 TF-IDF keywords. The string tiebreak rules out the
    // (long, long)-keyed topk_rows heap, so this is a window — but
    // partitioned on the DOC axis: group size is the doc's distinct-token
    // count (bounded by doc length) and partition cardinality is the
    // corpus itself, so the sort spreads over all reducers at any scale —
    // the opposite of the few-partition window hazard
    "text_keywords" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val nDocs = docs.agg(count(lit(1)).cast("double").as("n_docs"))
      val toks = docs
        .select(col("doc_id"), TextFunctions.tokens(col("text")).as("arr"))
        .select(col("doc_id"), size(col("arr")).cast("long").as("n_tokens"),
          explode(col("arr")).as("tok"))
      val tf = toks.groupBy("doc_id", "tok", "n_tokens").agg(count(lit(1)).as("c"))
      val dfq = tf.groupBy("tok").agg(count(lit(1)).as("df"))
      val score = round((col("c") / col("n_tokens")) * log(col("n_docs") / col("df")), 6)
      val w = Window.partitionBy("doc_id")
        .orderBy(col("tfidf").desc, col("tok").asc)
      tf.join(broadcast(dfq), "tok").crossJoin(broadcast(nDocs))
        .select(col("doc_id"), col("tok"), score.as("tfidf"))
        .withColumn("rank", row_number().over(w).cast("long"))
        .filter(col("rank") <= 3)
        .select("doc_id", "rank", "tok", "tfidf")
    }),

    // ---- Round-8 session-3: vector / multimodal gates ----------------------
    // One Lloyd iteration of k-means as the at-scale mergeable readout:
    // assignment reuses the deterministic rounded-distance argmin, then
    // per-(cell, dim) exact integer micros sums + counts — the partial-
    // aggregable (sum, n) pair every distributed k-means step ships to the
    // driver. New center = sum_micros / n / 1e6, computed OUTSIDE the
    // gate so the export stays all-BIGINT.
    "cluster_update" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val centers = Similarity.fitCenters(emb, 16)
      val a = Similarity.assignCellsRounded(emb, centers, dp = 4)
        .select("vec_id", "cell")
      a.join(emb, "vec_id")
        .select(col("cell"), posexplode(col("embedding")))
        .groupBy(col("cell"), col("pos").cast("long").as("dim"))
        .agg(count(lit(1)).as("n"),
          sum(round(col("col").cast("double") * 1e6).cast("long")).as("sum_micros"))
    }),
    // Hard-negative mining: nearest DIFFERENT-label vector per query —
    // the contrastive-pair generator; broadcast queries, one corpus scan,
    // bounded-heap top-1, label predicate riding the join
    "ann_hardneg" -> ((s, d) =>
      Similarity.hardNegatives(Tables.embeddings(s, d), nQueries = 8, k = 2)),
    // Windowed PCM energy over REAL WAV decode: per-100-sample exact
    // integer sum-of-squares / sum-abs — loudness & silence detection;
    // the oracle recomputes every window from the square-wave closed form
    "mm_audio_rms" -> ((s, d) =>
      Multimodal.wavWindows(s,
        Multimodal.synthWavs(s, Tables.documents(s, d)), winSamples = 100).toDF()),

    // ---- Round-8 session-3: robust TS analytics ----------------------------
    // Theil-Sen robust trend: median of all pairwise slopes over the
    // HOURLY axis — the bounded axis collapses first (the ts_dtw
    // convention), so the pair fan-out is O(hours^2) per series no matter
    // how many raw rows feed an hour; each slope is a ratio of exact
    // integer differences, so both engines see identical doubles
    "ts_trend_robust" -> ((s, d) => {
      val hourly = ts(s, d)
        .select(col("series_id"), expr("t div 3600000").as("h"),
          round(col("value") * 100).cast("long").as("c"))
        .groupBy("series_id", "h").agg(sum("c").as("v"))
      val slopes = hourly.as("a").join(hourly.as("b"),
          col("a.series_id") === col("b.series_id") && col("a.h") < col("b.h"))
        .select(col("a.series_id").as("series_id"),
          ((col("b.v") - col("a.v")).cast("double") /
            (col("b.h") - col("a.h")).cast("double")).as("slope"))
      // Exact median via a codegen window sort instead of median()'s
      // percentile OBJECT aggregate (r14, guide §4): percentile buffers
      // every slope into an OpenHashMap per partial aggregate and
      // serializes the maps between phases — probed at ~2.2 s of this
      // 2.9 s gate, vs milliseconds to sort each series' slopes once.
      // Arithmetic reproduces Percentile's interpolation bit-for-bit
      // (Round14OpsSpec pins equality on random even/odd/duplicate data):
      // pos = (n-1)/2; odd n → the single middle value, even n →
      // 0.5*lower + 0.5*higher (two-term sum, order-exact).
      val byS = Window.partitionBy("series_id")
      slopes
        .withColumn("rn", row_number().over(byS.orderBy("slope")))
        .withColumn("n", count(lit(1)).over(byS))
        .filter(expr("rn = (n + 1) div 2 or rn = n div 2 + 1"))
        .groupBy("series_id")
        .agg(max("n").as("n_pairs"),
          round(sum(col("slope") *
            when(col("n") % 2 === 1, 1.0).otherwise(0.5)), 6)
            .as("slope_cents_per_hour"))
    }),
    // Seasonal anomaly: each hourly value z-scored against its OWN
    // (series, hour-of-day) baseline — the diurnal-profile anomaly detector
    // ts_zscore can't express (a nightly batch spike is normal at 2am,
    // anomalous at 2pm). Profile stats are exact integer (n, S, S2) sums;
    // the z expression is textually mirrored by the oracle
    "ts_seasonal_anomaly" -> ((s, d) => {
      val hourly = ts(s, d)
        .select(col("series_id"), expr("t div 3600000").as("h"),
          round(col("value") * 100).cast("long").as("c"))
        .groupBy("series_id", "h").agg(sum("c").as("v"))
        .withColumn("hod", expr("h % 24"))
      val prof = hourly.groupBy(col("series_id").as("ps"), col("hod").as("ph"))
        .agg(count(lit(1)).as("n"), sum("v").as("sv"),
          sum(col("v") * col("v")).as("sv2"))
      val mu = col("sv").cast("double") / col("n").cast("double")
      val sd = sqrt((col("sv2").cast("double") - col("sv").cast("double") *
        col("sv").cast("double") / col("n").cast("double")) /
        (col("n").cast("double") - 1.0))
      hourly.join(broadcast(prof),
          col("series_id") === col("ps") && col("hod") === col("ph"))
        .filter(col("n") > 1L)
        .select(col("series_id"), col("h"), col("v"),
          round((col("v").cast("double") - mu) / nullif(sd, lit(0.0)), 4).as("z"))
        .withColumn("anomaly", abs(col("z")) > 3.0)
    }),
    // Autocorrelation spectrum at lags 1/6/12/24 h — the periodicity
    // detector behind seasonal-model selection. Pearson terms kept in
    // exact BIGINT co-moment sums per (series, lag) (one hourly-axis
    // self-join per lag via an exploded lag spine), one double division
    // at the end; at lake scale the same shape runs on centered doubles
    "ts_acf_multi" -> ((s, d) => {
      val hourly = ts(s, d)
        .select(col("series_id"), expr("t div 3600000").as("h"),
          round(col("value") * 100).cast("long").as("c"))
        .groupBy("series_id", "h").agg(sum("c").as("v"))
      val lagged = hourly.withColumn("lag",
        explode(array(lit(1L), lit(6L), lit(12L), lit(24L))))
      val j = lagged.as("a").join(hourly.as("b"),
          col("a.series_id") === col("b.series_id") &&
            col("a.h") - col("a.lag") === col("b.h"))
        .select(col("a.series_id").as("series_id"), col("a.lag").as("lag"),
          col("a.v").as("x"), col("b.v").as("y"))
      j.groupBy("series_id", "lag")
        .agg(count(lit(1)).as("n"), sum("x").as("sx"), sum("y").as("sy"),
          sum(col("x") * col("y")).as("sxy"),
          sum(col("x") * col("x")).as("sx2"),
          sum(col("y") * col("y")).as("sy2"))
        .select(col("series_id"), col("lag"), col("n").as("n_pairs"),
          // nullif: a constant-overlap series (or a single joined pair)
          // makes a variance term 0 — NULL here must match DuckDB's
          // divide-by-zero NULL, not drift to NaN/Inf
          round((col("n") * col("sxy") - col("sx") * col("sy")).cast("double") /
            nullif(sqrt((col("n") * col("sx2") - col("sx") * col("sx")).cast("double")) *
             sqrt((col("n") * col("sy2") - col("sy") * col("sy")).cast("double")),
              lit(0.0)),
            4).as("acf"))
    }),

    // Lead-lag cross-correlation: per series pair, the lag in -3..3 hours
    // maximizing Pearson r over the hourly cents axis — the "clicks lead
    // purchases by an hour" detector. Same exact-integer comoments and
    // nullif variance guard as ts_acf_multi; the argmax rides the bounded
    // (pair × 7 lags) axis, so its window partitions on the pair key
    "ts_xcorr_lag" -> ((s, d) => {
      val hourly = ts(s, d)
        .select(col("series_id"), expr("t div 3600000").as("h"),
          round(col("value") * 100).cast("long").as("c"))
        .groupBy("series_id", "h").agg(sum("c").as("v"))
      val lagged = hourly.withColumn("lag",
        explode(array((-3L to 3L).map(lit): _*)))
      val j = lagged.as("a").join(hourly.as("b"),
          col("a.series_id") < col("b.series_id") &&
            col("a.h") - col("a.lag") === col("b.h"))
        .select(col("a.series_id").as("sa"), col("b.series_id").as("sb"),
          col("a.lag").as("lag"), col("a.v").as("x"), col("b.v").as("y"))
      val r = j.groupBy("sa", "sb", "lag")
        .agg(count(lit(1)).as("n"), sum("x").as("sx"), sum("y").as("sy"),
          sum(col("x") * col("y")).as("sxy"),
          sum(col("x") * col("x")).as("sx2"),
          sum(col("y") * col("y")).as("sy2"))
        .select(col("sa"), col("sb"), col("lag"), col("n").as("n_pairs"),
          round((col("n") * col("sxy") - col("sx") * col("sy")).cast("double") /
            nullif(sqrt((col("n") * col("sx2") - col("sx") * col("sx")).cast("double")) *
              sqrt((col("n") * col("sy2") - col("sy") * col("sy")).cast("double")),
              lit(0.0)),
            4).as("r"))
        .filter(col("r").isNotNull)
      r.withColumn("rn", row_number().over(
          Window.partitionBy("sa", "sb").orderBy(col("r").desc, col("lag").asc)))
        .filter(col("rn") === 1)
        .select(col("sa"), col("sb"), col("lag").as("best_lag"), col("r"),
          col("n_pairs"))
    }),

    // Sliding heavy hitters: per hour, the top-3 users by trailing-24h
    // event count. Per-user RANGE windows over each user's own sparse
    // hourly axis (partitioned — no global sort), then a per-hour rank
    // over only the users active that hour. The "who is hammering the
    // API today" guardrail at lake scale
    "events_heavy_hitters" -> ((s, d) => {
      val ev = Tables.events(s, d)
      val hourly = ev.select(col("user_id"),
          (graft.model.TimeCols.millis(ev, "ts") / 3600000L).cast("long").as("h"))
        .groupBy("user_id", "h").agg(count(lit(1)).as("c"))
      val w = Window.partitionBy("user_id").orderBy("h")
        .rangeBetween(-23L, 0L)
      val rolled = hourly.withColumn("c24", sum("c").over(w))
      rolled.withColumn("rnk", row_number().over(
          Window.partitionBy("h").orderBy(col("c24").desc, col("user_id").asc)))
        .filter(col("rnk") <= 3)
        .select(col("h"), col("user_id"), col("c24"), col("rnk").cast("long").as("rnk"))
    }),

    // First BPE merge candidates: the top-20 adjacent character pairs
    // inside whitespace tokens, corpus-wide — the statistic the first
    // merge of byte-pair-encoding training maximizes. Map-only bigram
    // fan-out, one exact count aggregate, bounded TakeOrdered
    "text_bpe_merge" -> ((s, d) =>
      Tables.documents(s, d)
        .select(explode(TextFunctions.tokens(col("text"))).as("tok"))
        .filter(length(col("tok")) >= 2)
        .select(explode(expr(
          "transform(sequence(1, length(tok) - 1), i -> substring(tok, i, 2))")).as("pair"))
        .groupBy("pair").agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("pair").asc)
        .limit(20)),

    // FULL BPE merge-loop trainer, 8 rounds: count adjacent symbol pairs
    // over the word-frequency table (vocab axis, not the corpus), take the
    // deterministic top-1 (count desc, pair asc — one bounded collect, the
    // kcore probe convention), re-segment every word by a left-to-right
    // non-overlapping literal replace, repeat. The oracle replays the
    // identical 8 rounds in SQL (materialized stage CTEs), so the gate
    // hash proves the whole merge SEQUENCE — including merges built on
    // earlier merges' symbols — matches across engines.
    "text_bpe_vocab" -> ((s, d) =>
      graft.operators.CorpusModel.bpeTrain(Tables.documents(s, d), merges = 8)),

    // Tokenizer APPLY: train 8 merges (one bounded collect of the k-row
    // model — fit/apply separation, the CorpusModel contract), then
    // segment every document map-only via the k-literal replace chain and
    // report per-source compression. The oracle replays train AND apply.
    "text_bpe_compression" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val merges = graft.operators.CorpusModel.bpeTrain(docs, merges = 8)
        .orderBy("merge_rank").collect()
        .map(r => (r.getString(1), r.getString(2))).toSeq
      graft.operators.CorpusModel.bpeSegmentStats(docs, merges)
        .join(docs.select("doc_id", "source"), "doc_id")
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"), sum("n_symbols").as("sum_symbols"),
          sum("n_words").as("sum_words"))
    }),

    // Zipf rank-frequency fit: OLS slope of ln(freq) on ln(rank) over the
    // top-100 tokens — the corpus-health diagnostic (natural text ~ -1).
    // Bounded top-k first, the rank window runs on the 100-row axis only;
    // each ln is rounded to integer micros BEFORE the sums (the BM25
    // convention), so the regression inputs are exact integers both
    // engines agree on and the one IEEE division happens at the end.
    "text_zipf" -> ((s, d) => {
      val top = Tables.documents(s, d)
        .select(explode(TextFunctions.tokens(col("text"))).as("tok"))
        .groupBy("tok").agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("tok").asc)
        .limit(100)
      val ranked = top.withColumn("rank",
        row_number().over(Window.orderBy(col("n").desc, col("tok").asc)))
        .select(
          expr("CAST(round(ln(CAST(rank AS DOUBLE)) * 1000000, 0) AS BIGINT)").as("x"),
          expr("CAST(round(ln(CAST(n AS DOUBLE)) * 1000000, 0) AS BIGINT)").as("y"))
      ranked.agg(count(lit(1)).as("k"), sum("x").as("sx"), sum("y").as("sy"),
          sum(expr("x * y")).as("sxy"), sum(expr("x * x")).as("sxx"))
        .select(col("k"),
          round((col("k") * col("sxy") - col("sx") * col("sy")).cast("double") /
            (col("k") * col("sxx") - col("sx") * col("sx")).cast("double"), 6)
            .as("slope"))
    }),

    // Incremental view maintenance: q1-style pricing summary maintained as
    // MERGEABLE partial states — the base slice's partials are merged with
    // the delta slice's by summation, never recomputing the base (the
    // incremental-ETL contract). All measures in exact integer units
    // (cents / 1e-4 / 1e-6 dollars: 2dp inputs make the products exact),
    // so merged-vs-direct equality is bit-level and the DIRECT recompute
    // is the oracle — the gate hash IS the maintenance-correctness proof
    "q1_incremental" -> ((s, d) => {
      val li = Tables.lineitem(s, d)
        .filter(col("l_shipdate").cast("date") <= lit("1998-09-02"))
        .select(col("l_returnflag"), col("l_linestatus"), col("l_orderkey"),
          round(col("l_quantity")).cast("long").as("qty"),
          round(col("l_extendedprice") * 100).cast("long").as("cents"),
          round(col("l_discount") * 100).cast("long").as("d2"),
          round(col("l_tax") * 100).cast("long").as("t2"))
        .withColumn("disc_e4", col("cents") * (lit(100L) - col("d2")))
        .withColumn("charge_e6",
          col("cents") * (lit(100L) - col("d2")) * (lit(100L) + col("t2")))
      def partial(f: DataFrame) = f.groupBy("l_returnflag", "l_linestatus")
        .agg(sum("qty").as("sum_qty"), sum("cents").as("base_cents"),
          sum("disc_e4").as("disc_e4"), sum("charge_e6").as("charge_e6"),
          count(lit(1)).as("n"))
      val base  = partial(li.filter(col("l_orderkey") % 10 =!= 0))
      val delta = partial(li.filter(col("l_orderkey") % 10 === 0))
      base.unionByName(delta).groupBy("l_returnflag", "l_linestatus")
        .agg(sum("sum_qty").as("sum_qty"),
          sum("base_cents").as("sum_base_cents"),
          sum("disc_e4").as("sum_disc_e4"),
          sum("charge_e6").as("sum_charge_e6"),
          sum("n").as("count_order"))
    }),

    // Deterministic negative sampling: for each of the first 20 customers,
    // the 5 pseudo-random catalog parts they never purchased — the
    // contrastive-recommendation pairs. Priority is an engine-portable
    // Knuth hash; candidates anti-join the purchase set and the 5 lowest
    // priorities come off a map-side bounded heap, never a window over
    // the user x catalog cross
    "sample_negatives" -> ((s, d) => {
      val bought = Tables.orders(s, d).select(col("o_orderkey"), col("o_custkey"))
        .join(Tables.lineitem(s, d).select(col("l_orderkey"), col("l_partkey")),
          col("o_orderkey") === col("l_orderkey"))
        .select(col("o_custkey").as("custkey"), col("l_partkey").as("partkey"))
        .distinct()
      val users = Tables.customer(s, d).filter(col("c_custkey") <= 20)
        .select(col("c_custkey").as("custkey"))
      val cand = users.crossJoin(Tables.part(s, d).select(col("p_partkey").as("partkey")))
        .withColumn("priority",
          expr("(custkey * 2654435761L + partkey * 40503L) % 1000000L"))
      cand.join(bought, Seq("custkey", "partkey"), "left_anti")
        .groupBy("custkey")
        .agg(graft.functions.TopKRows.topk_rows(
          struct(col("priority").as("priority"), col("partkey").as("partkey")),
          5, descending = false).as("top"))
        .select(col("custkey"), explode(col("top")).as("r"))
        .select(col("custkey"), col("r.partkey").as("partkey"),
          col("r.priority").as("priority"))
    }),

    // ---- Round-8 session-3: normalization / audit gates --------------------
    // (the cohort-LTV gate lives in the product-analytics block above —
    // r10's broadcast-frontier body; a second definition here was the
    // round-10 duplicate-key defect, now guarded by uniqueMap)
    // Quantile normalization: each doc's length mapped to its within-
    // source percentile — the cross-source score calibration step (a
    // "long doc" means different things in different crawls). Global
    // ranks per source via the two-level bucketed rank: per-(source,
    // range-bucket) row_numbers + offsets off the bounded axis — no
    // per-source single-task sort
    "sample_quantile_norm" -> ((s, d) => {
      val docs = Tables.documentsPlain(s, d).select("doc_id", "source", "n_chars")
      val ranked = Sessionize.rankBucketedBy(docs, col("source"),
        col("n_chars"), col("doc_id"), expr("n_chars div 64"), "rk")
      val n = docs.groupBy(col("source").as("ns")).agg(count(lit(1)).as("n"))
      ranked.join(broadcast(n), col("source") === col("ns"))
        .select(col("doc_id"), col("source"), col("n_chars"),
          // nullif: a singleton source makes pct 0/0 — NULL on both
          // engines, never Spark NaN vs DuckDB NULL
          round((col("rk") - 1L).cast("double") /
            nullif((col("n") - 1L).cast("double"), lit(0.0)), 6).as("pct"))
    }),
    // Referential-integrity audit: orphan counts across the star schema's
    // FK edges (lineitem->orders, lineitem->part, orders->customer) — the
    // continuous data-quality check a lake runs before training reads.
    // Each edge is one LEFT ANTI join on its FK (shuffle-partitioned by
    // the key; at 100 TB the dimension side ships as a bloom/broadcast
    // pre-filter and the anti-join confirms)
    "data_integrity" -> ((s, d) => {
      val li = Tables.lineitem(s, d)
      val ords = Tables.orders(s, d)
      def audit(name: String, fact: DataFrame, fk: String,
                dim: DataFrame, pk: String): DataFrame =
        fact.join(dim, fact(fk) === dim(pk), "left_anti")
          .agg(count(lit(1)).as("n_orphans"))
          .select(lit(name).as("fk_edge"), col("n_orphans"))
          .crossJoin(fact.agg(count(lit(1)).as("n_rows")))
      audit("lineitem->orders", li, "l_orderkey", ords, "o_orderkey")
        .unionByName(audit("lineitem->part", li, "l_partkey",
          Tables.part(s, d), "p_partkey"))
        .unionByName(audit("orders->customer", ords, "o_custkey",
          Tables.customer(s, d), "c_custkey"))
    })
  )

  // ---------------------------------------------------------------------
  // Oracle SQL (DuckDB). The hash-sketch-dependent queries (dedup_minhash,
  // dedup_simhash, ann_lsh, ann_ivf) are not ANSI-SQL-expressible from the
  // raw tables, but their VERIFY stages are exact (jaccard/cosine/hamming):
  // the oracle re-derives the output from the Spark-computed sketches,
  // which [[Verify]] interpolates as `VALUES` literals in place of the
  // `__..__` placeholders below. Candidate generation is thereby replayed
  // independently in DuckDB (band/chunk/bucket/cell equi-joins), and the
  // similarity math + threshold decisions are recomputed from the base
  // tables, so everything except the sketch bits themselves is checked.
  // ---------------------------------------------------------------------

  private val tsCte = TsModel.tsOracleCte
  private val kvCte = KvModel.kvOracleCte
  private val lwwCte = kvCte +
    """, lww AS (
      |  SELECT * FROM kv
      |  QUALIFY row_number() OVER (PARTITION BY id, key ORDER BY write_ts DESC, event_id DESC) = 1
      |)""".stripMargin

  private def tsTopN(n: Int, desc: Boolean, where: String = "TRUE"): String = {
    val dir = if (desc) "DESC" else "ASC"
    s"""$tsCte SELECT series_id, t, value, event_id FROM ts WHERE $where
       |QUALIFY row_number() OVER (PARTITION BY series_id ORDER BY t $dir, event_id $dir) <= $n""".stripMargin
  }

  private def tsAggSql(expr: String): String =
    s"""$tsCte SELECT round($expr, 4) AS result FROM ts
       |WHERE series_id = 'purchase' AND t BETWEEN $R_FROM AND $R_TO""".stripMargin

  private val docToksCte =
    """WITH d AS (
      |  SELECT doc_id, text, string_split_regex(lower(trim(text)), '\s+') AS toks
      |  FROM documents
      |)""".stripMargin

  /** The text_bpe_vocab oracle: 8 unrolled BPE merge rounds. Stage CTEs
    * are MATERIALIZED — each round references the previous one several
    * times (pair counts + two scalar subqueries + the re-segment), and
    * DuckDB's default CTE inlining would re-derive the chain
    * exponentially. `replace` is left-to-right non-overlapping in both
    * engines — the BPE merge rule, mirrored textually by
    * [[graft.operators.CorpusModel.bpeTrain]].
    */
  /** The unrolled BPE merge rounds as a CTE chain (`b1..bK` hold each
    * round's chosen pair, `wK` the final segmentation state) — shared by
    * the text_bpe_vocab and text_bpe_compression oracles.
    */
  private def bpeStagesCte(merges: Int): String = {
    val S = "chr(31)"
    val SS = s"$S || $S" // the doubled inter-symbol boundary
    val stages = (1 to merges).map { i =>
      val prev = s"w${i - 1}"
      // symbols back out of the wrapped encoding: strip the outer
      // separators, split on the doubled boundary (mirrors
      // CorpusModel.symbolsOf textually)
      s""", p$i AS MATERIALIZED (
         |  SELECT l[j] AS lft, l[j+1] AS rgt, CAST(sum(c) AS BIGINT) AS n
         |  FROM (SELECT c, string_split(substring(seq, 2, length(seq) - 2), $SS) AS l
         |        FROM $prev) t,
         |       unnest(range(1, len(t.l))) u(j)
         |  GROUP BY 1, 2
         |), b$i AS MATERIALIZED (
         |  SELECT lft, rgt, n FROM p$i ORDER BY n DESC, lft ASC, rgt ASC LIMIT 1
         |), w$i AS MATERIALIZED (
         |  SELECT c, replace(seq,
         |    (SELECT $S || lft || $S || $S || rgt || $S FROM b$i),
         |    (SELECT $S || lft || rgt || $S FROM b$i)) AS seq FROM $prev
         |)""".stripMargin
    }.mkString
    // every symbol wrapped in its own separator pair — the boundary-
    // anchored encoding CorpusModel.bpeTrain uses, so a merge pattern can
    // only match whole adjacent symbols (never a suffix of a prior merge)
    s"""$docToksCte, tk AS (SELECT unnest(toks) AS tok FROM d WHERE len(toks) > 0),
       |w0 AS MATERIALIZED (
       |  SELECT $S || array_to_string(string_split(tok, ''), $SS) || $S AS seq,
       |    CAST(count(*) AS BIGINT) AS c
       |  FROM tk WHERE len(tok) >= 1 GROUP BY 1
       |)$stages""".stripMargin
  }

  private def bpeVocabOracle(merges: Int): String = {
    val union = (1 to merges)
      .map(i => s"SELECT $i AS merge_rank, lft, rgt, n FROM b$i")
      .mkString("\nUNION ALL ")
    s"""${bpeStagesCte(merges)}
       |$union""".stripMargin
  }

  /** Per-source compression from applying the trained merge list: each
    * document's symbol string is the per-word char split joined with a
    * space boundary symbol, then the K merges applied in rank order via
    * the same left-to-right `replace` chain the Spark side uses.
    */
  private def bpeCompressionOracle(merges: Int): String = {
    val S = "chr(31)"
    val SS = s"$S || $S"
    // wrapped words joined by a wrapped space symbol — mirrors
    // CorpusModel.bpeSegmentStats textually
    val seq0 = s"array_to_string(list_transform(toks, " +
      s"w -> $S || array_to_string(string_split(w, ''), $SS) || $S), " +
      s"$S || ' ' || $S)"
    val chain = (1 to merges).foldLeft(seq0) { (acc, i) =>
      s"replace($acc, (SELECT $S || lft || $S || $S || rgt || $S FROM b$i), " +
        s"(SELECT $S || lft || rgt || $S FROM b$i))"
    }
    s"""${bpeStagesCte(merges)}, seg AS (
       |  SELECT doc_id, CAST(len(string_split($chain, $SS)) AS BIGINT) AS n_symbols,
       |    CAST(len(toks) AS BIGINT) AS n_words
       |  FROM d
       |)
       |SELECT documents.source, CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(sum(seg.n_symbols) AS BIGINT) AS sum_symbols,
       |  CAST(sum(seg.n_words) AS BIGINT) AS sum_words
       |FROM seg JOIN documents USING (doc_id)
       |GROUP BY documents.source""".stripMargin
  }

  private val embCte =
    "WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)"

  /** The cluster_lloyd oracle: `iters` distributed Lloyd iterations
    * replayed from the exported seed centers, then the census. Stage CTEs
    * MATERIALIZED (each stage is referenced repeatedly — default inlining
    * re-derives the chain exponentially, the bpe oracle lesson). The
    * center update divides exact integers via floor() over a double
    * quotient: |Σ micros| stays far below 2^53, so the only near-integer
    * quotients are exact ones and the floor is bit-reliable — the SQL twin
    * of Scala's Math.floorDiv.
    */
  private def lloydOracle(iters: Int): String = {
    def assign(name: String, ctr: String) =
      s""", ${name}d AS MATERIALIZED (
         |  SELECT u.vec_id, $ctr.cell,
         |    round(list_dot_product(
         |      list_transform(range(1, len(u.v) + 1), i -> u.v[i] - $ctr.cv[i]),
         |      list_transform(range(1, len(u.v) + 1), i -> u.v[i] - $ctr.cv[i])), 4) AS d
         |  FROM u CROSS JOIN $ctr
         |), $name AS MATERIALIZED (
         |  SELECT vec_id, cell, d FROM ${name}d
         |  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY d, cell) = 1
         |)""".stripMargin
    val rounds = (1 to iters).map { i =>
      assign(s"a${i - 1}", s"ctr${i - 1}") +
      s""", cd$i AS MATERIALIZED (
         |  SELECT a.cell, j AS pos, CAST(count(*) AS BIGINT) AS n,
         |    CAST(sum(CAST(round(u.v[j + 1] * 1000000, 0) AS BIGINT)) AS BIGINT) AS s
         |  FROM a${i - 1} a JOIN u USING (vec_id), unnest(range(0, len(u.v))) r(j)
         |  GROUP BY 1, 2
         |), upd$i AS MATERIALIZED (
         |  SELECT cell,
         |    list(CAST(floor(CAST(s AS DOUBLE) / n) AS BIGINT) / 1000000.0
         |         ORDER BY pos) AS cv
         |  FROM cd$i GROUP BY cell
         |), ctr$i AS MATERIALIZED (
         |  SELECT c.cell, coalesce(u2.cv, c.cv) AS cv
         |  FROM ctr${i - 1} c LEFT JOIN upd$i u2 USING (cell)
         |)""".stripMargin
    }.mkString
    s"""WITH ctr0 AS (SELECT * FROM (VALUES __IVF_CENTERS__) AS t(cell, cv)),
       |u AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)
       |$rounds${assign("af", s"ctr$iters")}
       |SELECT cell, n, medoid FROM (
       |  SELECT cell, CAST(count(*) OVER (PARTITION BY cell) AS BIGINT) AS n,
       |         vec_id AS medoid,
       |         row_number() OVER (PARTITION BY cell ORDER BY d, vec_id) AS rn
       |  FROM af
       |) WHERE rn = 1""".stripMargin
  }
  private val cosAB =
    "list_dot_product(a.v, b.v) / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v)))"

  def oracleSql: Map[String, String] = uniqueMap(
    "ts_latest"   -> tsTopN(1, desc = true),
    "ts_last_n"   -> tsTopN(10, desc = true),
    "ts_first_n"  -> tsTopN(10, desc = false),
    "ts_earliest" -> tsTopN(1, desc = false),
    "ts_since" ->
      s"$tsCte SELECT series_id, t, value, event_id FROM ts WHERE series_id IN ('purchase','error') AND t >= $SINCE",
    "ts_range" ->
      s"$tsCte SELECT series_id, t, value, event_id FROM ts WHERE t BETWEEN $R_FROM AND $R_TO",
    "ts_length" ->
      s"$tsCte SELECT count(*) AS length FROM ts WHERE series_id IN ('purchase','click')",
    "ts_filter_equals" ->
      s"$tsCte SELECT series_id, t, value, event_id, k FROM ts WHERE t >= $SINCE AND k = '42'",
    "ts_filter_contains" ->
      s"$tsCte SELECT series_id, t, value, event_id, k FROM ts WHERE t >= $SINCE AND k LIKE '%7%'",
    "ts_delete_range" ->
      s"""$tsCte SELECT series_id, t, value, event_id FROM ts WHERE series_id = 'error'
         |AND t NOT IN (SELECT t FROM ts WHERE series_id = 'error' AND t BETWEEN $R_FROM AND $R_TO AND k LIKE '%5%')""".stripMargin,
    // identical semantics through the durable partition-swap path
    "ts_storage_delete" ->
      s"""$tsCte SELECT series_id, t, value, event_id FROM ts WHERE series_id = 'error'
         |AND t NOT IN (SELECT t FROM ts WHERE series_id = 'error' AND t BETWEEN $R_FROM AND $R_TO AND k LIKE '%5%')""".stripMargin,
    // same oracle as ts_storage_delete: the compact must not change the view
    "ts_compact_incremental" ->
      s"""$tsCte SELECT series_id, t, value, event_id FROM ts WHERE series_id = 'error'
         |AND t NOT IN (SELECT t FROM ts WHERE series_id = 'error' AND t BETWEEN $R_FROM AND $R_TO AND k LIKE '%5%')""".stripMargin,

    // JSON wire round trip is lossless, so the oracle reads the parquet
    // table directly — any text-format precision loss breaks the hash
    "wire_ingest" ->
      s"""$tsCte SELECT series_id, count(*) AS n, round(sum(value), 4) AS sum_value,
         |CAST(sum(event_id) AS BIGINT) AS sum_eid, min(t) AS min_t, max(t) AS max_t,
         |CAST(sum(CASE WHEN k = '5' THEN 1 ELSE 0 END) AS BIGINT) AS k5
         |FROM ts GROUP BY series_id""".stripMargin,
    // the binary port's CURVE twin: same census over the first 500 events
    // (the engine assigns its own event ids, so sum_eid is not in the
    // contract)
    "wire_binary_ingest" ->
      s"""$tsCte SELECT series_id, count(*) AS n, round(sum(value), 4) AS sum_value,
         |min(t) AS min_t, max(t) AS max_t,
         |CAST(sum(CASE WHEN k = '5' THEN 1 ELSE 0 END) AS BIGINT) AS k5
         |FROM ts WHERE event_id < 500 GROUP BY series_id""".stripMargin,
    // the binary port's NULL twin: same census over the first 300 events
    "wire_zmtp_ingest" ->
      s"""$tsCte SELECT series_id, count(*) AS n, round(sum(value), 4) AS sum_value,
         |min(t) AS min_t, max(t) AS max_t,
         |CAST(sum(CASE WHEN k = '5' THEN 1 ELSE 0 END) AS BIGINT) AS k5
         |FROM ts WHERE event_id < 300 GROUP BY series_id""".stripMargin,

    "ts_blob_last" ->
      """WITH tb AS (
        |  SELECT event_type AS series_id, epoch_ms(ts) AS t, props AS blob, event_id
        |  FROM events
        |)
        |SELECT series_id, t, blob, event_id FROM tb
        |WHERE series_id IN ('purchase','signup')
        |QUALIFY row_number() OVER (PARTITION BY series_id ORDER BY t DESC, event_id DESC) <= 5""".stripMargin,

    "ts_agg_sum"    -> tsAggSql("sum(value)"),
    "ts_agg_count"  -> tsAggSql("CAST(count(*) AS DOUBLE)"),
    "ts_agg_min"    -> tsAggSql("min(value)"),
    "ts_agg_max"    -> tsAggSql("max(value)"),
    "ts_agg_mean"   -> tsAggSql("avg(value)"),
    "ts_agg_median" -> tsAggSql("median(value)"),
    "ts_agg_sd"     -> tsAggSql("stddev_samp(value)"),
    "ts_asof" ->
      """WITH base AS (
        |  SELECT user_id, epoch_ms(ts) AS t, value, event_id, event_type FROM events
        |), clicks AS (
        |  SELECT user_id, t, value, event_id FROM base WHERE event_type = 'click'
        |), purchases AS (
        |  SELECT user_id, t, value FROM base WHERE event_type = 'purchase'
        |  QUALIFY row_number() OVER (PARTITION BY user_id, t ORDER BY event_id DESC) = 1
        |)
        |SELECT c.user_id, c.t, c.event_id, p.t AS asof_t, p.value AS asof_value
        |FROM clicks c ASOF JOIN purchases p ON c.user_id = p.user_id AND c.t >= p.t""".stripMargin,

    // point-in-time correctness: the feature read at each purchase is the
    // latest at-or-before write; a tombstone write blanks the feature
    "events_pit_join" ->
      s"""$kvCte, refs AS (
         |  SELECT id, write_ts AS t, value, deleted FROM kv WHERE key = 'click'
         |  QUALIFY row_number() OVER (PARTITION BY id, write_ts
         |    ORDER BY event_id DESC) = 1
         |), probes AS (
         |  SELECT 'u' || CAST(user_id % 50 AS VARCHAR) AS id, epoch_ms(ts) AS t,
         |    event_id
         |  FROM events WHERE event_type = 'purchase'
         |)
         |SELECT p.id, p.t, p.event_id, r.t AS feat_ts,
         |  CASE WHEN r.deleted THEN NULL ELSE r.value END AS feat
         |FROM probes p ASOF JOIN refs r ON p.id = r.id AND p.t >= r.t""".stripMargin,
    "ts_resample" ->
      s"""$tsCte SELECT series_id, t // 3600000 AS bucket,
         |  round(avg(value), 4) AS avg_v, round(sum(value), 4) AS sum_v,
         |  count(*) AS n
         |FROM ts GROUP BY series_id, t // 3600000""".stripMargin,
    "ts_percentiles" ->
      s"""$tsCte SELECT series_id,
         |  round(quantile_cont(value, 0.5), 4) AS p50,
         |  round(quantile_cont(value, 0.95), 4) AS p95,
         |  round(quantile_cont(value, 0.99), 4) AS p99
         |FROM ts GROUP BY series_id""".stripMargin,
    "ts_winsorize" ->
      s"""$tsCte, band AS (
         |  SELECT series_id AS sb, round(quantile_cont(value, 0.05), 4) AS lo,
         |         round(quantile_cont(value, 0.95), 4) AS hi
         |  FROM ts GROUP BY series_id
         |)
         |SELECT series_id, t, event_id,
         |  round(least(greatest(value, lo), hi), 4) AS clamped,
         |  (value < lo OR value > hi) AS was_clipped
         |FROM ts JOIN band ON series_id = sb""".stripMargin,
    "ts_moving_avg" ->
      s"""$tsCte SELECT series_id, t, event_id,
         |  round(avg(value) OVER (PARTITION BY series_id ORDER BY t, event_id
         |    ROWS BETWEEN 9 PRECEDING AND CURRENT ROW), 4) AS ma10
         |FROM ts""".stripMargin,
    // window replay of the pinned LTTB variant (midpoint anchors, rounded
    // argmax, (t, event_id) tiebreak) — see operators/Lttb.scala
    "ts_m4" ->
      s"""$tsCte, b AS (
         |  SELECT series_id, t // 3600000 AS bucket, t, value, event_id,
         |    row_number() OVER (PARTITION BY series_id, t // 3600000
         |                       ORDER BY t ASC, event_id ASC) AS rf,
         |    row_number() OVER (PARTITION BY series_id, t // 3600000
         |                       ORDER BY t DESC, event_id DESC) AS rl
         |  FROM ts
         |)
         |SELECT series_id, bucket, bucket * 3600000 AS t_start,
         |  count(*) AS n, min(value) AS v_min, max(value) AS v_max,
         |  max(CASE WHEN rf = 1 THEN value END) AS v_first,
         |  max(CASE WHEN rl = 1 THEN value END) AS v_last
         |FROM b GROUP BY series_id, bucket""".stripMargin,
    "ts_lttb" ->
      s"""$tsCte, r AS (
         |  SELECT series_id, t, value, event_id,
         |    CAST(row_number() OVER (PARTITION BY series_id ORDER BY t, event_id) AS BIGINT) AS rn,
         |    count(*) OVER (PARTITION BY series_id) AS n
         |  FROM ts
         |), mids AS (
         |  SELECT series_id, t, value, event_id,
         |    CAST((rn - 2) * 48 // (n - 2) AS BIGINT) AS b
         |  FROM r WHERE n > 50 AND rn > 1 AND rn < n
         |), anch AS (
         |  SELECT series_id, b, (min(t) + max(t)) / 2.0 AS tm,
         |         (min(value) + max(value)) / 2.0 AS vm
         |  FROM mids GROUP BY series_id, b
         |), ep AS (
         |  SELECT series_id,
         |    CAST(max(CASE WHEN rn = 1 THEN t END) AS DOUBLE) AS t1,
         |    max(CASE WHEN rn = 1 THEN value END) AS v1,
         |    CAST(max(CASE WHEN rn = n THEN t END) AS DOUBLE) AS tn,
         |    max(CASE WHEN rn = n THEN value END) AS vn
         |  FROM r WHERE n > 50 GROUP BY series_id
         |), framed AS (
         |  SELECT a.series_id, a.b,
         |    coalesce(lag(a.tm) OVER wb, e.t1) AS tp,
         |    coalesce(lag(a.vm) OVER wb, e.v1) AS vp,
         |    coalesce(lead(a.tm) OVER wb, e.tn) AS tn2,
         |    coalesce(lead(a.vm) OVER wb, e.vn) AS vn2
         |  FROM anch a JOIN ep e USING (series_id)
         |  WINDOW wb AS (PARTITION BY a.series_id ORDER BY a.b)
         |), win AS (
         |  SELECT m.series_id, m.t, m.value, m.event_id
         |  FROM mids m JOIN framed f ON m.series_id = f.series_id AND m.b = f.b
         |  QUALIFY row_number() OVER (PARTITION BY m.series_id, m.b
         |    ORDER BY round(abs((f.tp - f.tn2) * (m.value - f.vp)
         |                     - (f.tp - CAST(m.t AS DOUBLE)) * (f.vn2 - f.vp)), 6) DESC,
         |             m.t, m.event_id) = 1
         |)
         |SELECT series_id, t, value, event_id FROM r WHERE n <= 50
         |UNION ALL
         |SELECT series_id, t, value, event_id FROM r WHERE n > 50 AND (rn = 1 OR rn = n)
         |UNION ALL
         |SELECT series_id, t, value, event_id FROM win""".stripMargin,
    "ts_gapfill" ->
      s"""$tsCte, b AS (
         |  SELECT series_id, t // 3600000 AS bucket,
         |    round(avg(value), 4) AS v, count(*) AS n
         |  FROM ts GROUP BY series_id, t // 3600000
         |), ax AS (
         |  SELECT series_id, unnest(range(min(bucket), max(bucket) + 1)) AS bucket
         |  FROM b GROUP BY series_id
         |), j AS (
         |  SELECT ax.series_id, ax.bucket, b.v, COALESCE(b.n, 0) AS n
         |  FROM ax LEFT JOIN b USING (series_id, bucket)
         |)
         |SELECT series_id, bucket,
         |  last_value(v IGNORE NULLS) OVER (PARTITION BY series_id ORDER BY bucket
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS v_filled,
         |  n
         |FROM j""".stripMargin,
    "ts_zscore" ->
      s"""$tsCte, stats AS (
         |  SELECT series_id AS sid, avg(value) AS mu, stddev_samp(value) AS sd
         |  FROM ts GROUP BY series_id
         |)
         |SELECT series_id, t, event_id,
         |  round((value - mu) / nullif(sd, 0), 4) AS z,
         |  (abs(round((value - mu) / nullif(sd, 0), 4)) > 3.0) AS anomaly
         |FROM ts JOIN stats ON series_id = sid""".stripMargin,
    "ts_interpolate" ->
      s"""$tsCte, b AS (
         |  SELECT series_id, t // 3600000 AS bucket, round(avg(value), 4) AS v
         |  FROM ts GROUP BY series_id, t // 3600000
         |), ax AS (
         |  SELECT series_id, unnest(range(min(bucket), max(bucket) + 1)) AS bucket
         |  FROM b GROUP BY series_id
         |), j AS (
         |  SELECT ax.series_id, ax.bucket, b.v FROM ax LEFT JOIN b USING (series_id, bucket)
         |), w AS (
         |  SELECT series_id, bucket, v,
         |    last_value(v IGNORE NULLS) OVER (PARTITION BY series_id ORDER BY bucket
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pv,
         |    last_value(CASE WHEN v IS NOT NULL THEN bucket END IGNORE NULLS)
         |      OVER (PARTITION BY series_id ORDER BY bucket
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pb,
         |    first_value(v IGNORE NULLS) OVER (PARTITION BY series_id ORDER BY bucket
         |      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nv,
         |    first_value(CASE WHEN v IS NOT NULL THEN bucket END IGNORE NULLS)
         |      OVER (PARTITION BY series_id ORDER BY bucket
         |      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nb
         |  FROM j
         |)
         |SELECT series_id, bucket,
         |  CASE WHEN v IS NOT NULL THEN v
         |       WHEN pv IS NULL THEN nv
         |       WHEN nv IS NULL THEN pv
         |       ELSE ((CAST(round(pv * 10000) AS BIGINT) * (nb - bucket) +
         |              CAST(round(nv * 10000) AS BIGINT) * (bucket - pb)) // (nb - pb))
         |            / 10000.0 END AS v_interp
         |FROM w""".stripMargin,
    "ts_agg_by_series" ->
      s"""$tsCte SELECT series_id, round(sum(value), 4) AS sum_v,
         |  round(avg(value), 4) AS mean_v, round(median(value), 4) AS median_v,
         |  round(stddev_samp(value), 4) AS sd_v, count(*) AS n
         |FROM ts GROUP BY series_id""".stripMargin,
    "ts_flagship" ->
      s"""$tsCte, sel AS (
         |  SELECT * FROM ts WHERE series_id IN ('purchase','click')
         |  QUALIFY row_number() OVER (PARTITION BY series_id ORDER BY t DESC, event_id DESC) <= 100
         |) SELECT round(max(value), 4) AS result FROM sel WHERE k LIKE '%1%'""".stripMargin,

    "path_query" ->
      s"""$tsCte, sel AS (
         |  SELECT * FROM ts WHERE series_id IN ('purchase','click')
         |  QUALIFY row_number() OVER (PARTITION BY series_id ORDER BY t DESC, event_id DESC) <= 100
         |) SELECT round(max(value), 4) AS result FROM sel WHERE k LIKE '%1%'""".stripMargin,
    "zestql_query" ->
      s"""$tsCte SELECT round(avg(value), 4) AS result FROM ts
         |WHERE series_id IN ('purchase','error') AND t >= $SINCE""".stripMargin,

    "kv_lww" ->
      s"$lwwCte SELECT id, key, value, write_ts, event_id FROM lww WHERE NOT deleted",
    "kv_keys" ->
      s"$lwwCte SELECT id, key FROM lww WHERE NOT deleted",
    "kv_count" ->
      s"$lwwCte SELECT id, count(*) AS n_keys FROM lww WHERE NOT deleted GROUP BY id",
    "kv_read" ->
      s"""$lwwCte SELECT id, key, value, write_ts FROM lww
         |WHERE NOT deleted AND id = 'u7' AND key = 'purchase'""".stripMargin,
    "kv_binary" ->
      s"""$lwwCte SELECT id, key, base64(encode(value)) AS b64,
         |  CAST(octet_length(encode(value)) AS BIGINT) AS n_bytes
         |FROM lww WHERE NOT deleted""".stripMargin,
    "kv_expire" ->
      s"""$lwwCte SELECT id, key, value, write_ts,
         |  (1706659200000 - write_ts) // 1000 AS age_s
         |FROM lww WHERE NOT deleted AND write_ts >= 1706572800000""".stripMargin,
    // LWW over the replayed slice: the winner per cell under the ORIGINAL
    // (write_ts, event_id) order equals the engine's last-applied write
    "kv_durable_restart" ->
      s"""$kvCte, sub AS (SELECT * FROM kv WHERE event_id < 800),
         |lwwd AS (
         |  SELECT * FROM sub
         |  QUALIFY row_number() OVER (PARTITION BY id, key ORDER BY write_ts DESC, event_id DESC) = 1
         |)
         |SELECT id, key, value FROM lwwd WHERE NOT deleted""".stripMargin,

    "q1_pricing" ->
      """SELECT l_returnflag, l_linestatus,
        |  round(sum(l_quantity), 4) AS sum_qty,
        |  round(sum(l_extendedprice), 4) AS sum_base_price,
        |  round(sum(l_extendedprice * (1 - l_discount)), 4) AS sum_disc_price,
        |  round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 4) AS sum_charge,
        |  round(avg(l_quantity), 4) AS avg_qty,
        |  round(avg(l_discount), 4) AS avg_disc,
        |  count(*) AS count_order
        |FROM lineitem WHERE CAST(l_shipdate AS DATE) <= DATE '1998-09-02'
        |GROUP BY l_returnflag, l_linestatus""".stripMargin,

    // the DIRECT recompute over the full slice — equality with the
    // merged-partials query is the maintenance proof
    "q1_incremental" ->
      """WITH li AS (
        |  SELECT l_returnflag, l_linestatus,
        |    CAST(round(l_quantity, 0) AS BIGINT) AS qty,
        |    CAST(round(l_extendedprice * 100, 0) AS BIGINT) AS cents,
        |    CAST(round(l_discount * 100, 0) AS BIGINT) AS d2,
        |    CAST(round(l_tax * 100, 0) AS BIGINT) AS t2
        |  FROM lineitem WHERE CAST(l_shipdate AS DATE) <= DATE '1998-09-02'
        |)
        |SELECT l_returnflag, l_linestatus,
        |  CAST(sum(qty) AS BIGINT) AS sum_qty,
        |  CAST(sum(cents) AS BIGINT) AS sum_base_cents,
        |  CAST(sum(cents * (100 - d2)) AS BIGINT) AS sum_disc_e4,
        |  CAST(sum(cents * (100 - d2) * (100 + t2)) AS BIGINT) AS sum_charge_e6,
        |  count(*) AS count_order
        |FROM li GROUP BY l_returnflag, l_linestatus""".stripMargin,

    "sample_negatives" ->
      """WITH bought AS (
        |  SELECT DISTINCT o.o_custkey AS custkey, l.l_partkey AS partkey
        |  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
        |), cand AS (
        |  SELECT c.c_custkey AS custkey, p.p_partkey AS partkey,
        |    (c.c_custkey * 2654435761 + p.p_partkey * 40503) % 1000000 AS priority
        |  FROM customer c CROSS JOIN part p
        |  WHERE c.c_custkey <= 20
        |)
        |SELECT custkey, partkey, CAST(priority AS BIGINT) AS priority
        |FROM cand
        |WHERE NOT EXISTS (SELECT 1 FROM bought b
        |  WHERE b.custkey = cand.custkey AND b.partkey = cand.partkey)
        |QUALIFY row_number() OVER (PARTITION BY custkey
        |  ORDER BY priority ASC, partkey ASC) <= 5""".stripMargin,
    "q3_segment_revenue" ->
      """SELECT c_mktsegment,
        |  round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue,
        |  count(DISTINCT o_orderkey) AS n_orders
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |WHERE CAST(o_orderdate AS DATE) < DATE '1997-01-01'
        |GROUP BY c_mktsegment""".stripMargin,
    "q5_region_revenue" ->
      """SELECT r_name, n_name, round(sum(o_totalprice), 4) AS revenue, count(*) AS n_orders
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name, n_name""".stripMargin,
    "q9_brand_profit" ->
      """SELECT n_name, p_brand,
        |  round(sum(l_extendedprice * (1 - l_discount)), 4) AS profit,
        |  count(*) AS n_items
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation ON s_nationkey = n_nationkey
        |GROUP BY n_name, p_brand""".stripMargin,
    "topk_orders" ->
      """SELECT o_orderkey, o_custkey, round(o_totalprice, 4) AS total_r,
        |  epoch_ms(o_orderdate) AS o_date_ms
        |FROM orders ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 10""".stripMargin,
    "user_spend" ->
      """SELECT user_id, round(sum(value), 4) AS total_spend, count(*) AS n_purchases
        |FROM events WHERE event_type = 'purchase' GROUP BY user_id""".stripMargin,
    "user_rfm" ->
      """WITH ua AS (
        |  SELECT user_id, max(epoch_ms(ts)) AS r_t, CAST(count(*) AS BIGINT) AS f,
        |    CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT) AS m_cents
        |  FROM events WHERE event_type = 'purchase' GROUP BY user_id
        |), sc AS (
        |  SELECT user_id, r_t, f, m_cents,
        |    CAST(ntile(5) OVER (ORDER BY r_t, user_id) AS BIGINT) AS r_score,
        |    CAST(ntile(5) OVER (ORDER BY f, user_id) AS BIGINT) AS f_score,
        |    CAST(ntile(5) OVER (ORDER BY m_cents, user_id) AS BIGINT) AS m_score
        |  FROM ua
        |)
        |SELECT user_id, r_t, f, m_cents, r_score, f_score, m_score,
        |  r_score * 100 + f_score * 10 + m_score AS segment
        |FROM sc""".stripMargin,
    "user_retention" ->
      """WITH base AS (
        |  SELECT DISTINCT user_id, epoch_ms(ts) // 604800000 AS week FROM events
        |), cohort AS (
        |  SELECT user_id, min(week) AS cohort_week FROM base GROUP BY user_id
        |)
        |SELECT c.cohort_week, b.week - c.cohort_week AS week_offset,
        |  count(DISTINCT b.user_id) AS n_users
        |FROM base b JOIN cohort c USING (user_id)
        |GROUP BY c.cohort_week, b.week - c.cohort_week""".stripMargin,
    "user_ltv_cohort" ->
      """WITH base AS (
        |  SELECT user_id, event_type, epoch_ms(ts) // 604800000 AS week,
        |    CAST(round(value * 100, 0) AS BIGINT) AS cents
        |  FROM events
        |), cohort AS (
        |  SELECT user_id, min(week) AS cohort_week FROM base GROUP BY user_id
        |)
        |SELECT c.cohort_week, b.week - c.cohort_week AS age_weeks,
        |  count(DISTINCT b.user_id) AS n_buyers,
        |  CAST(count(*) AS BIGINT) AS n_purchases,
        |  CAST(sum(b.cents) AS BIGINT) AS revenue_cents
        |FROM base b JOIN cohort c USING (user_id)
        |WHERE b.event_type = 'purchase'
        |GROUP BY c.cohort_week, b.week - c.cohort_week""".stripMargin,
    "user_funnel" ->
      """WITH base AS (
        |  SELECT user_id, epoch_ms(ts) AS t, event_type FROM events
        |), v AS (
        |  SELECT user_id, min(t) AS t_view FROM base WHERE event_type = 'view' GROUP BY user_id
        |), c AS (
        |  SELECT b.user_id, min(b.t) AS t_click FROM base b JOIN v ON b.user_id = v.user_id
        |  WHERE b.event_type = 'click' AND b.t > v.t_view GROUP BY b.user_id
        |), p AS (
        |  SELECT b.user_id, min(b.t) AS t_purchase FROM base b JOIN c ON b.user_id = c.user_id
        |  WHERE b.event_type = 'purchase' AND b.t > c.t_click GROUP BY b.user_id
        |)
        |SELECT v.user_id, v.t_view, c.t_click, p.t_purchase,
        |  (p.t_purchase IS NOT NULL) AS converted
        |FROM v LEFT JOIN c USING (user_id) LEFT JOIN p USING (user_id)""".stripMargin,
    "user_funnel_windowed" ->
      """WITH base AS (
        |  SELECT user_id, epoch_ms(ts) AS t, event_type FROM events
        |), v AS (
        |  SELECT user_id, min(t) AS t_view FROM base WHERE event_type = 'view' GROUP BY user_id
        |), c AS (
        |  SELECT b.user_id, min(b.t) AS t_click FROM base b JOIN v ON b.user_id = v.user_id
        |  WHERE b.event_type = 'click' AND b.t > v.t_view AND b.t <= v.t_view + 7200000
        |  GROUP BY b.user_id
        |), p AS (
        |  SELECT b.user_id, min(b.t) AS t_purchase FROM base b JOIN c ON b.user_id = c.user_id
        |  WHERE b.event_type = 'purchase' AND b.t > c.t_click AND b.t <= c.t_click + 7200000
        |  GROUP BY b.user_id
        |)
        |SELECT v.user_id, v.t_view, c.t_click, p.t_purchase,
        |  1 + CAST(c.t_click IS NOT NULL AS BIGINT) +
        |      CAST(p.t_purchase IS NOT NULL AS BIGINT) AS depth
        |FROM v LEFT JOIN c USING (user_id) LEFT JOIN p USING (user_id)""".stripMargin,
    "user_sessions" ->
      """WITH base AS (
        |  SELECT user_id, epoch_ms(ts) AS t, value, event_id FROM events
        |), marked AS (
        |  SELECT user_id, t, value, event_id,
        |    CASE WHEN lag(t) OVER w IS NULL OR t - lag(t) OVER w > 3600000
        |         THEN 1 ELSE 0 END AS new_sess
        |  FROM base
        |  WINDOW w AS (PARTITION BY user_id ORDER BY t, event_id)
        |), sess AS (
        |  SELECT user_id, t, value,
        |    CAST(sum(new_sess) OVER (PARTITION BY user_id ORDER BY t, event_id ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
        |  FROM marked
        |)
        |SELECT user_id, session_id, count(*) AS n_events, min(t) AS t_start,
        |  max(t) AS t_end, round(sum(value), 4) AS session_value
        |FROM sess GROUP BY user_id, session_id""".stripMargin,

    "text_stats" ->
      s"""$docToksCte SELECT doc_id,
         |  CAST(len(toks) AS BIGINT) AS n_tokens,
         |  CAST(len(list_distinct(toks)) AS BIGINT) AS n_distinct,
         |  round(CAST(list_sum(list_transform(toks, t -> len(t))) AS DOUBLE) / len(toks), 4) AS avg_token_len,
         |  round(CAST(len(list_filter(toks, t -> t IN ('the','a','an','and','of','to','in','is','on','for'))) AS DOUBLE) / len(toks), 4) AS stopword_ratio,
         |  round(CAST(len(regexp_replace(text, '[A-Za-z0-9\\s]', '', 'g')) AS DOUBLE) / greatest(len(text), 1), 4) AS punct_ratio
         |FROM d""".stripMargin,
    "text_langid" ->
      s"""$docToksCte SELECT doc_id,
         |  CASE WHEN en = 0 AND es = 0 AND de = 0 THEN 'und'
         |       WHEN en >= es AND en >= de THEN 'en'
         |       WHEN es >= de THEN 'es' ELSE 'de' END AS lang_pred
         |FROM (SELECT doc_id,
         |  len(list_filter(toks, t -> t IN ('the','a','of','and','to','is'))) AS en,
         |  len(list_filter(toks, t -> t IN ('el','la','los','de','que','y'))) AS es,
         |  len(list_filter(toks, t -> t IN ('der','die','und','das','ist','ein'))) AS de
         |  FROM d)""".stripMargin,
    "text_fingerprint" ->
      "SELECT doc_id, md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fp FROM documents",
    "text_winnow" ->
      """WITH rh AS (SELECT * FROM (VALUES __WINNOW_HASHES__) AS t(doc_id, pos, h)),
        |m AS (SELECT doc_id, max(pos) AS maxp FROM rh GROUP BY 1),
        |wm AS (
        |  SELECT doc_id, pos, min(h) OVER (PARTITION BY doc_id ORDER BY pos
        |    ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS fp
        |  FROM rh
        |)
        |SELECT DISTINCT wm.doc_id, wm.fp
        |FROM wm JOIN m ON wm.doc_id = m.doc_id
        |WHERE wm.pos <= greatest(m.maxp - 3, 0)""".stripMargin,
    "text_tokens_bpe" ->
      """SELECT doc_id,
        |  CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS BIGINT) AS n_bpe_tokens
        |FROM documents""".stripMargin,

    "text_quality" ->
      s"""$docToksCte, comp AS (
         |  SELECT doc_id,
         |    CAST(len(toks) AS BIGINT) AS n_tokens,
         |    round(CAST(len(list_filter(toks, t -> t IN ('the','a','an','and','of','to','in','is','on','for'))) AS DOUBLE) / len(toks), 4) AS stop_r,
         |    round(CAST(len(regexp_replace(text, '[A-Za-z0-9\\s]', '', 'g')) AS DOUBLE) / greatest(len(text), 1), 4) AS punct_r
         |  FROM d
         |)
         |SELECT doc_id, n_tokens,
         |  round(0.4 * least(1.0, n_tokens / 20.0) + 0.3 * (1.0 - punct_r) + 0.3 * least(1.0, stop_r * 5.0), 5) AS quality,
         |  (round(0.4 * least(1.0, n_tokens / 20.0) + 0.3 * (1.0 - punct_r) + 0.3 * least(1.0, stop_r * 5.0), 5) >= 0.5) AS keep
         |FROM comp""".stripMargin,
    "dedup_fingerprint" ->
      """SELECT md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp,
        |  min(doc_id) AS keep_id, count(*) AS n_copies
        |FROM documents GROUP BY 1""".stripMargin,
    "dedup_exact" ->
      """SELECT doc_id, text FROM documents
        |QUALIFY row_number() OVER (PARTITION BY text ORDER BY doc_id) = 1""".stripMargin,
    "dedup_jaccard" ->
      """WITH t AS (
        |  SELECT doc_id, list_distinct(string_split_regex(lower(trim(text)), '\s+')) AS toks
        |  FROM documents WHERE doc_id < 500
        |)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |  round(CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE) /
        |        (len(a.toks) + len(b.toks) - len(list_intersect(a.toks, b.toks))), 6) AS jaccard
        |FROM t a JOIN t b ON a.doc_id < b.doc_id
        |WHERE CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE) /
        |      (len(a.toks) + len(b.toks) - len(list_intersect(a.toks, b.toks))) >= 0.8""".stripMargin,
    "dedup_lsh_recall" ->
      """WITH t AS (
        |  SELECT doc_id, list_distinct(string_split_regex(lower(trim(text)), '\s+')) AS toks
        |  FROM documents WHERE doc_id < 500
        |), truth AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |    round(CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE) /
        |          (len(a.toks) + len(b.toks) - len(list_intersect(a.toks, b.toks))), 6) AS jaccard
        |  FROM t a JOIN t b ON a.doc_id < b.doc_id
        |  WHERE CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE) /
        |        (len(a.toks) + len(b.toks) - len(list_intersect(a.toks, b.toks))) >= 0.05
        |), bands AS (
        |  SELECT * FROM (VALUES __MINHASH_BANDS__) AS v(doc_id, band, bh)
        |  WHERE doc_id < 500
        |), cand AS (
        |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM bands a JOIN bands b
        |  ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id
        |), dec AS (
        |  SELECT least(CAST(floor(jaccard * 10) AS BIGINT), 9) AS decile,
        |    CASE WHEN c.id_a IS NOT NULL THEN 1 ELSE 0 END AS hit
        |  FROM truth LEFT JOIN cand c USING (id_a, id_b)
        |), g AS (
        |  SELECT decile, CAST(count(*) AS BIGINT) AS n_pairs,
        |    CAST(sum(hit) AS BIGINT) AS n_caught
        |  FROM dec GROUP BY decile
        |), th AS (
        |  SELECT decile, n_pairs, n_caught,
        |    (1.0 - (CAST(decile AS DOUBLE) / 10.0 + 0.05) *
        |           (CAST(decile AS DOUBLE) / 10.0 + 0.05) *
        |           (CAST(decile AS DOUBLE) / 10.0 + 0.05) *
        |           (CAST(decile AS DOUBLE) / 10.0 + 0.05)) AS q
        |  FROM g
        |), th2 AS (SELECT *, q * q AS q2 FROM th),
        |th4 AS (SELECT *, q2 * q2 AS q4 FROM th2),
        |th8 AS (SELECT *, q4 * q4 AS q8 FROM th4)
        |SELECT decile, n_pairs, n_caught,
        |  round(CAST(n_caught AS DOUBLE) / n_pairs, 6) AS recall,
        |  round(1.0 - q8 * q8, 6) AS theory
        |FROM th8""".stripMargin,
    "dedup_spans" ->
      """WITH t AS (
        |  SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS toks
        |  FROM documents
        |), g AS (
        |  SELECT doc_id, unnest(list_distinct(list_transform(
        |    range(1, len(toks) - 8 + 2),
        |    i -> array_to_string(toks[i:i+7], ' ')))) AS gram
        |  FROM t WHERE len(toks) >= 8
        |)
        |SELECT gram, CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
        |       min(doc_id) AS first_doc
        |FROM g GROUP BY gram HAVING count(DISTINCT doc_id) >= 2""".stripMargin,
    // brute force: dedup_prefix's Spark side is the prefix-filter plan;
    // equality proves the blocking is lossless
    "dedup_prefix" ->
      """WITH t AS (
        |  SELECT doc_id, list_distinct(string_split_regex(lower(trim(text)), '\s+')) AS toks
        |  FROM documents WHERE doc_id < 500
        |)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |  round(CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE) /
        |        (len(a.toks) + len(b.toks) - len(list_intersect(a.toks, b.toks))), 6) AS jaccard
        |FROM t a JOIN t b ON a.doc_id < b.doc_id
        |WHERE CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE) /
        |      (len(a.toks) + len(b.toks) - len(list_intersect(a.toks, b.toks))) >= 0.7""".stripMargin,
    // within-cell cosine pairs, replaying cell assignment from the same
    // exported centers cluster_assign uses (rounded-distance argmin,
    // cell-asc tiebreak)
    "dedup_semantic" ->
      s"""WITH ctr AS (SELECT * FROM (VALUES __IVF_CENTERS__) AS t(cell, cv)),
         |u AS (
         |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
         |), dist AS (
         |  SELECT u.vec_id, ctr.cell,
         |    round(list_dot_product(
         |      list_transform(range(1, len(u.v) + 1), i -> u.v[i] - ctr.cv[i]),
         |      list_transform(range(1, len(u.v) + 1), i -> u.v[i] - ctr.cv[i])), 4) AS d
         |  FROM u CROSS JOIN ctr
         |), asg AS (
         |  SELECT vec_id, cell FROM dist
         |  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY d, cell) = 1
         |), e AS (
         |  SELECT u.vec_id, asg.cell, u.v FROM u JOIN asg USING (vec_id)
         |  WHERE u.vec_id < 1000
         |)
         |SELECT a.cell AS cell, a.vec_id AS id_a, b.vec_id AS id_b, round($cosAB, 6) AS sim
         |FROM e a JOIN e b ON a.cell = b.cell AND a.vec_id < b.vec_id
         |WHERE $cosAB IS NOT NULL AND NOT isnan($cosAB) AND round($cosAB, 6) >= 0.35""".stripMargin,
    "dedup_ngram" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    list_distinct(list_transform(range(1, len(toks)), i -> toks[i] || ' ' || toks[i+1])) AS grams
        |  FROM (SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS toks
        |        FROM documents WHERE doc_id < 1000) WHERE len(toks) >= 2
        |)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |  round(CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE) /
        |        (len(a.grams) + len(b.grams) - len(list_intersect(a.grams, b.grams))), 6) AS jaccard2
        |FROM t a JOIN t b ON a.doc_id < b.doc_id
        |WHERE CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE) /
        |      (len(a.grams) + len(b.grams) - len(list_intersect(a.grams, b.grams))) >= 0.5""".stripMargin,
    "mm_frames" ->
      """SELECT doc_id, CAST(unnest(range(1 + doc_id % 4)) AS INT) AS frame_idx,
        |  CAST(20 + n_chars % 13 AS INT) AS width,
        |  CAST(20 + (n_chars * 7) % 11 AS INT) AS height
        |FROM documents""".stripMargin,
    // closed-form replay of the synthetic two-band PNG generation rule;
    // the Spark side must reproduce these through a real ImageIO decode
    "mm_pixels" ->
      """SELECT doc_id, 'png' AS format,
        |  CAST(16 + n_chars % 17 AS BIGINT) AS width,
        |  CAST(16 + 2 * ((n_chars * 3) % 5) AS BIGINT) AS height,
        |  round(((doc_id % 256) + ((doc_id * 3) % 256)) / 2.0, 4) AS mean_r,
        |  round((((doc_id * 7) % 256) + ((doc_id * 11) % 256)) / 2.0, 4) AS mean_g,
        |  round((((doc_id * 13) % 256) + ((doc_id * 17) % 256)) / 2.0, 4) AS mean_b,
        |  round(((doc_id % 256) + ((doc_id * 7) % 256) + ((doc_id * 13) % 256)
        |       + ((doc_id * 3) % 256) + ((doc_id * 11) % 256) + ((doc_id * 17) % 256)) / 6.0, 4) AS mean_lum
        |FROM documents""".stripMargin,
    "mm_audio" ->
      """SELECT doc_id, CAST(200 + n_chars % 100 AS BIGINT) AS n_samples,
        |  round(CAST(100 + doc_id % 900 AS DOUBLE), 4) AS mean_abs,
        |  round(CAST(100 + doc_id % 900 AS DOUBLE), 4) AS rms,
        |  CAST(100 + doc_id % 900 AS BIGINT) AS peak
        |FROM documents""".stripMargin,
    "dedup_cosine" ->
      s"""$embCte SELECT a.vec_id AS id_a, b.vec_id AS id_b, round($cosAB, 6) AS sim
         |FROM e a JOIN e b ON a.vec_id < b.vec_id
         |WHERE a.vec_id < 1000 AND b.vec_id < 1000 AND round($cosAB, 6) >= 0.35""".stripMargin,
    // NaN/NULL sims (zero-norm or null embeddings) are filtered HERE too:
    // the Spark side drops them explicitly (Similarity.topKPerQuery), and
    // DuckDB would otherwise rank NaN first (NaN = NaN and sorts greatest)
    "ann_topk" ->
      s"""$embCte SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id, round($cosAB, 6) AS sim
         |FROM e a JOIN e b ON a.vec_id < 5 AND b.vec_id <> a.vec_id
         |WHERE $cosAB IS NOT NULL AND NOT isnan($cosAB)
         |QUALIFY row_number() OVER (PARTITION BY a.vec_id ORDER BY round($cosAB, 6) DESC, b.vec_id ASC) <= 5""".stripMargin,
    "embed_mrl_truncate" ->
      s"""$embCte, tr AS (SELECT vec_id, v[1:16] AS v FROM e),
         |f5 AS (
         |  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id
         |  FROM e a JOIN e b ON a.vec_id < 5 AND b.vec_id <> a.vec_id
         |  WHERE $cosAB IS NOT NULL AND NOT isnan($cosAB)
         |  QUALIFY row_number() OVER (PARTITION BY a.vec_id
         |    ORDER BY round($cosAB, 6) DESC, b.vec_id ASC) <= 5
         |), t5 AS (
         |  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id
         |  FROM tr a JOIN tr b ON a.vec_id < 5 AND b.vec_id <> a.vec_id
         |  WHERE $cosAB IS NOT NULL AND NOT isnan($cosAB)
         |  QUALIFY row_number() OVER (PARTITION BY a.vec_id
         |    ORDER BY round($cosAB, 6) DESC, b.vec_id ASC) <= 5
         |)
         |SELECT t5.query_id, CAST(count(*) AS BIGINT) AS k,
         |  CAST(sum(CASE WHEN f5.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_kept,
         |  round(CAST(sum(CASE WHEN f5.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)
         |    AS DOUBLE) / count(*), 6) AS recall16
         |FROM t5 LEFT JOIN f5
         |  ON t5.query_id = f5.query_id AND t5.neighbor_id = f5.neighbor_id
         |GROUP BY t5.query_id""".stripMargin,
    // stats, mean/sd, and the whitened coordinates are the textual twins
    // of the Spark expressions (exact-integer micros in, one fixed IEEE
    // expression out), so both engines whiten to identical doubles
    "embed_whiten_recall" ->
      s"""$embCte, xm AS MATERIALIZED (
         |  SELECT vec_id, j AS pos,
         |    CAST(round(v[j + 1] * 1000000, 0) AS BIGINT) AS xm
         |  FROM e, unnest(range(0, len(e.v))) r(j)
         |), st AS MATERIALIZED (
         |  SELECT pos, CAST(count(*) AS BIGINT) AS n,
         |    CAST(sum(xm) AS BIGINT) AS sm, CAST(sum(xm * xm) AS BIGINT) AS qm
         |  FROM xm GROUP BY pos
         |), stm AS MATERIALIZED (
         |  SELECT pos, CAST(sm AS DOUBLE) / n AS mu,
         |    sqrt((CAST(qm AS DOUBLE) - CAST(sm AS DOUBLE) * CAST(sm AS DOUBLE) / n) / n) AS sd
         |  FROM st
         |), w AS MATERIALIZED (
         |  SELECT xm.vec_id,
         |    list(CASE WHEN stm.sd = 0 THEN 0
         |         ELSE (CAST(xm.xm AS DOUBLE) - stm.mu) / stm.sd END
         |         ORDER BY xm.pos) AS v
         |  FROM xm JOIN stm USING (pos) GROUP BY xm.vec_id
         |), f5 AS (
         |  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id
         |  FROM e a JOIN e b ON a.vec_id < 5 AND b.vec_id <> a.vec_id
         |  WHERE $cosAB IS NOT NULL AND NOT isnan($cosAB)
         |  QUALIFY row_number() OVER (PARTITION BY a.vec_id
         |    ORDER BY round($cosAB, 6) DESC, b.vec_id ASC) <= 5
         |), t5 AS (
         |  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id
         |  FROM w a JOIN w b ON a.vec_id < 5 AND b.vec_id <> a.vec_id
         |  WHERE $cosAB IS NOT NULL AND NOT isnan($cosAB)
         |  QUALIFY row_number() OVER (PARTITION BY a.vec_id
         |    ORDER BY round($cosAB, 6) DESC, b.vec_id ASC) <= 5
         |)
         |SELECT t5.query_id, CAST(count(*) AS BIGINT) AS k,
         |  CAST(sum(CASE WHEN f5.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_kept,
         |  round(CAST(sum(CASE WHEN f5.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)
         |    AS DOUBLE) / count(*), 6) AS recall_white
         |FROM t5 LEFT JOIN f5
         |  ON t5.query_id = f5.query_id AND t5.neighbor_id = f5.neighbor_id
         |GROUP BY t5.query_id""".stripMargin,
    "ann_recall" ->
      s"""$embCte, bk AS (SELECT * FROM (VALUES __ANN_BUCKETS__) AS t(vec_id, bucket)),
         |br AS (
         |  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id
         |  FROM e a JOIN e b ON a.vec_id < 5 AND b.vec_id <> a.vec_id
         |  WHERE $cosAB IS NOT NULL AND NOT isnan($cosAB)
         |  QUALIFY row_number() OVER (PARTITION BY a.vec_id
         |    ORDER BY round($cosAB, 6) DESC, b.vec_id ASC) <= 5
         |)
         |SELECT br.query_id, CAST(count(*) AS BIGINT) AS k,
         |  CAST(sum(CASE WHEN nb.bucket = qb.bucket THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_hit,
         |  round(CAST(sum(CASE WHEN nb.bucket = qb.bucket THEN 1 ELSE 0 END)
         |    AS DOUBLE) / count(*), 6) AS recall
         |FROM br
         |JOIN bk qb ON qb.vec_id = br.query_id
         |JOIN bk nb ON nb.vec_id = br.neighbor_id
         |GROUP BY br.query_id""".stripMargin,
    "obs_fanout" ->
      """WITH ev AS (
        |  SELECT epoch_ms(ts) AS t, '/ts/' || event_type AS p, props FROM events
        |)
        |SELECT 'u-exact' AS uuid,
        |       CAST(t AS VARCHAR) || ' ' || p || ' json ' || props AS message
        |FROM ev WHERE p = '/ts/purchase'
        |UNION ALL
        |SELECT 'u-wild' AS uuid,
        |       CAST(t AS VARCHAR) || ' ' || p || ' json ' || props AS message
        |FROM ev WHERE t < 1704067200000 + 1209600 * 1000""".stripMargin,
    // the streaming EWMA's full recursion: list_reduce over the ordered
    // prefix is the same left fold (x0 init; 0.8·level + 0.2·x per step —
    // IEEE addition is commutative, so operand order matches the Scala
    // fold bit-for-bit)
    "stream_ewma_replay" ->
      s"""$tsCte, f AS (
         |  SELECT series_id, t, event_id,
         |    list(value) OVER (PARTITION BY series_id ORDER BY t, event_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS l
         |  FROM ts
         |)
         |SELECT series_id, t, event_id,
         |  round(list_reduce(l, (a, b) ->
         |    a * CAST(0.8 AS DOUBLE) + b * CAST(0.2 AS DOUBLE)), 6) AS ewma
         |FROM f""".stripMargin,
    // strict-history (1 PRECEDING) integer prefix sums; z is the same
    // fixed IEEE expression as StreamingZscore.step; window sums cast
    // inside the arithmetic (DuckDB widens them to HUGEINT)
    "stream_zscore_replay" ->
      s"""$tsCte, e AS (
         |  SELECT series_id, t, event_id,
         |    CAST(round(value * 100, 0) AS BIGINT) AS c
         |  FROM ts
         |), m AS (
         |  SELECT series_id, t, event_id, c,
         |    count(*) OVER w AS n,
         |    COALESCE(sum(c) OVER w, 0) AS s,
         |    COALESCE(sum(c * c) OVER w, 0) AS q
         |  FROM e
         |  WINDOW w AS (PARTITION BY series_id ORDER BY t, event_id
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
         |), zz AS (
         |  SELECT series_id, t, event_id, c,
         |    CASE WHEN n >= 2
         |           AND CAST(n AS DOUBLE) * q - CAST(s AS DOUBLE) * s > 0
         |      THEN round((c / 100.0 - CAST(s AS DOUBLE) / (n * 100.0)) /
         |        (sqrt((CAST(n AS DOUBLE) * q - CAST(s AS DOUBLE) * s) /
         |          (CAST(n AS DOUBLE) * (n - 1))) / 100.0), 4)
         |    END AS z
         |  FROM m
         |)
         |SELECT series_id, t, event_id, c, z,
         |  COALESCE(abs(z) > 3.0, false) AS anomaly
         |FROM zz""".stripMargin,
    "stream_latedrop_replay" ->
      """WITH e AS (
        |  SELECT epoch_ms(ts) AS t, event_id,
        |    CAST(round(value * 100, 0) AS BIGINT) AS c,
        |    epoch_ms(ts) + (event_id * 2654435761) % 4294967296 % 7200000 AS ak
        |  FROM events
        |), m AS (
        |  SELECT t, c,
        |    max(t) OVER (ORDER BY ak, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS maxprev
        |  FROM e
        |)
        |SELECT t // 3600000 AS hour,
        |  CAST(sum(CASE WHEN maxprev IS NULL OR t >= maxprev - 3600000
        |    THEN 1 ELSE 0 END) AS BIGINT) AS kept,
        |  CAST(sum(CASE WHEN maxprev IS NULL OR t >= maxprev - 3600000
        |    THEN 0 ELSE 1 END) AS BIGINT) AS dropped,
        |  CAST(sum(CASE WHEN maxprev IS NULL OR t >= maxprev - 3600000
        |    THEN c ELSE 0 END) AS BIGINT) AS kept_cents
        |FROM m GROUP BY 1""".stripMargin,
    // the streaming sessionizer's transition function replayed over the
    // full history: gap-session boundaries as in user_sessions, but the
    // session sum is the IDENTICAL ordered left fold the state store
    // carries (list_reduce over the (t, event_id)-ordered values), not a
    // hash-aggregate sum — fold order is pinned on both sides
    "stream_sessionize_replay" ->
      """WITH base AS (
        |  SELECT user_id, epoch_ms(ts) AS t, value, event_id FROM events
        |), marked AS (
        |  SELECT user_id, t, value, event_id,
        |    CASE WHEN lag(t) OVER w IS NULL OR t - lag(t) OVER w > 3600000
        |         THEN 1 ELSE 0 END AS new_sess
        |  FROM base
        |  WINDOW w AS (PARTITION BY user_id ORDER BY t, event_id)
        |), sess AS (
        |  SELECT user_id, t, value, event_id,
        |    CAST(sum(new_sess) OVER (PARTITION BY user_id ORDER BY t, event_id ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
        |  FROM marked
        |)
        |SELECT user_id, min(t) AS t_start, max(t) AS t_end,
        |  count(*) AS n_events,
        |  round(list_reduce(list(value ORDER BY t, event_id), (a, b) -> a + b), 4) AS session_value
        |FROM sess GROUP BY user_id, session_id""".stripMargin,
    "stream_dedup_replay" ->
      """SELECT CAST(user_id AS VARCHAR) || '|' || event_type AS key,
        |  epoch_ms(ts) AS t, event_id
        |FROM events
        |QUALIFY row_number() OVER (PARTITION BY user_id, event_type
        |                           ORDER BY epoch_ms(ts), event_id) = 1""".stripMargin,
    "mm_meta" ->
      """SELECT doc_id,
        |  CASE WHEN source IN ('src0','src1') THEN 'png' ELSE 'wav' END AS format,
        |  CASE WHEN source IN ('src0','src1')
        |       THEN CAST(16 + n_chars % 17 AS INT) ELSE NULL END AS width,
        |  CASE WHEN source IN ('src0','src1')
        |       THEN CAST(16 + 2 * ((n_chars * 3) % 5) AS INT) ELSE NULL END AS height,
        |  CASE WHEN source IN ('src0','src1')
        |       THEN NULL ELSE CAST(16000 AS INT) END AS sample_rate,
        |  CASE WHEN source IN ('src0','src1')
        |       THEN NULL ELSE CAST(1 AS INT) END AS channels,
        |  CASE WHEN source IN ('src0','src1')
        |       THEN NULL ELSE CAST(16 AS INT) END AS bits
        |FROM documents""".stripMargin,
    "mm_gif_frames" ->
      """SELECT doc_id, CAST(unnest(range(1 + doc_id % 3)) AS INT) AS frame_idx,
        |  CAST(12 + n_chars % 9 AS INT) AS width,
        |  CAST(12 + (n_chars * 5) % 7 AS INT) AS height
        |FROM documents""".stripMargin,
    // closed-form SAD from the solid-fill generation rule: the red
    // channel moves by 37 mod 256 per frame, green by 1, blue is fixed
    "mm_scenecut" ->
      """WITH f AS (
        |  SELECT doc_id, unnest(range(1, 1 + doc_id % 3)) AS i
        |  FROM documents WHERE 1 + doc_id % 3 > 1
        |)
        |SELECT doc_id, CAST(i AS INT) AS frame_idx,
        |  CAST(abs((doc_id + 37 * i) % 256 - (doc_id + 37 * (i - 1)) % 256)
        |     + abs((doc_id * 7 + i) % 256 - (doc_id * 7 + i - 1) % 256)
        |    AS BIGINT) AS sad_per_px,
        |  (abs((doc_id + 37 * i) % 256 - (doc_id + 37 * (i - 1)) % 256)
        |     + abs((doc_id * 7 + i) % 256 - (doc_id * 7 + i - 1) % 256)) > 60
        |    AS cut
        |FROM f""".stripMargin,
    "mm_resize" ->
      """SELECT doc_id, 'png' AS format, CAST(24 AS INT) AS width,
        |  CAST(20 AS INT) AS height
        |FROM documents""".stripMargin,

    "text_tfidf" ->
      s"""$docToksCte, tk AS (
         |  SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens, unnest(toks) AS tok FROM d
         |), tf AS (
         |  SELECT doc_id, tok, n_tokens, count(*) AS c FROM tk GROUP BY doc_id, tok, n_tokens
         |), dfreq AS (
         |  SELECT tok, count(DISTINCT doc_id) AS df FROM tk GROUP BY tok
         |), n AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM documents)
         |SELECT doc_id, tok,
         |  round((CAST(c AS DOUBLE) / n_tokens) * ln(n / df), 6) AS tfidf
         |FROM tf JOIN dfreq USING (tok), n
         |QUALIFY row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, tok ASC) = 1""".stripMargin,
    // the micros scaling keeps the per-doc total an exact BIGINT sum on
    // both engines; formula text mirrors the Spark column tree node by node
    "text_bm25" ->
      s"""$docToksCte, stats AS (
         |  SELECT CAST(count(*) AS DOUBLE) AS n_docs,
         |    CAST((SELECT sum(len(toks)) FROM d) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avgdl
         |  FROM documents
         |), tk AS (
         |  SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl, unnest(toks) AS tok FROM d
         |), tf AS (
         |  SELECT doc_id, tok, dl, count(*) AS tf FROM tk
         |  WHERE tok IN ('join', 'scan', 'filter') GROUP BY doc_id, tok, dl
         |), dfq AS (SELECT tok, count(*) AS df FROM tf GROUP BY tok)
         |SELECT doc_id,
         |  CAST(sum(CAST(round(
         |    ln((n_docs - df + 0.5) / (df + 0.5) + 1.0)
         |      * (tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl))
         |      * 1000000.0, 0) AS BIGINT)) AS BIGINT) AS bm25_micros
         |FROM tf JOIN dfq USING (tok), stats
         |GROUP BY doc_id
         |ORDER BY bm25_micros DESC, doc_id ASC LIMIT 100""".stripMargin,

    // the text_bm25 list and the dense cosine top-100 (query = vec 0),
    // RRF-fused in exact integer micros; // matches Spark's div here
    // because ranks are positive
    "ann_rrf_hybrid" ->
      s"""$docToksCte, stats AS (
         |  SELECT CAST(count(*) AS DOUBLE) AS n_docs,
         |    CAST((SELECT sum(len(toks)) FROM d) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avgdl
         |  FROM documents
         |), tk AS (
         |  SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl, unnest(toks) AS tok FROM d
         |), tf AS (
         |  SELECT doc_id, tok, dl, count(*) AS tf FROM tk
         |  WHERE tok IN ('join', 'scan', 'filter') GROUP BY doc_id, tok, dl
         |), dfq AS (SELECT tok, count(*) AS df FROM tf GROUP BY tok),
         |bm AS (
         |  SELECT doc_id,
         |    CAST(sum(CAST(round(
         |      ln((n_docs - df + 0.5) / (df + 0.5) + 1.0)
         |        * (tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl))
         |        * 1000000.0, 0) AS BIGINT)) AS BIGINT) AS bm25_micros
         |  FROM tf JOIN dfq USING (tok), stats
         |  GROUP BY doc_id
         |  ORDER BY bm25_micros DESC, doc_id ASC LIMIT 100
         |), bmr AS (
         |  SELECT doc_id, row_number() OVER (
         |    ORDER BY bm25_micros DESC, doc_id ASC) AS r1
         |  FROM bm
         |), e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |cosq AS (
         |  SELECT b.vec_id AS doc_id, $cosAB AS c
         |  FROM e a JOIN e b ON a.vec_id = 0 AND b.vec_id <> 0
         |), cosr AS (
         |  SELECT doc_id, row_number() OVER (ORDER BY round(c, 6) DESC, doc_id ASC) AS r2
         |  FROM cosq WHERE c IS NOT NULL AND NOT isnan(c)
         |  QUALIFY r2 <= 100
         |)
         |SELECT COALESCE(bmr.doc_id, cosr.doc_id) AS doc_id,
         |  CAST(COALESCE(1000000 // (60 + r1), 0)
         |     + COALESCE(1000000 // (60 + r2), 0) AS BIGINT) AS rrf_micros
         |FROM bmr FULL JOIN cosr ON bmr.doc_id = cosr.doc_id
         |ORDER BY rrf_micros DESC, doc_id ASC LIMIT 50""".stripMargin,

    "text_bpe_merge" ->
      s"""$docToksCte, tk AS (SELECT unnest(toks) AS tok FROM d),
         |p AS (
         |  SELECT substr(tok, CAST(i AS INT), 2) AS pair
         |  FROM tk CROSS JOIN range(1, 512) t(i)
         |  WHERE len(tok) >= 2 AND i <= len(tok) - 1
         |)
         |SELECT pair, CAST(count(*) AS BIGINT) AS n FROM p
         |GROUP BY pair ORDER BY n DESC, pair ASC LIMIT 20""".stripMargin,
    "text_bpe_vocab" -> bpeVocabOracle(8),
    "text_bpe_compression" -> bpeCompressionOracle(8),
    // HUGEINT guard: DuckDB sums of BIGINT widen to HUGEINT — every sum
    // is cast back before the arithmetic (values bounded by the micros
    // convention: |x| <= ln(100)e6, |y| <= ln(n_tokens)e6, 100 terms)
    "text_zipf" ->
      s"""$docToksCte, tk AS (SELECT unnest(toks) AS tok FROM d),
         |f AS (SELECT tok, count(*) AS n FROM tk GROUP BY tok
         |      ORDER BY n DESC, tok ASC LIMIT 100),
         |r AS (
         |  SELECT
         |    CAST(round(ln(CAST(row_number() OVER (ORDER BY n DESC, tok ASC) AS DOUBLE)) * 1000000, 0) AS BIGINT) AS x,
         |    CAST(round(ln(CAST(n AS DOUBLE)) * 1000000, 0) AS BIGINT) AS y
         |  FROM f
         |)
         |SELECT CAST(count(*) AS BIGINT) AS k,
         |  round((CAST(count(*) AS BIGINT) * CAST(sum(x * y) AS BIGINT)
         |    - CAST(sum(x) AS BIGINT) * CAST(sum(y) AS BIGINT))
         |    / CAST(CAST(count(*) AS BIGINT) * CAST(sum(x * x) AS BIGINT)
         |    - CAST(sum(x) AS BIGINT) * CAST(sum(x) AS BIGINT) AS DOUBLE), 6) AS slope
         |FROM r""".stripMargin,
    "sample_quality" ->
      s"""$docToksCte, c AS (
         |  SELECT doc_id,
         |    round(0.4 * least(1.0, CAST(len(toks) AS BIGINT) / 20.0)
         |      + 0.3 * (1.0 - round(CAST(len(regexp_replace(text, '[A-Za-z0-9\\s]', '', 'g')) AS DOUBLE) / greatest(len(text), 1), 4))
         |      + 0.3 * least(1.0, round(CAST(len(list_filter(toks, t -> t IN ('the','a','an','and','of','to','in','is','on','for'))) AS DOUBLE) / len(toks), 4) * 5.0), 5) AS quality,
         |    (doc_id * 2654435761) % 4294967296 % 1000 AS bucket
         |  FROM d
         |)
         |SELECT doc_id, quality FROM c
         |-- trunc(): DuckDB's double->int CAST rounds, Spark's truncates
         |WHERE bucket < CAST(trunc(quality * 500.0) AS BIGINT)""".stripMargin,
    "sample_stratified" ->
      """SELECT doc_id, source FROM documents
        |WHERE (doc_id * 2654435761) % 4294967296 % 1000 <
        |  CASE WHEN source IN ('src0','src1') THEN 1000
        |       WHEN source = 'src2' THEN 500 ELSE 100 END""".stripMargin,

    "pack_greedy" ->
      """WITH RECURSIVE d AS (
        |  SELECT source AS shard, doc_id,
        |    CAST(len(string_split_regex(lower(trim(text)), '\s+')) AS BIGINT) AS n_tokens,
        |    row_number() OVER (PARTITION BY source ORDER BY doc_id) AS rn
        |  FROM documents
        |), s AS (
        |  SELECT shard, doc_id, n_tokens, rn, CAST(0 AS BIGINT) AS bin, n_tokens AS acc
        |  FROM d WHERE rn = 1
        |  UNION ALL
        |  SELECT d.shard, d.doc_id, d.n_tokens, d.rn,
        |    CASE WHEN s.acc + d.n_tokens <= 512 THEN s.bin ELSE s.bin + 1 END,
        |    CASE WHEN s.acc + d.n_tokens <= 512 THEN s.acc + d.n_tokens ELSE d.n_tokens END
        |  FROM s JOIN d ON d.shard = s.shard AND d.rn = s.rn + 1
        |)
        |SELECT shard, doc_id, n_tokens, bin FROM s""".stripMargin,
    "pipeline_filter" ->
      """WITH dd AS (
        |  SELECT doc_id, text FROM documents
        |  QUALIFY row_number() OVER (PARTITION BY text ORDER BY doc_id) = 1
        |), d AS (
        |  SELECT doc_id, text, string_split_regex(lower(trim(text)), '\s+') AS toks FROM dd
        |), c AS (
        |  SELECT doc_id,
        |    CAST(len(toks) AS BIGINT) AS n_tokens,
        |    len(list_filter(toks, t -> t IN ('the','a','of','and','to','is'))) AS en,
        |    len(list_filter(toks, t -> t IN ('el','la','los','de','que','y'))) AS es,
        |    len(list_filter(toks, t -> t IN ('der','die','und','das','ist','ein'))) AS de,
        |    round(CAST(len(list_filter(toks, t -> t IN ('the','a','an','and','of','to','in','is','on','for'))) AS DOUBLE) / len(toks), 4) AS stop_r,
        |    round(CAST(len(regexp_replace(text, '[A-Za-z0-9\s]', '', 'g')) AS DOUBLE) / greatest(len(text), 1), 4) AS punct_r
        |  FROM d
        |)
        |SELECT doc_id, n_tokens,
        |  round(0.4 * least(1.0, n_tokens / 20.0) + 0.3 * (1.0 - punct_r) + 0.3 * least(1.0, stop_r * 5.0), 5) AS quality
        |FROM c
        |WHERE NOT (en = 0 AND es = 0 AND de = 0) AND en >= es AND en >= de
        |  AND round(0.4 * least(1.0, n_tokens / 20.0) + 0.3 * (1.0 - punct_r) + 0.3 * least(1.0, stop_r * 5.0), 5) >= 0.5
        |  AND n_tokens BETWEEN 20 AND 500""".stripMargin,
    // pipeline_filter's curation chain + the seeded mixture cap + the
    // pack_greedy recursive next-fit replay, composed end to end
    "pipeline_recipe" ->
      """WITH RECURSIVE dd AS (
        |  SELECT doc_id, text, source FROM documents
        |  QUALIFY row_number() OVER (PARTITION BY text ORDER BY doc_id) = 1
        |), dt AS (
        |  SELECT doc_id, source, string_split_regex(lower(trim(text)), '\s+') AS toks, text FROM dd
        |), c AS (
        |  SELECT doc_id, source,
        |    CAST(len(toks) AS BIGINT) AS n_tokens,
        |    len(list_filter(toks, t -> t IN ('the','a','of','and','to','is'))) AS en,
        |    len(list_filter(toks, t -> t IN ('el','la','los','de','que','y'))) AS es,
        |    len(list_filter(toks, t -> t IN ('der','die','und','das','ist','ein'))) AS de,
        |    round(CAST(len(list_filter(toks, t -> t IN ('the','a','an','and','of','to','in','is','on','for'))) AS DOUBLE) / len(toks), 4) AS stop_r,
        |    round(CAST(len(regexp_replace(text, '[A-Za-z0-9\s]', '', 'g')) AS DOUBLE) / greatest(len(text), 1), 4) AS punct_r
        |  FROM dt
        |), kept AS (
        |  SELECT doc_id, source, n_tokens FROM c
        |  WHERE NOT (en = 0 AND es = 0 AND de = 0) AND en >= es AND en >= de
        |    AND round(0.4 * least(1.0, n_tokens / 20.0) + 0.3 * (1.0 - punct_r) + 0.3 * least(1.0, stop_r * 5.0), 5) >= 0.5
        |    AND n_tokens BETWEEN 20 AND 500
        |), mixq AS (
        |  SELECT doc_id, source, n_tokens,
        |    row_number() OVER (PARTITION BY source
        |      ORDER BY substring(md5('mix:' || CAST(doc_id AS VARCHAR)), 1, 2), doc_id) AS rk
        |  FROM kept
        |), d AS (
        |  SELECT source AS shard, doc_id, n_tokens,
        |    row_number() OVER (PARTITION BY source ORDER BY doc_id) AS rn
        |  FROM mixq WHERE rk <= 15
        |), s AS (
        |  SELECT shard, doc_id, n_tokens, rn, CAST(0 AS BIGINT) AS bin, n_tokens AS acc
        |  FROM d WHERE rn = 1
        |  UNION ALL
        |  SELECT d.shard, d.doc_id, d.n_tokens, d.rn,
        |    CASE WHEN s.acc + d.n_tokens <= 512 THEN s.bin ELSE s.bin + 1 END,
        |    CASE WHEN s.acc + d.n_tokens <= 512 THEN s.acc + d.n_tokens ELSE d.n_tokens END
        |  FROM s JOIN d ON d.shard = s.shard AND d.rn = s.rn + 1
        |)
        |SELECT shard, doc_id, n_tokens, bin FROM s""".stripMargin,
    "pii_redact" -> {
      import graft.functions.Pii
      s"""WITH dirty AS (
         |  SELECT doc_id,
         |    concat_ws(' ', substring(text, 1, 40),
         |      'user' || CAST(doc_id AS VARCHAR) || '@mail.example.com',
         |      '192.168.' || CAST(doc_id % 256 AS VARCHAR) || '.' || CAST((doc_id * 7) % 256 AS VARCHAR),
         |      '555-' || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0') || '-' ||
         |        lpad(CAST((doc_id * 3) % 10000 AS VARCHAR), 4, '0')) AS dirty
         |  FROM documents
         |)
         |SELECT doc_id,
         |  regexp_replace(regexp_replace(regexp_replace(dirty,
         |    '${Pii.emailRe}', '<EMAIL>', 'g'), '${Pii.ipv4Re}', '<IP>', 'g'),
         |    '${Pii.phoneRe}', '<PHONE>', 'g') AS clean,
         |  CAST(len(regexp_extract_all(dirty, '${Pii.emailRe}')) AS BIGINT) AS n_email,
         |  CAST(len(regexp_extract_all(dirty, '${Pii.ipv4Re}')) AS BIGINT) AS n_ip,
         |  CAST(len(regexp_extract_all(dirty, '${Pii.phoneRe}')) AS BIGINT) AS n_phone
         |FROM dirty""".stripMargin
    },
    "text_contamination" ->
      s"""$docToksCte, g AS (
         |  SELECT doc_id, list_distinct(list_transform(range(1, len(toks) - 3), i ->
         |    toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3] || ' ' || toks[i+4])) AS grams
         |  FROM d WHERE len(toks) >= 5
         |), b AS (
         |  SELECT DISTINCT unnest(grams) AS g FROM g WHERE doc_id % 50 = 0
         |), e AS (
         |  SELECT doc_id, CAST(len(grams) AS BIGINT) AS n_grams, unnest(grams) AS g
         |  FROM g WHERE doc_id % 50 <> 0
         |)
         |SELECT e.doc_id, max(e.n_grams) AS n_grams,
         |  CAST(count(b.g) AS BIGINT) AS n_hit,
         |  round(CAST(count(b.g) AS DOUBLE) / max(e.n_grams), 6) AS contamination
         |FROM e LEFT JOIN b ON e.g = b.g
         |GROUP BY e.doc_id""".stripMargin,
    "text_logprob" ->
      s"""$docToksCte, tk AS (
         |  SELECT doc_id, unnest(toks) AS tok FROM d
         |), v AS (
         |  SELECT tok, count(*) AS c FROM tk GROUP BY tok
         |), tot AS (SELECT CAST(sum(c) AS DOUBLE) AS total FROM v)
         |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
         |  round(avg(ln(CAST(c AS DOUBLE) / total)), 6) AS avg_logprob
         |FROM tk JOIN v USING (tok), tot
         |GROUP BY doc_id""".stripMargin,
    "ts_hourly_profile" ->
      s"""$tsCte SELECT series_id, t // 3600000 % 24 AS hour_of_day,
         |  round(round(sum(value), 2) / count(*), 6) AS mean_v, count(*) AS n
         |FROM ts GROUP BY series_id, t // 3600000 % 24""".stripMargin,
    "text_logprob2" ->
      s"""$docToksCte, bg AS (
         |  SELECT doc_id,
         |    unnest(list_transform(range(1, len(toks)),
         |      i -> {'w1': toks[i], 'w2': toks[i+1]})) AS p
         |  FROM d WHERE len(toks) >= 2
         |), pairs AS (
         |  SELECT doc_id, p.w1 AS w1, p.w2 AS w2 FROM bg
         |), b2 AS (
         |  SELECT w1, w2, count(*) AS c2 FROM pairs GROUP BY w1, w2
         |), b1 AS (
         |  SELECT w1 AS h, count(*) AS c1 FROM pairs GROUP BY w1
         |)
         |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
         |  round(avg(ln(CAST(c2 AS DOUBLE) / c1)), 6) AS avg_logprob2
         |FROM pairs JOIN b2 USING (w1, w2) JOIN b1 ON w1 = h
         |GROUP BY doc_id""".stripMargin,
    "sample_dsir" ->
      s"""$docToksCte, tk AS (
         |  SELECT dd.doc_id, unnest(dd.toks) AS tok, (doc.lang = 'en') AS is_t
         |  FROM d dd JOIN documents doc ON dd.doc_id = doc.doc_id
         |), raw AS (
         |  SELECT tok, count(*) AS cr,
         |    sum(CASE WHEN is_t THEN 1 ELSE 0 END) AS ct
         |  FROM tk GROUP BY tok
         |), norms AS (
         |  SELECT sum(cr) AS nr, sum(ct) AS nt, count(*) AS v FROM raw
         |)
         |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
         |  round(avg(ln((ct + 1.0) / (nt + v)) - ln((cr + 1.0) / (nr + v))), 6)
         |    AS dsir_weight
         |FROM tk JOIN raw USING (tok), norms
         |GROUP BY doc_id""".stripMargin,
    "text_classifier" ->
      s"""$docToksCte, tk AS (
         |  SELECT doc_id, unnest(toks) AS tok FROM d
         |), vocab AS (
         |  SELECT tok, count(*) AS c FROM tk GROUP BY tok
         |  ORDER BY c DESC, tok ASC LIMIT 256
         |), wt AS (
         |  SELECT tok,
         |    (row_number() OVER (ORDER BY c DESC, tok ASC) * 2654435761) % 2001
         |      - 1000 AS wt
         |  FROM vocab
         |), sc AS (
         |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_hits,
         |    CAST(sum(wt) AS BIGINT) AS score
         |  FROM tk JOIN wt USING (tok) GROUP BY doc_id
         |)
         |SELECT d.doc_id, coalesce(sc.n_hits, 0) AS n_hits,
         |  coalesce(sc.score, 0) AS score, coalesce(sc.score, 0) > 0 AS label
         |FROM d LEFT JOIN sc ON d.doc_id = sc.doc_id""".stripMargin,
    "text_novelty" ->
      s"""$docToksCte, tk AS (
         |  SELECT doc_id, unnest(toks) AS tok FROM d
         |), fi AS (
         |  SELECT tok, min(doc_id) AS first_doc FROM tk GROUP BY tok
         |)
         |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
         |  CAST(sum(CASE WHEN first_doc = doc_id THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_novel,
         |  round(CAST(sum(CASE WHEN first_doc = doc_id THEN 1 ELSE 0 END)
         |    AS DOUBLE) / count(*), 6) AS novelty
         |FROM tk JOIN fi USING (tok)
         |GROUP BY doc_id""".stripMargin,
    "sample_domain_mix" ->
      """WITH s AS (
        |  SELECT source, count(*) AS n_docs,
        |    CAST(sum(len(string_split_regex(lower(trim(text)), '\s+'))) AS BIGINT)
        |      AS n_tokens
        |  FROM documents GROUP BY source
        |)
        |SELECT source, n_docs, n_tokens,
        |  round(sqrt(n_tokens) / sum(sqrt(n_tokens)) OVER (), 6) AS mix_weight
        |FROM s""".stripMargin,
    "dedup_incremental" ->
      """WITH fp AS (
        |  SELECT doc_id, md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp
        |  FROM documents
        |)
        |SELECT doc_id, fp FROM fp
        |WHERE doc_id >= 250 AND fp NOT IN (SELECT fp FROM fp WHERE doc_id < 250)""".stripMargin,
    "doc_chunks" ->
      s"""$docToksCte, c AS (
         |  SELECT doc_id, toks,
         |    unnest(range(0, CAST(ceil(greatest(len(toks) - 32, 0) / 24.0) AS BIGINT) + 1)) AS chunk_idx
         |  FROM d
         |)
         |SELECT doc_id, chunk_idx,
         |  CAST(len(list_slice(toks, chunk_idx * 24 + 1, chunk_idx * 24 + 32)) AS BIGINT) AS n_tokens,
         |  toks[CAST(chunk_idx * 24 + 1 AS BIGINT)] AS first_tok
         |FROM c""".stripMargin,
    // NOTE: no list_reduce here — DuckDB 1.0's struct-accumulator lambda
    // evaluates repeated/ordered field references inconsistently between
    // steps (verified empirically); a recursive CTE over window positions
    // has plain SQL semantics and replays the identical operation order.
    "ts_holt" ->
      s"""${tsCte.replaceFirst("WITH ", "WITH RECURSIVE ")}, f AS (
         |  SELECT series_id, t, event_id,
         |    list(value) OVER (PARTITION BY series_id ORDER BY t, event_id
         |      ROWS BETWEEN 19 PRECEDING AND CURRENT ROW) AS l
         |  FROM ts
         |), s AS (
         |  SELECT series_id, t, event_id, l, 2 AS j,
         |    CAST(l[1] AS DOUBLE) AS lv, CAST(0.0 AS DOUBLE) AS b
         |  FROM f
         |  UNION ALL
         |  SELECT series_id, t, event_id, l, j + 1,
         |    0.5 * l[j] + 0.5 * (lv + b),
         |    0.3 * (0.5 * l[j] + 0.5 * (lv + b) - lv) + 0.7 * b
         |  FROM s WHERE j <= len(l)
         |)
         |SELECT series_id, t, event_id,
         |  round(lv, 6) AS level, round(b, 6) AS trend
         |FROM s WHERE j = len(l) + 1""".stripMargin,
    "ts_ewma" ->
      s"""$tsCte, f AS (
         |  SELECT series_id, t, event_id,
         |    list(value) OVER (PARTITION BY series_id ORDER BY t, event_id
         |      ROWS BETWEEN 19 PRECEDING AND CURRENT ROW) AS l
         |  FROM ts
         |)
         |SELECT series_id, t, event_id,
         |  round(list_reduce(l, (a, b) ->
         |    a * CAST(0.8 AS DOUBLE) + b * CAST(0.2 AS DOUBLE)), 6) AS ewma
         |FROM f""".stripMargin,
    // per-step decay weight rounded to 6dp on BOTH sides: the engines'
    // libm exp may differ in the last ulp, the rounding collapses it
    "ts_ewma_irregular" ->
      s"""${tsCte.replaceFirst("WITH ", "WITH RECURSIVE ")}, f AS (
         |  SELECT series_id, t, event_id,
         |    list(t) OVER (PARTITION BY series_id ORDER BY t, event_id
         |      ROWS BETWEEN 19 PRECEDING AND CURRENT ROW) AS lt,
         |    list(value) OVER (PARTITION BY series_id ORDER BY t, event_id
         |      ROWS BETWEEN 19 PRECEDING AND CURRENT ROW) AS lv
         |  FROM ts
         |), rec AS (
         |  SELECT series_id, t, event_id, lt, lv, 2 AS j,
         |    CAST(lv[1] AS DOUBLE) AS l, lt[1] AS pt
         |  FROM f
         |  UNION ALL
         |  SELECT series_id, t, event_id, lt, lv, j + 1,
         |    round(exp(CAST(pt - lt[j] AS DOUBLE) / 3600000.0), 6) * l
         |      + (1.0 - round(exp(CAST(pt - lt[j] AS DOUBLE) / 3600000.0), 6))
         |        * lv[j],
         |    lt[j]
         |  FROM rec WHERE j <= len(lv)
         |)
         |SELECT series_id, t, event_id, round(l, 6) AS ewma_decay
         |FROM rec WHERE j = len(lv) + 1""".stripMargin,
    // cos/sin factors rounded 8dp (libm parity), projections summed in
    // exact per-term micros so sum order cannot matter, power derived
    // from those integers in one fixed IEEE expression
    "ts_periodogram" ->
      s"""$tsCte, b AS (
         |  SELECT series_id, t // 3600000 AS bucket,
         |    sum(CAST(round(value * 100, 0) AS BIGINT)) AS cents,
         |    count(*) AS cnt
         |  FROM ts GROUP BY 1, 2
         |), h AS (
         |  SELECT series_id, bucket, CAST(cents AS DOUBLE) / (cnt * 100.0) AS v
         |  FROM b
         |), tm AS (
         |  SELECT series_id, p.period, v,
         |    round(cos(2 * pi() * (bucket % p.period) / p.period), 8) AS cs,
         |    round(sin(2 * pi() * (bucket % p.period) / p.period), 8) AS sn
         |  FROM h, (SELECT unnest([6, 12, 24, 168]) AS period) p
         |), pr AS (
         |  SELECT series_id, period,
         |    CAST(sum(CAST(round(v * cs * 1000000, 0) AS BIGINT)) AS BIGINT) AS vc,
         |    CAST(sum(CAST(round(v * sn * 1000000, 0) AS BIGINT)) AS BIGINT) AS vs
         |  FROM tm GROUP BY 1, 2
         |), pw AS (
         |  SELECT series_id, period,
         |    round((CAST(vc AS DOUBLE) * vc + CAST(vs AS DOUBLE) * vs) / 1e12, 4)
         |      AS power
         |  FROM pr
         |)
         |SELECT series_id, min(period) AS dominant_period, max(power) AS power
         |FROM (SELECT * FROM pw
         |      QUALIFY power = max(power) OVER (PARTITION BY series_id))
         |GROUP BY series_id""".stripMargin,
    "events_props_agg" ->
      """SELECT event_type, count(*) AS n,
        |  CAST(sum(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
        |  round(avg(CAST(json_extract(props, '$.k') AS BIGINT)), 4) AS avg_k
        |FROM events GROUP BY event_type""".stripMargin,
    "user_daily_active" ->
      """SELECT epoch_ms(ts) // 86400000 AS day, count(DISTINCT user_id) AS n_active
        |FROM events GROUP BY 1""".stripMargin,
    // the t expression mirrors the Spark column text: m = S/(n*100.0),
    // v = (Q/10000.0 - n*m*m)/(n-1), t = (m1-m2)/sqrt(v1/n1 + v2/n2) —
    // identical op order keeps the IEEE doubles bit-equal before round
    "events_ab_ttest" ->
      """WITH e AS (
        |  SELECT epoch_ms(ts) // 86400000 AS day, event_type,
        |    CAST(round(value * 100, 0) AS BIGINT) AS c
        |  FROM events
        |), p AS (
        |  SELECT day, CAST(count(*) AS BIGINT) AS n1, CAST(sum(c) AS BIGINT) AS s1,
        |    CAST(sum(c * c) AS BIGINT) AS q1
        |  FROM e WHERE event_type = 'purchase' GROUP BY day
        |), w AS (
        |  SELECT day, CAST(count(*) AS BIGINT) AS n2, CAST(sum(c) AS BIGINT) AS s2,
        |    CAST(sum(c * c) AS BIGINT) AS q2
        |  FROM e WHERE event_type = 'view' GROUP BY day
        |)
        |SELECT day, n1, s1, q1, n2, s2, q2,
        |  round((CAST(s1 AS DOUBLE) / (n1 * 100.0) - CAST(s2 AS DOUBLE) / (n2 * 100.0)) /
        |    sqrt(((CAST(q1 AS DOUBLE) / 10000.0 -
        |            n1 * (CAST(s1 AS DOUBLE) / (n1 * 100.0)) * (CAST(s1 AS DOUBLE) / (n1 * 100.0)))
        |           / (n1 - 1)) / n1 +
        |         ((CAST(q2 AS DOUBLE) / 10000.0 -
        |            n2 * (CAST(s2 AS DOUBLE) / (n2 * 100.0)) * (CAST(s2 AS DOUBLE) / (n2 * 100.0)))
        |           / (n2 - 1)) / n2), 6) AS t_stat
        |FROM p JOIN w USING (day) WHERE n1 > 1 AND n2 > 1""".stripMargin,
    "big_spenders_semi" ->
      """SELECT c_custkey, c_name, round(c_acctbal, 4) AS acctbal_r
        |FROM customer c
        |WHERE EXISTS (SELECT 1 FROM orders o
        |  WHERE o.o_custkey = c.c_custkey AND o.o_totalprice >= 450000.0)""".stripMargin,
    "ts_cumsum" ->
      s"""$tsCte SELECT series_id, t, event_id,
         |  round(sum(value) OVER (PARTITION BY series_id ORDER BY t, event_id
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 4) AS cum_v
         |FROM ts""".stripMargin,
    "events_pivot" ->
      """SELECT epoch_ms(ts) // 86400000 AS day,
        |  CAST(count(*) FILTER (event_type = 'view') AS BIGINT) AS view,
        |  CAST(count(*) FILTER (event_type = 'click') AS BIGINT) AS click,
        |  CAST(count(*) FILTER (event_type = 'purchase') AS BIGINT) AS purchase,
        |  CAST(count(*) FILTER (event_type = 'error') AS BIGINT) AS error,
        |  CAST(count(*) FILTER (event_type = 'signup') AS BIGINT) AS signup
        |FROM events GROUP BY 1""".stripMargin,
    "ts_rolling_median" ->
      s"""$tsCte SELECT series_id, t, event_id,
         |  round(median(value) OVER (PARTITION BY series_id ORDER BY t, event_id
         |    ROWS BETWEEN 8 PRECEDING AND CURRENT ROW), 4) AS med9
         |FROM ts""".stripMargin,
    // the DIRECT daily aggregate — equality with the cascade's
    // hourly->daily merge proves the rollup algebra
    "ts_rollup_cascade" ->
      s"""$tsCte, c AS (
         |  SELECT series_id, t // 86400000 AS day,
         |    CAST(round(value * 100, 0) AS BIGINT) AS cents
         |  FROM ts
         |)
         |SELECT series_id, day, CAST(count(*) AS BIGINT) AS n,
         |  CAST(sum(cents) AS BIGINT) AS sum_cents,
         |  min(cents) AS min_cents, max(cents) AS max_cents
         |FROM c GROUP BY series_id, day""".stripMargin,
    "user_sliding_dau" ->
      """WITH ud AS (
        |  SELECT DISTINCT user_id, epoch_ms(ts) // 86400000 AS day FROM events
        |), w AS (
        |  SELECT user_id, day + s.i AS win_end
        |  FROM ud, (VALUES (0), (1), (2)) s(i)
        |)
        |SELECT win_end, count(DISTINCT user_id) AS active_3d
        |FROM w GROUP BY win_end""".stripMargin,
    "user_stickiness" ->
      """WITH ud AS (
        |  SELECT DISTINCT user_id, epoch_ms(ts) // 86400000 AS day FROM events
        |), dau AS (
        |  SELECT day, CAST(count(DISTINCT user_id) AS BIGINT) AS dau
        |  FROM ud GROUP BY day
        |), wau AS (
        |  SELECT we AS day, CAST(count(DISTINCT user_id) AS BIGINT) AS wau
        |  FROM (SELECT user_id, unnest(range(day, day + 7)) AS we FROM ud)
        |  GROUP BY we
        |)
        |SELECT d.day, d.dau, w.wau,
        |  CAST(d.dau * 1000000 // w.wau AS BIGINT) AS stickiness_ppm
        |FROM dau d JOIN wau w ON d.day = w.day""".stripMargin,
    "ts_heatmap" ->
      s"""$tsCte, c AS (
         |  SELECT series_id, t // 3600000 % 24 AS hod,
         |    CAST(round(value * 100, 0) AS BIGINT) AS cents
         |  FROM ts
         |)
         |SELECT series_id, hod, cents // 5000 AS band,
         |  CAST(count(*) AS BIGINT) AS n, CAST(sum(cents) AS BIGINT) AS sum_cents
         |FROM c GROUP BY series_id, hod, cents // 5000""".stripMargin,
    "ts_sax" ->
      s"""$tsCte, per AS (
         |  SELECT series_id, CAST(count(*) AS BIGINT) AS n,
         |    CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT) AS sct,
         |    CAST(sum(CAST(round(value * 100, 0) AS BIGINT) *
         |             CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT) AS qct
         |  FROM ts GROUP BY series_id
         |), paa AS (
         |  SELECT series_id, t // 3600000 AS bucket,
         |    CAST(count(*) AS BIGINT) AS nb,
         |    CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT) AS sb_cents
         |  FROM ts GROUP BY series_id, t // 3600000
         |), z AS (
         |  SELECT paa.series_id, bucket, nb, sb_cents,
         |    (CAST(sb_cents AS DOUBLE) / (nb * 100.0) - CAST(sct AS DOUBLE) / (n * 100.0)) /
         |    sqrt((CAST(qct AS DOUBLE) / 10000.0 -
         |          n * (CAST(sct AS DOUBLE) / (n * 100.0)) * (CAST(sct AS DOUBLE) / (n * 100.0))) / n)
         |      AS zv
         |  FROM paa JOIN per ON paa.series_id = per.series_id
         |)
         |SELECT series_id, bucket, nb, sb_cents, round(zv, 6) AS z_r,
         |  CASE WHEN zv < -0.6745 THEN 'a' WHEN zv < 0.0 THEN 'b'
         |       WHEN zv < 0.6745 THEN 'c' ELSE 'd' END AS symbol
         |FROM z""".stripMargin,
    "stream_rate_replay" ->
      s"""$tsCte, c AS (
         |  SELECT series_id, t, event_id,
         |    sum(CAST(round(value * 100, 0) AS BIGINT)) OVER (
         |      PARTITION BY series_id ORDER BY t, event_id
         |      ROWS UNBOUNDED PRECEDING) % 1000000 AS ctr
         |  FROM ts
         |)
         |SELECT series_id, t, event_id, CAST(ctr AS BIGINT) AS ctr,
         |  CAST(CASE WHEN lag(ctr) OVER w IS NULL THEN 0
         |       WHEN ctr >= lag(ctr) OVER w THEN ctr - lag(ctr) OVER w
         |       ELSE ctr END AS BIGINT) AS d
         |FROM c WINDOW w AS (PARTITION BY series_id ORDER BY t, event_id)""".stripMargin,
    "ts_rate" ->
      s"""$tsCte, c AS (
         |  SELECT series_id, t, event_id,
         |    sum(CAST(round(value * 100, 0) AS BIGINT)) OVER (
         |      PARTITION BY series_id ORDER BY t, event_id
         |      ROWS UNBOUNDED PRECEDING) % 1000000 AS ctr
         |  FROM ts
         |), l AS (
         |  SELECT series_id, t, ctr,
         |    lag(ctr) OVER (PARTITION BY series_id ORDER BY t, event_id) AS prev
         |  FROM c
         |), inc AS (
         |  SELECT series_id, t // 3600000 AS hour,
         |    CASE WHEN prev IS NULL THEN 0
         |         WHEN ctr >= prev THEN ctr - prev
         |         ELSE ctr END AS d
         |  FROM l
         |)
         |SELECT series_id, hour, CAST(sum(d) AS BIGINT) AS inc_cents,
         |  round(CAST(sum(d) AS DOUBLE) / 360000.0, 6) AS rate
         |FROM inc GROUP BY series_id, hour""".stripMargin,
    "ts_mad" ->
      s"""$tsCte, m1 AS (
         |  SELECT series_id AS s1, median(value) AS med FROM ts GROUP BY series_id
         |), dev AS (
         |  SELECT series_id, t, event_id, med, abs(value - med) AS dev
         |  FROM ts JOIN m1 ON series_id = s1
         |), m2 AS (
         |  SELECT series_id AS s2, median(dev) AS mad FROM dev GROUP BY series_id
         |)
         |SELECT series_id, t, event_id, round(dev, 4) AS dev_r,
         |  dev > mad * 3.0 AS outlier
         |FROM dev JOIN m2 ON series_id = s2""".stripMargin,
    "ts_corr" ->
      s"""$tsCte, b AS (
         |  SELECT series_id, t // 3600000 AS bucket, avg(value) AS v
         |  FROM ts GROUP BY series_id, t // 3600000
         |)
         |SELECT a.series_id AS sa, b.series_id AS sb,
         |  round(corr(a.v, b.v), 4) AS r, count(*) AS n_buckets
         |FROM b a JOIN b b ON a.bucket = b.bucket AND a.series_id < b.series_id
         |GROUP BY a.series_id, b.series_id""".stripMargin,
    "ts_diff" ->
      s"""$tsCte SELECT series_id, t, event_id,
         |  round(value - lag(value, 1) OVER w, 4) AS dv,
         |  t - lag(t, 1) OVER w AS dt_ms
         |FROM ts
         |WINDOW w AS (PARTITION BY series_id ORDER BY t, event_id)""".stripMargin,
    "user_transitions" ->
      """WITH e AS (
        |  SELECT user_id, event_type AS to_type,
        |    lag(event_type, 1) OVER (PARTITION BY user_id ORDER BY epoch_ms(ts), event_id) AS from_type
        |  FROM events
        |)
        |SELECT from_type, to_type, count(*) AS n
        |FROM e WHERE from_type IS NOT NULL
        |GROUP BY from_type, to_type""".stripMargin,
    "events_markov_stationary" ->
      """WITH lagd AS (
        |  SELECT user_id, event_type AS to_type,
        |    lag(event_type, 1) OVER (PARTITION BY user_id
        |      ORDER BY epoch_ms(ts), event_id) AS from_type
        |  FROM events
        |), tr AS (
        |  SELECT from_type, to_type, CAST(count(*) AS BIGINT) AS c
        |  FROM lagd WHERE from_type IS NOT NULL GROUP BY 1, 2
        |), rs AS (
        |  SELECT from_type, CAST(sum(c) AS BIGINT) AS rsum FROM tr GROUP BY 1
        |), m AS (
        |  SELECT tr.from_type, tr.to_type, tr.c, rs.rsum
        |  FROM tr JOIN rs USING (from_type)
        |), st AS (
        |  SELECT DISTINCT state FROM (
        |    SELECT from_type AS state FROM tr
        |    UNION ALL SELECT to_type FROM tr)
        |), v0 AS (SELECT state, CAST(200000 AS BIGINT) AS v FROM st),
        |v1 AS (
        |  SELECT m.to_type AS state, CAST(sum(v0.v * m.c // m.rsum) AS BIGINT) AS v
        |  FROM m JOIN v0 ON v0.state = m.from_type GROUP BY 1
        |), v2 AS (
        |  SELECT m.to_type AS state, CAST(sum(v1.v * m.c // m.rsum) AS BIGINT) AS v
        |  FROM m JOIN v1 ON v1.state = m.from_type GROUP BY 1
        |), v3 AS (
        |  SELECT m.to_type AS state, CAST(sum(v2.v * m.c // m.rsum) AS BIGINT) AS v
        |  FROM m JOIN v2 ON v2.state = m.from_type GROUP BY 1
        |)
        |SELECT state, v AS pi_micros FROM v3""".stripMargin,
    "events_pattern_negation" ->
      """WITH e AS (
        |  SELECT user_id, event_id, event_type, epoch_ms(ts) AS t FROM events
        |), su AS (
        |  SELECT user_id, event_id AS s_id, t AS ts0 FROM e
        |  WHERE event_type = 'signup'
        |), pu AS (
        |  SELECT user_id, event_id AS p_id, t AS tp FROM e
        |  WHERE event_type = 'purchase'
        |), fm AS (
        |  SELECT su.user_id, su.s_id, su.ts0, pu.p_id, pu.tp,
        |    row_number() OVER (PARTITION BY su.user_id, su.s_id
        |      ORDER BY pu.tp, pu.p_id) AS rn
        |  FROM su JOIN pu ON su.user_id = pu.user_id
        |    AND pu.tp > su.ts0 AND pu.tp <= su.ts0 + 3600000
        |), f AS (SELECT user_id, s_id, ts0, p_id, tp FROM fm WHERE rn = 1)
        |SELECT user_id, s_id, ts0, p_id, tp, tp - ts0 AS latency_ms
        |FROM f WHERE NOT EXISTS (
        |  SELECT 1 FROM e er WHERE er.event_type = 'error'
        |    AND er.user_id = f.user_id AND er.t > f.ts0 AND er.t < f.tp)""".stripMargin,
    "graph_pagerank" ->
      """WITH e0 AS (
        |  SELECT user_id, event_type AS dst,
        |    lag(event_type, 1) OVER (PARTITION BY user_id ORDER BY epoch_ms(ts), event_id) AS src
        |  FROM events
        |), edges AS (
        |  SELECT src, dst, CAST(count(*) AS BIGINT) AS c
        |  FROM e0 WHERE src IS NOT NULL GROUP BY src, dst
        |), w AS (SELECT src, sum(c) AS wout FROM edges GROUP BY src),
        |nodes AS (SELECT DISTINCT event_type AS node FROM events),
        |r0 AS (SELECT node, CAST(200000 AS BIGINT) AS r FROM nodes),
        |s1 AS (
        |  SELECT e.dst AS node, sum((e.c * r.r) // w.wout) AS sc
        |  FROM edges e JOIN w ON e.src = w.src JOIN r0 r ON e.src = r.node
        |  GROUP BY e.dst
        |), r1 AS (
        |  SELECT n.node, 30000 + (850000 * coalesce(s1.sc, 0)) // 1000000 AS r
        |  FROM nodes n LEFT JOIN s1 ON n.node = s1.node
        |), s2 AS (
        |  SELECT e.dst AS node, sum((e.c * r.r) // w.wout) AS sc
        |  FROM edges e JOIN w ON e.src = w.src JOIN r1 r ON e.src = r.node
        |  GROUP BY e.dst
        |), r2 AS (
        |  SELECT n.node, 30000 + (850000 * coalesce(s2.sc, 0)) // 1000000 AS r
        |  FROM nodes n LEFT JOIN s2 ON n.node = s2.node
        |), s3 AS (
        |  SELECT e.dst AS node, sum((e.c * r.r) // w.wout) AS sc
        |  FROM edges e JOIN w ON e.src = w.src JOIN r2 r ON e.src = r.node
        |  GROUP BY e.dst
        |), r3 AS (
        |  SELECT n.node, 30000 + (850000 * coalesce(s3.sc, 0)) // 1000000 AS r
        |  FROM nodes n LEFT JOIN s3 ON n.node = s3.node
        |)
        |SELECT node, CAST(r AS BIGINT) AS pagerank_micros FROM r3""".stripMargin,
    "ts_crossings" ->
      s"""$tsCte, l AS (
         |  SELECT series_id, t, event_id, value,
         |    lag(value) OVER (PARTITION BY series_id ORDER BY t, event_id) AS prev_value
         |  FROM ts
         |)
         |SELECT series_id, t, event_id, prev_value, value
         |FROM l WHERE prev_value < 50 AND value >= 50""".stripMargin,
    "agg_count_min" ->
      """WITH h AS (SELECT * FROM (VALUES (0, 2654435761, 1), (1, 2246822519, 7),
        |  (2, 3266489917, 13), (3, 668265263, 31)) AS t(i, a, bq)),
        |cnt AS (
        |  SELECT i, ((user_id * a + bq) % 2147483647) % 64 AS b, count(*) AS n
        |  FROM events, h GROUP BY 1, 2
        |), pu AS (SELECT user_id, count(*) AS exact_n FROM events GROUP BY user_id),
        |eh AS (
        |  SELECT pu.user_id, pu.exact_n, h.i,
        |    ((pu.user_id * h.a + h.bq) % 2147483647) % 64 AS b
        |  FROM pu, h
        |)
        |SELECT user_id, exact_n, min(n) AS est_n
        |FROM eh JOIN cnt USING (i, b)
        |GROUP BY user_id, exact_n""".stripMargin,
    "agg_kmv_overlap" ->
      """WITH el AS (
        |  SELECT DISTINCT event_type,
        |    user_id * 100000 + epoch_ms(ts) // 86400000 AS m
        |  FROM events
        |), hh AS (
        |  SELECT event_type, (m * 2654435761 + 40503) % 2147483647 AS h FROM el
        |), sk AS (
        |  SELECT event_type, h FROM (
        |    SELECT event_type, h,
        |      row_number() OVER (PARTITION BY event_type ORDER BY h) AS rn
        |    FROM hh
        |  ) WHERE rn <= 64
        |), tp AS (SELECT DISTINCT event_type FROM el),
        |pairs AS (
        |  SELECT a.event_type AS ga, b.event_type AS gb
        |  FROM tp a JOIN tp b ON a.event_type < b.event_type
        |), uni AS (
        |  SELECT p.ga, p.gb, s.h,
        |    max(CASE WHEN s.event_type = p.ga THEN 1 ELSE 0 END) AS in_a,
        |    max(CASE WHEN s.event_type = p.gb THEN 1 ELSE 0 END) AS in_b
        |  FROM pairs p JOIN sk s ON s.event_type IN (p.ga, p.gb)
        |  GROUP BY p.ga, p.gb, s.h
        |), samp AS (
        |  SELECT ga, gb, in_a, in_b,
        |    row_number() OVER (PARTITION BY ga, gb ORDER BY h) AS rn
        |  FROM uni
        |), est AS (
        |  SELECT ga, gb, CAST(count(*) AS BIGINT) AS k_eff,
        |    CAST(sum(in_a * in_b) AS BIGINT) AS kmv_both,
        |    round(CAST(sum(in_a * in_b) AS DOUBLE) / count(*), 6) AS kmv_jaccard
        |  FROM samp WHERE rn <= 64 GROUP BY ga, gb
        |), sizes AS (
        |  SELECT event_type, CAST(count(*) AS BIGINT) AS n FROM el GROUP BY event_type
        |), inter AS (
        |  SELECT a.event_type AS ga, b.event_type AS gb,
        |    CAST(count(*) AS BIGINT) AS exact_inter
        |  FROM el a JOIN el b ON a.m = b.m AND a.event_type < b.event_type
        |  GROUP BY 1, 2
        |)
        |SELECT i.ga, i.gb, sa.n AS n_a, sb.n AS n_b, i.exact_inter,
        |  round(CAST(i.exact_inter AS DOUBLE) / (sa.n + sb.n - i.exact_inter), 6)
        |    AS exact_jaccard,
        |  e.k_eff, e.kmv_both, e.kmv_jaccard
        |FROM inter i
        |JOIN sizes sa ON i.ga = sa.event_type
        |JOIN sizes sb ON i.gb = sb.event_type
        |JOIN est e ON e.ga = i.ga AND e.gb = i.gb""".stripMargin,
    "events_zorder" -> {
      // the same 16-term interleave as Layout.zorder2; every operand is
      // parenthesized because PostgreSQL-style parsers give << >> & | ONE
      // precedence level (left-assoc), unlike C
      val zTerms = (0 until 16).map(i =>
        s"(((ux >> $i) & 1) << ${2 * i}) | (((m >> $i) & 1) << ${2 * i + 1})")
        .mkString(" | ")
      s"""WITH e AS (
         |  SELECT event_id, user_id, (epoch_ms(ts) // 60000) % 1440 AS m,
         |         user_id & 65535 AS ux
         |  FROM events
         |)
         |SELECT event_id, user_id, m, $zTerms AS z FROM e""".stripMargin
    },
    "events_salted_join" ->
      """WITH dim AS (
        |  SELECT user_id,
        |    CASE WHEN count(*) >= 67 THEN 'heavy' ELSE 'light' END AS tier
        |  FROM events GROUP BY user_id
        |)
        |SELECT e.user_id, e.event_id, d.tier
        |FROM events e JOIN dim d ON e.user_id = d.user_id
        |WHERE e.event_type = 'purchase'""".stripMargin,
    "events_bucketed_join" ->
      """WITH a AS (
        |  SELECT user_id,
        |    CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT) AS spend_cents,
        |    CAST(count(*) AS BIGINT) AS n_purchases
        |  FROM events WHERE event_type = 'purchase' GROUP BY user_id
        |), b AS (
        |  SELECT user_id, CAST(count(*) AS BIGINT) AS n_errors
        |  FROM events WHERE event_type = 'error' GROUP BY user_id
        |)
        |SELECT a.user_id, a.spend_cents, a.n_purchases, b.n_errors
        |FROM a JOIN b ON a.user_id = b.user_id""".stripMargin,
    "q6_revenue_delta" ->
      """SELECT round(sum(l_extendedprice * l_discount), 4) AS revenue, count(*) AS n_items
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
        |  AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24""".stripMargin,
    "q10_returned" ->
      """SELECT c_custkey, c_name, n_name,
        |  round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |WHERE l_returnflag = 'R'
        |  AND o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1996-04-01'
        |GROUP BY c_custkey, c_name, n_name
        |ORDER BY revenue DESC, c_custkey LIMIT 20""".stripMargin,
    "q14_promo" ->
      """SELECT round(100.0 * sum(CASE WHEN p_type = 'PROMO'
        |    THEN l_extendedprice * (1 - l_discount) ELSE 0.0 END) /
        |  sum(l_extendedprice * (1 - l_discount)), 4) AS promo_share
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE l_shipdate >= TIMESTAMP '1996-09-01' AND l_shipdate < TIMESTAMP '1996-10-01'""".stripMargin,
    "q18_large_orders" ->
      """WITH big AS (
        |  SELECT l_orderkey, round(sum(l_quantity), 4) AS sum_qty
        |  FROM lineitem GROUP BY l_orderkey
        |  HAVING round(sum(l_quantity), 4) > 250
        |)
        |SELECT o_orderkey, c_custkey, c_name, round(o_totalprice, 4) AS total_r, sum_qty
        |FROM big
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey""".stripMargin,
    // the hard oracle is the EXACT distinct count; the sketch's accuracy
    // rides as the sketch_ok boolean (within 5x rsd), never its raw value
    "agg_approx_distinct" ->
      """SELECT 'events.event_type' AS col, count(DISTINCT event_type) AS n, true AS sketch_ok FROM events
        |UNION ALL SELECT 'nation.n_name', count(DISTINCT n_name), true FROM nation
        |UNION ALL SELECT 'region.r_name', count(DISTINCT r_name), true FROM region
        |UNION ALL SELECT 'customer.c_mktsegment', count(DISTINCT c_mktsegment), true FROM customer
        |UNION ALL SELECT 'orders.o_orderpriority', count(DISTINCT o_orderpriority), true FROM orders""".stripMargin,
    "agg_approx_quantile" ->
      """SELECT l_returnflag, round(quantile_cont(l_extendedprice, 0.5), 4) AS p50,
        |  round(quantile_cont(l_extendedprice, 0.99), 4) AS p99, true AS sketch_ok
        |FROM lineitem GROUP BY l_returnflag""".stripMargin,
    "agg_rollup" ->
      """SELECT COALESCE(lang, 'ALL') AS lang, COALESCE(source, 'ALL') AS source,
        |  CAST(count(*) AS BIGINT) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS sum_chars
        |FROM documents GROUP BY ROLLUP (lang, source)""".stripMargin,
    "agg_cube" ->
      """SELECT COALESCE(lang, 'ALL') AS lang, COALESCE(source, 'ALL') AS source,
        |  CAST(count(*) AS BIGINT) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS sum_chars
        |FROM documents GROUP BY CUBE (lang, source)""".stripMargin,
    "agg_grouping_sets" ->
      """SELECT COALESCE(lang, 'ALL') AS lang, COALESCE(source, 'ALL') AS source,
        |  CAST(GROUPING(lang) AS BIGINT) AS g_lang,
        |  CAST(GROUPING(source) AS BIGINT) AS g_source,
        |  CAST(count(*) AS BIGINT) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS sum_chars
        |FROM documents
        |GROUP BY GROUPING SETS ((lang), (source), (lang, source), ())""".stripMargin,
    "dedup_edit" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    substring(substring(text, 1, 64),
        |      1 + (CASE WHEN (doc_id % 4) = 1 THEN 1
        |               WHEN (doc_id % 4) = 2 THEN 2 ELSE 0 END)) AS p
        |  FROM documents WHERE doc_id < 800)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |  CAST(levenshtein(a.p, b.p) AS BIGINT) AS ed
        |FROM t a JOIN t b ON a.doc_id < b.doc_id
        |WHERE levenshtein(a.p, b.p) <= 2""".stripMargin,
    "basket_pairs" ->
      """WITH t AS (
        |  SELECT DISTINCT l_orderkey AS ok, p_type
        |  FROM lineitem JOIN part ON l_partkey = p_partkey
        |)
        |SELECT a.p_type AS type_a, b.p_type AS type_b, count(*) AS c
        |FROM t a JOIN t b ON a.ok = b.ok AND a.p_type < b.p_type
        |GROUP BY a.p_type, b.p_type
        |ORDER BY c DESC, type_a ASC, type_b ASC LIMIT 20""".stripMargin,
    "basket_rules" ->
      """WITH t AS (
        |  SELECT DISTINCT l_orderkey AS ok, p_type
        |  FROM lineitem JOIN part ON l_partkey = p_partkey
        |), nb AS (SELECT CAST(count(DISTINCT ok) AS BIGINT) AS n FROM t),
        |items AS (
        |  SELECT p_type, CAST(count(*) AS BIGINT) AS ci FROM t GROUP BY p_type
        |), pairs AS (
        |  SELECT a.p_type AS ta, b.p_type AS tb, CAST(count(*) AS BIGINT) AS cab
        |  FROM t a JOIN t b ON a.ok = b.ok AND a.p_type < b.p_type
        |  GROUP BY 1, 2 HAVING count(*) >= 20
        |), dir AS (
        |  SELECT ta AS antecedent, tb AS consequent, cab FROM pairs
        |  UNION ALL SELECT tb, ta, cab FROM pairs
        |)
        |SELECT antecedent, consequent, cab,
        |  CAST(cab * 1000000 // ca.ci AS BIGINT) AS conf_ppm,
        |  CAST(cab * nb.n * 1000000 // (ca.ci * cb.ci) AS BIGINT) AS lift_micros
        |FROM dir
        |JOIN items ca ON ca.p_type = antecedent
        |JOIN items cb ON cb.p_type = consequent, nb
        |ORDER BY lift_micros DESC, antecedent ASC, consequent ASC
        |LIMIT 50""".stripMargin,
    "events_decile" ->
      """WITH r AS (
        |  SELECT event_type, value,
        |    ntile(10) OVER (PARTITION BY event_type ORDER BY value, event_id)
        |      AS decile
        |  FROM events
        |)
        |SELECT event_type, decile, count(*) AS n,
        |  round(min(value), 2) AS lo, round(max(value), 2) AS hi
        |FROM r GROUP BY event_type, decile""".stripMargin,
    // every mean is a ratio of exact integer sums (cents / counts) so no
    // engine's accumulation order matters; the integer-ratio outputs
    // round half-up in integer arithmetic (exact ties bite here); the hod
    // mean folds in order (list_dot_product-with-ones = pinned summation)
    "ts_seasonal" ->
      s"""$tsCte, b AS (
         |  SELECT series_id, t // 3600000 AS bucket,
         |    sum(CAST(round(value * 100, 0) AS BIGINT)) AS cents,
         |    count(*) AS cnt
         |  FROM ts GROUP BY series_id, t // 3600000
         |), tr AS (
         |  SELECT series_id, bucket, cents, cnt,
         |    CAST(cents AS DOUBLE) / (cnt * 100.0) AS v,
         |    sum(cents) OVER w AS wc, sum(cnt) OVER w AS wn,
         |    CAST(sum(cents) OVER w AS DOUBLE) / (sum(cnt) OVER w * 100.0) AS trend
         |  FROM b
         |  WINDOW w AS (PARTITION BY series_id ORDER BY bucket
         |    ROWS BETWEEN 11 PRECEDING AND 12 FOLLOWING)
         |), se AS (
         |  SELECT series_id, bucket % 24 AS hod,
         |    list_dot_product(list(v - trend ORDER BY bucket),
         |      list_transform(list(v - trend ORDER BY bucket), x -> 1.0))
         |      / count(*) AS seasonal
         |  FROM tr GROUP BY series_id, bucket % 24
         |)
         |SELECT tr.series_id, tr.bucket,
         |  (CASE WHEN tr.cents >= 0 THEN (200 * tr.cents + tr.cnt) // (2 * tr.cnt)
         |        ELSE -((-200 * tr.cents + tr.cnt) // (2 * tr.cnt)) END) / 10000.0 AS v,
         |  (CASE WHEN tr.wc >= 0 THEN (200 * tr.wc + tr.wn) // (2 * tr.wn)
         |        ELSE -((-200 * tr.wc + tr.wn) // (2 * tr.wn)) END) / 10000.0 AS trend,
         |  round(se.seasonal, 4) AS seasonal,
         |  round(tr.v - tr.trend - se.seasonal, 4) AS residual
         |FROM tr JOIN se ON tr.series_id = se.series_id AND tr.bucket % 24 = se.hod""".stripMargin,
    "ts_autocorr" ->
      s"""$tsCte, b AS (
         |  SELECT series_id, t // 3600000 AS bucket, avg(value) AS v
         |  FROM ts GROUP BY series_id, t // 3600000
         |), l AS (
         |  SELECT series_id, v,
         |    lag(v) OVER (PARTITION BY series_id ORDER BY bucket) AS pv
         |  FROM b
         |)
         |SELECT series_id, round(corr(v, pv), 4) AS r1, count(*) AS n_pairs
         |FROM l WHERE pv IS NOT NULL GROUP BY series_id""".stripMargin,
    "user_path_topk" ->
      """WITH s AS (
        |  SELECT user_id, list(event_type ORDER BY epoch_ms(ts), event_id) AS types
        |  FROM events GROUP BY user_id
        |), g AS (
        |  SELECT unnest(list_transform(range(1, len(types) - 1),
        |    i -> types[i] || '>' || types[i+1] || '>' || types[i+2])) AS path
        |  FROM s WHERE len(types) >= 3
        |)
        |SELECT path, count(*) AS c FROM g GROUP BY path
        |ORDER BY c DESC, path ASC LIMIT 20""".stripMargin,
    "events_sliding" ->
      """WITH ev AS (
        |  SELECT epoch_ms(ts) AS t, event_type, value FROM events
        |), k AS (SELECT unnest(range(0, 4)) AS k)
        |SELECT (t // 900000 - k) * 900000 AS w_start, event_type,
        |  count(*) AS n, round(sum(value), 2) AS sum_v
        |FROM ev, k GROUP BY 1, 2""".stripMargin,
    "q19_disjunctive" ->
      """SELECT round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue,
        |  count(*) AS n_items
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 5
        |       AND l_quantity BETWEEN 1 AND 11)
        |   OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 10
        |       AND l_quantity BETWEEN 10 AND 20)
        |   OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 15
        |       AND l_quantity BETWEEN 20 AND 30)""".stripMargin,
    "events_near_join" ->
      """WITH ev AS (
        |  SELECT user_id, event_id, event_type, epoch_ms(ts) AS t FROM events
        |), errs AS (
        |  SELECT user_id AS e_uid, event_id AS err_id, t AS err_t
        |  FROM ev WHERE event_type = 'error'
        |)
        |SELECT err_id, count(c.event_id) AS n_near_clicks
        |FROM errs LEFT OUTER JOIN ev c
        |  ON c.user_id = e_uid AND c.event_type = 'click'
        |  AND c.t >= err_t - 60000 AND c.t <= err_t + 60000
        |GROUP BY err_id""".stripMargin,
    // the oracle is the DIRECT range join (DuckDB handles the quadratic
    // containment fine at gate SF); the Spark side must match it through
    // the as-of reformulation
    "events_interval_join" ->
      """WITH base AS (
        |  SELECT user_id, epoch_ms(ts) AS t, value, event_id, event_type FROM events
        |), marked AS (
        |  SELECT user_id, t, event_id,
        |    CASE WHEN lag(t) OVER w IS NULL OR t - lag(t) OVER w > 3600000
        |         THEN 1 ELSE 0 END AS new_sess
        |  FROM base
        |  WINDOW w AS (PARTITION BY user_id ORDER BY t, event_id)
        |), sess AS (
        |  SELECT user_id, t,
        |    CAST(sum(new_sess) OVER (PARTITION BY user_id ORDER BY t, event_id ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
        |  FROM marked
        |), win AS (
        |  SELECT user_id, session_id, min(t) AS t_start, max(t) AS t_end
        |  FROM sess GROUP BY user_id, session_id
        |)
        |SELECT b.user_id, w.session_id, count(*) AS n_purchases,
        |  round(sum(b.value), 4) AS purchase_value
        |FROM base b JOIN win w
        |  ON b.user_id = w.user_id AND b.t BETWEEN w.t_start AND w.t_end
        |WHERE b.event_type = 'purchase'
        |GROUP BY b.user_id, w.session_id""".stripMargin,
    "sql_cosine_pairs" ->
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
         |           FROM embeddings WHERE vec_id < 200)
         |SELECT a.vec_id AS id_a, b.vec_id AS id_b, round($cosAB, 6) AS sim
         |FROM e a JOIN e b ON a.vec_id < b.vec_id
         |WHERE round($cosAB, 6) >= 0.3""".stripMargin,
    "ann_pq" ->
      """WITH cb AS (SELECT * FROM (VALUES __PQ_CODEBOOKS__) AS t(j, cell, lo, cv)),
        |u AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
        |      FROM embeddings WHERE vec_id < 500),
        |dist AS (
        |  SELECT u.vec_id, cb.j, cb.cell,
        |    round(list_dot_product(
        |      list_transform(range(1, len(cb.cv) + 1), i -> u.v[cb.lo + i] - cb.cv[i]),
        |      list_transform(range(1, len(cb.cv) + 1), i -> u.v[cb.lo + i] - cb.cv[i])), 4) AS d
        |  FROM u CROSS JOIN cb
        |)
        |SELECT vec_id, j, cell AS code, d AS d_r FROM dist
        |QUALIFY row_number() OVER (PARTITION BY vec_id, j ORDER BY d, cell) = 1""".stripMargin,
    "ann_pq_search" ->
      """WITH cb AS (SELECT * FROM (VALUES __PQ_CODEBOOKS__) AS t(j, cell, lo, cv)),
        |u AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
        |      FROM embeddings WHERE vec_id < 500),
        |dist AS (
        |  SELECT u.vec_id, cb.j, cb.cell,
        |    round(list_dot_product(
        |      list_transform(range(1, len(cb.cv) + 1), i -> u.v[cb.lo + i] - cb.cv[i]),
        |      list_transform(range(1, len(cb.cv) + 1), i -> u.v[cb.lo + i] - cb.cv[i])), 4) AS d
        |  FROM u CROSS JOIN cb
        |),
        |codes AS (
        |  SELECT vec_id, j, cell AS code FROM dist
        |  QUALIFY row_number() OVER (PARTITION BY vec_id, j ORDER BY d, cell) = 1
        |),
        |q AS (SELECT vec_id AS query_id, v FROM u WHERE vec_id < 5),
        |tab AS (
        |  SELECT q.query_id, cb.j, cb.cell,
        |    CAST(round(list_dot_product(
        |      list_transform(range(1, len(cb.cv) + 1), i -> q.v[cb.lo + i] - cb.cv[i]),
        |      list_transform(range(1, len(cb.cv) + 1), i -> q.v[cb.lo + i] - cb.cv[i])) * 10000, 0) AS BIGINT) AS dq
        |  FROM q CROSS JOIN cb
        |),
        |score AS (
        |  SELECT t.query_id, c.vec_id AS neighbor_id, sum(t.dq) AS adc
        |  FROM codes c JOIN tab t ON t.j = c.j AND t.cell = c.code
        |  GROUP BY 1, 2
        |)
        |SELECT query_id, neighbor_id, CAST(adc AS BIGINT) AS adc_e4 FROM score
        |QUALIFY row_number() OVER (PARTITION BY query_id ORDER BY adc, neighbor_id) <= 5""".stripMargin,
    "ann_ivfpq" ->
      """WITH ctr AS (SELECT * FROM (VALUES __IVFPQ_CENTERS__) AS t(cell, cv)),
        |cb AS (SELECT * FROM (VALUES __IVFPQ_CODEBOOKS__) AS t(j, cell, lo, cv)),
        |u AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
        |      FROM embeddings WHERE vec_id < 500),
        |cd AS (
        |  SELECT u.vec_id, ctr.cell,
        |    round(list_dot_product(
        |      list_transform(range(1, len(u.v) + 1), i -> u.v[i] - ctr.cv[i]),
        |      list_transform(range(1, len(u.v) + 1), i -> u.v[i] - ctr.cv[i])), 4) AS d
        |  FROM u CROSS JOIN ctr
        |),
        |assigned AS (
        |  SELECT vec_id, cell FROM cd
        |  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY d, cell) = 1
        |),
        |r AS (
        |  SELECT u.vec_id, a.cell,
        |    list_transform(range(1, len(u.v) + 1), i -> u.v[i] - ctr.cv[i]) AS rv
        |  FROM u JOIN assigned a ON u.vec_id = a.vec_id
        |         JOIN ctr ON ctr.cell = a.cell
        |),
        |rd AS (
        |  SELECT r.vec_id, r.cell, cb.j, cb.cell AS pcell,
        |    round(list_dot_product(
        |      list_transform(range(1, len(cb.cv) + 1), i -> r.rv[cb.lo + i] - cb.cv[i]),
        |      list_transform(range(1, len(cb.cv) + 1), i -> r.rv[cb.lo + i] - cb.cv[i])), 4) AS d
        |  FROM r CROSS JOIN cb
        |)
        |SELECT vec_id, cell, j, pcell AS code, d AS d_r FROM rd
        |QUALIFY row_number() OVER (PARTITION BY vec_id, j ORDER BY d, pcell) = 1""".stripMargin,
    "ann_ivfpq_search" ->
      """WITH ctr AS (SELECT * FROM (VALUES __IVFPQ_CENTERS__) AS t(cell, cv)),
        |cb AS (SELECT * FROM (VALUES __IVFPQ_CODEBOOKS__) AS t(j, cell, lo, cv)),
        |u AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
        |      FROM embeddings WHERE vec_id < 500),
        |cd AS (
        |  SELECT u.vec_id, ctr.cell,
        |    round(list_dot_product(
        |      list_transform(range(1, len(u.v) + 1), i -> u.v[i] - ctr.cv[i]),
        |      list_transform(range(1, len(u.v) + 1), i -> u.v[i] - ctr.cv[i])), 4) AS d
        |  FROM u CROSS JOIN ctr
        |),
        |assigned AS (
        |  SELECT vec_id, cell FROM cd
        |  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY d, cell) = 1
        |),
        |r AS (
        |  SELECT u.vec_id, a.cell,
        |    list_transform(range(1, len(u.v) + 1), i -> u.v[i] - ctr.cv[i]) AS rv
        |  FROM u JOIN assigned a ON u.vec_id = a.vec_id
        |         JOIN ctr ON ctr.cell = a.cell
        |),
        |rd AS (
        |  SELECT r.vec_id, r.cell, cb.j, cb.cell AS pcell,
        |    round(list_dot_product(
        |      list_transform(range(1, len(cb.cv) + 1), i -> r.rv[cb.lo + i] - cb.cv[i]),
        |      list_transform(range(1, len(cb.cv) + 1), i -> r.rv[cb.lo + i] - cb.cv[i])), 4) AS d
        |  FROM r CROSS JOIN cb
        |),
        |codes AS (
        |  SELECT vec_id, cell, j, pcell AS code FROM rd
        |  QUALIFY row_number() OVER (PARTITION BY vec_id, j ORDER BY d, pcell) = 1
        |),
        |q AS (SELECT vec_id AS query_id, v FROM u WHERE vec_id < 5),
        |qc AS (
        |  SELECT q.query_id, ctr.cell,
        |    round(list_dot_product(
        |      list_transform(range(1, len(q.v) + 1), i -> q.v[i] - ctr.cv[i]),
        |      list_transform(range(1, len(q.v) + 1), i -> q.v[i] - ctr.cv[i])), 4) AS d,
        |    list_transform(range(1, len(q.v) + 1), i -> q.v[i] - ctr.cv[i]) AS qr
        |  FROM q CROSS JOIN ctr
        |),
        |probes AS (
        |  SELECT query_id, cell, qr FROM qc
        |  QUALIFY row_number() OVER (PARTITION BY query_id ORDER BY d, cell) <= 3
        |),
        |tab AS (
        |  SELECT p.query_id, p.cell, cb.j, cb.cell AS pcell,
        |    CAST(round(list_dot_product(
        |      list_transform(range(1, len(cb.cv) + 1), i -> p.qr[cb.lo + i] - cb.cv[i]),
        |      list_transform(range(1, len(cb.cv) + 1), i -> p.qr[cb.lo + i] - cb.cv[i])) * 10000, 0) AS BIGINT) AS dq
        |  FROM probes p CROSS JOIN cb
        |),
        |score AS (
        |  SELECT t.query_id, c.vec_id AS neighbor_id, sum(t.dq) AS adc
        |  FROM codes c JOIN tab t
        |    ON t.cell = c.cell AND t.j = c.j AND t.pcell = c.code
        |  GROUP BY 1, 2
        |)
        |SELECT query_id, neighbor_id, CAST(adc AS BIGINT) AS adc_e4 FROM score
        |QUALIFY row_number() OVER (PARTITION BY query_id ORDER BY adc, neighbor_id) <= 5""".stripMargin,
    // ADC shortlist (top-20 by integer lut sum) -> exact-cosine rerank
    "ann_rerank" ->
      """WITH cb AS (SELECT * FROM (VALUES __PQ_CODEBOOKS__) AS t(j, cell, lo, cv)),
        |u AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
        |      FROM embeddings WHERE vec_id < 500),
        |dist AS (
        |  SELECT u.vec_id, cb.j, cb.cell,
        |    round(list_dot_product(
        |      list_transform(range(1, len(cb.cv) + 1), i -> u.v[cb.lo + i] - cb.cv[i]),
        |      list_transform(range(1, len(cb.cv) + 1), i -> u.v[cb.lo + i] - cb.cv[i])), 4) AS d
        |  FROM u CROSS JOIN cb
        |),
        |codes AS (
        |  SELECT vec_id, j, cell AS code FROM dist
        |  QUALIFY row_number() OVER (PARTITION BY vec_id, j ORDER BY d, cell) = 1
        |),
        |q AS (SELECT vec_id AS query_id, v FROM u WHERE vec_id < 5),
        |tab AS (
        |  SELECT q.query_id, cb.j, cb.cell,
        |    CAST(round(list_dot_product(
        |      list_transform(range(1, len(cb.cv) + 1), i -> q.v[cb.lo + i] - cb.cv[i]),
        |      list_transform(range(1, len(cb.cv) + 1), i -> q.v[cb.lo + i] - cb.cv[i])) * 10000, 0) AS BIGINT) AS dq
        |  FROM q CROSS JOIN cb
        |),
        |score AS (
        |  SELECT t.query_id, c.vec_id AS neighbor_id, sum(t.dq) AS adc
        |  FROM codes c JOIN tab t ON t.j = c.j AND t.cell = c.code
        |  GROUP BY 1, 2
        |),
        |short AS (
        |  SELECT query_id, neighbor_id FROM score
        |  QUALIFY row_number() OVER (PARTITION BY query_id ORDER BY adc, neighbor_id) <= 20
        |),
        |r AS (
        |  SELECT s.query_id, s.neighbor_id,
        |    round(list_dot_product(a.v, b.v) /
        |      (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))), 6) AS sim
        |  FROM short s JOIN u a ON a.vec_id = s.query_id
        |               JOIN u b ON b.vec_id = s.neighbor_id
        |)
        |SELECT query_id, neighbor_id, sim FROM r
        |WHERE sim IS NOT NULL AND NOT isnan(sim)
        |QUALIFY row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id ASC) <= 5""".stripMargin,
    // the persisted two-stage replay: identical to ann_rerank with the
    // doomed ids (vec_id % 7 = 6) excluded from the corpus CTE — one
    // exclusion covers both stages, exactly what the two tombstone masks
    // must jointly produce
    "ann_rerank_indexed" ->
      """WITH cb AS (SELECT * FROM (VALUES __PQ_CODEBOOKS__) AS t(j, cell, lo, cv)),
        |u AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
        |      FROM embeddings WHERE vec_id < 500 AND vec_id % 7 <> 6),
        |dist AS (
        |  SELECT u.vec_id, cb.j, cb.cell,
        |    round(list_dot_product(
        |      list_transform(range(1, len(cb.cv) + 1), i -> u.v[cb.lo + i] - cb.cv[i]),
        |      list_transform(range(1, len(cb.cv) + 1), i -> u.v[cb.lo + i] - cb.cv[i])), 4) AS d
        |  FROM u CROSS JOIN cb
        |),
        |codes AS (
        |  SELECT vec_id, j, cell AS code FROM dist
        |  QUALIFY row_number() OVER (PARTITION BY vec_id, j ORDER BY d, cell) = 1
        |),
        |q AS (SELECT vec_id AS query_id, v FROM u WHERE vec_id < 5),
        |tab AS (
        |  SELECT q.query_id, cb.j, cb.cell,
        |    CAST(round(list_dot_product(
        |      list_transform(range(1, len(cb.cv) + 1), i -> q.v[cb.lo + i] - cb.cv[i]),
        |      list_transform(range(1, len(cb.cv) + 1), i -> q.v[cb.lo + i] - cb.cv[i])) * 10000, 0) AS BIGINT) AS dq
        |  FROM q CROSS JOIN cb
        |),
        |score AS (
        |  SELECT t.query_id, c.vec_id AS neighbor_id, sum(t.dq) AS adc
        |  FROM codes c JOIN tab t ON t.j = c.j AND t.cell = c.code
        |  GROUP BY 1, 2
        |),
        |short AS (
        |  SELECT query_id, neighbor_id FROM score
        |  QUALIFY row_number() OVER (PARTITION BY query_id ORDER BY adc, neighbor_id) <= 20
        |),
        |r AS (
        |  SELECT s.query_id, s.neighbor_id,
        |    round(list_dot_product(a.v, b.v) /
        |      (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))), 6) AS sim
        |  FROM short s JOIN u a ON a.vec_id = s.query_id
        |               JOIN u b ON b.vec_id = s.neighbor_id
        |)
        |SELECT query_id, neighbor_id, sim FROM r
        |WHERE sim IS NOT NULL AND NOT isnan(sim)
        |QUALIFY row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id ASC) <= 5""".stripMargin,
    // same ADC replay, doomed ids (vec_id % 7 = 6) excluded by predicate —
    // the retained-corpus truth the masked AND folded PQ index must match
    "ann_pq_delete" ->
      """WITH cb AS (SELECT * FROM (VALUES __PQ_CODEBOOKS__) AS t(j, cell, lo, cv)),
        |u AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
        |      FROM embeddings WHERE vec_id < 500),
        |dist AS (
        |  SELECT u.vec_id, cb.j, cb.cell,
        |    round(list_dot_product(
        |      list_transform(range(1, len(cb.cv) + 1), i -> u.v[cb.lo + i] - cb.cv[i]),
        |      list_transform(range(1, len(cb.cv) + 1), i -> u.v[cb.lo + i] - cb.cv[i])), 4) AS d
        |  FROM u CROSS JOIN cb
        |),
        |codes AS (
        |  SELECT vec_id, j, cell AS code FROM dist
        |  QUALIFY row_number() OVER (PARTITION BY vec_id, j ORDER BY d, cell) = 1
        |),
        |q AS (SELECT vec_id AS query_id, v FROM u WHERE vec_id < 5),
        |tab AS (
        |  SELECT q.query_id, cb.j, cb.cell,
        |    CAST(round(list_dot_product(
        |      list_transform(range(1, len(cb.cv) + 1), i -> q.v[cb.lo + i] - cb.cv[i]),
        |      list_transform(range(1, len(cb.cv) + 1), i -> q.v[cb.lo + i] - cb.cv[i])) * 10000, 0) AS BIGINT) AS dq
        |  FROM q CROSS JOIN cb
        |),
        |score AS (
        |  SELECT t.query_id, c.vec_id AS neighbor_id, sum(t.dq) AS adc
        |  FROM codes c JOIN tab t ON t.j = c.j AND t.cell = c.code
        |  WHERE c.vec_id % 7 <> 6
        |  GROUP BY 1, 2
        |)
        |SELECT query_id, neighbor_id, CAST(adc AS BIGINT) AS adc_e4 FROM score
        |QUALIFY row_number() OVER (PARTITION BY query_id ORDER BY adc, neighbor_id) <= 5""".stripMargin,
    // and the IVFADC twin: the probed-cell replay with the doomed excluded
    "ann_ivfpq_delete" ->
      """WITH ctr AS (SELECT * FROM (VALUES __IVFPQ_CENTERS__) AS t(cell, cv)),
        |cb AS (SELECT * FROM (VALUES __IVFPQ_CODEBOOKS__) AS t(j, cell, lo, cv)),
        |u AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
        |      FROM embeddings WHERE vec_id < 500),
        |cd AS (
        |  SELECT u.vec_id, ctr.cell,
        |    round(list_dot_product(
        |      list_transform(range(1, len(u.v) + 1), i -> u.v[i] - ctr.cv[i]),
        |      list_transform(range(1, len(u.v) + 1), i -> u.v[i] - ctr.cv[i])), 4) AS d
        |  FROM u CROSS JOIN ctr
        |),
        |assigned AS (
        |  SELECT vec_id, cell FROM cd
        |  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY d, cell) = 1
        |),
        |r AS (
        |  SELECT u.vec_id, a.cell,
        |    list_transform(range(1, len(u.v) + 1), i -> u.v[i] - ctr.cv[i]) AS rv
        |  FROM u JOIN assigned a ON u.vec_id = a.vec_id
        |         JOIN ctr ON ctr.cell = a.cell
        |),
        |rd AS (
        |  SELECT r.vec_id, r.cell, cb.j, cb.cell AS pcell,
        |    round(list_dot_product(
        |      list_transform(range(1, len(cb.cv) + 1), i -> r.rv[cb.lo + i] - cb.cv[i]),
        |      list_transform(range(1, len(cb.cv) + 1), i -> r.rv[cb.lo + i] - cb.cv[i])), 4) AS d
        |  FROM r CROSS JOIN cb
        |),
        |codes AS (
        |  SELECT vec_id, cell, j, pcell AS code FROM rd
        |  QUALIFY row_number() OVER (PARTITION BY vec_id, j ORDER BY d, pcell) = 1
        |),
        |q AS (SELECT vec_id AS query_id, v FROM u WHERE vec_id < 5),
        |qc AS (
        |  SELECT q.query_id, ctr.cell,
        |    round(list_dot_product(
        |      list_transform(range(1, len(q.v) + 1), i -> q.v[i] - ctr.cv[i]),
        |      list_transform(range(1, len(q.v) + 1), i -> q.v[i] - ctr.cv[i])), 4) AS d,
        |    list_transform(range(1, len(q.v) + 1), i -> q.v[i] - ctr.cv[i]) AS qr
        |  FROM q CROSS JOIN ctr
        |),
        |probes AS (
        |  SELECT query_id, cell, qr FROM qc
        |  QUALIFY row_number() OVER (PARTITION BY query_id ORDER BY d, cell) <= 3
        |),
        |tab AS (
        |  SELECT p.query_id, p.cell, cb.j, cb.cell AS pcell,
        |    CAST(round(list_dot_product(
        |      list_transform(range(1, len(cb.cv) + 1), i -> p.qr[cb.lo + i] - cb.cv[i]),
        |      list_transform(range(1, len(cb.cv) + 1), i -> p.qr[cb.lo + i] - cb.cv[i])) * 10000, 0) AS BIGINT) AS dq
        |  FROM probes p CROSS JOIN cb
        |),
        |score AS (
        |  SELECT t.query_id, c.vec_id AS neighbor_id, sum(t.dq) AS adc
        |  FROM codes c JOIN tab t
        |    ON t.cell = c.cell AND t.j = c.j AND t.pcell = c.code
        |  WHERE c.vec_id % 7 <> 6
        |  GROUP BY 1, 2
        |)
        |SELECT query_id, neighbor_id, CAST(adc AS BIGINT) AS adc_e4 FROM score
        |QUALIFY row_number() OVER (PARTITION BY query_id ORDER BY adc, neighbor_id) <= 5""".stripMargin,
    "ann_quantize" ->
      s"""$embCte, s AS (
         |  SELECT vec_id, v,
         |    CASE WHEN list_max(list_transform(v, x -> abs(x))) = 0 THEN 1.0
         |         ELSE list_max(list_transform(v, x -> abs(x))) / 127.0 END AS scale
         |  FROM e
         |), q AS (
         |  SELECT vec_id, scale,
         |    list_transform(v, x -> CAST(floor(x / scale + 0.5) AS BIGINT)) AS qv
         |  FROM s
         |)
         |SELECT vec_id, round(scale, 6) AS scale_r,
         |  CAST(list_sum(qv) AS BIGINT) AS q_sum,
         |  CAST(list_min(qv) AS BIGINT) AS q_min,
         |  CAST(list_max(qv) AS BIGINT) AS q_max
         |FROM q""".stripMargin,

    "text_repetition" ->
      s"""$docToksCte, g AS (
         |  SELECT doc_id,
         |    unnest(list_transform(range(1, len(toks)), i -> toks[i] || ' ' || toks[i+1])) AS g
         |  FROM d WHERE len(toks) >= 2
         |), f AS (SELECT doc_id, g, count(*) AS c FROM g GROUP BY doc_id, g)
         |SELECT doc_id,
         |  round(CAST(max(c) AS DOUBLE) / sum(c), 6) AS top_2gram_frac,
         |  round(CAST(sum(CASE WHEN c > 1 THEN c ELSE 0 END) AS DOUBLE) / sum(c), 6) AS dup_2gram_frac
         |FROM f GROUP BY doc_id""".stripMargin,

    "dedup_components" ->
      """WITH RECURSIVE t AS (
        |  SELECT doc_id, list_distinct(string_split_regex(lower(trim(text)), '\s+')) AS toks
        |  FROM documents WHERE doc_id < 500
        |), pairs AS (
        |  SELECT a.doc_id AS u, b.doc_id AS v
        |  FROM t a JOIN t b ON a.doc_id < b.doc_id
        |  WHERE CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE) /
        |        (len(a.toks) + len(b.toks) - len(list_intersect(a.toks, b.toks))) >= 0.8
        |), edges AS (
        |  SELECT u, v FROM pairs UNION SELECT v AS u, u AS v FROM pairs
        |), reach(u, v) AS (
        |  SELECT u, u FROM edges
        |  UNION
        |  SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u
        |)
        |SELECT u AS doc_id, min(v) AS component FROM reach GROUP BY u""".stripMargin,
    "dedup_canonical" ->
      """WITH RECURSIVE t AS (
        |  SELECT doc_id, list_distinct(string_split_regex(lower(trim(text)), '\s+')) AS toks
        |  FROM documents WHERE doc_id < 500
        |), pairs AS (
        |  SELECT a.doc_id AS u, b.doc_id AS v
        |  FROM t a JOIN t b ON a.doc_id < b.doc_id
        |  WHERE CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE) /
        |        (len(a.toks) + len(b.toks) - len(list_intersect(a.toks, b.toks))) >= 0.8
        |), edges AS (
        |  SELECT u, v FROM pairs UNION SELECT v AS u, u AS v FROM pairs
        |), reach(u, v) AS (
        |  SELECT u, u FROM edges
        |  UNION
        |  SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u
        |), comp AS (
        |  SELECT u AS doc_id, min(v) AS component FROM reach GROUP BY u
        |), d2 AS (
        |  SELECT doc_id, text, string_split_regex(lower(trim(text)), '\s+') AS toks2
        |  FROM documents
        |), q AS (
        |  SELECT doc_id,
        |    round(0.4 * least(1.0, CAST(len(toks2) AS BIGINT) / 20.0)
        |      + 0.3 * (1.0 - round(CAST(len(regexp_replace(text, '[A-Za-z0-9\s]', '', 'g')) AS DOUBLE) / greatest(len(text), 1), 4))
        |      + 0.3 * least(1.0, round(CAST(len(list_filter(toks2, x -> x IN ('the','a','an','and','of','to','in','is','on','for'))) AS DOUBLE) / len(toks2), 4) * 5.0), 5) AS q
        |  FROM d2
        |)
        |SELECT component, doc_id AS keep_id, n_members, q AS quality
        |FROM (
        |  SELECT c.component, c.doc_id, q.q,
        |    count(*) OVER (PARTITION BY c.component) AS n_members,
        |    row_number() OVER (PARTITION BY c.component ORDER BY q.q DESC, c.doc_id ASC) AS rn
        |  FROM comp c JOIN q ON q.doc_id = c.doc_id
        |)
        |WHERE rn = 1""".stripMargin,

    "pack_sequences" ->
      s"""$docToksCte, toks2 AS (
         |  SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens FROM d
         |)
         |SELECT doc_id, n_tokens,
         |  CAST(floor(COALESCE(sum(n_tokens) OVER (ORDER BY doc_id
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) / 2048) AS BIGINT) AS bin
         |FROM toks2""".stripMargin,
    "split_assign" ->
      """SELECT doc_id,
        |  (doc_id * 2654435761) % 4294967296 % 100 AS split_bucket,
        |  CASE WHEN (doc_id * 2654435761) % 4294967296 % 100 < 80 THEN 'train'
        |       WHEN (doc_id * 2654435761) % 4294967296 % 100 < 90 THEN 'val'
        |       ELSE 'test' END AS split
        |FROM documents""".stripMargin,
    // the oracle groups by the raw text (no xxhash64 in DuckDB); the
    // outputs carry no key, so the hash-keyed Spark aggregate matches
    "split_contamination" ->
      """WITH sp AS (
        |  SELECT text,
        |    CASE WHEN (doc_id * 2654435761) % 4294967296 % 100 < 80 THEN 'train'
        |         WHEN (doc_id * 2654435761) % 4294967296 % 100 < 90 THEN 'val'
        |         ELSE 'test' END AS split
        |  FROM documents
        |), pt AS (
        |  SELECT text,
        |    sum(CASE WHEN split = 'train' THEN 1 ELSE 0 END) AS ct,
        |    sum(CASE WHEN split = 'val' THEN 1 ELSE 0 END) AS cv,
        |    sum(CASE WHEN split = 'test' THEN 1 ELSE 0 END) AS cs
        |  FROM sp GROUP BY text
        |)
        |SELECT CAST(sum(ct * cv) AS BIGINT) AS train_val_pairs,
        |  CAST(sum(ct * cs) AS BIGINT) AS train_test_pairs,
        |  CAST(sum(cv * cs) AS BIGINT) AS val_test_pairs,
        |  CAST(sum(CASE WHEN (ct > 0 AND cv > 0) OR (ct > 0 AND cs > 0)
        |    OR (cv > 0 AND cs > 0) THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_leaked_groups
        |FROM pt""".stripMargin,
    "split_leakage_safe" ->
      """WITH RECURSIVE t AS (
        |  SELECT doc_id, list_distinct(string_split_regex(lower(trim(text)), '\s+')) AS toks
        |  FROM documents WHERE doc_id < 500
        |), pairs AS (
        |  SELECT a.doc_id AS u, b.doc_id AS v
        |  FROM t a JOIN t b ON a.doc_id < b.doc_id
        |  WHERE CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE) /
        |        (len(a.toks) + len(b.toks) - len(list_intersect(a.toks, b.toks))) >= 0.8
        |), edges AS (
        |  SELECT u, v FROM pairs UNION SELECT v AS u, u AS v FROM pairs
        |), reach(u, v) AS (
        |  SELECT u, u FROM edges
        |  UNION
        |  SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u
        |), comp AS (
        |  SELECT u AS doc_id, min(v) AS component FROM reach GROUP BY u
        |), b AS (
        |  SELECT d.doc_id, COALESCE(c.component, d.doc_id) AS cluster_id
        |  FROM documents d LEFT JOIN comp c ON d.doc_id = c.doc_id
        |  WHERE d.doc_id < 500
        |)
        |SELECT doc_id, cluster_id,
        |  (cluster_id * 2654435761) % 4294967296 % 100 AS split_bucket,
        |  CASE WHEN (cluster_id * 2654435761) % 4294967296 % 100 < 80 THEN 'train'
        |       WHEN (cluster_id * 2654435761) % 4294967296 % 100 < 90 THEN 'val'
        |       ELSE 'test' END AS split
        |FROM b""".stripMargin,

    // ---- Round-8 structure / testing / retrieval oracles -----------------
    // lexicographic triangle enumeration (a<b<c) — each triangle once, the
    // same multiset the degree-oriented Spark plan emits after array_sort
    "graph_triangles" ->
      """WITH occ AS (
        |  SELECT DISTINCT user_id AS u, event_type AS et, epoch_ms(ts) // 300000 AS m
        |  FROM events
        |), e AS (
        |  SELECT DISTINCT x.u AS a, y.u AS b
        |  FROM occ x JOIN occ y ON x.et = y.et AND x.m = y.m AND x.u < y.u
        |), tri AS (
        |  SELECT e1.a AS t1, e1.b AS t2, e2.b AS t3
        |  FROM e e1 JOIN e e2 ON e1.b = e2.a
        |       JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b
        |)
        |SELECT node AS user_id, CAST(count(*) AS BIGINT) AS n_tri FROM (
        |  SELECT t1 AS node FROM tri
        |  UNION ALL SELECT t2 FROM tri
        |  UNION ALL SELECT t3 FROM tri
        |) GROUP BY 1""".stripMargin,
    // identical census through the stored oriented-adjacency layout
    "graph_tri_indexed" ->
      """WITH occ AS (
        |  SELECT DISTINCT user_id AS u, event_type AS et, epoch_ms(ts) // 300000 AS m
        |  FROM events
        |), e AS (
        |  SELECT DISTINCT x.u AS a, y.u AS b
        |  FROM occ x JOIN occ y ON x.et = y.et AND x.m = y.m AND x.u < y.u
        |), tri AS (
        |  SELECT e1.a AS t1, e1.b AS t2, e2.b AS t3
        |  FROM e e1 JOIN e e2 ON e1.b = e2.a
        |       JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b
        |)
        |SELECT node AS user_id, CAST(count(*) AS BIGINT) AS n_tri FROM (
        |  SELECT t1 AS node FROM tri
        |  UNION ALL SELECT t2 FROM tri
        |  UNION ALL SELECT t3 FROM tri
        |) GROUP BY 1""".stripMargin,
    // the correlated max replays the as-of match: the latest click
    // at-or-before each purchase; only its timestamp is consumed, so the
    // equal-t tiebreak cannot surface
    "events_attribution" ->
      """WITH e AS (
        |  SELECT user_id, epoch_ms(ts) AS t, event_type,
        |         CAST(round(value * 100, 0) AS BIGINT) AS cents
        |  FROM events
        |), p AS (SELECT * FROM e WHERE event_type = 'purchase'),
        |c AS (SELECT user_id, t FROM e WHERE event_type = 'click'),
        |m AS (
        |  SELECT p.user_id, p.cents,
        |         (SELECT max(c.t) FROM c
        |          WHERE c.user_id = p.user_id AND c.t <= p.t) AS ct
        |  FROM p
        |)
        |SELECT ct // 3600000 AS click_hour,
        |       CAST(count(*) AS BIGINT) AS n_purchases,
        |       CAST(sum(cents) AS BIGINT) AS rev_cents,
        |       CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
        |FROM m WHERE ct IS NOT NULL GROUP BY 1""".stripMargin,
    // rank stats from the cents histogram: r2 = twice the average rank of
    // each tied value block (exact integer); z mirrors the Spark column
    // text op for op so the IEEE doubles round identically
    "events_ab_ks" ->
      """WITH h AS (
        |  SELECT CAST(round(value * 100, 0) AS BIGINT) AS c,
        |         CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS np,
        |         CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS nv
        |  FROM events WHERE event_type IN ('purchase', 'view') GROUP BY 1
        |), r AS (
        |  SELECT
        |    CAST(sum(np) OVER (ORDER BY c ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum1,
        |    CAST(sum(nv) OVER (ORDER BY c ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum2,
        |    CAST(sum(np) OVER () AS BIGINT) AS t1,
        |    CAST(sum(nv) OVER () AS BIGINT) AS t2
        |  FROM h
        |)
        |SELECT max(t1) AS n1, max(t2) AS n2,
        |  round(CAST(max(abs(CAST(cum1 AS HUGEINT) * t2 -
        |      CAST(cum2 AS HUGEINT) * t1)) AS DOUBLE) /
        |    (CAST(max(t1) AS DOUBLE) * CAST(max(t2) AS DOUBLE)), 6) AS d_stat
        |FROM r""".stripMargin,
    "events_ab_mwu" ->
      """WITH h AS (
        |  SELECT CAST(round(value * 100, 0) AS BIGINT) AS c,
        |         CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS np,
        |         CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS nv
        |  FROM events WHERE event_type IN ('purchase', 'view') GROUP BY 1
        |), r AS (
        |  SELECT np, nv, np + nv AS tcnt,
        |         COALESCE(sum(np + nv) OVER (ORDER BY c
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum
        |  FROM h
        |), a AS (
        |  SELECT CAST(sum(np) AS BIGINT) AS n1, CAST(sum(nv) AS BIGINT) AS n2,
        |         CAST(sum(np * (2 * cum + tcnt + 1)) AS BIGINT) AS twoR1,
        |         CAST(sum(tcnt * tcnt * tcnt - tcnt) AS BIGINT) AS tie_cubes
        |  FROM r
        |)
        |SELECT n1, n2, twoR1 - n1 * (n1 + 1) AS two_u1, tie_cubes,
        |  round((CAST(twoR1 - n1 * (n1 + 1) AS DOUBLE) / 2.0 -
        |          CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE) / 2.0) /
        |    sqrt(CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE) / 12.0 *
        |      (CAST(n1 + n2 + 1 AS DOUBLE) -
        |        CAST(tie_cubes AS DOUBLE) /
        |          (CAST(n1 + n2 AS DOUBLE) * CAST(n1 + n2 - 1 AS DOUBLE)))), 6) AS z
        |FROM a""".stripMargin,
    // list-bigram replay of the positional adjacency join; list_position
    // is 1-based (0 = absent), hence the -1 to match 0-based posexplode
    "text_phrase" ->
      """WITH d AS (
        |  SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS toks
        |  FROM documents
        |), b AS (
        |  SELECT doc_id,
        |         list_transform(range(1, len(toks)), i -> toks[i] || ' ' || toks[i + 1]) AS bg
        |  FROM d
        |), ph AS (
        |  SELECT * FROM (VALUES ('hash join'), ('table scan'), ('sort merge')) AS p(phrase)
        |), hits AS (
        |  SELECT phrase, doc_id,
        |         CAST(len(list_filter(bg, x -> x = phrase)) AS BIGINT) AS n_hits,
        |         CAST(list_position(bg, phrase) - 1 AS BIGINT) AS first_pos
        |  FROM b CROSS JOIN ph
        |)
        |SELECT phrase, doc_id, n_hits, first_pos FROM hits WHERE n_hits > 0""".stripMargin,
    "sample_domain_cap" ->
      """SELECT source, doc_id, n_chars FROM (
        |  SELECT source, doc_id, n_chars,
        |         row_number() OVER (PARTITION BY source
        |           ORDER BY n_chars DESC, doc_id ASC) AS rn
        |  FROM documents
        |) WHERE rn <= 10""".stripMargin,
    "ts_changepoint" ->
      s"""$tsCte, b AS (
         |  SELECT series_id, t, event_id, CAST(round(value * 100, 0) AS BIGINT) AS c
         |  FROM ts
         |), w AS (
         |  SELECT series_id, t, c,
         |    row_number() OVER (PARTITION BY series_id ORDER BY t, event_id) AS i,
         |    CAST(sum(c) OVER (PARTITION BY series_id ORDER BY t, event_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cs,
         |    CAST(count(*) OVER (PARTITION BY series_id) AS BIGINT) AS n,
         |    CAST(sum(c) OVER (PARTITION BY series_id) AS BIGINT) AS tc
         |  FROM b
         |), s AS (
         |  SELECT series_id, t, n, abs(n * cs - i * tc) AS a, i FROM w
         |), r AS (
         |  SELECT series_id, t AS cp_t, a AS cusum_max, n,
         |         row_number() OVER (PARTITION BY series_id ORDER BY a DESC, i ASC) AS rn
         |  FROM s
         |)
         |SELECT series_id, cp_t, cusum_max, n FROM r WHERE rn = 1""".stripMargin,
    "graph_edge_support" ->
      """WITH occ AS (
        |  SELECT DISTINCT user_id AS u, event_type AS et, epoch_ms(ts) // 300000 AS m
        |  FROM events
        |), e AS (
        |  SELECT DISTINCT x.u AS a, y.u AS b
        |  FROM occ x JOIN occ y ON x.et = y.et AND x.m = y.m AND x.u < y.u
        |), deg AS (
        |  SELECT n, CAST(count(*) AS BIGINT) AS deg FROM (
        |    SELECT a AS n FROM e UNION ALL SELECT b FROM e) GROUP BY n
        |), tri AS (
        |  SELECT e1.a AS t1, e1.b AS t2, e2.b AS t3
        |  FROM e e1 JOIN e e2 ON e1.b = e2.a
        |       JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b
        |), sup AS (
        |  SELECT a, b, CAST(count(*) AS BIGINT) AS support FROM (
        |    SELECT t1 AS a, t2 AS b FROM tri
        |    UNION ALL SELECT t1, t3 FROM tri
        |    UNION ALL SELECT t2, t3 FROM tri) GROUP BY a, b
        |)
        |SELECT e.a, e.b, sup.support, dda.deg AS da, ddb.deg AS db,
        |  CASE WHEN dda.deg + ddb.deg - 2 - sup.support > 0
        |       THEN sup.support * 1000000 // (dda.deg + ddb.deg - 2 - sup.support)
        |       ELSE 0 END AS j_micros
        |FROM e JOIN sup ON e.a = sup.a AND e.b = sup.b
        |  JOIN deg dda ON e.a = dda.n JOIN deg ddb ON e.b = ddb.n
        |WHERE sup.support > 0""".stripMargin,
    // the || operator (NOT concat()) so a NULL lead kills the word, as
    // Spark's concat does; word tiebreak via the same packed-ascii key
    "ts_motif" ->
      s"""$tsCte, per AS (
         |  SELECT series_id, CAST(count(*) AS BIGINT) AS n,
         |    CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT) AS sct,
         |    CAST(sum(CAST(round(value * 100, 0) AS BIGINT) *
         |             CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT) AS qct
         |  FROM ts GROUP BY series_id
         |), paa AS (
         |  SELECT series_id, t // 3600000 AS bucket,
         |    CAST(count(*) AS BIGINT) AS nb,
         |    CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT) AS sb_cents
         |  FROM ts GROUP BY series_id, t // 3600000
         |), z AS (
         |  SELECT paa.series_id, bucket,
         |    (CAST(sb_cents AS DOUBLE) / (nb * 100.0) - CAST(sct AS DOUBLE) / (n * 100.0)) /
         |    sqrt((CAST(qct AS DOUBLE) / 10000.0 -
         |          n * (CAST(sct AS DOUBLE) / (n * 100.0)) * (CAST(sct AS DOUBLE) / (n * 100.0))) / n)
         |      AS zv
         |  FROM paa JOIN per ON paa.series_id = per.series_id
         |), sym AS (
         |  SELECT series_id, bucket,
         |    CASE WHEN zv < -0.6745 THEN 'a' WHEN zv < 0.0 THEN 'b'
         |         WHEN zv < 0.6745 THEN 'c' ELSE 'd' END AS sym
         |  FROM z
         |), words AS (
         |  SELECT series_id,
         |    sym || lead(sym, 1) OVER w || lead(sym, 2) OVER w || lead(sym, 3) OVER w AS w
         |  FROM sym WINDOW w AS (PARTITION BY series_id ORDER BY bucket)
         |), cnts AS (
         |  SELECT series_id, w, CAST(count(*) AS BIGINT) AS cnt
         |  FROM words WHERE w IS NOT NULL GROUP BY series_id, w
         |), r AS (
         |  SELECT series_id, w AS motif, cnt,
         |    row_number() OVER (PARTITION BY series_id ORDER BY cnt DESC, w ASC) AS rn
         |  FROM cnts
         |)
         |SELECT series_id, motif, cnt AS n_occ FROM r WHERE rn = 1""".stripMargin,
    // two LWW rank resolutions at each horizon + a full outer; horizons
    // are the gate's R_FROM/R_TO epoch-ms constants
    "kv_snapshot_diff" ->
      s"""$kvCte, s1 AS (
         |  SELECT id, key, value FROM (
         |    SELECT id, key, value, deleted,
         |      row_number() OVER (PARTITION BY id, key
         |        ORDER BY write_ts DESC, event_id DESC) AS rn
         |    FROM kv WHERE write_ts <= $R_FROM
         |  ) WHERE rn = 1 AND NOT deleted
         |), s2 AS (
         |  SELECT id, key, value FROM (
         |    SELECT id, key, value, deleted,
         |      row_number() OVER (PARTITION BY id, key
         |        ORDER BY write_ts DESC, event_id DESC) AS rn
         |    FROM kv WHERE write_ts <= $R_TO
         |  ) WHERE rn = 1 AND NOT deleted
         |)
         |SELECT COALESCE(s1.id, s2.id) AS id, COALESCE(s1.key, s2.key) AS key,
         |  CASE WHEN s1.value IS NULL THEN 'added'
         |       WHEN s2.value IS NULL THEN 'removed'
         |       WHEN s1.value <> s2.value THEN 'changed' END AS status
         |FROM s1 FULL OUTER JOIN s2 ON s1.id = s2.id AND s1.key = s2.key
         |WHERE s1.value IS NULL OR s2.value IS NULL OR s1.value <> s2.value""".stripMargin,
    "user_transition_latency" ->
      """WITH e AS (
        |  SELECT user_id, event_id, epoch_ms(ts) AS t, event_type FROM events
        |), l AS (
        |  SELECT user_id, event_type, t,
        |         lag(event_type) OVER w AS from_type, lag(t) OVER w AS prev_t
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY t, event_id)
        |)
        |SELECT from_type, event_type AS to_type, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(t - prev_t) AS BIGINT) AS sum_ms,
        |  CAST(min(t - prev_t) AS BIGINT) AS min_ms,
        |  CAST(max(t - prev_t) AS BIGINT) AS max_ms,
        |  round(CAST(CAST(sum(t - prev_t) AS BIGINT) AS DOUBLE) / count(*), 4) AS mean_ms
        |FROM l WHERE from_type IS NOT NULL GROUP BY 1, 2""".stripMargin,

    // the DP replayed as a recursive-CTE anti-diagonal wavefront: each
    // iteration's working set holds levels {L-1 (carried), L (fresh)};
    // right/down successors come from fresh rows, the diagonal from
    // carried rows, so every level-L+1 cell gets all three predecessors
    // in one GROUP BY min. Integer costs end-to-end
    "ts_dtw" ->
      s"""$tsCte, paa AS (
         |  SELECT series_id, t // 43200000 AS bucket,
         |    CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT) AS v
         |  FROM ts GROUP BY series_id, t // 43200000
         |), sq AS (
         |  SELECT series_id, v,
         |    CAST(row_number() OVER (PARTITION BY series_id ORDER BY bucket) AS INT) AS idx
         |  FROM paa
         |), lens AS (
         |  SELECT series_id, CAST(count(*) AS BIGINT) AS n FROM sq GROUP BY series_id
         |), pairs AS (
         |  SELECT la.series_id AS sid_a, lb.series_id AS sid_b, la.n AS n_a, lb.n AS n_b
         |  FROM lens la JOIN lens lb ON la.series_id < lb.series_id
         |  WHERE abs(la.n - lb.n) <= 6
         |), cost AS (
         |  SELECT p.sid_a, p.sid_b, sa.idx AS i, sb.idx AS j, abs(sa.v - sb.v) AS c
         |  FROM pairs p JOIN sq sa ON sa.series_id = p.sid_a
         |       JOIN sq sb ON sb.series_id = p.sid_b
         |  WHERE abs(sa.idx - sb.idx) <= 6
         |)
         |SELECT sid_a, sid_b, n_a, n_b, acc AS dtw FROM (
         |  WITH RECURSIVE dp(sid_a, sid_b, i, j, acc, fresh) AS (
         |    SELECT sid_a, sid_b, 1, 1, c, true FROM cost WHERE i = 1 AND j = 1
         |    UNION ALL
         |    SELECT * FROM (
         |      WITH cand AS (
         |        SELECT sid_a, sid_b, i + 1 AS ni, j AS nj, acc FROM dp WHERE fresh
         |        UNION ALL SELECT sid_a, sid_b, i, j + 1, acc FROM dp WHERE fresh
         |        UNION ALL SELECT sid_a, sid_b, i + 1, j + 1, acc FROM dp WHERE NOT fresh
         |      ), nw AS (
         |        SELECT sid_a, sid_b, ni, nj, min(acc) AS best
         |        FROM cand GROUP BY sid_a, sid_b, ni, nj
         |      )
         |      SELECT nw.sid_a, nw.sid_b, ni, nj, best + cost.c, true
         |      FROM nw JOIN cost ON cost.sid_a = nw.sid_a AND cost.sid_b = nw.sid_b
         |                       AND cost.i = ni AND cost.j = nj
         |      UNION ALL
         |      SELECT sid_a, sid_b, i, j, acc, false FROM dp WHERE fresh
         |    )
         |  )
         |  SELECT dp.sid_a, dp.sid_b, p.n_a, p.n_b, dp.acc
         |  FROM dp JOIN pairs p ON dp.sid_a = p.sid_a AND dp.sid_b = p.sid_b
         |  WHERE dp.fresh AND dp.i = p.n_a AND dp.j = p.n_b
         |)""".stripMargin,

    // pmi = ln((c_ab/N2) / ((c_a/N1)(c_b/N1))) with the identical op
    // order, so the doubles agree bit-for-bit before round
    "text_collocations" ->
      """WITH d AS (
        |  SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS toks
        |  FROM documents
        |), uni AS (
        |  SELECT tok, CAST(count(*) AS BIGINT) AS c FROM (
        |    SELECT unnest(toks) AS tok FROM d) GROUP BY tok
        |), bg AS (
        |  SELECT bgm, CAST(count(*) AS BIGINT) AS c_ab FROM (
        |    SELECT unnest(list_transform(range(1, len(toks)),
        |      i -> toks[i] || ' ' || toks[i + 1])) AS bgm FROM d) GROUP BY bgm
        |), tot AS (
        |  SELECT (SELECT CAST(sum(c) AS BIGINT) FROM uni) AS n1,
        |         (SELECT CAST(sum(c_ab) AS BIGINT) FROM bg) AS n2
        |)
        |SELECT string_split(bgm, ' ')[1] AS w1, string_split(bgm, ' ')[2] AS w2,
        |  c_ab, ua.c AS c_a, ub.c AS c_b,
        |  round(ln((CAST(c_ab AS DOUBLE) / n2) /
        |    ((CAST(ua.c AS DOUBLE) / n1) * (CAST(ub.c AS DOUBLE) / n1))), 6) AS pmi
        |FROM bg, tot
        |  JOIN uni ua ON ua.tok = string_split(bgm, ' ')[1]
        |  JOIN uni ub ON ub.tok = string_split(bgm, ' ')[2]
        |WHERE c_ab >= 20
        |ORDER BY pmi DESC, w1 ASC, w2 ASC LIMIT 20""".stripMargin,
    "kv_history_scd2" ->
      s"""$kvCte
         |SELECT id, key, event_id, write_ts AS valid_from,
         |  lead(write_ts) OVER (PARTITION BY id, key
         |    ORDER BY write_ts ASC, event_id ASC) AS valid_to,
         |  (lead(write_ts) OVER (PARTITION BY id, key
         |    ORDER BY write_ts ASC, event_id ASC) IS NULL AND NOT deleted)
         |    AS is_current
         |FROM kv""".stripMargin,

    // hi = S - min(0, running min of S): the Page-CUSUM closed form the
    // streaming state machine computes incrementally
    "stream_cusum_replay" ->
      s"""$tsCte, b AS (
         |  SELECT series_id, t, event_id,
         |    CAST(round(value * 100, 0) AS BIGINT) AS c
         |  FROM ts
         |), w AS (
         |  SELECT series_id, t, event_id, c,
         |    CAST(sum(c - 5000) OVER (PARTITION BY series_id
         |      ORDER BY t, event_id ROWS UNBOUNDED PRECEDING) AS BIGINT) AS s
         |  FROM b
         |)
         |SELECT series_id, t, event_id, c,
         |  s - least(CAST(min(s) OVER (PARTITION BY series_id
         |    ORDER BY t, event_id ROWS UNBOUNDED PRECEDING) AS BIGINT), 0) AS hi
         |FROM w""".stripMargin,

    // full-history Holt recursion per series; the level expression is
    // repeated verbatim inside the trend update so both references are
    // the same IEEE double, and 1.0-α / 1.0-β are COMPUTED (not literal)
    // exactly as the Scala step computes them
    "stream_holt_replay" ->
      s"""${tsCte.replaceFirst("WITH ", "WITH RECURSIVE ")}, o AS (
         |  SELECT series_id, t, event_id, CAST(value AS DOUBLE) AS v,
         |    row_number() OVER (PARTITION BY series_id
         |      ORDER BY t, event_id) AS rn
         |  FROM ts
         |), s AS (
         |  SELECT series_id, t, event_id, rn, v AS lv, CAST(0.0 AS DOUBLE) AS b
         |  FROM o WHERE rn = 1
         |  UNION ALL
         |  SELECT o.series_id, o.t, o.event_id, o.rn,
         |    0.5 * o.v + (1.0 - 0.5) * (s.lv + s.b),
         |    0.3 * ((0.5 * o.v + (1.0 - 0.5) * (s.lv + s.b)) - s.lv)
         |      + (1.0 - 0.3) * s.b
         |  FROM s JOIN o ON o.series_id = s.series_id AND o.rn = s.rn + 1
         |)
         |SELECT series_id, t, event_id,
         |  round(lv, 6) AS level, round(b, 6) AS trend
         |FROM s""".stripMargin,

    // 1-based list index joined against range(1,65), re-0-based to match
    // posexplode; the float coordinate casts to DOUBLE before scaling on
    // both engines
    "embed_covariance" ->
      """WITH c AS (
        |  SELECT vec_id, i - 1 AS i,
        |    CAST(round(CAST(embedding[i] AS DOUBLE) * 1000000, 0) AS BIGINT) AS xi
        |  FROM embeddings, range(1, 65) t(i)
        |)
        |SELECT a.i AS i, b.i AS j, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(a.xi * b.xi) AS BIGINT) AS sxx
        |FROM c a JOIN c b ON a.vec_id = b.vec_id AND a.i <= b.i
        |GROUP BY 1, 2""".stripMargin,

    // exact-integer per-dimension profile; n·Σx²−(Σx)² is the variance
    // numerator with no division to disagree on
    "embed_dim_stats" ->
      """WITH c AS (
        |  SELECT vec_id, i - 1 AS dim,
        |    CAST(round(CAST(embedding[i] AS DOUBLE) * 1000000, 0) AS BIGINT) AS xm
        |  FROM embeddings, range(1, 65) t(i)
        |)
        |SELECT CAST(dim AS BIGINT) AS dim, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(xm) AS BIGINT) AS sum_micros,
        |  CAST(count(*) * CAST(sum(xm * xm) AS BIGINT)
        |     - CAST(sum(xm) AS BIGINT) * CAST(sum(xm) AS BIGINT) AS BIGINT) AS var_n2,
        |  CAST(min(xm) AS BIGINT) AS min_micros,
        |  CAST(max(xm) AS BIGINT) AS max_micros
        |FROM c GROUP BY dim""".stripMargin,
    // the sign-aware CASE reproduces Spark's truncate-toward-zero `div`
    // over DuckDB's flooring `//`
    "embed_pca_power" ->
      """WITH c AS (
        |  SELECT vec_id, i - 1 AS i,
        |    CAST(round(CAST(embedding[i] AS DOUBLE) * 1000000, 0) AS BIGINT) AS xi
        |  FROM embeddings, range(1, 65) t(i)
        |), g AS (
        |  SELECT i, j,
        |    CASE WHEN s >= 0 THEN s // 1000000000
        |         ELSE -((-s) // 1000000000) END AS m
        |  FROM (
        |    SELECT a.i AS i, b.i AS j, CAST(sum(a.xi * b.xi) AS BIGINT) AS s
        |    FROM c a JOIN c b ON a.vec_id = b.vec_id GROUP BY 1, 2)
        |), v0 AS (
        |  SELECT i - 1 AS j, CAST(100000 AS BIGINT) AS v FROM range(1, 65) t(i)
        |), w1 AS (
        |  SELECT g.i AS dim, CAST(sum(m * v) AS BIGINT) AS w
        |  FROM g JOIN v0 ON g.j = v0.j GROUP BY 1
        |), m1 AS (SELECT max(abs(w)) AS mx FROM w1),
        |v1 AS (
        |  SELECT dim AS j,
        |    CAST(CASE WHEN w >= 0 THEN (w * 100000) // mx
        |              ELSE -((-(w * 100000)) // mx) END AS BIGINT) AS v
        |  FROM w1, m1
        |), w2 AS (
        |  SELECT g.i AS dim, CAST(sum(m * v) AS BIGINT) AS w
        |  FROM g JOIN v1 ON g.j = v1.j GROUP BY 1
        |), m2 AS (SELECT max(abs(w)) AS mx FROM w2)
        |SELECT dim,
        |  CAST(CASE WHEN w >= 0 THEN (w * 100000) // mx
        |            ELSE -((-(w * 100000)) // mx) END AS BIGINT) AS v_micros
        |FROM w2, m2""".stripMargin,

    // per probe: nearest ref by |Δt|, ties to the at-or-before side, then
    // highest event_id among refs at the chosen instant (the AsOfJoin
    // equal-t winner)
    "ts_nearest_join" ->
      """WITH e AS (
        |  SELECT user_id, epoch_ms(ts) AS t, event_type, event_id FROM events
        |), p AS (SELECT user_id, t, event_id FROM e WHERE event_type = 'purchase'),
        |r AS (SELECT user_id, t, event_id FROM e WHERE event_type = 'error'),
        |j AS (
        |  SELECT p.user_id, p.t, p.event_id, r.t AS near_t,
        |         r.event_id AS near_event_id, abs(r.t - p.t) AS dist_ms,
        |         row_number() OVER (PARTITION BY p.event_id
        |           ORDER BY abs(r.t - p.t) ASC, (r.t > p.t) ASC,
        |                    r.event_id DESC) AS rn
        |  FROM p JOIN r ON p.user_id = r.user_id
        |)
        |SELECT user_id, t, event_id, near_t, near_event_id, dist_ms
        |FROM j WHERE rn = 1""".stripMargin,
    "graph_fof" ->
      """WITH occ AS (
        |  SELECT DISTINCT user_id AS u, event_type AS et, epoch_ms(ts) // 300000 AS m
        |  FROM events
        |), e AS (
        |  SELECT DISTINCT x.u AS a, y.u AS b
        |  FROM occ x JOIN occ y ON x.et = y.et AND x.m = y.m AND x.u < y.u
        |), und AS (
        |  SELECT a AS u, b AS v FROM e UNION ALL SELECT b, a FROM e
        |), deg AS (
        |  SELECT u, CAST(count(*) AS BIGINT) AS deg FROM und GROUP BY u
        |), two AS (
        |  SELECT DISTINCT e1.u AS src, e2.v AS dst
        |  FROM und e1 JOIN und e2 ON e1.v = e2.u AND e1.u <> e2.v
        |), fof AS (
        |  SELECT src, CAST(count(*) AS BIGINT) AS n_fof FROM two
        |  WHERE NOT EXISTS (SELECT 1 FROM und
        |    WHERE und.u = two.src AND und.v = two.dst)
        |  GROUP BY src
        |)
        |SELECT deg.u AS user_id, deg.deg, COALESCE(fof.n_fof, 0) AS n_fof
        |FROM deg LEFT JOIN fof ON deg.u = fof.src""".stripMargin,

    // identical census to graph_fof — the gate differs only in READING a
    // persisted bucketed layout instead of building edges in-plan
    "graph_edges_indexed" ->
      """WITH occ AS (
        |  SELECT DISTINCT user_id AS u, event_type AS et, epoch_ms(ts) // 300000 AS m
        |  FROM events
        |), e AS (
        |  SELECT DISTINCT x.u AS a, y.u AS b
        |  FROM occ x JOIN occ y ON x.et = y.et AND x.m = y.m AND x.u < y.u
        |), und AS (
        |  SELECT a AS u, b AS v FROM e UNION ALL SELECT b, a FROM e
        |), deg AS (
        |  SELECT u, CAST(count(*) AS BIGINT) AS deg FROM und GROUP BY u
        |), two AS (
        |  SELECT DISTINCT e1.u AS src, e2.v AS dst
        |  FROM und e1 JOIN und e2 ON e1.v = e2.u AND e1.u <> e2.v
        |), fof AS (
        |  SELECT src, CAST(count(*) AS BIGINT) AS n_fof FROM two
        |  WHERE NOT EXISTS (SELECT 1 FROM und
        |    WHERE und.u = two.src AND und.v = two.dst)
        |  GROUP BY src
        |)
        |SELECT deg.u AS user_id, deg.deg, COALESCE(fof.n_fof, 0) AS n_fof
        |FROM deg LEFT JOIN fof ON deg.u = fof.src""".stripMargin,
    // the appended layout must reproduce the FULL graph's census — the
    // oracle is graph_edges_indexed's verbatim (the 80/20 split is an
    // implementation detail the result may not show)
    "graph_edges_append" ->
      """WITH occ AS (
        |  SELECT DISTINCT user_id AS u, event_type AS et, epoch_ms(ts) // 300000 AS m
        |  FROM events
        |), e AS (
        |  SELECT DISTINCT x.u AS a, y.u AS b
        |  FROM occ x JOIN occ y ON x.et = y.et AND x.m = y.m AND x.u < y.u
        |), und AS (
        |  SELECT a AS u, b AS v FROM e UNION ALL SELECT b, a FROM e
        |), deg AS (
        |  SELECT u, CAST(count(*) AS BIGINT) AS deg FROM und GROUP BY u
        |), two AS (
        |  SELECT DISTINCT e1.u AS src, e2.v AS dst
        |  FROM und e1 JOIN und e2 ON e1.v = e2.u AND e1.u <> e2.v
        |), fof AS (
        |  SELECT src, CAST(count(*) AS BIGINT) AS n_fof FROM two
        |  WHERE NOT EXISTS (SELECT 1 FROM und
        |    WHERE und.u = two.src AND und.v = two.dst)
        |  GROUP BY src
        |)
        |SELECT deg.u AS user_id, deg.deg, COALESCE(fof.n_fof, 0) AS n_fof
        |FROM deg LEFT JOIN fof ON deg.u = fof.src""".stripMargin,

    // four unrolled peel rounds at k=3: each round keeps nodes whose
    // degree in the CURRENT residual graph is >= 3 and restricts the
    // edge set to kept endpoints
    "graph_kcore" ->
      """WITH occ AS (
        |  SELECT DISTINCT user_id AS u, event_type AS et, epoch_ms(ts) // 300000 AS m
        |  FROM events
        |), e AS (
        |  SELECT DISTINCT x.u AS a, y.u AS b
        |  FROM occ x JOIN occ y ON x.et = y.et AND x.m = y.m AND x.u < y.u
        |), u0 AS (
        |  SELECT a AS u, b AS v FROM e UNION ALL SELECT b, a FROM e
        |), n0 AS (SELECT u FROM u0 GROUP BY u HAVING count(*) >= 3),
        |u1 AS (SELECT x.u, x.v FROM u0 x JOIN n0 a ON x.u = a.u JOIN n0 b ON x.v = b.u),
        |n1 AS (SELECT u FROM u1 GROUP BY u HAVING count(*) >= 3),
        |u2 AS (SELECT x.u, x.v FROM u1 x JOIN n1 a ON x.u = a.u JOIN n1 b ON x.v = b.u),
        |n2 AS (SELECT u FROM u2 GROUP BY u HAVING count(*) >= 3),
        |u3 AS (SELECT x.u, x.v FROM u2 x JOIN n2 a ON x.u = a.u JOIN n2 b ON x.v = b.u),
        |n3 AS (SELECT u FROM u3 GROUP BY u HAVING count(*) >= 3),
        |u4 AS (SELECT x.u, x.v FROM u3 x JOIN n3 a ON x.u = a.u JOIN n3 b ON x.v = b.u)
        |SELECT u AS user_id, CAST(count(*) AS BIGINT) AS deg_residual
        |FROM u4 GROUP BY u""".stripMargin,

    "graph_linkpred" ->
      """WITH occ AS (
        |  SELECT DISTINCT user_id AS u, event_type AS et, epoch_ms(ts) // 300000 AS m
        |  FROM events
        |), e AS (
        |  SELECT DISTINCT x.u AS a, y.u AS b
        |  FROM occ x JOIN occ y ON x.et = y.et AND x.m = y.m AND x.u < y.u
        |), und AS (
        |  SELECT a AS u, b AS v FROM e UNION ALL SELECT b, a FROM e
        |), two AS (
        |  SELECT e1.u AS a, e2.v AS b, CAST(count(*) AS BIGINT) AS common
        |  FROM und e1 JOIN und e2 ON e1.v = e2.u AND e1.u < e2.v
        |  GROUP BY 1, 2
        |)
        |SELECT a, b, common FROM two
        |WHERE NOT EXISTS (SELECT 1 FROM e WHERE e.a = two.a AND e.b = two.b)
        |ORDER BY common DESC, a ASC, b ASC LIMIT 100""".stripMargin,

    "graph_adamic_adar" ->
      """WITH occ AS (
        |  SELECT DISTINCT user_id AS u, event_type AS et, epoch_ms(ts) // 300000 AS m
        |  FROM events
        |), e AS (
        |  SELECT DISTINCT x.u AS a, y.u AS b
        |  FROM occ x JOIN occ y ON x.et = y.et AND x.m = y.m AND x.u < y.u
        |), und AS (
        |  SELECT a AS u, b AS v FROM e UNION ALL SELECT b, a FROM e
        |), deg AS (
        |  SELECT u, CAST(count(*) AS BIGINT) AS deg FROM und GROUP BY u
        |), w AS (
        |  SELECT e1.u AS a, e2.v AS b, d.deg AS dmid
        |  FROM und e1 JOIN und e2 ON e1.v = e2.u AND e1.u < e2.v
        |  JOIN deg d ON d.u = e1.v
        |), sc AS (
        |  SELECT a, b,
        |    CAST(sum(CAST(round(1000000.0 / ln(CAST(dmid AS DOUBLE)), 0)
        |      AS BIGINT)) AS BIGINT) AS aa_micros,
        |    CAST(count(*) AS BIGINT) AS common
        |  FROM w GROUP BY a, b
        |)
        |SELECT a, b, aa_micros, common FROM sc
        |WHERE NOT EXISTS (SELECT 1 FROM e WHERE e.a = sc.a AND e.b = sc.b)
        |ORDER BY aa_micros DESC, a ASC, b ASC LIMIT 100""".stripMargin,
    // two synchronous rounds: every node starts as its own label; each
    // round adopts (max neighbor-label count, ties to smallest label)
    "graph_lpa" ->
      """WITH occ AS (
        |  SELECT DISTINCT user_id AS u, event_type AS et, epoch_ms(ts) // 300000 AS m
        |  FROM events
        |), e AS (
        |  SELECT DISTINCT x.u AS a, y.u AS b
        |  FROM occ x JOIN occ y ON x.et = y.et AND x.m = y.m AND x.u < y.u
        |), und AS (
        |  SELECT a AS u, b AS v FROM e UNION ALL SELECT b, a FROM e
        |), l0 AS (
        |  SELECT u AS node, u AS lab FROM und GROUP BY u
        |), m1 AS (
        |  SELECT und.u AS node, l0.lab, count(*) AS c
        |  FROM und JOIN l0 ON und.v = l0.node GROUP BY 1, 2
        |), b1 AS (SELECT node, max(c) AS cmax FROM m1 GROUP BY node),
        |l1 AS (
        |  SELECT m1.node, min(m1.lab) AS lab
        |  FROM m1 JOIN b1 ON m1.node = b1.node AND m1.c = b1.cmax
        |  GROUP BY m1.node
        |), m2 AS (
        |  SELECT und.u AS node, l1.lab, count(*) AS c
        |  FROM und JOIN l1 ON und.v = l1.node GROUP BY 1, 2
        |), b2 AS (SELECT node, max(c) AS cmax FROM m2 GROUP BY node)
        |SELECT m2.node AS user_id, min(m2.lab) AS community
        |FROM m2 JOIN b2 ON m2.node = b2.node AND m2.c = b2.cmax
        |GROUP BY m2.node""".stripMargin,
    "graph_jaccard" ->
      """WITH occ AS (
        |  SELECT DISTINCT user_id AS u, event_type AS et, epoch_ms(ts) // 300000 AS m
        |  FROM events
        |), e AS (
        |  SELECT DISTINCT x.u AS a, y.u AS b
        |  FROM occ x JOIN occ y ON x.et = y.et AND x.m = y.m AND x.u < y.u
        |), und AS (
        |  SELECT a AS u, b AS v FROM e UNION ALL SELECT b, a FROM e
        |), deg AS (
        |  SELECT u, CAST(count(*) AS BIGINT) AS deg FROM und GROUP BY u
        |), two AS (
        |  SELECT e1.u AS a, e2.v AS b, CAST(count(*) AS BIGINT) AS common
        |  FROM und e1 JOIN und e2 ON e1.v = e2.u AND e1.u < e2.v
        |  GROUP BY 1, 2
        |), ne AS (
        |  SELECT a, b, common FROM two
        |  WHERE NOT EXISTS (SELECT 1 FROM e WHERE e.a = two.a AND e.b = two.b)
        |)
        |SELECT ne.a, ne.b, ne.common,
        |  CAST(ne.common * 1000000 // (da.deg + db.deg - ne.common)
        |    AS BIGINT) AS jac_micros
        |FROM ne JOIN deg da ON da.u = ne.a JOIN deg db ON db.u = ne.b
        |ORDER BY jac_micros DESC, a ASC, b ASC LIMIT 100""".stripMargin,

    "sample_bootstrap" ->
      """WITH b AS (
        |  SELECT rep, doc_id, n_chars,
        |    (doc_id * 2654435761 + rep * 40503) % 1000000 AS u
        |  FROM documents, (SELECT unnest([0, 1, 2]) AS rep)
        |), k AS (
        |  SELECT rep, n_chars,
        |    CASE WHEN u < 367879 THEN 0 WHEN u < 735758 THEN 1
        |         WHEN u < 919698 THEN 2 WHEN u < 981011 THEN 3
        |         WHEN u < 996340 THEN 4 ELSE 5 END AS k
        |  FROM b
        |)
        |SELECT CAST(rep AS BIGINT) AS rep,
        |  CAST(sum(CASE WHEN k > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_docs,
        |  CAST(sum(k) AS BIGINT) AS n_draws,
        |  CAST(sum(k * n_chars) AS BIGINT) AS sum_chars
        |FROM k GROUP BY rep""".stripMargin,

    "events_ab_cuped" ->
      """WITH base AS (
        |  SELECT user_id, epoch_ms(ts) AS t,
        |    CAST(round(value * 100, 0) AS BIGINT) AS c
        |  FROM events
        |), pu AS (
        |  SELECT user_id,
        |    CAST(round(CAST(sum(CASE WHEN t < 1705363200000 THEN c END) AS DOUBLE)
        |      / count(CASE WHEN t < 1705363200000 THEN 1 END), 0) AS BIGINT) AS x,
        |    CAST(round(CAST(sum(CASE WHEN t >= 1705363200000 THEN c END) AS DOUBLE)
        |      / count(CASE WHEN t >= 1705363200000 THEN 1 END), 0) AS BIGINT) AS y,
        |    CASE WHEN (user_id * 2654435761) % 1000 < 500
        |      THEN 'A' ELSE 'B' END AS variant
        |  FROM base GROUP BY user_id
        |  HAVING count(CASE WHEN t < 1705363200000 THEN 1 END) > 0
        |     AND count(CASE WHEN t >= 1705363200000 THEN 1 END) > 0
        |), gl AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(x) AS BIGINT) AS sx,
        |    CAST(sum(y) AS BIGINT) AS sy, CAST(sum(x * x) AS BIGINT) AS sxx,
        |    CAST(sum(x * y) AS BIGINT) AS sxy
        |  FROM pu
        |), arm AS (
        |  SELECT variant, CAST(count(*) AS BIGINT) AS n_users,
        |    CAST(sum(x) AS BIGINT) AS ax, CAST(sum(y) AS BIGINT) AS ay
        |  FROM pu GROUP BY variant
        |)
        |SELECT variant, n_users,
        |  round(CAST(ay AS DOUBLE) / (n_users * 100.0), 4) AS raw_mean,
        |  round((CAST(ay AS DOUBLE) / n_users -
        |    ((CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy) /
        |     (CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)) *
        |    (CAST(ax AS DOUBLE) / n_users - CAST(sx AS DOUBLE) / n)) / 100.0, 4)
        |    AS cuped_mean
        |FROM arm, gl""".stripMargin,
    "events_ab_srm" ->
      """WITH a AS (
        |  SELECT user_id, event_id,
        |    CASE WHEN (user_id * 2654435761) % 1000 < 500 THEN 'A' ELSE 'B' END AS variant
        |  FROM events
        |), v AS (
        |  SELECT variant, CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
        |    CAST(count(*) AS BIGINT) AS n_events
        |  FROM a GROUP BY variant
        |), t AS (
        |  SELECT CAST(sum(n_users) AS BIGINT) AS tu FROM v
        |)
        |SELECT variant, n_users, n_events,
        |  round((CAST(n_users AS DOUBLE) - CAST(tu AS DOUBLE) / 2.0) *
        |        (CAST(n_users AS DOUBLE) - CAST(tu AS DOUBLE) / 2.0) /
        |        (CAST(tu AS DOUBLE) / 2.0), 6) AS chi2_users
        |FROM v, t""".stripMargin,
    "graph_modularity" ->
      """WITH occ AS (
        |  SELECT DISTINCT user_id AS u, event_type AS et, epoch_ms(ts) // 300000 AS m
        |  FROM events
        |), e AS (
        |  SELECT DISTINCT x.u AS a, y.u AS b
        |  FROM occ x JOIN occ y ON x.et = y.et AND x.m = y.m AND x.u < y.u
        |), mt AS (SELECT CAST(count(*) AS BIGINT) AS m2 FROM e),
        |ein AS (
        |  SELECT a % 8 AS c, CAST(count(*) AS BIGINT) AS e_in
        |  FROM e WHERE a % 8 = b % 8 GROUP BY 1
        |), dsum AS (
        |  SELECT n % 8 AS c, CAST(count(*) AS BIGINT) AS d_sum FROM (
        |    SELECT a AS n FROM e UNION ALL SELECT b FROM e) GROUP BY 1
        |)
        |SELECT dsum.c, COALESCE(ein.e_in, 0) AS e_in, dsum.d_sum,
        |  4 * m2 * COALESCE(ein.e_in, 0) - dsum.d_sum * dsum.d_sum AS q_term
        |FROM dsum LEFT JOIN ein ON dsum.c = ein.c, mt""".stripMargin,

    "ts_forecast_eval" ->
      s"""$tsCte, hourly AS (
         |  SELECT series_id, t // 3600000 AS h,
         |    CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT) AS v
         |  FROM ts GROUP BY series_id, t // 3600000
         |)
         |SELECT a.series_id, CAST(count(*) AS BIGINT) AS n,
         |  CAST(sum(abs(a.v - p.v)) AS BIGINT) AS mae_naive_cents,
         |  CAST(sum(abs(a.v - sn.v)) AS BIGINT) AS mae_seasonal_cents
         |FROM hourly a
         |  JOIN hourly p ON a.series_id = p.series_id AND p.h = a.h - 1
         |  JOIN hourly sn ON a.series_id = sn.series_id AND sn.h = a.h - 24
         |GROUP BY a.series_id""".stripMargin,
    "ts_gap_stats" ->
      s"""$tsCte, l AS (
         |  SELECT series_id, t - lag(t) OVER (PARTITION BY series_id
         |    ORDER BY t, event_id) AS gap
         |  FROM ts
         |)
         |SELECT series_id, CAST(count(*) AS BIGINT) AS n_intervals,
         |  CAST(sum(CASE WHEN gap > 300000 THEN 1 ELSE 0 END) AS BIGINT) AS n_gaps,
         |  CAST(max(gap) AS BIGINT) AS max_gap_ms,
         |  CAST(sum(CASE WHEN gap > 300000 THEN gap ELSE 0 END) AS BIGINT) AS gap_ms_total
         |FROM l WHERE gap IS NOT NULL GROUP BY series_id""".stripMargin,

    // ---- sketch-seeded oracles (placeholders filled by Verify) -----------
    "dedup_simhash" ->
      """WITH sh AS (SELECT * FROM (VALUES __SIMHASH_SKETCHES__) AS t(doc_id, sh))
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |  CAST(bit_count(xor(a.sh, b.sh)) AS BIGINT) AS hamming
        |FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        |WHERE bit_count(xor(a.sh, b.sh)) <= 3""".stripMargin,
    "dedup_jaro" ->
      """WITH h AS (
        |  SELECT doc_id, substr(lower(trim(text)), 1, 24) AS head
        |  FROM documents
        |)
        |SELECT x.doc_id AS id_a, y.doc_id AS id_b,
        |  round(jaro_winkler_similarity(x.head, y.head), 4) AS jw
        |FROM h x JOIN h y
        |  ON substr(x.head, 1, 4) = substr(y.head, 1, 4) AND x.doc_id < y.doc_id
        |WHERE jaro_winkler_similarity(x.head, y.head) >= 0.92""".stripMargin,
    "mm_phash_neardup" ->
      """WITH sh AS (SELECT * FROM (VALUES __PHASH_SKETCHES__) AS t(doc_id, sh))
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |  CAST(bit_count(xor(a.sh, b.sh)) AS BIGINT) AS hamming
        |FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        |WHERE bit_count(xor(a.sh, b.sh)) <= 3""".stripMargin,
    "dedup_minhash" ->
      """WITH bands AS (SELECT * FROM (VALUES __MINHASH_BANDS__) AS t(doc_id, band, bh)),
        |cand AS (
        |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM bands a JOIN bands b
        |  ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id
        |),
        |t AS (
        |  SELECT doc_id, list_distinct(string_split_regex(lower(trim(text)), '\s+')) AS toks
        |  FROM documents WHERE doc_id < 1000
        |)
        |SELECT c.id_a, c.id_b,
        |  round(CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE) /
        |        (len(a.toks) + len(b.toks) - len(list_intersect(a.toks, b.toks))), 6) AS jaccard
        |FROM cand c JOIN t a ON a.doc_id = c.id_a JOIN t b ON b.doc_id = c.id_b
        |WHERE CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE) /
        |      (len(a.toks) + len(b.toks) - len(list_intersect(a.toks, b.toks))) >= 0.8""".stripMargin,
    "dedup_incremental_near" ->
      """WITH bands AS (SELECT * FROM (VALUES __MINHASH_BANDS__) AS t(doc_id, band, bh)),
        |cand AS (
        |  SELECT DISTINCT n.doc_id AS doc_id, h.doc_id AS hist_id
        |  FROM bands n JOIN bands h
        |  ON n.band = h.band AND n.bh = h.bh
        |  WHERE n.doc_id % 2 <> 0 AND h.doc_id % 2 = 0
        |),
        |t AS (
        |  SELECT doc_id, list_distinct(string_split_regex(lower(trim(text)), '\s+')) AS toks
        |  FROM documents WHERE doc_id < 1000
        |)
        |SELECT c.doc_id, c.hist_id,
        |  round(CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE) /
        |        (len(a.toks) + len(b.toks) - len(list_intersect(a.toks, b.toks))), 6) AS jaccard
        |FROM cand c JOIN t a ON a.doc_id = c.doc_id JOIN t b ON b.doc_id = c.hist_id
        |WHERE CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE) /
        |      (len(a.toks) + len(b.toks) - len(list_intersect(a.toks, b.toks))) >= 0.8""".stripMargin,
    "ann_lsh" ->
      s"""WITH bk AS (SELECT * FROM (VALUES __ANN_BUCKETS__) AS t(vec_id, bucket)),
         |e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |eb AS (SELECT e.vec_id, e.v, bk.bucket FROM e JOIN bk ON e.vec_id = bk.vec_id)
         |SELECT a.vec_id AS id_a, b.vec_id AS id_b, round($cosAB, 6) AS sim
         |FROM eb a JOIN eb b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
         |WHERE round($cosAB, 6) >= 0.3""".stripMargin,
    "ann_ivf" ->
      """WITH cells AS (SELECT * FROM (VALUES __IVF_CELLS__) AS t(vec_id, cell)),
        |probes AS (SELECT * FROM (VALUES __IVF_PROBES__) AS t(query_id, cell)),
        |e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |sc AS (
        |  SELECT p.query_id, c.vec_id AS neighbor_id,
        |    round(list_dot_product(q.v, x.v) /
        |          (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(x.v, x.v))), 6) AS sim
        |  FROM probes p
        |  JOIN cells c ON c.cell = p.cell AND c.vec_id <> p.query_id
        |  JOIN e q ON q.vec_id = p.query_id
        |  JOIN e x ON x.vec_id = c.vec_id
        |)
        |SELECT query_id, neighbor_id, sim FROM sc
        |WHERE sim IS NOT NULL AND NOT isnan(sim)
        |QUALIFY row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id ASC) <= 5""".stripMargin,
    // identical replay for the persisted-index path: the index is the same
    // deterministic fit written to parquet (doubles round-trip bit-exact),
    // so the exported cell/probe literals describe it too
    // same shape under the history-fit centers: cells/probes exported from
    // the ivfAppendParts model the frozen-center append is equivalent to
    "ann_ivf_append" ->
      """WITH cells AS (SELECT * FROM (VALUES __IVFA_CELLS__) AS t(vec_id, cell)),
        |probes AS (SELECT * FROM (VALUES __IVFA_PROBES__) AS t(query_id, cell)),
        |e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |sc AS (
        |  SELECT p.query_id, c.vec_id AS neighbor_id,
        |    round(list_dot_product(q.v, x.v) /
        |          (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(x.v, x.v))), 6) AS sim
        |  FROM probes p
        |  JOIN cells c ON c.cell = p.cell AND c.vec_id <> p.query_id
        |  JOIN e q ON q.vec_id = p.query_id
        |  JOIN e x ON x.vec_id = c.vec_id
        |)
        |SELECT query_id, neighbor_id, sim FROM sc
        |WHERE sim IS NOT NULL AND NOT isnan(sim)
        |QUALIFY row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id ASC) <= 5""".stripMargin,
    "ann_ivf_indexed" ->
      """WITH cells AS (SELECT * FROM (VALUES __IVF_CELLS__) AS t(vec_id, cell)),
        |probes AS (SELECT * FROM (VALUES __IVF_PROBES__) AS t(query_id, cell)),
        |e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |sc AS (
        |  SELECT p.query_id, c.vec_id AS neighbor_id,
        |    round(list_dot_product(q.v, x.v) /
        |          (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(x.v, x.v))), 6) AS sim
        |  FROM probes p
        |  JOIN cells c ON c.cell = p.cell AND c.vec_id <> p.query_id
        |  JOIN e q ON q.vec_id = p.query_id
        |  JOIN e x ON x.vec_id = c.vec_id
        |)
        |SELECT query_id, neighbor_id, sim FROM sc
        |WHERE sim IS NOT NULL AND NOT isnan(sim)
        |QUALIFY row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id ASC) <= 5""".stripMargin,
    // same search, doomed ids (vec_id % 7 = 6) excluded by predicate —
    // the retained-corpus truth the masked AND folded index must match
    "ann_ivf_delete" ->
      """WITH cells AS (SELECT * FROM (VALUES __IVF_CELLS__) AS t(vec_id, cell)),
        |probes AS (SELECT * FROM (VALUES __IVF_PROBES__) AS t(query_id, cell)),
        |e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |sc AS (
        |  SELECT p.query_id, c.vec_id AS neighbor_id,
        |    round(list_dot_product(q.v, x.v) /
        |          (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(x.v, x.v))), 6) AS sim
        |  FROM probes p
        |  JOIN cells c ON c.cell = p.cell AND c.vec_id <> p.query_id
        |    AND c.vec_id % 7 <> 6
        |  JOIN e q ON q.vec_id = p.query_id
        |  JOIN e x ON x.vec_id = c.vec_id
        |)
        |SELECT query_id, neighbor_id, sim FROM sc
        |WHERE sim IS NOT NULL AND NOT isnan(sim)
        |QUALIFY row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id ASC) <= 5""".stripMargin,

    // ---- Round-4 OLAP shapes ---------------------------------------------
    "q4_priority_exists" ->
      """SELECT o_orderpriority, count(*) AS n_orders FROM orders
        |WHERE EXISTS (SELECT 1 FROM lineitem
        |              WHERE l_orderkey = o_orderkey AND l_quantity > 45)
        |GROUP BY o_orderpriority""".stripMargin,
    "q7_nation_volume" ->
      """SELECT cn.n_name AS cust_nation, sn.n_name AS supp_nation,
        |  round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue,
        |  count(*) AS n_items
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation cn ON c_nationkey = cn.n_nationkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation sn ON s_nationkey = sn.n_nationkey
        |WHERE l_shipdate >= TIMESTAMP '1995-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
        |  AND cn.n_name <> sn.n_name
        |GROUP BY cn.n_name, sn.n_name""".stripMargin,
    "q13_custdist" ->
      """WITH per_cust AS (
        |  SELECT c_custkey, count(o_orderkey) AS n_orders
        |  FROM customer LEFT OUTER JOIN orders ON c_custkey = o_custkey
        |  GROUP BY c_custkey
        |)
        |SELECT n_orders, count(*) AS custdist FROM per_cust GROUP BY n_orders""".stripMargin,
    "q15_top_supplier" ->
      """WITH rev AS (
        |  SELECT l_suppkey, round(sum(l_extendedprice * (1 - l_discount)), 4) AS total_rev
        |  FROM lineitem
        |  WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1996-04-01'
        |  GROUP BY l_suppkey
        |)
        |SELECT s_suppkey, s_name, total_rev
        |FROM rev JOIN supplier ON l_suppkey = s_suppkey
        |WHERE total_rev = (SELECT max(total_rev) FROM rev)""".stripMargin,
    "q17_small_quantity" ->
      """WITH li AS (
        |  SELECT l_partkey, l_quantity, l_extendedprice
        |  FROM lineitem JOIN part ON l_partkey = p_partkey
        |  WHERE p_brand = 'Brand#19'
        |), avgq AS (
        |  SELECT l_partkey AS a_partkey, avg(l_quantity) AS avg_qty
        |  FROM li GROUP BY l_partkey
        |)
        |SELECT round(sum(l_extendedprice) / 7.0, 4) AS avg_yearly
        |FROM li JOIN avgq ON l_partkey = a_partkey
        |WHERE l_quantity < 0.5 * avg_qty""".stripMargin,

    "q8_market_share" ->
      """SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,
        |  round(sum(CASE WHEN sn.n_name = 'NATION_3'
        |                 THEN l_extendedprice * (1 - l_discount) ELSE 0.0 END) /
        |        sum(l_extendedprice * (1 - l_discount)), 4) AS mkt_share,
        |  count(*) AS n_items
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation cn ON c_nationkey = cn.n_nationkey
        |JOIN region ON cn.n_regionkey = r_regionkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation sn ON s_nationkey = sn.n_nationkey
        |WHERE r_name = 'ASIA'
        |GROUP BY year(o_orderdate)""".stripMargin,
    "q22_no_orders" ->
      """SELECT c_mktsegment, count(*) AS n_cust, round(sum(c_acctbal), 4) AS total_bal
        |FROM customer c
        |WHERE c_acctbal > (SELECT round(round(sum(c_acctbal), 2) / count(*), 6)
        |                   FROM customer WHERE c_acctbal > 0)
        |  AND NOT EXISTS (SELECT 1 FROM orders
        |                  WHERE o_custkey = c.c_custkey
        |                    AND o_orderdate >= TIMESTAMP '2000-01-01')
        |GROUP BY c_mktsegment""".stripMargin,
    "q2_min_cost_supplier" ->
      """WITH asupp AS (
        |  SELECT s_suppkey, s_name FROM supplier
        |  JOIN nation ON s_nationkey = n_nationkey
        |  JOIN region ON n_regionkey = r_regionkey
        |  WHERE r_name = 'ASIA'
        |), p AS (SELECT p_partkey, p_name FROM part WHERE p_size = 10),
        |cost AS (
        |  SELECT l.l_partkey AS p_partkey, l.l_suppkey,
        |         min(l.l_extendedprice / l.l_quantity) AS unit_cost
        |  FROM lineitem l
        |  JOIN p ON l.l_partkey = p.p_partkey
        |  JOIN asupp a ON l.l_suppkey = a.s_suppkey
        |  GROUP BY 1, 2
        |), mc AS (SELECT p_partkey, min(unit_cost) AS min_cost FROM cost GROUP BY 1),
        |pick AS (
        |  SELECT c.p_partkey, c.unit_cost, min(c.l_suppkey) AS s_suppkey
        |  FROM cost c JOIN mc ON c.p_partkey = mc.p_partkey
        |                     AND c.unit_cost = mc.min_cost
        |  GROUP BY 1, 2
        |)
        |SELECT k.p_partkey, p.p_name, k.s_suppkey, a.s_name,
        |       round(k.unit_cost, 4) AS unit_cost
        |FROM pick k JOIN p ON k.p_partkey = p.p_partkey
        |            JOIN asupp a ON k.s_suppkey = a.s_suppkey""".stripMargin,
    "q11_stock_share" ->
      """WITH v AS (
        |  SELECT n_name,
        |    sum(CAST(l_quantity AS BIGINT) *
        |        CAST(round(p_retailprice * 10.0) AS BIGINT)) AS stock_decis
        |  FROM lineitem
        |  JOIN part ON l_partkey = p_partkey
        |  JOIN supplier ON l_suppkey = s_suppkey
        |  JOIN nation ON s_nationkey = n_nationkey
        |  GROUP BY 1
        |)
        |SELECT n_name, CAST(stock_decis AS BIGINT) AS stock_decis FROM v
        |WHERE stock_decis * 15 > (SELECT sum(stock_decis) FROM v)""".stripMargin,
    "q16_supplier_variety" ->
      """SELECT p_brand, p_size, count(DISTINCT l_suppkey) AS supplier_cnt
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE p_type <> 'PROMO' AND p_size IN (1, 14, 23, 45)
        |  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
        |GROUP BY p_brand, p_size""".stripMargin,
    "q20_qty_suppliers" ->
      """WITH sq AS (
        |  SELECT l_suppkey, CAST(sum(l_quantity) AS BIGINT) AS qty
        |  FROM lineitem JOIN part ON l_partkey = p_partkey
        |  WHERE p_name LIKE 'small %'
        |  GROUP BY 1
        |), t AS (SELECT sum(qty) AS tot, count(*) AS nsupp FROM sq)
        |SELECT s_suppkey, s_name, n_name, qty
        |FROM sq
        |CROSS JOIN t
        |JOIN supplier ON sq.l_suppkey = s_suppkey
        |JOIN nation ON s_nationkey = n_nationkey
        |WHERE qty * nsupp * 10 > tot * 11""".stripMargin,
    "q12_late_priority" ->
      """SELECT l_returnflag,
        |  count(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH')
        |             THEN 1 END) AS high_line_count,
        |  count(CASE WHEN o_orderpriority NOT IN ('1-URGENT','2-HIGH')
        |             THEN 1 END) AS low_line_count
        |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |WHERE l_returnflag IN ('A','R')
        |  AND (CAST(l_shipdate AS DATE) - CAST(o_orderdate AS DATE)) > 365
        |GROUP BY l_returnflag""".stripMargin,
    "q21_waiting_supplier" ->
      """SELECT s_name, count(*) AS numwait
        |FROM lineitem l1
        |JOIN orders ON l1.l_orderkey = o_orderkey
        |JOIN supplier ON l1.l_suppkey = s_suppkey
        |JOIN nation ON s_nationkey = n_nationkey
        |WHERE o_orderstatus = 'F' AND n_name = 'NATION_3'
        |  AND (CAST(l1.l_shipdate AS DATE) - CAST(o_orderdate AS DATE)) > 365
        |  AND EXISTS (SELECT 1 FROM lineitem l2
        |              WHERE l2.l_orderkey = l1.l_orderkey
        |                AND l2.l_suppkey <> l1.l_suppkey)
        |  AND NOT EXISTS (SELECT 1 FROM lineitem l3
        |                  WHERE l3.l_orderkey = l1.l_orderkey
        |                    AND l3.l_suppkey <> l1.l_suppkey
        |                    AND (CAST(l3.l_shipdate AS DATE) -
        |                         CAST(o_orderdate AS DATE)) > 365)
        |GROUP BY s_name""".stripMargin,
    "events_bloom_join" ->
      """WITH h AS (SELECT * FROM (VALUES (0, 2654435761, 1), (1, 2246822519, 7),
        |  (2, 3266489917, 13), (3, 668265263, 31)) AS t(i, a, bq)),
        |members AS (
        |  SELECT user_id FROM events WHERE event_type = 'purchase'
        |  GROUP BY user_id HAVING count(*) >= 16
        |),
        |words AS (
        |  SELECT hh // 32 AS w, bit_or(1::BIGINT << CAST(hh % 32 AS INT)) AS word
        |  FROM (SELECT ((user_id * a + bq) % 2147483647) % 256 AS hh
        |        FROM members, h)
        |  GROUP BY 1
        |),
        |probe AS (
        |  SELECT event_id, user_id,
        |    bool_and((COALESCE(word, 0) &
        |              (1::BIGINT << CAST((hh % 32) AS INT))) <> 0) AS bloom_hit
        |  FROM (SELECT event_id, user_id,
        |          ((user_id * a + bq) % 2147483647) % 256 AS hh
        |        FROM events, h) e
        |  LEFT JOIN words ON (e.hh // 32) = words.w
        |  GROUP BY event_id, user_id
        |)
        |SELECT p.event_id, p.user_id, p.bloom_hit,
        |       (m.user_id IS NOT NULL) AS is_member
        |FROM probe p LEFT JOIN members m ON p.user_id = m.user_id""".stripMargin,

    // ---- Round-4 corpus / vector analytics --------------------------------
    "text_entropy" ->
      """WITH t AS (
        |  SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\s+')) AS tok
        |  FROM documents
        |), f AS (SELECT doc_id, tok, count(*) AS c FROM t GROUP BY doc_id, tok)
        |SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens,
        |  round(log2(sum(c)) - sum(c * log2(c)) / sum(c), 4) AS entropy
        |FROM f GROUP BY doc_id""".stripMargin,
    "vocab_topk" ->
      """WITH t AS (
        |  SELECT unnest(string_split_regex(lower(trim(text)), '\s+')) AS tok
        |  FROM documents
        |)
        |SELECT tok, count(*) AS c FROM t GROUP BY tok
        |ORDER BY c DESC, tok ASC LIMIT 50""".stripMargin,

    "text_oov_rate" ->
      """WITH t AS (
        |  SELECT source,
        |    unnest(string_split_regex(lower(trim(text)), '\s+')) AS tok
        |  FROM documents
        |), vocab AS (
        |  SELECT tok FROM t GROUP BY tok
        |  ORDER BY count(*) DESC, tok ASC LIMIT 256
        |)
        |SELECT source, CAST(count(*) AS BIGINT) AS n_tokens,
        |  CAST(sum(CASE WHEN t.tok IN (SELECT tok FROM vocab)
        |    THEN 0 ELSE 1 END) AS BIGINT) AS n_oov,
        |  CAST(CAST(sum(CASE WHEN t.tok IN (SELECT tok FROM vocab)
        |    THEN 0 ELSE 1 END) AS BIGINT) * 1000000
        |    // CAST(count(*) AS BIGINT) AS BIGINT) AS oov_ppm
        |FROM t GROUP BY source""".stripMargin,
    // cumulative windows CAST to BIGINT: DuckDB widens window sums of
    // BIGINT to HUGEINT (the q11/stream_rate bug class)
    "text_heaps" ->
      """WITH mx AS (SELECT max(doc_id) AS mxid FROM documents),
        |t AS (
        |  SELECT doc_id,
        |    unnest(string_split_regex(lower(trim(text)), '\s+')) AS tok
        |  FROM documents
        |), bt AS (
        |  SELECT doc_id * 32 // (mxid + 1) AS bucket, count(*) AS c
        |  FROM t, mx GROUP BY 1
        |), fo AS (SELECT tok, min(doc_id) AS fd FROM t GROUP BY tok),
        |nv AS (
        |  SELECT fd * 32 // (mxid + 1) AS bucket, count(*) AS nv
        |  FROM fo, mx GROUP BY 1
        |)
        |SELECT bt.bucket,
        |  CAST(sum(bt.c) OVER (ORDER BY bt.bucket) AS BIGINT) AS cum_tokens,
        |  CAST(sum(COALESCE(nv.nv, 0)) OVER (ORDER BY bt.bucket) AS BIGINT)
        |    AS cum_vocab
        |FROM bt LEFT JOIN nv ON bt.bucket = nv.bucket""".stripMargin,
    "sample_temperature" ->
      """WITH counts AS (SELECT source, count(*) AS c FROM documents GROUP BY source),
        |den AS (
        |  SELECT list_dot_product(list(sqrt(c) ORDER BY source),
        |         list_transform(list(sqrt(c) ORDER BY source), x -> 1.0)) AS denom
        |  FROM counts
        |), q AS (
        |  SELECT source, CAST(floor(sqrt(c) / denom * 300 + 0.5) AS BIGINT) AS quota
        |  FROM counts, den
        |), r AS (
        |  SELECT doc_id, source,
        |    row_number() OVER (PARTITION BY source
        |      ORDER BY (doc_id * 2654435761) % 4294967296 % 1000, doc_id) AS rn
        |  FROM documents
        |)
        |SELECT r.doc_id, r.source FROM r JOIN q USING (source) WHERE rn <= quota""".stripMargin,
    "sample_balance" ->
      """WITH m AS (
        |  SELECT CAST(ceil(0.6 * min(c)) AS BIGINT) AS min_n
        |  FROM (SELECT count(*) AS c FROM documents GROUP BY source)
        |), r AS (
        |  SELECT doc_id, source,
        |    row_number() OVER (PARTITION BY source
        |      ORDER BY (doc_id * 2654435761) % 4294967296 % 1000, doc_id) AS rn
        |  FROM documents
        |)
        |SELECT doc_id, source FROM r, m WHERE rn <= min_n""".stripMargin,
    // the exported JL rows replay the identical index-ordered fold
    "embed_project" ->
      """WITH m AS (SELECT * FROM (VALUES __JL_ROWS__) AS t(j, r)),
        |u AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
        |  WHERE vec_id < 500
        |)
        |SELECT u.vec_id, m.j, round(list_dot_product(u.v, m.r), 6) AS p
        |FROM u CROSS JOIN m""".stripMargin,
    "embed_centroid" ->
      """WITH u AS (
        |  SELECT label, vec_id, generate_subscripts(embedding, 1) AS pos,
        |         CAST(unnest(embedding) AS DOUBLE) AS x
        |  FROM embeddings
        |), c AS (
        |  SELECT label, pos, avg(x) AS m, count(*) AS n
        |  FROM u GROUP BY label, pos
        |)
        |SELECT label, CAST(max(n) AS BIGINT) AS n_vectors,
        |  round(sqrt(sum(m * m)), 4) AS centroid_norm,
        |  round(avg(m), 4) AS centroid_mean
        |FROM c GROUP BY label""".stripMargin,
    // distance is an ORDERED index fold (list_transform + list_dot_product),
    // not a hash GROUP BY sum: Spark's l2sq folds left-to-right in index
    // order, and with non-terminating double centers an arbitrary
    // accumulation order could land a last-ulp difference on a
    // representable half-tie even after round(d, 4) — same bit-stability
    // convention as cosine_sim
    "cluster_assign" ->
      """WITH ctr AS (SELECT * FROM (VALUES __IVF_CENTERS__) AS t(cell, cv)),
        |u AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
        |), dist AS (
        |  SELECT u.vec_id, ctr.cell,
        |    round(list_dot_product(
        |      list_transform(range(1, len(u.v) + 1), i -> u.v[i] - ctr.cv[i]),
        |      list_transform(range(1, len(u.v) + 1), i -> u.v[i] - ctr.cv[i])), 4) AS d
        |  FROM u CROSS JOIN ctr
        |), assigned AS (
        |  SELECT vec_id, cell, d FROM dist
        |  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY d, cell) = 1
        |)
        |SELECT cell, n, medoid FROM (
        |  SELECT cell, CAST(count(*) OVER (PARTITION BY cell) AS BIGINT) AS n,
        |         vec_id AS medoid,
        |         row_number() OVER (PARTITION BY cell ORDER BY d, vec_id) AS rn
        |  FROM assigned
        |) WHERE rn = 1""".stripMargin,
    "cluster_lloyd" -> lloydOracle(2),

    // ---- Round-8 session-3: pipeline QA ----------------------------------
    "data_skew_report" ->
      """WITH u AS (
        |  SELECT 'user_id' AS column_name, CAST(user_id AS VARCHAR) AS key,
        |    CAST(count(*) AS BIGINT) AS c
        |  FROM events GROUP BY 2
        |), ur AS (
        |  SELECT column_name, key, c,
        |    CAST(c * 1000000 // CAST(sum(c) OVER () AS BIGINT) AS BIGINT)
        |      AS share_ppm
        |  FROM u QUALIFY row_number() OVER (ORDER BY c DESC, key ASC) <= 10
        |), t AS (
        |  SELECT 'event_type' AS column_name, CAST(event_type AS VARCHAR) AS key,
        |    CAST(count(*) AS BIGINT) AS c
        |  FROM events GROUP BY 2
        |), tr2 AS (
        |  SELECT column_name, key, c,
        |    CAST(c * 1000000 // CAST(sum(c) OVER () AS BIGINT) AS BIGINT)
        |      AS share_ppm
        |  FROM t QUALIFY row_number() OVER (ORDER BY c DESC, key ASC) <= 10
        |)
        |SELECT * FROM ur UNION ALL SELECT * FROM tr2""".stripMargin,
    "data_profile" ->
      """WITH a AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n_rows,
        |    CAST(count(l_orderkey) AS BIGINT) AS nn_ok,
        |    CAST(count(DISTINCT l_orderkey) AS BIGINT) AS nd_ok,
        |    CAST(min(l_orderkey) AS BIGINT) AS min_ok,
        |    CAST(max(l_orderkey) AS BIGINT) AS max_ok,
        |    CAST(count(l_partkey) AS BIGINT) AS nn_pk,
        |    CAST(count(DISTINCT l_partkey) AS BIGINT) AS nd_pk,
        |    CAST(min(l_partkey) AS BIGINT) AS min_pk,
        |    CAST(max(l_partkey) AS BIGINT) AS max_pk,
        |    CAST(count(l_quantity) AS BIGINT) AS nn_q,
        |    CAST(count(DISTINCT l_quantity) AS BIGINT) AS nd_q,
        |    CAST(min(CAST(round(l_quantity * 100, 0) AS BIGINT)) AS BIGINT) AS min_q,
        |    CAST(max(CAST(round(l_quantity * 100, 0) AS BIGINT)) AS BIGINT) AS max_q,
        |    CAST(count(l_returnflag) AS BIGINT) AS nn_rf,
        |    CAST(count(DISTINCT l_returnflag) AS BIGINT) AS nd_rf
        |  FROM lineitem
        |)
        |SELECT 'l_orderkey' AS col_name, n_rows, nn_ok AS n_nonnull,
        |  nd_ok AS n_distinct, min_ok AS min_v, max_ok AS max_v FROM a
        |UNION ALL
        |SELECT 'l_partkey', n_rows, nn_pk, nd_pk, min_pk, max_pk FROM a
        |UNION ALL
        |SELECT 'l_quantity', n_rows, nn_q, nd_q, min_q, max_q FROM a
        |UNION ALL
        |SELECT 'l_returnflag', n_rows, nn_rf, nd_rf,
        |  CAST(NULL AS BIGINT), CAST(NULL AS BIGINT) FROM a""".stripMargin,
    "events_psi_drift" ->
      """WITH b AS (
        |  SELECT event_type,
        |    epoch_ms(ts) < 1705363200000 AS is_ref,
        |    greatest(0, least(9, CAST(round(value * 100, 0) AS BIGINT) // 5000)) AS band
        |  FROM events
        |), c AS (
        |  SELECT event_type, band,
        |    CAST(sum(CASE WHEN is_ref THEN 1 ELSE 0 END) AS BIGINT) AS c_ref,
        |    CAST(sum(CASE WHEN is_ref THEN 0 ELSE 1 END) AS BIGINT) AS c_cur
        |  FROM b GROUP BY event_type, band
        |), t AS (
        |  SELECT event_type,
        |    CAST(sum(CASE WHEN is_ref THEN 1 ELSE 0 END) AS BIGINT) AS n_ref,
        |    CAST(sum(CASE WHEN is_ref THEN 0 ELSE 1 END) AS BIGINT) AS n_cur
        |  FROM b GROUP BY event_type
        |), spine AS (
        |  SELECT t.event_type, CAST(r.range AS BIGINT) AS band
        |  FROM t CROSS JOIN range(10) r
        |), f AS (
        |  SELECT spine.event_type, spine.band,
        |    COALESCE(c.c_ref, 0) AS c_ref, COALESCE(c.c_cur, 0) AS c_cur
        |  FROM spine LEFT JOIN c
        |    ON spine.event_type = c.event_type AND spine.band = c.band
        |)
        |SELECT f.event_type, f.band, f.c_ref, f.c_cur,
        |  round(((CAST(c_ref AS DOUBLE) + 1.0) / (CAST(n_ref AS DOUBLE) + 10.0) -
        |         (CAST(c_cur AS DOUBLE) + 1.0) / (CAST(n_cur AS DOUBLE) + 10.0)) *
        |    ln(((CAST(c_ref AS DOUBLE) + 1.0) / (CAST(n_ref AS DOUBLE) + 10.0)) /
        |       ((CAST(c_cur AS DOUBLE) + 1.0) / (CAST(n_cur AS DOUBLE) + 10.0))), 6)
        |    AS psi_term
        |FROM f JOIN t ON f.event_type = t.event_type""".stripMargin,
    "sample_weighted" ->
      """SELECT doc_id, n_chars, round(pri, 6) AS priority FROM (
        |  SELECT doc_id, n_chars,
        |    ln((CAST((doc_id * 2654435761 + 40503) % 1000000 AS DOUBLE) + 1.0)
        |       / 1000001.0) / CAST(n_chars AS DOUBLE) AS pri
        |  FROM documents)
        |ORDER BY pri DESC, doc_id ASC LIMIT 50""".stripMargin,
    // the two-level bucketed rank orders by (hex-prefix bucket, key, id);
    // the bucket is a prefix of the key, so that IS (key, id) — one
    // window per epoch replays it directly
    "sample_epoch_shuffle" ->
      """SELECT doc_id,
        |  CAST(row_number() OVER (
        |    ORDER BY md5('e0:' || CAST(doc_id AS VARCHAR)), doc_id) AS BIGINT) AS pos0,
        |  CAST(row_number() OVER (
        |    ORDER BY md5('e1:' || CAST(doc_id AS VARCHAR)), doc_id) AS BIGINT) AS pos1
        |FROM documents""".stripMargin,
    // largest-remainder apportionment replay + the window form of the
    // quota selection (bit-identical to the boundary-bucket primitive)
    "sample_budget_mix" ->
      """WITH d AS (
        |  SELECT doc_id, source, string_split_regex(lower(trim(text)), '\s+') AS toks
        |  FROM documents
        |),
        |dt AS (SELECT doc_id, source, CAST(len(toks) AS BIGINT) AS n_tokens FROM d),
        |m AS (SELECT source, CAST(sum(n_tokens) AS BIGINT) AS mass FROM dt GROUP BY source),
        |q0 AS (SELECT source, mass, CAST(sum(mass) OVER () AS BIGINT) AS den FROM m),
        |q1 AS (SELECT source, (1000 * mass) // den AS fl, (1000 * mass) % den AS rem FROM q0),
        |q2 AS (SELECT source, fl, rem,
        |         CAST(1000 - sum(fl) OVER () AS BIGINT) AS leftover,
        |         row_number() OVER (ORDER BY rem DESC, source ASC) AS rk FROM q1),
        |q AS (SELECT source,
        |        CAST(fl + CASE WHEN rk <= leftover THEN 1 ELSE 0 END AS BIGINT) AS quota
        |      FROM q2),
        |k AS (SELECT doc_id, source, n_tokens,
        |        substr(md5('budget:' || CAST(doc_id AS VARCHAR)), 1, 2) AS bucket FROM dt),
        |r AS (SELECT k.*, row_number() OVER (PARTITION BY source ORDER BY bucket, doc_id) AS rn
        |      FROM k)
        |SELECT doc_id, source, n_tokens, bucket
        |FROM r JOIN q USING (source) WHERE rn <= quota""".stripMargin,

    // ---- Round-8 session-3: mining ----------------------------------------
    // naive 3-way self-join — monotonicity says the Apriori prune must
    // reproduce it exactly
    "basket_triples" ->
      """WITH t AS (
        |  SELECT DISTINCT l_orderkey AS bk, p_brand AS it
        |  FROM lineitem JOIN part ON l_partkey = p_partkey
        |)
        |SELECT a.it AS item_a, b.it AS item_b, c.it AS item_c,
        |  CAST(count(*) AS BIGINT) AS support
        |FROM t a
        |JOIN t b ON a.bk = b.bk AND a.it < b.it
        |JOIN t c ON b.bk = c.bk AND b.it < c.it
        |GROUP BY a.it, b.it, c.it
        |HAVING count(*) >= 50""".stripMargin,
    // brute directed containment over the same capped slice — hash match
    // proves the probe-prefix candidate step loses nothing
    "dedup_containment" ->
      """WITH w AS (
        |  SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS wtoks
        |  FROM documents WHERE doc_id < 300
        |), t AS (
        |  SELECT doc_id, list_distinct(list_transform(range(1, len(wtoks) - 1),
        |    i -> wtoks[i] || ' ' || wtoks[i+1] || ' ' || wtoks[i+2])) AS toks
        |  FROM w WHERE len(wtoks) >= 3
        |)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |  CAST(len(list_intersect(a.toks, b.toks)) AS BIGINT) AS inter,
        |  round(CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE) /
        |        len(a.toks), 6) AS containment
        |FROM t a JOIN t b ON a.doc_id <> b.doc_id
        |WHERE len(a.toks) > 0 AND
        |  round(CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE) /
        |        len(a.toks), 6) >= 0.6""".stripMargin,
    "text_keywords" ->
      s"""$docToksCte, tk AS (
         |  SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens, unnest(toks) AS tok FROM d
         |), tf AS (
         |  SELECT doc_id, tok, n_tokens, count(*) AS c FROM tk GROUP BY doc_id, tok, n_tokens
         |), dfreq AS (
         |  SELECT tok, count(DISTINCT doc_id) AS df FROM tk GROUP BY tok
         |), n AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM documents)
         |SELECT doc_id,
         |  CAST(row_number() OVER (PARTITION BY doc_id
         |    ORDER BY round((CAST(c AS DOUBLE) / n_tokens) * ln(n / df), 6) DESC,
         |             tok ASC) AS BIGINT) AS rank,
         |  tok,
         |  round((CAST(c AS DOUBLE) / n_tokens) * ln(n / df), 6) AS tfidf
         |FROM tf JOIN dfreq USING (tok), n
         |QUALIFY row_number() OVER (PARTITION BY doc_id
         |  ORDER BY round((CAST(c AS DOUBLE) / n_tokens) * ln(n / df), 6) DESC,
         |           tok ASC) <= 3""".stripMargin,

    // ---- Round-8 session-3: vector / multimodal ---------------------------
    // assignment replayed from the exported centers (the cluster_assign
    // convention), then per-(cell, dim) exact integer sums
    "cluster_update" ->
      """WITH ctr AS (SELECT * FROM (VALUES __IVF_CENTERS__) AS t(cell, cv)),
        |u AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
        |), dist AS (
        |  SELECT u.vec_id, ctr.cell,
        |    round(list_dot_product(
        |      list_transform(range(1, len(u.v) + 1), i -> u.v[i] - ctr.cv[i]),
        |      list_transform(range(1, len(u.v) + 1), i -> u.v[i] - ctr.cv[i])), 4) AS d
        |  FROM u CROSS JOIN ctr
        |), assigned AS (
        |  SELECT vec_id, cell FROM dist
        |  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY d, cell) = 1
        |), x AS (
        |  SELECT a.cell, generate_subscripts(u.v, 1) - 1 AS dim, unnest(u.v) AS xv
        |  FROM assigned a JOIN u USING (vec_id)
        |)
        |SELECT cell, CAST(dim AS BIGINT) AS dim, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(CAST(round(xv * 1e6, 0) AS BIGINT)) AS BIGINT) AS sum_micros
        |FROM x GROUP BY cell, dim""".stripMargin,
    "ann_hardneg" ->
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v, label
         |           FROM embeddings)
         |SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id, round($cosAB, 6) AS sim
         |FROM e a JOIN e b ON a.vec_id < 8 AND b.label <> a.label
         |WHERE $cosAB IS NOT NULL AND NOT isnan($cosAB)
         |QUALIFY row_number() OVER (PARTITION BY a.vec_id
         |  ORDER BY round($cosAB, 6) DESC, b.vec_id ASC) <= 2""".stripMargin,
    // every field recomputed from the square-wave generation rule:
    // amp = 100 + doc_id % 900, n = 200 + n_chars % 100, |s_i| = amp
    "mm_audio_rms" ->
      """WITH p AS (
        |  SELECT doc_id, 100 + doc_id % 900 AS amp, 200 + n_chars % 100 AS n
        |  FROM documents
        |), w AS (
        |  SELECT doc_id, amp, n, CAST(r.range AS BIGINT) AS win
        |  FROM p CROSS JOIN range(3) r WHERE r.range * 100 < n
        |)
        |SELECT doc_id, win,
        |  CAST(least(100, n - win * 100) AS BIGINT) AS n_in_win,
        |  CAST(least(100, n - win * 100) * amp * amp AS BIGINT) AS sum_sq,
        |  CAST(least(100, n - win * 100) * amp AS BIGINT) AS sum_abs
        |FROM w""".stripMargin,

    // ---- Round-8 session-3: robust TS analytics ---------------------------
    "ts_trend_robust" ->
      s"""$tsCte, hourly AS (
         |  SELECT series_id, t // 3600000 AS h,
         |    CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT) AS v
         |  FROM ts GROUP BY series_id, t // 3600000
         |)
         |SELECT a.series_id, CAST(count(*) AS BIGINT) AS n_pairs,
         |  round(median(CAST(b.v - a.v AS DOUBLE) / (b.h - a.h)), 6)
         |    AS slope_cents_per_hour
         |FROM hourly a JOIN hourly b
         |  ON a.series_id = b.series_id AND a.h < b.h
         |GROUP BY a.series_id""".stripMargin,
    "ts_seasonal_anomaly" ->
      s"""$tsCte, hourly AS (
         |  SELECT series_id, t // 3600000 AS h,
         |    CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT) AS v
         |  FROM ts GROUP BY series_id, t // 3600000
         |), hh AS (
         |  SELECT series_id, h, v, h % 24 AS hod FROM hourly
         |), prof AS (
         |  SELECT series_id, hod, CAST(count(*) AS BIGINT) AS n,
         |    CAST(sum(v) AS BIGINT) AS sv, CAST(sum(v * v) AS BIGINT) AS sv2
         |  FROM hh GROUP BY series_id, hod
         |)
         |SELECT hh.series_id, hh.h, hh.v,
         |  round((CAST(v AS DOUBLE) - CAST(sv AS DOUBLE) / CAST(n AS DOUBLE)) /
         |    nullif(sqrt((CAST(sv2 AS DOUBLE) - CAST(sv AS DOUBLE) *
         |      CAST(sv AS DOUBLE) / CAST(n AS DOUBLE)) /
         |      (CAST(n AS DOUBLE) - 1.0)), 0.0), 4) AS z,
         |  abs(round((CAST(v AS DOUBLE) - CAST(sv AS DOUBLE) / CAST(n AS DOUBLE)) /
         |    nullif(sqrt((CAST(sv2 AS DOUBLE) - CAST(sv AS DOUBLE) *
         |      CAST(sv AS DOUBLE) / CAST(n AS DOUBLE)) /
         |      (CAST(n AS DOUBLE) - 1.0)), 0.0), 4)) > 3.0 AS anomaly
         |FROM hh JOIN prof
         |  ON hh.series_id = prof.series_id AND hh.hod = prof.hod
         |WHERE n > 1""".stripMargin,
    "ts_acf_multi" ->
      s"""$tsCte, hourly AS (
         |  SELECT series_id, t // 3600000 AS h,
         |    CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT) AS v
         |  FROM ts GROUP BY series_id, t // 3600000
         |), j AS (
         |  SELECT a.series_id, l.lag, a.v AS x, b.v AS y
         |  FROM hourly a
         |  CROSS JOIN (SELECT unnest([1, 6, 12, 24]) AS lag) l
         |  JOIN hourly b ON a.series_id = b.series_id AND a.h - l.lag = b.h
         |), m AS (
         |  SELECT series_id, CAST(lag AS BIGINT) AS lag,
         |    CAST(count(*) AS BIGINT) AS n,
         |    CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
         |    CAST(sum(x * y) AS BIGINT) AS sxy,
         |    CAST(sum(x * x) AS BIGINT) AS sx2,
         |    CAST(sum(y * y) AS BIGINT) AS sy2
         |  FROM j GROUP BY series_id, lag
         |)
         |SELECT series_id, lag, n AS n_pairs,
         |  round(CAST(n * sxy - sx * sy AS DOUBLE) /
         |    NULLIF(sqrt(CAST(n * sx2 - sx * sx AS DOUBLE)) *
         |     sqrt(CAST(n * sy2 - sy * sy AS DOUBLE)), 0.0), 4) AS acf
         |FROM m""".stripMargin,

    "ts_xcorr_lag" ->
      s"""$tsCte, hourly AS (
         |  SELECT series_id, t // 3600000 AS h,
         |    CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT) AS v
         |  FROM ts GROUP BY series_id, t // 3600000
         |), j AS (
         |  SELECT a.series_id AS sa, b.series_id AS sb, l.lag,
         |    a.v AS x, b.v AS y
         |  FROM hourly a
         |  CROSS JOIN (SELECT unnest([-3, -2, -1, 0, 1, 2, 3]) AS lag) l
         |  JOIN hourly b ON a.series_id < b.series_id AND a.h - l.lag = b.h
         |), m AS (
         |  SELECT sa, sb, CAST(lag AS BIGINT) AS lag,
         |    CAST(count(*) AS BIGINT) AS n,
         |    CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
         |    CAST(sum(x * y) AS BIGINT) AS sxy,
         |    CAST(sum(x * x) AS BIGINT) AS sx2,
         |    CAST(sum(y * y) AS BIGINT) AS sy2
         |  FROM j GROUP BY sa, sb, lag
         |), r AS (
         |  SELECT sa, sb, lag, n AS n_pairs,
         |    round(CAST(n * sxy - sx * sy AS DOUBLE) /
         |      NULLIF(sqrt(CAST(n * sx2 - sx * sx AS DOUBLE)) *
         |       sqrt(CAST(n * sy2 - sy * sy AS DOUBLE)), 0.0), 4) AS r
         |  FROM m
         |)
         |SELECT sa, sb, lag AS best_lag, r, n_pairs
         |FROM r WHERE r IS NOT NULL
         |QUALIFY row_number() OVER (PARTITION BY sa, sb
         |  ORDER BY r DESC, lag ASC) = 1""".stripMargin,

    "events_heavy_hitters" ->
      """WITH hourly AS (
        |  SELECT user_id, epoch_ms(ts) // 3600000 AS h,
        |    CAST(count(*) AS BIGINT) AS c
        |  FROM events GROUP BY 1, 2
        |), rolled AS (
        |  SELECT user_id, h,
        |    CAST(sum(c) OVER (PARTITION BY user_id ORDER BY h
        |      RANGE BETWEEN 23 PRECEDING AND CURRENT ROW) AS BIGINT) AS c24
        |  FROM hourly
        |)
        |SELECT h, user_id, c24,
        |  CAST(row_number() OVER (PARTITION BY h
        |    ORDER BY c24 DESC, user_id ASC) AS BIGINT) AS rnk
        |FROM rolled
        |QUALIFY rnk <= 3""".stripMargin,

    // ---- Round-8 session-3: normalization / audit --------------------------
    // (user_ltv_cohort's oracle lives in the product-analytics block — the
    // r10 twin of its body; the duplicate that used to sit here was dead)
    "sample_quantile_norm" ->
      """SELECT doc_id, source, n_chars,
        |  round(CAST(rank() OVER (PARTITION BY source
        |      ORDER BY n_chars, doc_id) - 1 AS DOUBLE) /
        |    NULLIF(count(*) OVER (PARTITION BY source) - 1, 0), 6) AS pct
        |FROM documents""".stripMargin,
    "data_integrity" ->
      """SELECT 'lineitem->orders' AS fk_edge,
        |  CAST((SELECT count(*) FROM lineitem l LEFT JOIN orders o
        |        ON l.l_orderkey = o.o_orderkey WHERE o.o_orderkey IS NULL)
        |    AS BIGINT) AS n_orphans,
        |  CAST((SELECT count(*) FROM lineitem) AS BIGINT) AS n_rows
        |UNION ALL
        |SELECT 'lineitem->part',
        |  CAST((SELECT count(*) FROM lineitem l LEFT JOIN part p
        |        ON l.l_partkey = p.p_partkey WHERE p.p_partkey IS NULL) AS BIGINT),
        |  CAST((SELECT count(*) FROM lineitem) AS BIGINT)
        |UNION ALL
        |SELECT 'orders->customer',
        |  CAST((SELECT count(*) FROM orders o LEFT JOIN customer c
        |        ON o.o_custkey = c.c_custkey WHERE c.c_custkey IS NULL) AS BIGINT),
        |  CAST((SELECT count(*) FROM orders) AS BIGINT)""".stripMargin
  )

  /** Sketch literals for the placeholder oracles above, computed from the
    * same operator pipelines the gate queries use. Driver-side collect is
    * fine here: these are gate-only exports of a few thousand rows, never a
    * query hot path.
    */
  def oracleAux(spark: SparkSession, d: String): Map[String, String] = {
    def lit(df: DataFrame): String = {
      val rows = df.collect()
      require(rows.nonEmpty, "empty sketch export")
      rows.map { r =>
        (0 until r.length).map { i =>
          r.get(i) match {
            case l: java.lang.Long    => s"CAST($l AS BIGINT)"
            case x: java.lang.Integer => x.toString
            case x                    => sys.error(s"unsupported literal type: $x")
          }
        }.mkString("(", ",", ")")
      }.mkString(",")
    }
    val docs = Tables.documents(spark, d)
    val (celled, probes) = Similarity.ivfParts(Tables.embeddings(spark, d), nQueries = 5)
    val (celledA, probesA) = Similarity.ivfAppendParts(
      Tables.embeddings(spark, d), col("vec_id") % 2 === 0, nQueries = 5)
    // quantizer centers as (cell, center-list) pairs so the oracle can
    // fold the distance in index order; Double.toString round-trips
    // exactly, and DuckDB's CAST('…' AS DOUBLE) parses it back bit-equal
    val centerTriples = Similarity.fitCenters(Tables.embeddings(spark, d), 16)
      .zipWithIndex.map { case (c, cell) =>
        c.map(v => s"CAST('$v' AS DOUBLE)").mkString(s"($cell,[", ",", "])")
      }.mkString(",")
    def cbLit(cbs: Array[Array[Array[Double]]]): String = {
      val dim = cbs.map(_.head.length).sum
      cbs.zipWithIndex.flatMap { case (cb, j) =>
        val (lo, _) = Similarity.pqSlice(dim, cbs.length, j)
        cb.zipWithIndex.map { case (c, cell) =>
          c.map(v => s"CAST('$v' AS DOUBLE)").mkString(s"($j,$cell,$lo,[", ",", "])")
        }
      }.mkString(",")
    }
    val cappedEmb = Tables.embeddings(spark, d).filter(col("vec_id") < 500)
    val pqLit = cbLit(Similarity.pqFit(cappedEmb, m = 8, k = 16))
    val ivfPqCenters = Similarity.fitCenters(cappedEmb, 8)
    val ivfPqCenterLit = ivfPqCenters.zipWithIndex.map { case (c, cell) =>
      c.map(v => s"CAST('$v' AS DOUBLE)").mkString(s"($cell,[", ",", "])")
    }.mkString(",")
    val ivfPqCbLit = cbLit(Similarity.ivfPqFit(cappedEmb, ivfPqCenters, m = 8, k = 16))
    Map(
      "__SIMHASH_SKETCHES__" -> lit(Dedup.simhashSketches(docs)),
      "__PHASH_SKETCHES__"   -> lit(Multimodal.thumbSketches(spark,
        Multimodal.synthImages(spark, docs.filter(col("doc_id") < 500)))),
      "__PQ_CODEBOOKS__"     -> pqLit,
      "__IVFPQ_CENTERS__"    -> ivfPqCenterLit,
      "__IVFPQ_CODEBOOKS__"  -> ivfPqCbLit,
      "__WINNOW_HASHES__"    -> lit(docs.filter(col("doc_id") < 50)
        .select(col("doc_id"), posexplode(graft.functions.RollingHash
          .rolling_hashes(substring(col("text"), 1, 400), 8)))
        .toDF("doc_id", "pos", "h")),
      "__MINHASH_BANDS__"    -> lit(Dedup.minhashBands(docs.filter(col("doc_id") < 1000))),
      "__ANN_BUCKETS__"      -> lit(Similarity.signBuckets(Tables.embeddings(spark, d))
                                      .select("vec_id", "bucket")),
      "__IVF_CELLS__"        -> lit(celled.select("vec_id", "cell")),
      "__IVF_PROBES__"       -> lit(probes.select("query_id", "cell")),
      "__IVFA_CELLS__"       -> lit(celledA.select("vec_id", "cell")),
      "__IVFA_PROBES__"      -> lit(probesA.select("query_id", "cell")),
      "__IVF_CENTERS__"      -> centerTriples,
      "__JL_ROWS__"          -> Similarity.jlMatrix(dim = 64, k = 16)
        .zipWithIndex.map { case (r, j) =>
          r.map(v => s"CAST('$v' AS DOUBLE)").mkString(s"($j,[", ",", "])")
        }.mkString(",")
    )
  }
}
