package graft
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.model.TsModel
import graft.operators.TsOps

/** Scale soak: inflate events 100x (10M rows) and compare the bounded-heap
  * top-k against the window implementation. Derived data, perf-only.
  */
object Soak {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    if (args.contains("rank")) { rankSoak(spark); spark.stop(); return }
    if (args.contains("kmv")) { kmvSoak(spark); spark.stop(); return }
    if (args.contains("graph")) { graphSoak(spark); spark.stop(); return }
    if (args.contains("fof")) { fofSoak(spark); spark.stop(); return }
    if (args.contains("gidx")) { gidxSoak(spark); spark.stop(); return }
    if (args.contains("prank")) { prankSoak(spark); spark.stop(); return }
    if (args.contains("ivfdel")) { ivfdelSoak(spark); spark.stop(); return }
    if (args.contains("wire")) { wireSoak(spark); spark.stop(); return }
    if (args.contains("kvserve")) { kvserveSoak(spark); spark.stop(); return }
    if (args.contains("crash")) { crashSoak(spark); spark.stop(); return }
    if (args.contains("recipe")) { recipeSoak(spark); spark.stop(); return }
    if (args.contains("hamming")) { hammingSoak(spark); spark.stop(); return }
    if (args.contains("kcore")) { kcoreSoak(spark); spark.stop(); return }
    if (args.contains("blocked")) { blockedSoak(spark); spark.stop(); return }
    if (args.contains("flush")) {
      flushSoak(spark, args.drop(args.indexOf("flush") + 1).headOption
        .flatMap(_.toIntOption).getOrElse(256))
      spark.stop(); return
    }
    // drop ts_raw: the inflated copies shift `t` directly, and the soak
    // exercises topN/storage paths which never touch the raw scan column
    val ts = TsModel.ts(spark, "/root/testdata/sf0.1").drop("ts_raw")
    val big = ts.crossJoin(spark.range(100).select(col("id").as("rep")))
      .select(col("series_id"), (col("t") + col("rep")).as("t"), col("value"),
        col("tags"), (col("event_id") * 100 + col("rep")).as("event_id"))
      .repartition(64).cache()
    println(s"rows: ${big.count()}")
    def time(tag: String)(f: => Long): Unit = {
      val t0 = System.nanoTime(); val n = f
      println(f"$tag: ${(System.nanoTime() - t0) / 1e9}%.2f s ($n rows)")
    }
    // warm both code paths before timing
    TsOps.perSeriesTopN(big, 10, descending = true).count()
    TsOps.perSeriesTopNWindow(big, 10, descending = true).count()
    for (iter <- 1 to 2; k <- Seq(100, 1000)) {
      time(s"i$iter topk_agg   last/$k")(TsOps.perSeriesTopN(big, k, descending = true).count())
      time(s"i$iter window     last/$k")(TsOps.perSeriesTopNWindow(big, k, descending = true).count())
    }
    // ---- storage delete at 10M rows --------------------------------------
    import graft.sources.TsStorage
    val delPath = new java.io.File("target/tmp-soak-delete").getAbsolutePath
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(delPath))
    time("storage write 10M")({ TsStorage.write(big, delPath); 1L })
    val before = TsStorage.read(spark, delPath).count()
    def partFiles(sid: String, day: String) =
      Option(new java.io.File(s"$delPath/series_id=$sid/day=$day").listFiles())
        .getOrElse(Array.empty)
        .filter(_.getName.endsWith(".parquet")).map(f => f.getName -> f.lastModified)
        .toSeq.sorted // listFiles order is filesystem-dependent
    val untouched = partFiles("click", "2024-01-05")
    time("storage delete 1 series x 5 days")({
      TsStorage.delete(spark, delPath, Seq("error"),
        graft.operators.TimeRange(1704844800000L, 1705276800000L), None); 1L
    })
    val after = TsStorage.read(spark, delPath).count()
    println(s"delete: $before -> $after rows; untouched partition intact: " +
      s"${partFiles("click", "2024-01-05") == untouched}")

    // ---- exact median at 10M rows ----------------------------------------
    import graft.operators.ExactMedian
    val med = big.select(col("value"))
    med.agg(median(col("value"))).head() // warm
    var exactVal = 0.0; var histVal = 0.0; var approxVal = 0.0
    time("median()      10M (buffering)")(
      { exactVal = med.agg(median(col("value"))).head().getDouble(0); 1L })
    time("histogram-sel 10M (bounded)")(
      { histVal = ExactMedian.median(big).get; 1L })
    time("approx(10k)   10M (bounded)")(
      { approxVal = med.agg(percentile_approx(col("value"), lit(0.5), lit(10000)))
          .head().getDouble(0); 1L })
    println(s"median exact=$exactVal histogram=$histVal approx=$approxVal " +
      s"(hist==exact: ${exactVal == histVal})")

    // ---- as-of join under 90% single-key skew ----------------------------
    import graft.operators.AsOfJoin
    // 10M rows, one user holding 90%: the single-window form serializes
    // that key through one task; the bucketed form splits it by time bucket
    val skewed = big.select(
      when(pmod(col("event_id"), lit(10)) < 9, "hot-user")
        .otherwise(concat(lit("u"), pmod(col("event_id"), lit(1000)))).as("k"),
      col("t"), col("value"), col("event_id"))
      .repartition(64).cache()
    val lSkew = skewed.filter(pmod(col("event_id"), lit(2)) === 0)
    val rSkew = skewed.filter(pmod(col("event_id"), lit(2)) === 1)
    println(s"asof left: ${lSkew.count()}, right: ${rSkew.count()}")
    AsOfJoin.asOf(lSkew.limit(1000), rSkew.limit(1000), "k", "t", Seq("value")).count()
    AsOfJoin.asOfBucketed(lSkew.limit(1000), rSkew.limit(1000), "k", "t", Seq("value")).count()
    for (iter <- 1 to 2) {
      time(s"i$iter asof_window   90%-skew")(
        AsOfJoin.asOf(lSkew, rSkew, "k", "t", Seq("value")).count())
      time(s"i$iter asof_bucketed 90%-skew")(
        AsOfJoin.asOfBucketed(lSkew, rSkew, "k", "t", Seq("value"), bucketMs = 3600000L).count())
    }
    skewed.unpersist()

    // ---- ANN: brute-force vs sign-LSH pair search at 200k vectors --------
    import graft.operators.{Dedup, Similarity}
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.1")
    val bigEmb = emb.crossJoin(spark.range(100).select(col("id").as("rep")))
      .select((col("vec_id") * 100 + col("rep")).as("vec_id"), col("embedding"))
      .repartition(64).cache()
    println(s"vectors: ${bigEmb.count()}")
    // warm
    Similarity.lshCosinePairs(bigEmb.limit(1000), tau = 0.99).count()
    time("lsh_pairs   tau=0.99 200k")(Similarity.lshCosinePairs(bigEmb, tau = 0.99, nPlanes = 12).count())
    time("brute_pairs tau=0.99 20k subset")(
      Dedup.cosinePairs(bigEmb, tau = 0.99, idCap = 20000L).count())
    bigEmb.unpersist()

    // ---- corpus ops at 500k docs (documents inflated 100x) ---------------
    import graft.functions.TextFunctions
    import graft.operators.{CorpusAnalysis, Packing}
    val docs100 = Tables.documents(spark, "/root/testdata/sf0.1")
      .crossJoin(spark.range(100).select(col("id").as("rep")))
      .select((col("doc_id") * 100 + col("rep")).as("doc_id"), col("text"),
        concat(col("source"), lit("-"), col("rep") % 32).as("source"))
      .repartition(64).cache()
    println(s"docs: ${docs100.count()}")
    CorpusAnalysis.ngramContamination(docs100.limit(1000), col("doc_id") % 5000 === 0, 5).count()
    for (iter <- 1 to 2) {
      time(s"i$iter contamination 500k docs")(
        CorpusAnalysis.ngramContamination(docs100, col("doc_id") % 5000 === 0, 5).count())
      time(s"i$iter next_fit_pack 500k docs / 640 shards")(
        Packing.nextFitPack(docs100, 2048L,
          TextFunctions.tokenCount(col("text")), col("source")).count())
      time(s"i$iter unigram_lm    500k docs")(
        CorpusAnalysis.unigramLogProb(docs100).count())
    }

    // ---- edit-distance near-dup at 80k keys (PassJoin segments, r8) ------
    // docs100 carries ~100 exact copies per base text; the id%3 chop makes
    // 3 edit-variants per text, so every key sits in a ~27-copy cluster of
    // true distance<=2 partners — the uniform-length shape that collapsed
    // the old length-band blocking into one all-pairs task. Candidates
    // ~= true pairs (millions), all verified by the thresholded
    // levenshtein across the full parallelism.
    val editKey = expr("substring(substring(text, 1, 64), 1 + CAST(doc_id % 3 AS INT))")
    Dedup.editPairs(docs100, editKey, maxDist = 2, idCap = 2000L).count() // warm
    for (iter <- 1 to 2)
      time(s"i$iter edit_pairs    80k uniform-len keys")(
        Dedup.editPairs(docs100, editKey, maxDist = 2, idCap = 80000L).count())
    docs100.unpersist()

    // ---- IVF sample-fit + assignment at 200k vectors (round 4) -----------
    // The fit collects only the bounded hash-sample (~10k vectors) to the
    // driver; assignment is one distributed argmin pass — both independent
    // of corpus size beyond the single scan.
    val bigEmb2 = emb.crossJoin(spark.range(100).select(col("id").as("rep")))
      .select((col("vec_id") * 100 + col("rep")).as("vec_id"), col("embedding"),
        col("label"))
      .repartition(64).cache()
    println(s"ivf vectors: ${bigEmb2.count()}")
    for (iter <- 1 to 2) {
      // drop the center memo so every iteration times a COLD fit
      // (sample-collect + local Lloyd's), not a memo hit; the timed call
      // is the MEMOIZING fitCenters so the assign stage below genuinely
      // reuses it (fitCentersUncached would leave the memo empty and
      // hide a second full fit inside the assign timing)
      Similarity.clearCenterMemo()
      time(s"i$iter ivf_fit       200k (sample+local Lloyd)") {
        Similarity.fitCenters(bigEmb2, 64); 64L
      }
      time(s"i$iter ivf_assign    200k x 64 cells (fit memoized)")(
        Similarity.fitCells(bigEmb2, 64)._1.groupBy("cell").count().count())
    }
    bigEmb2.unpersist()

    // ---- near-join (point-in-range count) under 90% single-user skew -----
    // 10M events, one user holding 90%: keyed on user alone, that user's
    // errors x clicks materialize quadratically in one reducer before the
    // band filter; keyed on (user, minute-bucket) with the error side
    // probing +/-1 bucket, each reducer holds one user-minute.
    val evSkew = big.select(
        when(pmod(col("event_id"), lit(10)) < 9, lit(0L))
          .otherwise(pmod(col("event_id"), lit(1000))).as("user_id"),
        col("event_id"), col("t"),
        when(pmod(col("event_id"), lit(50)) === 0, "error").otherwise("click")
          .as("event_type"))
      .repartition(64).cache()
    println(s"near-join events: ${evSkew.count()}")
    // the SAME operator the events_near_join gate ships (no inline twin
    // that could drift); toRdd.count() because a bare .count() lets
    // Catalyst ELIMINATE the outer join entirely (only distinct left ids
    // survive pruning) and times an empty shell
    def nearJoin(ev: org.apache.spark.sql.DataFrame): Long =
      graft.operators.BandJoin.nearCount(
          ev.filter(col("event_type") === "error")
            .select(col("user_id"), col("event_id").as("err_id"), col("t")),
          ev.filter(col("event_type") === "click"),
          key = "user_id", leftId = "err_id", rightId = "event_id",
          tCol = "t", bandMs = 60000L)
        .queryExecution.toRdd.count()
    // Only the bucketed operator is timed: the key-only band join is
    // quadratic per hot user (errors x clicks materialize before the band
    // filter) — measured once off-soak at 1M all-hot rows it did not
    // finish inside 10 MINUTES, vs seconds bucketed at 10M x 90%
    // (PERF.md round 5). Keeping it would stall the soak.
    nearJoin(evSkew.limit(100000)) // warm
    for (iter <- 1 to 2)
      time(s"i$iter near_join bucketed  10M 90%-skew")(nearJoin(evSkew))

    // ---- gap-sessionize under 90% single-user skew ------------------------
    // The single-window form funnels the hot user's 9M rows through ONE
    // sort task (finishes via spill, serialized); the split-merge bucketed
    // form — the one the user_sessions / events_interval_join gates ship —
    // partitions the per-row work by (user, 2h bucket) and reconstructs
    // global session ids on the tiny (user, bucket) axis.
    val sessSkew = evSkew.select(col("user_id"), col("t"),
        (col("event_id") % 100).cast("double").as("value"), col("event_id"))
      .cache()
    sessSkew.count()
    import graft.operators.Sessionize
    Sessionize.sessions(sessSkew.limit(100000), gapMs = 3600000L)
      .queryExecution.toRdd.count() // warm
    Sessionize.sessionsBucketed(sessSkew.limit(100000), gapMs = 3600000L)
      .queryExecution.toRdd.count() // warm
    for (iter <- 1 to 2) {
      time(s"i$iter sessionize window    10M 90%-skew")(
        Sessionize.sessions(sessSkew, gapMs = 3600000L)
          .queryExecution.toRdd.count())
      time(s"i$iter sessionize bucketed  10M 90%-skew")(
        Sessionize.sessionsBucketed(sessSkew, gapMs = 3600000L)
          .queryExecution.toRdd.count())
    }
    sessSkew.unpersist()

    // ---- quota sampling under 90% single-source skew -----------------------
    // The round-6 sampler rewrite: keep the first `quota` rows per source
    // in (hash-bucket, id) order. The direct window form sorts the hot
    // source's 9M rows through ONE task; takeQuotaByGroup decides whole
    // buckets map-side off a broadcast histogram and ranks only the
    // boundary bucket (≤ ~1/1000 of the source).
    import org.apache.spark.sql.expressions.Window
    val docSkew = evSkew.select(col("event_id").as("doc_id"),
        when(pmod(col("event_id"), lit(10)) < 9, "src-hot")
          .otherwise(concat(lit("src"), pmod(col("event_id"), lit(32)))).as("source"))
      .repartition(64).cache()
    println(s"sample docs: ${docSkew.count()}")
    val sCounts = docSkew.groupBy("source").agg(count(lit(1)).as("src_n"))
    val sQuotas = sCounts.select(col("source"),
      least(lit(10000L), col("src_n")).as("quota"))
    val sBucketed = docSkew.select(col("doc_id"), col("source"),
      (pmod(col("doc_id") * lit(2654435761L), lit(4294967296L)) % 1000).as("bucket"))
    def quotaDirect(): Long =
      sBucketed.withColumn("rn", row_number().over(
          Window.partitionBy("source").orderBy(col("bucket").asc, col("doc_id").asc)))
        .join(broadcast(sQuotas), Seq("source")).filter(col("rn") <= col("quota"))
        .select("doc_id", "source").queryExecution.toRdd.count()
    def quotaBucketed(): Long =
      graft.operators.Packing.takeQuotaByGroup(sBucketed, sQuotas)
        .queryExecution.toRdd.count()
    quotaBucketed() // warm
    var nd = 0L; var nb = 0L
    for (iter <- 1 to 2) {
      time(s"i$iter quota_sample window    10M 90%-skew")({ nd = quotaDirect(); nd })
      time(s"i$iter quota_sample bucketed  10M 90%-skew")({ nb = quotaBucketed(); nb })
    }
    println(s"quota sample counts equal: ${nd == nb}")
    docSkew.unpersist()

    // ---- adjacent-row lag/lead under 90% single-user skew ------------------
    // the user_transitions / user_path_topk shape: the direct per-user
    // window sorts the hot user's 9M rows in ONE task; the bucketed carry
    // (Sessionize.lagBucketed / leadBucketed2) splits them across
    // (user, hour-bucket) tasks with a constant-size boundary carry
    def transDirect(): Long = {
      val w = Window.partitionBy("user_id").orderBy(col("t").asc, col("event_id").asc)
      evSkew.select(col("user_id"), col("event_type").as("to_type"),
          lag("event_type", 1).over(w).as("from_type"))
        .filter(col("from_type").isNotNull)
        .groupBy("from_type", "to_type").agg(count(lit(1)).as("n"))
        .queryExecution.toRdd.count()
    }
    def transBucketed(): Long =
      Sessionize.lagBucketed(evSkew, "event_type", "from_type", bucketMs = 3600000L)
        .select(col("from_type"), col("event_type").as("to_type"))
        .filter(col("from_type").isNotNull)
        .groupBy("from_type", "to_type").agg(count(lit(1)).as("n"))
        .queryExecution.toRdd.count()
    def pathsBucketed(): Long =
      Sessionize.leadBucketed2(evSkew, "event_type", "e2", "e3", bucketMs = 3600000L)
        .filter(col("e3").isNotNull)
        .select(concat_ws(">", col("event_type"), col("e2"), col("e3")).as("path"))
        .groupBy("path").agg(count(lit(1)).as("c"))
        .queryExecution.toRdd.count()
    // warm BOTH variants: an asymmetric warm lets the unwarmed side's i1
    // absorb codegen/JIT session startup (the round-3 bench bias)
    transBucketed(); transDirect()
    var ntd = 0L; var ntb = 0L
    for (iter <- 1 to 2) {
      time(s"i$iter transitions window    10M 90%-skew")({ ntd = transDirect(); ntd })
      time(s"i$iter transitions bucketed  10M 90%-skew")({ ntb = transBucketed(); ntb })
      time(s"i$iter path-topk   bucketed  10M 90%-skew")(pathsBucketed())
    }
    println(s"transition group counts equal: ${ntd == ntb}")

    // ---- sequence packing: global window vs bucketed prefix-sum ----------
    // 10M sparse doc ids; the global form funnels every row through ONE
    // sort task, the bucketed form windows within 64k-id buckets
    val packDocs = spark.range(10000000L)
      .select((col("id") * 7 + 3).as("doc_id"),
        (pmod(xxhash64(col("id")), lit(500L)) + 1).as("n_tokens"))
      .repartition(64).cache()
    packDocs.count()
    import graft.operators.Packing
    def packGlobal(): Long =
      Packing.contiguousPack(packDocs, 2048L, col("n_tokens"))
        .queryExecution.toRdd.count()
    def packBucketed(): Long =
      Packing.contiguousPackBucketed(packDocs, 2048L, col("n_tokens"))
        .queryExecution.toRdd.count()
    packBucketed(); packGlobal() // warm BOTH (see transitions note)
    var np1 = 0L; var np2 = 0L
    for (iter <- 1 to 2) {
      time(s"i$iter pack global-window 10M")({ np1 = packGlobal(); np1 })
      time(s"i$iter pack bucketed      10M")({ np2 = packBucketed(); np2 })
    }
    // row counts are structurally equal (both emit one row per input), so
    // compare a content signature over (doc_id, bin) — a broken offset
    // carry that shifts bin assignments flips the hash sum
    def packSig(df: org.apache.spark.sql.DataFrame): Long =
      df.agg(sum(hash(col("doc_id"), col("bin"))).cast("long")).head.getLong(0)
    val sigEq = packSig(Packing.contiguousPack(packDocs, 2048L, col("n_tokens"))) ==
      packSig(Packing.contiguousPackBucketed(packDocs, 2048L, col("n_tokens")))
    println(s"pack rows equal: ${np1 == np2}; pack (doc,bin) signatures equal: $sigEq")
    packDocs.unpersist()
    evSkew.unpersist()

    // ---- salted fact-to-dim join under 90% single-key skew ---------------
    // 10M facts, one key holding 90%, 1000-row dim, broadcast DISABLED —
    // the regime where the dim has outgrown broadcast and the join must
    // shuffle. Three plans: sort-merge with AQE's runtime skew split,
    // sort-merge without it (the static-planning worst case), and
    // SkewJoin.saltedJoin (which fixes the key itself, needing no AQE).
    import graft.operators.SkewJoin
    val facts = spark.range(10000000L).select(
        when(pmod(col("id"), lit(10)) < 9, lit(7L))
          .otherwise(pmod(col("id"), lit(1000))).as("k"),
        col("id").as("v"))
      .repartition(64).cache()
    facts.queryExecution.toRdd.count()
    val dimTbl = spark.range(1000L).select(col("id").as("k"), (col("id") % 50).as("tag"))
    val prevBcast = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    def joinDirect(): Long = facts.join(dimTbl, "k").queryExecution.toRdd.count()
    def joinSalted(): Long =
      SkewJoin.saltedJoin(facts, dimTbl, "k", 16).queryExecution.toRdd.count()
    joinSalted(); joinDirect() // warm both
    for (iter <- 1 to 2) {
      spark.conf.set("spark.sql.adaptive.enabled", "true")
      time(s"i$iter join direct AQE-skew 90%-skew")(joinDirect())
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      time(s"i$iter join direct no-AQE   90%-skew")(joinDirect())
      time(s"i$iter join salted no-AQE   90%-skew")(joinSalted())
    }
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBcast)
    spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
    facts.unpersist()

    // ---- IVF recall vs scan fraction (sf0.1 corpus, brute ground truth) --
    val emb01 = Tables.embeddings(spark, "/root/testdata/sf0.1")
    val truth = Similarity.bruteForceTopK(emb01, nQueries = 25, k = 5)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    for (nProbe <- Seq(1, 2, 4, 8)) {
      val got = Similarity.ivfTopK(emb01, nQueries = 25, k = 5,
          nCells = 16, nProbe = nProbe)
        .select("query_id", "neighbor_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      val recall = (got & truth).size.toDouble / truth.size
      println(f"ivf_recall nProbe=$nProbe scan=${nProbe / 16.0}%.3f recall@5=$recall%.3f")
    }

    // ---- bloom-pruned semi-join at 10M probe / 100k members --------------
    // The regime BloomJoin targets: the member set has outgrown broadcast
    // (forced here), most probe rows do NOT match, and the direct semi
    // join must shuffle all 10M probe rows. The bloom variant rejects
    // non-members with a codegen'd expression at the scan — only the ~5%
    // member tail (plus the small FP tail) reaches the exchange. The
    // timed bloom figure INCLUDES its build (one bounded groupBy over
    // <= mBits/32 cells + a 256 KiB driver collect).
    val bigProbe = spark.range(10000000L)
      .select(pmod(col("id") * lit(2654435761L), lit(2097152L)).as("k"),
        col("id").as("v"))
      .repartition(64).cache()
    bigProbe.queryExecution.toRdd.count()
    val memberTbl = spark.range(0L, 2097152L, 21L).select(col("id").as("k"))
      .repartition(8).cache()
    println(s"bloom probe: ${bigProbe.count()} rows, members: ${memberTbl.count()}")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    import graft.operators.BloomJoin
    def semiDirect(): Long =
      bigProbe.join(memberTbl, Seq("k"), "left_semi").queryExecution.toRdd.count()
    def semiBloom(): Long =
      BloomJoin.semiJoin(bigProbe, memberTbl, "k", mBits = 1 << 21, k = 4)
        .queryExecution.toRdd.count()
    semiBloom(); semiDirect() // warm both (see transitions note)
    var nsd = 0L; var nsb = 0L
    for (iter <- 1 to 2) {
      time(s"i$iter semi direct shuffle  10M/100k")({ nsd = semiDirect(); nsd })
      time(s"i$iter semi bloom-pruned    10M/100k")({ nsb = semiBloom(); nsb })
    }
    println(s"semi-join counts equal: ${nsd == nsb}")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBcast)
    bigProbe.unpersist(); memberTbl.unpersist()

    rankSoak(spark)

    spark.stop()
  }

  /** KMV set-overlap at 20M rows / 5 groups of ~4.7M distinct members
    * (`runMain graft.Soak kmv`): the sketch path (bounded k-min heaps,
    * k=1024) against the exact pairwise intersection join, plus the
    * estimate error the sketch trades that cost for.
    */
  /** Wire-server ingest throughput: the single-node number the reference
    * is judged by (its REQ/REP loop + git-store commits; zest publishes
    * none). One in-process server over a durable write-behind engine,
    * then: 1 client pushing sequential POST frames, 4 concurrent clients
    * doing the same total, one read + flush at the end to prove the rows
    * landed. The reference commits per write to Irmin/git; our
    * write-behind batches `flushEveryRows` rows per parquet commit, so
    * the wire loop — not storage — is the bottleneck being measured.
    */
  /** The `pipeline_recipe` composition at 10M docs (r11 verdict task 6):
    * every stage has an individual soak, this measures the COMPOSED
    * curate -> mix -> pack run plus its stage split, and asserts the
    * final (shard, doc, bin) checksum matches an independently-staged
    * run (each stage materialized before the next) — composition changes
    * nothing but the plan boundaries.
    */
  private def recipeSoak(spark: SparkSession): Unit = {
    import graft.operators.{Dedup, Packing}
    import graft.functions.TextFunctions
    val words = array(Seq("the", "and", "of", "to", "in", "is", "was", "that",
      "it", "for", "data", "model", "engine", "query", "index", "stream")
      .map(lit): _*)
    val n = 10_000_000L
    val docs = spark.range(n).select(
      col("id").as("doc_id"),
      concat(lit("src"), pmod(col("id"), lit(20)).cast("string")).as("source"),
      concat_ws(" ", transform(
        sequence(lit(1L), pmod(xxhash64(col("id")), lit(40L)) + lit(21L)),
        i => element_at(words,
          (pmod(xxhash64(concat(col("id").cast("string"), lit(":"),
            i.cast("string"))), lit(16L)) + 1).cast("int")))).as("text"))
    def curate(d: org.apache.spark.sql.DataFrame) = Dedup.exact(d)
      .filter(TextFunctions.langId(col("text")) === "en")
      .select(col("doc_id"), col("source"),
        TextFunctions.tokenCount(col("text")).as("n_tokens"),
        SparkEntry.docQuality.as("quality"))
      .filter(col("quality") >= 0.5 && col("n_tokens").between(20, 500))
    def mix(kept: org.apache.spark.sql.DataFrame) = {
      val keyed = kept.withColumn("bucket",
        substring(md5(encode(
          concat(lit("mix:"), col("doc_id").cast("string")), "UTF-8")), 1, 2))
      val quotas = keyed.select(col("source")).distinct()
        .withColumn("quota", lit(200000L))
      Packing.takeQuotaByGroup(keyed, quotas)
    }
    def pack(mixed: org.apache.spark.sql.DataFrame) =
      Packing.nextFitPack(mixed, budgetTokens = 512L,
        tokensCol = col("n_tokens"), shardCol = col("source"))
    def ck(d: org.apache.spark.sql.DataFrame): (Long, java.math.BigDecimal) = {
      val r = d.select(count(lit(1)).as("n"),
        sum(xxhash64(col("shard"), col("doc_id"), col("bin"))
          .cast("decimal(38,0)")).as("ck")).head()
      (r.getLong(0), r.getDecimal(1))
    }
    def time[A](tag: String)(f: => A): A = {
      val t0 = System.nanoTime(); val r = f
      println(f"$tag: ${(System.nanoTime() - t0) / 1e9}%.2f s"); r
    }
    val fused = time(s"recipe FUSED  10M docs (curate->mix->pack, one plan)") {
      ck(pack(mix(curate(docs))))
    }
    println(s"  fused: rows=${fused._1} ck=${fused._2}")
    val curated = time("  stage curate (materialized)") {
      curate(docs).localCheckpoint()
    }
    val mixed = time("  stage mix    (materialized)") { mix(curated).localCheckpoint() }
    val staged = time("  stage pack") { ck(pack(mixed)) }
    graft.operators.Checkpoints.free(curated)
    graft.operators.Checkpoints.free(mixed)
    println(s"  staged: rows=${staged._1} ck=${staged._2}")
    require(fused == staged, s"composition drift: $fused vs $staged")
    println("  fused == staged: checksums equal")
  }

  private def wireSoak(spark: SparkSession): Unit = {
    import graft.server.{SecureChannel, ZestCodec, ZestWireServer, ZmtpClient}
    val store = new java.io.File("target/tmp-soak-wire").getAbsolutePath
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(store))
    val engine = new GraftEngine(spark, tsStoragePath = Some(s"$store/ts"),
      flushEveryRows = 512)
    val n = 4000
    // zest frames over ZMTP REQ, once per security mechanism — NULL, then
    // CURVE (the sealed path's cost)
    Seq("NULL" -> None, "CURVE" -> Some(SecureChannel.generateKeyPair())).foreach {
      case (mech, keys) =>
        val bsrv = new ZestWireServer(engine, serverKeys = keys)
        val c = new ZmtpClient(bsrv.boundPort, keys.map(SecureChannel.rawPublic))
        def posts(count: Int, series: String): Unit =
          for (i <- 0 until count)
            require(c.call(ZestCodec.request(2, s"/ts/$series/at/${i * 1000}",
              payload = s"""{"value": ${i % 100}}""")).code == 65)
        posts(200, s"${mech.toLowerCase}warm") // codegen/JIT warmup outside the timing
        val t0 = System.nanoTime()
        posts(n, s"${mech.toLowerCase}seq")
        val secs = (System.nanoTime() - t0) / 1e9
        println(f"wire ingest, ZMTP $mech REQ, 1 client x $n posts: $secs%.2f s " +
          f"(${n / secs}%.0f posts/s)")
        c.close(); bsrv.close()
    }
  }

  /** KV serving rate over the wire (r12 verdict, What's wrong #1): point
    * reads ran a Spark job per GET; with the in-process LWW cache they
    * must land in the same regime as the TS `/hello` reads (~thousands/s),
    * not the job-scheduling-bound ~60/s the r11 observe path measured.
    */
  private def kvserveSoak(spark: SparkSession): Unit = {
    import graft.server.{ZestCodec, ZestWireServer, ZmtpClient}
    val store = new java.io.File("target/tmp-soak-kvserve").getAbsolutePath
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(store))
    val engine = new GraftEngine(spark, tsStoragePath = Some(s"$store/ts"),
      flushEveryRows = 512)
    val srv = new ZestWireServer(engine)
    def client(): ZmtpClient = new ZmtpClient(srv.boundPort)
    def post(c: ZmtpClient, path: String, payload: String): Unit =
      require(c.call(ZestCodec.request(2, path, payload = payload)).code == 65,
        s"POST $path failed")
    // seed 500 cells across 10 ids, then flush so the cache load path
    // (storage -> LWW fold -> map) is the one a restarted server pays
    val seeder = client()
    for (i <- 0 until 500) post(seeder, s"/kv/dev${i % 10}/key$i", s"""{"v": $i}""")
    seeder.close()
    engine.flush()
    def gets(n: Int, mix: Boolean): Unit = {
      val c = client()
      var i = 0
      while (i < n) {
        val path =
          if (mix && i % 10 == 9) s"/kv/dev${i % 10}/keys"
          else s"/kv/dev${i % 10}/key${i % 500}"
        require(c.call(ZestCodec.request(1, path)).code == 69, s"GET $path failed")
        i += 1
      }
      c.close()
    }
    gets(500, mix = true) // warm: first read loads the cache once
    val n = 8000
    var t0 = System.nanoTime()
    gets(n, mix = false)
    val seqS = (System.nanoTime() - t0) / 1e9
    println(f"kv reads, 1 client  x $n point GETs: $seqS%.2f s (${n / seqS}%.0f reads/s)")
    t0 = System.nanoTime()
    val readers = (0 until 4).map { c =>
      val t = new Thread(() => gets(n / 4, mix = true)); t.start(); t
    }
    readers.foreach(_.join())
    val parS = (System.nanoTime() - t0) / 1e9
    println(f"kv reads, 4 clients x ${n / 4} mixed GETs (10%% keys-lists): $parS%.2f s (${n / parS}%.0f reads/s)")
    // under a live KV writer: reads share the read lock; writes mutate the
    // cache under flushLock — the datapoint that the write path doesn't
    // starve readers
    @volatile var writing = true
    val wT = new Thread(() => {
      val w = client()
      var i = 0
      while (writing) { post(w, s"/kv/devw/k${i % 50}", s"""{"v": $i}"""); i += 1 }
      w.close()
    })
    wT.start()
    t0 = System.nanoTime()
    gets(n, mix = false)
    val underS = (System.nanoTime() - t0) / 1e9
    writing = false; wT.join()
    println(f"kv reads, 1 client  x $n point GETs under a live KV writer: " +
      f"$underS%.2f s (${n / underS}%.0f reads/s)")
    srv.close()
  }

  /** Process-level crash/restart soak (r12 verdict task 5): fork a real
    * `WireMain` JVM, ingest TS + KV over the wire, SIGKILL it mid-ingest
    * (write-behind rows pending), restart on the same store, and verify
    * the deployable's restart contract end-to-end: bounded data loss
    * (≤ the write-behind window), no double-applied batches, KV + the
    * catalogue surviving, and no event-id reuse among surviving rows
    * across BOTH the TS and KV logs.
    */
  private def crashSoak(spark: SparkSession): Unit = {
    import java.io.{BufferedReader, InputStreamReader}
    import graft.server.{ZestCodec, ZmtpClient}
    val store = new java.io.File("target/tmp-soak-crash").getAbsolutePath
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(store))
    val javaBin = System.getProperty("java.home") + "/bin/java"
    val addOpens = Seq(
      "java.base/java.lang", "java.base/java.lang.invoke",
      "java.base/java.lang.reflect", "java.base/java.io",
      "java.base/java.net", "java.base/java.nio",
      "java.base/java.util", "java.base/java.util.concurrent",
      "java.base/java.util.concurrent.atomic",
      "java.base/sun.nio.ch", "java.base/sun.nio.cs",
      "java.base/sun.security.action", "java.base/sun.util.calendar"
    ).flatMap(p => Seq("--add-opens", s"$p=ALL-UNNAMED"))
    def spawn(): (Process, Int) = {
      val cmd = Seq(javaBin) ++ addOpens ++ Seq("-Xmx3g",
        "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
        "-cp", sys.props("java.class.path"), "graft.server.WireMain")
      val pb = new ProcessBuilder(cmd: _*)
      pb.environment().put("GRAFT_STORE_DIR", store)
      pb.environment().put("GRAFT_WIRE_BINARY_PORT", "0")
      pb.environment().put("SPARK_GRAFT_CPUS", "4")
      pb.redirectError(ProcessBuilder.Redirect.DISCARD) // Spark log noise
      val p = pb.start()
      val br = new BufferedReader(new InputStreamReader(p.getInputStream))
      var line = br.readLine()
      while (line != null && !line.startsWith("""{"wire_server"""))
        line = br.readLine()
      require(line != null, "WireMain never announced itself")
      val port = """"binary_port":(\d+)""".r.findFirstMatchIn(line).get.group(1).toInt
      val drain = new Thread(() =>
        try { while (br.readLine() != null) () } catch { case _: Exception => () })
      drain.setDaemon(true); drain.start()
      (p, port)
    }
    def posted(c: ZmtpClient, path: String, payload: String): Boolean =
      c.call(ZestCodec.request(2, path, payload = payload)).code == 65

    println("[crash] starting WireMain #1 ...")
    val (p1, port1) = spawn()
    val c1 = new ZmtpClient(port1)
    var ackedTs = 0; var ackedKv = 0
    // 2000 acked ops, TS/KV interleaved; WireMain's write-behind window is
    // 64 rows per store, and 2000 is not a multiple, so rows are ALWAYS
    // pending at the kill — the loss-bound case, not the lucky-flush one
    for (i <- 0 until 1000) {
      if (posted(c1, s"/ts/crash/at/${i * 1000}", s"""{"value": ${i % 100}}""")) ackedTs += 1
      if (posted(c1, s"/kv/dev0/k${i % 50}", s"""{"v": $i}""")) ackedKv += 1
    }
    println(s"[crash] acked: $ackedTs TS + $ackedKv KV posts; SIGKILL")
    p1.destroyForcibly(); p1.waitFor()
    try { c1.close() } catch { case _: Exception => () }

    println("[crash] restarting WireMain #2 on the same store ...")
    val (p2, port2) = spawn()
    val c2 = new ZmtpClient(port2)
    def get(path: String): String = c2.call(ZestCodec.request(1, path)).payloadString
    val lenJson = get("/ts/crash/length")
    val survivedTs = """"length": (\d+)""".r.findFirstMatchIn(lenJson)
      .map(_.group(1).toInt).getOrElse(-1)
    val cntJson = get("/kv/dev0/count")
    val survivedKv = """"count": (\d+)""".r.findFirstMatchIn(cntJson)
      .map(_.group(1).toInt).getOrElse(-1)
    // post-restart appends must keep working (and their ids not collide)
    for (i <- 0 until 100) {
      require(posted(c2, s"/ts/crash2/at/${i * 1000}", """{"value": 1}"""),
        "post-restart POST failed")
    }
    get("/ts/crash2/length") // GET flushes pending numeric rows: state now on disk
    c2.close()
    p2.destroyForcibly(); p2.waitFor()

    // verify on the store itself
    val ts = graft.sources.TsStorage.read(spark, s"$store/ts")
      .select("series_id", "t", "event_id")
    val tsRows = ts.collect()
    val kvIds = graft.sources.KvStorage.read(spark, s"$store/ts_kv_json")
      .select("event_id").collect().map(_.getLong(0))
    val allIds = tsRows.map(_.getLong(2)) ++ kvIds
    val lossTs = ackedTs - survivedTs
    println(s"[crash] TS survived $survivedTs/$ackedTs (lost $lossTs, window 64); " +
      s"KV live keys $survivedKv/50")
    assert(lossTs >= 0 && lossTs < 64, s"TS loss $lossTs outside the write-behind window")
    assert(survivedKv == 50, "KV keys lost beyond the pending window")
    assert(tsRows.map(r => (r.getString(0), r.getLong(1))).distinct.length == tsRows.length,
      "double-applied TS rows")
    assert(allIds.distinct.length == allIds.length,
      "event-id reuse across restart (TS+KV logs)")
    val crash2 = tsRows.count(_.getString(0) == "crash2")
    assert(crash2 == 100, s"post-restart appends incomplete: $crash2/100")
    println("[crash] PASS: bounded loss, no double-apply, no id reuse, KV + appends intact")
  }

  /** IVF index deletion at 500k x 64: the data-removal path's cost model.
    * Delete 1% of the corpus — the tombstone write must cost a key-column
    * scan, never vector I/O; the masked-search tax is one broadcast
    * anti-join; the fold rewrites only the touched cells (here: all 64,
    * the honest worst case for a uniformly-spread delete — the winning
    * case is the takedown pattern, deletes clustered in few cells, which
    * `ivfdelHot` below measures via a single-cluster doom set).
    * Checksums pin masked == folded search at every step.
    */
  private def ivfdelSoak(spark: SparkSession): Unit = {
    import graft.operators.Similarity
    def time(tag: String)(f: => Long): Unit = {
      val t0 = System.nanoTime(); val n = f
      println(f"$tag: ${(System.nanoTime() - t0) / 1e9}%.2f s ($n rows)")
    }
    val dim = 64
    val emb = spark.range(500000L).select(col("id").as("vec_id"),
      transform(sequence(lit(0), lit(dim - 1)), j => {
        val cell = col("id") * lit(dim.toLong) + j.cast("long")
        ((pmod(xxhash64(cell + 47L), lit(1000001L)).cast("double") / 1000000.0 - 0.5) * 0.5 +
          (pmod(xxhash64(pmod(col("id"), lit(64L)) * lit(dim.toLong) + j.cast("long") + 53L),
            lit(1000001L)).cast("double") / 1000000.0 - 0.5) * 0.6).cast("float")
      }).as("embedding"))
    val idx = new java.io.File("target/tmp-soak-ivfdel").getAbsolutePath
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(idx))
    time("index build 500k x 64 (once)")(
      { Similarity.writeIvfIndex(emb, idx, nCells = 64); 500000L })
    val q = emb.filter(col("vec_id") < 8)
      .select(col("vec_id").as("query_id"), col("embedding"))
    def ck(): Long = Similarity.ivfTopKIndexed(spark, idx, q, k = 10)
      .agg(sum(pmod(col("query_id") * 31L + col("neighbor_id"), lit(1000000007L))))
      .head().getLong(0)
    var base = 0L
    time("search pre-delete (8 queries, k=10)")({ base = ck(); 8L })
    // uniformly-spread 1% doom set: worst case — every cell touched
    time("tombstone delete 1% (uniform: all 64 cells touched)")(
      { Similarity.deleteFromIvf(spark, idx,
          emb.filter(pmod(col("vec_id"), lit(100L)) === 99L).select("vec_id"))
        5000L })
    var masked = 0L
    time("search under mask (anti-join tax)")({ masked = ck(); 8L })
    time("fold (rewrites every touched cell = whole index here)")(
      { Similarity.compactIvfIndex(spark, idx); 1L })
    var folded = 0L
    time("search after fold")({ folded = ck(); 8L })
    println(s"  masked == folded: ${masked == folded}")
    // the takedown pattern: doom ONE source cluster (vectors sharing a
    // center) — the fold touches the few cells that cluster maps to
    time("tombstone delete one cluster (id % 64 == 7)")(
      { Similarity.deleteFromIvf(spark, idx,
          emb.filter(pmod(col("vec_id"), lit(64L)) === 7L).select("vec_id"))
        7812L })
    val touched = spark.read.parquet(s"$idx/_tombstones")
      .select("cell").distinct().count()
    println(s"  cells touched by the clustered delete: $touched / 64")
    time(s"fold (cell-scoped: $touched cells)")(
      { Similarity.compactIvfIndex(spark, idx); 1L })
    time("search after clustered fold")({ folded = ck(); 8L })
  }

  private def kmvSoak(spark: SparkSession): Unit = {
    import graft.operators.KmvSketch
    def time(tag: String)(f: => Long): Unit = {
      val t0 = System.nanoTime(); val n = f
      println(f"$tag: ${(System.nanoTime() - t0) / 1e9}%.2f s ($n rows)")
    }
    // 5 groups of 4M consecutive ids, members = id mod 6M: adjacent
    // groups share a 2M-member range (jaccard 1/3), groups 3 periods
    // apart coincide exactly (jaccard 1) — known overlap structure.
    // (A multiplicative map keyed on id mod 5 makes the groups DISJOINT —
    // 5 divides the modulus — which is how the first draft of this soak
    // measured nothing.)
    val rows = spark.range(20000000L).select(
      concat(lit("g"), expr("id div 4000000")).as("g"),
      (col("id") % 6000000L).as("m"))
      .repartition(64).cache()
    println(s"kmv soak rows: ${rows.count()}")
    val k = 1024
    def sketchRun(): Long =
      KmvSketch.pairOverlap(KmvSketch.sketch(rows, "g", col("m"), k), "g", k)
        .queryExecution.toRdd.count()
    def exactRun(): Long =
      KmvSketch.exactOverlap(rows, "g", col("m")).queryExecution.toRdd.count()
    sketchRun() // warm
    for (iter <- 1 to 2) {
      time(s"i$iter kmv sketch overlap 20M")(sketchRun())
      time(s"i$iter exact overlap       20M")(exactRun())
    }
    val est = KmvSketch.pairOverlap(KmvSketch.sketch(rows, "g", col("m"), k), "g", k)
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getDouble(4)).toMap
    val ex = KmvSketch.exactOverlap(rows, "g", col("m"))
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getDouble(5)).toMap
    val errs = ex.map { case (p, j) => math.abs(est(p) - j) }
    println(f"kmv estimate error over ${ex.size} pairs: " +
      f"max ${errs.max}%.4f mean ${errs.sum / errs.size}%.4f (k=$k)")
    rows.unpersist()
  }

  /** Bucketed global rank at 10M rows — runnable standalone via
    * `runMain graft.Soak rank` (args naming sections skip the rest;
    * currently only this section is addressable).
    */
  /** Triangle counting under a hub (`runMain graft.Soak graph`): ~8M
    * background edges plus one 20k-degree hub. The naive wedge join
    * (self-join the undirected adjacency on the apex) pushes the hub's
    * deg² ≈ 4e8 wedges through ONE join key; the degree-oriented plan
    * (`Graph.triangles`) caps every apex at O(√m) out-degree — "the
    * curse of the last reducer" demonstrated and dodged, counts proven
    * equal.
    */
  private def graphSoak(spark: SparkSession): Unit = {
    def time(tag: String)(f: => Long): Unit = {
      val t0 = System.nanoTime(); val n = f
      println(f"$tag: ${(System.nanoTime() - t0) / 1e9}%.2f s ($n rows)")
    }
    val n = 2000000L
    // background: 4 pseudo-random half-edges per node (multiplier < 2^32:
    // id * a stays far under the ANSI overflow line)
    val bg = spark.range(n)
      .select(col("id").as("u"),
        explode(sequence(lit(1), lit(4))).as("k"))
      .select(col("u"),
        pmod(col("u") * lit(2654435761L) + col("k") * lit(40503L), lit(n)).as("v"))
      .filter(col("u") =!= col("v"))
      .select(least(col("u"), col("v")).as("a"), greatest(col("u"), col("v")).as("b"))
    val hub = spark.range(1L, 20001L)
      .select(lit(0L).as("a"), (col("id") * 97L % n).as("b"))
      .filter(col("b") =!= 0L)
      .select(least(col("a"), col("b")).as("a"), greatest(col("a"), col("b")).as("b"))
    val edges = bg.unionAll(hub).distinct().repartition(64).cache()
    println(s"graph soak edges: ${edges.count()}")
    import graft.operators.Graph
    def oriented(): Long = Graph.triangles(edges).queryExecution.toRdd.count()
    // naive: wedges from the full undirected adjacency at every apex,
    // leaves ordered (v1 < v2), closed against the (a < b) edge table
    def naive(): Long = {
      val und = edges.select(col("a").as("u"), col("b").as("v"))
        .unionAll(edges.select(col("b").as("u"), col("a").as("v")))
      und.as("e1").join(und.as("e2"),
          col("e1.u") === col("e2.u") && col("e1.v") < col("e2.v"))
        .select(col("e1.v").as("x"), col("e2.v").as("y"))
        .join(edges, col("x") === col("a") && col("y") === col("b"))
        .queryExecution.toRdd.count()
    }
    oriented() // warm shared scan paths
    var t1 = 0L; var t2 = 0L
    for (iter <- 1 to 2) {
      time(s"i$iter triangles degree-oriented 8M+hub")({ t1 = oriented(); t1 })
      time(s"i$iter triangles naive-wedge     8M+hub")({ t2 = naive(); t2 })
    }
    // apex enumeration finds each triangle at all 3 corners; the oriented
    // join exactly once
    println(s"triangle counts consistent (3x): ${3 * t1 == t2}")
    edges.unpersist()
  }

  /** FoF census under a 10k-degree hub: the guarded full-square block
    * decomposition vs the plain wedge join (hotCap high enough that no
    * midpoint decomposes). The hub midpoint funnels deg² = 10⁸ wedges
    * through ONE join key in the plain plan; the guard spreads them over
    * ~k² cells. Census must be bit-identical (checksummed).
    */
  private def fofSoak(spark: SparkSession): Unit = {
    def time(tag: String)(f: => Long): Unit = {
      val t0 = System.nanoTime(); val n = f
      println(f"$tag: ${(System.nanoTime() - t0) / 1e9}%.2f s ($n rows)")
    }
    val n = 1000000L
    val bg = spark.range(n)
      .select(col("id").as("u"), explode(sequence(lit(1), lit(4))).as("k"))
      .select(col("u"),
        pmod(col("u") * lit(2654435761L) + col("k") * lit(40503L), lit(n)).as("v"))
      .filter(col("u") =!= col("v"))
      .select(least(col("u"), col("v")).as("a"), greatest(col("u"), col("v")).as("b"))
    val hub = spark.range(1L, 10001L)
      .select(lit(0L).as("a"), (col("id") * 97L % n).as("b"))
      .filter(col("b") =!= 0L)
      .select(least(col("a"), col("b")).as("a"), greatest(col("a"), col("b")).as("b"))
    val edges = bg.unionAll(hub).distinct().repartition(64).cache()
    println(s"fof soak edges: ${edges.count()}")
    import graft.operators.Graph
    def checksum(cap: Int): Long =
      Graph.fofCensus(edges, hotCap = cap)
        .select(sum(pmod(col("node") * 31L + col("n_fof"), lit(1000000007L))))
        .head().getLong(0)
    var cg = 0L; var cu = 0L
    time("i0 fof guarded (warm)      1M+hub")({ cg = checksum(4096); 1L })
    for (iter <- 1 to 2) {
      time(s"i$iter fof guarded cap=4096   1M+hub")({ cg = checksum(4096); 1L })
      time(s"i$iter fof plain (no decomp)  1M+hub")({ cu = checksum(Int.MaxValue); 1L })
    }
    println(s"fof checksums equal: ${cg == cu}")
    edges.unpersist()
  }

  /** Persist-once graph layout vs rebuild-per-query: the sf0.1
    * co-occurrence graph's FoF census and common-neighbor scores computed
    * (a) the gate way — edge build + guarded wedge join per query — and
    * (b) off the stored bucketed adjacency (written once, then each query
    * is exchange-free below its wedge join). Checksums pin equality.
    */
  private def gidxSoak(spark: SparkSession): Unit = {
    def time(tag: String)(f: => Long): Unit = {
      val t0 = System.nanoTime(); val n = f
      println(f"$tag: ${(System.nanoTime() - t0) / 1e9}%.2f s ($n rows)")
    }
    import graft.operators.Graph
    val d = "/root/testdata/sf0.1"
    val ev = Tables.events(spark, d)
    val occ = ev.select(col("user_id"), col("event_type"),
        (graft.model.TimeCols.millis(ev, "ts") / 300000L).cast("long").as("m"))
      .distinct()
    def builtEdges() =
      Graph.coOccurrenceEdges(occ, "user_id", Seq("event_type", "m"))
        .localCheckpoint()
    val dir = new java.io.File("target/tmp-soak-gidx").getAbsolutePath
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    time("layout write (once)")({
      val e = builtEdges()
      e.write.mode("overwrite").parquet(s"$dir/edges")
      val und = e.select(col("a").as("u"), col("b").as("v"))
        .unionAll(e.select(col("b").as("u"), col("a").as("v")))
      und.write.mode("overwrite").format("parquet").bucketBy(16, "u").sortBy("u")
        .option("path", s"$dir/by_u").saveAsTable("graft_soak_gidx_byu")
      und.write.mode("overwrite").format("parquet").bucketBy(16, "v").sortBy("v")
        .option("path", s"$dir/by_v").saveAsTable("graft_soak_gidx_byv")
      1L
    })
    val byU = spark.table("graft_soak_gidx_byu")
    val byV = spark.table("graft_soak_gidx_byv")
    val stored = spark.read.parquet(s"$dir/edges")
    def ck(df: org.apache.spark.sql.DataFrame, cols: (String, String)): Long =
      df.select(sum(pmod(col(cols._1) * 31L + col(cols._2), lit(1000000007L))))
        .head().getLong(0)
    var a = 0L; var b = 0L
    for (iter <- 1 to 2) {
      time(s"i$iter fof BUILT  (edge build + guarded wedges)")(
        { a = ck(Graph.fofCensus(builtEdges()), ("node", "n_fof")); 1L })
      time(s"i$iter fof STORED (bucketed adjacency)")(
        { b = ck(Graph.fofCensusStored(byV, byU, stored), ("node", "n_fof")); 1L })
      println(s"  fof checksums equal: ${a == b}")
      time(s"i$iter cn  BUILT  (edge build + guarded wedges)")(
        { a = ck(Graph.commonNeighbors(builtEdges()), ("a", "common")); 1L })
      time(s"i$iter cn  STORED (bucketed adjacency)")(
        { b = ck(Graph.commonNeighborsStored(byV, byU, stored), ("a", "common")); 1L })
      println(s"  cn checksums equal: ${a == b}")
    }
    // incremental maintenance: a deterministic ~10% edge batch appended
    // bucket-aligned into a layout built from the other ~90% — the daily-
    // batch path whose absence made the layout write-once (r10 verdict
    // item 4). Yardsticks: the one-time full layout write above, and the
    // appended layout's census checksum vs the full stored layout's.
    val full = ck(Graph.fofCensusStored(byV, byU, stored), ("node", "n_fof"))
    val e2 = builtEdges()
    val isBatch = pmod(xxhash64(col("a"), col("b")), lit(10)) === 0
    val base90 = e2.filter(!isBatch)
    val und90x = base90.select(col("a").as("u"), col("b").as("v"))
      .unionAll(base90.select(col("b").as("u"), col("a").as("v")))
    time("append soak: base layout write (90%)")({
      und90x.write.mode("overwrite").format("parquet")
        .bucketBy(16, "u").sortBy("u")
        .option("path", s"$dir/app_by_u").saveAsTable("graft_soak_gidxapp_byu")
      und90x.write.mode("overwrite").format("parquet")
        .bucketBy(16, "v").sortBy("v")
        .option("path", s"$dir/app_by_v").saveAsTable("graft_soak_gidxapp_byv")
      1L
    })
    time("appendEdges (10% batch, no resident probe — pure O(batch))")({
      Graph.appendEdges(e2.filter(isBatch),
        "graft_soak_gidxapp_byu", "graft_soak_gidxapp_byv",
        dedupResident = false)
      1L
    })
    time("appendEdges retry (same batch WITH dedup probe: no-op heal)")({
      Graph.appendEdges(e2.filter(isBatch),
        "graft_soak_gidxapp_byu", "graft_soak_gidxapp_byv")
      1L
    })
    val byUa = spark.table("graft_soak_gidxapp_byu")
    val storedA = byUa.filter(col("u") < col("v"))
      .select(col("u").as("a"), col("v").as("b"))
    var app = 0L
    time("fof census off the appended layout")({
      app = ck(Graph.fofCensusStored(spark.table("graft_soak_gidxapp_byv"),
        byUa, storedA), ("node", "n_fof"))
      1L
    })
    println(s"  appended-layout census equals full layout: ${app == full}")
    spark.sql("DROP TABLE IF EXISTS graft_soak_gidx_byu")
    spark.sql("DROP TABLE IF EXISTS graft_soak_gidx_byv")
    spark.sql("DROP TABLE IF EXISTS graft_soak_gidxapp_byu")
    spark.sql("DROP TABLE IF EXISTS graft_soak_gidxapp_byv")
  }

  /** Write-behind flush cost at the wire server's unit, 64 rows per flush
    * (32 sensors, 2 rows each): `flushes` calls of [[graft.sources.TsStorage.append]]
    * with the rows the engine's flush hands it (its `TsRow` serializer) —
    * a flush run each, and a fold every 64 runs — against a control timed
    * in the same loop, the clustered partitioned Spark write of the same
    * 64 rows (the fold's staging write, and the append body before flush
    * runs). Prints the median run write, the median flush that folds, the
    * amortized cost per flush and the control's median; the storage's own
    * slf4j lines (one per run and per fold) go to stderr.
    * `runMain graft.Soak flush [flushes]`, 256 by default.
    */
  private def flushSoak(spark: SparkSession, flushes: Int): Unit = {
    import spark.implicits._
    import graft.sources.{TsStorage, WriteLayout}
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "graft.sources", org.apache.logging.log4j.Level.INFO)
    val base = new java.io.File("target/tmp-soak-flush").getAbsolutePath
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(base))
    val (runsP, ctlP) = (s"$base/runs", s"$base/control")
    val day0 = 1704067200000L
    val layout = new GraftEngine.RowLayout[GraftEngine.TsRow]()
    def batch(k: Int) = (0 until 64).map { i =>
      GraftEngine.TsRow(s"s${i % 32}", day0 + k * 60000L + i, i.toDouble,
        Map("room" -> s"r${i % 4}"), k * 64L + i + 1)
    }
    def nRuns = Option(new java.io.File(runsP + "_runs").listFiles).toSeq.flatten
      .count(f => f.getName.endsWith(".parquet") && !f.getName.startsWith("."))
    def ms(t0: Long) = (System.nanoTime() - t0) / 1e6
    val runMs, foldMs, ctlMs = scala.collection.mutable.ArrayBuffer.empty[Double]
    for (k <- 0 until flushes) {
      val rows = batch(k)
      val before = nRuns
      val t0 = System.nanoTime()
      TsStorage.append(spark, layout.schema, layout.rows(rows), runsP)
      (if (nRuns <= before) foldMs else runMs) += ms(t0)
      val ctl = rows.toDF()
      val t1 = System.nanoTime()
      WriteLayout.clusterForWrite(
        ctl.withColumn("day", date_format(timestamp_millis(col("t")), "yyyy-MM-dd")),
        Seq("series_id", "day"), col("t"))
        .write.partitionBy("series_id", "day").mode("append").parquet(ctlP)
      ctlMs += ms(t1)
    }
    def med(xs: Seq[Double]) =
      if (xs.isEmpty) Double.NaN else xs.sorted.apply(xs.size / 2)
    val n = TsStorage.read(spark, runsP).count()
    val nCtl = spark.read.parquet(ctlP).count()
    println(f"flush soak: $flushes flushes of 64 rows, ${foldMs.size} folds, " +
      f"$n rows read back (control $nCtl)")
    println(f"  run write       median ${med(runMs.toSeq)}%.1f ms (${runMs.size} flushes)")
    println(f"  flush that folds median ${med(foldMs.toSeq)}%.1f ms (${foldMs.size} flushes)")
    println(f"  amortized       ${(runMs.sum + foldMs.sum) / flushes}%.1f ms per flush")
    println(f"  control write   median ${med(ctlMs.toSeq)}%.1f ms " +
      f"(clustered partitioned Spark write of the same 64 rows)")
  }

  /** PageRank past broadcast-V: a 1M-node, 5M-edge synthetic directed
    * graph run through BOTH regimes — the broadcast fast path and the
    * shuffle-join rank update (forced via broadcastNodeLimit = 0) — for 5
    * bounded iterations each. Checksums pin identical ranks; the timing
    * shows what the general path costs when the rank vector can no longer
    * live on the driver.
    */
  private def prankSoak(spark: SparkSession): Unit = {
    def time(tag: String)(f: => Long): Unit = {
      val t0 = System.nanoTime(); val n = f
      println(f"$tag: ${(System.nanoTime() - t0) / 1e9}%.2f s ($n rows)")
    }
    import graft.operators.Graph
    val n = 1000000L
    val edges = spark.range(n)
      .select(col("id").as("src"), explode(sequence(lit(1), lit(5))).as("k"))
      .select(col("src"),
        pmod(col("src") * lit(2654435761L) + col("k") * lit(40503L), lit(n)).as("dst"),
        (pmod(col("src") + col("k"), lit(7L)) + 1L).as("c"))
      .filter(col("src") =!= col("dst"))
      .repartition(64).cache()
    println(s"prank soak edges: ${edges.count()}")
    def ck(limit: Long): Long =
      Graph.pagerank(edges, maxIters = 5, tolMicros = 0L,
          broadcastNodeLimit = limit)
        .select(sum(pmod(col("node") * 31L + col("pagerank_micros"),
          lit(1000000007L))))
        .head().getLong(0)
    var cb = 0L; var cs = 0L
    time("i0 pagerank broadcast (warm)  1M nodes x 5 iters")({ cb = ck(Long.MaxValue); 1L })
    for (iter <- 1 to 2) {
      time(s"i$iter pagerank broadcast        1M nodes x 5 iters")({ cb = ck(Long.MaxValue); 1L })
      time(s"i$iter pagerank shuffle-join     1M nodes x 5 iters")({ cs = ck(0L); 1L })
    }
    println(s"pagerank checksums equal: ${cb == cs}")
    edges.unpersist()
  }

  /** hammingNearDup under a planted pigeonhole mega-bucket: 1M random
    * sketches (cold buckets, ~15 members each) plus 60k sketches pinned to
    * ONE chunk-0 value — 1.8·10⁹ candidate pairs through one (ci, cv) key in
    * the plain join, spread over triangular block cells by the guard. 100
    * of the planted docs share a full sketch, so the true pair set (4950
    * hamming-0 pairs + background collisions) is non-trivial; checksummed
    * for bit-parity.
    */
  private def hammingSoak(spark: SparkSession): Unit = {
    def time(tag: String)(f: => Long): Unit = {
      val t0 = System.nanoTime(); val n = f
      println(f"$tag: ${(System.nanoTime() - t0) / 1e9}%.2f s ($n rows)")
    }
    import graft.operators.Dedup
    val bgDocs = spark.range(1000000L)
      .select(col("id").as("doc_id"), xxhash64(col("id")).as("sh"))
    // planted: chunk 0 pinned to 0x1234; first 100 share the whole sketch
    val planted = spark.range(1000000L, 1060000L)
      .select(col("id").as("doc_id"),
        when(col("id") < 1000100L, lit(0x5a5a00001234L))
          .otherwise(xxhash64(col("id"))
            .bitwiseAND(lit(0xffffffffffff0000L)).bitwiseOR(lit(0x1234L))).as("sh"))
    val sketches = bgDocs.unionAll(planted).repartition(64).cache()
    println(s"hamming soak sketches: ${sketches.count()}")
    def checksum(cap: Int): (Long, Long) = {
      val p = Dedup.hammingNearDup(sketches, maxDist = 3, hotBucketCap = cap)
        .agg(count(lit(1)).as("n"),
          sum(pmod(col("id_a") * 31L + col("id_b") + col("hamming"), lit(1000000007L))).as("c"))
        .head()
      (p.getLong(0), p.getLong(1))
    }
    var g = (0L, 0L); var u = (0L, 0L)
    time("i0 hamming guarded (warm)        1M+60k-bucket")({ g = checksum(4096); g._1 })
    for (iter <- 1 to 2) {
      time(s"i$iter hamming guarded cap=4096     1M+60k-bucket")({ g = checksum(4096); g._1 })
      time(s"i$iter hamming plain (no decomp)    1M+60k-bucket")({ u = checksum(Int.MaxValue); u._1 })
    }
    println(s"hamming pair sets equal: ${g == u} (pairs=${g._1})")
    sketches.unpersist()
  }

  /** blockedPairs under a planted 8k-member mega-block, in the SHUFFLE
    * join regime (broadcast disabled): the ER blocking hazard is one
    * popular blocking key (an empty-title block, a boilerplate head)
    * funneling B² = 3.2·10⁷ candidate pairs through ONE reducer — which
    * is what actually happens at lake scale, where neither side fits a
    * broadcast and AQE coalesces the small-INPUT cells join onto few
    * reducers. (Under a broadcast conversion the plain join is already
    * probe-parallel — measured 110 s plain vs 420 s guarded at 2·10⁸
    * pairs with broadcast ON, which is why the guard pairs with the
    * explicit join-key repartition rather than replacing it.) The guard
    * splits the block into k = ceil(B/cap) member blocks joined on
    * upper-triangular cells (same-g pairs only in the diagonal cell), so
    * no reducer owns more than ~cap² pairs; the pair multiset must be
    * bit-identical (count + checksum). The verifier is the codegen'd
    * Jaro-Winkler so the soak times the real ER shape.
    */
  private def blockedSoak(spark: SparkSession): Unit = {
    def time(tag: String)(f: => Long): Unit = {
      val t0 = System.nanoTime(); val n = f
      println(f"$tag: ${(System.nanoTime() - t0) / 1e9}%.2f s ($n rows)")
    }
    import graft.operators.Dedup
    import graft.functions.JaroWinkler
    // 200k background rows over ~6k cold blocks + one 8k-member hot block
    val bg = spark.range(200000L)
      .select(col("id").as("doc_id"),
        concat(lit("blk"), pmod(xxhash64(col("id")), lit(6000L))).as("blk"),
        concat(lit("payload "), col("id") % 97).as("head"))
    val hot = spark.range(200000L, 208000L)
      .select(col("id").as("doc_id"), lit("HOT").as("blk"),
        concat(lit("the same head "), col("id") % 13).as("head"))
    val rows = bg.unionAll(hot).repartition(64).cache()
    println(s"blocked soak rows: ${rows.count()}")
    def run(cap: Int): (Long, Long) = {
      val p = Dedup.blockedPairs(rows, "doc_id", "blk",
          carry = Seq("head"), hotBlockCap = cap)
        .filter(JaroWinkler.jaro_winkler(col("head_a"), col("head_b")) >= lit(0.9))
        .agg(count(lit(1)).as("n"),
          sum(pmod(col("id_a") * 31L + col("id_b"), lit(1000000007L))).as("c"))
        .head()
      (p.getLong(0), p.getLong(1))
    }
    val bcast = spark.conf.getOption("spark.sql.autoBroadcastJoinThreshold")
    val aqeB = spark.conf.getOption("spark.sql.adaptive.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    try {
      var g = (0L, 0L); var u = (0L, 0L)
      time("i0 blocked guarded (warm)     200k+8k-block")({ g = run(512); g._1 })
      for (iter <- 1 to 2) {
        time(s"i$iter blocked guarded cap=512   200k+8k-block")({ g = run(512); g._1 })
        time(s"i$iter blocked plain (no decomp) 200k+8k-block")({ u = run(Int.MaxValue); u._1 })
      }
      println(s"blocked pair sets equal: ${g == u} (pairs=${g._1})")
    } finally {
      bcast.fold(spark.conf.unset("spark.sql.autoBroadcastJoinThreshold"))(
        v => spark.conf.set("spark.sql.autoBroadcastJoinThreshold", v))
      aqeB.fold(spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold"))(
        v => spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", v))
    }
    rows.unpersist()
  }

  /** k-core peel at 8M edges: the claim under test is that per-round cost
    * DECREASES because the surviving edge set shrinks monotonically — the
    * property that makes iterate-to-fixpoint affordable at lake scale.
    * Fixture: the triangle soak's 2M-node/8M-edge pseudo-random graph
    * (mean undirected degree ~8) plus a 20k-degree hub; k = 7 sits mid-distribution, so the
    * peel cascades over several rounds into a NONEMPTY fixpoint core.
    */
  private def kcoreSoak(spark: SparkSession): Unit = {
    import org.apache.spark.sql.DataFrame
    val n = 2000000L
    // out-degree 1 + (u mod 7): heterogeneous degrees (und ~3..15) so the
    // peel removes a band of nodes per round and their loss cascades
    val bg = spark.range(n)
      .select(col("id").as("u"),
        explode(sequence(lit(1), (pmod(col("id"), lit(7)) + 1).cast("int"))).as("k"))
      .select(col("u"),
        pmod(col("u") * lit(2654435761L) + col("k") * lit(40503L), lit(n)).as("v"))
      .filter(col("u") =!= col("v"))
      .select(least(col("u"), col("v")).as("a"), greatest(col("u"), col("v")).as("b"))
    val hub = spark.range(1L, 20001L)
      .select(lit(0L).as("a"), (col("id") * 97L % n).as("b"))
      .filter(col("b") =!= 0L)
      .select(least(col("a"), col("b")).as("a"), greatest(col("a"), col("b")).as("b"))
    var e: DataFrame = bg.unionAll(hub).distinct().repartition(64).localCheckpoint()
    var m = e.count()
    println(s"kcore soak edges: $m")
    val k = 7
    var round = 0
    var done = false
    while (!done && round < 40) {
      val t0 = System.nanoTime()
      val und = e.select(col("a").as("u"), col("b").as("v"))
        .unionAll(e.select(col("b").as("u"), col("a").as("v")))
      val keep = und.groupBy(col("u")).agg(count(lit(1)).as("deg"))
        .filter(col("deg") >= k).select(col("u"))
      val next = e.join(keep.select(col("u").as("a")), Seq("a"), "left_semi")
        .join(keep.select(col("u").as("b")), Seq("b"), "left_semi")
        .select(col("a"), col("b")).localCheckpoint()
      val m2 = next.count()
      round += 1
      println(f"round $round%2d: $m -> $m2 edges, ${(System.nanoTime() - t0) / 1e9}%.2f s")
      done = m2 == m
      m = m2
      e = next
    }
    println(s"kcore($k) fixpoint after $round rounds: $m edges")
  }

  private def rankSoak(spark: SparkSession): Unit = {
    def time(tag: String)(f: => Long): Unit = {
      val t0 = System.nanoTime(); val n = f
      println(f"$tag: ${(System.nanoTime() - t0) / 1e9}%.2f s ($n rows)")
    }
    // rankBucketed (user_rfm's quintile engine) vs the naive global
    // row_number window: the naive form sorts all 10M rows in ONE task;
    // the bucketed form spreads the sort across the coarse metric buckets
    // and only the tiny bucket axis is ranked serially. Checksum of
    // id*rank proves bit-parity while keeping the compare O(1) memory.
    // multiplier kept < 2^32 so id * a stays well under 2^63 (ANSI mode
    // makes long overflow a hard error, not a wrap)
    val rankRows = spark.range(10000000L)
      .select(col("id"), pmod(col("id") * lit(2654435761L), lit(1000000L)).as("metric"))
      .repartition(64).cache()
    println(s"rank soak rows: ${rankRows.count()}")
    import org.apache.spark.sql.expressions.Window
    // checksum per row is (id*r) mod p so the 10M-row sum stays ~1e16,
    // far under the ANSI long-overflow line a raw sum(id*r) crosses
    def rankChecksum(df: org.apache.spark.sql.DataFrame): Long =
      df.select(sum(pmod(col("id") * col("r"), lit(1000000007L)))).head().getLong(0)
    def rankDirect(): Long =
      rankChecksum(rankRows.withColumn("r", row_number()
        .over(Window.orderBy(col("metric").asc, col("id").asc)).cast("long")))
    def rankBucketedRun(): Long =
      rankChecksum(graft.operators.Sessionize.rankBucketed(rankRows,
        col("metric"), col("id"), expr("metric div 10000"), "r"))
    rankBucketedRun() // warm
    var crd = 0L; var crb = 0L
    for (iter <- 1 to 2) {
      time(s"i$iter rank global-window 10M")({ crd = rankDirect(); 1L })
      time(s"i$iter rank bucketed      10M")({ crb = rankBucketedRun(); 1L })
    }
    println(s"rank checksums equal: ${crd == crb}")
    rankRows.unpersist()
  }
}
