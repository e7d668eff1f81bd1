package graft

/** Plan-hygiene gates: encode the 100×-scale review as tests. A query that
  * regresses into a cartesian product, loses its dim-table broadcast, or
  * stops pushing filters into the parquet scan fails here long before a
  * bench run would catch it.
  */
class PlanSpec extends SparkSpecBase {

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, sfDir).queryExecution.executedPlan.toString

  test("q02 join chain broadcasts the dim tables and never goes cartesian") {
    val p = plan("q02_join_chain")
    assert(p.contains("BroadcastHashJoin"), s"dims must broadcast:\n$p")
    assert(!p.contains("CartesianProduct"), s"no cartesian in the chain:\n$p")
  }

  test("q01 pushes its filters into the parquet scan") {
    val p = plan("q01_scan_filter")
    assert(p.contains("PushedFilters: ["), p)
    assert(p.contains("IsNotNull") || p.contains("GreaterThan"),
      s"expected pushed predicates in scan:\n$p")
  }

  test("q01 prunes columns: scan reads only what the projection needs") {
    val p = plan("q01_scan_filter")
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(!readSchema.contains("l_returnflag"), s"unneeded column read:\n$readSchema")
    assert(!readSchema.contains("l_tax"), s"unneeded column read:\n$readSchema")
  }

  test("q06 aggregation is two-phase: map-side partial before the exchange") {
    val p = plan("q06_group_agg")
    // partial_sum/partial_count under the scan side proves the map-side
    // combine that keeps the shuffle O(groups·partitions) at any scale
    assert(p.contains("partial_"), s"no partial aggregation phase:\n$p")
    assert(p.contains("HashAggregate"), p)
  }

  test("q05 theta join is a broadcast nested loop over dims only") {
    val p = plan("q05_theta_join")
    assert(p.contains("BroadcastNestedLoopJoin"),
      s"dim×dim theta join should be BNLJ (both sides small):\n$p")
  }

  test("q09 window rank plans exactly one shuffle for the window") {
    val df = SparkEntry.queries("q09_window_rank")(spark, sfDir)
    val p = df.queryExecution.executedPlan.toString
    val shuffles = "Exchange".r.findAllIn(p).length
    // one hashpartitioning for the window + the final rangepartitioning sort
    assert(shuffles <= 2, s"window rank should not cascade shuffles ($shuffles):\n$p")
  }

  test("whole t2 corpus plans contain no CartesianProduct and no collect") {
    graft.queries.T2.defs.foreach { q =>
      val p = q.fn(spark, sfDir).queryExecution.executedPlan.toString
      assert(!p.contains("CartesianProduct"), s"${q.name} went cartesian:\n$p")
    }
  }

  test("whole ops corpus: no cartesian anywhere; BNLJ only in declared all-pairs/broadcast tiers") {
    // These ops broadcast a small side over a non-equi condition BY DESIGN:
    // the top-k family broadcasts the query set; the exact near-dup tier is
    // the documented all-pairs oracle tier (scale path = _lsh); kmeans
    // broadcasts the ONE packed-centroid row to every task (map-only
    // assignment — the BNLJ here is a 1-row build side, not a pair blowup).
    // (bm25 / profile BNLJs are likewise one-row stats broadcasts;
    // op_dedup_semantic inherits kmeans' packed-centroid broadcast — its
    // pair join itself is the cluster-keyed SMJ)
    val bnljAllowed = Set("op_sim_topk", "op_sim_topk_agg", "op_sim_topk_ivf",
      "op_margin_align", // guarded exact tier: side-B broadcast, side A streams
      "op_dedup_embedding", "op_embed_kmeans", "op_embed_kmeans_pruned",
      "op_embed_pq", "op_sim_topk_pq", "op_sim_topk_ivfpq",
      "op_sim_topk_ivfpq_res",
      "op_bm25_topk", "op_rrf_fusion", // rrf inherits bm25's 1-row stats broadcast
      "op_profile", "op_lang_sample_weights",
      "op_corr_spearman", // 1-row range-totals broadcast for the prefix-sum offsets

      "op_lm_score", // 1-row vocab-size broadcast, the op_profile pattern
      "op_pmi_collocations", // 1-row bigram-total broadcast, same pattern
      "op_dist_drift", // pair-table (≤ slices²) broadcast over the vocab
      "op_sim_radius", // broadcast query side, corpus streams — the top-k family shape
      "op_group_trend", // 1-row global-min-date broadcast, the op_profile pattern
      "op_knn_classify", // inherits cosineTopK's broadcast query side
      "op_ab_ztest", // 1-row-per-variant cross of two scalar rollups
      "op_epoch_sample",
      "op_dedup_semantic", "op_dedup_semantic_auto",
      // 1-row broadcasts of the ratio array / (e,m) max / grid totals —
      // the op_profile pattern, three scalar fold-ins (the mix
      // composition inherits them)
      "op_importance_weights", "op_importance_resample", "op_pipeline_mix",
      "op_importance_target", "op_pipeline_full", // same three scalar fold-ins
      // skyline's phase 2 IS a broadcast dominance check over the tiny
      // pruned candidate set — the dedicated PlanSpec case below pins
      // that it stays the BROADCAST form
      "op_skyline")
    graft.ops.OpQueries.defs.foreach { q =>
      val p = q.fn(spark, sfDir).queryExecution.executedPlan.toString
      assert(!p.contains("CartesianProduct"), s"${q.name} went cartesian:\n$p")
      if (!bnljAllowed(q.name))
        assert(!p.contains("BroadcastNestedLoopJoin"),
          s"${q.name} fell back to a nested-loop join:\n$p")
      spark.catalog.clearCache()
    }
  }

  test("op_sim_topk broadcasts the query side (corpus streams)") {
    val p = SparkEntry.queries("op_sim_topk")(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"), p)
  }

  test("minhash pair generation joins on band keys, not all pairs") {
    val docs = Tables.load(spark, sfDir, "documents")
    val p = graft.ops.DedupOps.minhashPairs(docs).queryExecution.executedPlan.toString
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin") ||
      p.contains("BroadcastHashJoin"), s"band join must be an equi-join:\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("semantic pair join keys carry the split bucket (key cardinality grows with N)") {
    // the pair join must be an equi-join on BOTH the cluster id and the
    // oversized-cluster split bucket: with k = ⌈N/target⌉ and the cap
    // splitting runaway clusters, the join-key cardinality is ≈ N/cap —
    // it GROWS with the corpus instead of pinning all pair work onto a
    // constant k reducers (the r8 scale-killer)
    val emb = Tables.load(spark, sfDir, "embeddings")
    val p = graft.ops.ClusterOps
      .semanticPairs(emb, k = 8, iters = 2, threshold = 0.45, maxClusterSize = 40L)
      .queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct"), p)
    val joinLine = p.linesIterator.find(l =>
      (l.contains("SortMergeJoin") || l.contains("ShuffledHashJoin") ||
        l.contains("BroadcastHashJoin")) && l.contains("cluster"))
    assert(joinLine.isDefined, s"no equi-join on cluster found:\n$p")
    assert(joinLine.get.contains("sub"),
      s"pair join must also key on the split bucket:\n${joinLine.get}")
  }

  test("simhash pair generation is a block-key equi-join, not all pairs") {
    val docs = Tables.load(spark, sfDir, "documents")
    val p = graft.ops.DedupOps.simhashPairs(docs).queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"simhash candidates must come from the block equi-join:\n$p")
  }

  test("embedding LSH candidate generation is a band-key equi-join, not all pairs") {
    val e = Tables.load(spark, sfDir, "embeddings")
    val p = graft.ops.VectorOps.cosineNearDupLsh(e).queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"LSH near-dup must never fall back to all-pairs:\n$p")
  }

  test("asof join is one union + one keyed window — never a range join") {
    val p = SparkEntry.queries("op_asof_join")(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"asof must not plan as a range/theta join:\n$p")
    assert(p.contains("Window"), p)
  }

  test("bucketed tables join with ZERO exchanges (co-located fact-fact join)") {
    val o = Tables.load(spark, sfDir, "orders")
    val l = Tables.load(spark, sfDir, "lineitem")
    graft.io.TableIO.writeBucketed(o, "bk_orders", "o_orderkey", 8)
    graft.io.TableIO.writeBucketed(
      l.withColumnRenamed("l_orderkey", "o_orderkey"), "bk_lineitem", "o_orderkey", 8)
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force SMJ
      val joined = spark.table("bk_orders")
        .join(spark.table("bk_lineitem"), "o_orderkey")
        .groupBy("o_orderpriority").count()
      val p = joined.queryExecution.executedPlan.toString
      assert(p.contains("SortMergeJoin"), p)
      // the join itself consumes the bucket layout: no Exchange under it
      val joinSection = p.substring(p.indexOf("SortMergeJoin"))
      assert(!joinSection.contains("Exchange hashpartitioning(o_orderkey"),
        s"bucketed join must not reshuffle on the bucket key:\n$p")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("date-partitioned tables prune the scan on a partition filter") {
    val o = Tables.load(spark, sfDir, "orders")
      .withColumn("o_month", org.apache.spark.sql.functions.expr(
        "date_format(o_orderdate, 'yyyy-MM')"))
    graft.io.TableIO.writePartitioned(o, "part_orders", "o_month")
    val months = spark.table("part_orders").select("o_month").distinct().count()
    assert(months > 3, s"fixture must span several months (got $months)")
    val q = spark.table("part_orders").filter("o_month = '1995-03'")
      .groupBy("o_orderstatus").count()
    val scan = q.queryExecution.executedPlan.toString
      .linesIterator.find(_.contains("FileScan")).getOrElse("")
    // the partition filter must reach the scan as a PartitionFilters entry
    // (directory pruning), NOT a PushedFilters data filter over all files
    assert(scan.contains("PartitionFilters: ["), s"no partition pruning:\n$scan")
    assert(scan.contains("o_month"), s"partition filter lost:\n$scan")
    // and the partition column is no longer in the data read schema
    assert(q.collect().nonEmpty)
  }

  test("simhash64 production-radius candidates come from the block equi-join") {
    val docs = Tables.load(spark, sfDir, "documents")
    val p = graft.ops.DedupOps.simhashPairs64(docs, 3).queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"production simhash must join on 16-bit block keys:\n$p")
  }

  test("IVF assignment is map-only: no window/aggregate exchange over the N×cells expansion") {
    val e = Tables.load(spark, sfDir, "embeddings")
    val p = graft.ops.ClusterOps.topKIvf(e, kc = 8, nprobe = 2, k = 5, nQueries = 20)
      .queryExecution.executedPlan.toString
    // the corpus-side nearest-cell argmin happens in-row (array_min over the
    // broadcast centroid array); the only windows are the two per-query
    // ranks — the probe-set rank and the top-k (WindowGroupLimit lines are
    // their pushdowns) — and both partition by qid
    val windows = p.linesIterator.filter(l =>
      l.contains("Window [") || l.contains("WindowGroupLimit [")).toSeq
    assert(windows.nonEmpty, s"no per-query rank window:\n$p")
    windows.foreach(w => assert("""\[qid#\d+L\]""".r.findFirstIn(w).isDefined,
      s"IVF window not partitioned by qid:\n$w\n$p"))
    assert(!p.contains("hashpartitioning(nid"), s"IVF shuffles the corpus expansion:\n$p")
  }

  test("IVF probe prunes the partitioned index scan to the probed cells") {
    val e = Tables.load(spark, sfDir, "embeddings")
    graft.ops.ClusterOps.buildIvfIndex(e, "ivf_plan")
    val df = graft.ops.ClusterOps.probeIvf(e, "ivf_plan")
    val p = df.queryExecution.executedPlan.toString
    val scanLine = p.linesIterator
      .find(l => l.contains("FileScan") && l.contains("ivf_plan_data")).getOrElse("")
    // the cell join key must reach the scan as a partition filter
    // (dynamic partition pruning from the broadcast probe side)
    assert(scanLine.contains("PartitionFilters: [") &&
      (scanLine.contains("dynamicpruning") || p.contains("dynamicpruning")),
      s"index scan not partition-pruned:\n$scanLine\n$p")
  }

  test("pipeline sample executes as a top-n (TakeOrderedAndProject), not a global sort") {
    val p = SparkEntry.queries("op_pipeline_sample")(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(p.contains("TakeOrderedAndProject"),
      s"md5-sample limit must push into a top-n:\n$p")
  }

  test("q24 median-window rewrite broadcasts the tiny per-group medians") {
    val p = plan("q24_median_window")
    assert(p.contains("BroadcastHashJoin"), s"medians side must broadcast:\n$p")
  }

  test("decontamination matches via a semi-join on fingerprints, never a cartesian") {
    val p = plan("op_decontaminate")
    // the benchmark membership probe must be a semi-join on the 60-bit
    // fingerprint key — one hash shuffle, never candidates × benchmark
    assert(p.contains("LeftSemi"), s"no semi-join in:\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("decontamination spans probe membership via semi-join too") {
    val p = plan("op_decontaminate_spans")
    assert(p.contains("LeftSemi"), s"no semi-join in:\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("frequent n-grams aggregate two-phase with map-side partials") {
    val p = plan("op_frequent_ngrams")
    // the shuffle must carry per-partition partials keyed by the gram,
    // never the raw exploded token stream
    assert(p.contains("partial_"), s"no map-side partial aggregation:\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q31 percentile-window rewrite broadcasts, never buffers a group") {
    val p = plan("q31_percentile_window")
    assert(p.contains("BroadcastHashJoin"),
      s"percentile side must broadcast:\n$p")
    // the per-row result comes from a broadcast join of O(groups) rows, and
    // the percentile side is the spillable rank path — no buffering
    // ObjectHashAggregate (percentile heap) anywhere in the plan
    assert(!p.contains("ObjectHashAggregate"),
      s"buffering percentile aggregate leaked into the plan:\n$p")
  }

  test("AQE splits a skewed sort-merge join partition at runtime (skew=true)") {
    import spark.implicits._
    val conf = spark.conf
    val saved = Seq(
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
      "spark.sql.adaptive.coalescePartitions.enabled").map(k => k -> conf.get(k))
    try {
      conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force SMJ
      conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "24KB")
      conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "24KB")
      conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2.0")
      conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
      // one hot key carries ~90% of the rows — the 100 TB poison layout
      val big = spark.range(200000)
        .selectExpr("CASE WHEN id % 10 < 9 THEN 0L ELSE id END AS k",
          "uuid() AS payload")
      val small = spark.range(1000).selectExpr("id AS k", "id * 2 AS v")
      val joined = big.join(small, "k")
      // execute THIS queryExecution (a write would plan a fresh one), so
      // the adaptive plan re-optimizes to its final shape
      joined.queryExecution.toRdd.count()
      val p = joined.queryExecution.executedPlan.toString
      assert(p.contains("isFinalPlan=true"), p.take(500))
      assert(p.contains("skew=true"),
        s"AQE did not split the hot-key partition:\n${p.take(3000)}")
    } finally saved.foreach { case (k, v) => conf.set(k, v) }
  }

  test("text ops prune the documents scan to doc_id + text") {
    val p = SparkEntry.queries("op_text_stats")(spark, sfDir)
      .queryExecution.executedPlan.toString
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(readSchema.contains("doc_id") && readSchema.contains("text"), readSchema)
    // the fixture's lang/source/n_chars columns must NOT be read
    assert(!readSchema.contains("lang") && !readSchema.contains("source") &&
      !readSchema.contains("n_chars"), s"unneeded column read:\n$readSchema")
  }

  test("sorted percentiles never buffer groups: windows + hash agg, no ObjectHashAggregate") {
    // The point of the q25 sorted twin: Spark's percentile_cont plans an
    // ObjectHashAggregate holding EVERY group value in one executor's heap;
    // the rank path must plan sort-based windows + plain hash aggregation.
    val p = plan("q25_within_group_sorted")
    assert(!p.contains("ObjectHashAggregate"),
      s"buffering aggregate crept back in:\n$p")
    assert(p.linesIterator.exists(_.contains("Window [")), p)
    assert(p.contains("HashAggregate"), p)
    // and the baseline q25 really does take the buffering path (the
    // contrast this gate encodes)
    assert(plan("q25_within_group").contains("ObjectHashAggregate"))
  }

  test("span dedup candidates come from a fingerprint group-by, never a pair join") {
    val p = plan("op_dedup_spans")
    // support counting is groupBy(fp).count_distinct(doc_id): a doc×doc
    // shingle join would be quadratic on boilerplate shingles; the only
    // join allowed is the LEFT SEMI marking join on the 8-byte fp key
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("LeftSemi"), s"marking must be a semi join:\n$p")
    assert(p.contains("HashAggregate"), p)
  }

  test("q18 sorted twin takes the rank path too: no ObjectHashAggregate") {
    // Same contract as the q25 gate, for the multi-value-column shape
    // (two ranked passes — one per distinct value column — joined back).
    val p = plan("q18_percentiles_sorted")
    assert(!p.contains("ObjectHashAggregate"),
      s"buffering aggregate crept back in:\n$p")
    assert(p.linesIterator.exists(_.contains("Window [")), p)
    assert(p.contains("HashAggregate"), p)
    assert(plan("q18_percentiles").contains("ObjectHashAggregate"))
  }

  test("stratified sample pushes the rank limit below the exchange (WindowGroupLimit)") {
    val p = plan("op_stratified_sample")
    // Partial WindowGroupLimit before the shuffle caps what each map task
    // emits at k rows per stratum — the difference between shuffling
    // O(strata·k·tasks) rows and shuffling the corpus.
    assert(p.contains("WindowGroupLimit"), s"rank filter not pushed down:\n$p")
  }

  test("cdc dedup attributes ownership via a hash-keyed equi-join, never a pair join") {
    val p = plan("op_cdc_dedup")
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin") ||
      p.contains("BroadcastHashJoin"), s"owner join must be an equi-join:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("kmv sketch pushes the bottom-k rank below the exchange (WindowGroupLimit)") {
    // SketchOps.kmvDistinct's "O(k) state" claim rides Spark's
    // WindowGroupLimit rewrite of the rank filter: each map task forwards
    // at most k hash rows per group before the per-group shuffle. A
    // regression here (e.g. the rank filter drifting out of pushdown
    // shape) silently turns the sketch into a full per-group sort —
    // VERDICT r10 nit #3.
    val p = plan("op_kmv_distinct")
    assert(p.contains("WindowGroupLimit"), s"bottom-k rank not pushed down:\n$p")
  }

  test("pii scrub is a map-only stage: no exchange before the output sort") {
    val p = plan("op_pii_scrub")
    // one rangepartitioning exchange for the final ORDER BY is the only
    // shuffle a pure per-row projection may have
    val shuffles = "Exchange".r.findAllIn(p).length
    assert(shuffles <= 1, s"per-row scrub must not shuffle ($shuffles):\n$p")
    assert(!p.contains("Aggregate") && !p.contains("Join"),
      s"per-row scrub must stay a projection:\n$p")
  }

  test("inverted index aggregates two-phase and prunes the documents scan") {
    val p = plan("op_inverted_index")
    assert(p.contains("partial_"), s"no map-side partial aggregation:\n$p")
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(!readSchema.contains("lang") && !readSchema.contains("source"),
      s"unneeded columns read:\n$readSchema")
  }

  test("interval join plans as an equi join on buckets, never a nested loop") {
    // A raw `v BETWEEN lo AND hi` join is BroadcastNestedLoopJoin /
    // CartesianProduct — O(|probe|·|build|). The bucketed rewrite must
    // meet on the __bkt equi key (hash or sort-merge or broadcast-HASH).
    val p = plan("op_range_join")
    assert(!p.contains("BroadcastNestedLoopJoin"), s"range join fell back to BNLJ:\n$p")
    assert(!p.contains("CartesianProduct"), s"range join went cartesian:\n$p")
    assert(p.contains("HashJoin") || p.contains("SortMergeJoin"),
      s"expected an equi join on the bucket key:\n$p")
  }

  test("range-frame twin never plans a native RANGE frame or a key-partitioned rank window") {
    // The whole point of op_range_frame_agg: the native window (q29)
    // executes a RangeFrame on #PARTITION-BY-groups tasks; the twin must
    // contain NO RangeFrame anywhere — its prefix windows partition by
    // (spark_partition_id, key), so parallelism tracks the cluster.
    val p = plan("op_range_frame_agg")
    assert(!p.contains("RangeFrame"), s"native RANGE frame leaked back in:\n$p")
    assert(p.contains("windowspecdefinition(__pid"),
      s"prefix window must lead with the range-partition id:\n$p")
    assert(!p.contains("ObjectHashAggregate"), p)
    assert(!p.contains("CartesianProduct"), p)
    // and the SQL-surface gate really does take the native frame — the
    // contrast this pin encodes
    assert(plan("q29_range_frame").contains("RangeFrame"))
  }

  test("CBO: ANALYZE-fed stats reorder a 3-table join (SURVEY §4.2)") {
    val s = spark
    import s.implicits._
    assert(s.conf.get("spark.sql.cbo.enabled") === "true")
    assert(s.conf.get("spark.sql.cbo.joinReorder.enabled") === "true")
    Seq("cbo_big", "cbo_mid", "cbo_tiny").foreach(t => s.sql(s"DROP TABLE IF EXISTS $t"))
    Seq.tabulate(20000)(i => (i.toLong % 100, i.toLong))
      .toDF("bg", "bv").write.saveAsTable("cbo_big")
    Seq.tabulate(1000)(i => (i.toLong, i.toLong % 5))
      .toDF("mk", "mg").write.saveAsTable("cbo_mid")
    Seq.tabulate(5)(i => (i.toLong, s"g$i")).toDF("tk", "tn").write.saveAsTable("cbo_tiny")
    // written join order is deliberately worst-first: big ⋈ mid, then tiny
    val q = """SELECT count(*) AS c
              |FROM cbo_big b
              |JOIN cbo_mid m ON b.bg = m.mk
              |JOIN cbo_tiny t ON m.mg = t.tk""".stripMargin
    def leafOrder: Seq[String] = s.sql(q).queryExecution.optimizedPlan
      .collectLeaves().map(_.toString)
      .map(l => Seq("cbo_big", "cbo_mid", "cbo_tiny").find(l.contains).getOrElse("?"))
    val before = leafOrder
    // graft ANALYZE (LocalDml) with a column list → rowCount + column stats
    graft.cli.ExecuteSql.run(s, "ANALYZE cbo_big (bg, bv)", None)
    graft.cli.ExecuteSql.run(s, "ANALYZE cbo_mid (mk, mg)", None)
    graft.cli.ExecuteSql.run(s, "ANALYZE cbo_tiny (tk, tn)", None)
    val after = leafOrder
    assert(after !== before,
      s"stats did not change the join order: before=$before after=$after")
    // and the result is still correct whichever order the optimizer picks:
    // every big row matches exactly one mid row (mk is distinct, bg ∈ [0,100))
    // and every mid row exactly one tiny row (mg ∈ [0,5))
    assert(s.sql(q).collect()(0).getLong(0) === 20000L)
    Seq("cbo_big", "cbo_mid", "cbo_tiny").foreach(t => s.sql(s"DROP TABLE IF EXISTS $t"))
  }

  test("radius search has NO rank stage: broadcast queries, stream, filter — nothing else") {
    val p = plan("op_sim_radius")
    assert(p.contains("BroadcastNestedLoopJoin"), s"query side must broadcast:\n$p")
    // no Window/rank anywhere (top-k pays one; radius must not) — the
    // single Sort+Exchange of the output ORDER BY is fine
    assert(!p.contains("Window"),
      s"radius search must not pay a rank/window stage:\n$p")
    assert(p.contains("PushedFilters: [IsNotNull(vec_id), LessThan(vec_id,20)]"),
      s"query-side filter must reach the scan:\n$p")
  }

  test("kmv set ops push the per-group bottom-k below the exchange too") {
    // the public op localCheckpoints (plan becomes a materialized scan),
    // so pin the un-checkpointed pipeline
    val events = Tables.load(spark, sfDir, "events")
    val (out, sk) = graft.ops.SketchOps.kmvSetOpsPlan(
      events, "event_type", "cast(user_id as string)", 16)
    val p = out.queryExecution.executedPlan.toString
    sk.unpersist()
    assert(p.contains("WindowGroupLimit"), s"bottom-k rank not pushed down:\n$p")
  }

  test("skyline verifies over a BROADCAST candidate set — the quadratic never touches the corpus") {
    val p = plan("op_skyline")
    // phase 2's inequality join is only allowed as a broadcast nested
    // loop over the pruned candidates; a non-broadcast BNLJ or cartesian
    // would mean the quadratic check runs corpus × corpus
    assert(p.contains("BroadcastNestedLoopJoin"),
      s"dominance verify must be the broadcast form:\n$p")
    assert(!p.contains("CartesianProduct"), s"no cartesian:\n$p")
  }

  test("count-min probes join the counter table as a broadcast, never a shuffle of the corpus") {
    val p = plan("op_countmin")
    // the d×w table (≤256 rows) must be the broadcast side of the probe
    // join; the probe side stays partitioned by value
    assert(p.contains("BroadcastHashJoin"), s"sketch table must broadcast:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("cm lookup probes the persisted sketch as a broadcast left join") {
    val p = plan("op_cm_lookup")
    assert(p.contains("BroadcastHashJoin"), s"counter table must broadcast:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("rrf fusion broadcasts the query side; fusion never shuffles the corpus twice") {
    // the public op localCheckpoints (plan becomes a materialized scan),
    // so pin the un-checkpointed pipeline — the kmvSetOpsPlan pattern
    val docs = Tables.load(spark, sfDir, "documents")
    val (out, post) = graft.ops.TextOps.rrfFusionPlan(docs, 5, 8, 10, 5, 60)
    val p = out.queryExecution.executedPlan.toString
    post.unpersist()
    // both rankings join the tiny query set as broadcasts onto the keyed
    // postings; the fused join runs over two ≤ kInner-row sides
    assert(p.contains("BroadcastHashJoin"), s"query side must broadcast:\n$p")
    assert(!p.contains("CartesianProduct"), s"no cartesian:\n$p")
    // the shared postings build is persisted and read by BOTH rankings —
    // the corpus tokenization must appear as InMemoryTableScan reuse, not
    // a second full scan+explode chain
    assert(p.contains("InMemoryTableScan"), s"postings cache not in plan:\n$p")
  }

  test("simhash pigeonhole join parallelism is pinned against AQE coalescing") {
    // r13 root-cause: AQE's input-size coalescing folded the skinny
    // (16 bytes/doc) block exchange into ONE task, serializing the
    // ~100×-amplifying pair join (14.4 s → 1.85 s once pinned). The pin is
    // LineageUtil.pinJoinParallelism — an explicit repartition(n, keys)
    // whose REPARTITION_BY_NUM shuffle origin is exempt from coalescing.
    // This test is red if that repartition call is removed from
    // DedupOps.blockCandidates (the exchange reverts to ENSURE_REQUIREMENTS
    // or disappears under a broadcast).
    val docs = Tables.load(spark, sfDir, "documents")
    val sig = graft.ops.DedupOps.simhash64Sig(docs)
    val p = graft.ops.DedupOps.blockCandidates(sig, 3, 64)
      .queryExecution.executedPlan.toString
    val n = spark.sessionState.conf.numShufflePartitions
    val pinned = s"""hashpartitioning\\(blk#\\d+, key#\\d+L?, $n\\), REPARTITION_BY_NUM""".r
    assert(pinned.findFirstIn(p).isDefined,
      s"block join input must be an explicit $n-partition repartition " +
        s"(REPARTITION_BY_NUM — AQE-coalesce-exempt):\n$p")
    assert(!p.contains("CartesianProduct"), s"no cartesian:\n$p")
  }

  test("span cut reconstruction runs through the span_keep kernel, not a per-token scan") {
    val p = plan("op_span_cut")
    assert(p.contains("span_keep"), s"cut path lost the two-pointer kernel:\n$p")
    assert(!p.contains("exists("), s"interpreted per-token exists() back in the cut path:\n$p")
    val p2 = plan("op_decontaminate_cut")
    assert(p2.contains("span_keep"), s"decontaminate cut lost the kernel:\n$p2")
  }

  test("MergePercentileRule: multi-percentile profiling shares ONE buffer per column") {
    // q18 (DataFrame form) and q25 (Redshift WITHIN GROUP text) each
    // request two exact percentiles of l_extendedprice. Unmerged, the
    // ObjectHashAggregate buffers + shuffles the column once PER
    // percentile; the rule must collapse them to one array-percentage
    // aggregate. Red if the rule stops firing (2 distinct buffers) or
    // starts duplicating (distinct resultIds for the same merge key).
    import org.apache.spark.sql.catalyst.plans.logical.Aggregate
    import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, ApproximatePercentile, Percentile}
    // (query, expected merged percentage count, exact?)
    val cases = Seq(
      ("q18_percentiles", 2, true), // 0.25 + 0.75 of extendedprice
      ("q25_within_group", 2, true), // CONT 0.25 + 0.75 (DISC 0.5 stays apart)
      ("q25_within_group_approx", 3, false)) // one GK sketch, 3 fractions
    for ((name, nPct, exact) <- cases) {
      val opt = SparkEntry.queries(name)(spark, sfDir).queryExecution.optimizedPlan
      val onPrice = opt.collect { case a: Aggregate =>
        a.aggregateExpressions.flatMap(_.collect {
          case ae: AggregateExpression => ae.aggregateFunction match {
            case p: Percentile if exact &&
                p.child.toString.contains("l_extendedprice") => Some((ae, p.percentageExpression))
            case p: ApproximatePercentile if !exact &&
                p.child.toString.contains("l_extendedprice") => Some((ae, p.percentageExpression))
            case _ => None
          }
        }.flatten)
      }.flatten
      assert(onPrice.nonEmpty, s"$name: expected a percentile over l_extendedprice")
      val ids = onPrice.map(_._1.resultId).distinct
      assert(ids.size == 1,
        s"$name: expected ONE merged percentile buffer, got ${ids.size}:\n$opt")
      val pct = onPrice.head._2
      assert(pct.dataType.typeName == "array",
        s"$name: merged percentage must be the array form, got $pct")
      // ConstantFolding turns the CreateArray of literals into one array
      // Literal — count fractions in whichever form survived
      val got = pct match {
        case org.apache.spark.sql.catalyst.expressions.Literal(a, _) =>
          a.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData].numElements()
        case e => e.children.size
      }
      assert(got == nPct, s"$name: expected $nPct merged fractions, got $got")
    }
  }
}
