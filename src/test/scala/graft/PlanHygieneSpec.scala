package graft

/** Physical-plan hygiene (the 100 TB posture, SURVEY §4.2): filters and
  * pruning reach the parquet scan, dimension joins broadcast, top-k never
  * global-sorts, hot paths stay in whole-stage codegen. These assertions
  * pin the *plan shape*, so a regression that silently de-optimizes a
  * query fails CI even though results stay correct.
  */
class PlanHygieneSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  private def planOf(name: String): String = {
    val df = SparkEntry.queries(name)(spark, dir)
    df.queryExecution.toRdd.count() // let AQE finalize the plan
    df.queryExecution.executedPlan.toString
  }

  test("s4: predicate and projection are pushed into the parquet scan") {
    val p = planOf("s4_filtered_scan")
    assert(p.contains("PushedFilters: ["), p)
    assert(p.contains("IsNotNull(o_orderstatus)") || p.contains("EqualTo(o_orderstatus"), p)
    // pruned read schema: only the 4 referenced columns, not all 6
    assert(!p.contains("o_orderpriority"), "projection not pruned:\n" + p)
  }

  test("sql_q6: spark.sql over a view pushes the same filters as the DataFrame API") {
    val p = planOf("sql_q6_revenue")
    // the plan toString truncates the PushedFilters list, so assert on the
    // visible prefix: all three filter columns reach the scan (the date
    // CAST is rewritten into a pushable timestamp range)
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate), IsNotNull(l_discount), " +
      "IsNotNull(l_quantity), GreaterThanOrEqual(l_shipda"), p)
  }

  test("j1: dimension joins are broadcast-hash, fact is never shuffled for the join") {
    val p = planOf("j1_broadcast_dim_join")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), "dim join degraded to SMJ:\n" + p)
  }

  test("a1/j3: anti and semi joins use hash strategies, not nested loops") {
    assert(!planOf("a1_anti_join").contains("BroadcastNestedLoopJoin"))
    assert(!planOf("j3_semi_join").contains("BroadcastNestedLoopJoin"))
  }

  test("topk: orderBy.limit plans as TakeOrderedAndProject, no global Sort+Exchange") {
    val p = planOf("topk_orders")
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("q1: aggregation is two-phase (partial before shuffle)") {
    val p = planOf("q1_agg")
    assert(p.contains("partial_"), "no map-side partial aggregation:\n" + p)
    // whole-stage codegen stages render as "*(n)" in the final plan
    assert(p.contains("*("), "no whole-stage codegen span:\n" + p)
  }

  test("j5: range join executes as equi-join on the computed band key") {
    val p = planOf("j5_range_join")
    assert(!p.contains("BroadcastNestedLoopJoin"),
      "range join degraded to nested loop:\n" + p)
  }

  test("j4: as-of join is one shuffle on user_id, not an inequality join") {
    val p = planOf("j4_asof_join")
    assert(!p.contains("NestedLoop"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("Window"), p)
  }

  test("w4: global row_number top-k bounds the window input, no full sort") {
    // LimitPushDownThroughWindow must rewrite the rank filter into a
    // TakeOrderedAndProject BELOW the Window (per-partition top-k +
    // k-row merge), so the single-partition window only ever sees k
    // rows. Window-over-full-table with a post-filter — the shape this
    // pin forbids — sorts the whole table in one task at scale.
    val p = planOf("w4_row_number_topk")
    val winIdx = p.indexOf("Window")
    val topIdx = p.indexOf("TakeOrderedAndProject")
    assert(winIdx >= 0 && topIdx >= 0,
      "expected Window fed by TakeOrderedAndProject:\n" + p)
    assert(topIdx > winIdx, // child prints below parent in plan trees
      "top-k not pushed below the window — full-table global sort:\n" + p)
  }

  test("dedup_ngram_jaccard: inverted index, no cartesian pair generation") {
    val p = planOf("dedup_ngram_jaccard")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("sim_topk_cosine: map-only scoring + TakeOrderedAndProject") {
    val p = planOf("sim_topk_cosine")
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("g7: single lineitem scan — both aggregate branches reuse the pre-agg exchange") {
    // AQE's toString appends an "== Initial Plan ==" section; judge the
    // finalized current plan only
    val p = planOf("g7_mart_aggregate").split("== Initial Plan ==").head
    val scans = "lineitem\\.parquet".r.findAllIn(p).length
    assert(scans == 1, s"expected 1 lineitem scan, saw $scans:\n$p")
  }

  test("dedup_embedding_cosine: grid equi-join, never a broadcast nested loop") {
    val p = planOf("dedup_embedding_cosine")
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("w6: exact ntile runs with NO global (unpartitioned) window") {
    // the former shape was ntile(4) over an empty partition spec — a
    // single-task, corpus-sized sort. The two-pass form must keep every
    // Window node partitioned (the local row_number is keyed by pid) and
    // the offsets side window-free (one-row aggregate + transform).
    val p = planOf("w6_ntile_quartiles")
    assert(p.contains("Window"), "local row_number window vanished:\n" + p)
    assert("""Window \[[^\]]*\], \[\]""".r.findFirstIn(p).isEmpty,
      "single-partition window crept back into exact ntile:\n" + p)
    assert(!p.contains("ntile("), "monolithic ntile crept back:\n" + p)
  }

  test("w8b: rank-from-counts never windows or shuffles the fact side") {
    // the windows live on the distinct-value counts table (domain-bounded);
    // the fact side must reach the join via a straight scan + broadcast —
    // no Window above the probe side, no SortMergeJoin, no global window.
    val p = planOf("w8b_rank_from_counts").split("== Initial Plan ==").head
    assert(p.contains("BroadcastHashJoin"),
      "pruned counts table must broadcast:\n" + p)
    assert(!p.contains("SortMergeJoin"),
      "fact side shuffled for the rank join:\n" + p)
    assert("""Window \[[^\]]*\], \[\]""".r.findFirstIn(p).isEmpty,
      "single-partition window crept into w8b:\n" + p)
    // exactly the three count-table windows (cum, n, row_number) — every
    // one keyed by segment — and the drk<=3 prune must bound the
    // row_number via WindowGroupLimit before the final window pass
    val wins = "Window \\[".r.findAllIn(p).length
    assert(wins <= 3, s"expected <=3 Window nodes over the counts table, saw $wins:\n$p")
    assert(p.contains("WindowGroupLimit"),
      "distinct-value top-k prune not pushed below the window:\n" + p)
  }

  test("w10b/w11b: distributed RANGE frames — every window keyed, no cartesian, no pair blow-up") {
    // the single-window forms sort each priority stratum in one task;
    // the banded twins must keep every Window node keyed by
    // (priority, band) and combine via joins — never a partition-wide
    // window or a cross join.
    Seq("w10b_band_frame", "w11b_time_band_frame").foreach { name =>
      val p = planOf(name).split("== Initial Plan ==").head
      assert("""Window \[[^\]]*\], \[\]""".r.findFirstIn(p).isEmpty,
        s"single-partition window crept into $name:\n" + p)
      assert("""Window \[[^\]]*\], \[o_orderpriority""".r.findFirstIn(p).isDefined,
        s"expected (priority, band)-keyed windows in $name:\n" + p)
      assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
        s"banded frame $name degraded to a pair join:\n" + p)
    }
  }

  test("intervalOverlap dispatch: broadcast-small side → inequality join; beyond threshold → grid; same rows") {
    import graft.operators.Joins
    import org.apache.spark.sql.functions.{col, expr}
    val ev = graft.Tables.t(spark, "/root/testdata/sf0.001", "events")
      .select(col("user_id"), col("event_id"), expr("ts div 1000").as("us"))
    val sessions = Joins.sessionIntervalsUs(ev).localCheckpoint()
    val wins = Joins.maintenanceWindowsUs(ev).localCheckpoint()
    def planOfDf(df: org.apache.spark.sql.DataFrame): String = {
      df.queryExecution.toRdd.count()
      df.queryExecution.executedPlan.toString
    }
    // tiny window set under the default threshold → the measured-better
    // nested loop
    val naiveArm = Joins.intervalOverlap(sessions, wins)
    assert(planOfDf(naiveArm).contains("BroadcastNestedLoopJoin"),
      "small-side dispatch should take the inequality join")
    // threshold disabled → the scale shape
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val gridArm = Joins.intervalOverlap(sessions, wins)
      val p = planOfDf(gridArm)
      assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
        "beyond-threshold dispatch must take the grid join:\n" + p)
      // both arms produce the same row multiset
      val a = naiveArm.collect().map(_.toSeq.mkString("|")).sorted.toSeq
      val b = gridArm.collect().map(_.toSeq.mkString("|")).sorted.toSeq
      assert(a === b, "dispatch arms disagree")
      assert(a.nonEmpty)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("j11: interval overlap joins on the grid-cell EQUI key, never an inequality join") {
    val p = planOf("j11_interval_overlap_join").split("== Initial Plan ==").head
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "interval overlap degenerated to an inequality/nested-loop join:\n" + p)
    assert(p.contains("BroadcastHashJoin") || p.contains("SortMergeJoin"),
      "expected an equi join on the grid cell:\n" + p)
  }

  test("sim_ann_join: both per-query rank filters bound their windows via WindowGroupLimit") {
    // the probe-selection window (rank<=nprobe) and the final top-k
    // window (rank<=k) must each be bounded below the shuffle — a
    // post-filter window over unbounded per-query candidates is the
    // shape that stops scaling with the panel
    val p = planOf("sim_ann_join")
    val n = "WindowGroupLimit".r.findAllIn(p).length
    assert(n >= 2, s"expected both ann-join windows group-limited, saw $n:\n$p")
  }

  test("sim_ann_ivf: centroid selection has no single-partition window") {
    // the stride predicate replaced the global row_number pass
    val embs = graft.Tables.t(spark, dir, "embeddings")
    val cents = graft.ext.Similarity.ivfCentroids(embs, 16)
    cents.queryExecution.toRdd.count()
    val p = cents.queryExecution.executedPlan.toString
    assert(!p.contains("Window"), "global window crept back into IVF centroids:\n" + p)
  }

  test("ivf assignment is map-only: no window, no exchange on vec_id") {
    // the r5 shape expanded vectors ×nlist then took argmax through a
    // row_number window partitioned by vec_id — a full n×nlist shuffle;
    // the broadcast-array HOF argmax must keep BOTH variants map-shaped
    val embs = graft.Tables.t(spark, dir, "embeddings")
    val cents = graft.ext.Similarity.ivfCentroids(embs, 16)
    val assigned = graft.ext.Similarity.ivfAssign(embs, cents)
    assigned.queryExecution.toRdd.count()
    val p = assigned.queryExecution.executedPlan.toString
    assert(!p.contains("Window"),
      "argmax window crept back into IVF assignment:\n" + p)
    assert(!p.contains("hashpartitioning(vec_id"),
      "vec_id shuffle crept back into IVF assignment:\n" + p)
  }

  test("q4: EXISTS compiles to a left-semi hash join, never a nested loop") {
    val p = planOf("q4_exists_returned")
    assert(p.contains("LeftSemi"), "EXISTS did not plan as semi join:\n" + p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("q18: HAVING aggregate runs before the dimension joins") {
    val p = planOf("q18_big_orders")
    // the sum_qty filter must sit directly over the lineitem aggregate,
    // not after the joins — survivors-only join order
    val aggIdx = p.indexOf("HashAggregate")
    val joinIdx = p.indexOf("Join")
    assert(aggIdx >= 0 && joinIdx >= 0 && p.lastIndexOf("HashAggregate") > joinIdx,
      "lineitem aggregate did not run below the joins:\n" + p)
  }

  test("q19: OR branches stay a residual filter over the partkey hash join") {
    val p = planOf("q19_disjunctive")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"), p)
    assert(p.contains("HashJoin") || p.contains("SortMergeJoin"), p)
  }

  test("r6: per-group sample keeps only top-k per partition before the shuffle") {
    val p = planOf("r6_reservoir_per_group")
    assert(p.contains("WindowGroupLimit"), "rank<=k not pushed below the shuffle:\n" + p)
  }

  test("q15: argmax-with-ties bounds the global window via WindowGroupLimit, one fact scan") {
    val p = planOf("q15_top_supplier").split("== Initial Plan ==").head
    assert(p.contains("WindowGroupLimit"), "rank=1 not pushed below the shuffle:\n" + p)
    val scans = p.split('\n').count(l => l.contains("FileScan parquet") && l.contains("lineitem"))
    assert(scans === 1, s"expected ONE lineitem scan, saw $scans:\n$p")
  }

  test("s9: year predicate prunes to exactly one partition directory") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    // scan-level proof on the raw pruned read (no exchange → no AQE
    // wrapper, so the FileSourceScanExec is reachable): planning-time
    // partition selection must keep ONE directory of the 7 order years
    val pruned = graft.operators.Relational.ordersByYear(spark, dir)
      .filter(org.apache.spark.sql.functions.col("o_year") === 1997)
    pruned.queryExecution.toRdd.count()
    val scans = pruned.queryExecution.executedPlan
      .collect { case f: FileSourceScanExec => f }
    assert(scans.nonEmpty, pruned.queryExecution.executedPlan.toString)
    val dirs = scans.map(_.selectedPartitions.partitionCount).sum
    assert(dirs === 1, s"expected 1 pruned partition dir, scan selected $dirs")
    // and the registered aggregate query carries the partition filter
    val p = planOf("s9_partition_pruned_scan")
    assert(p.contains("PartitionFilters: [isnotnull(o_year"), p)
    assert("""\(o_year#\d+ = 1997\)""".r.findFirstIn(p).isDefined, p)
  }

  test("s10: dim-side year filter becomes a DYNAMIC partition filter on the fact scan") {
    val p = planOf("s10_dpp_join")
    assert(p.contains("dynamicpruningexpression"),
      "DPP did not inject a runtime partition filter:\n" + p)
    // and it must land in PartitionFilters (directory elimination), not as
    // a post-scan data filter
    assert("""PartitionFilters: \[[^\]]*dynamicpruning""".r.findFirstIn(p).isDefined, p)
  }

  test("runtime bloom filter: selective dim predicate injects a fact-side bloom prefilter under shuffle joins") {
    // At 100 TB a selective dim filter should cut fact shuffle volume even
    // when the dim is too big to broadcast. Force the shuffle-join regime
    // (broadcast off, size thresholds down to testdata scale) and assert
    // Catalyst's InjectRuntimeFilter plants a might_contain prefilter on
    // the fact side of the join.
    val conf = spark.conf
    val saved = Seq(
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.optimizer.runtime.bloomFilter.enabled",
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold")
      .map(k => k -> conf.getOption(k)).toMap
    try {
      conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
      conf.set("spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold", "100MB")
      conf.set("spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0")
      import org.apache.spark.sql.functions._
      val ord = Tables.t(spark, dir, "orders")
        .filter(col("o_orderpriority") === "1-URGENT")
        .select(col("o_orderkey"), col("o_orderdate"))
      val li = Tables.t(spark, dir, "lineitem")
        .select(col("l_orderkey"), col("l_quantity"))
      val joined = li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderdate")).agg(sum(col("l_quantity")).as("q"))
      val optimized = joined.queryExecution.optimizedPlan.toString
      assert(optimized.contains("might_contain"),
        "no bloom runtime filter injected on the fact side:\n" + optimized)
    } finally saved.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None) => conf.unset(k)
    }
  }

  // Shard packing must never sort a whole language stratum in one task:
  // the per-row running-sum window is keyed by (lang, bkt); the only
  // lang-alone window left runs over the tiny per-bucket totals (ordered
  // by bkt, not doc_id). A window partitioned by lang alone and ordered
  // by doc_id is the corpus-sized sort creeping back.
  private def assertTwoLevelPacking(name: String): Unit = {
    val p = planOf(name)
    assert("""\[lang#\d+, bkt#\d+L?\], \[doc_id#""".r.findFirstIn(p).isDefined,
      "packing window not keyed by (lang, bkt):\n" + p)
    assert("""\[lang#\d+\], \[doc_id#""".r.findFirstIn(p).isEmpty,
      "corpus-sized per-lang window crept back into packing:\n" + p)
  }

  test("t_shard_assign: packing window keyed by (lang, bucket), never lang alone") {
    assertTwoLevelPacking("t_shard_assign")
  }

  test("p1_curate_corpus: pipeline packing stage is two-level too") {
    assertTwoLevelPacking("p1_curate_corpus")
  }

  test("p2_incremental_curate: incremental pipeline packs two-level too") {
    assertTwoLevelPacking("p2_incremental_curate")
  }

  test("t_corpus_shuffle: shuffle-order window is keyed by shard_id, never a global sort") {
    val p = planOf("t_corpus_shuffle")
    // the row_number window must partition by shard_id (per-shard sorts)…
    assert("""\[shard_id#\d+L?\], \[h#""".r.findFirstIn(p).isDefined,
      "shuffle window not keyed by shard_id:\n" + p)
    // …and no window may run with an EMPTY partition spec (the
    // single-task corpus-sized sort this operator exists to avoid)
    assert("""Window \[[^\]]*\], \[\]""".r.findFirstIn(p).isEmpty,
      "global (unpartitioned) window crept into the corpus shuffle:\n" + p)
  }

  test("sql_lateral_topn: lateral decorrelates to a windowed rank, never a per-row loop") {
    val p = planOf("sql_lateral_topn")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      "lateral subquery degraded to a nested loop:\n" + p)
    assert(p.contains("Window"), "expected the rank-filtered window rewrite:\n" + p)
  }

  test("AQE splits a planted skewed join partition (the join-side skew answer)") {
    // g20 is the AGG-side skew answer (explicit salt); join-side skew is
    // deliberately left to AQE's OptimizeSkewedJoin (PERF.md "not taken:
    // hand-salting joins"). That delegation is an assumption worth
    // pinning: plant one hot key carrying ~97% of the fact side, lower
    // the skew thresholds to testdata scale, and assert the executed
    // plan actually shows the skew split — if a Spark upgrade or conf
    // drift stops AQE from firing here, this fails before production
    // finds out.
    import spark.implicits._
    import org.apache.spark.sql.functions.when
    val conf = spark.conf
    val saved = Seq(
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor")
      .map(k => k -> conf.getOption(k)).toMap
    try {
      conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force SMJ
      conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "16KB")
      conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "16KB")
      conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
      val fact = spark.range(0, 60000)
        .select((when($"id" < 58000, 0L).otherwise($"id" % 97)).as("k"),
          $"id".as("v"))
      val dim = spark.range(0, 97).select($"id".as("k"), ($"id" * 10).as("w"))
      // NB the consumer must NOT require the join's hash partitioning (a
      // keyed groupBy directly above would make the split invalid and AQE
      // would — correctly — refuse); a global count has no distribution
      // requirement
      val j = fact.join(dim, "k").select($"v" + $"w")
      j.queryExecution.toRdd.count()
      val p = j.queryExecution.executedPlan.toString
      assert(p.contains("isSkewJoin=true") || p.contains("skewed"),
        "AQE did not split the planted skewed join partition:\n" + p)
    } finally saved.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None) => conf.unset(k)
    }
  }

  test("g20: salted aggregation really is two-phase (salt agg below key agg)") {
    val p = planOf("g20_salted_agg").split("== Initial Plan ==").head
    // two logical aggregations (by (k,salt), then by k), each with its
    // partial/final split → ≥4 HashAggregate nodes; a single-phase
    // collapse would reintroduce the hot-key bottleneck being tested
    val n = "HashAggregate".r.findAllIn(p).length
    assert(n >= 4, s"expected two-phase salted agg, saw $n HashAggregates:\n$p")
    assert(p.contains("salt"), "salt column vanished from the plan:\n" + p)
  }

  test("g33: every per-column profile scan prunes to exactly its one column") {
    // the measured verdict behind the per-column form (Aggregations
    // profileTable scaladoc): on parquet, N single-column scans cost the
    // I/O of one full scan BECAUSE each ReadSchema carries exactly one
    // column — this pin is what makes that claim hold. A regression that
    // widens a scan (lost pruning through the union) fails here.
    val p = planOf("g33_profile").split("== Initial Plan ==", 2)(0)
    val schemas = "ReadSchema: struct<([^>]*)>".r
      .findAllMatchIn(p).map(_.group(1)).toSeq
    assert(schemas.size >= 4, "expected one pruned scan per physical column:\n" + p)
    schemas.foreach { s =>
      assert(!s.contains(","), s"profile scan read more than one column: $s\n$p")
    }
  }

  test("k6: SCD2 merge is one equi-join + explode, never a nested loop") {
    val p = planOf("k6_scd2_merge")
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("Generate"), "explode missing — merge shape changed:\n" + p)
  }

  // ---- runtime shuffle-footprint pins (r6 verdict item 3) ----------------
  // Wall-time on this host is noisy (±70% single-pass); STRUCTURAL
  // regressions are not. For the five most expensive plans, pin the
  // number of shuffle-map stages actually submitted (ShuffleCount — a
  // listener, so stages behind eager localCheckpoints are counted too,
  // and exchanges skipped via ReuseExchange are not). The pin is a
  // ceiling at the measured repeat-stable value (+1 where a cold first
  // run wobbled): a stage that gains a shuffle, a lost exchange reuse,
  // or a checkpoint that starts replaying lineage fails here long before
  // it shows up as wall-time at scale. Jobs are pinned too — for the
  // checkpointed pipelines the job count is the localCheckpoint count
  // plus AQE stage materializations, so a pipeline that silently doubles
  // its materializations is caught even when shuffle counts hold.
  private val footprintCeilings: Map[String, (Int, Int)] = Map(
    // name -> (max jobs, max shuffle-map stages), measured at sf0.001.
    // p1/p3 ceilings include the deliberate qualityGate spread guard
    // (Tables.spread on the single-file testdata source — the exchange
    // executes in each pre-checkpoint gate branch and AQE materializes
    // each as a stage: +2 for p1, +2..3 for p3's wider gate fan-out;
    // audited, not accidental)
    "p3_full_curation"    -> (43, 22),
    "p1_curate_corpus"    -> (34, 19),
    "dedup_clusters"      -> (21, 10),
    "dedup_ngram_jaccard" -> (9, 5),
    "t_tfidf"             -> (11, 6),
    // the sketch-state tws pair: the whole point is ONE exchange on the
    // hour key (e16 adds the broadcast-joined bound check's agg) — a
    // second fact shuffle appearing here means the stateful shape broke
    "e15_distinct_sketch_tws" -> (4, 2),
    "e16_quantile_sketch_tws" -> (6, 4),
    // e17 measures 5 jobs / 1 shuffle at sf0.001 (AQE broadcasts the
    // filtered click side); the ceiling leaves room for the legitimate
    // SMJ form (one exchange per side + the oracle sort's range sample)
    // that larger inputs plan — but a pair-explosion or a lost
    // pre-join type filter would blow far past it
    "e17_view_click_outer" -> (7, 3),
    "e19_view_click_full" -> (7, 3),
    // e18: exactly the chained shape — cell agg exchange, rollup
    // exchange, oracle sort; a fourth shuffle means a stage snuck in
    // between the two stateful aggs
    "e18_windowed_rollup" -> (7, 3),
    // the greedy ingest near-dup is source spread + bucket posting-list
    // agg + distinct + oracle sort — crucially NO pair expansion; a
    // shuffle count past this ceiling means the candidate-pair form
    // crept back in (7 jobs measured: the spread adds an AQE stage)
    "dedup_ingest_greedy" -> (8, 5),
    // e25 is the point of the struct-max form: ONE exchange on the key
    // (plus the oracle sort) — a window/self-join rewrite fails here
    "e25_cdc_latest" -> (5, 3))

  footprintCeilings.foreach { case (name, (maxJobs, maxShuffles)) =>
    test(s"footprint: $name stays within $maxShuffles shuffles / $maxJobs jobs") {
      val fp = ShuffleCount.of(spark) {
        SparkEntry.queries(name)(spark, dir).queryExecution.toRdd.count()
      }
      assert(fp.shuffleStages <= maxShuffles,
        s"$name gained a shuffle: ${fp.shuffleStages} > $maxShuffles " +
          "(re-audit the plan before raising the ceiling)")
      assert(fp.jobs <= maxJobs,
        s"$name gained jobs (extra materializations?): ${fp.jobs} > $maxJobs")
    }
  }

  // Queries whose plan INTENTIONALLY contains a BroadcastNestedLoopJoin:
  // the explicit cross-join demo, plus crossJoin(broadcast(<tiny>)) of a
  // 1-row scalar / query vector / boundary row — a map-stage multiply
  // with a bounded build side, not a scale hazard. Everything else must
  // be nested-loop-free; a new query that accidentally plans one fails
  // here before it ever ships.
  private val nljAllowed = Set(
    "j6_cross_join", "g7_mart_aggregate", "g17b_percentile_bound",
    "w9_gap_fill", "q22_rich_inactive",
    "t_tfidf", "sim_topk_cosine", "sim_range_search", "sim_ann_ivf",
    // nlist-row centroid table + 1-row query broadcasts under the
    // trained-IVF assignment and probe
    "sim_ann_ivf_kmeans",
    // 1-row query-vector broadcast under probeTopK's exact re-rank (the
    // corpus side is the ≤ k·refine bucket-pruned fetch, never a scan)
    "sim_ann_probe_serving",
    // same ≤nlist-row centroid broadcasts (count scalar, packed-cents
    // row, probe fan-out); the query↔corpus joins are equi-joins
    "sim_ann_join", "p5_semantic_decontam",
    "e4_funnel", "q11_important_value", "s10_dpp_join",
    // 1-row global min/max broadcast under the histogram bucketing
    "g23_histogram",
    // 1-row total-count broadcast under the count-min bound column
    "g26_countmin_bound",
    // 1-row merged-sketch-estimate broadcast under the HLL bound column
    "g27_hll_sketch_merge",
    // 1-row merged-KLL-quantiles broadcast under the rank-interval check
    "g29_kll_quantile_bound",
    // 1-row×1-row theta sketch algebra (corpus A sketch × corpus B sketch)
    "g31_theta_overlap_bound",
    // findAll payload over the same reconstructed mart: the identical
    // 1-row global-totals broadcast as g7_mart_aggregate
    "serve_mart_all",
    // 1-row global total broadcast under the percent render
    "x15_percent_render",
    // 1-row min-token-ratio scalar broadcast under the per-lang
    // admission thresholds (|langs|-row build side; doc join is equi)
    "t_mixture_sample", "t_mixture_interleave",
    // 1-row vocab-size broadcast under the smoothed-bigram scoring join
    "t_lm_perplexity",
    // 1-row key-domain bounds broadcast under the normalized Morton code
    "s11_zorder_layout",
    // PQ: 1-row broadcasts only — corpus-count scalar (stride init),
    // query subvectors, and the packed (m,code)→dist ADC map; the
    // codes-table scan and candidate fetch are equi-joins
    "sim_ann_pq",
    // composed IVF×PQ: the same 1-row broadcasts as its two parents
    // (query vector against ≤nlist centroids, ADC map); the
    // codes⋈assignment⋈probed restriction is all equi-joins
    "sim_ann_ivfpq",
    // batch form: panel × ≤nlist-centroid broadcast under the probe
    // ranking; corpus-side joins (codes⋈assignment⋈probes⋈dt) are equi
    "sim_ann_ivfpq_join",
    // incremental admission / ingest-dedup forms: the same 1-row query
    // and panel × ≤nlist-centroid broadcasts as their parents — the
    // standing-vs-batch asymmetry changes which rows feed the trainers,
    // not the join shapes
    "sim_ann_ivfpq_incr", "dedup_semantic_ingest",
    // retrain lifecycle: probes the retrained persisted index through the
    // same composed shape as sim_ann_ivfpq — 1-row query-vector and ADC
    // broadcasts only; the init→ingest→retrain stages before the probe
    // are all equi-joins and appends
    "sim_ann_ivfpq_retrain")

  test("GLOBAL: no cartesian products; nested-loop joins only where a tiny broadcast side is intended") {
    // SweepHarness: an unanalyzable query becomes one named UNRUNNABLE row
    // instead of aborting the whole-surface sweep (the r7 failure mode).
    val byName = SparkEntry.all.map(q => q.name -> q).toMap
    val trips = SweepHarness.sweep(SparkEntry.all.map(_.name)) { name =>
      val p = byName(name).fn(spark, dir).queryExecution.executedPlan.toString
      val cart = if (p.contains("CartesianProduct")) Seq(s"$name: CartesianProduct") else Nil
      val nlj = if (p.contains("BroadcastNestedLoopJoin") && !nljAllowed(name))
        Seq(s"$name: BroadcastNestedLoopJoin") else Nil
      cart ++ nlj
    }
    assert(trips.isEmpty, "plan hygiene trips:\n" + trips.mkString("\n"))
  }
}
