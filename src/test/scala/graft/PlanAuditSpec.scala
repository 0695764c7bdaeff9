package graft

/** Plan-shape regressions: these assertions encode the 100 TB design
  * claims in SURVEY §4 — if an edit reintroduces a union-of-scans, drops
  * a broadcast, or un-pushes a filter, this fails before the bench does.
  */
class PlanAuditSpec extends SparkSpec {

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, sf).queryExecution.executedPlan.toString

  private def scans(p: String): Int = "Scan parquet".r.findAllIn(p).length

  test("q06/q10 aggregate in a single scan (no union-of-scans)") {
    assert(scans(plan("q06_describe")) === 1)
    assert(scans(plan("q10_corr")) === 1)
  }

  test("exact quantiles never rank through a single-partition stage") {
    import org.apache.spark.sql.functions.col
    // job-2 histogram: pure partial+final hash aggregate — no Window, no
    // single-partition exchange
    val l = Tables.lineitem(spark, sf)
    val hp = operators.Quantiles.bucketHistogram(
      l, Seq(("l_quantity", 1.0, 50.0), ("l_extendedprice", 900.0, 100000.0)))
      .queryExecution.executedPlan.toString
    assert(!hp.contains("Window"), hp)
    assert(!hp.contains("Exchange SinglePartition"), hp)
    // job-3 selection: the rank window partitions by bucket id (never an
    // empty partition spec) and the bucket range filter reaches the scan
    val sel = operators.Quantiles.selectionDf(
      l, "l_quantity", 1.0, 50.0, Seq((10.0, 12.0)))
    val sp = sel.queryExecution.executedPlan.toString
    assert(!sp.contains("Exchange SinglePartition"), sp)
    assert(sp.contains("hashpartitioning(b"), sp)
    assert(sp.contains("GreaterThanOrEqual(l_quantity,10.0), LessThanOrEqual(l_quantity,12.0)"),
      "bucket range filter not pushed to the parquet scan")
    // the assembled q07/q08 results carry no window at all (order
    // statistics come back as bounded metadata)
    assert(!plan("q07_quantiles").contains("Window"), "q07 reintroduced a window")
    assert(!plan("q08_outlier_clip").contains("Window"), "q08 reintroduced a window")
  }

  test("dim joins broadcast") {
    assert(plan("q04_broadcast_join").contains("BroadcastHashJoin"))
    assert(plan("q03_join_agg").contains("BroadcastHashJoin"))
  }

  test("q03 aggregates the fact side below the join") {
    val p = plan("q03_join_agg")
    // per-order partial aggregation sits BELOW the orders join (600M
    // lineitems collapse to ~order-count partials via map-side combine
    // before any exchange; the join then carries one row per order),
    // and no round-robin pre-shuffle defeats that combine
    assert(!p.contains("RoundRobinPartitioning"), p)
    assert("Exchange hashpartitioning".r.findAllIn(p).length <= 2,
      "q03 regained an exchange:\n" + p)
  }

  test("filters and projections reach the parquet scan") {
    val p = plan("q02_filter_project")
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate)"), p.linesIterator.toSeq.last)
    assert(p.contains("ReadSchema: struct<l_orderkey:bigint,l_linenumber:int,l_quantity:double"),
      "projection not pruned to the 5 needed columns")
  }

  test("q32 group-zscore is broadcast two-phase, not a segment window") {
    val p = plan("q32_group_zscore")
    // no Window: a partitionBy(c_mktsegment) window caps parallelism at
    // the 5 segment values
    assert(!p.contains("Window"), p)
    // the fit joins back via broadcast — no shuffled join of the data
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
    // any exchange keyed on the segment column must move partial-
    // aggregate rows (<= segments x partitions), never the customer rows
    // themselves: in the printed tree the exchange's child is the next
    // line — it must be a partial HashAggregate
    val lines = p.linesIterator.toVector
    lines.zipWithIndex
      .filter(_._1.contains("Exchange hashpartitioning(c_mktsegment"))
      .foreach { case (_, i) =>
        assert(lines(i + 1).contains("partial_"),
          s"segment-keyed exchange over non-partial rows:\n$p")
      }
  }

  test("q33 grouped quantiles never rank through a group-cardinality stage") {
    // assembled result is driver-built from bounded order statistics
    assert(!plan("q33_group_quantiles").contains("Window"),
      "q33 reintroduced a window")
    import org.apache.spark.sql.functions.col
    val l = Tables.lineitem(spark, sf)
    // grouped histogram: pure partial+final hash aggregate on
    // (group, bucket) — parallelism groups x 65536, not |groups|
    val hp = operators.Quantiles.groupedBucketHistogram(
      l, "l_returnflag", "l_quantity", Seq(("A", 1.0, 50.0), ("N", 1.0, 50.0), ("R", 1.0, 50.0)))
      .queryExecution.executedPlan.toString
    assert(!hp.contains("Window"), hp)
    assert(!hp.contains("Exchange SinglePartition"), hp)
    assert(hp.contains("hashpartitioning(g"), hp)
    // grouped selection: window partitions by (group, bucket), and the
    // (group AND value-range) disjunction reaches the parquet scan
    val sel = operators.Quantiles.groupedSelectionDf(
      l, "l_returnflag", "l_quantity",
      Map("A" -> (1.0, 50.0)), Seq(("A", 10.0, 12.0)))
    val sp = sel.queryExecution.executedPlan.toString
    assert(!sp.contains("Exchange SinglePartition"), sp)
    assert(sp.contains("hashpartitioning(g, b") || sp.contains("hashpartitioning(g#"), sp)
    assert(sp.contains("PushedFilters") && sp.contains("EqualTo(l_returnflag,A)"),
      "group+range filter not pushed to the parquet scan: " + sp)
  }

  test("q43 grouped winsorize is broadcast two-phase like q32/q33") {
    val p = plan("q43_grouped_winsorize")
    assert(!p.contains("Window"), "q43 reintroduced a group window:\n" + p)
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("round-2 operators keep their scale shapes") {
    // interval join: equi-join + range residual — never a cartesian
    val ij = plan("st_interval_join")
    assert(!ij.contains("CartesianProduct") && !ij.contains("BroadcastNestedLoopJoin"), ij)
    // as-of: partitioned window, no single-partition funnel
    val asof = plan("st_asof")
    assert(!asof.contains("Exchange SinglePartition"), asof)
    // moving average: partitioned frame window only
    assert(!plan("q39_moving_avg").contains("Exchange SinglePartition"))
    // cube: one scan expanded to all grouping sets — not a union of scans
    val cube = plan("q40_cube")
    assert(scans(cube) === 1, cube)
    assert(cube.contains("Expand"), cube)
  }

  /** The grouped top-k shape: a PartialTopK (map-side heaps) under the
    * only exchange hash-partitioned on exactly `key` outside the
    * PartialTopK's own input, a FinalTopK right over that exchange,
    * exactly `windows` Windows (1: the rank over the ≤ k survivors, in
    * that exchange's partitions), no WindowGroupLimit, and nothing
    * funnels through a single partition but the partial rows of
    * `globalCounts` one-row aggregates.
    */
  private def assertGroupedTopK(p: String, key: String, windows: Int = 1,
      globalCounts: Int = 0): Unit = {
    val lines = p.linesIterator.toVector
    def depth(l: String): Int = l.indexWhere(ch => ch.isLetter)
    val partial = lines.indexWhere(_.contains("PartialTopK"))
    assert(partial > 0, s"no PartialTopK:\n$p")
    val inputEnd = lines.indexWhere(l => depth(l) <= depth(lines(partial)), partial + 1) match {
      case -1 => lines.size
      case i => i
    }
    val keyed = lines.indices.filter(i => (i <= partial || i >= inputEnd) &&
      s"Exchange hashpartitioning\\($key#\\d+L?, \\d+\\)".r.findFirstIn(lines(i)).isDefined)
    assert(keyed === Seq(partial - 1), s"expected one exchange on $key alone, over the PartialTopK:\n$p")
    assert(lines(partial - 2).contains("FinalTopK"), s"no FinalTopK over the $key exchange:\n$p")
    assert(lines.count(l => "(^|- )Window \\[".r.findFirstIn(l).isDefined) === windows, p)
    assert(!p.contains("WindowGroupLimit"), p)
    val single = lines.indices.filter(i => lines(i).contains("Exchange SinglePartition"))
    assert(single.size === globalCounts && single.forall(i => lines(i + 1).contains("partial_")), p)
  }

  test("per-group top-k queries plan the operator, never a window limit") {
    // k = 1 argmax/compaction and q41's exact-n tiebreak: no rank column,
    // so no window at all
    Seq("q34_argmax" -> "o_custkey", "st_cdc" -> "user_id",
      "q41_stratified_sample" -> "c_mktsegment").foreach { case (q, key) =>
      assertGroupedTopK(plan(q), key, windows = 0)
    }
    // per-doc top-3 terms with their rank; the document count (and
    // bm25's token count) is a one-row global aggregate
    assertGroupedTopK(plan("tx_tfidf"), "doc_id", globalCounts = 1)
    assertGroupedTopK(plan("tx_bm25"), "doc_id", globalCounts = 2)
    // a global top-1 is orderBy + limit: one bounded take, no window
    val ks = plan("ml_ks_separation")
    assert(ks.contains("TakeOrderedAndProject") && !ks.contains("Window"), ks)
  }

  test("st_topk prunes candidates before the per-window rank") {
    assertGroupedTopK(plan("st_topk"), "window_start")
  }

  test("sim top-k ranks are two-phase: local prune before the per-query rank") {
    // brute force and LSH: map-side heaps prune each query's candidates
    // before the one query_id exchange — corpus volume per query never
    // sorts through one task
    assertGroupedTopK(plan("sim_brute_topk"), "query_id")
    assertGroupedTopK(plan("sim_lsh_topk"), "query_id")
    // pq: candidate selection shuffles only narrow (query, id, adc) rows —
    // no vector payload (qvec/codes/tbl) rides a rank exchange
    val pq = plan("sim_pq_topk")
    val rankExchanges = pq.linesIterator.toVector
      .filter(l => l.contains("Exchange hashpartitioning(query_id"))
    assert(rankExchanges.nonEmpty, pq)
    rankExchanges.foreach { l =>
      assert(!l.contains("qvec") && !l.contains("codes") && !l.contains("tbl"),
        s"payload rides a candidate-rank exchange:\n$l")
    }
  }

  test("st_window_agg is a single aggregation (streaming-compatible shape)") {
    val p = plan("st_window_agg")
    assert("HashAggregate".r.findAllIn(p).length <= 2, p) // partial + final only
  }

  test("q45 decile assignment is a broadcast fence map, never a global rank") {
    // the naive plan is ntile() over an unpartitioned ORDER BY — one task
    // sorts the world; the fence map must carry no window at all
    val p = plan("q45_decile")
    assert(!p.contains("Window"), p)
    assert(!p.contains("Exchange SinglePartition"), p)
  }

  test("q48 percent_rank never ranks through an unpartitioned window") {
    val p = plan("q48_percent_rank")
    // the rank window must partition on the bucket id — an empty
    // partition spec is the one-task-sorts-the-world funnel
    assert(!p.contains("Exchange SinglePartition"), p)
    assert(p.contains("hashpartitioning(b"), p)
  }

  test("dd_keep_best selects winners by aggregation, never a cluster window") {
    // a boilerplate cluster (exact-dup star) can be millions of rows; a
    // window partitioned by cluster_id would sort it in one task
    assert(!plan("dd_keep_best").contains("Window"))
  }

  test("q44 funnel's three windows and the collapse share one user_id exchange") {
    val p = plan("q44_funnel")
    assert("Exchange hashpartitioning\\(user_id".r.findAllIn(p).length === 1,
      "funnel stages must reuse one user_id distribution:\n" + p)
  }

  test("round-5 stint operators keep their scale shapes") {
    // q92 expanding: the cumulative window is keyed on the
    // high-cardinality customer, never unpartitioned
    val p92 = plan("q92_expanding")
    assert(!p92.contains("Exchange SinglePartition"), p92)
    assert("windowspecdefinition\\(o_custkey".r.findFirstIn(p92).isDefined, p92)
    // q93 rfm: fences are inlined literals — no window, no join back
    val p93 = plan("q93_rfm")
    assert(!p93.contains("Window"), "q93 must code via broadcast fence literals:\n" + p93)
    // q96: all three dims reach the fact via broadcast joins
    val p96 = plan("q96_share_of_total")
    assert("BroadcastHashJoin".r.findAllIn(p96).length >= 3, p96)
    assert(!p96.contains("SortMergeJoin"), p96)
    // q94: the item-count enrichment joins broadcast; the only
    // sort-merge allowed is the within-order pair join
    val p94 = plan("q94_market_basket")
    assert("BroadcastHashJoin".r.findAllIn(p94).length >= 2, p94)
    // q90/q82: single scan, no window anywhere
    assert(scans(plan("q90_anova")) === 1)
    assert(!plan("q90_anova").contains("Window"))
    assert(!plan("q82_ols").contains("Window"))
  }
  test("round-5 late-stint operators keep their scale shapes") {
    // st_scd2: every window keys on the high-cardinality user_id
    val pScd = plan("st_scd2")
    assert(!pScd.contains("Exchange SinglePartition"), pScd)
    assert("windowspecdefinition\\(user_id".r.findFirstIn(pScd).isDefined, pScd)
    // q120 streaks: island window keyed on user_id
    val p120 = plan("q120_streaks")
    assert("windowspecdefinition\\(user_id".r.findFirstIn(p120).isDefined, p120)
    // q117 burstiness: pure aggregate pipeline — no Window at all
    assert(!plan("q117_burstiness").contains("Window"))
    // q113 item sim: count enrichments broadcast, never sort-merge
    val p113 = plan("q113_item_sim")
    assert("BroadcastHashJoin".r.findAllIn(p113).length >= 2, p113)
    // q116 partial corr: single scan, no window
    assert(scans(plan("q116_partial_corr")) === 1)
    assert(!plan("q116_partial_corr").contains("Window"))
  }
  test("growth-analytics operators keep their scale shapes") {
    // q129: the classification stage is checkpointed away; the FINAL
    // plan's only window is the lag over the bounded |days| spine
    val p129 = plan("q129_growth_accounting")
    assert("windowspecdefinition\\(day".r.findFirstIn(p129).isDefined, p129)
    assert(!"windowspecdefinition\\(user_id".r.findFirstIn(p129).isDefined,
      "no fact-scale window may survive into the surface stage")
    // q130: the 30-day fan-out expands the REDUCED surface before the
    // two-phase distinct (Expand feeds an aggregate, not raw events)
    val p130 = plan("q130_stickiness")
    assert(p130.contains("Generate explode"), p130)
    // q126: the attribution pair join is an equi join on user_id with
    // the time bound as a residual — never a pure range join
    val p126 = plan("q126_attribution")
    assert(!p126.contains("CartesianProduct") && !p126.contains("BroadcastNestedLoop"), p126)
    // q128: the gap lag keys on user_id
    assert("windowspecdefinition\\(user_id".r.findFirstIn(plan("q128_interarrival")).isDefined)
  }
  test("global allowlist: partition-less windows only on bounded surfaces") {
    // Every individual shape above pins one operator; this pins the
    // GLOBAL property the r8 verdict asked for: a WindowExec with an
    // EMPTY partition spec funnels its whole input through one task, so
    // it is only ever legal over pre-aggregated bounded metadata
    // (|hours|/|days|/|months| spines, decile/threshold sweeps, k-row
    // panel surfaces). The allowlist below is that audited set — a new
    // world window in ANY registered query fails here instead of
    // logging a WindowExec warning. (Windows behind a checkpoint
    // boundary are invisible to this scan; those sites are covered by
    // the per-operator tests above.)
    val allowed = Set(
      // hourly/daily spine surfaces (≤ |hours| ≈ 2200 rows at sf1; the
      // span grows with TIME, not data volume)
      "q72_seasonal", "q87_cusum", "q110_seasonal_strength", "q118_peaks",
      "q124_rolling_corr", "q127_drawdown", "q129_growth_accounting",
      // bounded decile/threshold sweeps (≤ deciles or |thresholds| rows)
      "q78_lorenz", "ml_lift", "ml_cost_threshold",
      // contingency-table / fixed-arm readouts (≤ categories² or 2 arms
      // or 9 leading digits — cardinality fixed by the schema, not data)
      "q67_chi2", "q81_chi2_residuals", "q84_cramers_v", "q85_benford",
      "q96_share_of_total", "q97_growth", "q107_ab_proportions")
    val offenders = SparkEntry.queries.keys.toSeq.sorted.filter { name =>
      val df = SparkEntry.queries(name)(spark, sf)
      df.queryExecution.sparkPlan.collect {
        case w: org.apache.spark.sql.execution.window.WindowExec
            if w.partitionSpec.isEmpty => w
      }.nonEmpty
    }
    assert(offenders.toSet.subsetOf(allowed),
      s"NEW partition-less window (bounded-surface audit required): " +
        s"${offenders.toSet -- allowed}")
    // the list is exact, not just an upper bound: an entry whose plan
    // no longer needs the exemption should be removed
    assert((allowed -- offenders.toSet).isEmpty,
      s"stale allowlist entries: ${allowed -- offenders.toSet}")
  }

  test("q99 abc cumulative pass is bucket-offset, not a world window") {
    // the cumulative-share window must partition on the 65536-bucket id
    // (each task sorts ~|parts|/65536 rows) — an empty partition spec
    // would sort a nine-figure catalog in one task
    val p = plan("q99_abc")
    assert(!p.contains("Exchange SinglePartition"),
      "q99 regained a single-partition stage:\n" + p)
    assert("windowspecdefinition\\(b#".r.findFirstIn(p).isDefined,
      "cum window not keyed on the bucket id:\n" + p)
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("q94/q113/q114 pair stages are basket-shaped: one order shuffle, widened pair agg") {
    // r13 rewrite after the r12 sf100 OOM: the pair source must be the
    // collect_set basket aggregate (ObjectHashAggregate) + codegen pair
    // expansion — never the old distinct + two-sided self-join on the
    // order key (3 fact shuffles); and the pair aggregate must land on
    // the widened explicit repartition, not shuffle.partitions.
    // Checkpoints are disabled so the basket stage (normally truncated
    // into a Scan ExistingRDD by graftCheckpoint) stays in the plan.
    spark.conf.set("spark.graft.checkpoint.disable", "true")
    try {
      for (k <- Seq("q94_market_basket", "q113_item_sim", "q114_triangles")) {
        val p = plan(k)
        assert(p.contains("ObjectHashAggregate"),
          s"$k lost the collect_set basket build:\n" + p.take(3000))
        assert(p.contains("Generate explode"),
          s"$k lost the codegen pair expansion:\n" + p.take(3000))
        // the widened pair exchange: 8 × the session's 4 shuffle partitions
        assert(p.contains("hashpartitioning(pk_a"), s"$k pair agg exchange missing:\n" + p)
        assert("hashpartitioning\\(pk_a#\\d+L, pk_b#\\d+L, 32\\)".r.findFirstIn(p).isDefined,
          s"$k pair exchange not at the widened count (expected 32 = 8×4):\n" +
            p.split("\n").filter(_.contains("hashpartitioning(pk_a")).mkString("\n"))
      }
    } finally spark.conf.unset("spark.graft.checkpoint.disable")
  }

  test("query builders are lazy outside the documented bounded-selection allowlist") {
    // The q105 lesson applied repo-wide (r13, verdict #5): a registered
    // builder must RETURN a plan, not run jobs — every driver action at
    // build time is a synchronous barrier per invocation, serial in the
    // driver even on a 1000-executor cluster. The allowlist names the
    // documented bounded-metadata selections (≤65536-row fence/histogram
    // collects, exact-selection quantiles, 1-row fit aggregates whose
    // scalars parameterize downstream expression SHAPES — they cannot
    // stay lazy because the literal changes the plan itself). Families
    // whose builders coordinate iterative/driver-staged fits by design
    // (ml_*, sim_*, emb_*, sem_dedup, dd_ clusters/graph fixpoints,
    // graph_kcore, q98 pagerank) are out of scope — their job loops ARE
    // the documented algorithm, not an accident.
    val allowed = Set(
      // exact-selection quantiles / fence collects (Quantiles.scala)
      "q07_quantiles", "q08_outlier_clip", "q33_group_quantiles",
      "q41_stratified_sample", "q43_grouped_winsorize", "q45_decile",
      "q60_grouped_mad", "q73_theil_sen",
      "q76_gini", "q77_spearman", "q78_lorenz", "q79_mann_whitney",
      "q83_trimmed_mean", "q93_rfm", "q101_robust_z",
      "q106_conformal", "q111_qq", "q112_weighted_median",
      "q122_bowley",
      // 1-row fit/span scalars that parameterize plan shapes
      "q66_ks_test", "q82_ols", "q87_cusum",
      "q102_survival", "q103_forecast_eval", "q108_anomaly_seasonal",
      "q68_autocorr",
      // span / 1-row-total scalars parameterizing fence grids
      "q121_rank_churn", "q125_decayed_value", "q127_drawdown",
      "q130_stickiness", "q131_value_migration", "q132_cannibalization",
      "q133_basket_profile", "q48_percent_rank", "q63_group_percent_rank",
      "q75_funnel_time", "q91_levene", "q99_abc",
      // sketch builds: only fpp-sized bitmap / CMS bytes / O(groups²·k)
      // sketch metadata reach the driver (ApproxSpec-covered)
      "ap_bloom", "ap_topk", "ap_kmv_overlap",
      // budget/lm/winnow fit surfaces (bounded df-cap collects)
      "tx_budget_sample", "tx_lm_score", "tx_lm_buckets")
    val audited = SparkEntry.queries.keys.toSeq.sorted.filter { k =>
      k.matches("q\\d+_.*") || k.startsWith("tx_") || k.startsWith("mm_") ||
        k.startsWith("st_") || k.startsWith("dd_") || k.startsWith("ap_")
    }.filterNot(Set("dd_clusters", "dd_keep_best", "dd_cluster_sizes",
      "dd_dup_weights", "dd_modality_agreement", "q98_pagerank",
      "graph_kcore"))
    val sc = spark.sparkContext
    // checkpoint-disabled mode: materialization points are DESIGNED
    // build work (lineage truncation; under AQE even a lazy checkpoint
    // runs its shuffle stages), not accidental barriers — the audit
    // no-ops them so the only jobs left are genuine eager actions. The
    // un-grouped warm pass absorbs one-time table schema-read jobs and
    // fence caches so the measured pass sees steady state.
    spark.conf.set("spark.graft.checkpoint.disable", "true")
    try {
      for (k <- audited) { SparkEntry.queries(k)(spark, sf): Unit }
      for (k <- audited) {
        sc.setJobGroup(s"lazy-audit-$k", k)
        try { SparkEntry.queries(k)(spark, sf): Unit }
        finally sc.clearJobGroup()
      }
    } finally spark.conf.unset("spark.graft.checkpoint.disable")
    Thread.sleep(3000) // status-store bookkeeping is listener-async
    val offenders = audited.filterNot(allowed).flatMap { k =>
      val jobs = sc.statusTracker.getJobIdsForGroup(s"lazy-audit-$k")
      if (jobs.nonEmpty) Some(s"$k (${jobs.length} jobs)") else None
    }
    assert(offenders.isEmpty,
      "builders ran driver jobs at build time: " + offenders.mkString(", "))
    // advisory: allowlist entries that ran zero jobs this pass may have
    // graduated (or their selections are warm-pass cached) — surfaced
    // for review, not asserted, to keep caching changes from flaking
    val stale = audited.filter(allowed).filter { k =>
      sc.statusTracker.getJobIdsForGroup(s"lazy-audit-$k").isEmpty
    }
    if (stale.nonEmpty)
      info("allowlisted builders with zero jobs this pass: " +
        stale.mkString(", "))
  }

  test("q105 ref-integrity is one lazy plan, one scan per fact") {
    // r10 rewrite: the returned frame must carry the WORK in its plan —
    // the old shape ran 10 driver actions at construction and returned
    // a LocalRelation of collected results (its physical signature: a
    // LocalTableScan and zero fact scans) — and lineitem must be
    // scanned once (it was scanned 6x)
    val df = SparkEntry.queries("q105_ref_integrity")(spark, sf)
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("LocalTableScan"),
      "q105 returned pre-collected results (eager plan):\n" + p.take(3000))
    val liScans = p.split("\n").count(l =>
      l.contains("Scan parquet") && l.contains("lineitem"))
    assert(liScans === 1, "lineitem scanned " + liScans + "x:\n" +
      p.split("\n").filter(_.contains("lineitem")).mkString("\n"))
    // no broadcast HINT on SF-scaling key sets (Catalyst may still
    // auto-broadcast at tiny SF — that's size-based and fine; a forced
    // hint would OOM at a true 100 TB where the dim key union is ~16B
    // rows)
    val lp = df.queryExecution.analyzed.toString
    assert(!lp.contains("ResolvedHint"),
      "q105 regained a forced broadcast hint:\n" + lp.take(3000))
  }
}
