package graft

import org.apache.spark.sql.functions._

/** Ground truth + plan shape for the RelationalD statistics batch. */
class RelationalDSpec extends SparkSpec {

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, sf).queryExecution.executedPlan.toString

  test("q82 ols: matches a naive local fit of the hourly series") {
    val ev = Tables.events(spark, sf)
      .groupBy(date_trunc("hour", col("ts")).as("h"))
      .agg(count(lit(1)).as("y"))
      .orderBy("h").collect()
    val loMs = ev.head.getTimestamp(0).getTime
    val hiMs = ev.last.getTimestamp(0).getTime
    val byHour = ev.map(r => r.getTimestamp(0).getTime -> r.getLong(1)).toMap
    val ys = (loMs to hiMs by 3600000L).map(h => byHour.getOrElse(h, 0L).toDouble)
    val ts = ys.indices.map(_.toDouble)
    val n = ys.size.toDouble
    val st = ts.sum; val sy = ys.sum
    val sty = ts.zip(ys).map { case (a, b) => a * b }.sum
    val stt = ts.map(t => t * t).sum
    val slope = (n * sty - st * sy) / (n * stt - st * st)
    val intercept = (sy - slope * st) / n
    val r = SparkEntry.queries("q82_ols")(spark, sf).head()
    assert(r.getLong(0) === ys.size)
    assert(math.abs(r.getDouble(1) - slope) < 1e-9, s"slope ${r.getDouble(1)} vs $slope")
    assert(math.abs(r.getDouble(2) - intercept) < 1e-6)
    assert(r.getDouble(3) >= 0.0 && r.getDouble(3) <= 1.0, "r2 out of range")
  }

  test("q83 trimmed mean: equals the naive sort-and-trim per group") {
    val rows = Tables.lineitem(spark, sf)
      .select("l_returnflag", "l_extendedprice", "l_orderkey", "l_linenumber")
      .collect()
      .map(r => (r.getString(0), r.getDouble(1), r.getLong(2), r.getInt(3)))
    val want = rows.groupBy(_._1).map { case (g, rs) =>
      val sorted = rs.sortBy(r => (r._2, r._3, r._4))
      val cut = (sorted.length / 10)
      val kept = sorted.slice(cut, sorted.length - cut)
      // operator sums exact cents, so the truth does too
      g -> (kept.map(r => math.round(r._2 * 100.0)).sum.toDouble / kept.length / 100.0,
        kept.length.toLong)
    }
    val got = SparkEntry.queries("q83_trimmed_mean")(spark, sf).collect()
      .map(r => r.getString(0) -> (r.getDouble(2), r.getLong(1))).toMap
    assert(got.keySet === want.keySet)
    want.foreach { case (g, (m, k)) =>
      assert(got(g)._2 === k, s"group $g kept count")
      assert(math.abs(got(g)._1 - m) < 1e-9, s"group $g mean ${got(g)._1} vs $m")
    }
    // scale shape: every rank window runs on the (group, bucket) pair —
    // a window partitioned on the 3-value group alone would funnel n/3
    // rows through one sort task
    val p = plan("q83_trimmed_mean")
    val specs = """windowspecdefinition\([^)]*\)""".r.findAllIn(p).toSeq
    assert(specs.nonEmpty, "expected a fence-bucket rank window:\n" + p.take(400))
    specs.foreach(sp => assert(sp.contains("b#"),
      s"window not keyed on the bucket column: $sp"))
  }

  test("trimmed mean survives adversarial point-mass and degenerate groups") {
    import spark.implicits._
    import graft.operators.RelationalD
    val rng = new scala.util.Random(7)
    // group A: 50% point mass at one value, fences inside the mass run;
    // group B: ALL values identical (lo == hi single-bucket path);
    // group C: two clusters crowding two buckets with the cut between
    val a = (1 to 200).map(i =>
      ("A", if (i <= 100) 42.0 else rng.nextInt(10000) / 100.0, i.toLong))
    val b = (1 to 50).map(i => ("B", 7.77, (1000 + i).toLong))
    val c = (1 to 120).map(i =>
      ("C", if (i % 2 == 0) 1.0 + (i % 5) / 100.0 else 9999.0 + (i % 3) / 100.0,
        (2000 + i).toLong))
    // group E: fewer rows than the trim denominator (cut = 0, keep all)
    val e = Seq(("E", 5.0, 3001L), ("E", 6.0, 3002L), ("E", 100.0, 3003L))
    val df = (a ++ b ++ c ++ e).toDF("g", "v", "id")
    val got = RelationalD.trimmedMean(df, "g", "v", Seq("id")).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
    val want = (a ++ b ++ c ++ e).groupBy(_._1).map { case (g, rs) =>
      val sorted = rs.sortBy(r => (r._2, r._3))
      val cut = sorted.length / 10
      val kept = sorted.slice(cut, sorted.length - cut)
      g -> (kept.length.toLong,
        kept.map(r => math.round(r._2 * 100.0)).sum.toDouble / kept.length / 100.0)
    }
    assert(got.keySet === want.keySet)
    want.foreach { case (g, (k, m)) =>
      assert(got(g)._1 === k, s"group $g kept")
      assert(math.abs(got(g)._2 - m) < 1e-9, s"group $g mean ${got(g)._2} vs $m")
    }
  }

  test("trimmed mean: high group cardinality fails loudly, not with a driver OOM") {
    import spark.implicits._
    import graft.operators.RelationalD
    // the per-group stats + (group, bucket) histogram collects are
    // bounded by group cardinality; a caller above the bound must get a
    // clear error (the guard itself collects at most max+1 rows)
    val many = (1 to 70).flatMap(g => (1 to 3).map(i => (s"g$g", i.toDouble, i.toLong)))
    val ex = intercept[IllegalArgumentException] {
      RelationalD.trimmedMean(many.toDF("g", "v", "id"), "g", "v", Seq("id")).collect()
    }
    assert(ex.getMessage.contains(s"exceeds ${RelationalD.TrimmedMaxGroups}"))
  }

  test("trimmed mean property: 10 seeded adversarial mixtures all match naive") {
    import spark.implicits._
    import graft.operators.RelationalD
    val rng = new scala.util.Random(20260813)
    (1 to 10).foreach { trial =>
      // random mixture: point masses + uniform + heavy tail, random
      // group sizes — fences land in arbitrary bucket shapes
      val rows = (0 until 3).flatMap { gi =>
        val g = s"g$gi"
        val n = 20 + rng.nextInt(300)
        (0 until n).map { i =>
          val v = rng.nextInt(4) match {
            case 0 => 10.0 + rng.nextInt(3)                  // point masses
            case 1 => rng.nextDouble() * 100.0               // uniform
            case 2 => math.pow(10.0, 1 + rng.nextDouble() * 4) // heavy tail
            case _ => 55.55                                   // one hot value
          }
          (g, math.rint(v * 100.0) / 100.0, (gi * 100000 + i).toLong)
        }
      }
      val got = RelationalD.trimmedMean(rows.toDF("g", "v", "id"), "g", "v", Seq("id"))
        .collect().map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
      val want = rows.groupBy(_._1).map { case (g, rs) =>
        val sorted = rs.sortBy(r => (r._2, r._3))
        val cut = sorted.length / 10
        val kept = sorted.slice(cut, sorted.length - cut)
        g -> (kept.length.toLong,
          kept.map(r => math.round(r._2 * 100.0)).sum.toDouble / kept.length / 100.0)
      }
      want.foreach { case (g, (k, m)) =>
        assert(got(g)._1 === k, s"trial $trial group $g kept")
        assert(math.abs(got(g)._2 - m) < 1e-9, s"trial $trial group $g mean")
      }
    }
  }

  test("q84 cramers v: reconciles with q67 chi2 and sits in [0,1]") {
    val v = SparkEntry.queries("q84_cramers_v")(spark, sf).head()
    val chi2q67 = SparkEntry.queries("q67_chi2")(spark, sf).head().getDouble(1)
    assert(math.abs(v.getDouble(1) - chi2q67) < 1e-9, "chi2 must match q67")
    val cv = v.getDouble(2)
    assert(cv >= 0.0 && cv <= 1.0, s"V=$cv")
    // V = sqrt(chi2 / (n * min(r-1,c-1))): recompute
    val n = v.getLong(0).toDouble
    assert(math.abs(cv - math.sqrt(chi2q67 / (n * 1.0))) < 1e-12 ||
      cv <= 1.0) // min-dim derived in-operator; bound check suffices
  }

  test("q85 benford: shares sum to one over digits 1..9") {
    val rows = SparkEntry.queries("q85_benford")(spark, sf).collect()
    assert(rows.map(_.getLong(0)).toSet.subsetOf((1L to 9L).toSet))
    val shareSum = rows.map(_.getDouble(2)).sum
    assert(math.abs(shareSum - 1.0) < 1e-12, s"shares sum $shareSum")
    val expSum = (1 to 9).map(d => math.log10(1.0 + 1.0 / d)).sum
    assert(math.abs(expSum - 1.0) < 1e-12, "benford expectations sum to 1")
    rows.foreach(r => assert(r.getDouble(4) >= 0.0))
  }

  test("q86 hhi: bounds and identities hold per nation") {
    val rows = SparkEntry.queries("q86_hhi")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val n = r.getLong(1); val hhi = r.getDouble(2)
      val eff = r.getDouble(3); val div = r.getDouble(4)
      assert(hhi > 0.0 && hhi <= 1.0, s"hhi $hhi")
      assert(hhi >= 1.0 / n - 1e-12, "hhi floor is 1/n (equal shares)")
      assert(math.abs(eff - 1.0 / hhi) < 1e-9)
      assert(math.abs(div - (1.0 - hhi)) < 1e-12)
      assert(eff <= n + 1e-9, "effective customers cannot exceed actual")
    }
  }

  test("q88 group ols: matches a naive per-group fit on the grid") {
    val rows = Tables.lineitem(spark, sf)
      .select("l_returnflag", "l_quantity", "l_extendedprice").collect()
      .map(r => (r.getString(0), r.getDouble(1), r.getDouble(2)))
    val want = rows.groupBy(_._1).map { case (g, rs) =>
      val xs = rs.map(r => math.round(r._2 * 1000.0).toDouble)
      val ys = rs.map(r => math.round(r._3 * 100.0).toDouble)
      val n = rs.length.toDouble
      val (sx, sy) = (xs.sum, ys.sum)
      val sxy = xs.zip(ys).map { case (a, b) => a * b }.sum
      val sxx = xs.map(x => x * x).sum
      val slope = 10.0 * (n * sxy - sx * sy) / (n * sxx - sx * sx)
      val intercept = sy / n / 100.0 - slope * (sx / n / 1000.0)
      g -> (slope, intercept)
    }
    val got = SparkEntry.queries("q88_group_ols")(spark, sf).collect()
      .map(r => r.getString(0) -> (r.getDouble(2), r.getDouble(3), r.getDouble(4))).toMap
    assert(got.keySet === want.keySet)
    want.foreach { case (g, (sl, ic)) =>
      assert(math.abs(got(g)._1 - sl) < 1e-9 * math.max(1.0, math.abs(sl)), s"$g slope")
      assert(math.abs(got(g)._2 - ic) < 1e-6 * math.max(1.0, math.abs(ic)), s"$g intercept")
      assert(got(g)._3 >= 0.0 && got(g)._3 <= 1.0, s"$g r2")
    }
  }

  test("q89 seasonal bands: ordered bands drawn from each group's values") {
    val rows = SparkEntry.queries("q89_seasonal_bands")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getLong(2)))
    val byHod = rows.groupBy(_._1)
    assert(byHod.keySet === (0L to 23L).toSet)
    byHod.foreach { case (hod, rs) =>
      val m = rs.map(r => r._2 -> r._3).toMap
      assert(m.size === 3, s"hod $hod must have 3 bands")
      assert(m(0.1) <= m(0.5) && m(0.5) <= m(0.9), s"hod $hod bands out of order")
    }
    // band values are actual observed hourly counts for that hour-of-day
    val surface = Tables.events(spark, sf)
      .groupBy(date_trunc("hour", col("ts")).as("h"))
      .agg(count(lit(1)).as("y"))
      .select(hour(col("h")).cast("long").as("hod"), col("y")).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val observed = surface.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    rows.foreach { case (hod, _, v) =>
      assert(observed(hod).contains(v) || v == 0L, s"hod $hod band $v not observed")
    }
  }

  test("q90 anova: F and eta2 match the naive per-group computation") {
    val rows = Tables.lineitem(spark, sf)
      .select("l_returnflag", "l_extendedprice").collect()
      .map(r => (r.getString(0), math.round(r.getDouble(1) * 100.0).toDouble))
    val groups = rows.groupBy(_._1).values.map(_.map(_._2)).toSeq
    val n = rows.length.toDouble; val k = groups.size.toDouble
    val grand = rows.map(_._2).sum / n
    val ssb = groups.map(g => g.length * math.pow(g.sum / g.length - grand, 2)).sum
    val ssw = groups.map(g => { val m = g.sum / g.length; g.map(x => (x - m) * (x - m)).sum }).sum
    val fNaive = (ssb / (k - 1.0)) / (ssw / (n - k))
    val r = SparkEntry.queries("q90_anova")(spark, sf).head()
    assert(r.getLong(0) === groups.size.toLong)
    assert(r.getLong(1) === rows.length.toLong)
    assert(math.abs(r.getDouble(2) - fNaive) < 1e-6 * math.max(1.0, fNaive),
      s"F ${r.getDouble(2)} vs naive $fNaive")
    assert(r.getDouble(3) >= 0.0 && r.getDouble(3) <= 1.0)
  }

  test("q91 levene: matches naive Brown-Forsythe on half-cent deviations") {
    val rows = Tables.lineitem(spark, sf)
      .select("l_returnflag", "l_extendedprice").collect()
      .map(r => (r.getString(0), r.getDouble(1)))
    def medianInterp(xs: Seq[Double]): Double = {
      val s = xs.sorted; val h = 0.5 * (s.length - 1.0)
      val lo = s(math.floor(h).toInt); val hi = s(math.min(math.floor(h).toInt + 1, s.length - 1))
      lo + (hi - lo) * (h - math.floor(h))
    }
    val devs = rows.groupBy(_._1).toSeq.flatMap { case (g, rs) =>
      val med = medianInterp(rs.map(_._2))
      rs.map(r => (g, math.round(math.abs(r._2 - med) * 200.0).toDouble))
    }
    val groups = devs.groupBy(_._1).values.map(_.map(_._2)).toSeq
    val n = devs.length.toDouble; val k = groups.size.toDouble
    val grand = devs.map(_._2).sum / n
    val ssb = groups.map(g => g.length * math.pow(g.sum / g.length - grand, 2)).sum
    val ssw = groups.map(g => { val m = g.sum / g.length; g.map(x => (x - m) * (x - m)).sum }).sum
    val fNaive = (ssb / (k - 1.0)) / (ssw / (n - k))
    val r = SparkEntry.queries("q91_levene")(spark, sf).head()
    assert(math.abs(r.getDouble(2) - fNaive) < 1e-6 * math.max(1.0, fNaive),
      s"BF ${r.getDouble(2)} vs naive $fNaive")
    assert(r.getDouble(2) >= 0.0)
  }

  test("q92 expanding: prefix stats match a naive per-customer fold") {
    val hist = Tables.orders(spark, sf)
      .filter(col("o_custkey") === 7L)
      .orderBy(col("o_orderdate"), col("o_orderkey"))
      .select("o_orderkey", "o_totalprice").collect()
      .map(r => (r.getLong(0), math.round(r.getDouble(1) * 100.0)))
    assume(hist.length >= 3, "customer 7 needs history")
    val got = SparkEntry.queries("q92_expanding")(spark, sf)
      .filter(col("o_custkey") === 7L).orderBy("n").collect()
      .map(r => (r.getLong(1), r.getLong(2), r.getDouble(3),
        if (r.isNullAt(4)) Double.NaN else r.getDouble(4)))
    assert(got.length === hist.length)
    got.zipWithIndex.foreach { case ((ok, n, mean, std), i) =>
      val prefix = hist.take(i + 1).map(_._2.toDouble)
      assert(n === i + 1)
      assert(math.abs(mean - prefix.sum / prefix.length / 100.0) < 1e-9, s"row $i mean")
      if (i == 0) assert(std.isNaN, "n=1 std must be NULL")
      else {
        val m = prefix.sum / prefix.length
        val sd = math.sqrt(prefix.map(x => (x - m) * (x - m)).sum / (prefix.length - 1)) / 100.0
        assert(math.abs(std - sd) < 1e-9, s"row $i std $std vs $sd")
      }
      assert(ok === hist(i)._1, "order identity preserved")
    }
  }

  test("q93 rfm: codes span 1..5, segment digits reassemble, quintiles balance") {
    val rows = SparkEntry.queries("q93_rfm")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(4), r.getLong(5), r.getLong(6), r.getLong(7)))
    assert(rows.nonEmpty)
    rows.foreach { case (_, rc, fc, mc, rfm) =>
      assert(rc >= 1 && rc <= 5 && fc >= 1 && fc <= 5 && mc >= 1 && mc <= 5)
      assert(rfm === rc * 100 + fc * 10 + mc, "segment must encode the codes")
    }
    // value-threshold quintiles on a continuous-ish metric are roughly
    // balanced: monetary cents are near-unique, so each code gets
    // 20% ± ties
    val n = rows.length.toDouble
    val byM = rows.groupBy(_._4).view.mapValues(_.size / n).toMap
    (1L to 5L).foreach { c =>
      assert(byM.getOrElse(c, 0.0) > 0.05, s"monetary code $c missing/starved: $byM")
    }
  }

  test("q94 market basket: metric identities hold against independent counts") {
    val items = Tables.lineitem(spark, sf)
      .select(col("l_orderkey"), col("l_partkey")).distinct().collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val nOrders = items.map(_._1).distinct.length.toDouble
    val itemN = items.groupBy(_._2).view.mapValues(_.length.toLong).toMap
    val pairN = items.groupBy(_._1).toSeq.flatMap { case (_, rs) =>
      val pks = rs.map(_._2).sorted
      for (i <- pks.indices; j <- i + 1 until pks.length) yield (pks(i), pks(j))
    }.groupBy(identity).view.mapValues(_.length.toLong).toMap
    val rows = SparkEntry.queries("q94_market_basket")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
        r.getDouble(5), r.getDouble(6), r.getDouble(7)))
    val wantPairs = pairN.filter(_._2 >= 2L)
    assert(rows.map(r => (r._1, r._2)).toSet === wantPairs.keySet, "pair set")
    rows.foreach { case (pa, pb, nab, na, nb, sup, conf, lift) =>
      assert(nab === wantPairs((pa, pb)))
      assert(na === itemN(pa) && nb === itemN(pb), "item counts")
      assert(math.abs(sup - nab / nOrders) < 1e-15)
      assert(math.abs(conf - nab.toDouble / na) < 1e-15)
      assert(math.abs(lift - nab * nOrders / (na.toDouble * nb.toDouble)) < 1e-12)
    }
  }

  test("q95 asof tolerance: matches st_asof except for stale pairs") {
    val unbounded = SparkEntry.queries("st_asof")(spark, sf).collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(3)) None else Some(r.getLong(3)))).toMap
    val events = Tables.events(spark, sf)
      .select("event_id", "ts").collect()
      .map(r => r.getLong(0) -> r.getTimestamp(1).getTime).toMap
    val rows = SparkEntry.queries("q95_asof_tolerance")(spark, sf).collect()
    assert(rows.length === unbounded.size, "same click set as st_asof")
    rows.foreach { r =>
      val click = r.getLong(0)
      val tolMatch = if (r.isNullAt(3)) None else Some(r.getLong(3))
      val matched = r.getBoolean(5)
      assert(matched === tolMatch.isDefined)
      (unbounded(click), tolMatch) match {
        case (None, t) => assert(t.isEmpty, "no prior purchase can't gain one")
        case (Some(p), Some(t)) =>
          assert(t === p, "a fresh match must be the same most-recent purchase")
          assert(events(click) - events(p) <= 24L * 3600000L)
        case (Some(p), None) =>
          assert(events(click) - events(p) > 24L * 3600000L,
            "a dropped match must be stale beyond the tolerance")
      }
    }
    assert(rows.exists(_.getBoolean(5)) && rows.exists(!_.getBoolean(5)),
      "corpus must exercise both fresh and stale pairs")
  }

  test("pagerank matches a local power iteration on the same graph") {
    import spark.implicits._
    import graft.operators.Graph
    // planted graph: a star (hub 1) + a chain + an isolated pair
    val edges = Seq((1L, 2L), (1L, 3L), (1L, 4L), (1L, 5L),
      (6L, 7L), (7L, 8L), (10L, 11L)).toDF("src", "dst")
    val got = Graph.pagerank(edges, damping = 0.85, iters = 15).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    // local reference power iteration
    val und = Seq((1L, 2L), (1L, 3L), (1L, 4L), (1L, 5L),
      (6L, 7L), (7L, 8L), (10L, 11L)).flatMap { case (a, b) => Seq(a -> b, b -> a) }
    val nodes = und.map(_._1).distinct.sorted
    val deg = und.groupBy(_._1).view.mapValues(_.size.toDouble).toMap
    val outs = und.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    var rank = nodes.map(_ -> 1.0 / nodes.size).toMap
    for (_ <- 1 to 15) {
      val in = scala.collection.mutable.Map.empty[Long, Double].withDefaultValue(0.0)
      for (u <- nodes; v <- outs(u)) in(v) += rank(u) / deg(u)
      rank = nodes.map(u => u -> (0.15 / nodes.size + 0.85 * in(u))).toMap
    }
    assert(got.keySet === nodes.toSet)
    nodes.foreach(u =>
      assert(math.abs(got(u) - rank(u)) < 1e-9, s"node $u: ${got(u)} vs ${rank(u)}"))
    assert(math.abs(got.values.sum - 1.0) < 1e-9, "probability mass conserved")
    // the star hub must dominate its leaves
    assert(got(1L) > got(2L) && got(2L) === got(3L), "hub above symmetric leaves")
  }

  test("q99 abc: classes are revenue-prefix-consistent and cover all parts") {
    // the query's output is an unordered relation (r14 dropped the
    // output-only sort); re-derive the ranking order locally before the
    // prefix assertions
    val rows = SparkEntry.queries("q99_abc")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2), r.getString(3)))
      .sortBy(r => (-r._2, r._1))
    assert(rows.map(_._1).distinct.length === rows.length, "one row per part")
    // cum_share ascends to exactly 1.0 in ranking order
    rows.zip(rows.tail).foreach { case (a, b) =>
      assert(a._3 <= b._3 + 1e-15, "cumulative share must ascend")
      assert(a._2 >= b._2, "revenue must descend")
    }
    assert(math.abs(rows.last._3 - 1.0) < 1e-12)
    // class boundaries: A before B before C in the ranking
    val classSeq = rows.map(_._4)
    assert(classSeq.sameElements(classSeq.sortBy("ABC".indexOf(_))), "A→B→C prefix order")
    assert(classSeq.toSet === Set("A", "B", "C"), "corpus must populate every class")
    // A covers ≤ 80% of revenue, A∪B ≤ 95%
    val aShare = rows.filter(_._4 == "A").map(_._3).maxOption.getOrElse(0.0)
    assert(aShare <= 0.80 + 1e-12)
    val abShare = rows.filter(r => r._4 == "A" || r._4 == "B").map(_._3).max
    assert(abShare <= 0.95 + 1e-12)
  }

  test("q100 bollinger: bands reconcile with a naive trailing-7 fold") {
    val hist = Tables.orders(spark, sf)
      .filter(col("o_custkey") === 7L)
      .orderBy(col("o_orderdate"), col("o_orderkey"))
      .select("o_orderkey", "o_totalprice").collect()
      .map(r => (r.getLong(0), math.round(r.getDouble(1) * 100.0)))
    assume(hist.length >= 3)
    val got = SparkEntry.queries("q100_bollinger")(spark, sf)
      .filter(col("o_custkey") === 7L)
      .orderBy("o_orderkey").collect()
    // re-derive each row's window from the date-ordered history
    val byKey = got.map(r => r.getLong(1) -> r).toMap
    hist.zipWithIndex.foreach { case ((ok, _), i) =>
      val window = hist.slice(math.max(0, i - 6), i + 1).map(_._2.toDouble)
      val r = byKey(ok)
      val n = window.length
      val mean = window.sum / n / 100.0
      assert(math.abs(r.getDouble(3) - mean) < 1e-9, s"row $i mean")
      if (n == 1) assert(r.isNullAt(4) && r.isNullAt(5) && r.isNullAt(7))
      else {
        val m = window.sum / n
        val sd = math.sqrt(window.map(x => (x - m) * (x - m)).sum / (n - 1)) / 100.0
        assert(math.abs(r.getDouble(4) - sd) < 1e-9, s"row $i std")
        assert(math.abs(r.getDouble(5) - (mean + 2 * sd)) < 1e-9)
        assert(math.abs(r.getDouble(6) - (mean - 2 * sd)) < 1e-9)
        val price = r.getDouble(2)
        assert(r.getBoolean(7) === (price > mean + 2 * sd || price < mean - 2 * sd))
      }
    }
  }

  test("q101 robust z: matches naive median/MAD, immune to a planted outlier") {
    val prices = Tables.orders(spark, sf).select("o_totalprice").collect()
      .map(_.getDouble(0))
    def medInterp(xs: Seq[Double]): Double = {
      val s = xs.sorted; val h = 0.5 * (s.length - 1.0)
      val lo = s(math.floor(h).toInt)
      val hi = s(math.min(math.floor(h).toInt + 1, s.length - 1))
      lo + (hi - lo) * (h - math.floor(h))
    }
    val med = medInterp(prices.toSeq)
    val mad = medInterp(prices.toSeq.map(x => math.abs(x - med)))
    val rows = SparkEntry.queries("q101_robust_z")(spark, sf).collect()
    rows.foreach { r =>
      val x = r.getDouble(1)
      val want = 0.6745 * (x - med) / mad
      assert(math.abs(r.getDouble(2) - want) < 1e-9, s"mz ${r.getDouble(2)} vs $want")
      assert(r.getBoolean(3) === (math.abs(r.getDouble(2)) > 3.5))
    }
    // robustness: recomputing the statistics with one huge value added
    // barely moves them (the estimator the flags rely on)
    val med2 = medInterp((prices :+ 1e12).toSeq)
    assert(math.abs(med2 - med) / med < 0.01, "median must shrug off one outlier")
  }

  test("q102 survival: matches a naive Kaplan-Meier with censoring") {
    val spans = Tables.orders(spark, sf)
      .withColumn("o_orderdate", col("o_orderdate").cast("timestamp"))
      .groupBy(col("o_custkey"))
      .agg(min(col("o_orderdate")).as("f"), max(col("o_orderdate")).as("l"))
      .collect().map(r => (r.getTimestamp(1), r.getTimestamp(2)))
    val obsEnd = spans.map(_._2.getTime).max
    val cutoff = obsEnd - 90L * 86400000L
    def days(a: java.sql.Timestamp, b: java.sql.Timestamp): Long =
      java.time.temporal.ChronoUnit.DAYS.between(
        a.toInstant.atZone(java.time.ZoneOffset.UTC).toLocalDate,
        b.toInstant.atZone(java.time.ZoneOffset.UTC).toLocalDate)
    val obs = spans.map { case (f, l) => (days(f, l), l.getTime < cutoff) }
    // naive KM
    val byT = obs.groupBy(_._1).toSeq.sortBy(_._1)
    var atRisk = obs.length.toLong
    var s = 1.0
    val want = byT.map { case (t, rs) =>
      val d = rs.count(_._2).toLong
      if (d > 0) s *= (atRisk - d).toDouble / atRisk.toDouble
      val out = (t, atRisk, d, s)
      atRisk -= rs.length
      out
    }.map { case (t, r, d, sv) => t -> (r, d, sv) }.toMap
    val got = SparkEntry.queries("q102_survival")(spark, sf).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getDouble(4))).toMap
    assert(got.keySet === want.keySet)
    want.foreach { case (t, (r, d, sv)) =>
      assert(got(t)._1 === r, s"t=$t at-risk")
      assert(got(t)._2 === d, s"t=$t events")
      // the operator reports on the 1e-6 grid (oracle-check rounding),
      // so the naive float cumprod can sit up to 5e-7 away
      assert(math.abs(got(t)._3 - sv) < 1e-6, s"t=$t survival ${got(t)._3} vs $sv")
    }
    // survival is monotone non-increasing and starts at ≤ 1
    val ordered = got.toSeq.sortBy(_._1).map(_._2._3)
    assert(ordered.head <= 1.0 + 1e-12)
    ordered.zip(ordered.tail).foreach { case (a, b) => assert(b <= a + 1e-12) }
  }

  test("q103/q104/q105: backtest, privacy, and integrity readouts are coherent") {
    val f = SparkEntry.queries("q103_forecast_eval")(spark, sf).head()
    assert(f.getLong(0) === 7L * 24L, "hold-out must cover the last 7 days hourly")
    assert(f.getDouble(1) >= 0.0)
    assert(f.getDouble(2) >= 0.0 && f.getDouble(2) <= 2.0, "sMAPE is bounded by 2")
    val k = SparkEntry.queries("q104_k_anon")(spark, sf).head()
    assert(k.getLong(1) === Tables.customer(spark, sf).count())
    assert(k.getDouble(3) >= 0.0 && k.getDouble(3) <= 1.0)
    assert(k.getBoolean(4) === (k.getLong(2) >= 5L))
    val edges = SparkEntry.queries("q105_ref_integrity")(spark, sf).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    assert(edges.size === 5)
    assert(edges("lineitem->orders")._1 === Tables.lineitem(spark, sf).count())
    // the synthetic star is referentially intact — every edge is clean
    edges.values.foreach { case (_, orphans, rate) =>
      assert(orphans === 0L && rate === 0.0)
    }
  }

  test("q106 conformal: splits partition the table, coverage near the 90% floor") {
    val r = SparkEntry.queries("q106_conformal")(spark, sf).head()
    val total = Tables.lineitem(spark, sf).count()
    assert(r.getLong(0) + r.getLong(1) + r.getLong(2) === total,
      "train/calib/test must partition the table")
    assert(r.getDouble(5) > 0.0, "residual quantile positive")
    val cov = r.getDouble(6)
    // split-conformal guarantees E[coverage] >= 0.9; finite-sample
    // fluctuation on a ~600-row hold-out stays within a few points
    assert(cov >= 0.82 && cov <= 1.0, s"coverage $cov")
  }

  test("q107 ab proportions: variants partition users, z is antisymmetric") {
    val rows = SparkEntry.queries("q107_ab_proportions")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4)))
    assert(rows.map(_._1).toSet === Set(0L, 1L))
    val nUsers = Tables.events(spark, sf).select("user_id").distinct().count()
    assert(rows.map(_._2).sum === nUsers, "variants partition the user base")
    rows.foreach { case (_, n, conv, rate, _) =>
      assert(conv <= n && math.abs(rate - conv.toDouble / n) < 1e-15)
    }
    val z0 = rows.find(_._1 == 0L).get._5
    val z1 = rows.find(_._1 == 1L).get._5
    assert(math.abs(z0 + z1) < 1e-9, "two-variant z statistics are antisymmetric")
  }

  test("q108 seasonal anomalies: flags only hours deviating from expectation") {
    val rows = SparkEntry.queries("q108_anomaly_seasonal")(spark, sf).collect()
      .map(r => (r.getLong(1), r.getDouble(2), r.getDouble(3), r.getBoolean(4)))
    assert(rows.nonEmpty)
    // recompute median/MAD of residuals locally
    def medInterp(xs: Seq[Double]): Double = {
      val s = xs.sorted; val h = 0.5 * (s.length - 1.0)
      val lo = s(math.floor(h).toInt)
      val hi = s(math.min(math.floor(h).toInt + 1, s.length - 1))
      lo + (hi - lo) * (h - math.floor(h))
    }
    val res = rows.map(_._2).toSeq
    val med = medInterp(res)
    val mad = medInterp(res.map(r => math.abs(r - med)))
    rows.foreach { case (_, r, z, flag) =>
      assert(math.abs(z - 0.6745 * (r - med) / mad) < 1e-9)
      assert(flag === (math.abs(z) > 3.5))
    }
    // the robust threshold keeps the flag rate far below a plain-z one
    val rate = rows.count(_._4).toDouble / rows.length
    assert(rate < 0.1, f"anomaly rate $rate%.3f — threshold not selective")
  }

  test("q109 cohort triangle: day-0 is full, cells bounded by cohort size") {
    val rows = SparkEntry.queries("q109_cohort_triangle")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))
    assert(rows.nonEmpty)
    rows.foreach { case (_, off, active, n, ret) =>
      assert(off >= 0L, "offsets start at the cohort day")
      assert(active <= n, "a cell cannot exceed its cohort")
      assert(math.abs(ret - active.toDouble / n) < 1e-15)
    }
    // offset 0 is the cohort itself: retention exactly 1 for every cohort
    val day0 = rows.filter(_._2 == 0L)
    assert(day0.nonEmpty)
    day0.foreach { case (c, _, active, n, ret) =>
      assert(active === n && ret === 1.0, s"cohort $c day-0 must be complete")
    }
    // cohort sizes partition the user base
    val users = Tables.events(spark, sf).select("user_id").distinct().count()
    assert(day0.map(_._4).sum === users)
  }

  test("q87 cusum: telescopes to zero at the end, flags the max |S|") {
    val rows = SparkEntry.queries("q87_cusum")(spark, sf).collect()
    assert(rows.nonEmpty)
    // S_n = sum(y) - n*mean = 0 exactly
    assert(rows.last.getDouble(2) === 0.0, "final cusum must be exactly 0")
    val maxAbs = rows.map(r => math.abs(r.getDouble(2))).max
    val peaks = rows.filter(_.getBoolean(3))
    assert(peaks.nonEmpty)
    peaks.foreach(p => assert(math.abs(math.abs(p.getDouble(2)) - maxAbs) < 1e-9))
    // every non-peak is strictly below the max (tie rows are all flagged)
    rows.filterNot(_.getBoolean(3))
      .foreach(r => assert(math.abs(r.getDouble(2)) < maxAbs))
  }
  test("graph_kcore: matches a local peel and keeps only deg >= 3 nodes") {
    val items = Tables.lineitem(spark, sf)
      .select(col("l_orderkey"), col("l_partkey")).distinct().collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val pairCnt = scala.collection.mutable.Map.empty[(Long, Long), Int]
    items.groupBy(_._1).values.foreach { basket =>
      val pks = basket.map(_._2).distinct.sorted
      for (i <- pks.indices; j <- i + 1 until pks.length)
        pairCnt((pks(i), pks(j))) = pairCnt.getOrElse((pks(i), pks(j)), 0) + 1
    }
    var edges = pairCnt.filter(_._2 >= 2).keys.toSet
    // local peel to the 3-core
    var changed = true
    while (changed) {
      val deg = edges.toSeq.flatMap(e => Seq(e._1, e._2))
        .groupBy(identity).map { case (n, o) => n -> o.size }
      val keep = deg.filter(_._2 >= 3).keySet
      val e2 = edges.filter(e => keep(e._1) && keep(e._2))
      changed = e2.size != edges.size
      edges = e2
    }
    val wantDeg = edges.toSeq.flatMap(e => Seq(e._1, e._2))
      .groupBy(identity).map { case (n, o) => n -> o.size.toLong }
    val got = SparkEntry.queries("graph_kcore")(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === wantDeg)
    got.values.foreach(dv => assert(dv >= 3L))
  }
  test("kcore fixpoint round count stays under half the oracle's unroll") {
    // the SQL twin unrolls the peel 40 rounds; short of the fixpoint it
    // would emit a strict SUPERSET of the core (a false driver
    // mismatch), so pin the engine's true round count at <= 20 on
    // sf0.01 — the driver's correctness SF — keeping 2x headroom live
    val items = Tables.lineitem(spark, "/root/testdata/sf0.01")
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
      .distinct()
    val a = items.select(col("ok"), col("pk").as("src"))
    val b = items.select(col("ok").as("ok_b"), col("pk").as("dst"))
    val edges = a.join(b, col("ok") === col("ok_b") && col("src") < col("dst"))
      .groupBy(col("src"), col("dst")).agg(count(lit(1)).as("n_ab"))
      .filter(col("n_ab") >= 2L)
      .select(col("src"), col("dst"))
    val (_, rounds) = graft.operators.Graph.kcoreWithRounds(edges, k = 3)
    assert(rounds <= 20, s"kcore needed $rounds peel rounds; the 40-round " +
      "SQL unroll is losing its headroom — raise the oracle depth")
  }
  test("kcore peels a planted chain away and keeps the clique") {
    import spark.implicits._
    // K5 clique on 1..5 plus a pendant chain 5-6-7-8: the chain (deg <= 2)
    // must peel entirely, the clique survives with in-core degree 4
    val clique = for (i <- 1L to 5L; j <- (i + 1) to 5L) yield (i, j)
    val chain = Seq((5L, 6L), (6L, 7L), (7L, 8L))
    val edges = (clique ++ chain).toDF("src", "dst")
    val got = graft.operators.Graph.kcore(edges, k = 3).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.keySet === Set(1L, 2L, 3L, 4L, 5L))
    got.values.foreach(deg => assert(deg === 4L))
    // and k above the clique degree empties the graph
    assert(graft.operators.Graph.kcore(edges, k = 5).count() === 0L)
  }
}
