package graft

import org.apache.spark.sql.functions._
import graft.operators.RelationalE

/** Ground truth + plan shape for the RelationalE batch (Q–Q, weighted
  * quantiles, item similarity, triangles).
  */
class RelationalESpec extends SparkSpec {

  test("q111 qq: vigintiles match a naive interpolated quantile per segment") {
    val rows = Tables.orders(spark, sf)
      .join(Tables.customer(spark, sf)
        .filter(col("c_mktsegment").isin("BUILDING", "MACHINERY"))
        .select(col("c_custkey"), col("c_mktsegment").as("seg")),
        col("o_custkey") === col("c_custkey"))
      .select("seg", "o_totalprice").collect()
      .map(r => (r.getString(0), r.getDouble(1)))
    def naive(seg: String, p: Double): Double = {
      val xs = rows.filter(_._1 == seg).map(_._2).sorted
      val h = p * (xs.length - 1.0)
      val lo = xs(math.floor(h).toInt)
      val hi = xs(math.min(math.floor(h).toInt + 1, xs.length - 1))
      lo + (hi - lo) * (h - math.floor(h))
    }
    val got = SparkEntry.queries("q111_qq")(spark, sf).orderBy("p").collect()
    assert(got.length === 19)
    got.foreach { r =>
      val p = r.getDouble(0)
      assert(math.abs(r.getDouble(1) - naive("BUILDING", p)) < 1e-9, s"building p=$p")
      assert(math.abs(r.getDouble(2) - naive("MACHINERY", p)) < 1e-9, s"machinery p=$p")
      assert(math.abs(r.getDouble(3) - (r.getDouble(2) - r.getDouble(1))) < 1e-12)
    }
    // each quantile ladder is monotone in p
    val qb = got.map(_.getDouble(1)); val qm = got.map(_.getDouble(2))
    assert(qb.sameElements(qb.sorted) && qm.sameElements(qm.sorted))
  }

  test("q112 weighted median: matches the naive cumulative-weight walk") {
    val rows = Tables.lineitem(spark, sf)
      .select("l_returnflag", "l_extendedprice", "l_quantity").collect()
      .map(r => (r.getString(0), r.getDouble(1), math.round(r.getDouble(2))))
    def naive(g: String, num: Long, den: Long): Double = {
      val xs = rows.filter(_._1 == g).map(r => (r._2, r._3)).sortBy(_._1)
      val tw = xs.map(_._2).sum
      val thr = (tw * num + den - 1) / den
      var cum = 0L
      xs.find { case (_, w) => cum += w; cum >= thr }.get._1
    }
    val got = SparkEntry.queries("q112_weighted_median")(spark, sf).collect()
      .map(r => (r.getString(0), r.getDouble(1)) -> r.getDouble(2)).toMap
    for (g <- Seq("A", "N", "R"); (num, den, p) <- Seq((1L, 4L, 0.25), (1L, 2L, 0.5), (3L, 4L, 0.75)))
      assert(got((g, p)) === naive(g, num, den), s"group $g p=$p")
  }

  test("weighted quantiles survive all-ties groups and fence-straddling tie runs") {
    import spark.implicits._
    // group "t": every value identical (point-mass bucket fast path);
    // group "s": a tie run of weight 6 straddling the 50% fence;
    // group "w": weights dominate counts (one heavy row IS the median)
    val planted = Seq.empty[(String, Double, Long)] ++
      (1 to 50).map(_ => ("t", 7.5, 3L)) ++
      (Seq(("s", 1.0, 2L)) ++ (1 to 3).map(_ => ("s", 2.0, 2L)) ++ Seq(("s", 9.0, 1L))) ++
      (Seq(("w", 1.0, 1L), ("w", 2.0, 100L), ("w", 3.0, 1L)))
    val df = planted.toDF("g", "x", "w")
    val got = RelationalE.weightedQuantiles(df, Seq((1L, 2L, 0.5)))
      .map(r => r._1 -> r._3).toMap
    assert(got("t") === 7.5)
    // s: W=9, thr=5 -> cum at 1.0 is 2, ties at 2.0 reach 8 -> median 2.0
    assert(got("s") === 2.0)
    // w: W=102, thr=51 -> inside the heavy row
    assert(got("w") === 2.0)
  }

  test("weighted quantile property: 10 seeded adversarial mixtures match naive") {
    import spark.implicits._
    val rng = new scala.util.Random(20260813)
    val ps = Seq((1L, 4L, 0.25), (1L, 2L, 0.5), (3L, 4L, 0.75))
    (1 to 10).foreach { trial =>
      // point masses, uniform spans, heavy tails, heavy weights — fence
      // thresholds land inside tie runs and inside single hot buckets
      val rows = (0 until 3).flatMap { gi =>
        val g = s"g$gi"
        val n = 20 + rng.nextInt(200)
        (0 until n).map { _ =>
          val v = rng.nextInt(4) match {
            case 0 => 10.0 + rng.nextInt(3)
            case 1 => rng.nextDouble() * 100.0
            case 2 => math.pow(10.0, 1 + rng.nextDouble() * 4)
            case _ => 55.55
          }
          val w = if (rng.nextInt(10) == 0) 1L + rng.nextInt(500) else 1L + rng.nextInt(5)
          (g, math.rint(v * 100.0) / 100.0, w)
        }
      }
      val got = RelationalE.weightedQuantiles(rows.toDF("g", "x", "w"), ps)
        .map(r => (r._1, r._2) -> r._3).toMap
      rows.groupBy(_._1).foreach { case (g, rs) =>
        val xs = rs.map(r => (r._2, r._3)).sortBy(_._1)
        val tw = xs.map(_._2).sum
        ps.foreach { case (num, den, p) =>
          val thr = (tw * num + den - 1) / den
          var cum = 0L
          val want = xs.find { case (_, w) => cum += w; cum >= thr }.get._1
          assert(got((g, p)) === want, s"trial $trial group $g p=$p")
        }
      }
    }
  }

  test("q121 rank churn: statuses match a naive half-split recompute") {
    val rows = Tables.lineitem(spark, sf)
      .select(col("l_partkey"),
        datediff(col("l_shipdate"), lit("1970-01-01").cast("date")).cast("long"),
        col("l_extendedprice")).collect()
      .map(r => (r.getLong(0), r.getLong(1), math.round(r.getDouble(2) * 100.0)))
    val mid = (rows.map(_._2).min + rows.map(_._2).max) / 2
    def ranks(half: Array[(Long, Long, Long)]): Map[Long, (Long, Long)] = {
      val cents = half.groupBy(_._1).map { case (pk, rs) => pk -> rs.map(_._3).sum }
      cents.toSeq.sortBy { case (pk, c) => (-c, pk) }.zipWithIndex
        .map { case ((pk, c), i) => pk -> ((i + 1).toLong, c) }.toMap
    }
    val prev = ranks(rows.filter(_._2 <= mid))
    val cur = ranks(rows.filter(_._2 > mid))
    val want = (prev.keySet ++ cur.keySet)
      .filter(pk => prev.get(pk).exists(_._1 <= 20) || cur.get(pk).exists(_._1 <= 20))
      .map { pk =>
        val rp = prev.get(pk).map(_._1); val rc = cur.get(pk).map(_._1)
        val status =
          if (rp.forall(_ > 20)) "entered"
          else if (rc.forall(_ > 20)) "left"
          else if (rc.get < rp.get) "up"
          else if (rc.get > rp.get) "down" else "flat"
        (pk, rp, rc, status)
      }
    val got = SparkEntry.queries("q121_rank_churn")(spark, sf).collect()
      .map(r => (r.getLong(0),
        if (r.isNullAt(1)) None else Some(r.getLong(1)),
        if (r.isNullAt(2)) None else Some(r.getLong(2)),
        r.getString(5))).toSet
    assert(got === want)
    assert(got.exists(_._4 == "entered") || got.exists(_._4 == "left") ||
      got.exists(t => t._4 == "up" || t._4 == "down"), "churn should be non-trivial")
  }

  test("q112 plan: rank windows key on (group, bucket), never the group alone") {
    val p = SparkEntry.queries("q112_weighted_median")(spark, sf)
      .queryExecution.executedPlan.toString
    val specs = """windowspecdefinition\([^)]*\)""".r.findAllIn(p).toSeq
    specs.foreach(sp => assert(sp.contains("b#"),
      "window partitioned on the low-cardinality group alone:\n" + sp))
  }

  test("q112 bucketizer: broadcast fence join, no per-group literals, 10k groups") {
    import spark.implicits._
    // 10k distinct groups: a when-chain bucketizer would generate one
    // CASE arm per group and fall out of codegen at this cardinality
    def groups(nG: Int) = {
      val facts = spark.range(nG * 5L).select(
        concat(lit("g"), (col("id") % nG).cast("string")).as("g"),
        (col("id") % 97L).cast("double").as("x"),
        (col("id") % 7L + 1L).as("w"))
      val stats = (0 until nG).map(i => (s"g$i", 0.0, 96.0))
      (facts, RelationalE.weightedBucketed(facts, stats))
    }
    val (facts, bucketed) = groups(10000)
    val p = bucketed.queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"), p.take(2000))
    // the bounds arrive by the join: no group literal appears in the plan,
    // and its conditionals have a fixed size whatever the group count
    assert("""\bg\d+\b""".r.findFirstIn(p).isEmpty,
      "per-group literals leaked back into the plan")
    def whenArms(plan: String) = "\\bWHEN\\b".r.findAllIn(plan).size
    assert(whenArms(p) ===
      whenArms(groups(10)._2.queryExecution.executedPlan.toString),
      "the bucketizer grows with the group count")
    // the full quantile path completes (codegen survives the cardinality)
    val got = RelationalE.weightedQuantiles(
      facts.filter(col("g").isin("g0", "g1")), Seq((1L, 2L, 0.5)))
    assert(got.size === 2)
    // and the histogram stage is a pure hash aggregate over the join
    assert(bucketed.groupBy("g", "b").count().count() > 0L)
  }

  test("q134 pairgrid: panels reconcile with q55 and a single fact scan serves all pairs") {
    val grid = SparkEntry.queries("q134_pairgrid")(spark, sf)
    val rows = grid.collect()
    // 6 unordered pairs of the 4 EDA columns, each panel sums to |lineitem|
    val n = Tables.lineitem(spark, sf).count()
    val byPair = rows.groupBy(r => (r.getString(0), r.getString(1)))
    assert(byPair.keySet.size === 6)
    byPair.foreach { case (pair, cells) =>
      assert(cells.map(_.getLong(4)).sum === n, s"panel $pair does not cover the table")
    }
    // the (quantity, price) panel IS q55's histogram
    val panel = rows.filter(r => r.getString(0) == "l_quantity" &&
        r.getString(1) == "l_extendedprice")
      .map(r => (r.getLong(2), r.getLong(3), r.getLong(4))).toSet
    val q55 = SparkEntry.queries("q55_hist2d")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(panel === q55)
    // plan: ONE fact scan fans out through Generate(explode) into one
    // partial+final aggregate — never a per-pair union of scans
    // (fresh frame: an executed AQE plan prints Final+Initial sections
    // and would double the scan count)
    val p = SparkEntry.queries("q134_pairgrid")(spark, sf)
      .queryExecution.executedPlan.toString
    assert("Scan parquet".r.findAllIn(p).length === 2, // fact + bounded fence agg
      "pairgrid re-scans the fact table per pair:\n" + p.take(3000))
    assert(p.contains("Generate explode"), p.take(2000))
  }

  test("q113 item sim: scores reconcile with independent counts") {
    val got = SparkEntry.queries("q113_item_sim")(spark, sf).collect()
    assert(got.nonEmpty)
    got.foreach { r =>
      val (nab, na, nb) = (r.getLong(2), r.getLong(3), r.getLong(4))
      assert(nab >= 2 && nab <= math.min(na, nb))
      assert(r.getDouble(5) === nab.toDouble / math.sqrt((na * nb).toDouble), "cosine")
      assert(r.getDouble(6) === nab.toDouble / (na + nb - nab).toDouble, "jaccard")
      assert(r.getDouble(5) > 0.0 && r.getDouble(5) <= 1.0)
      assert(r.getDouble(6) > 0.0 && r.getDouble(6) <= 1.0)
    }
  }

  test("q116 partial corr: matches a naive local fit on the same grid") {
    val rows = Tables.lineitem(spark, sf)
      .select("l_quantity", "l_extendedprice", "l_discount").collect()
      .map(r => (math.round(r.getDouble(0) * 1000.0),
        math.round(r.getDouble(1) * 1.0), math.round(r.getDouble(2) * 100000.0)))
    def corr(xs: Array[Long], ys: Array[Long]): Double = {
      val n = xs.length.toDouble
      val (sx, sy) = (xs.map(BigInt(_)).sum.toDouble, ys.map(BigInt(_)).sum.toDouble)
      val sxx = xs.map(v => BigInt(v) * BigInt(v)).sum.toDouble
      val syy = ys.map(v => BigInt(v) * BigInt(v)).sum.toDouble
      val sxy = xs.zip(ys).map { case (a, b) => BigInt(a) * BigInt(b) }.sum.toDouble
      (n * sxy - sx * sy) / (math.sqrt(n * sxx - sx * sx) * math.sqrt(n * syy - sy * sy))
    }
    val (xs, ys, zs) = (rows.map(_._1), rows.map(_._2), rows.map(_._3))
    val (rxy, rxz, ryz) = (corr(xs, ys), corr(xs, zs), corr(ys, zs))
    val want = (rxy - rxz * ryz) /
      (math.sqrt(1.0 - rxz * rxz) * math.sqrt(1.0 - ryz * ryz))
    val r = SparkEntry.queries("q116_partial_corr")(spark, sf).head()
    assert(r.getLong(0) === rows.length.toLong)
    assert(math.abs(r.getDouble(1) - rxy) < 1e-12)
    assert(math.abs(r.getDouble(4) - want) < 1e-12, s"partial ${r.getDouble(4)} vs $want")
    assert(r.getDouble(4) >= -1.0 && r.getDouble(4) <= 1.0)
  }

  test("q115 dq audit: fail counts reconcile and flags are consistent") {
    val rows = SparkEntry.queries("q115_dq_audit")(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2),
        r.getLong(3), r.getLong(4), r.getDouble(5), r.getBoolean(6)))
    assert(rows.length === 8)
    rows.foreach { case (_, _, _, n, f, rate, passed) =>
      assert(f >= 0 && f <= n)
      assert(rate === f.toDouble / n.toDouble)
      assert(passed === (f == 0L))
    }
    val byCheck = rows.map(r => (r._1, r._2, r._3) -> r._5).toMap
    // independent recount of two checks, one failing and one passing
    val negBal = Tables.customer(spark, sf)
      .filter(col("c_acctbal") < 0.0 || col("c_acctbal") > 10000.0).count()
    assert(byCheck(("customer", "c_acctbal", "range_0_10000")) === negBal)
    assert(negBal > 0, "the audit should exercise a FAILING check")
    assert(byCheck(("orders", "o_orderkey", "unique")) === 0L)
  }

  private def localHourly(): Seq[Long] = {
    val ev = Tables.events(spark, sf)
      .groupBy(date_trunc("hour", col("ts")).as("h"))
      .agg(count(lit(1)).as("y"))
      .orderBy("h").collect()
    val byHour = ev.map(r => r.getTimestamp(0).getTime -> r.getLong(1)).toMap
    (ev.head.getTimestamp(0).getTime to ev.last.getTimestamp(0).getTime by 3600000L)
      .map(h => byHour.getOrElse(h, 0L))
  }

  test("q117 burstiness: matches naive per-type hourly statistics") {
    val ev = Tables.events(spark, sf)
      .select(col("event_type"), date_trunc("hour", col("ts")).as("h")).collect()
      .map(r => (r.getString(0), r.getTimestamp(1).getTime))
    val (lo, hi) = (ev.map(_._2).min, ev.map(_._2).max)
    val hours = (lo to hi by 3600000L)
    val got = SparkEntry.queries("q117_burstiness")(spark, sf).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2), r.getDouble(4), r.getDouble(5)))
      .toMap
    ev.groupBy(_._1).foreach { case (t, rows) =>
      val byHour = rows.groupBy(_._2).map { case (h, o) => h -> o.size.toLong }
      val ys = hours.map(h => byHour.getOrElse(h, 0L).toDouble)
      val n = ys.size.toDouble
      val mean = ys.sum / n
      val v = ys.map(y => (y - mean) * (y - mean)).sum / (n - 1.0)
      val (gn, gmean, gfano, gburst) = got(t)
      assert(gn === ys.size.toLong)
      assert(math.abs(gmean - mean) < 1e-9)
      assert(math.abs(gfano - v / mean) < 1e-6, s"type $t fano")
      assert(math.abs(gburst - (math.sqrt(v) - mean) / (math.sqrt(v) + mean)) < 1e-9)
      assert(gburst > -1.0 && gburst < 1.0)
    }
  }

  test("q118 peaks: exactly the strict local maxima above the mean") {
    val ys = localHourly()
    val mu = ys.map(_.toDouble).sum / ys.size
    val want = (2 until ys.size - 2).filter { i =>
      ys(i) > ys(i - 1) && ys(i) > ys(i - 2) &&
        ys(i) > ys(i + 1) && ys(i) > ys(i + 2) && ys(i).toDouble > mu
    }.map(i => ys(i)).toSeq
    val got = SparkEntry.queries("q118_peaks")(spark, sf).orderBy("h").collect()
      .map(_.getLong(1)).toSeq
    assert(got === want)
    assert(got.nonEmpty, "series should contain peaks")
  }

  test("q119 mann-kendall: S, variance and z match a naive pair walk") {
    val ys = localHourly()
    var s = 0L
    for (i <- ys.indices; j <- i + 1 until ys.size)
      s += java.lang.Long.signum(ys(j) - ys(i))
    val n = ys.size.toDouble
    val tie = ys.groupBy(identity).values.map(_.size.toLong)
      .map(t => t * (t - 1) * (2 * t + 5)).sum.toDouble
    val v = (n * (n - 1.0) * (2.0 * n + 5.0) - tie) / 18.0
    val z = if (s > 0) (s - 1.0) / math.sqrt(v)
      else if (s < 0) (s + 1.0) / math.sqrt(v) else 0.0
    val r = SparkEntry.queries("q119_mann_kendall")(spark, sf).head()
    assert(r.getLong(0) === ys.size.toLong)
    assert(r.getLong(1) === s, "S statistic")
    assert(math.abs(r.getDouble(2) - v) < 1e-6)
    assert(math.abs(r.getDouble(3) - z) < 1e-12)
    val lbl = if (z > 1.96) "increasing" else if (z < -1.96) "decreasing" else "none"
    assert(r.getString(4) === lbl)
  }

  test("q120 streaks: island lengths match a naive per-user walk") {
    val days = Tables.events(spark, sf)
      .select(col("user_id"), date_trunc("day", col("ts")).cast("date").as("day"))
      .distinct().collect()
      .map(r => (r.getLong(0), r.getDate(1).toLocalDate.toEpochDay))
    val wantMap = days.groupBy(_._1).map { case (u, rows) =>
      val ds = rows.map(_._2).sorted
      var runs = List(1L)
      for (i <- 1 until ds.length)
        runs = if (ds(i) == ds(i - 1) + 1) (runs.head + 1) :: runs.tail
               else 1L :: runs
      u -> (ds.length.toLong, runs.length.toLong, runs.max)
    }
    val got = SparkEntry.queries("q120_streaks")(spark, sf).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(got === wantMap)
    got.values.foreach { case (nd, ns, longest) =>
      assert(longest <= nd && ns >= 1 && longest >= 1)
    }
  }

  test("q114 triangles: census matches a local brute-force count") {
    // independent edge derivation + cubic triangle scan (graph is tiny
    // after the support floor)
    val items = Tables.lineitem(spark, sf)
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
      .distinct().collect().map(r => (r.getLong(0), r.getLong(1)))
    val pairOcc = items.groupBy(_._1).values.toSeq.flatMap { basket =>
      val pks = basket.map(_._2).distinct.sorted
      for (i <- pks.indices; j <- i + 1 until pks.length) yield (pks(i), pks(j))
    }
    // (NB: Map.collect over tuple results would rebuild a Map and
    // collapse edges by their first endpoint — filter + keySet instead)
    val edges = pairOcc.groupBy(identity).filter(_._2.size >= 2).keySet
    val nodes = edges.flatMap(e => Seq(e._1, e._2))
    val deg = nodes.map(n => n -> edges.count(e => e._1 == n || e._2 == n)).toMap
    val wedges = deg.values.map(d => d.toLong * (d - 1) / 2).sum
    val adj = edges
    val nodeSeq = nodes.toSeq.sorted
    var tris = 0L
    for (i <- nodeSeq.indices; j <- i + 1 until nodeSeq.length
         if adj(nodeSeq(i) -> nodeSeq(j));
         k <- j + 1 until nodeSeq.length
         if adj(nodeSeq(i) -> nodeSeq(k)) && adj(nodeSeq(j) -> nodeSeq(k)))
      tris += 1
    val r = SparkEntry.queries("q114_triangles")(spark, sf).head()
    assert(r.getLong(0) === nodes.size.toLong, "nodes")
    assert(r.getLong(1) === edges.size.toLong, "edges")
    assert(r.getLong(2) === wedges, "wedges")
    assert(r.getLong(3) === tris, "triangles")
    val expClust = if (wedges == 0) 0.0 else 3.0 * tris / wedges
    assert(math.abs(r.getDouble(4) - expClust) < 1e-12)
  }
  test("q122 bowley: shape ratios match naive quartiles and bound correctly") {
    val rows = Tables.orders(spark, sf)
      .select("o_orderpriority", "o_totalprice").collect()
      .map(r => (r.getString(0), r.getDouble(1)))
    def quart(g: String, p: Double): Double = {
      val xs = rows.filter(_._1 == g).map(_._2).sorted
      val h = p * (xs.length - 1.0)
      val lo = xs(math.floor(h).toInt)
      val hi = xs(math.min(math.floor(h).toInt + 1, xs.length - 1))
      lo + (hi - lo) * (h - math.floor(h))
    }
    val got = SparkEntry.queries("q122_bowley")(spark, sf).collect()
    assert(got.nonEmpty)
    got.foreach { r =>
      val g = r.getString(0)
      val (q1, q2, q3) = (quart(g, 0.25), quart(g, 0.5), quart(g, 0.75))
      assert(math.abs(r.getDouble(1) - q1) < 1e-9)
      assert(math.abs(r.getDouble(2) - q2) < 1e-9)
      assert(math.abs(r.getDouble(3) - q3) < 1e-9)
      assert(math.abs(r.getDouble(4) - (q1 + q3 - 2.0 * q2) / (q3 - q1)) < 1e-12)
      assert(r.getDouble(4) >= -1.0 && r.getDouble(4) <= 1.0, "bowley bounded")
      assert(r.getDouble(5) > 0.0 && r.getDouble(5) < 1.0, "dispersion ratio")
    }
  }
  test("q123 cohens d: matches a naive two-sample effect size per pair") {
    val rows = Tables.customer(spark, sf).select("c_mktsegment", "c_acctbal").collect()
      .map(r => (r.getString(0), math.round(r.getDouble(1) * 1000.0)))
    def stats(g: String): (Long, Double, Double) = {
      val xs = rows.filter(_._1 == g).map(_._2.toDouble)
      val m = xs.sum / xs.length
      (xs.length.toLong, m, xs.map(x => (x - m) * (x - m)).sum)
    }
    val got = SparkEntry.queries("q123_cohens_d")(spark, sf).collect()
    assert(got.length === 10, "5 choose 2 segment pairs")
    got.foreach { r =>
      val (na, ma, ssa) = stats(r.getString(0))
      val (nb, mb, ssb) = stats(r.getString(1))
      assert(r.getLong(2) === na && r.getLong(3) === nb)
      val d = (ma - mb) / math.sqrt((ssa + ssb) / (na + nb - 2.0))
      assert(math.abs(r.getDouble(5) - d) < 1e-9, s"pair ${r.getString(0)}/${r.getString(1)}")
      assert(math.abs(r.getDouble(4) - (ma - mb) / 1000.0) < 1e-6)
    }
  }

  test("q124 rolling corr: matches a naive 24h window walk, bounded in [-1,1]") {
    val ev = Tables.events(spark, sf)
      .filter(col("event_type").isin("click", "purchase"))
      .select(col("event_type"), date_trunc("hour", col("ts")).as("h")).collect()
      .map(r => (r.getString(0), r.getTimestamp(1).getTime))
    val (lo, hi) = (ev.map(_._2).min, ev.map(_._2).max)
    val hours = (lo to hi by 3600000L).toArray
    val cx = ev.filter(_._1 == "click").groupBy(_._2).map { case (h, o) => h -> o.size.toLong }
    val cy = ev.filter(_._1 == "purchase").groupBy(_._2).map { case (h, o) => h -> o.size.toLong }
    val xs = hours.map(h => cx.getOrElse(h, 0L).toDouble)
    val ys = hours.map(h => cy.getOrElse(h, 0L).toDouble)
    def corr24(i: Int): Option[Double] = {
      val (wx, wy) = (xs.slice(i - 23, i + 1), ys.slice(i - 23, i + 1))
      val (sx, sy) = (wx.sum, wy.sum)
      val vx = 24.0 * wx.map(v => v * v).sum - sx * sx
      val vy = 24.0 * wy.map(v => v * v).sum - sy * sy
      if (vx > 0 && vy > 0)
        Some((24.0 * wx.zip(wy).map { case (a, b) => a * b }.sum - sx * sy) /
          (math.sqrt(vx) * math.sqrt(vy)))
      else None
    }
    val got = SparkEntry.queries("q124_rolling_corr")(spark, sf).orderBy("h").collect()
    assert(got.length === hours.length - 23)
    got.zipWithIndex.foreach { case (r, j) =>
      val i = j + 23
      corr24(i) match {
        case Some(w) =>
          assert(math.abs(r.getDouble(3) - w) < 1e-9, s"hour index $i")
          assert(r.getDouble(3) >= -1.0 - 1e-12 && r.getDouble(3) <= 1.0 + 1e-12)
        case None => assert(r.isNullAt(3), s"hour index $i should be NULL")
      }
    }
  }
  test("q125 decayed value: matches a naive halving walk, bounded by the total") {
    val rows = Tables.orders(spark, sf)
      .select(col("o_custkey"),
        datediff(col("o_orderdate"), lit("1970-01-01").cast("date")).cast("long"),
        col("o_totalprice")).collect()
      .map(r => (r.getLong(0), r.getLong(1), math.round(r.getDouble(2) * 100.0)))
    val ref = rows.map(_._2).max
    val want = rows.groupBy(_._1).map { case (cust, rs) =>
      val v = rs.map { case (_, day, cents) =>
        val k = math.min((ref - day) / 30, 20L).toInt
        cents.toDouble / (1L << k)
      }.sum / 100.0
      cust -> (rs.length.toLong, rs.map(_._3).sum, v)
    }
    val got = SparkEntry.queries("q125_decayed_value")(spark, sf).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    assert(got.keySet === want.keySet)
    want.foreach { case (c, (n, tot, v)) =>
      assert(got(c)._1 === n && got(c)._2 === tot)
      assert(math.abs(got(c)._3 - v) < 1e-6, s"customer $c")
      assert(got(c)._3 <= tot / 100.0 + 1e-9, "decay can only discount")
    }
  }
  test("q126 attribution: pair credits match a naive 24h-lookback walk") {
    val ev = Tables.events(spark, sf)
      .filter(col("event_type").isin("click", "purchase"))
      .select(col("event_type"), col("event_id"), col("user_id"),
        unix_micros(col("ts"))).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val clicks = ev.filter(_._1 == "click")
    val want = ev.filter(_._1 == "purchase").flatMap { case (_, pid, uid, pus) =>
      val touches = clicks.filter(c => c._3 == uid && c._4 < pus &&
        c._4 >= pus - 86400000000L)
      touches.map(c => (pid, c._2, touches.length.toLong))
    }.toSet
    val got = SparkEntry.queries("q126_attribution")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(3))).toSet
    assert(got === want)
    assert(got.nonEmpty)
    // credit is exactly 1/n per row
    SparkEntry.queries("q126_attribution")(spark, sf).collect().foreach { r =>
      assert(r.getDouble(4) === 1.0 / r.getLong(3).toDouble)
    }
  }

  test("q127 drawdown: run-rate-adjusted walk matches exact recompute") {
    val got = SparkEntry.queries("q127_drawdown")(spark, sf).orderBy("day").collect()
      .map(r => (r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4)))
    assert(got.nonEmpty)
    val n = got.length.toLong
    val sTot = got.map(_._1).sum
    var cum = BigInt(0); var peak: BigInt = null; var t = 0L
    got.foreach { case (cents, dev, dd, ddDollars) =>
      t += 1; cum += cents
      val want = cum * n - BigInt(t) * sTot
      peak = if (peak == null || want > peak) want else peak
      assert(dev === want.toDouble, s"dev at t=$t")
      assert(dd === (peak - want).toDouble, s"drawdown at t=$t")
      assert(dd >= 0.0)
      assert(math.abs(ddDollars - dd / (n.toDouble * 100.0)) < 1e-9)
    }
    assert(got.map(_._3).max > 0.0, "a run-rate-adjusted curve must fall somewhere")
  }
  test("q128 interarrival: dyadic buckets match a naive per-user gap walk") {
    val ev = Tables.events(spark, sf)
      .select(col("user_id"), col("event_id"), unix_micros(col("ts"))).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val gaps = ev.groupBy(_._1).values.flatMap { es =>
      val sorted = es.sortBy(e => (e._3, e._2))
      sorted.sliding(2).collect { case Array(a, b) => (b._3 - a._3) / 60000000L }
    }.toSeq
    // recompute exactly as the operator defines: length(bin(gap)) - 1
    def bucketOf(g: Long): Long = java.lang.Long.toBinaryString(g).length.toLong - 1
    val wantMap = gaps.groupBy(bucketOf).map { case (k, gs) =>
      k -> (gs.size.toLong, gs.min, gs.max)
    }
    val got = SparkEntry.queries("q128_interarrival")(spark, sf).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(got === wantMap)
    assert(got.values.map(_._1).sum === gaps.size.toLong)
  }
  test("q129 growth accounting: classes partition DAU, churn identity holds") {
    val days = Tables.events(spark, sf)
      .select(col("user_id"), date_trunc("day", col("ts")).cast("date")).distinct()
      .collect().map(r => (r.getLong(0), r.getDate(1).toLocalDate.toEpochDay))
    val byUser = days.groupBy(_._1).map { case (u, rs) => u -> rs.map(_._2).sorted }
    val allDays = (days.map(_._2).min to days.map(_._2).max)
    val want = allDays.map { t =>
      var (nw, rt, rs2) = (0L, 0L, 0L)
      byUser.values.foreach { ds =>
        val i = ds.indexOf(t)
        if (i == 0) nw += 1
        else if (i > 0 && ds(i - 1) == t - 1) rt += 1
        else if (i > 0) rs2 += 1
      }
      val dauPrev = byUser.values.count(_.contains(t - 1)).toLong
      (t, nw, rt, rs2, nw + rt + rs2, dauPrev - rt)
    }
    val got = SparkEntry.queries("q129_growth_accounting")(spark, sf).orderBy("day")
      .collect().map(r => (r.getDate(0).toLocalDate.toEpochDay, r.getLong(1),
        r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))
    assert(got.length === want.length)
    got.zip(want).foreach { case (g, w) => assert(g === w, s"day ${w._1}") }
    // DAU partitions into the three classes by construction
    got.foreach { g => assert(g._5 === g._2 + g._3 + g._4) }
  }

  test("q130 stickiness: MAU matches a naive 30-day trailing distinct") {
    val days = Tables.events(spark, sf)
      .select(col("user_id"), date_trunc("day", col("ts")).cast("date")).distinct()
      .collect().map(r => (r.getLong(0), r.getDate(1).toLocalDate.toEpochDay))
    val got = SparkEntry.queries("q130_stickiness")(spark, sf).orderBy("day")
      .collect().map(r => (r.getDate(0).toLocalDate.toEpochDay, r.getLong(1),
        r.getLong(2), r.getDouble(3)))
    got.foreach { case (t, dau, mau, st) =>
      val wantMau = days.filter(d => d._2 <= t && d._2 >= t - 29).map(_._1).distinct.length
      val wantDau = days.filter(_._2 == t).map(_._1).distinct.length
      assert(mau === wantMau.toLong, s"mau at $t")
      assert(dau === wantDau.toLong, s"dau at $t")
      assert(st === wantDau.toDouble / wantMau.toDouble)
      assert(st >= 0.0 && st <= 1.0)
    }
  }
  test("q131 value migration: matrix totals reconcile, segments balance per half") {
    val rows = SparkEntry.queries("q131_value_migration")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // marginals: per-half customer counts from an independent query
    val li = Tables.orders(spark, sf)
      .select(col("o_custkey"),
        datediff(col("o_orderdate"), lit("1970-01-01").cast("date")).cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val mid = (li.map(_._2).min + li.map(_._2).max) / 2
    val prevCust = li.filter(_._2 <= mid).map(_._1).distinct.toSet
    val curCust = li.filter(_._2 > mid).map(_._1).distinct.toSet
    assert(rows.map(_._3).sum === (prevCust ++ curCust).size.toLong,
      "matrix covers every customer exactly once")
    assert(rows.filter(_._1 > 0).map(_._3).sum === prevCust.size.toLong)
    assert(rows.filter(_._2 > 0).map(_._3).sum === curCust.size.toLong)
    // quartile coding balances within each half (interpolated fences
    // put ~25% in each segment; exact counts differ only through ties)
    for (seg <- 1L to 4L) {
      val nPrev = rows.filter(_._1 == seg).map(_._3).sum
      assert(math.abs(nPrev - prevCust.size / 4.0) <= prevCust.size * 0.05 + 2,
        s"prev segment $seg count $nPrev")
    }
    // (0,0) cannot exist: a customer absent from both halves has no row
    assert(!rows.exists(r => r._1 == 0 && r._2 == 0))
  }
  test("q132 cannibalization: pairwise r matches a naive weekly recompute") {
    val rows = Tables.lineitem(spark, sf)
      .select(col("l_partkey"), date_trunc("week", col("l_shipdate")).as("wk"),
        round(col("l_quantity")).cast("long")).collect()
      .map(r => (r.getLong(0), r.getTimestamp(1).getTime, r.getLong(2)))
    val byPart = rows.groupBy(_._1).map { case (pk, rs) => pk -> rs.map(_._3).sum }
    val top = byPart.toSeq.sortBy { case (pk, t) => (-t, pk) }.take(20).map(_._1).toSet
    val weeks = {
      val ws = rows.map(_._2); (ws.min to ws.max by 7L * 86400000L).toArray
    }
    val series = top.map { pk =>
      val m = rows.filter(_._1 == pk).groupBy(_._2)
        .map { case (w, rs) => w -> rs.map(_._3).sum }
      pk -> weeks.map(w => m.getOrElse(w, 0L).toDouble)
    }.toMap
    def corr(x: Array[Double], y: Array[Double]): Double = {
      val n = x.length.toDouble
      val (sx, sy) = (x.sum, y.sum)
      val sxx = x.map(v => v * v).sum; val syy = y.map(v => v * v).sum
      val sxy = x.zip(y).map { case (a, b) => a * b }.sum
      (n * sxy - sx * sy) / (math.sqrt(n * sxx - sx * sx) * math.sqrt(n * syy - sy * sy))
    }
    val got = SparkEntry.queries("q132_cannibalization")(spark, sf).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), (r.getLong(2), r.getDouble(3), r.getString(4))))
    assert(got.length === 190, "20 choose 2 pairs")
    got.foreach { case ((a, b), (nw, r, rel)) =>
      assert(top(a) && top(b) && a < b)
      assert(nw === weeks.length.toLong)
      val want = corr(series(a), series(b))
      assert(math.abs(r - want) < 1e-9, s"pair ($a,$b)")
      val wantRel = if (r <= -0.2) "substitute" else if (r >= 0.2) "complement" else "independent"
      assert(rel === wantRel)
    }
  }
  test("q133 basket profile: shares sum to one, pair work certifies boundedness") {
    val rows = SparkEntry.queries("q133_basket_profile")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4)))
    assert(rows.nonEmpty)
    assert(math.abs(rows.map(_._4).sum - 1.0) < 1e-9, "order shares partition")
    assert(math.abs(rows.map(_._5).sum - 1.0) < 1e-9, "revenue shares partition")
    rows.foreach { case (np, no, pw, _, _) =>
      assert(np >= 1 && no >= 1)
      assert(pw === no * (np * (np - 1) / 2), "pair work identity")
    }
    // the bounded-basket claim q94/q113/q114 rely on: total pair work is
    // a small multiple of orders, nowhere near |parts|^2
    val totalOrders = rows.map(_._2).sum
    val totalPairWork = rows.map(_._3).sum
    assert(totalPairWork < totalOrders * 50, "pair joins stay linear in orders")
  }
}
