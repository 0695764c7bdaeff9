package graft

import graft.operators.Quantiles

/** Direct unit coverage for the distributed exact-quantile algorithm —
  * the histogram-selection edge cases the q07/q08 oracles (well-behaved
  * TPC-H columns) never exercise.
  */
class QuantilesSpec extends SparkSpec {

  private val qs = Seq(0.0, 0.25, 0.5, 0.75, 1.0)

  /** pandas-semantics reference on a driver-side array. */
  private def ref(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted
    val h = q * (s.length - 1.0)
    val lo = math.floor(h).toInt
    val hi = math.min(lo + 1, s.length - 1)
    s(lo) + (s(hi) - s(lo)) * (h - math.floor(h))
  }

  private def run(xs: Seq[Double]): Map[Double, Double] = {
    import spark.implicits._
    Quantiles.exactQuantiles(xs.toDF("x"), Seq("x"), qs)
      .map { case (_, q, v) => q -> v }.toMap
  }

  test("constant column short-circuits to the single value") {
    val got = run(Seq.fill(1000)(42.5))
    qs.foreach(q => assert(got(q) === 42.5))
  }

  test("single row yields that value at every quantile") {
    val got = run(Seq(7.25))
    qs.foreach(q => assert(got(q) === 7.25))
  }

  test("point-mass skew (one dominant value) matches the reference exactly") {
    val r = new scala.util.Random(3)
    val xs = Seq.fill(9900)(42.0) ++ Seq.fill(100)(r.nextDouble() * 100.0)
    val got = run(xs)
    qs.foreach(q => assert(got(q) === ref(xs, q), s"q=$q"))
  }

  test("random doubles match the reference bit-for-bit") {
    val r = new scala.util.Random(11)
    val xs = Seq.fill(5000)(r.nextDouble() * 1e6 - 5e5)
    val got = run(xs)
    qs.foreach(q => assert(got(q) === ref(xs, q), s"q=$q"))
  }

  test("property: grouped quantiles match per-group references on mixture draws") {
    import org.scalacheck.{Gen, rng}
    import spark.implicits._
    val value: Gen[Double] = Gen.oneOf(
      Gen.const(-3.5),
      Gen.choose(-1e9, 1e9),
      Gen.choose(0.0, 1e-6),
      Gen.choose(0.0, 10.0).map(x => math.rint(x * 10) / 10))
    // groups of wildly different sizes, including singletons and
    // constant groups — the shapes the per-group short-circuits handle
    val rowGen = for {
      g <- Gen.oneOf("a", "b", "c", "d")
      v <- if (g == "d") Gen.const(9.25) else value
    } yield (g, v)
    val listGen = Gen.choose(8, 800).flatMap(n => Gen.listOfN(n, rowGen))
    (1 to 12).foreach { i =>
      val rows = listGen(Gen.Parameters.default, rng.Seed(100L + i)).get
      val got = operators.Quantiles.groupedExactQuantiles(
        rows.toDF("g", "x"), "g", "x", Seq(0.25, 0.5, 0.75))
        .map { case (g, q, v) => (g, q) -> v }.toMap
      rows.groupBy(_._1).foreach { case (g, grows) =>
        val xs = grows.map(_._2)
        Seq(0.25, 0.5, 0.75).foreach { q =>
          assert(got((g, q)) === ref(xs, q),
            s"seed=$i group=$g n=${xs.length} q=$q")
        }
      }
    }
  }

  test("property: adversarial mixture distributions match the reference (30 seeded draws)") {
    import org.scalacheck.{Gen, rng}
    // each draw mixes the histogram's hard regimes: point masses (empty
    // value ranges), 24-orders-of-magnitude spreads (bucket width
    // overflow risk), values crowded into 1e-9 (recursive refinement),
    // and grid-duplicated values (tie handling)
    val value: Gen[Double] = Gen.oneOf(
      Gen.const(7.25),
      Gen.choose(-1e12, 1e12),
      Gen.choose(0.0, 1e-9),
      Gen.choose(-5.0, 5.0).map(x => math.rint(x * 100) / 100))
    val listGen = Gen.choose(1, 1500).flatMap(n => Gen.listOfN(n, value))
    (1 to 30).foreach { i =>
      val xs = listGen(Gen.Parameters.default, rng.Seed(i.toLong)).get
      val got = run(xs)
      qs.foreach(q => assert(got(q) === ref(xs, q),
        s"seed=$i n=${xs.length} q=$q"))
    }
  }

  test("two-column stacked histogram answers both columns") {
    import spark.implicits._
    val r = new scala.util.Random(5)
    val rows = Seq.fill(2000)((r.nextDouble() * 10, r.nextGaussian()))
    val df = rows.toDF("a", "b")
    val got = Quantiles.exactQuantiles(df, Seq("a", "b"), Seq(0.5))
      .map { case (c, _, v) => c -> v }.toMap
    assert(got("a") === ref(rows.map(_._1), 0.5))
    assert(got("b") === ref(rows.map(_._2), 0.5))
  }

  test("value-crowded bucket recursively re-histograms and stays exact") {
    // adversarial shape the design doc names: 20k DISTINCT values inside
    // 1/65536th of the range (outliers at 0 and 2e9 stretch it), so one
    // bucket holds ~all rows with bmin != bmax — the point-mass fast
    // path can't answer it and a naive in-bucket sort would be ~n rows.
    import spark.implicits._
    val crowded = (0 until 20000).map(i => 1000.0 + i * 1e-6)
    val xs = crowded ++ Seq(0.0, 2.0e9)
    val got = Quantiles.exactQuantiles(xs.toDF("x"), Seq("x"), qs, refineLimit = 100L)
      .map { case (_, q, v) => q -> v }.toMap
    qs.foreach(q => assert(got(q) === ref(xs, q), s"q=$q"))
    assert(Quantiles.lastRefineCount > 0, "refinement path did not trigger")
  }

  test("refinement stays exact at ulp granularity") {
    // two distinct values 1 ulp apart inside one bucket: the recursive
    // re-histogram runs over an ulp-wide [bmin, bmax] range — the
    // floating-point edge where bucket boundaries could misbehave; it
    // must split the two point masses (fast path) and stay exact.
    import spark.implicits._
    val a = 1000.0
    val b = java.lang.Math.nextUp(a)
    val xs = Seq.fill(300)(a) ++ Seq.fill(300)(b) ++ Seq(0.0, 2.0e9)
    val got = Quantiles.exactQuantiles(xs.toDF("x"), Seq("x"), qs, refineLimit = 10L)
      .map { case (_, q, v) => q -> v }.toMap
    qs.foreach(q => assert(got(q) === ref(xs, q), s"q=$q"))
  }

  test("grouped quantiles match the per-group reference bit-for-bit") {
    import spark.implicits._
    val r = new scala.util.Random(7)
    val groups = Seq("A", "B", "C")
    val rows = Seq.fill(6000)((groups(r.nextInt(3)), r.nextDouble() * 1e4 - 5e3))
    val got = Quantiles.groupedExactQuantiles(rows.toDF("g", "x"), "g", "x", qs)
      .map { case (g, q, v) => (g, q) -> v }.toMap
    groups.foreach { g =>
      val xs = rows.filter(_._1 == g).map(_._2)
      qs.foreach(q => assert(got((g, q)) === ref(xs, q), s"g=$g q=$q"))
    }
  }

  test("groupedNth returns the exact per-group order statistic") {
    import spark.implicits._
    val r = new scala.util.Random(17)
    val groups = Seq("A", "B", "C")
    val rows = Seq.fill(4000)((groups(r.nextInt(3)), r.nextDouble() * 1e6)) ++
      Seq(("T", 5.0), ("T", 3.0)) // group smaller than nth -> max
    val got = Quantiles.groupedNth(rows.toDF("g", "x"), "g", "x", 50L)
    groups.foreach { g =>
      val xs = rows.filter(_._1 == g).map(_._2).sorted
      assert(got(g) === xs(49), s"g=$g")
      // the threshold keeps exactly nth rows
      assert(rows.count(t => t._1 == g && t._2 <= got(g)) === 50)
    }
    assert(got("T") === 5.0)
  }

  test("grouped quantiles handle constant, tiny, and crowded groups") {
    import spark.implicits._
    val crowded = (0 until 5000).map(i => ("E", 1000.0 + i * 1e-6))
    val rows = Seq.fill(500)(("D", 42.5)) ++ Seq(("F", 7.25)) ++
      crowded ++ Seq(("E", 0.0), ("E", 2.0e9))
    val got = Quantiles.groupedExactQuantiles(rows.toDF("g", "x"), "g", "x", qs,
        refineLimit = 100L)
      .map { case (g, q, v) => (g, q) -> v }.toMap
    qs.foreach { q =>
      assert(got(("D", q)) === 42.5)
      assert(got(("F", q)) === 7.25)
      assert(got(("E", q)) === ref(rows.filter(_._1 == "E").map(_._2), q), s"q=$q")
    }
    assert(Quantiles.lastRefineCount > 0, "grouped refinement path did not trigger")
  }

  // ---- the bucket-offset recipe: off + in-bucket window == naive window ----

  /** Seeded values over the hard regimes of [[Quantiles.bucketOf]] with
    * bucket width 1.0 (the anchors ±32768 fix [lo, hi]): tie runs ON
    * bucket edges and one ulp either side, one bucket crowded with
    * distinct values, a point-mass tie run, negative values.
    */
  private def offsetFrame(seed: Long): Seq[(Long, Double, Long)] = {
    import org.scalacheck.{Gen, rng}
    val value: Gen[Double] = Gen.oneOf(
      Gen.choose(-40, 40).map(_.toDouble),
      Gen.choose(-40, 40).map(k => math.nextDown(k.toDouble)),
      Gen.choose(-40, 40).map(k => math.nextUp(k.toDouble)),
      Gen.choose(0.0, 1e-9).map(_ + 3.0),
      Gen.const(-7.0),
      Gen.choose(-32768.0, 32768.0))
    val rows = Gen.choose(1, 1200).flatMap(n => Gen.listOfN(n, Gen.zip(value, Gen.choose(1L, 5L))))
    val xs = rows(Gen.Parameters.default, rng.Seed(seed)).get ++ Seq((-32768.0, 1L), (32768.0, 2L))
    xs.zipWithIndex.map { case ((x, w), i) => (i.toLong, x, w) }
  }

  /** q48's form over (id, x, w): global rank (point-mass buckets skip the
    * window), its percent_rank, and the running Σw in (x, id) order —
    * once via [[Quantiles.withBucketOffsets]], once via the naive
    * unpartitioned windows; compared exactly, doubles by raw bits.
    */
  private def assertUngroupedOffsets(rows: Seq[(Long, Double, Long)], clue: String): Unit = {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    val df = rows.toDF("id", "x", "w")
    val (lo, hi, n) = (rows.map(_._2).min, rows.map(_._2).max, rows.length)
    val keyed = Quantiles.withBucketOffsets(
      df.withColumn("b", Quantiles.bucketOf(col("x"), lit(lo), lit(hi))),
      col("x"), Seq("off" -> lit(1L), "offw" -> col("w")))
    val inB = Window.partitionBy(col("b")).orderBy(col("x"))
    val got = keyed.select(col("id"),
        when(col("pointmass"), col("off") + 1L).otherwise(col("off") + rank().over(inB))
          .as("grank"),
        (col("offw") + sum(col("w")).over(Window.partitionBy(col("b")).orderBy(col("x"), col("id"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow))).as("cw"))
      .select(col("id"), col("grank"), col("cw"),
        ((col("grank") - 1L).cast("double") / lit((n - 1).toDouble)).as("pr"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    val world = Window.orderBy(col("x"))
    val want = df.select(col("id"), rank().over(world).cast("long"),
        sum(col("w")).over(Window.orderBy(col("x"), col("id"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)),
        percent_rank().over(world))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    assert(got.size === n, clue)
    want.foreach { case (id, (rk, cw, pr)) =>
      val (grk, gcw, gpr) = got(id)
      assert(grk === rk && gcw === cw, s"$clue id=$id")
      assert(java.lang.Double.doubleToRawLongBits(gpr) ===
        java.lang.Double.doubleToRawLongBits(pr), s"$clue id=$id pr $gpr vs $pr")
    }
  }

  test("bucket offsets: off + in-bucket rank and running sum equal the naive window") {
    (1 to 10).foreach(i => assertUngroupedOffsets(offsetFrame(500L + i), s"seed=$i"))
  }

  test("bucket offsets: an all-equal column (lo == hi) is one point-mass bucket") {
    assertUngroupedOffsets((0 until 300).map(i => (i.toLong, -2.5, (i % 3 + 1).toLong)), "all-equal")
  }

  test("bucket offsets: q99's descending Decimal prefix with a key tiebreak past 2^63") {
    import org.scalacheck.{Gen, rng}
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types.DecimalType
    import spark.implicits._
    // cents near Long.MaxValue / 2: the running total passes 2^63 within
    // a few rows, so a long prefix would wrap
    val cents: Gen[Long] = Gen.oneOf(
      Gen.const(4000000000000000000L),
      Gen.choose(0L, 4600000000000000000L),
      Gen.choose(-50L, 50L))
    (1 to 8).foreach { i =>
      val cs = Gen.choose(2, 600).flatMap(n => Gen.listOfN(n, cents))(
        Gen.Parameters.default, rng.Seed(900L + i)).get
      val df = cs.zipWithIndex.map { case (c, k) => (k.toLong, c) }.toDF("k", "cents")
      val dec = col("cents").cast(DecimalType(38, 0))
      val bucketed = df.withColumn("b", Quantiles.bucketOf(col("cents").cast("double"),
        lit(cs.min.toDouble), lit(cs.max.toDouble)))
      val got = Quantiles.withBucketOffsets(bucketed, col("cents"), Seq("off" -> dec),
          descending = true)
        .select(col("k"), col("off") + sum(dec).over(Window.partitionBy(col("b"))
          .orderBy(desc("cents"), col("k"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .collect().map(r => r.getLong(0) -> BigDecimal(r.getDecimal(1))).toMap
      val want = df.select(col("k"), sum(dec).over(Window.orderBy(desc("cents"), col("k"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .collect().map(r => r.getLong(0) -> BigDecimal(r.getDecimal(1))).toMap
      assert(want.values.max > BigDecimal(Long.MaxValue), s"seed=$i never passed 2^63")
      assert(got === want, s"seed=$i")
    }
  }

  test("bucket offsets: grouped rank with point-mass buckets equals the per-group window") {
    import org.scalacheck.{Gen, rng}
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // "p" is dominated by one value (a point-mass bucket), "c" is
    // constant (lo == hi), "s" a singleton, "a" the adversarial mixture
    (1 to 6).foreach { i =>
      val seed = rng.Seed(700L + i)
      val a = offsetFrame(700L + i).map { case (_, x, w) => ("a", x, w) }
      val p = Gen.listOfN(400, Gen.frequency(9 -> Gen.const(12.5), 1 -> Gen.choose(-1e3, 1e3)))(
        Gen.Parameters.default, seed).get.map(x => ("p", x, 1L))
      val rows = (a ++ p ++ Seq.fill(50)(("c", 4.0, 2L)) :+ (("s", -1.0, 3L)))
        .zipWithIndex.map { case ((g, x, w), id) => (g, id.toLong, x, w) }
      val df = rows.toDF("grp", "id", "x", "w")
      val stats = rows.groupBy(_._1).toSeq.map { case (g, rs) =>
        (g, rs.map(_._3).min, rs.map(_._3).max) }.toDF("g", "lo", "hi")
      val bucketed = df.join(broadcast(stats), col("grp") === col("g"))
        .withColumn("b", Quantiles.bucketOf(col("x"), col("lo"), col("hi")))
      val keyed = Quantiles.withBucketOffsets(bucketed, col("x"),
        Seq("off" -> lit(1L), "offw" -> col("w")), grouped = true)
      val got = keyed.select(col("id"),
          when(col("pointmass"), col("off") + 1L)
            .otherwise(col("off") + rank().over(Window.partitionBy(col("g"), col("b"))
              .orderBy(col("x")))),
          col("offw") + sum(col("w")).over(Window.partitionBy(col("g"), col("b"))
            .orderBy(col("x"), col("id"))
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
      val want = df.select(col("id"),
          rank().over(Window.partitionBy(col("grp")).orderBy(col("x"))).cast("long"),
          sum(col("w")).over(Window.partitionBy(col("grp")).orderBy(col("x"), col("id"))
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
      assert(got === want, s"seed=$i")
      assert(keyed.filter(col("pointmass") && col("g") === "p").count() > 0,
        s"seed=$i planted no point-mass bucket")
    }
  }

  /** The SQL twin's spine: q ∈ {0, 1}, the quartiles, and products and
    * quotients whose shortest decimal is long ((k+1)·0.05, 1/3, 2/3).
    */
  private val sqlQs = (Seq(0.0, 0.25, 0.5, 0.75, 1.0, 1.0 / 3.0, 2.0 / 3.0) ++
    (0 until 19).map(k => (k + 1) * 0.05)).distinct

  /** ((g, q) → raw value bits) from [[Quantiles.sql]] run through Spark
    * SQL over `df` (columns g, x) as a temp view; g is null ungrouped.
    */
  private def sqlBits(df: org.apache.spark.sql.DataFrame, grouped: Boolean)
      : Map[(String, Double), Long] = {
    df.createOrReplaceTempView("quantiles_sql_src")
    spark.sql(Quantiles.sql("quantiles_sql_src", "x", sqlQs, if (grouped) Some("g") else None))
      .collect().map { r =>
        val k = if (grouped) 1 else 0
        (if (grouped) r.getString(0) else null, r.getDouble(k)) ->
          java.lang.Double.doubleToRawLongBits(r.getDouble(k + 1))
      }.toMap
  }

  private def bits(rows: Seq[(String, Double, Double)], grouped: Boolean)
      : Map[(String, Double), Long] =
    rows.map { case (g, q, v) =>
      (if (grouped) g else null, q) -> java.lang.Double.doubleToRawLongBits(v)
    }.toMap

  test("Quantiles.sql run in Spark SQL equals the exact quantiles bit for bit") {
    import spark.implicits._
    // tie runs on a half-integer grid in groups a..c, a singleton group,
    // and a constant group
    (1 to 6).foreach { i =>
      val r = new scala.util.Random(1300L + i)
      val rows = Seq("a", "b", "c").flatMap { g =>
        Seq.fill(50 + r.nextInt(400))((g, math.rint(r.nextGaussian() * 6.0) / 2.0))
      } ++ Seq(("s", r.nextDouble() * 100.0)) ++ Seq.fill(40)(("k", 7.75))
      val df = rows.toDF("g", "x")
      val grouped = bits(Quantiles.groupedExactQuantiles(df, "g", "x", sqlQs), grouped = true)
      assert(grouped.size === 5 * sqlQs.size, s"seed=$i")
      assert(sqlBits(df, grouped = true) === grouped, s"seed=$i grouped")
      val whole = bits(Quantiles.exactQuantiles(df, Seq("x"), sqlQs), grouped = false)
      assert(whole.size === sqlQs.size, s"seed=$i")
      assert(sqlBits(df, grouped = false) === whole, s"seed=$i ungrouped")
    }
    // n = 1 and a constant column, ungrouped
    for ((name, xs) <- Seq("n=1" -> Seq(3.125), "constant" -> Seq.fill(25)(-6.5))) {
      val df = xs.map(x => ("a", x)).toDF("g", "x")
      assert(sqlBits(df, grouped = false) ===
        bits(Quantiles.exactQuantiles(df, Seq("x"), sqlQs), grouped = false), name)
    }
  }
}
