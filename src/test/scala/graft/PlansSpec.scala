package graft

import graft.plans.{FinalTopKExec, GraftOps, PartialTopKExec}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** The custom grouped-top-k operator (logical node → strategy →
  * partial/final physical pair): result parity with the window
  * formulation it replaces, the plan shape that makes it cheaper, and
  * the edge cases (ties, k ≥ group size, hot groups).
  */
class PlansSpec extends SparkSpec {

  private val priceOrder = Seq(col("o_totalprice").desc, col("o_orderkey"))

  private def orders(s: org.apache.spark.sql.SparkSession = spark) =
    Tables.orders(s, sf).select("o_custkey", "o_orderkey", "o_totalprice")

  /** The reference: `row_number() over (partition by groupCols order by
    * order) <= k`, rank column dropped.
    */
  private def windowRef(df: DataFrame, groupCols: Seq[String], order: Seq[Column],
      k: Int): DataFrame =
    df.withColumn("rn", row_number().over(
        Window.partitionBy(groupCols.map(col): _*).orderBy(order: _*)))
      .filter(col("rn") <= k).drop("rn")

  test("groupedTopK reproduces the row_number window exactly") {
    for (k <- Seq(1, 3, 100)) { // 100 > any group size ⇒ identity
      val fast = GraftOps.groupedTopK(orders(), Seq("o_custkey"), priceOrder, k)
        .collect().map(_.toSeq).toSet
      val slow = windowRef(orders(), Seq("o_custkey"), priceOrder, k).collect().map(_.toSeq).toSet
      assert(fast === slow, s"mismatch at k=$k")
    }
  }

  test("groupedTopK breaks score ties by the smallest tie key") {
    import spark.implicits._
    val df = Seq((1L, 10L, 5.0), (1L, 11L, 5.0), (1L, 12L, 5.0), (1L, 13L, 7.0))
      .toDF("g", "id", "v")
    val kept = GraftOps.groupedTopK(df, Seq("g"), Seq(col("v").desc, col("id")), k = 2)
      .collect().map(r => r.getLong(1)).toSet
    assert(kept === Set(13L, 10L), s"expected {13 (7.0), 10 (first tie at 5.0)}, got $kept")
  }

  /** Rows as sorted strings: a multiset compare in which NULL and NaN
    * equal themselves.
    */
  private def rowStrings(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  private def assertMatchesWindow(df: DataFrame, order: Seq[Column], k: Int,
      groupCols: Seq[String] = Seq("g")): Unit =
    assert(rowStrings(GraftOps.groupedTopK(df, groupCols, order, k)) ===
      rowStrings(windowRef(df, groupCols, order, k)), s"k=$k order=$order")

  test("groupedTopK orders BIGINT scores above 2^53 exactly") {
    import spark.implicits._
    // 2^53 and 2^53 + 1 are one double apart only in exact integers: a
    // DOUBLE cast ties them and would keep the smaller tie key (id 1)
    val big = 1L << 53
    val df = Seq((1L, 1L, big), (1L, 2L, big + 1), (2L, 3L, Long.MaxValue - 1),
      (2L, 4L, Long.MaxValue)).toDF("g", "id", "v").repartition(2)
    val order = Seq(col("v").desc, col("id"))
    assertMatchesWindow(df, order, 1)
    assert(GraftOps.groupedTopK(df, Seq("g"), order, 1)
      .collect().map(_.getLong(1)).toSet === Set(2L, 4L))
  }

  test("groupedTopK orders DECIMAL scores on their own digits") {
    import spark.implicits._
    // the two scores differ past a double's 17 significant digits
    val df = Seq((1L, 1L, "1.000000000000000000"), (1L, 2L, "1.000000000000000001"),
      (1L, 3L, "0.999999999999999999"))
      .toDF("g", "id", "s").select(col("g"), col("id"), col("s").cast("decimal(38,18)").as("v"))
    val order = Seq(col("v").desc, col("id"))
    for (k <- Seq(1, 2)) assertMatchesWindow(df, order, k)
    assert(GraftOps.groupedTopK(df, Seq("g"), order, 1)
      .collect().map(_.getLong(1)).toSeq === Seq(2L))
  }

  test("groupedTopK breaks ties on a STRING key in string order") {
    import spark.implicits._
    val df = Seq((1L, "pear", 5.0), (1L, "apple", 5.0), (1L, "fig", 5.0), (2L, "b", 1.0),
      (2L, "a", 1.0)).toDF("g", "name", "v").repartition(3)
    val order = Seq(col("v").desc, col("name"))
    for (k <- Seq(1, 2)) assertMatchesWindow(df, order, k)
    assert(GraftOps.groupedTopK(df, Seq("g"), order, 1)
      .collect().map(_.getString(1)).toSet === Set("apple", "a"))
  }

  test("groupedTopK keeps the smallest scores when ascending") {
    import spark.implicits._
    val df = (0L until 200L).map(i => (i % 3, i, ((i * 37) % 11).toDouble))
      .toDF("g", "id", "v").repartition(4)
    for (k <- Seq(1, 3, 500)) assertMatchesWindow(df, Seq(col("v"), col("id")), k)
  }

  test("groupedTopK keeps the latest rows under a two-column descending order") {
    import spark.implicits._
    // st_cdc's shape: (ts desc, event_id desc), with ts tie runs so the
    // second key decides
    val df = (0L until 300L).map(i => (i % 4, (i * 7) % 13, i))
      .toDF("g", "ts", "event_id").repartition(3)
    for (k <- Seq(1, 3, 200))
      assertMatchesWindow(df, Seq(col("ts").desc, col("event_id").desc), k)
  }

  test("groupedTopK places NULL and NaN scores as the window does, ascending") {
    import spark.implicits._
    val v = Seq(Some(Double.NaN), None, Some(1.0), Some(-0.5), None, Some(Double.NaN),
      Some(1.0), Some(2.0))
    val df = (0L until 64L).map(i => (i % 3, i, v((i % v.size).toInt)))
      .toDF("g", "id", "v").repartition(4)
    for (k <- Seq(1, 3, 100); o <- Seq(col("v").asc, col("v").asc_nulls_last))
      assertMatchesWindow(df, Seq(o, col("id")), k)
  }

  test("groupedTopK with no group columns is one global top-k") {
    import spark.implicits._
    val df = (0L until 50L).map(i => (i, ((i * 37) % 11).toDouble))
      .toDF("id", "v").repartition(4)
    for (k <- Seq(1, 3, 100))
      assertMatchesWindow(df, Seq(col("v").desc, col("id")), k, groupCols = Nil)
  }

  test("the plan is the partial/final pair with the exchange between them") {
    assertPartialFinalPair(GraftOps.groupedTopK(orders(), Seq("o_custkey"), priceOrder, 3))
  }

  private def assertPartialFinalPair(df: DataFrame): Unit = {
    val s = df.queryExecution.executedPlan.toString
    assert(s.contains("FinalTopK"), s)
    assert(s.contains("PartialTopK"), s)
    // partial must sit BELOW the exchange (map side): in the printed tree
    // Final > Exchange > Partial
    val lines = s.linesIterator.toVector
    val iFinal = lines.indexWhere(_.contains("FinalTopK"))
    val iEx = lines.indexWhere(_.contains("Exchange"), iFinal)
    val iPartial = lines.indexWhere(_.contains("PartialTopK"), iFinal)
    assert(iFinal >= 0 && iEx > iFinal && iPartial > iEx,
      "exchange must move the partial's bounded rows, not the input:\n" + s)
  }

  test("GraftExtensions installs graft's functions and the top-k strategy, and no optimizer rule") {
    import org.apache.spark.sql.SparkSession
    def rules(s: SparkSession) =
      s.asInstanceOf[org.apache.spark.sql.classic.SparkSession].experimental.extraOptimizations
    val orig = spark
    // an extensions-enabled session over the SAME SparkContext: clear the
    // default so the builder constructs a fresh session with
    // GraftExtensions applied (never stop it — the context is shared)
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val s2 = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .withExtensions(new graft.functions.GraftExtensions())
      .getOrCreate()
    try {
      assert(s2 ne orig)
      assert(s2.sql("SELECT graft_dot_long(array(1L, 2L, 3L), array(4L, 5L, 6L))")
        .head().getLong(0) === 32L)
      val fast = GraftOps.groupedTopK(orders(s2), Seq("o_custkey"), priceOrder, 3)
      assertPartialFinalPair(fast)
      assert(rowStrings(fast) === rowStrings(windowRef(orders(s2), Seq("o_custkey"), priceOrder, 3)))
      graft.functions.GraftFunctions.register(s2)
      assert(rules(s2).isEmpty)
      assert(rules(orig).isEmpty)
    } finally {
      SparkSession.setDefaultSession(orig)
      SparkSession.setActiveSession(orig)
    }
  }

  test("a hot group never holds more than k rows per heap") {
    import spark.implicits._
    // one group with 10k rows across partitions: the partial emits <= k
    // rows per partition, so the final's input stays tiny
    val df = (0L until 10000L).map(i => (1L, i, (i % 97).toDouble))
      .toDF("g", "id", "v").repartition(8)
    val out = GraftOps.groupedTopK(df, Seq("g"), Seq(col("v").desc, col("id")), k = 5)
      .collect().map(r => (r.getLong(1), r.getDouble(2)))
    assert(out.length === 5)
    // top values are the five ids with v == 96 and smallest ids
    assert(out.forall(_._2 === 96.0))
    assert(out.map(_._1).sorted === Seq(96L, 193L, 290L, 387L, 484L))
  }
}
