package graft

import graft.plans.{FinalTopKExec, GraftOps, PartialTopKExec}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** The custom grouped-top-k operator (logical node → strategy →
  * partial/final physical pair): result parity with the window
  * formulation it replaces, the plan shape that makes it cheaper, and
  * the edge cases (ties, k ≥ group size, hot groups).
  */
class PlansSpec extends SparkSpec {

  private def windowTopK(k: Int) = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    Tables.orders(spark, sf)
      .select("o_custkey", "o_orderkey", "o_totalprice")
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .drop("rn")
  }

  test("groupedTopK reproduces the row_number window exactly") {
    for (k <- Seq(1, 3, 100)) { // 100 > any group size ⇒ identity
      val fast = GraftOps.groupedTopK(
        Tables.orders(spark, sf).select("o_custkey", "o_orderkey", "o_totalprice"),
        Seq("o_custkey"), "o_totalprice", "o_orderkey", k)
        .collect().map(_.toSeq).toSet
      val slow = windowTopK(k).collect().map(_.toSeq).toSet
      assert(fast === slow, s"mismatch at k=$k")
    }
  }

  test("groupedTopK breaks score ties by the smallest tie key") {
    import spark.implicits._
    val df = Seq((1L, 10L, 5.0), (1L, 11L, 5.0), (1L, 12L, 5.0), (1L, 13L, 7.0))
      .toDF("g", "id", "v")
    val kept = GraftOps.groupedTopK(df, Seq("g"), "v", "id", k = 2)
      .collect().map(r => r.getLong(1)).toSet
    assert(kept === Set(13L, 10L), s"expected {13 (7.0), 10 (first tie at 5.0)}, got $kept")
  }

  /** The reference: `row_number() over (partition by g order by score
    * [desc|asc], tie) <= k`, rank column dropped.
    */
  private def windowRef(df: org.apache.spark.sql.DataFrame, score: String, tie: String,
      k: Int, ascending: Boolean = false) = {
    val o = if (ascending) col(score).asc else col(score).desc
    df.withColumn("rn", row_number().over(Window.partitionBy(col("g")).orderBy(o, col(tie))))
      .filter(col("rn") <= k).drop("rn")
  }

  private def assertMatchesWindow(df: org.apache.spark.sql.DataFrame, score: String,
      tie: String, k: Int, ascending: Boolean = false): Unit = {
    val fast = GraftOps.groupedTopK(df, Seq("g"), score, tie, k, ascending)
      .collect().map(_.toSeq).toSet
    val slow = windowRef(df, score, tie, k, ascending).collect().map(_.toSeq).toSet
    assert(fast === slow, s"k=$k ascending=$ascending")
  }

  test("groupedTopK orders BIGINT scores above 2^53 exactly") {
    import spark.implicits._
    // 2^53 and 2^53 + 1 are one double apart only in exact integers: a
    // DOUBLE cast ties them and would keep the smaller tie key (id 1)
    val big = 1L << 53
    val df = Seq((1L, 1L, big), (1L, 2L, big + 1), (2L, 3L, Long.MaxValue - 1),
      (2L, 4L, Long.MaxValue)).toDF("g", "id", "v").repartition(2)
    assertMatchesWindow(df, "v", "id", 1)
    assert(GraftOps.groupedTopK(df, Seq("g"), "v", "id", 1)
      .collect().map(_.getLong(1)).toSet === Set(2L, 4L))
  }

  test("groupedTopK orders DECIMAL scores on their own digits") {
    import spark.implicits._
    // the two scores differ past a double's 17 significant digits
    val df = Seq((1L, 1L, "1.000000000000000000"), (1L, 2L, "1.000000000000000001"),
      (1L, 3L, "0.999999999999999999"))
      .toDF("g", "id", "s").select(col("g"), col("id"), col("s").cast("decimal(38,18)").as("v"))
    for (k <- Seq(1, 2)) assertMatchesWindow(df, "v", "id", k)
    assert(GraftOps.groupedTopK(df, Seq("g"), "v", "id", 1)
      .collect().map(_.getLong(1)).toSeq === Seq(2L))
  }

  test("groupedTopK breaks ties on a STRING key in string order") {
    import spark.implicits._
    val df = Seq((1L, "pear", 5.0), (1L, "apple", 5.0), (1L, "fig", 5.0), (2L, "b", 1.0),
      (2L, "a", 1.0)).toDF("g", "name", "v").repartition(3)
    for (k <- Seq(1, 2)) assertMatchesWindow(df, "v", "name", k)
    assert(GraftOps.groupedTopK(df, Seq("g"), "v", "name", 1)
      .collect().map(_.getString(1)).toSet === Set("apple", "a"))
  }

  test("groupedTopK keeps the smallest scores when ascending") {
    import spark.implicits._
    val df = (0L until 200L).map(i => (i % 3, i, ((i * 37) % 11).toDouble))
      .toDF("g", "id", "v").repartition(4)
    for (k <- Seq(1, 3, 500)) assertMatchesWindow(df, "v", "id", k, ascending = true)
  }

  test("the plan is the partial/final pair with the exchange between them") {
    val df = GraftOps.groupedTopK(
      Tables.orders(spark, sf).select("o_custkey", "o_orderkey", "o_totalprice"),
      Seq("o_custkey"), "o_totalprice", "o_orderkey", 3)
    val p = df.queryExecution.executedPlan
    val s = p.toString
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

  test("TopKPushdown rewrites the window idiom onto the operator; rank() is untouched") {
    import org.apache.spark.sql.SparkSession
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
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      def idiom(s: org.apache.spark.sql.SparkSession) =
        Tables.orders(s, sf).select("o_custkey", "o_orderkey", "o_totalprice")
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") <= 3)
      val rewritten = idiom(s2)
      val p = rewritten.queryExecution.executedPlan.toString
      assert(p.contains("PartialTopK"),
        "optimizer rule did not fire on the row_number idiom:\n" + p)
      assert(p.contains("Window"), "the window must stay to recompute rn:\n" + p)
      // bit-identical to the un-rewritten plan, INCLUDING the rn column;
      // `plain` has neither graft's strategy nor its rule (the shared
      // session is registered, so it rewrites too)
      val plain = orig.newSession()
      val expected = idiom(plain).collect().map(_.toSeq).toSet
      assert(idiom(plain).queryExecution.executedPlan.toString.indexOf("PartialTopK") < 0)
      assert(rewritten.collect().map(_.toSeq).toSet === expected)
      // rank() admits >k ties — the rule must NOT touch it
      val ranked = Tables.orders(s2, sf)
        .select("o_custkey", "o_orderkey", "o_totalprice")
        .withColumn("rn", rank().over(w)).filter(col("rn") <= 3)
      assert(!ranked.queryExecution.executedPlan.toString.contains("PartialTopK"))
      // the bound hides in a NESTED And after predicate merging — the
      // rule must split conjuncts recursively, not one level deep
      def nested(s: org.apache.spark.sql.SparkSession) =
        Tables.orders(s, sf).select("o_custkey", "o_orderkey", "o_totalprice")
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") <= 3 && col("o_totalprice") > 0.0 &&
            col("o_orderkey") >= 0L)
      val nestedPlan = nested(s2).queryExecution.executedPlan.toString
      assert(nestedPlan.contains("PartialTopK"),
        "rule must find rn <= k inside nested Ands:\n" + nestedPlan)
      assert(nested(s2).collect().map(_.toSeq).toSet ===
        nested(plain).collect().map(_.toSeq).toSet)
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
    val out = GraftOps.groupedTopK(df, Seq("g"), "v", "id", k = 5)
      .collect().map(r => (r.getLong(1), r.getDouble(2)))
    assert(out.length === 5)
    // top values are the five ids with v == 96 and smallest ids
    assert(out.forall(_._2 === 96.0))
    assert(out.map(_._1).sorted === Seq(96L, 193L, 290L, 387L, 484L))
  }
}
