package graft

/** graft's functions and planner strategy are registered at one point,
  * the `SparkEntry.queries` boundary. A driver hands in a session it
  * built itself, with neither installed; every query that needs them
  * must still run there and answer exactly as on the shared session.
  */
class RegistrationSpec extends SparkSpec {

  // one query per library helper that used to register for itself
  private val needsFunctions = Seq(
    "tx_quality", "tx_lang_id", "dd_minhash", "dd_simhash", "dd_winnow_pairs",
    "ap_kmv_overlap", "ap_sketch_rollup", "sim_brute_topk", "sim_pq_topk",
    "sim_ivfpq_topk")

  private def rows(s: org.apache.spark.sql.SparkSession, name: String): Seq[String] =
    SparkEntry.queries(name)(s, sf).collect().map(_.toString).toSeq.sorted

  test("a driver-built session gets graft's functions at the query boundary") {
    val driver = spark.newSession()
    assert(!driver.catalog.functionExists("graft_dot_long"),
      "a new session must start without graft's functions")
    needsFunctions.foreach { name =>
      assert(rows(driver, name) === rows(spark, name), name)
    }
    assert(driver.catalog.functionExists("graft_dot_long"))
  }

  test("a registered session rewrites the row_number top-k idiom onto the operator") {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    val plain = spark.newSession() // neither graft's strategy nor its rule
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    def idiom(s: org.apache.spark.sql.SparkSession, rank: org.apache.spark.sql.Column) =
      Tables.orders(s, sf).withColumn("rn", rank.over(w)).filter(col("rn") === 1)
        .select(col("o_custkey"), col("o_orderkey").as("top_orderkey"),
          col("o_totalprice").as("top_price"))
    def plan(df: org.apache.spark.sql.DataFrame) = df.queryExecution.executedPlan.toString
    val driver = spark.newSession()
    val q34 = SparkEntry.queries("q34_argmax")(driver, sf) // registers `driver`
    assert(plan(q34).contains("PartialTopK"), plan(q34))
    assert(!plan(idiom(plain, row_number())).contains("PartialTopK"))
    assert(q34.collect().map(_.toString).sorted.toSeq ===
      idiom(plain, row_number()).collect().map(_.toString).sorted.toSeq)
    // rank() keeps ties past k: left alone
    assert(!plan(idiom(driver, rank())).contains("PartialTopK"))
  }
}
