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

  test("a driver-built session runs the grouped top-k queries at the query boundary") {
    // GroupedTopK has no plan without graft's strategy: these answer only
    // because the boundary installed it on `driver`
    val driver = spark.newSession()
    Seq("q34_argmax", "st_cdc", "tx_tfidf").foreach { name =>
      assert(rows(driver, name) === rows(spark, name), name)
    }
  }
}
