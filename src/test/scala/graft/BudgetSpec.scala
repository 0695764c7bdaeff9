package graft

import graft.operators.{BudgetSelect, Quantiles}

/** Unit coverage for the distributed budget selection — the edge cases
  * the tx_budget_sample oracle (one well-behaved score column) doesn't
  * exercise.
  */
class BudgetSpec extends SparkSpec {

  private def naive(rows: Seq[(Long, Double, Long)], frac: Double): Map[Long, Long] = {
    val budget = frac * rows.map(_._3).sum.toDouble
    var cum = 0L
    val kept = scala.collection.mutable.Map[Long, Long]()
    rows.sortBy(t => (-t._2, t._1)).foreach { case (i, _, w) =>
      cum += w
      if (cum.toDouble <= budget) kept(i) = cum
    }
    kept.toMap
  }

  private def run(rows: Seq[(Long, Double, Long)], frac: Double,
      refineLimit: Long = Quantiles.RefineLimit): Map[Long, Long] = {
    import spark.implicits._
    BudgetSelect.selectToBudget(rows.toDF("id", "score", "w"), "id", "score", "w",
        frac, refineLimit)
      .collect().map(r => (r.getLong(0), r.getLong(3))).toMap
  }

  test("budget selection equals the naive global-sort prefix") {
    val r = new scala.util.Random(21)
    val rows = (0L until 3000L).map(i =>
      (i, r.nextDouble() * 10.0 - 5.0, (r.nextInt(50) + 1).toLong))
    assert(run(rows, 0.3) === naive(rows, 0.3))
  }

  test("tied scores break by id, exactly as the SQL formulation") {
    val rows = (0L until 100L).map(i => (i, (i % 5).toDouble, 10L))
    assert(run(rows, 0.33) === naive(rows, 0.33))
  }

  test("constant-score input selects in id order with no single-partition stage") {
    import spark.implicits._
    val rows = (0L until 50L).map(i => (i, 1.25, i % 7 + 1L))
    assert(run(rows, 0.5) === naive(rows, 0.5))
    val p = BudgetSelect.selectToBudget(rows.toDF("id", "score", "w"),
        "id", "score", "w", 0.5)
      .queryExecution.executedPlan.toString
    assert(!p.contains("Exchange SinglePartition"), p)
  }

  test("point-mass crowded buckets refine by id range and stay exact") {
    // one score value carried by 3000 rows (a duplicate-heavy quality
    // score): without the id-range sub-bucket level the whole point mass
    // funnels one (b, sb=0) window partition
    val mass = (0L until 3000L).map(i => (i, 7.0, (i % 11) + 1L))
    val rest = (3000L until 3500L).map(i => (i, (i % 20).toDouble, 3L))
    val rows = mass ++ rest
    assert(run(rows, 0.6, refineLimit = 100L) === naive(rows, 0.6))
    assert(BudgetSelect.lastRefineCount > 0, "point-mass refinement did not trigger")
  }

  test("value-crowded score buckets refine to sub-buckets and stay exact") {
    // 4000 distinct scores inside 1/65536th of the range (outliers
    // stretch it): one bucket holds ~all kept rows, so without the
    // sub-bucket level one task would sort the whole prefix
    val crowded = (0L until 4000L).map(i => (i, 1000.0 + i.toDouble * 1e-6, (i % 13) + 1L))
    val rows = crowded ++ Seq((9000L, 0.0, 5L), (9001L, 2.0e9, 7L))
    assert(run(rows, 0.5, refineLimit = 100L) === naive(rows, 0.5))
    assert(BudgetSelect.lastRefineCount > 0, "sub-bucket refinement did not trigger")
  }

  test("zero and full budgets") {
    val rows = (0L until 40L).map(i => (i, i.toDouble, 2L))
    assert(run(rows, 0.0) === Map.empty)
    assert(run(rows, 1.0) === naive(rows, 1.0))
    assert(run(rows, 1.0).size === 40)
  }
}
