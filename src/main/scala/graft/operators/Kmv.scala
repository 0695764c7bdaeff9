package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** K-minimum-values sketching (Bar-Yossef et al. 2002; the Theta-sketch
  * family): per-group bounded sketches supporting distinct estimation
  * AND set algebra — union sketches merge exactly, so intersections /
  * Jaccard come from one pass over bounded metadata. This is the
  * overlap readout HLL cannot provide (ap_distinct estimates sizes
  * only): "how much does corpus A overlap corpus B" per language /
  * source / shard, without ever shuffling the value sets.
  */
object Kmv {

  /** Per-group KMV sketch of `v`'s distinct values: (g, mins[≤k]).
    * One partial-aggregable shuffle; O(k) state per group.
    */
  def sketches(df: DataFrame, g: String, v: String, k: Int): DataFrame = {
    graft.functions.GraftFunctions.register(df.sparkSession)
    // 63-bit positive hash; xxhash64 is Spark-native and stable
    val h = expr(s"xxhash64($v) & 9223372036854775807")
    df.select(col(g), h.as("h"))
      .groupBy(col(g))
      .agg(call_function("graft_kmv_agg", col("h"), lit(k)).as("mins"))
  }

  private val Max = BigDecimal(Long.MaxValue)

  /** Distinct estimate from a sketch: exact when |mins| < k (the sketch
    * saw every distinct value), else the KMV estimator (k−1)/u with u =
    * normalized k-th minimum.
    */
  def estimate(mins: Seq[Long], k: Int): Double =
    if (mins.length < k) mins.length.toDouble
    else (k - 1).toDouble / (BigDecimal(mins.max) / Max).toDouble

  /** [[estimate]] as a Column expression over the sketch array, so
    * sketch consumers stay LAZY (r13: ap_sketch_rollup previously
    * collected |days|×k sketch rows to run this arithmetic on the
    * driver — bounded, but a synchronous job the plan doesn't need).
    * The ≥k branch normalizes the k-th minimum in double (vs the
    * driver version's exact BigDecimal ratio): the two can differ by
    * an ulp of an ESTIMATE whose own error is ~1/√k — irrelevant, and
    * this operator class is rows-only (no SQL oracle) by design.
    */
  def estimateExpr(mins: Column, k: Int): Column =
    when(size(mins) < k, size(mins).cast("double"))
      .otherwise(lit((k - 1).toDouble) /
        (array_max(mins).cast("double") / lit(Long.MaxValue.toDouble)))

  /** Sketch-cube re-aggregation: fine-grained sketches (one per
    * (coarse, fine) cell) merge into coarse sketches WITHOUT rescanning
    * the fact table — the merge explodes sketch entries (≤ cells·k
    * rows, metadata-sized) back through the same bounded KMV aggregate,
    * and KMV union is EXACT (the k smallest of the combined sets), so
    * the rolled-up sketch equals the sketch built directly at the
    * coarse grain. This is the pre-aggregated-distinct cube pattern:
    * sketch per hour once, answer day/week/month distinct questions
    * from sketches forever after.
    */
  def rollup(fine: DataFrame, coarse: String, k: Int): DataFrame = {
    graft.functions.GraftFunctions.register(fine.sparkSession)
    fine.select(col(coarse), explode(col("mins")).as("h"))
      .groupBy(col(coarse))
      .agg(call_function("graft_kmv_agg", col("h"), lit(k)).as("mins"))
  }

  /** Pairwise overlap table from the bounded sketch collection:
    * (g_a, g_b, est_distinct_a, est_distinct_b, est_jaccard,
    * est_union, est_intersection). Union sketches merge exactly
    * (k smallest of the combined sets); Jaccard is the shared fraction
    * of the union sketch — the standard KMV set-algebra estimators.
    * Driver work is O(groups² · k): sketch metadata, never data.
    */
  def overlaps(df: DataFrame, g: String, v: String, k: Int): DataFrame = {
    val s = df.sparkSession
    import s.implicits._
    val sk = sketches(df, g, v, k).collect()
      .map(r => (r.getString(0), r.getSeq[Long](1).toVector)).sortBy(_._1)
    val rows = for {
      i <- sk.indices
      j <- (i + 1) until sk.length
    } yield {
      val (ga, a) = sk(i); val (gb, b) = sk(j)
      val aSet = a.toSet; val bSet = b.toSet
      val union = (aSet ++ bSet).toVector.sorted.take(k)
      val shared = union.count(x => aSet.contains(x) && bSet.contains(x))
      val jac = if (union.isEmpty) 0.0 else shared.toDouble / union.length.toDouble
      val estU = estimate(union, k)
      (ga, gb, estimate(a, k), estimate(b, k), jac, estU, jac * estU)
    }
    // `sk` is sorted by group, so the pairs already come in (g_a, g_b) order
    rows.toDF("g_a", "g_b", "est_distinct_a", "est_distinct_b",
      "est_jaccard", "est_union", "est_intersection")
  }
}
