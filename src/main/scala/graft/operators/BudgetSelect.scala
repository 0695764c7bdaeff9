package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Budget-bounded selection: keep rows from the highest `score` down
  * until the cumulative `weight` reaches `frac` of the total — the
  * training-mix construction primitive ("fill N tokens from best quality
  * down", the data-budgeting step after quality scoring / dedup).
  *
  * The naive formulation is a running sum over a GLOBAL (score DESC, id)
  * sort — one task sorts and scans the whole corpus. This computes the
  * identical prefix with no single-partition stage, the same
  * bounded-metadata pattern as [[Quantiles]]:
  *
  *   job 1  score/id bounds + total weight — one aggregate scan.
  *   job 2  per-score-bucket weight sums + population bounds (65536
  *          uniform buckets); ≤ 65536 metadata rows to the driver, which
  *          walks them top-down to find the bracket bucket where the
  *          running total crosses the budget, and the cumulative weight
  *          ABOVE each surviving bucket.
  *   job 3  only rows at or above the bracket bucket's population min are
  *          rescanned (range filter pushed to the scan); each row's exact
  *          cumulative weight = broadcast bucket offset + an intra-bucket
  *          running sum windowed by (bucket, sub-bucket), so parallelism
  *          is the number of surviving buckets and no task scans more
  *          than one bucket (~n/65536 rows). Buckets whose population
  *          exceeds `refineLimit` get ONE sub-histogram level:
  *            - value-crowded (bmin < bmax: many distinct scores inside
  *              1/65536th of the range) sub-bucket by score, 65536× finer
  *              over the bucket's own [bmin, bmax];
  *            - point-mass (bmin == bmax: one score value carried by
  *              more rows than refineLimit — duplicate-heavy quality
  *              scores) sub-bucket by the ID range instead, because the
  *              cumulative order within a tied score is id-only, so an
  *              id-bucket histogram yields exact ASC offsets.
  *          Either way the window partition stays bounded (the adaptive
  *          refinement [[Quantiles]] applies recursively; one level
  *          suffices here because the sub-range is the population's
  *          actual span).
  *
  * All weight arithmetic is exact LONG (token counts); the budget
  * comparison promotes the long prefix sum to double, exact below 2^53
  * total weight (9e15 tokens — beyond any current corpus). Ties are
  * impossible in the cumulative order (score, id) since ids are unique,
  * so the kept prefix is deterministic and reproducible in SQL.
  *
  * Degenerate constant-score input (no quality order at all) is just the
  * whole-input point-mass case and routes through the same id-bucket
  * machinery — no single-partition stage there either.
  */
object BudgetSelect {
  import Quantiles.bucketOf

  /** Test instrumentation: sub-bucket refinements in the last call. */
  private[graft] var lastRefineCount: Int = 0

  /** (sub-bucket, cumulative weight before it) over `sub` bucketed by
    * `order` across [lo, hi], accumulated from `off0` in `order`'s
    * direction — exact because the bucket map is monotone in `order`.
    * Within a tied score the (score DESC, id ASC) order is id ASC, so a
    * tied-score population passes its id ascending. ≤ 65536 metadata rows.
    */
  private def subOffsets(sub: DataFrame, order: Column, w: String, lo: Double, hi: Double,
      off0: Long, descending: Boolean): Seq[(Long, Long)] =
    Quantiles.bucketOffsets(sub.withColumn("b", bucketOf(order.cast("double"), lit(lo), lit(hi))),
        order, Seq(col(w)), descending = descending)
      .map(o => (o.b, off0 + o.off.head.toLong))

  /** Rows of `df` whose (score DESC, id ASC) cumulative `w` stays within
    * frac·total(w), with their exact cumulative weight as `cum_w`.
    */
  def selectToBudget(df: DataFrame, id: String, score: String, w: String,
      frac: Double, refineLimit: Long = Quantiles.RefineLimit): DataFrame = {
    lastRefineCount = 0
    val spark = df.sparkSession
    import spark.implicits._
    // job 1 — bounds + total (id bounds serve the point-mass paths)
    val r = df.agg(min(col(score).cast("double")).as("lo"),
      max(col(score).cast("double")).as("hi"),
      coalesce(sum(col(w)), lit(0L)).as("tot"), count(lit(1)).as("n"),
      min(col(id).cast("double")).as("ilo"),
      max(col(id).cast("double")).as("ihi")).head()
    val n = r.getAs[Long]("n")
    val budget = frac * r.getAs[Long]("tot").toDouble
    val keep = col(id) +: Seq(col(score), col(w), col("cum_w"))
    if (n == 0L)
      return df.select(col(id), col(score), col(w))
        .withColumn("cum_w", lit(0L)).limit(0)
    val (lo, hi) = (r.getAs[Double]("lo"), r.getAs[Double]("hi"))
    if (lo == hi) {
      // constant score: the whole input is one tied-score population, so
      // the cumulative order is id ASC — id-bucket offsets + per-bucket
      // running sums, exactly the point-mass refinement applied globally
      val (ilo, ihi) = (r.getAs[Double]("ilo"), r.getAs[Double]("ihi"))
      if (ilo == ihi) // single row
        return df.withColumn("cum_w", col(w).cast("long"))
          .filter(col("cum_w").cast("double") <= budget)
          .select(keep: _*)
      val bucketed = df.withColumn("b", bucketOf(col(id).cast("double"), lit(ilo), lit(ihi)))
      return Quantiles.withBucketOffsets(bucketed, col(id), Seq("off" -> col(w)))
        .withColumn("cum_w", col("off") + sum(col(w)).over(
          Window.partitionBy(col("b")).orderBy(col(id))
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .filter(col("cum_w").cast("double") <= budget)
        .select(keep: _*)
    }

    // job 2 — per-bucket weight totals + population bounds + row counts
    val hist = df.select(bucketOf(col(score).cast("double"), lit(lo), lit(hi)).as("b"),
        col(score).cast("double").as("s"), col(w).as("w"),
        col(id).cast("double").as("i"))
      .groupBy("b").agg(sum(col("w")).as("bw"), min(col("s")).as("bmin"),
        max(col("s")).as("bmax"), count(lit(1)).as("bc"),
        min(col("i")).as("imin"), max(col("i")).as("imax"))
      .collect()
      .map(row => (row.getLong(0), row.getLong(1), row.getDouble(2),
        row.getDouble(3), row.getLong(4), row.getDouble(5), row.getDouble(6)))
      .sortBy(-_._1) // highest scores first
    var cum = 0L
    var bracketMin = lo
    // survivors: (bucket, offset-above, bmin, bmax, rows, imin, imax)
    val survivors = Seq.newBuilder[(Long, Long, Double, Double, Long, Double, Double)]
    var crossed = false
    hist.foreach { case (b, bw, bmin, bmax, bc, imin, imax) =>
      if (!crossed) {
        survivors += ((b, cum, bmin, bmax, bc, imin, imax))
        cum += bw
        bracketMin = bmin
        if (cum.toDouble > budget) crossed = true
      }
    }

    // refine crowded survivors: value-crowded (bmin < bmax) sub-bucket by
    // score over [bmin, bmax]; point-mass (bmin == bmax) sub-bucket by the
    // id range (tied-score order is id-only). Non-crowded keep sub-bucket 0
    val survivorsL = survivors.result()
    def isCrowded(s: (Long, Long, Double, Double, Long, Double, Double)): Boolean =
      s._5 > refineLimit && (s._3 != s._4 || s._6 != s._7)
    val crowded = survivorsL.filter(isCrowded)
    val offsets = Seq.newBuilder[(Long, Long, Long)] // (b, sb, off)
    survivorsL.foreach { case s @ (b, off, bmin, bmax, _, imin, imax) =>
      if (!isCrowded(s)) offsets += ((b, 0L, off))
      else {
        lastRefineCount += 1
        val sub = df.filter(col(score) >= bmin && col(score) <= bmax)
        val subs =
          if (bmin != bmax) subOffsets(sub, col(score), w, bmin, bmax, off, descending = true)
          else subOffsets(sub, col(id), w, imin, imax, off, descending = false)
        subs.foreach { case (sb, o) => offsets += ((b, sb, o)) }
      }
    }

    // job 3 — rescan only the surviving buckets; exact cum = broadcast
    // (bucket, sub-bucket) offset + intra running sum
    val sb = crowded.foldLeft(lit(0L)) { case (acc, (b, _, bmin, bmax, _, imin, imax)) =>
      val subCol =
        if (bmin != bmax) bucketOf(col(score).cast("double"), lit(bmin), lit(bmax))
        else bucketOf(col(id).cast("double"), lit(imin), lit(imax))
      when(col("b") === b, subCol).otherwise(acc)
    }
    val offDf = broadcast(offsets.result().toDF("b", "sb", "off"))
    df.filter(col(score) >= bracketMin)
      .withColumn("b", bucketOf(col(score).cast("double"), lit(lo), lit(hi)))
      .withColumn("sb", sb)
      .join(offDf, Seq("b", "sb"))
      .withColumn("cum_w",
        col("off") + sum(col(w)).over(
          Window.partitionBy(col("b"), col("sb")).orderBy(col(score).desc, col(id))
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .filter(col("cum_w").cast("double") <= budget)
      .select(keep: _*)
  }
}
