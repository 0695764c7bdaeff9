package graft.operators

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Distributed exact quantiles (pandas `quantile` linear-interpolation
  * semantics — RemoveOutliers.fit, reference processing.py:47-55).
  *
  * The naive exact formulation ranks with `row_number()` over an
  * unpartitioned window — Spark funnels the entire column through ONE
  * task, which dies at the 100 TB design scale. This object computes the
  * same order statistics with no single-partition stage:
  *
  *   job 1  per-column min/max/count — one codegen aggregate scan.
  *   job 2  exact row counts + min/max per uniform value bucket
  *          ([[Buckets]] = 65536), all columns stacked into one scan;
  *          map-side combined, ≤ cols·65536 metadata rows to the driver —
  *          the same bounded-metadata pattern as Spark's RangePartitioner.
  *   job 3  only the ≤ 2·|qs| buckets that bracket a requested rank are
  *          re-scanned (per-bucket range filters, pushed to the parquet
  *          scan) and ranked *within* bucket — each bucket holds ~n/65536
  *          rows, so no task ever sorts more than a sliver of the data.
  *
  * Bucket ids are monotonic in the value, so
  * global_rank = cum_count(buckets below) + local_rank, exactly. Buckets
  * where bmin == bmax (point-mass skew: one value dominating the column)
  * are answered from the histogram alone — the skewed case is the CHEAP
  * case. A bucket can exceed ~n/65536 rows only when many DISTINCT values
  * crowd into one 1/65536th of the value range; such buckets (population
  * above [[RefineLimit]]) are RECURSIVELY re-histogrammed over their own
  * [bmin, bmax] — same jobs, 65536× finer per level, at most
  * [[MaxRefineDepth]] levels (65536³ ≈ 2.8e14 effective buckets) before
  * falling back to the in-bucket rank. So no task ever sorts more than
  * max(n/65536, RefineLimit) rows regardless of the value distribution.
  * The final interpolation is the same fixed IEEE expression as the
  * DuckDB oracles' [[sql]], so bit-for-bit hash matches are preserved.
  *
  * Precondition: no NULLs in the quantile columns (the reference drops NA
  * first; the TPC-H measure columns are NOT NULL).
  */
object Quantiles {
  val Buckets = 65536

  /** An in-bucket sort above this row count triggers one recursive
    * re-histogram level instead (4M doubles ≈ 32 MB — a comfortable
    * single-task sort; parameterized so specs can force the path).
    */
  val RefineLimit: Long = 1L << 22

  /** Recursion cap: bounded work even on adversarial distributions. */
  val MaxRefineDepth = 3

  /** Test instrumentation: recursive refinements performed by the most
    * recent driver-side quantile call (driver-single-threaded).
    */
  private[graft] var lastRefineCount: Int = 0

  /** Bucket id of `x` over [lo, hi]: 1..[[Buckets]], monotone in `x`, so
    * equal values share a bucket; 1 for a degenerate range (lo == hi),
    * where width_bucket itself is NULL. Column bounds, so literal bounds
    * (the guard folds away) and broadcast-joined per-group bounds share
    * one formula; a single fixed-size `when`, never a per-group arm.
    */
  def bucketOf(x: Column, lo: Column, hi: Column): Column =
    when(lo === hi, 1L)
      .otherwise(least(width_bucket(x, lo, hi, lit(Buckets)), lit(Buckets.toLong)))

  /** One bucket of an offset table: group key (null when ungrouped),
    * bucket id, each weight's bucket total and exclusive prefix within the
    * group, and whether every value in the bucket is equal.
    */
  final case class BucketOffset(g: String, b: Long, tot: Seq[BigInt], off: Seq[BigInt],
      pointmass: Boolean)

  /** The bucket-offset recipe's driver half — an exact running sum over a
    * value order without a single-partition sort. `bucketed` carries the
    * bucket id `b` (from [[bucketOf]]) and, when `grouped`, the string
    * group key `g`. ONE job collects each (g, b)'s weight totals and
    * `value` range (≤ groups·[[Buckets]] rows, bounded by construction);
    * the driver walks each group's buckets in value order (descending
    * when `descending`) and forms the exclusive prefix of every weight in
    * BigInt, so Decimal(38,0) cent sums cannot wrap.
    */
  def bucketOffsets(bucketed: DataFrame, value: Column, weights: Seq[Column],
      grouped: Boolean = false, descending: Boolean = false): Seq[BucketOffset] = {
    val keys = (if (grouped) Seq(col("g")) else Nil) :+ col("b")
    val k = keys.length
    bucketed.groupBy(keys: _*)
      .agg((min(value) === max(value)).as("pointmass"), weights.map(w => sum(w)): _*)
      .collect().toSeq.map { r =>
        val tot = weights.indices.map(i => r.get(k + 1 + i) match {
          case l: Long => BigInt(l)
          case d: java.math.BigDecimal => BigInt(d.toBigIntegerExact)
        })
        BucketOffset(if (grouped) r.getString(0) else null, r.getLong(k - 1), tot, Nil,
          r.getBoolean(k))
      }
      .groupBy(_.g).values.toSeq.flatMap { rows =>
        val ordered = rows.sortBy(o => if (descending) -o.b else o.b)
        val prefixes = ordered.scanLeft(weights.map(_ => BigInt(0))) { (acc, o) =>
          acc.zip(o.tot).map { case (a, t) => a + t }
        }
        ordered.zip(prefixes).map { case (o, off) => o.copy(off = off) }
      }
  }

  /** [[bucketOffsets]] broadcast back onto `bucketed`: every row gains its
    * bucket's exclusive prefix of weight i as column `weights(i)._1`
    * (typed as that weight's sum: long or decimal) plus `pointmass`.
    * Callers finish with their own in-bucket window over
    * `partitionBy([g,] b)`, e.g. `off + rank()` or `off + sum(w)`.
    */
  def withBucketOffsets(bucketed: DataFrame, value: Column, weights: Seq[(String, Column)],
      grouped: Boolean = false, descending: Boolean = false): DataFrame = {
    val keys = (if (grouped) Seq("g") else Nil) :+ "b"
    // analysis only, no job: each weight sum's type types its offset column
    val offFields = bucketed.select(weights.map { case (n, w) => sum(w).as(n) }: _*)
      .schema.fields.toSeq
    val schema = StructType(keys.map(k => StructField(k, if (k == "g") StringType else LongType)) ++
      offFields :+ StructField("pointmass", BooleanType))
    val rows = bucketOffsets(bucketed, value, weights.map(_._2), grouped, descending).map { o =>
      val offs = o.off.zip(offFields).map {
        case (v, f) if f.dataType == LongType => v.toLong
        case (v, _) => new java.math.BigDecimal(v.bigInteger)
      }
      Row.fromSeq((if (grouped) Seq(o.g) else Nil) ++ (o.b +: offs) :+ o.pointmass)
    }
    bucketed.join(broadcast(bucketed.sparkSession.createDataFrame(rows.asJava, schema)), keys)
  }

  /** Job-2 shape, exposed for PlanAuditSpec: stacked per-bucket histogram —
    * must stay a pure partial+final hash aggregate (no Window, no
    * single-partition exchange).
    */
  def bucketHistogram(df: DataFrame, specs: Seq[(String, Double, Double)]): DataFrame = {
    val entries = specs.map { case (c, _, _) =>
      struct(lit(c).as("c"), col(c).cast("double").as("x"))
    }
    val stacked = df.select(explode(array(entries: _*)).as("s"))
      .select(col("s.c").as("c"), col("s.x").as("x"))
    val b = coalesce(specs.map { case (c, lo, hi) =>
      when(col("c") === c, bucketOf(col("x"), lit(lo), lit(hi)))
    }: _*)
    stacked.groupBy(col("c"), b.as("b"))
      .agg(count(lit(1)).as("bc"), min(col("x")).as("bmin"), max(col("x")).as("bmax"))
  }

  /** Job-3 shape, exposed for PlanAuditSpec: bucket-local ranking — the
    * window partitions by bucket id, never an empty partition spec, and the
    * bucket range filters are plain comparisons the parquet scan can push.
    */
  def selectionDf(df: DataFrame, c: String, lo: Double, hi: Double,
      buckets: Seq[(Double, Double)]): DataFrame = {
    val cond = buckets.map { case (bmin, bmax) => col(c) >= bmin && col(c) <= bmax }
      .reduce(_ || _)
    df.filter(cond)
      .select(col(c).cast("double").as("x"))
      .withColumn("b", bucketOf(col("x"), lit(lo), lit(hi)))
      .withColumn("lrn", row_number().over(
        Window.partitionBy(col("b")).orderBy(col("x"))).cast("long"))
  }

  /** Grouped job-2 shape (q33): ONE scan histogramming every group against
    * its own [lo, hi] — a pure partial+final hash aggregate keyed on
    * (group, bucket), so parallelism is groups·65536, never group
    * cardinality. Group keys are strings (the boxplot-per-category case).
    */
  def groupedBucketHistogram(df: DataFrame, g: String, x: String,
      bounds: Seq[(String, Double, Double)]): DataFrame = {
    // restrict to the live (non-degenerate) groups: degenerate groups have
    // no bucket arm in the when-chain, and the IN-list prunes them at the
    // scan instead of surfacing NULL buckets
    val base = df.filter(col(g).isin(bounds.map(_._1): _*))
      .select(col(g).as("g"), col(x).cast("double").as("x"))
    val b = coalesce(bounds.map { case (gv, lo, hi) =>
      when(col("g") === gv, bucketOf(col("x"), lit(lo), lit(hi)))
    }: _*)
    base.groupBy(col("g"), b.as("b"))
      .agg(count(lit(1)).as("bc"), min(col("x")).as("bmin"), max(col("x")).as("bmax"))
  }

  /** Grouped job-3 shape: rank within (group, bucket) — the window
    * partition key has groups·buckets cardinality, and the (group = v AND
    * x in range) disjunction pushes to the parquet scan.
    */
  def groupedSelectionDf(df: DataFrame, g: String, x: String,
      bounds: Map[String, (Double, Double)],
      picks: Seq[(String, Double, Double)]): DataFrame = {
    val cond = picks.map { case (gv, bmin, bmax) =>
      col(g) === gv && col(x) >= bmin && col(x) <= bmax
    }.reduce(_ || _)
    val base = df.filter(cond).select(col(g).as("g"), col(x).cast("double").as("x"))
    val b = coalesce(bounds.toSeq.map { case (gv, (lo, hi)) =>
      when(col("g") === gv, bucketOf(col("x"), lit(lo), lit(hi)))
    }: _*)
    base.withColumn("b", b)
      .withColumn("lrn", row_number().over(
        Window.partitionBy(col("g"), col("b")).orderBy(col("x"))).cast("long"))
  }

  /** Walk the sorted histogram accumulating cumulative counts; for each
    * needed global rank return (bucket, local rank, bmin, bmax, bucket
    * count). Pure driver arithmetic over bounded metadata.
    */
  private def locate(hist: Seq[(Long, Long, Double, Double)], needed: Seq[Long])
      : Map[Long, (Long, Long, Double, Double, Long)] = {
    val m = scala.collection.mutable.Map[Long, (Long, Long, Double, Double, Long)]()
    var cum = 0L
    hist.foreach { case (b, bc, bmin, bmax) =>
      needed.foreach { rn =>
        if (rn > cum && rn <= cum + bc) m(rn) = (b, rn - cum, bmin, bmax, bc)
      }
      cum += bc
    }
    m.toMap
  }

  /** Resolve exact order statistics (1-based ranks of `df`'s `c`, whose
    * values all lie in [lo, hi]) given an already-collected histogram of
    * that range. Point-mass buckets answer from metadata; crowded buckets
    * above `refineLimit` recurse one histogram level; the rest rank
    * in-bucket via [[selectionDf]].
    */
  private def resolveWithHist(df: DataFrame, c: String, lo: Double, hi: Double,
      hist: Seq[(Long, Long, Double, Double)], ranks: Seq[Long], depth: Int,
      refineLimit: Long): Map[Long, Double] = {
    val located = locate(hist, ranks.distinct)
    val fast = located.collect { case (rn, (_, _, bmin, bmax, _)) if bmin == bmax => rn -> bmin }
    val rest = located.filterNot { case (_, (_, _, bmin, bmax, _)) => bmin == bmax }
    val (big, small) = rest.partition {
      case (_, (_, _, _, _, bc)) => bc > refineLimit && depth < MaxRefineDepth
    }
    val smallResolved: Map[Long, Double] =
      if (small.isEmpty) Map.empty
      else {
        val buckets = small.values.map(p => (p._3, p._4)).toSeq.distinct
        val sel = selectionDf(df, c, lo, hi, buckets)
        val wanted = small.map { case (rn, (b, lrn, _, _, _)) => (b, lrn) -> rn }
        val cond = wanted.keys.map { case (b, lrn) =>
          col("b") === b && col("lrn") === lrn
        }.reduce(_ || _)
        sel.filter(cond).select(col("b"), col("lrn"), col("x")).collect()
          .map(row => wanted((row.getLong(0), row.getLong(1))) -> row.getDouble(2)).toMap
      }
    val bigResolved: Map[Long, Double] = big.toSeq
      .groupBy { case (_, (b, _, bmin, bmax, _)) => (b, bmin, bmax) }
      .flatMap { case ((_, bmin, bmax), picks) =>
        lastRefineCount += 1
        val sub = df.filter(col(c) >= bmin && col(c) <= bmax)
        val localRanks = picks.map { case (_, (_, lrn, _, _, _)) => lrn }
        val resolved = resolveRanks(sub, c, bmin, bmax, localRanks, depth + 1, refineLimit)
        picks.map { case (rn, (_, lrn, _, _, _)) => rn -> resolved(lrn) }
      }
    fast ++ smallResolved ++ bigResolved
  }

  /** Histogram [lo, hi] of `df`'s `c`, then resolve `ranks` — the
    * recursive refinement level ([[resolveWithHist]] re-enters here for
    * value-crowded buckets with the bucket's own [bmin, bmax] range).
    */
  private def resolveRanks(df: DataFrame, c: String, lo: Double, hi: Double,
      ranks: Seq[Long], depth: Int, refineLimit: Long): Map[Long, Double] =
    if (lo == hi) ranks.map(_ -> lo).toMap
    else {
      val hist = bucketHistogram(df, Seq((c, lo, hi))).collect()
        .map(r => (r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4)))
        .toSeq.sortBy(_._1)
      resolveWithHist(df, c, lo, hi, hist, ranks, depth, refineLimit)
    }

  /** Ranks bracketing each requested quantile: h = q·(n−1), 1-based. */
  private def ranksFor(qs: Seq[Double], n: Long): Seq[(Double, Double, Long, Long)] =
    qs.map { q =>
      val h = q * (n.toDouble - 1.0)
      val rlo = math.floor(h).toLong + 1L
      val rhi = math.min(rlo + 1L, n)
      (q, h, rlo, rhi)
    }

  /** A double as SQL: a string cast of its exact binary value, which
    * parses back to the same double in DuckDB and Spark. (DuckDB 1.0 can
    * cast a long decimal literal to a different double:
    * `CAST(0.9500000000000001 AS DOUBLE)` is 0.95.)
    */
  def sqlDouble(v: Double): String =
    s"CAST('${new java.math.BigDecimal(v).toPlainString}' AS DOUBLE)"

  /** The SQL twin of [[exactQuantiles]] (and, with `group`, of
    * [[groupedExactQuantiles]]) for the DuckDB oracles: one SELECT of
    * ([g,] q, value) over `x` of relation `src`, with the brackets of
    * [[ranksFor]] and the same IEEE interpolation. `x` and `group` are
    * SQL expressions over `src`; the group key comes out as `g`. Plain
    * enough to run in Spark SQL too (QuantilesSpec checks it there).
    */
  def sql(src: String, x: String, qs: Seq[Double], group: Option[String] = None): String = {
    val (as, gk, pg, by, on) = group.fold(("", "", "", "", "")) { e =>
      (s"$e AS g, ", "g, ", "p.g, ", s" GROUP BY $e", "r.g = p.g AND ")
    }
    val over = group.fold("")(e => s"PARTITION BY $e ")
    val qList = qs.map(q => s"SELECT ${sqlDouble(q)} AS q").mkString(" UNION ALL ")
    s"""SELECT ${gk}q, x_lo + (x_hi - x_lo) * (h - FLOOR(h)) AS value FROM (
       |  SELECT ${pg}p.q, p.h,
       |    MAX(CASE WHEN r.rn = p.rlo THEN r.x END) AS x_lo,
       |    MAX(CASE WHEN r.rn = p.rhi THEN r.x END) AS x_hi
       |  FROM (SELECT $as$x AS x, ROW_NUMBER() OVER (${over}ORDER BY $x) AS rn FROM $src) r
       |  JOIN (SELECT ${gk}q, q * (cnt - 1.0) AS h,
       |      CAST(FLOOR(q * (cnt - 1.0)) AS BIGINT) + 1 AS rlo,
       |      LEAST(CAST(FLOOR(q * (cnt - 1.0)) AS BIGINT) + 2, CAST(cnt AS BIGINT)) AS rhi
       |    FROM (SELECT ${as}CAST(COUNT(*) AS DOUBLE) AS cnt FROM $src$by) n,
       |      ($qList) qs) p
       |    ON $on(r.rn = p.rlo OR r.rn = p.rhi)
       |  GROUP BY ${pg}p.q, p.h) b""".stripMargin
  }

  /** (col, q, value) for every requested quantile of every column, driver-
    * assembled from distributed order statistics. Everything collected is
    * bounded metadata (histogram rows / bracketing order statistics), never
    * data-proportional.
    */
  def exactQuantiles(df: DataFrame, cols: Seq[String], qs: Seq[Double],
      refineLimit: Long = RefineLimit): Seq[(String, Double, Double)] = {
    lastRefineCount = 0
    // job 1 — per-column bounds + count in one aggregate
    val aggs = cols.flatMap(c => Seq(
      min(col(c).cast("double")).as(s"${c}__lo"),
      max(col(c).cast("double")).as(s"${c}__hi"),
      count(col(c)).as(s"${c}__n")))
    val r = df.agg(aggs.head, aggs.tail: _*).head()
    val bounds = cols.map { c =>
      c -> (r.getAs[Double](s"${c}__lo"), r.getAs[Double](s"${c}__hi"), r.getAs[Long](s"${c}__n"))
    }.toMap

    // job 2 — one stacked histogram scan for all non-degenerate columns
    val histSpecs = cols.filter(c => bounds(c)._3 > 0 && bounds(c)._1 != bounds(c)._2)
      .map(c => (c, bounds(c)._1, bounds(c)._2))
    val hist: Map[String, Seq[(Long, Long, Double, Double)]] =
      if (histSpecs.isEmpty) Map.empty
      else bucketHistogram(df, histSpecs).collect()
        .map(row => (row.getString(0), row.getLong(1), row.getLong(2), row.getDouble(3), row.getDouble(4)))
        .groupBy(_._1)
        .map { case (c, rows) =>
          c -> rows.map(t => (t._2, t._3, t._4, t._5)).toSeq.sortBy(_._1)
        }

    cols.flatMap { c =>
      val (lo, hi, n) = bounds(c)
      if (n == 0L) Seq.empty
      else if (lo == hi) qs.map(q => (c, q, lo))
      else {
        val rks = ranksFor(qs, n)
        val needed = rks.flatMap { case (_, _, rlo, rhi) => Seq(rlo, rhi) }.distinct
        // job 3 — point-mass fast path / in-bucket rank / recursive refine
        val at = resolveWithHist(df, c, lo, hi, hist(c), needed, 0, refineLimit)
        rks.map { case (q, hh, rlo, rhi) =>
          val xLo = at(rlo)
          val xHi = at(rhi)
          // same fixed IEEE interpolation as the DuckDB oracle
          (c, q, xLo + (xHi - xLo) * (hh - math.floor(hh)))
        }
      }
    }
  }

  /** (group, q, value) — per-group exact quantiles (q33, the EDA
    * boxplot-per-category) with the SAME jobs as [[exactQuantiles]] but
    * keyed on (group, bucket): one stats pass, one grouped histogram
    * pass, one grouped in-bucket rank pass, all partial-aggregable. The
    * point is LOW-cardinality groups — a `row_number() over
    * partitionBy(group)` plan caps parallelism at the number of groups
    * (3 for l_returnflag), while the (group, bucket) key fans out to
    * groups·65536. (High-cardinality groups don't need this: there the
    * plain grouped window already has parallelism ≥ cores.) Per-group
    * driver metadata is bounded by groups·65536 histogram rows — the
    * documented precondition is that group cardinality is dashboard-
    * scale, which is exactly when this path is needed.
    */
  /** Job-1 shape shared by the grouped entry points: per-group
    * (lo, hi, n) — bounded by group cardinality (the documented
    * precondition of the grouped histogram path).
    */
  def groupedStats(df: DataFrame, g: String, x: String): Seq[(String, Double, Double, Long)] =
    df.groupBy(col(g)).agg(
        min(col(x).cast("double")).as("lo"),
        max(col(x).cast("double")).as("hi"),
        count(col(x)).as("n"))
      .collect()
      .map(r => (r.getString(0), r.getDouble(1), r.getDouble(2), r.getLong(3)))
      .toSeq.sortBy(_._1)

  /** Core of the grouped path: resolve explicit per-group 1-based ranks
    * to exact order statistics — one (group, bucket) histogram scan, one
    * grouped in-bucket rank scan, recursion for value-crowded buckets.
    */
  private def groupedResolve(df: DataFrame, g: String, x: String,
      stats: Seq[(String, Double, Double, Long)],
      neededPerGroup: Map[String, Seq[Long]],
      refineLimit: Long): Map[(String, Long), Double] = {
    // job 2 — one (group, bucket) histogram scan for all live groups
    val histSpecs = stats.filter(s => s._4 > 0 && s._2 != s._3)
      .filter(s => neededPerGroup.getOrElse(s._1, Nil).nonEmpty)
      .map(s => (s._1, s._2, s._3))
    val boundsMap = histSpecs.map(s => s._1 -> (s._2, s._3)).toMap
    val hist: Map[String, Seq[(Long, Long, Double, Double)]] =
      if (histSpecs.isEmpty) Map.empty
      else groupedBucketHistogram(df, g, x, histSpecs).collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4)))
        .groupBy(_._1)
        .map { case (gv, rows) =>
          gv -> rows.map(t => (t._2, t._3, t._4, t._5)).toSeq.sortBy(_._1)
        }

    // locate every needed rank; split into fast / small / refine picks
    case class Need(gv: String, rn: Long, b: Long, lrn: Long,
        bmin: Double, bmax: Double, bc: Long)
    val needs: Seq[Need] = histSpecs.flatMap { case (gv, _, _) =>
      val needed = neededPerGroup(gv).distinct
      locate(hist(gv), needed).toSeq.map { case (rn, (b, lrn, bmin, bmax, bc)) =>
        Need(gv, rn, b, lrn, bmin, bmax, bc)
      }
    }
    val fast: Map[(String, Long), Double] =
      needs.filter(nd => nd.bmin == nd.bmax).map(nd => (nd.gv, nd.rn) -> nd.bmin).toMap
    val rest = needs.filter(nd => nd.bmin != nd.bmax)
    val (big, small) = rest.partition(nd => nd.bc > refineLimit)

    // job 3 — ONE grouped selection pass for all in-bucket ranks
    val smallResolved: Map[(String, Long), Double] =
      if (small.isEmpty) Map.empty
      else {
        val picks = small.map(nd => (nd.gv, nd.bmin, nd.bmax)).distinct
        val sel = groupedSelectionDf(df, g, x, boundsMap, picks)
        val wanted = small.map(nd => (nd.gv, nd.b, nd.lrn) -> (nd.gv, nd.rn)).toMap
        val cond = wanted.keys.map { case (gv, b, lrn) =>
          col("g") === gv && col("b") === b && col("lrn") === lrn
        }.reduce(_ || _)
        sel.filter(cond).select(col("g"), col("b"), col("lrn"), col("x")).collect()
          .map(row => wanted((row.getString(0), row.getLong(1), row.getLong(2))) -> row.getDouble(3))
          .toMap
      }

    // refine value-crowded buckets per (group, bucket), group-filtered
    val bigResolved: Map[(String, Long), Double] = big
      .groupBy(nd => (nd.gv, nd.b, nd.bmin, nd.bmax))
      .flatMap { case ((gv, _, bmin, bmax), picks) =>
        lastRefineCount += 1
        val sub = df.filter(col(g) === gv && col(x) >= bmin && col(x) <= bmax)
        val resolved = resolveRanks(sub, x, bmin, bmax, picks.map(_.lrn), 1, refineLimit)
        picks.map(nd => (nd.gv, nd.rn) -> resolved(nd.lrn))
      }

    fast ++ smallResolved ++ bigResolved
  }

  /** (group, q, value) — per-group exact quantiles over the grouped
    * machinery above; see [[groupedBucketHistogram]] for the shape.
    */
  def groupedExactQuantiles(df: DataFrame, g: String, x: String, qs: Seq[Double],
      refineLimit: Long = RefineLimit): Seq[(String, Double, Double)] = {
    lastRefineCount = 0
    val stats = groupedStats(df, g, x)
    val neededPerGroup = stats.filter(s => s._4 > 0 && s._2 != s._3).map { s =>
      s._1 -> ranksFor(qs, s._4).flatMap { case (_, _, rlo, rhi) => Seq(rlo, rhi) }
    }.toMap
    val at = groupedResolve(df, g, x, stats, neededPerGroup, refineLimit)
    stats.filter(_._4 > 0).flatMap { case (gv, lo, hi, n) =>
      if (lo == hi) qs.map(q => (gv, q, lo))
      else ranksFor(qs, n).map { case (q, hh, rlo, rhi) =>
        val xLo = at((gv, rlo))
        val xHi = at((gv, rhi))
        (gv, q, xLo + (xHi - xLo) * (hh - math.floor(hh)))
      }
    }
  }

  /** Per-group nth-smallest value (1-based): group → the exact order
    * statistic, from the same (group, bucket) machinery. Groups with
    * ≤ nth rows (or a constant value) return their max, so
    * `x <= threshold` keeps the whole group — the contract
    * q41's exact-n-per-group sampler relies on.
    */
  def groupedNth(df: DataFrame, g: String, x: String, nth: Long,
      refineLimit: Long = RefineLimit): Map[String, Double] = {
    lastRefineCount = 0
    val stats = groupedStats(df, g, x)
    val neededPerGroup = stats
      .filter(s => s._4 > nth && s._2 != s._3)
      .map(s => s._1 -> Seq(nth)).toMap
    val at = groupedResolve(df, g, x, stats, neededPerGroup, refineLimit)
    stats.filter(_._4 > 0).map { case (gv, lo, hi, n) =>
      if (n <= nth || lo == hi) gv -> hi
      else gv -> at((gv, nth))
    }.toMap
  }
}
