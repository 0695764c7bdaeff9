package graft.operators

import graft.{Exact, Q, Tables, Module}
import graft.Exact._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** SURVEY §2.A — relational / EDA core.
  *
  * Re-expresses the reference's pandas EDA surface
  * (`notebooks/eda_processing.ipynb`: describe/value_counts/quantiles/
  * corr/crosstab, boolean-mask filters, merges, concat, train_test_split)
  * as declarative Spark plans: groupBy/agg with partial aggregation,
  * broadcast joins for dims, window functions, TakeOrdered for top-k.
  * Every aggregate follows the [[graft.Exact]] decimal recipe so results
  * hash-match the DuckDB oracle bit-for-bit.
  */
object RelationalA extends Module {

  // q01 — grouped aggregation (pandas df.groupby().agg). Two-level grid
  // sum: level 1 groups by (keys, partition-id) with LONG partial sums —
  // whole-stage-codegen primitive adds, map-side combined, overflow-safe
  // within a SCAN split's bounded row count (≤ maxPartitionBytes);
  // level 2 merges the tiny partial set exactly in DECIMAL(38,0). NO
  // full-data shuffle anywhere: the only exchange carries the
  // partitions×groups level-1 partials (de-fanned in round 4 — the
  // parallelism repartition was a pure extra shuffle for a
  // partial-aggregable scan). DuckDB's flat hugeint sum over the same
  // grid integers yields the identical total.
  private val q01 = Q(
    "q01_agg",
    (s, d) => {
      val l = Tables.lineitem(s, d)
      val l1 = l.groupBy(col("l_returnflag"), col("l_linestatus"),
          spark_partition_id().as("_pid"))
        .agg(
          sum(Exact.qzl(col("l_quantity"), 1000.0)).as("p_sq"),
          sum(Exact.qzl(col("l_extendedprice"), 1000.0)).as("p_sb"),
          sum(Exact.qzl(col("l_extendedprice") * (lit(1.0) - col("l_discount")), 1000000.0)).as("p_sd"),
          count(lit(1)).as("p_n"))
      l1.groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          Exact.mergeGrid(col("p_sq"), 1000.0).as("sum_qty"),
          Exact.mergeGrid(col("p_sb"), 1000.0).as("sum_base_price"),
          Exact.mergeGrid(col("p_sd"), 1000000.0).as("sum_disc_price"),
          (Exact.mergeGrid(col("p_sq"), 1000.0) / sum(col("p_n")).cast("double")).as("avg_qty"),
          sum(col("p_n")).as("count_order"))
        .orderBy("l_returnflag", "l_linestatus")
    },
    Some(s"""SELECT l_returnflag, l_linestatus,
      |  ${sqlSumg("l_quantity", "1000.0")} AS sum_qty,
      |  ${sqlSumg("l_extendedprice", "1000.0")} AS sum_base_price,
      |  ${sqlSumg("l_extendedprice * (CAST(1.0 AS DOUBLE) - l_discount)", "1000000.0")} AS sum_disc_price,
      |  ${sqlSumg("l_quantity", "1000.0")} / CAST(COUNT(*) AS DOUBLE) AS avg_qty,
      |  COUNT(*) AS count_order
      |FROM lineitem GROUP BY l_returnflag, l_linestatus
      |ORDER BY l_returnflag, l_linestatus""".stripMargin)
  )

  // q02 — predicate + projection; filter and the 5-column ReadSchema reach
  // the parquet scan (PushedFilters on l_shipdate / l_returnflag).
  private val q02 = Q(
    "q02_filter_project",
    (s, d) => {
      Tables.lineitem(s, d)
        .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1997-01-01").cast("timestamp") &&
          col("l_returnflag") === "R")
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
          (col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("revenue"))
    },
    Some("""SELECT l_orderkey, l_linenumber, l_quantity,
      |  l_extendedprice * (CAST(1.0 AS DOUBLE) - l_discount) AS revenue
      |FROM lineitem
      |WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
      |  AND l_returnflag = 'R'
      |""".stripMargin)
  )

  // q03 — multi-way join + aggregate (pd.merge chain). customer joins
  // broadcast (dim side ≤ millions of rows at any SF); lineitem⋈orders
  // shuffles once on orderkey; AQE free to re-plan at runtime.
  private val q03 = Q(
    "q03_join_agg",
    (s, d) => {
      val l = Tables.lineitem(s, d)
      val o = Tables.orders(s, d)
      val c = Tables.customer(s, d)
      // Aggregation pushed BELOW the join: level 1 groups the fact side
      // by l_orderkey alone with LONG grid partial sums (≤7 lineitems/
      // order ⇒ no overflow at any scale). No fanout pre-shuffle —
      // lineitems of an order are contiguous in the scan, so map-side
      // combine collapses 600M rows to ~order-count partials BEFORE the
      // exchange (the r4 q01 lesson; a fanoutBy here would shuffle the
      // full fact width instead). The join then carries one row per
      // ORDER (150M at sf100), not one per lineitem (600M), and the
      // equivalence is exact because l_orderkey→orders is an inner FK
      // join (whole orders survive or drop together; q105 audits the
      // integrity). countDistinct(orderkey) degenerates to a plain
      // count of the per-order rows; level 2 merges exactly in decimal.
      l.groupBy(col("l_orderkey"))
        .agg(
          sum(Exact.qzl(col("l_extendedprice") * (lit(1.0) - col("l_discount")), 1000000.0)).as("p_rev"),
          count(lit(1)).as("p_n"))
        .join(o, col("l_orderkey") === col("o_orderkey"))
        .dimJoin(c, col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_mktsegment"))
        .agg(
          Exact.mergeGrid(col("p_rev"), 1000000.0).as("revenue"),
          count(lit(1)).as("n_orders"),
          sum(col("p_n")).as("n_rows"))
        .orderBy("c_mktsegment")
    },
    Some(s"""SELECT c_mktsegment,
      |  ${sqlSumg("l_extendedprice * (CAST(1.0 AS DOUBLE) - l_discount)", "1000000.0")} AS revenue,
      |  COUNT(DISTINCT l_orderkey) AS n_orders,
      |  COUNT(*) AS n_rows
      |FROM lineitem
      |JOIN orders ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin)
  )

  // q04 — explicit broadcast join of a filtered dim (part): no shuffle of
  // the fact side at all; the filter prunes the build side before broadcast.
  private val q04 = Q(
    "q04_broadcast_join",
    (s, d) => {
      val l = Tables.lineitem(s, d)
      val p = Tables.part(s, d).filter(col("p_type") === "PROMO")
      Exact.dimJoin(l, p, col("l_partkey") === col("p_partkey"))
        .groupBy(col("p_brand"), spark_partition_id().as("_pid"))
        .agg(
          sum(Exact.qzl(col("l_extendedprice") * (lit(1.0) - col("l_discount")), 1000000.0)).as("p_rev"),
          sum(Exact.qzl(col("l_quantity"), 1000.0)).as("p_sq"),
          count(lit(1)).as("p_n"))
        .groupBy(col("p_brand"))
        .agg(
          Exact.mergeGrid(col("p_rev"), 1000000.0).as("promo_revenue"),
          Exact.mergeGrid(col("p_sq"), 1000.0).as("sum_qty"),
          sum(col("p_n")).as("n_rows"))
        .orderBy("p_brand")
    },
    Some(s"""SELECT p_brand,
      |  ${sqlSumg("l_extendedprice * (CAST(1.0 AS DOUBLE) - l_discount)", "1000000.0")} AS promo_revenue,
      |  ${sqlSumg("l_quantity", "1000.0")} AS sum_qty,
      |  COUNT(*) AS n_rows
      |FROM lineitem JOIN part ON l_partkey = p_partkey
      |WHERE p_type = 'PROMO'
      |GROUP BY p_brand ORDER BY p_brand""".stripMargin)
  )

  // q05 — window functions (pandas rank / cumsum): one shuffle on
  // o_custkey serves both windows; running sum is exact decimal so frame
  // evaluation order can't change the result. ROWS frame + unique tiebreak
  // key makes rows fully deterministic.
  private val q05 = Q(
    "q05_window",
    (s, d) => {
      val o = Tables.orders(s, d)
      val wRank = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      val wRun = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate"), col("o_orderkey"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      o.select(col("o_orderkey"), col("o_custkey"),
          rank().over(wRank).cast("long").as("price_rank"),
          sum(d6(col("o_totalprice"))).over(wRun).cast("double").as("running_spend"))
      // NO trailing orderBy (r14): both windows already share the one
      // o_custkey hash exchange; a global sort after them range-shuffled
      // the entire per-order surface (150M rows at sf100) a second time
      // for an ordering nothing consumes. The correctness compare is a
      // multiset; the oracle twin drops its ORDER BY too (tx_quality
      // precedent).
    },
    Some("""SELECT o_orderkey, o_custkey,
      |  RANK() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS price_rank,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) OVER (
      |    PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_spend
      |FROM orders""".stripMargin)
  )

  // q06 — df.describe(): one single-pass partial aggregation computes
  // count/sum/sum² /min/max for all columns, then a driver-free stack()
  // unpivots to long form. mean/std are fixed IEEE expressions over exact
  // decimal sums (stddev_samp, ddof=1, matching pandas).
  private val describeCols = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
  private val q06 = Q(
    "q06_describe",
    (s, d) => {
      val l = Tables.lineitem(s, d)
      // std goes through the same 1e-3 integer-grid quantization as q10
      // (exact integer sums, no double→decimal ambiguity, cancellation-safe);
      // the grid factor divides back out of the final IEEE expression.
      def qz(c: String): Column = Exact.qzl(col(c), 1000.0).cast(DecimalType(19, 0))
      val aggs = describeCols.flatMap { c =>
        Seq(
          count(lit(1)).as(s"${c}_cnt"),
          sumd(col(c)).as(s"${c}_sx"),
          // dec2d readouts: extendedprice's Σz² backs ~6e22 at sf1 —
          // past 2^64, where the direct decimal→double cast is
          // engine-divergent (SURVEY §5)
          Exact.dec2d(sum(qz(c))).as(s"${c}_sxq"),
          Exact.dec2d(sum(qz(c) * qz(c))).as(s"${c}_sxxq"),
          min(col(c)).as(s"${c}_min"),
          max(col(c)).as(s"${c}_max"))
      }
      // single scan: all four columns' moments in one aggregate, unpivoted
      // from the 1-row result (union-of-selects would scan 4×)
      val a = l.agg(aggs.head, aggs.tail: _*)
      val rows = describeCols.map { c =>
        val n = col(s"${c}_cnt").cast("double")
        struct(
          lit(c).as("col_name"),
          col(s"${c}_cnt").as("cnt"),
          (col(s"${c}_sx") / n).as("mean"),
          (sqrt((col(s"${c}_sxxq") - (col(s"${c}_sxq") * col(s"${c}_sxq")) / n) / (n - lit(1.0))) / lit(1000.0)).as("std"),
          col(s"${c}_min").as("min_v"),
          col(s"${c}_max").as("max_v"))
      }
      a.select(inline(array(rows: _*))).orderBy("col_name")
    },
    Some {
      def qz(c: String) = s"CAST(ROUND($c*1000.0) AS DECIMAL(19,0))"
      def d2(e: String) = graft.Exact.sqlDec2d(s"CAST($e AS HUGEINT)")
      val parts = describeCols.map { c =>
        s"""SELECT '$c' AS col_name, COUNT(*) AS cnt,
           |  ${sqlSumd(c)} / CAST(COUNT(*) AS DOUBLE) AS mean,
           |  SQRT((${d2(s"SUM(${qz(c)} * ${qz(c)})")} - (${d2(s"SUM(${qz(c)})")} * ${d2(s"SUM(${qz(c)})")}) / CAST(COUNT(*) AS DOUBLE)) / (CAST(COUNT(*) AS DOUBLE) - 1.0)) / 1000.0 AS std,
           |  MIN($c) AS min_v, MAX($c) AS max_v FROM lineitem""".stripMargin
      }
      parts.mkString("", "\nUNION ALL\n", "\nORDER BY col_name")
    }
  )

  /** Exact linear-interpolation quantiles (pandas `quantile` semantics,
    * the reference's RemoveOutliers.fit, processing.py:47-55), computed by
    * [[Quantiles]]' distributed bucket-histogram selection: no stage ranks
    * more than ~n/65536 rows, vs the naive unpartitioned row_number window
    * that funnels the whole column through one task. Same interpolation
    * expression as the oracle, so the hash-match is preserved. Rows are
    * sorted on the driver by (col_name, q).
    */
  private def quantileDf(df: DataFrame, cols: Seq[String], qs: Seq[Double])(implicit s: SparkSession): DataFrame = {
    import s.implicits._
    Quantiles.exactQuantiles(df, cols, qs).sortBy(r => (r._1, r._2)).toDF("col_name", "q", "value")
  }

  private val q07 = Q(
    "q07_quantiles",
    (s, d) => {
      implicit val sp: SparkSession = s
      val l = Tables.lineitem(s, d)
      val qs = Seq(0.25, 0.5, 0.75)
      quantileDf(l, Seq("l_quantity", "l_extendedprice"), qs)
    },
    Some(Seq("l_quantity", "l_extendedprice").map { c =>
      s"SELECT '$c' AS col_name, q, value FROM (${Quantiles.sql("lineitem", c, Seq(0.25, 0.5, 0.75))}) t"
    }.mkString("", "\nUNION ALL\n", "\nORDER BY col_name, q"))
  )

  // q08 — IQR winsorize (RemoveOutliers.transform, processing.py:57-63):
  // two-phase — tiny quantile aggregate broadcast to a narrow map stage
  // (no wide shuffle of the fact table).
  private val q08 = Q(
    "q08_outlier_clip",
    (s, d) => {
      implicit val sp: SparkSession = s
      val l = Tables.lineitem(s, d)
      val qdf = quantileDf(l, Seq("l_extendedprice"), Seq(0.25, 0.75))
      val bounds = qdf.agg(
          max(when(col("q") === lit(0.25), col("value"))).as("q1"),
          max(when(col("q") === lit(0.75), col("value"))).as("q3"))
        .select(
          (col("q3") + lit(1.5) * (col("q3") - col("q1"))).as("r"),
          (col("q1") - lit(1.5) * (col("q3") - col("q1"))).as("l_b"))
      l.crossJoin(broadcast(bounds))
        .select(col("l_orderkey"), col("l_linenumber"),
          when(col("l_extendedprice") > col("r"), col("r"))
            .when(col("l_extendedprice") < col("l_b"), col("l_b"))
            .otherwise(col("l_extendedprice")).as("clipped_price"))
    },
    Some {
      s"""WITH quant AS (${Quantiles.sql("lineitem", "l_extendedprice", Seq(0.25, 0.75))}),
         |b AS (
         |  SELECT q3 + 1.5 * (q3 - q1) AS r, q1 - 1.5 * (q3 - q1) AS l_b FROM (
         |    SELECT MAX(CASE WHEN q = ${Quantiles.sqlDouble(0.25)} THEN value END) AS q1,
         |           MAX(CASE WHEN q = ${Quantiles.sqlDouble(0.75)} THEN value END) AS q3 FROM quant)
         |)
         |SELECT l_orderkey, l_linenumber,
         |  CASE WHEN l_extendedprice > r THEN r
         |       WHEN l_extendedprice < l_b THEN l_b
         |       ELSE l_extendedprice END AS clipped_price
         |FROM lineitem, b
         |""".stripMargin
    }
  )

  // q09 — value_counts(normalize=True): group + count, proportion against
  // a broadcast 1-row total (no second shuffle).
  private val q09 = Q(
    "q09_value_counts",
    (s, d) => {
      val o = Tables.orders(s, d)
      val total = o.agg(count(lit(1)).as("total"))
      o.groupBy(col("o_orderpriority")).agg(count(lit(1)).as("cnt"))
        .crossJoin(broadcast(total))
        .select(col("o_orderpriority"), col("cnt"),
          (col("cnt").cast("double") / col("total").cast("double")).as("proportion"))
        .orderBy(col("cnt").desc, col("o_orderpriority"))
    },
    Some("""SELECT o_orderpriority, COUNT(*) AS cnt,
      |  CAST(COUNT(*) AS DOUBLE) / (SELECT CAST(COUNT(*) AS DOUBLE) FROM orders) AS proportion
      |FROM orders GROUP BY o_orderpriority
      |ORDER BY cnt DESC, o_orderpriority""".stripMargin)
  )

  // q10 — Pearson correlation matrix (EDA corr heatmap). NOT Spark's
  // streaming corr (order-dependent co-moments). Inputs are quantized to a
  // fixed 1e-3 grid (ROUND(x*1000) — half-away-from-zero in both engines),
  // so every sum / sum-of-products is *exact integer* arithmetic in
  // DECIMAL(38,0): bit-identical across engines with no double→decimal
  // rounding ambiguity, and the (cancellation-heavy) corr formula then
  // evaluates identical IEEE doubles on both sides. Single pass, one
  // partial-aggregable reduce; corr is scale-invariant so the grid drops out.
  // Per-column quantization grids for correlation moments: chosen so every
  // |qz| ≤ 6e5 ⇒ products ≤ 3.6e11 ⇒ per-partition LONG sums stay exact at
  // any realistic partition size (5M rows ⇒ 1.8e18 < 2^63). Pearson corr
  // is invariant under per-column linear scaling, so the grids cancel.
  // discount/tax/quantity grids are exact for this fixed-point data;
  // extendedprice rounds to 1.0 units (corr perturbation ~1e-5, and the
  // oracle applies the identical definition).
  private val corrCols = Seq(
    ("l_quantity", 1000.0), ("l_extendedprice", 1.0),
    ("l_discount", 100000.0), ("l_tax", 100000.0))
  private val q10 = Q(
    "q10_corr",
    (s, d) => {
      val l = Tables.lineitem(s, d)
      def qz(cg: (String, Double)): Column = Exact.qzl(col(cg._1), cg._2)
      val pairs = for {
        i <- corrCols.indices; j <- corrCols.indices if i < j
      } yield (corrCols(i), corrCols(j))
      // level 1: LONG moment sums per input partition (codegen primitive
      // adds, one scan); level 2: exact decimal merge of ≤ partitions rows.
      val l1aggs = corrCols.map(c => sum(qz(c)).as(s"p_s_${c._1}")) ++
        corrCols.map(c => sum(qz(c) * qz(c)).as(s"p_ss_${c._1}")) ++
        pairs.map { case (a, b) => sum(qz(a) * qz(b)).as(s"p_sp_${a._1}_${b._1}") } :+
        count(lit(1)).as("p_n")
      val l1 = l.groupBy(spark_partition_id().as("_pid"))
        .agg(l1aggs.head, l1aggs.tail: _*)
      // dec2d readout: the merged Σz² reaches 2^64 around sf300 on
      // these grids — route now so the shape holds (SURVEY §5)
      def m(a: String) = Exact.dec2d(sum(col(a).cast(DecimalType(38, 0))))
      val l2aggs = corrCols.map(c => m(s"p_s_${c._1}").as(s"s_${c._1}")) ++
        corrCols.map(c => m(s"p_ss_${c._1}").as(s"ss_${c._1}")) ++
        pairs.map { case (a, b) => m(s"p_sp_${a._1}_${b._1}").as(s"sp_${a._1}_${b._1}") } :+
        sum(col("p_n")).cast("double").as("n")
      val a = l1.agg(l2aggs.head, l2aggs.tail: _*)
      // the 6 matrix cells unpivot from the single aggregated row via
      // inline(array(struct...)) — a union of per-pair selects would
      // re-scan the fact table once per pair.
      val cells = pairs.map { case ((x, _), (y, _)) =>
        struct(lit(x).as("col_x"), lit(y).as("col_y"),
          ((col("n") * col(s"sp_${x}_$y") - col(s"s_$x") * col(s"s_$y")) /
            (sqrt(col("n") * col(s"ss_$x") - col(s"s_$x") * col(s"s_$x")) *
              sqrt(col("n") * col(s"ss_$y") - col(s"s_$y") * col(s"s_$y")))).as("corr"))
      }
      a.select(inline(array(cells: _*))).orderBy("col_x", "col_y")
    },
    Some {
      val g = corrCols.toMap
      def qz(c: String) = s"CAST(ROUND($c*${g(c)}) AS BIGINT)"
      def sd(c: String) = graft.Exact.sqlDec2d(s"SUM(${qz(c)})")
      def sp(a: String, b: String) = graft.Exact.sqlDec2d(s"SUM(${qz(a)} * ${qz(b)})")
      val names = corrCols.map(_._1)
      val pairs = for {
        i <- names.indices; j <- names.indices if i < j
      } yield (names(i), names(j))
      val parts = pairs.map { case (x, y) =>
        s"""SELECT '$x' AS col_x, '$y' AS col_y,
           |  (CAST(COUNT(*) AS DOUBLE) * ${sp(x, y)} - ${sd(x)} * ${sd(y)}) /
           |  (SQRT(CAST(COUNT(*) AS DOUBLE) * ${sp(x, x)} - ${sd(x)} * ${sd(x)}) *
           |   SQRT(CAST(COUNT(*) AS DOUBLE) * ${sp(y, y)} - ${sd(y)} * ${sd(y)})) AS corr
           |FROM lineitem""".stripMargin
      }
      parts.mkString("", "\nUNION ALL\n", "\nORDER BY col_x, col_y")
    }
  )

  // q11 — pd.crosstab: contingency counts, dim join broadcast, pivot over
  // the (known, enumerable) status domain.
  private val q11 = Q(
    "q11_crosstab",
    (s, d) => {
      val o = Tables.orders(s, d)
      val c = Tables.customer(s, d)
      Exact.dimJoin(o, c, col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_mktsegment"))
        .pivot("o_orderstatus", Seq("F", "O", "P"))
        .agg(count(lit(1)))
        .select(col("c_mktsegment"),
          coalesce(col("F"), lit(0L)).as("F"),
          coalesce(col("O"), lit(0L)).as("O"),
          coalesce(col("P"), lit(0L)).as("P"))
        .orderBy("c_mktsegment")
    },
    Some("""SELECT c_mktsegment,
      |  COUNT(CASE WHEN o_orderstatus = 'F' THEN 1 END) AS "F",
      |  COUNT(CASE WHEN o_orderstatus = 'O' THEN 1 END) AS "O",
      |  COUNT(CASE WHEN o_orderstatus = 'P' THEN 1 END) AS "P"
      |FROM orders JOIN customer ON o_custkey = c_custkey
      |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin)
  )

  // q12 — null / "Missing" profile (isna().sum() + the reference's literal
  // 'Missing' sentinel, processing.py:124): single-pass aggregate, long form.
  private val q12 = Q(
    "q12_null_profile",
    (s, d) => {
      val c = Tables.customer(s, d)
      val cols = Seq("c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment")
      val strCols = Set("c_name", "c_mktsegment")
      val aggs = cols.flatMap { cc =>
        Seq(
          (count(lit(1)) - count(col(cc))).as(s"${cc}_nulls"),
          (if (strCols(cc)) count(when(col(cc) === "Missing", 1))
           else lit(0L)).as(s"${cc}_missing"))
      }
      val a = c.agg(aggs.head, aggs.tail: _*)
      cols.map { cc =>
        a.select(lit(cc).as("col_name"), col(s"${cc}_nulls").as("n_null"),
          col(s"${cc}_missing").as("n_missing_label"))
      }.reduce(_.unionAll(_)).orderBy("col_name")
    },
    Some {
      val cols = Seq("c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment")
      val strCols = Set("c_name", "c_mktsegment")
      val parts = cols.map { cc =>
        val miss = if (strCols(cc)) s"COUNT(CASE WHEN $cc = 'Missing' THEN 1 END)"
                   else "CAST(0 AS BIGINT)"
        s"SELECT '$cc' AS col_name, COUNT(*) - COUNT($cc) AS n_null, $miss AS n_missing_label FROM customer"
      }
      parts.mkString("", "\nUNION ALL\n", "\nORDER BY col_name")
    }
  )

  // q13 — top-k (nlargest): orderBy+limit compiles to TakeOrdered — each
  // partition keeps k rows, no global sort materialization.
  private val q13 = Q(
    "q13_topk",
    (s, d) => {
      Tables.orders(s, d)
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .limit(15)
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
    },
    Some("""SELECT o_orderkey, o_custkey, o_totalprice
      |FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 15""".stripMargin)
  )

  // q14 — distinct / drop_duplicates: hash aggregate on the pair.
  private val q14 = Q(
    "q14_distinct",
    (s, d) => {
      Tables.customer(s, d)
        .select(col("c_mktsegment"), col("c_nationkey"))
        .distinct()
        .orderBy("c_mktsegment", "c_nationkey")
    },
    Some("""SELECT DISTINCT c_mktsegment, c_nationkey FROM customer
      |ORDER BY c_mktsegment, c_nationkey""".stripMargin)
  )

  // q15 — semi + anti join (pandas isin / ~isin masks): left_semi/left_anti
  // never materialize the probe side's payload.
  private val q15 = Q(
    "q15_semi_anti",
    (s, d) => {
      val c = Tables.customer(s, d)
      val o = Tables.orders(s, d).select(col("o_custkey"))
      val semi = c.join(o, col("c_custkey") === col("o_custkey"), "left_semi")
        .select(col("c_custkey"), lit("with_orders").as("label"))
      val anti = c.join(o, col("c_custkey") === col("o_custkey"), "left_anti")
        .select(col("c_custkey"), lit("no_orders").as("label"))
      semi.unionAll(anti)
    },
    Some("""SELECT c_custkey, 'with_orders' AS label FROM customer
      |WHERE c_custkey IN (SELECT o_custkey FROM orders)
      |UNION ALL
      |SELECT c_custkey, 'no_orders' AS label FROM customer
      |WHERE c_custkey NOT IN (SELECT o_custkey FROM orders)
      |""".stripMargin)
  )

  // q16 — pd.pivot_table with sum aggregation over an enumerable domain.
  private val q16 = Q(
    "q16_pivot",
    (s, d) => {
      Tables.lineitem(s, d)
        .groupBy(col("l_returnflag"))
        .pivot("l_linestatus", Seq("F", "O"))
        .agg(sumd(col("l_quantity")))
        .select(col("l_returnflag"), col("F"), col("O"))
        .orderBy("l_returnflag")
    },
    Some("""SELECT l_returnflag,
      |  CAST(SUM(CASE WHEN l_linestatus = 'F' THEN CAST(l_quantity AS DECIMAL(18,6)) END) AS DOUBLE) AS "F",
      |  CAST(SUM(CASE WHEN l_linestatus = 'O' THEN CAST(l_quantity AS DECIMAL(18,6)) END) AS DOUBLE) AS "O"
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)
  )

  // q17 — union of conformed frames (pd.concat): narrow, no shuffle.
  private val q17 = Q(
    "q17_union",
    (s, d) => {
      val c = Tables.customer(s, d)
        .select(col("c_custkey").as("key"), col("c_name").as("name"),
          col("c_acctbal").as("acctbal"), lit("customer").as("kind"))
      val su = Tables.supplier(s, d)
        .select(col("s_suppkey").as("key"), col("s_name").as("name"),
          col("s_acctbal").as("acctbal"), lit("supplier").as("kind"))
      c.unionAll(su)
    },
    Some("""SELECT c_custkey AS key, c_name AS name, c_acctbal AS acctbal, 'customer' AS kind FROM customer
      |UNION ALL
      |SELECT s_suppkey, s_name, s_acctbal, 'supplier' FROM supplier
      |""".stripMargin)
  )

  // q18 — deterministic hash split (train_test_split with a fixed seed):
  // the overflow-free Z-mod-p bucket [[Exact.zmod]], identical in both
  // engines at any key magnitude; narrow map + one small aggregate to
  // audit the split.
  private val q18 = Q(
    "q18_split",
    (s, d) => {
      val o = Tables.orders(s, d)
      val bucket = zmod(col("o_orderkey"), 1000L)
      o.select(when(bucket < 800, "train").otherwise("test").as("split"),
          col("o_totalprice"))
        .groupBy("split")
        .agg(count(lit(1)).as("n"), sumd(col("o_totalprice")).as("sum_price"))
        .orderBy("split")
    },
    Some(s"""SELECT CASE WHEN ${sqlZmod("o_orderkey", 1000L)} < 800 THEN 'train' ELSE 'test' END AS split,
      |  COUNT(*) AS n,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS sum_price
      |FROM orders GROUP BY 1 ORDER BY split""".stripMargin)
  )

  // q31 — fixed-width histogram (the EDA notebooks' hist plots): two-phase
  // min/max fit broadcast into a narrow binning map + one count shuffle.
  private val q31 = Q(
    "q31_histogram",
    (s, d) => {
      val l = Tables.lineitem(s, d)
      val nbins = 20
      val f = l.agg(min(col("l_extendedprice")).as("lo"), max(col("l_extendedprice")).as("hi"))
      l.crossJoin(broadcast(f))
        .select(least(floor((col("l_extendedprice") - col("lo")) / (col("hi") - col("lo")) * lit(nbins.toDouble)).cast("long"),
          lit(nbins - 1L)).as("bin"))
        .groupBy("bin").agg(count(lit(1)).as("n"))
        .orderBy("bin")
    },
    Some("""WITH f AS (SELECT MIN(l_extendedprice) AS lo, MAX(l_extendedprice) AS hi FROM lineitem)
      |SELECT LEAST(CAST(FLOOR((l_extendedprice - lo) / (hi - lo) * 20.0) AS BIGINT), 19) AS bin,
      |  COUNT(*) AS n
      |FROM lineitem, f GROUP BY bin ORDER BY bin""".stripMargin)
  )

  // q32 — groupwise standardization (pandas groupby().transform), as a
  // two-phase fit+transform (the q25/q30 shape): a tiny
  // groupBy(segment).agg computes exact integer-grid moments per group
  // (5 rows — partial-aggregated map-side, so the segment-keyed exchange
  // carries ≤ groups·partitions partial rows, never data), broadcast back
  // into a narrow z-map. NOT a Window.partitionBy(segment): with 5
  // distinct segments that plan funnels every row of a segment through
  // ONE task — parallelism capped at group cardinality regardless of
  // cluster size. The exact decimal group sums equal the window long
  // sums bit-for-bit, and the z expression applies the identical IEEE
  // ops in the oracle's order, so the hash-match is unchanged.
  private val q32 = Q(
    "q32_group_zscore",
    (s, d) => {
      val c = Tables.customer(s, d)
      val z = Exact.qzl(col("c_acctbal"), 1000.0)
      val fit = c.groupBy(col("c_mktsegment").as("seg"))
        // dec2d readouts: per-segment Σz² backs ~3e18 at sf1 and
        // crosses 2^64 a decade later (SURVEY §5)
        .agg(Exact.dec2d(sum(z.cast(DecimalType(38, 0)))).as("sx"),
          Exact.dec2d(sum((z * z).cast(DecimalType(38, 0)))).as("sxx"),
          count(lit(1)).cast("double").as("n"))
        .select(col("seg"),
          (col("sx") / col("n") / lit(1000.0)).as("mu"),
          (sqrt((col("sxx") - (col("sx") * col("sx")) / col("n")) / col("n")) / lit(1000.0)).as("sigma"))
      c.join(broadcast(fit), col("c_mktsegment") === col("seg"))
        .select(col("c_custkey"), col("c_mktsegment"),
          ((col("c_acctbal") - col("mu")) / col("sigma")).as("acctbal_z"))
    },
    Some(s"""WITH g AS (
      |  SELECT c_custkey, c_mktsegment, c_acctbal,
      |    ${graft.Exact.sqlDec2d("SUM(CAST(ROUND(c_acctbal*1000.0) AS BIGINT)) OVER w")} AS sx,
      |    ${graft.Exact.sqlDec2d("SUM(CAST(ROUND(c_acctbal*1000.0) AS BIGINT) * CAST(ROUND(c_acctbal*1000.0) AS BIGINT)) OVER w")} AS sxx,
      |    CAST(COUNT(*) OVER w AS DOUBLE) AS n
      |  FROM customer
      |  WINDOW w AS (PARTITION BY c_mktsegment))
      |SELECT c_custkey, c_mktsegment,
      |  (c_acctbal - sx / n / 1000.0) / (SQRT((sxx - (sx * sx) / n) / n) / 1000.0) AS acctbal_z
      |FROM g""".stripMargin)
  )

  // q33 — grouped exact quantiles (the EDA boxplot-per-category). NOT a
  // `row_number() over partitionBy(l_returnflag)` rank: with 3 groups
  // that plan sorts ~n/3 rows per task — parallelism capped at group
  // cardinality. Instead the q07 bucket-histogram machinery keyed on
  // (group, bucket): one grouped stats pass, one (group, bucket)
  // histogram, one in-bucket rank pass over only the bracketing buckets
  // — all partial-aggregable, parallelism groups·65536. Same driver-side
  // IEEE interpolation as the oracle, so the hash-match is unchanged.
  private val q33 = Q(
    "q33_group_quantiles",
    (s, d) => {
      import s.implicits._
      Quantiles.groupedExactQuantiles(
          Tables.lineitem(s, d), "l_returnflag", "l_quantity", Seq(0.25, 0.5, 0.75))
        .sortBy(r => (r._1, r._2))
        .toDF("l_returnflag", "q", "value")
    },
    Some(s"""SELECT g AS l_returnflag, q, value FROM (
      |${Quantiles.sql("lineitem", "l_quantity", Seq(0.25, 0.5, 0.75), Some("l_returnflag"))}) b
      |ORDER BY l_returnflag, q""".stripMargin)
  )

  // q34 — argmax per group (pandas idxmax): the grouped top-k with
  // k = 1, deterministic via an explicit tiebreak key; map-side heaps,
  // one shuffle on the group key.
  private val q34 = Q(
    "q34_argmax",
    (s, d) => {
      graft.plans.GraftOps.groupedTopK(
          Tables.orders(s, d).select("o_custkey", "o_orderkey", "o_totalprice"),
          Seq("o_custkey"), Seq(col("o_totalprice").desc, col("o_orderkey")), k = 1)
        .select(col("o_custkey"), col("o_orderkey").as("top_orderkey"),
          col("o_totalprice").as("top_price"))
    },
    Some("""SELECT o_custkey, o_orderkey AS top_orderkey, o_totalprice AS top_price
      |FROM (SELECT o_custkey, o_orderkey, o_totalprice,
      |        ROW_NUMBER() OVER (PARTITION BY o_custkey
      |          ORDER BY o_totalprice DESC, o_orderkey) AS rn
      |      FROM orders)
      |WHERE rn = 1""".stripMargin)
  )

  // q35 — rollup subtotals (pd.pivot_table margins=True): one pass, Spark
  // expands grouping sets; NULL marks subtotal rows on both sides (and
  // both engines sort NULLS FIRST here, explicitly).
  private val q35 = Q(
    "q35_rollup",
    (s, d) => {
      Tables.lineitem(s, d)
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"),
          (sum(Exact.qzl(col("l_quantity"), 1000.0)).cast("double") / lit(1000.0)).as("sum_qty"))
        .orderBy(col("l_returnflag").asc_nulls_first, col("l_linestatus").asc_nulls_first)
    },
    Some("""SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
      |  CAST(SUM(CAST(ROUND(l_quantity * 1000.0) AS BIGINT)) AS DOUBLE) / 1000.0 AS sum_qty
      |FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
      |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin)
  )

  // ap_distinct / ap_quantiles — the approximate 100 TB path (HLL++,
  // GK-sketch): single-pass, fixed memory, no sort. rows-checked here;
  // ApproxSpec bounds their error against the exact operators.
  private val apDistinct = Q(
    "ap_distinct",
    (s, d) => {
      Tables.lineitem(s, d).agg(
        approx_count_distinct(col("l_orderkey"), 0.02).as("approx_orders"),
        approx_count_distinct(col("l_partkey"), 0.02).as("approx_parts"))
    },
    None
  )

  // ap_bloom — Bloom-filter membership, the set sketch that completes the
  // approximate family (HLL distinct / GK quantiles / CMS+SpaceSaving
  // heavy hitters / MinHash similarity). Build distributed over the
  // ordering customers' keys (stat.bloomFilter is a partial-aggregable
  // OR of bit blocks; only the fpp-sized bitmap reaches the driver),
  // broadcast, probe every customer, and reconcile against the exact
  // semi-join truth: Bloom filters admit false positives, NEVER false
  // negatives (asserted in ApproxSpec with the fpp bound). At 100 TB
  // this is the join-pruning sketch: ship the bitmap, not the key set.
  private val apBloom = Q(
    "ap_bloom",
    (s, d) => {
      import s.implicits._
      // the urgent-order subset leaves real negatives to mis-admit: every
      // customer has SOME order in this data, but not an urgent one
      val o = Tables.orders(s, d).filter(col("o_orderpriority") === "1-URGENT")
      val c = Tables.customer(s, d)
      val nKeys = o.agg(approx_count_distinct(col("o_custkey"))).head().getLong(0)
      val bf = o.stat.bloomFilter("o_custkey", math.max(nKeys, 64L), 0.01)
      val bfB = s.sparkContext.broadcast(bf)
      val probed = c.select(col("c_custkey")).as[Long]
        .map(k => (k, bfB.value.mightContain(k))).toDF("c_custkey", "bloom_hit")
      val truth = c.join(o, col("c_custkey") === col("o_custkey"), "left_semi")
        .select(col("c_custkey"), lit(true).as("has_orders"))
      probed.join(truth, Seq("c_custkey"), "left")
        .select(col("c_custkey"), col("bloom_hit"),
          coalesce(col("has_orders"), lit(false)).as("has_orders"))
        .agg(count(lit(1)).as("n_customers"),
          sum(when(col("has_orders"), 1L).otherwise(0L)).as("n_with_orders"),
          sum(when(col("bloom_hit"), 1L).otherwise(0L)).as("n_bloom_hits"),
          sum(when(col("bloom_hit") && !col("has_orders"), 1L).otherwise(0L)).as("n_false_pos"),
          sum(when(!col("bloom_hit") && col("has_orders"), 1L).otherwise(0L)).as("n_false_neg"))
    },
    None
  )

  // ap_topk — heavy hitters via a count-min sketch (single pass, fixed
  // memory, mergeable across 1000 executors — the streaming/at-scale
  // frequency path). The sketch is built distributed by Spark's
  // count_min_sketch aggregate; only the serialized sketch (bytes,
  // size-bounded by eps/confidence, independent of data volume) reaches
  // the driver. Candidates are generated DISTRIBUTED too — per-partition
  // SpaceSaving summaries (any key above 1/cap global frequency is
  // guaranteed to survive in some partition, see [[SpaceSaving]]) probe
  // the re-broadcast sketch, and a TakeOrdered top-k hands the driver
  // O(k) rows. Never the key dictionary: for a billion-key column the
  // dictionary IS the unbounded thing the sketch path exists to avoid.
  // Deterministic GIVEN the SpaceSaving precondition (the k-th key's
  // frequency exceeds 1/cap — see [[SpaceSaving]]): the candidate SET
  // may vary with partitioning, but under that precondition every true
  // top-k key is in it, and rank order is (est desc, key). cap is sized
  // 50·k (covers Zipf-ish skew for any realistic dictionary, ≫ the 5
  // priority values here), not a data-independent constant.
  // ApproxSpec bounds the overestimate against exact counts.
  //
  // ORACLE-CHECKED against the exact top-k: with 5 distinct keys in a
  // width-2719 (eps 0.001) depth-7 sketch, some depth row is
  // collision-free for every key with near-certainty, so the CMS min
  // equals the exact count — the estimate is exact by the sketch's own
  // guarantee, not by luck, and the exact-count SQL is a legitimate
  // oracle at any SF (key cardinality is fixed at 5). If a future
  // column had ≳ width distinct keys this would revert to rows-only.
  private val apTopk = Q(
    "ap_topk",
    (s, d) => {
      import s.implicits._
      val o = Tables.orders(s, d)
      val k = 5
      val cap = 50 * k
      val bytes = o.agg(
          expr("count_min_sketch(o_orderpriority, 0.001d, 0.99d, 42)").as("cms"))
        .head().getAs[Array[Byte]](0)
      val bc = s.sparkContext.broadcast(bytes)
      val candidates = o.select(col("o_orderpriority")).as[String]
        .mapPartitions(it => SpaceSaving.candidates(it, cap))
        .distinct()
      val est = candidates.mapPartitions { it =>
        val cms = org.apache.spark.util.sketch.CountMinSketch.readFrom(
          new java.io.ByteArrayInputStream(bc.value))
        it.map(key => (key, cms.estimateCount(key)))
      }
      val top = est.toDF("o_orderpriority", "est_count")
        .orderBy(col("est_count").desc, col("o_orderpriority"))
        .limit(k)
        .collect() // TakeOrdered: exactly k rows cross the wire
      top.toSeq.zipWithIndex
        .map { case (r, i) => (i.toLong + 1L, r.getString(0), r.getLong(1)) }
        .toDF("rank", "o_orderpriority", "est_count")
    },
    Some("""SELECT CAST(ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, o_orderpriority) AS BIGINT) AS rank,
      |  o_orderpriority, COUNT(*) AS est_count
      |FROM orders GROUP BY o_orderpriority
      |ORDER BY est_count DESC, o_orderpriority LIMIT 5""".stripMargin)
  )

  private val apQuantiles = Q(
    "ap_quantiles",
    (s, d) => {
      Tables.lineitem(s, d)
        .select(percentile_approx(col("l_extendedprice"),
          array(lit(0.25), lit(0.5), lit(0.75)), lit(10000)).as("p"))
        .select(posexplode(col("p")))
        .toDF("idx", "value")
        .select(col("idx").cast("long").as("idx"), col("value"))
    },
    None
  )

  // q38 — row-normalized contingency table (crosstab().div(axis=0) in the
  // reference EDA): the same single-pass pivot as q11 plus an IEEE
  // per-row normalization against the long count row-sum.
  private val q38 = Q(
    "q38_crosstab_norm",
    (s, d) => {
      val o = Tables.orders(s, d)
      val c = Tables.customer(s, d)
      val counts = Exact.dimJoin(o, c, col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_mktsegment"))
        .pivot("o_orderstatus", Seq("F", "O", "P"))
        .agg(count(lit(1)))
        .select(col("c_mktsegment"),
          coalesce(col("F"), lit(0L)).as("nF"),
          coalesce(col("O"), lit(0L)).as("nO"),
          coalesce(col("P"), lit(0L)).as("nP"))
      val total = (col("nF") + col("nO") + col("nP")).cast("double")
      counts.select(col("c_mktsegment"),
          (col("nF").cast("double") / total).as("F"),
          (col("nO").cast("double") / total).as("O"),
          (col("nP").cast("double") / total).as("P"))
        .orderBy("c_mktsegment")
    },
    Some("""WITH ct AS (
      |  SELECT c_mktsegment,
      |    COUNT(CASE WHEN o_orderstatus = 'F' THEN 1 END) AS nF,
      |    COUNT(CASE WHEN o_orderstatus = 'O' THEN 1 END) AS nO,
      |    COUNT(CASE WHEN o_orderstatus = 'P' THEN 1 END) AS nP
      |  FROM orders JOIN customer ON o_custkey = c_custkey
      |  GROUP BY c_mktsegment)
      |SELECT c_mktsegment,
      |  CAST(nF AS DOUBLE) / CAST(nF + nO + nP AS DOUBLE) AS "F",
      |  CAST(nO AS DOUBLE) / CAST(nF + nO + nP AS DOUBLE) AS "O",
      |  CAST(nP AS DOUBLE) / CAST(nF + nO + nP AS DOUBLE) AS "P"
      |FROM ct ORDER BY c_mktsegment""".stripMargin)
  )

  // q36 — wide→long unpivot (pd.melt, used 4× in the reference EDA):
  // Spark's native unpivot — one narrow map, rows×values output, no
  // shuffle until the output sort.
  private val q36 = Q(
    "q36_melt",
    (s, d) => {
      Tables.lineitem(s, d)
        .unpivot(
          Array(col("l_orderkey"), col("l_linenumber")),
          Array(col("l_quantity"), col("l_discount"), col("l_tax")),
          "variable", "value")
    },
    Some("""SELECT l_orderkey, l_linenumber, 'l_quantity' AS variable, l_quantity AS value FROM lineitem
      |UNION ALL
      |SELECT l_orderkey, l_linenumber, 'l_discount', l_discount FROM lineitem
      |UNION ALL
      |SELECT l_orderkey, l_linenumber, 'l_tax', l_tax FROM lineitem
      |""".stripMargin)
  )

  // q37 — deterministic sampling (df.sample with a seed): hash-gated scan
  // so the same rows are sampled on any engine/cluster shape — the
  // reproducible alternative to RNG sampling for pipeline debugging.
  // Overflow-free Z-mod-p gate (see q18) — identical kept set at any
  // key magnitude.
  private val q37 = Q(
    "q37_sample",
    (s, d) => {
      Tables.orders(s, d)
        .filter(zmod(col("o_orderkey"), 100L) < 10)
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
    },
    Some(s"""SELECT o_orderkey, o_custkey, o_totalprice FROM orders
      |WHERE ${sqlZmod("o_orderkey", 100L)} < 10
      |""".stripMargin)
  )

  // q40 — full cube (all 2^k grouping sets, the rollup sibling): one pass,
  // grouping_id disambiguates subtotal rows whose key is genuinely NULL.
  // Same exact-grid sum recipe as q35.
  private val q40 = Q(
    "q40_cube",
    (s, d) => {
      Tables.lineitem(s, d)
        .cube(col("l_returnflag"), col("l_linestatus"))
        .agg(grouping_id(col("l_returnflag"), col("l_linestatus")).cast("long").as("gid"),
          count(lit(1)).as("n"),
          (sum(Exact.qzl(col("l_quantity"), 1000.0)).cast("double") / lit(1000.0)).as("sum_qty"))
        .select("l_returnflag", "l_linestatus", "gid", "n", "sum_qty")
        .orderBy(col("gid"), col("l_returnflag").asc_nulls_first,
          col("l_linestatus").asc_nulls_first)
    },
    Some("""SELECT l_returnflag, l_linestatus,
      |  CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT) AS gid,
      |  COUNT(*) AS n,
      |  CAST(SUM(CAST(ROUND(l_quantity * 1000.0) AS BIGINT)) AS DOUBLE) / 1000.0 AS sum_qty
      |FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus)
      |ORDER BY gid, l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin)
  )

  // q39 — 7-row trailing moving average of order value per customer
  // (rolling-mean EDA). The frame sum runs on the exact integer grid so
  // the sliding-window accumulation order (Spark's add/remove incremental
  // evaluation vs DuckDB's) cannot perturb the float result; the average
  // is one fixed IEEE expression over the exact sum and the frame count.
  private val q39 = Q(
    "q39_moving_avg",
    (s, d) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate"), col("o_orderkey"))
        .rowsBetween(-6, Window.currentRow)
      Tables.orders(s, d)
        .withColumn("s_qz", sum(Exact.qzl(col("o_totalprice"), 1000.0)).over(w))
        .withColumn("n_f", count(lit(1)).over(w))
        .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"),
          (col("s_qz").cast("double") / lit(1000.0) / col("n_f").cast("double")).as("moving_avg"))
    },
    Some("""SELECT o_custkey, o_orderkey, o_totalprice,
      |  CAST(SUM(CAST(ROUND(o_totalprice * 1000.0) AS BIGINT)) OVER w AS DOUBLE) / 1000.0
      |    / CAST(COUNT(*) OVER w AS DOUBLE) AS moving_avg
      |FROM orders
      |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
      |  ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
      |""".stripMargin)
  )

  // q42 — explicit GROUPING SETS ((flag), (status)): the two marginal
  // tables of a pivot in ONE scan (rollup/cube's sibling for
  // non-hierarchical margins — pandas computes these as two separate
  // groupbys). Spark's Dataset API exposes only rollup/cube, so this
  // goes through SQL — same Expand-based single-pass plan, same flat
  // grid-sum shape (and overflow bound) as q35. NULL marks the
  // aggregated-away dimension on both sides.
  private val q42 = Q(
    "q42_grouping_sets",
    (s, d) => {
      Tables.lineitem(s, d).createOrReplaceTempView("lineitem_gs")
      s.sql("""SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
        |  CAST(SUM(CAST(ROUND(l_quantity * 1000.0) AS BIGINT)) AS DOUBLE) / 1000.0 AS sum_qty
        |FROM lineitem_gs
        |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus))
        |ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""".stripMargin)
    },
    Some("""SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
      |  CAST(SUM(CAST(ROUND(l_quantity * 1000.0) AS BIGINT)) AS DOUBLE) / 1000.0 AS sum_qty
      |FROM lineitem
      |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus))
      |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin)
  )

  // q41 — stratified sampling: EXACTLY n rows per group (pandas
  // groupby().sample/head), deterministic under a multiplicative hash
  // order. NOT a `row_number() over partitionBy(segment)` rank — 5
  // segments would funnel every row through 5 tasks. Instead the
  // per-group n-th smallest hash (an exact order statistic from the
  // (group, bucket) histogram machinery, Quantiles.groupedNth) becomes a
  // per-group threshold, broadcast back into a narrow filter. The hash
  // is the full [[Exact.zmod]] (injective for keys < p; beyond p the
  // c_custkey tiebreak keeps the
  // order deterministic), so `hash <= threshold` keeps exactly n rows
  // per group — bit-identical to the oracle's rank formulation.
  private val q41 = Q(
    "q41_stratified_sample",
    (s, d) => {
      import s.implicits._
      val h = zmod(col("c_custkey"), ZmodP)
      val c = Tables.customer(s, d)
        .select(col("c_mktsegment"), col("c_custkey"), h.cast("double").as("h"))
      val thr = Quantiles.groupedNth(c, "c_mktsegment", "h", 100L)
      val thrDf = broadcast(thr.toSeq.toDF("seg", "thr"))
      // h <= thr keeps n + tie-multiplicity rows per group. Below ~1e9
      // keys h is collision-free (h is a bijection mod p = 1e9+7), but
      // once keys exceed p distinct keys CAN collide (first seen at
      // sf100: keys b and b+7 one hundred copies apart), and a tie
      // straddling the threshold would over-keep. The exact-n tiebreak
      // (h, then key — the oracle's ROW_NUMBER order) is the grouped
      // top-k over the ALREADY-FILTERED surface: ≤ n + ties rows per
      // group, bounded metadata, never a fact-scale window.
      val kept = c.join(thrDf, col("c_mktsegment") === col("seg"))
        .filter(col("h") <= col("thr"))
        .select(col("c_mktsegment"), col("c_custkey"), col("h"))
      graft.plans.GraftOps.groupedTopK(kept, Seq("c_mktsegment"),
          Seq(col("h"), col("c_custkey")), k = 100)
        .select(col("c_mktsegment"), col("c_custkey"))
        .orderBy("c_mktsegment", "c_custkey")
    },
    Some(s"""SELECT c_mktsegment, c_custkey
      |FROM (SELECT c_mktsegment, c_custkey,
      |        ROW_NUMBER() OVER (PARTITION BY c_mktsegment
      |          ORDER BY ${sqlZmod("c_custkey", ZmodP)}, c_custkey) AS rn
      |      FROM customer)
      |WHERE rn <= 100 ORDER BY c_mktsegment, c_custkey""".stripMargin)
  )

  // q43 — grouped IQR winsorize (RemoveOutliers.transform applied per
  // category — the boxplot-per-category clipping the reference does
  // globally, q08's grouped sibling). NOT a quantile window over
  // partitionBy(group): 3 return flags would cap parallelism at 3.
  // Per-group exact quartiles come from the (group, bucket) histogram
  // machinery (Quantiles.groupedExactQuantiles — the q33 path), the
  // driver assembles the 3-row fence table with the same IEEE
  // expressions as the oracle, and the clip is a broadcast join + narrow
  // map. Scale shape: two bounded-metadata passes + one narrow pass.
  private val q43 = Q(
    "q43_grouped_winsorize",
    (s, d) => {
      import s.implicits._
      val l = Tables.lineitem(s, d)
      val qr = Quantiles.groupedExactQuantiles(
        l, "l_returnflag", "l_extendedprice", Seq(0.25, 0.75))
      val fences = qr.groupBy(_._1).toSeq.map { case (gv, rows) =>
        val q1 = rows.find(_._2 == 0.25).get._3
        val q3 = rows.find(_._2 == 0.75).get._3
        (gv, q3 + 1.5 * (q3 - q1), q1 - 1.5 * (q3 - q1))
      }
      l.join(broadcast(fences.toDF("g", "r_b", "lo_b")),
          col("l_returnflag") === col("g"))
        .select(col("l_returnflag"), col("l_orderkey"), col("l_linenumber"),
          when(col("l_extendedprice") > col("r_b"), col("r_b"))
            .when(col("l_extendedprice") < col("lo_b"), col("lo_b"))
            .otherwise(col("l_extendedprice")).as("clipped_price"))
    },
    Some(s"""WITH qv AS (
      |${Quantiles.sql("lineitem", "l_extendedprice", Seq(0.25, 0.75), Some("l_returnflag"))}),
      |f AS (
      |  SELECT g, q3 + 1.5 * (q3 - q1) AS r_b, q1 - 1.5 * (q3 - q1) AS lo_b FROM (
      |    SELECT g, MAX(CASE WHEN q = ${Quantiles.sqlDouble(0.25)} THEN value END) AS q1,
      |           MAX(CASE WHEN q = ${Quantiles.sqlDouble(0.75)} THEN value END) AS q3
      |    FROM qv GROUP BY g))
      |SELECT l.l_returnflag, l.l_orderkey, l.l_linenumber,
      |  CASE WHEN l.l_extendedprice > f.r_b THEN f.r_b
      |       WHEN l.l_extendedprice < f.lo_b THEN f.lo_b
      |       ELSE l.l_extendedprice END AS clipped_price
      |FROM lineitem l JOIN f ON l.l_returnflag = f.g
      |""".stripMargin)
  )

  // q44 — per-user ordered conversion funnel over events (view → click →
  // purchase, each stage strictly after the previous — the classic
  // product-analytics sequence query). Three chained unordered windows
  // over the SAME partition key share one exchange + one sort, and the
  // final per-user collapse reuses the window's hash partitioning, so the
  // whole funnel is a single shuffle on user_id. user_id is
  // high-cardinality: parallelism scales with users, never with stages.
  private val q44 = Q(
    "q44_funnel",
    (s, d) => {
      val w = Window.partitionBy(col("user_id"))
      Tables.events(s, d)
        .withColumn("t_view",
          min(when(col("event_type") === "view", col("ts"))).over(w))
        .withColumn("t_click",
          min(when(col("event_type") === "click" && col("ts") > col("t_view"), col("ts"))).over(w))
        .withColumn("t_purchase",
          min(when(col("event_type") === "purchase" && col("ts") > col("t_click"), col("ts"))).over(w))
        .groupBy(col("user_id"))
        .agg(min(col("t_view")).as("t_view"),
          min(col("t_click")).as("t_click"),
          min(col("t_purchase")).as("t_purchase"))
        .select(col("user_id"), col("t_view"), col("t_click"), col("t_purchase"),
          when(col("t_purchase").isNotNull, 3)
            .when(col("t_click").isNotNull, 2)
            .when(col("t_view").isNotNull, 1)
            .otherwise(0).cast("int").as("stage"))
    },
    Some("""WITH v AS (
      |  SELECT *, MIN(CASE WHEN event_type = 'view' THEN ts END)
      |    OVER (PARTITION BY user_id) AS t_view FROM events),
      |c AS (
      |  SELECT *, MIN(CASE WHEN event_type = 'click' AND ts > t_view THEN ts END)
      |    OVER (PARTITION BY user_id) AS t_click FROM v),
      |p AS (
      |  SELECT *, MIN(CASE WHEN event_type = 'purchase' AND ts > t_click THEN ts END)
      |    OVER (PARTITION BY user_id) AS t_purchase FROM c)
      |SELECT user_id, MIN(t_view) AS t_view, MIN(t_click) AS t_click,
      |  MIN(t_purchase) AS t_purchase,
      |  CAST(CASE WHEN MIN(t_purchase) IS NOT NULL THEN 3
      |       WHEN MIN(t_click) IS NOT NULL THEN 2
      |       WHEN MIN(t_view) IS NOT NULL THEN 1 ELSE 0 END AS INTEGER) AS stage
      |FROM p GROUP BY user_id""".stripMargin)
  )

  // q45 — decile assignment without a global sort. The naive form is
  // ntile(10) over an unpartitioned ORDER BY window — one task sorts the
  // entire column. Here the 9 interpolated decile fences come from
  // [[Quantiles]]' distributed bucket-histogram selection (bounded driver
  // metadata: 9 doubles), and assignment is a narrow codegen map:
  // decile = 1 + #fences strictly below the value. Fences share q07's
  // exact machinery and the oracle recomputes them with the identical
  // IEEE interpolation expression, so the comparison doubles match
  // bit-for-bit.
  private val q45 = Q(
    "q45_decile",
    (s, d) => {
      val o = Tables.orders(s, d)
      val qs = (1 to 9).map(_ / 10.0)
      val fences = Quantiles.exactQuantiles(o, Seq("o_totalprice"), qs).map(_._3)
      val decile = fences.foldLeft(lit(1L)) { (acc, f) =>
        acc + when(col("o_totalprice") > lit(f), lit(1L)).otherwise(lit(0L))
      }
      o.select(col("o_orderkey"), col("o_totalprice"), decile.as("decile"))
    },
    Some(
      s"""WITH f AS (${Quantiles.sql("orders", "o_totalprice", (1 to 9).map(_ / 10.0))})
         |SELECT o.o_orderkey, o.o_totalprice,
         |  CAST(1 + (SELECT COUNT(*) FROM f WHERE o.o_totalprice > f.value) AS BIGINT) AS decile
         |FROM orders o""".stripMargin)
  )

  // q46 — full outer join of two sparse per-hour aggregates (signup vs
  // error counts), the join-type completeness piece q15 (semi/anti) and
  // q03/q04 (inner) don't cover. Both sides partial-aggregate BEFORE the
  // join — at 100 TB each input shrinks to |hours| rows first, so the
  // full-outer itself is a dashboard-cardinality join, and the coalesce
  // marks which side of the timeline has a hole.
  private val q46 = Q(
    "q46_hour_outer",
    (s, d) => {
      val ev = Tables.events(s, d)
      def hourly(t: String, out: String): DataFrame =
        ev.filter(col("event_type") === t)
          .groupBy(date_trunc("hour", col("ts")).as("h"))
          .agg(count(lit(1)).as(out))
      hourly("signup", "n_signup").join(hourly("error", "n_error"), Seq("h"), "full_outer")
        .select(col("h"),
          coalesce(col("n_signup"), lit(0L)).as("n_signup"),
          coalesce(col("n_error"), lit(0L)).as("n_error"),
          (col("n_signup").isNotNull && col("n_error").isNotNull).as("in_both"))
    },
    Some("""WITH s AS (
      |  SELECT date_trunc('hour', ts) AS h, CAST(COUNT(*) AS BIGINT) AS n_signup
      |  FROM events WHERE event_type = 'signup' GROUP BY 1),
      |e AS (
      |  SELECT date_trunc('hour', ts) AS h, CAST(COUNT(*) AS BIGINT) AS n_error
      |  FROM events WHERE event_type = 'error' GROUP BY 1)
      |SELECT COALESCE(s.h, e.h) AS h,
      |  COALESCE(s.n_signup, 0) AS n_signup,
      |  COALESCE(e.n_error, 0) AS n_error,
      |  s.h IS NOT NULL AND e.h IS NOT NULL AS in_both
      |FROM s FULL JOIN e ON s.h = e.h""".stripMargin)
  )

  // q47 — set operators (INTERSECT / EXCEPT), the distinct-set siblings
  // of q15's semi/anti joins: users who both clicked and purchased vs
  // clicked only. Spark plans INTERSECT as distinct + left-semi and
  // EXCEPT as distinct + left-anti — both shuffle only the DISTINCT key
  // sets, never the event rows.
  private val q47 = Q(
    "q47_set_ops",
    (s, d) => {
      val ev = Tables.events(s, d)
      def ids(t: String): DataFrame =
        ev.filter(col("event_type") === t).select(col("user_id"))
      val both = ids("click").intersect(ids("purchase"))
        .select(col("user_id"), lit("click_and_purchase").as("cohort"))
      val only = ids("click").except(ids("purchase"))
        .select(col("user_id"), lit("click_only").as("cohort"))
      both.unionByName(only)
    },
    Some("""SELECT user_id, 'click_and_purchase' AS cohort FROM (
      |  SELECT user_id FROM events WHERE event_type = 'click'
      |  INTERSECT
      |  SELECT user_id FROM events WHERE event_type = 'purchase')
      |UNION ALL
      |SELECT user_id, 'click_only' AS cohort FROM (
      |  SELECT user_id FROM events WHERE event_type = 'click'
      |  EXCEPT
      |  SELECT user_id FROM events WHERE event_type = 'purchase')
      |""".stripMargin)
  )

  // q48 — EXACT global percent_rank for every row with NO global sort.
  // The naive plan is percent_rank() over an unpartitioned ORDER BY —
  // one task sorts the world (the same funnel q45 kills for ntile).
  // Here: one histogram pass over 65536 value buckets (count + value
  // range each) → cumulative offsets as bounded broadcast metadata → a
  // rank window partitioned on the HIGH-cardinality bucket id. Bucket
  // ids are monotone in the value and equal values share a bucket, so
  // global_rank = offset + in-bucket rank is exact, ties keeping
  // min-rank — percent_rank = (rank−1)/(n−1) matches the oracle's
  // window bit-for-bit. POINT-MASS buckets (bmin == bmax: one value
  // dominating the column — the skew case) bypass the window entirely,
  // rank = offset + 1, so skew is the cheap case; only value-DIVERSE
  // buckets sort, each ~n/65536 rows (many distinct values crowding one
  // bucket would need Quantiles' recursive re-histogram — noted, not
  // needed at dashboard value ranges).
  private val q48 = Q(
    "q48_percent_rank",
    (s, d) => {
      val o = Tables.orders(s, d)
      val r = o.agg(min(col("o_totalprice")), max(col("o_totalprice")),
        count(lit(1))).head()
      val (lo, hi, n) = (r.getDouble(0), r.getDouble(1), r.getLong(2))
      if (lo == hi) {
        o.select(col("o_orderkey"), col("o_totalprice"), lit(0.0).as("pr"))
      } else {
        // per-bucket count + value range: a bucket whose min == max is a
        // POINT MASS (one price dominating — the skew case) and every
        // row in it has rank = offset + 1 with NO sort at all; only
        // value-diverse buckets go through the in-bucket rank window.
        // The skewed case is the CHEAP case (the Quantiles discipline).
        val bucketed = o.withColumn("b",
          Quantiles.bucketOf(col("o_totalprice"), lit(lo), lit(hi)))
        val keyed = Quantiles.withBucketOffsets(bucketed, col("o_totalprice"),
          Seq("off" -> lit(1L)))
        val w = Window.partitionBy(col("b")).orderBy(col("o_totalprice"))
        val diverse = keyed.filter(!col("pointmass"))
          .withColumn("grank", col("off") + rank().over(w))
        val point = keyed.filter(col("pointmass"))
          .withColumn("grank", col("off") + lit(1L))
        diverse.unionByName(point)
          .select(col("o_orderkey"), col("o_totalprice"),
            ((col("grank") - lit(1L)).cast("double") / lit((n - 1).toDouble)).as("pr"))
      }
    },
    Some("""SELECT o_orderkey, o_totalprice,
      |  percent_rank() OVER (ORDER BY o_totalprice) AS pr
      |FROM orders""".stripMargin)
  )

  // q49 — ordered string aggregation (LISTAGG / string_agg / pandas
  // groupby().agg(','.join)): names per market segment, concatenated in
  // a deterministic order. collect_list carries NO ordering guarantee
  // across retries/partitions, so the deterministic form sorts inside
  // the aggregate's result: array_join(array_sort(collect_list(...))).
  // Partial-aggregable; per-group memory is bounded by group size — this
  // is the dashboard-cardinality concatenation op (giant groups should
  // cap or sample first).
  private val q49 = Q(
    "q49_string_agg",
    (s, d) => {
      Tables.customer(s, d)
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n"),
          array_join(array_sort(collect_list(col("c_name"))), ",").as("names"))
        .orderBy("c_mktsegment")
    },
    Some("""SELECT c_mktsegment, CAST(COUNT(*) AS BIGINT) AS n,
      |  string_agg(c_name, ',' ORDER BY c_name) AS names
      |FROM customer GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin)
  )

  // q50 — grouped top-k through the CUSTOM OPERATOR (graft.plans.
  // GroupedTopK: logical node → planner strategy → partial/final
  // physical pair): each customer's 3 most expensive orders. The window
  // formulation shuffles every order row and sorts whole groups; the
  // operator's map-side heaps emit ≤ k rows per (group, partition)
  // BEFORE the exchange. Oracle is the row_number window — the operator
  // must reproduce it bit-for-bit.
  private val q50 = Q(
    "q50_grouped_topk",
    (s, d) => {
      graft.plans.GraftOps.groupedTopK(
          Tables.orders(s, d).select("o_custkey", "o_orderkey", "o_totalprice"),
          Seq("o_custkey"), Seq(col("o_totalprice").desc, col("o_orderkey")), k = 3)
    },
    Some("""SELECT o_custkey, o_orderkey, o_totalprice
      |FROM (SELECT o_custkey, o_orderkey, o_totalprice,
      |        ROW_NUMBER() OVER (PARTITION BY o_custkey
      |          ORDER BY o_totalprice DESC, o_orderkey) AS rn
      |      FROM orders)
      |WHERE rn <= 3
      |""".stripMargin)
  )

  // q51 — exact distinct users per hour. COUNT(DISTINCT) is the classic
  // scale trap; Spark plans it as the two-phase Expand — dedupe on
  // (hour, user) with partial aggregation, then count per hour — so no
  // task ever holds a window's full user set as state. The plan is the
  // rewrite you'd hand-build; declaring it keeps Catalyst in charge.
  private val q51 = Q(
    "q51_distinct_per_window",
    (s, d) => {
      Tables.events(s, d)
        .groupBy(date_trunc("hour", col("ts")).as("h"))
        .agg(count_distinct(col("user_id")).as("n_users"),
          count(lit(1)).as("n_events"))
    },
    Some("""SELECT date_trunc('hour', ts) AS h,
      |  CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
      |  CAST(COUNT(*) AS BIGINT) AS n_events
      |FROM events GROUP BY 1""".stripMargin)
  )

  // q52 — RANGE-framed window (the time-based sibling of q39's
  // ROWS-framed moving average): each order carries the customer's spend
  // over the TRAILING 7 DAYS — a value-range frame over event time, so
  // frame membership depends on timestamps, not row offsets (two orders
  // the same day both include each other). Ordered by epoch micros so
  // both engines share the numeric range arithmetic; exact decimal sum.
  // Window partitions on the high-cardinality o_custkey.
  private val q52 = Q(
    "q52_range_frame",
    (s, d) => {
      val sevenDaysUs = 7L * 24 * 3600 * 1000000
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("ts_us"))
        .rangeBetween(-sevenDaysUs, 0)
      Tables.orders(s, d)
        // o_orderdate is TIMESTAMP_NTZ; the UTC session makes the cast an
        // identity on the instant, matching DuckDB's epoch_us
        .withColumn("ts_us", unix_micros(col("o_orderdate").cast("timestamp")))
        .withColumn("spend_7d",
          sum(d6(col("o_totalprice"))).over(w).cast("double"))
        .select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"),
          col("spend_7d"))
    },
    Some("""SELECT o_custkey, o_orderkey, o_orderdate,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) OVER (
      |    PARTITION BY o_custkey ORDER BY epoch_us(o_orderdate)
      |    RANGE BETWEEN 604800000000 PRECEDING AND CURRENT ROW) AS DOUBLE) AS spend_7d
      |FROM orders""".stripMargin)
  )

  // q53 — hour-over-hour cohort retention: of the distinct users active
  // in hour h, how many return in h+1. The (hour, user) distinct surface
  // partial-aggregates first, the self-join keys on (h+1, user) — both
  // sides are the REDUCED surface, never event rows. The division is one
  // fixed IEEE op over exact counts.
  private val q53 = Q(
    "q53_retention",
    (s, d) => {
      val hu = Tables.events(s, d)
        .select(date_trunc("hour", col("ts")).as("h"), col("user_id"))
        .distinct()
      val nxt = hu.select((col("h") - expr("interval 1 hour")).as("h"),
        col("user_id").as("u2"))
      hu.join(nxt, hu("h") === nxt("h") && col("user_id") === col("u2"), "left")
        .groupBy(hu("h"))
        .agg(count(lit(1)).as("n_active"),
          sum(when(col("u2").isNotNull, 1L).otherwise(0L)).as("n_retained"))
        .select(col("h"), col("n_active"), col("n_retained"),
          (col("n_retained").cast("double") / col("n_active").cast("double")).as("retention"))
    },
    Some("""WITH hu AS (
      |  SELECT DISTINCT date_trunc('hour', ts) AS h, user_id FROM events)
      |SELECT a.h, CAST(COUNT(*) AS BIGINT) AS n_active,
      |  CAST(SUM(CASE WHEN b.user_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_retained,
      |  CAST(SUM(CASE WHEN b.user_id IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE) /
      |    CAST(COUNT(*) AS DOUBLE) AS retention
      |FROM hu a LEFT JOIN hu b
      |  ON b.h = a.h + INTERVAL 1 HOUR AND b.user_id = a.user_id
      |GROUP BY a.h""".stripMargin)
  )

  // q55 — 2-D fixed-grid histogram (the EDA heatmap/hexbin source):
  // 16×16 bins over (quantity, extendedprice). Same two-phase shape as
  // q31 — one tiny min/max fit broadcast into a single binning
  // aggregate; output is the dense bin table a plot consumes.
  private val q55 = Q(
    "q55_hist2d",
    (s, d) => {
      val l = Tables.lineitem(s, d)
      val nb = 16
      val f = l.agg(min(col("l_quantity")).as("xlo"), max(col("l_quantity")).as("xhi"),
        min(col("l_extendedprice")).as("ylo"), max(col("l_extendedprice")).as("yhi"))
      def bin(v: Column, lo: Column, hi: Column): Column =
        least(floor((v - lo) / (hi - lo) * lit(nb.toDouble)).cast("long"), lit(nb - 1L))
      l.crossJoin(broadcast(f))
        .select(bin(col("l_quantity"), col("xlo"), col("xhi")).as("bx"),
          bin(col("l_extendedprice"), col("ylo"), col("yhi")).as("by"))
        .groupBy("bx", "by").agg(count(lit(1)).as("n"))
        .orderBy("bx", "by")
    },
    Some("""WITH f AS (
      |  SELECT MIN(l_quantity) AS xlo, MAX(l_quantity) AS xhi,
      |         MIN(l_extendedprice) AS ylo, MAX(l_extendedprice) AS yhi
      |  FROM lineitem)
      |SELECT
      |  LEAST(CAST(FLOOR((l_quantity - xlo) / (xhi - xlo) * 16.0) AS BIGINT), 15) AS bx,
      |  LEAST(CAST(FLOOR((l_extendedprice - ylo) / (yhi - ylo) * 16.0) AS BIGINT), 15) AS by,
      |  CAST(COUNT(*) AS BIGINT) AS n
      |FROM lineitem, f GROUP BY 1, 2 ORDER BY bx, by""".stripMargin)
  )

  // q56 — per-group modal value (pandas groupby().mode(), the categorical
  // imputation statistic): most frequent order priority per market
  // segment, smallest value on ties. Two partial-aggregable
  // aggregations — (segment, priority) counts, then a struct-max argmax
  // per segment — never a rank window.
  private val q56 = Q(
    "q56_mode",
    (s, d) => {
      val counts = Tables.orders(s, d)
        .dimJoin(Tables.customer(s, d).select(col("c_custkey"), col("c_mktsegment")),
          col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_mktsegment"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n"))
      // max(struct(n, rev)) picks the largest count; on ties the LARGEST
      // rev = smallest leading digit — the priority domain's leading
      // chars are distinct, so this IS the lexicographic tiebreak
      counts
        .groupBy(col("c_mktsegment"))
        .agg(max(struct(col("n"),
          array(lit(0) - ascii(col("o_orderpriority"))).as("revkey"),
          col("o_orderpriority"))).as("w"))
        .select(col("c_mktsegment"), col("w.o_orderpriority").as("mode_priority"),
          col("w.n").as("n"))
        .orderBy("c_mktsegment")
    },
    Some("""WITH counts AS (
      |  SELECT c_mktsegment, o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n
      |  FROM orders JOIN customer ON o_custkey = c_custkey
      |  GROUP BY 1, 2),
      |ranked AS (
      |  SELECT c_mktsegment, o_orderpriority, n,
      |    ROW_NUMBER() OVER (PARTITION BY c_mktsegment
      |      ORDER BY n DESC, o_orderpriority) AS rn
      |  FROM counts)
      |SELECT c_mktsegment, o_orderpriority AS mode_priority, n
      |FROM ranked WHERE rn = 1 ORDER BY c_mktsegment""".stripMargin)
  )

  override val qs: Seq[Q] = Seq(q01, q02, q03, q04, q05, q06, q07, q08, q09,
    q10, q11, q12, q13, q14, q15, q16, q17, q18, q31, q32, q33, q34, q35,
    q36, q37, q38, q39, q40, q41, q42, q43, q44, q45, q46, q47, q48, q49,
    q50, q51, q52, q53, q55, q56, apDistinct, apQuantiles, apTopk, apBloom)
}
