package graft.operators

import graft.Exact.GraftCheckpoint
import graft.{Exact, Q, Tables, Module}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Round-5 relational additions: higher moments, bounded-state EWMA,
  * per-group diff, robust scale (MAD), weighted statistics, and
  * out-of-order (late-event) observability. Same discipline as
  * [[RelationalA]]: every aggregate partial-aggregable on an exact
  * integer/decimal grid, derived statistics are fixed IEEE expressions
  * written with the same shape as the DuckDB oracle, group keys are
  * either high-cardinality or only ever see pre-aggregated partials.
  */
object RelationalC extends Module {

  // q57 — skewness/kurtosis per column (the df.skew()/df.kurt() EDA
  // moments past q06's mean/std). ONE scan computes exact integer power
  // sums Σz..Σz⁴ on the 1e-3 grid in a DECIMAL(38,0) accumulator (z⁴
  // for quantity ≈ 6e18 per ROW — a flat long sum would overflow
  // immediately; the decimal accumulator is safe to ~1e17 rows and
  // order-independent), then bias-corrected G1/G2 (the pandas formulas)
  // as one fixed IEEE expression per column, unpivoted from the single
  // aggregated row. Skew/kurt are scale-invariant, so the grid factor
  // cancels and never reappears.
  // per-column grids sized to the value domain: quantity is INTEGRAL
  // 1..50, so grid 1 keeps z⁴ ≤ 6.25e6 per row (a 1e3 grid put Σz⁴
  // past 2^64 at sf1, where the direct decimal→double readout is
  // engine-divergent — the skew/kurt formulas are scale-invariant so
  // the grid choice cancels); discount/tax are ≤ 0.1 fixed-point.
  // All readouts ride dec2d so the next decades stay engine-identical.
  private val momentCols = Seq(("l_quantity", 1.0), ("l_discount", 1000.0),
    ("l_tax", 1000.0))
  private val q57 = Q(
    "q57_skew_kurt",
    (s, d) => {
      val l = Tables.lineitem(s, d)
      def zd(c: String, g: Double): Column =
        Exact.qzl(col(c), g).cast(DecimalType(38, 0))
      val aggs = momentCols.flatMap { case (c, g) =>
        val z = zd(c, g)
        Seq(
          count(lit(1)).as(s"${c}_n"),
          Exact.dec2d(sum(z)).as(s"${c}_s1"),
          Exact.dec2d(sum(z * z)).as(s"${c}_s2"),
          // cubic/quartic sums outgrow even dec2d's 2^85 envelope two
          // decades out — the two-level split holds to 2^117
          Exact.dec2d2(sum(z * z * z)).as(s"${c}_s3"),
          Exact.dec2d2(sum(z * z * z * z)).as(s"${c}_s4"))
      }
      val a = l.agg(aggs.head, aggs.tail: _*)
      val rows = momentCols.map(_._1).map { c =>
        val n = col(s"${c}_n").cast("double")
        val m1 = col(s"${c}_s1") / n
        val q2 = col(s"${c}_s2") / n
        val q3 = col(s"${c}_s3") / n
        val q4 = col(s"${c}_s4") / n
        val m2 = q2 - m1 * m1
        val m3 = q3 - lit(3.0) * m1 * q2 + lit(2.0) * m1 * m1 * m1
        val m4 = q4 - lit(4.0) * m1 * q3 + lit(6.0) * m1 * m1 * q2 -
          lit(3.0) * m1 * m1 * m1 * m1
        struct(
          lit(c).as("col_name"),
          col(s"${c}_n").as("n"),
          (m3 / (m2 * sqrt(m2)) * sqrt(n * (n - lit(1.0))) / (n - lit(2.0))).as("skew"),
          (((n + lit(1.0)) * (m4 / (m2 * m2) - lit(3.0)) + lit(6.0)) * (n - lit(1.0)) /
            ((n - lit(2.0)) * (n - lit(3.0)))).as("kurt"))
      }
      a.select(inline(array(rows: _*))).orderBy("col_name")
    },
    Some {
      val parts = momentCols.map { case (c, g) =>
        s"""SELECT '$c' AS col_name, CAST(COUNT(*) AS BIGINT) AS n_b, CAST(COUNT(*) AS DOUBLE) AS n,
           |  ${graft.Exact.sqlDec2d("SUM(z)")} AS s1, ${graft.Exact.sqlDec2d("SUM(z*z)")} AS s2,
           |  ${graft.Exact.sqlDec2d2("SUM(z*z*z)")} AS s3, ${graft.Exact.sqlDec2d2("SUM(z*z*z*z)")} AS s4
           |FROM (SELECT CAST(CAST(ROUND($c * $g) AS BIGINT) AS HUGEINT) AS z FROM lineitem)""".stripMargin
      }
      s"""WITH s AS (${parts.mkString("\nUNION ALL\n")}),
         |m AS (SELECT col_name, n_b, n, s1 / n AS m1, s2 / n AS q2, s3 / n AS q3, s4 / n AS q4 FROM s),
         |mm AS (SELECT col_name, n_b, n, m1,
         |  q2 - m1 * m1 AS m2,
         |  q3 - 3.0 * m1 * q2 + 2.0 * m1 * m1 * m1 AS m3,
         |  q4 - 4.0 * m1 * q3 + 6.0 * m1 * m1 * q2 - 3.0 * m1 * m1 * m1 * m1 AS m4
         |FROM m)
         |SELECT col_name, n_b AS n,
         |  m3 / (m2 * SQRT(m2)) * SQRT(n * (n - 1.0)) / (n - 2.0) AS skew,
         |  ((n + 1.0) * (m4 / (m2 * m2) - 3.0) + 6.0) * (n - 1.0) / ((n - 2.0) * (n - 3.0)) AS kurt
         |FROM mm ORDER BY col_name""".stripMargin
    }
  )

  // q58 — exponentially weighted moving average of order value per
  // customer (pandas ewm(alpha=.5).mean()), in its BOUNDED-state form:
  // truncated at 8 terms, so the weights are the integers 128..1 and the
  // whole statistic is two exact BIGINT window sums on the cent grid —
  // one IEEE division at the end, no float accumulation anywhere. The
  // 8-term truncation is deliberate: weight 2⁻⁸ < 0.4% — and O(1) state
  // is exactly what the streaming twin of this statistic would hold.
  // Keyed on high-cardinality o_custkey; all 8 lags share one window.
  private val q58 = Q(
    "q58_ewma",
    (s, d) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate"), col("o_orderkey"))
      val cz = Exact.qzl(col("o_totalprice"), 100.0)
      val terms = (0 to 7).map { j =>
        val v = if (j == 0) cz else lag(cz, j).over(w)
        (v, 1L << (7 - j))
      }
      val num = terms.map { case (v, wt) => coalesce(v, lit(0L)) * lit(wt) }.reduce(_ + _)
      val den = terms.map { case (v, wt) =>
        when(v.isNotNull, lit(wt)).otherwise(lit(0L)) }.reduce(_ + _)
      Tables.orders(s, d)
        .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"),
          (num.cast("double") / den.cast("double") / lit(100.0)).as("ewma"))
    },
    Some {
      def lagz(j: Int): String =
        if (j == 0) "CAST(ROUND(o_totalprice * 100.0) AS BIGINT)"
        else s"LAG(CAST(ROUND(o_totalprice * 100.0) AS BIGINT), $j) OVER w"
      val num = (0 to 7).map(j => s"COALESCE(${lagz(j)}, 0) * ${1L << (7 - j)}").mkString(" + ")
      val den = (0 to 7).map(j =>
        s"CASE WHEN ${lagz(j)} IS NOT NULL THEN ${1L << (7 - j)} ELSE 0 END").mkString(" + ")
      s"""SELECT o_custkey, o_orderkey, o_totalprice,
         |  CAST($num AS DOUBLE) / CAST($den AS DOUBLE) / 100.0 AS ewma
         |FROM orders
         |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
         |""".stripMargin
    }
  )

  // q59 — per-customer diff/shift (pandas groupby().diff()): consecutive
  // order value delta and days between orders. One lag window on the
  // high-cardinality customer key; the deltas are single IEEE
  // subtractions of stored doubles (exact-identical in any engine) and
  // integer day arithmetic — nothing to quantize. First order per
  // customer yields NULLs on both sides.
  private val q59 = Q(
    "q59_diff",
    (s, d) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate"), col("o_orderkey"))
      Tables.orders(s, d)
        .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"),
          (col("o_totalprice") - lag(col("o_totalprice"), 1).over(w)).as("price_diff"),
          datediff(col("o_orderdate"), lag(col("o_orderdate"), 1).over(w))
            .cast("long").as("days_since"))
    },
    Some("""SELECT o_custkey, o_orderkey, o_totalprice,
      |  o_totalprice - LAG(o_totalprice, 1) OVER w AS price_diff,
      |  CAST(date_diff('day', CAST(LAG(o_orderdate, 1) OVER w AS DATE),
      |    CAST(o_orderdate AS DATE)) AS BIGINT) AS days_since
      |FROM orders
      |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
      |""".stripMargin)
  )

  // q60 — grouped median absolute deviation (the robust scale estimate
  // behind robust z-scores; pandas: x.sub(med).abs().median() per group).
  // TWO passes through [[Quantiles]]' (group, bucket) histogram
  // machinery — median of x, then median of |x − med| — each pass
  // bounded-metadata on the driver, never a quantile window over the
  // 3-value group key. The oracle recomputes both medians with the
  // identical interpolation expression, so the doubles match
  // bit-for-bit.
  private val q60 = Q(
    "q60_grouped_mad",
    (s, d) => {
      import s.implicits._
      val l = Tables.lineitem(s, d)
      val meds = Quantiles.groupedExactQuantiles(
        l, "l_returnflag", "l_extendedprice", Seq(0.5))
        .map { case (g, _, v) => (g, v) }
      val devs = l.join(broadcast(meds.toDF("g", "med")),
          col("l_returnflag") === col("g"))
        .select(col("l_returnflag"), col("med"),
          abs(col("l_extendedprice") - col("med")).as("dev"))
      val mads = Quantiles.groupedExactQuantiles(devs, "l_returnflag", "dev", Seq(0.5))
        .map { case (g, _, v) => (g, v) }.toMap
      meds.map { case (g, m) => (g, m, mads(g)) }.sortBy(_._1)
        .toDF("l_returnflag", "median", "mad")
    },
    Some(s"""WITH med AS (${Quantiles.sql("lineitem", "l_extendedprice", Seq(0.5), Some("l_returnflag"))}),
      |d AS (
      |  SELECT l.l_returnflag AS dg, ABS(l.l_extendedprice - med.value) AS dev
      |  FROM lineitem l JOIN med ON l.l_returnflag = med.g),
      |madv AS (${Quantiles.sql("d", "dev", Seq(0.5), Some("dg"))})
      |SELECT med.g AS l_returnflag, med.value AS median, madv.value AS mad
      |FROM med JOIN madv ON med.g = madv.g ORDER BY l_returnflag""".stripMargin)
  )

  // q61 — weighted mean / variance per group (quantity-weighted price —
  // the np.average(weights=...) step of any weighted EDA): one
  // partial-aggregable scan accumulating Σw, Σwx, Σwx² as exact
  // DECIMAL(38,0) integer-grid sums, then fixed IEEE expressions with
  // the grid factors divided back out. Grids sized to the value
  // domains: quantity is INTEGRAL (grid 1), price is cent-exact (grid
  // 100) — the old 1e3 grids put Σw·x² at ~1e26, past even the dec2d
  // envelope; now the per-row product ≤ 5e15 and the sums ride dec2d
  // safely for the next three decades. Population variance (ddof=0,
  // the np.average convention).
  private val q61 = Q(
    "q61_weighted_stats",
    (s, d) => {
      val l = Tables.lineitem(s, d)
      val zw = Exact.qzl(col("l_quantity"), 1.0).cast(DecimalType(38, 0))
      val zx = Exact.qzl(col("l_extendedprice"), 100.0).cast(DecimalType(38, 0))
      val a = l.groupBy(col("l_returnflag"))
        .agg(
          count(lit(1)).as("n"),
          Exact.dec2d(sum(zw)).as("sw"),
          Exact.dec2d(sum(zw * zx)).as("swx"),
          Exact.dec2d(sum(zw * zx * zx)).as("swxx"))
      val wmean = col("swx") / col("sw") / lit(100.0)
      a.select(col("l_returnflag"), col("n"),
          wmean.as("wmean"),
          (col("swxx") / col("sw") / lit(10000.0) - wmean * wmean).as("wvar"))
        .orderBy("l_returnflag")
    },
    Some(s"""SELECT l_returnflag, CAST(COUNT(*) AS BIGINT) AS n,
      |  ${graft.Exact.sqlDec2d("SUM(zw * zx)")} / ${graft.Exact.sqlDec2d("SUM(zw)")} / 100.0 AS wmean,
      |  ${graft.Exact.sqlDec2d("SUM(zw * zx * zx)")} / ${graft.Exact.sqlDec2d("SUM(zw)")} / 10000.0
      |    - (${graft.Exact.sqlDec2d("SUM(zw * zx)")} / ${graft.Exact.sqlDec2d("SUM(zw)")} / 100.0)
      |    * (${graft.Exact.sqlDec2d("SUM(zw * zx)")} / ${graft.Exact.sqlDec2d("SUM(zw)")} / 100.0) AS wvar
      |FROM (
      |  SELECT l_returnflag,
      |    CAST(CAST(ROUND(l_quantity) AS BIGINT) AS HUGEINT) AS zw,
      |    CAST(CAST(ROUND(l_extendedprice * 100.0) AS BIGINT) AS HUGEINT) AS zx
      |  FROM lineitem)
      |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)
  )

  // q62 — late/out-of-order event metrics (the observability surface a
  // watermarked streaming ingest needs: how much disorder, how much
  // would a 10-minute watermark drop). Per-user high-watermark = max
  // event time over PRIOR arrivals (arrival order = event_id) — a
  // rows-frame window on the high-cardinality user key — then one
  // partial-aggregable rollup to per-hour counts. All integer
  // millisecond arithmetic; nothing to quantize.
  private val q62 = Q(
    "q62_late_events",
    (s, d) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("event_id"))
        .rowsBetween(Window.unboundedPreceding, -1)
      val ev = Tables.events(s, d)
        .withColumn("hwm_ms", unix_millis(max(col("ts")).over(w)))
        .withColumn("ts_ms", unix_millis(col("ts")))
      ev.groupBy(date_trunc("hour", col("ts")).as("h"))
        .agg(
          count(lit(1)).as("n_events"),
          sum(when(col("ts_ms") < col("hwm_ms") - lit(600000L), 1L).otherwise(0L)).as("n_late"),
          max(greatest(coalesce(col("hwm_ms") - col("ts_ms"), lit(0L)), lit(0L))).as("max_disorder_ms"))
    },
    Some("""WITH e AS (
      |  SELECT date_trunc('hour', ts) AS h,
      |    epoch_ms(ts) AS ts_ms,
      |    epoch_ms(MAX(ts) OVER (PARTITION BY user_id ORDER BY event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)) AS hwm_ms
      |  FROM events)
      |SELECT h, CAST(COUNT(*) AS BIGINT) AS n_events,
      |  CAST(SUM(CASE WHEN ts_ms < hwm_ms - 600000 THEN 1 ELSE 0 END) AS BIGINT) AS n_late,
      |  CAST(MAX(GREATEST(COALESCE(hwm_ms - ts_ms, 0), 0)) AS BIGINT) AS max_disorder_ms
      |FROM e GROUP BY h""".stripMargin)
  )

  // q63 — EXACT percent_rank per row WITHIN low-cardinality groups
  // (q48's grouped sibling — the case where partitionBy(group) would
  // funnel a third of the table through one sort task). Per-(group,
  // bucket) histogram → per-group cumulative offsets (bounded driver
  // metadata: ≤ groups × 65536 bucket rows by construction, never
  // data-proportional) → rank window keyed on the high-cardinality
  // (group, bucket) pair; point-mass buckets skip the sort entirely, so
  // value skew stays the cheap case. For HIGH-cardinality groups the
  // plain window is already parallel — this operator exists for the
  // low-cardinality funnel.
  private val q63 = Q(
    "q63_group_percent_rank",
    (s, d) => {
      import s.implicits._
      // explicit NULL parity: engines disagree on NULL placement inside
      // rank windows (Spark NULLS FIRST vs DuckDB NULLS LAST) — exclude
      // them identically on both sides so the contract is pinned even
      // on corpora that have them (this one doesn't)
      val l = Tables.lineitem(s, d).filter(col("l_extendedprice").isNotNull)
      val g = "l_returnflag"; val v = "l_extendedprice"
      val stats = l.groupBy(col(g)).agg(min(col(v)).as("lo"), max(col(v)).as("hi"),
          count(lit(1)).as("ng"))
        .collect().map(r => (r.getString(0), r.getDouble(1), r.getDouble(2), r.getLong(3)))
      val statsDf = broadcast(stats.toSeq.toDF("g", "lo", "hi", "ng"))
      val bucketed = l.join(statsDf, col(g) === col("g"))
        .withColumn("b", Quantiles.bucketOf(col(v), col("lo"), col("hi")))
      val keyed = Quantiles.withBucketOffsets(bucketed, col(v), Seq("off" -> lit(1L)),
        grouped = true)
      val w = Window.partitionBy(col("g"), col("b")).orderBy(col(v))
      val diverse = keyed.filter(!col("pointmass"))
        .withColumn("grank", col("off") + rank().over(w))
      val point = keyed.filter(col("pointmass"))
        .withColumn("grank", col("off") + lit(1L))
      diverse.unionByName(point)
        .select(col(g), col("l_orderkey"), col("l_linenumber"), col(v),
          when(col("ng") > 1L,
            (col("grank") - lit(1L)).cast("double") / (col("ng") - lit(1L)).cast("double"))
            .otherwise(lit(0.0)).as("pr"))
    },
    Some("""SELECT l_returnflag, l_orderkey, l_linenumber, l_extendedprice,
      |  percent_rank() OVER (PARTITION BY l_returnflag ORDER BY l_extendedprice) AS pr
      |FROM lineitem WHERE l_extendedprice IS NOT NULL
      |""".stripMargin)
  )

  // q64 — Welch two-sample t-test between the open/finished lineitem
  // populations (the A/B significance step of any experiment readout).
  // The t statistic is scale-invariant, so it is computed directly on
  // the exact 1e-3-grid power sums — ONE conditional-aggregate scan for
  // both samples, then the t/df closed forms as fixed IEEE expressions
  // (Welch–Satterthwaite degrees of freedom). mean_diff is rescaled
  // back to price units.
  private val q64 = Q(
    "q64_welch_ttest",
    (s, d) => {
      val l = Tables.lineitem(s, d)
      // cent grid (price is cent-exact; the old 1e3 grid put Σz² past
      // 2^64 at sf1) + dec2d readouts — t/df are scale-invariant and
      // mean_diff divides the grid back out
      val z = Exact.qzl(col("l_extendedprice"), 100.0).cast(DecimalType(38, 0))
      def cond(status: String, e: Column): Column =
        sum(when(col("l_linestatus") === status, e).otherwise(lit(0).cast(DecimalType(38, 0))))
      val a = l.agg(
        sum(when(col("l_linestatus") === "O", 1L).otherwise(0L)).as("na_l"),
        Exact.dec2d(cond("O", z)).as("sa1"),
        Exact.dec2d(cond("O", z * z)).as("sa2"),
        sum(when(col("l_linestatus") === "F", 1L).otherwise(0L)).as("nb_l"),
        Exact.dec2d(cond("F", z)).as("sb1"),
        Exact.dec2d(cond("F", z * z)).as("sb2"))
      val na = col("na_l").cast("double"); val nb = col("nb_l").cast("double")
      val ma = col("sa1") / na; val mb = col("sb1") / nb
      val va = (col("sa2") / na - ma * ma) * na / (na - lit(1.0))
      val vb = (col("sb2") / nb - mb * mb) * nb / (nb - lit(1.0))
      val sea = va / na; val seb = vb / nb
      a.select(col("na_l").as("n_a"), col("nb_l").as("n_b"),
        ((ma - mb) / lit(100.0)).as("mean_diff"),
        ((ma - mb) / sqrt(sea + seb)).as("t_stat"),
        ((sea + seb) * (sea + seb) /
          (sea * sea / (na - lit(1.0)) + seb * seb / (nb - lit(1.0)))).as("df"))
    },
    Some(s"""WITH s AS (
      |  SELECT
      |    CAST(SUM(CASE WHEN l_linestatus = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS na_l,
      |    ${graft.Exact.sqlDec2d("SUM(CASE WHEN l_linestatus = 'O' THEN z ELSE 0 END)")} AS sa1,
      |    ${graft.Exact.sqlDec2d("SUM(CASE WHEN l_linestatus = 'O' THEN z * z ELSE 0 END)")} AS sa2,
      |    CAST(SUM(CASE WHEN l_linestatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS nb_l,
      |    ${graft.Exact.sqlDec2d("SUM(CASE WHEN l_linestatus = 'F' THEN z ELSE 0 END)")} AS sb1,
      |    ${graft.Exact.sqlDec2d("SUM(CASE WHEN l_linestatus = 'F' THEN z * z ELSE 0 END)")} AS sb2
      |  FROM (SELECT l_linestatus,
      |          CAST(CAST(ROUND(l_extendedprice * 100.0) AS BIGINT) AS HUGEINT) AS z
      |        FROM lineitem)),
      |m AS (
      |  SELECT na_l, nb_l,
      |    CAST(na_l AS DOUBLE) AS na, CAST(nb_l AS DOUBLE) AS nb,
      |    sa1 / CAST(na_l AS DOUBLE) AS ma, sb1 / CAST(nb_l AS DOUBLE) AS mb,
      |    sa2, sb2 FROM s),
      |v AS (
      |  SELECT na_l, nb_l, na, nb, ma, mb,
      |    (sa2 / na - ma * ma) * na / (na - 1.0) / na AS sea,
      |    (sb2 / nb - mb * mb) * nb / (nb - 1.0) / nb AS seb
      |  FROM m)
      |SELECT na_l AS n_a, nb_l AS n_b,
      |  (ma - mb) / 100.0 AS mean_diff,
      |  (ma - mb) / SQRT(sea + seb) AS t_stat,
      |  (sea + seb) * (sea + seb) / (sea * sea / (na - 1.0) + seb * seb / (nb - 1.0)) AS df
      |FROM v""".stripMargin)
  )

  // q65 — event-type transition matrix (the Markov view of user
  // journeys behind any sankey/flow chart): consecutive (prev → next)
  // pairs per user via one lag window on the high-cardinality user key,
  // then a partial-aggregable count to the |types|² surface; the
  // row-normalized probability runs on that tiny surface, never on
  // event rows.
  private val q65 = Q(
    "q65_transitions",
    (s, d) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      val pairs = Tables.events(s, d)
        .withColumn("prev", lag(col("event_type"), 1).over(w))
        .filter(col("prev").isNotNull)
        .groupBy(col("prev"), col("event_type").as("next"))
        .agg(count(lit(1)).as("n"))
      val wp = Window.partitionBy(col("prev"))
      pairs
        .withColumn("row_total", sum(col("n")).over(wp))
        .select(col("prev"), col("next"), col("n"),
          (col("n").cast("double") / col("row_total").cast("double")).as("p"))
        .orderBy("prev", "next")
    },
    Some("""WITH t AS (
      |  SELECT LAG(event_type, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev,
      |    event_type AS next
      |  FROM events),
      |c AS (
      |  SELECT prev, next, CAST(COUNT(*) AS BIGINT) AS n
      |  FROM t WHERE prev IS NOT NULL GROUP BY prev, next)
      |SELECT prev, next, n,
      |  CAST(n AS DOUBLE) / CAST(SUM(n) OVER (PARTITION BY prev) AS DOUBLE) AS p
      |FROM c ORDER BY prev, next""".stripMargin)
  )

  // q66 — exact two-sample Kolmogorov–Smirnov statistic between the
  // open/finished price distributions (the nonparametric drift test
  // next to q64's t and ml_psi's binned PSI — KS needs NO bins). The
  // sup |F1−F2| is attained at data points, so: distinct-value counts
  // per sample (one high-cardinality groupBy), bucket the value axis,
  // per-bucket totals → cumulative offsets (bounded driver metadata,
  // ≤ 65536 buckets), then the cumulative window runs WITHIN buckets
  // only — the q48/q63 discipline; DuckDB's oracle is the naive global
  // cumulative window, and the max |…| doubles match bit-for-bit
  // because every CDF value is an exact-integer division.
  private val q66 = Q(
    "q66_ks_test",
    (s, d) => {
      val u = Tables.lineitem(s, d)
        .filter(col("l_linestatus").isin("O", "F"))
        .select(col("l_extendedprice").as("x"),
          when(col("l_linestatus") === "O", 1L).otherwise(0L).as("a"),
          when(col("l_linestatus") === "F", 1L).otherwise(0L).as("b"))
      val c = u.groupBy("x").agg(sum(col("a")).as("ca"), sum(col("b")).as("cb"))
      val r = c.agg(min(col("x")), max(col("x")),
        sum(col("ca")), sum(col("cb"))).head()
      val (lo, hi, na, nb) = (r.getDouble(0), r.getDouble(1), r.getLong(2), r.getLong(3))
      val bucketed = c.withColumn("b", Quantiles.bucketOf(col("x"), lit(lo), lit(hi)))
      val w = Window.partitionBy(col("b")).orderBy(col("x"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Quantiles.withBucketOffsets(bucketed, col("x"), Seq("offa" -> col("ca"), "offb" -> col("cb")))
        .withColumn("cuma", col("offa") + sum(col("ca")).over(w))
        .withColumn("cumb", col("offb") + sum(col("cb")).over(w))
        .agg(max(abs(col("cuma").cast("double") / lit(na.toDouble) -
          col("cumb").cast("double") / lit(nb.toDouble))).as("ks_d"))
        .select(lit(na).as("n_a"), lit(nb).as("n_b"), col("ks_d"))
    },
    Some("""WITH c AS (
      |  SELECT l_extendedprice AS x,
      |    CAST(SUM(CASE WHEN l_linestatus = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS ca,
      |    CAST(SUM(CASE WHEN l_linestatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS cb
      |  FROM lineitem WHERE l_linestatus IN ('O', 'F') GROUP BY 1),
      |n AS (SELECT CAST(SUM(ca) AS BIGINT) AS na, CAST(SUM(cb) AS BIGINT) AS nb FROM c),
      |s AS (
      |  SELECT SUM(ca) OVER (ORDER BY x) AS cuma, SUM(cb) OVER (ORDER BY x) AS cumb FROM c)
      |SELECT n.na AS n_a, n.nb AS n_b,
      |  (SELECT MAX(ABS(CAST(cuma AS DOUBLE) / CAST(n.na AS DOUBLE)
      |    - CAST(cumb AS DOUBLE) / CAST(n.nb AS DOUBLE))) FROM s) AS ks_d
      |FROM n""".stripMargin)
  )

  // q67 — chi-square independence test over the (returnflag ×
  // linestatus) contingency table (the categorical association readout
  // next to q11's crosstab): observed counts from ONE scan, expected
  // counts and the statistic assembled as fixed IEEE expressions over
  // the |r|×|c| surface. Emits the statistic and dof (the p-value needs
  // an incomplete-gamma, which is not cross-engine bit-stable — a
  // caller applies it driver-side).
  private val q67 = Q(
    "q67_chi2",
    (s, d) => {
      val obs = Tables.lineitem(s, d)
        .groupBy(col("l_returnflag").as("rf"), col("l_linestatus").as("ls"))
        .agg(count(lit(1)).as("o"))
      val wr = Window.partitionBy(col("rf"))
      val wc = Window.partitionBy(col("ls"))
      val wa = Window.partitionBy()
      val e = sum(col("o")).over(wr).cast("double") *
        sum(col("o")).over(wc).cast("double") /
        sum(col("o")).over(wa).cast("double")
      val cells = obs.withColumn("e", e)
        .withColumn("term", (col("o").cast("double") - col("e")) *
          (col("o").cast("double") - col("e")) / col("e"))
      // (R-1)(C-1) folds into the same 1-row aggregate (cells keeps
      // rf/ls) — the old eager distinct().count() pair was two
      // synchronous driver jobs before the lazy plan even built.
      cells.agg(sum(col("o")).as("n"),
          sum(Exact.d12(col("term"))).cast("double").as("chi2"),
          ((countDistinct(col("rf")) - 1) * (countDistinct(col("ls")) - 1))
            .as("dof"))
        .select(col("n"), col("chi2"), col("dof"))
    },
    Some("""WITH obs AS (
      |  SELECT l_returnflag AS rf, l_linestatus AS ls, CAST(COUNT(*) AS BIGINT) AS o
      |  FROM lineitem GROUP BY 1, 2),
      |cells AS (
      |  SELECT o,
      |    (CAST(o AS DOUBLE) - e) * (CAST(o AS DOUBLE) - e) / e AS term
      |  FROM (
      |    SELECT o,
      |      CAST(SUM(o) OVER (PARTITION BY rf) AS DOUBLE)
      |        * CAST(SUM(o) OVER (PARTITION BY ls) AS DOUBLE)
      |        / CAST(SUM(o) OVER () AS DOUBLE) AS e
      |    FROM obs)),
      |dims AS (SELECT CAST((COUNT(DISTINCT rf) - 1) * (COUNT(DISTINCT ls) - 1) AS BIGINT) AS dof FROM obs)
      |SELECT CAST(SUM(o) AS BIGINT) AS n,
      |  CAST(SUM(CAST(term AS DECIMAL(38,12))) AS DOUBLE) AS chi2,
      |  (SELECT dof FROM dims) AS dof
      |FROM cells""".stripMargin)
  )

  // q68 — autocorrelation of the hourly event series at lags 1..6 (the
  // ACF seasonality diagnostic of time-series EDA). The fact table
  // partial-aggregates to the |hours| surface FIRST (gap hours
  // zero-filled from a 1-row span aggregate); every remaining stage —
  // lag self-join, moment sums — runs on that tiny surface. The
  // centered products are EXPANDED into raw integer sums
  // (Σy_a·y_b, Σy_a, Σy_b, pair count), so no float accumulates over
  // rows in either engine and the ACF is a fixed IEEE expression over
  // exact integers (the standard estimator: centered by the global
  // mean, normalized by the global sum of squares).
  private val q68 = Q(
    "q68_autocorr",
    (s, d) => {
      import s.implicits._
      // materialize the |hours| surface ONCE (localCheckpoint): the span
      // fit, zero-fill join and both self-join sides all reuse it — the
      // events table is scanned exactly once
      val counts = Tables.events(s, d)
        .groupBy(date_trunc("hour", col("ts")).as("h"))
        .agg(count(lit(1)).as("y"))
        .graftCheckpoint()
      val series = counts.agg(min(col("h")).as("lo"), max(col("h")).as("hi"))
        .select(explode(sequence(col("lo"), col("hi"),
          expr("INTERVAL 1 HOUR"))).as("h"))
        .join(counts, Seq("h"), "left")
        .select(unix_millis(col("h")).as("hm"), coalesce(col("y"), lit(0L)).as("y"))
      val g = series.agg(count(lit(1)).as("n"), sum(col("y")).as("sy"),
        sum(col("y") * col("y")).as("syy")).head()
      val (n, sy, syy) = (g.getLong(0), g.getLong(1), g.getLong(2))
      val lags = broadcast((1 to 6).map(_.toLong).toDF("lag"))
      val a = series.select(col("hm").as("ha"), col("y").as("ya"))
      val b = series.select(col("hm").as("hb"), col("y").as("yb"))
      val ybar = lit(sy.toDouble) / lit(n.toDouble)
      val denom = lit(syy.toDouble) - lit(n.toDouble) * ybar * ybar
      a.crossJoin(lags).join(b, col("hb") === col("ha") + col("lag") * lit(3600000L))
        .groupBy(col("lag"))
        .agg(count(lit(1)).as("n_pairs"),
          sum(col("ya") * col("yb")).as("sab"),
          sum(col("ya")).as("sa"), sum(col("yb")).as("sb"))
        .select(col("lag"), col("n_pairs"),
          ((col("sab").cast("double") - ybar * (col("sa").cast("double") + col("sb").cast("double")) +
            col("n_pairs").cast("double") * ybar * ybar) / denom).as("acf"))
        .orderBy("lag")
    },
    Some("""WITH counts AS (
      |  SELECT date_trunc('hour', ts) AS h, CAST(COUNT(*) AS BIGINT) AS y
      |  FROM events GROUP BY 1),
      |spine AS (
      |  SELECT unnest(generate_series((SELECT MIN(h) FROM counts),
      |    (SELECT MAX(h) FROM counts), INTERVAL 1 HOUR)) AS h),
      |series AS (
      |  SELECT epoch_ms(spine.h) AS hm, COALESCE(counts.y, 0) AS y
      |  FROM spine LEFT JOIN counts ON spine.h = counts.h),
      |g AS (
      |  SELECT CAST(COUNT(*) AS DOUBLE) AS n,
      |    CAST(SUM(y) AS DOUBLE) AS sy, CAST(SUM(y * y) AS DOUBLE) AS syy
      |  FROM series),
      |p AS (
      |  SELECT l.lag, CAST(COUNT(*) AS BIGINT) AS n_pairs,
      |    CAST(SUM(a.y * b.y) AS BIGINT) AS sab,
      |    CAST(SUM(a.y) AS BIGINT) AS sa, CAST(SUM(b.y) AS BIGINT) AS sb
      |  FROM series a
      |  CROSS JOIN (SELECT unnest(generate_series(1, 6)) AS lag) l
      |  JOIN series b ON b.hm = a.hm + l.lag * 3600000
      |  GROUP BY l.lag)
      |SELECT CAST(p.lag AS BIGINT) AS lag, p.n_pairs,
      |  (CAST(sab AS DOUBLE) - (g.sy / g.n) * (CAST(sa AS DOUBLE) + CAST(sb AS DOUBLE))
      |    + CAST(n_pairs AS DOUBLE) * (g.sy / g.n) * (g.sy / g.n))
      |  / (g.syy - g.n * (g.sy / g.n) * (g.sy / g.n)) AS acf
      |FROM p, g ORDER BY lag""".stripMargin)
  )

  // q69 — Pearson correlation per group (pandas groupby()[[...]].corr(),
  // q10's grouped sibling): quantity × price correlation per return
  // flag. One partial-aggregable scan accumulates the five exact grid
  // sums per group; r is the standard IEEE expression over them —
  // group cardinality only ever shapes the |groups|-row output, never
  // a window.
  // Grids sized to the domains (quantity INTEGRAL → 1, price
  // cent-exact → 100) and every readout on dec2d: the old 1e3 grids
  // put the per-group Σzy² past 2^64 at sf1, where the direct
  // decimal→double cast is engine-divergent (SURVEY §5); r is
  // scale-invariant so the grid change cancels.
  private val q69 = Q(
    "q69_grouped_corr",
    (s, d) => {
      val l = Tables.lineitem(s, d)
      val zx = Exact.qzl(col("l_quantity"), 1.0).cast(DecimalType(38, 0))
      val zy = Exact.qzl(col("l_extendedprice"), 100.0).cast(DecimalType(38, 0))
      val a = l.groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n_l"),
          Exact.dec2d(sum(zx)).as("sx"), Exact.dec2d(sum(zy)).as("sy"),
          Exact.dec2d(sum(zx * zx)).as("sxx"),
          Exact.dec2d(sum(zy * zy)).as("syy"),
          Exact.dec2d(sum(zx * zy)).as("sxy"))
      val n = col("n_l").cast("double")
      val cov = col("sxy") - col("sx") * col("sy") / n
      val vx = col("sxx") - col("sx") * col("sx") / n
      val vy = col("syy") - col("sy") * col("sy") / n
      a.select(col("l_returnflag"), col("n_l").as("n"),
          (cov / (sqrt(vx) * sqrt(vy))).as("corr"))
        .orderBy("l_returnflag")
    },
    Some {
      def d2(e: String) = graft.Exact.sqlDec2d(e)
      s"""SELECT l_returnflag, CAST(COUNT(*) AS BIGINT) AS n,
      |  (${d2("SUM(zx * zy)")} - ${d2("SUM(zx)")} * ${d2("SUM(zy)")} / CAST(COUNT(*) AS DOUBLE))
      |  / (SQRT(${d2("SUM(zx * zx)")} - ${d2("SUM(zx)")} * ${d2("SUM(zx)")} / CAST(COUNT(*) AS DOUBLE))
      |     * SQRT(${d2("SUM(zy * zy)")} - ${d2("SUM(zy)")} * ${d2("SUM(zy)")} / CAST(COUNT(*) AS DOUBLE))) AS corr
      |FROM (
      |  SELECT l_returnflag,
      |    CAST(CAST(ROUND(l_quantity) AS BIGINT) AS HUGEINT) AS zx,
      |    CAST(CAST(ROUND(l_extendedprice * 100.0) AS BIGINT) AS HUGEINT) AS zy
      |  FROM lineitem)
      |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin
    }
  )

  // q70 — day-of-week × hour activity profile (the weekly-seasonality
  // heatmap of event EDA): one partial-aggregable rollup to the 7×24
  // surface with exact decimal value sums. ISO day numbering pinned on
  // both sides (Spark dayofweek is 1=Sunday; the oracle uses DuckDB's
  // isodow and Spark converts to match).
  private val q70 = Q(
    "q70_dow_hour",
    (s, d) => {
      val ev = Tables.events(s, d)
      // ISO dow: Monday=1..Sunday=7 — Spark's dayofweek is Sunday=1
      val isodow = ((dayofweek(col("ts")) + 5) % 7 + 1).cast("long")
      ev.groupBy(isodow.as("dow"), hour(col("ts")).cast("long").as("hr"))
        .agg(count(lit(1)).as("n"),
          Exact.sumd(col("value")).as("sum_value"))
        .orderBy("dow", "hr")
    },
    Some("""SELECT CAST(isodow(ts) AS BIGINT) AS dow, CAST(hour(ts) AS BIGINT) AS hr,
      |  CAST(COUNT(*) AS BIGINT) AS n,
      |  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
      |FROM events GROUP BY 1, 2 ORDER BY dow, hr""".stripMargin)
  )

  // q71 — subsampling confidence interval for the mean order value (the
  // bag-of-little-bootstraps-style uncertainty readout, with NO RNG:
  // the 32 disjoint subsamples are hash-assigned with the repo's
  // Z-mod-p gate, so the same rows land in the same replicate on any
  // engine or cluster shape). One scan accumulates per-replicate exact
  // grid sums; the replicate means and their spread are IEEE
  // expressions over the 32-row surface. Reported: point estimate,
  // between-replicate std error, and the ±2·se interval.
  private val q71 = Q(
    "q71_subsample_ci",
    (s, d) => {
      val rep = Exact.zmod(col("o_orderkey"), 32L)
      val z = Exact.qzl(col("o_totalprice"), 100.0).cast(DecimalType(38, 0))
      val perRep = Tables.orders(s, d)
        .groupBy(rep.as("rep"))
        .agg(count(lit(1)).as("n"), sum(z).cast("double").as("szd"))
        .select(col("rep"), col("n"),
          // replicate mean quantized to the 1e-4 grid via FLOOR (the
          // engine-stable quantizer — see Graph.pagerank): its square
          // sums exactly in DECIMAL(38,0) and converts through the
          // dec2d split, where the previous DECIMAL(38,12) image of an
          // arbitrary-real m² double-rounded in DuckDB's scaled-decimal
          // cast (1-ulp CI drift surfaced at sf0.1). 1e-4 absolute on a
          // ~1e5-magnitude mean is 1e-9 relative — noise against the
          // subsample CI's own width.
          floor(col("szd") / col("n").cast("double") / lit(100.0) * lit(10000.0))
            .as("mq"))
      val mqd = col("mq").cast(org.apache.spark.sql.types.DecimalType(38, 0))
      val g = perRep.agg(
        sum(col("n")).as("n_total"),
        count(lit(1)).as("n_reps"),
        (Exact.dec2d(sum(mqd)) / lit(10000.0)).as("sm"),
        (Exact.dec2d(sum(mqd * mqd)) / lit(100000000.0)).as("smm"))
      val k = col("n_reps").cast("double")
      val mbar = col("sm") / k
      val se = sqrt((col("smm") - col("sm") * col("sm") / k) / (k - lit(1.0)) / k)
      g.select(col("n_total"), col("n_reps"),
        mbar.as("mean_est"), se.as("se"),
        (mbar - lit(2.0) * se).as("ci_lo"),
        (mbar + lit(2.0) * se).as("ci_hi"))
    },
    Some(s"""WITH r AS (
      |  SELECT ${Exact.sqlZmod("o_orderkey", 32L)} AS rep,
      |    CAST(COUNT(*) AS BIGINT) AS n,
      |    CAST(SUM(CAST(ROUND(o_totalprice * 100.0) AS BIGINT)) AS DOUBLE) AS szd
      |  FROM orders GROUP BY 1),
      |m AS (
      |  SELECT rep, n,
      |    CAST(FLOOR(szd / CAST(n AS DOUBLE) / 100.0 * 10000.0) AS HUGEINT) AS mq
      |  FROM r),
      |g AS (
      |  SELECT CAST(SUM(n) AS BIGINT) AS n_total, CAST(COUNT(*) AS BIGINT) AS n_reps,
      |    ${graft.Exact.sqlDec2d("SUM(mq)")} / 10000.0 AS sm,
      |    ${graft.Exact.sqlDec2d("SUM(mq * mq)")} / 100000000.0 AS smm
      |  FROM m)
      |SELECT n_total, n_reps,
      |  sm / CAST(n_reps AS DOUBLE) AS mean_est,
      |  SQRT((smm - sm * sm / CAST(n_reps AS DOUBLE)) / (CAST(n_reps AS DOUBLE) - 1.0) / CAST(n_reps AS DOUBLE)) AS se,
      |  sm / CAST(n_reps AS DOUBLE) - 2.0 * SQRT((smm - sm * sm / CAST(n_reps AS DOUBLE)) / (CAST(n_reps AS DOUBLE) - 1.0) / CAST(n_reps AS DOUBLE)) AS ci_lo,
      |  sm / CAST(n_reps AS DOUBLE) + 2.0 * SQRT((smm - sm * sm / CAST(n_reps AS DOUBLE)) / (CAST(n_reps AS DOUBLE) - 1.0) / CAST(n_reps AS DOUBLE)) AS ci_hi
      |FROM g""".stripMargin)
  )

  // q72 — naive additive seasonal decomposition of the hourly series
  // (statsmodels seasonal_decompose shape: y = trend + seasonal +
  // residual). Like q68, the fact table reduces once to the
  // checkpointed zero-filled |hours| surface; trend is a centered ±12h
  // moving average (window over the tiny surface), the seasonal
  // component is the hour-of-day mean detrended value (exact-decimal
  // accumulated so both engines agree bit-for-bit), and the residual is
  // one subtraction chain. All windows/aggregates run on the bounded
  // surface, never event rows.
  /** The decomposed (h, y, trend, seasonal, residual) surface — shared
    * by q72_seasonal and RelationalD's q108 seasonal anomaly flags.
    */
  private[operators] def decomposed(s: SparkSession, d: String): DataFrame = {
    val counts = Tables.events(s, d)
      .groupBy(date_trunc("hour", col("ts")).as("h"))
      .agg(count(lit(1)).as("y"))
      .graftCheckpoint()
    val series = counts.agg(min(col("h")).as("lo"), max(col("h")).as("hi"))
      .select(explode(sequence(col("lo"), col("hi"),
        expr("INTERVAL 1 HOUR"))).as("h"))
      .join(counts, Seq("h"), "left")
      .select(col("h"), coalesce(col("y"), lit(0L)).as("y"))
    val wTrend = Window.orderBy(unix_millis(col("h")))
      .rangeBetween(-12L * 3600000L, 12L * 3600000L)
    // L = lcm(1..25): EVERY possible centered-window count divides it,
    // so L·detr = L·y − (L div n)·Σy is an exact BIGINT per row and the
    // seasonal mean is one division of exact integers. The previous
    // DECIMAL(38,12) image of the detr DOUBLE hit Spark's
    // shortest-string vs DuckDB's exact-binary rounding split at digit
    // 12 (caught by the sf1 sweep on q72/q108); integers never round.
    // Magnitudes: L·y ≲ 2.7e10·2e4 ≈ 5e14 per row, the seasonal-window
    // sum ≲ 2e16 — exact in BIGINT, and the BIGINT→double readout is a
    // single correctly-rounded conversion in both engines (the
    // hugeint/int128 half-split trap starts past 2^64, which this sum
    // reaches only alongside 2^53-breaking per-hour counts).
    val trended = series
      .withColumn("tw_n", count(lit(1)).over(wTrend))
      .withColumn("tw_s", sum(col("y")).over(wTrend))
      .withColumn("trend", col("tw_s").cast("double") / col("tw_n").cast("double"))
      .withColumn("detr_l",
        expr(s"${Exact.seasonLcm}L * y - (${Exact.seasonLcm}L div tw_n) * tw_s"))
    val wSeason = Window.partitionBy(hour(col("h")))
    trended
      .withColumn("seasonal",
        sum(col("detr_l")).over(wSeason).cast("double") /
          (count(lit(1)).over(wSeason) * lit(Exact.seasonLcm)).cast("double"))
      .select(col("h"), col("y"), col("trend"), col("seasonal"),
        (col("y").cast("double") - col("trend") - col("seasonal")).as("residual"))
  }

  /** DuckDB twin of [[decomposed]] as a WITH-body ending in `decomp`. */
  private val seasonLcmSql: String = Exact.seasonLcm.toString
  private[operators] val decomposedSql: String =
    s"""counts AS (
      |  SELECT date_trunc('hour', ts) AS h, CAST(COUNT(*) AS BIGINT) AS y
      |  FROM events GROUP BY 1),
      |spine AS (
      |  SELECT unnest(generate_series((SELECT MIN(h) FROM counts),
      |    (SELECT MAX(h) FROM counts), INTERVAL 1 HOUR)) AS h),
      |series AS (
      |  SELECT spine.h, epoch_ms(spine.h) AS hm, COALESCE(counts.y, 0) AS y
      |  FROM spine LEFT JOIN counts ON spine.h = counts.h),
      |t AS (
      |  SELECT h, y, SUM(y) OVER w AS tw_s, COUNT(*) OVER w AS tw_n,
      |    CAST(SUM(y) OVER w AS DOUBLE) / CAST(COUNT(*) OVER w AS DOUBLE) AS trend
      |  FROM series
      |  WINDOW w AS (ORDER BY hm RANGE BETWEEN 43200000 PRECEDING AND 43200000 FOLLOWING)),
      |d AS (SELECT h, y, trend,
      |  $seasonLcmSql * y - ($seasonLcmSql // tw_n) * tw_s AS detr_l FROM t),
      |decomp AS (
      |  SELECT h, y, trend,
      |    CAST(CAST(SUM(detr_l) OVER s AS BIGINT) AS DOUBLE)
      |      / CAST(COUNT(*) OVER s * $seasonLcmSql AS DOUBLE) AS seasonal,
      |    CAST(y AS DOUBLE) - trend
      |      - CAST(CAST(SUM(detr_l) OVER s AS BIGINT) AS DOUBLE)
      |        / CAST(COUNT(*) OVER s * $seasonLcmSql AS DOUBLE) AS residual
      |  FROM d
      |  WINDOW s AS (PARTITION BY hour(h)))""".stripMargin

  private val q72 = Q(
    "q72_seasonal",
    (s, d) => decomposed(s, d),
    Some(s"""WITH $decomposedSql
      |SELECT h, y, trend, seasonal, residual FROM decomp""".stripMargin)
  )

  // q73 — Theil–Sen robust trend of the hourly event series: the slope
  // is the exact MEDIAN of all pairwise slopes (outlier-resistant where
  // least squares is not), the intercept the median residual at that
  // slope. The fact table reduces once to the checkpointed |hours|
  // surface; the pair set is |hours|²/2 rows OF THE SURFACE (260k at
  // sf0.01 — never event rows), and both medians go through
  // [[Quantiles]]' distributed selection. At 100 TB-scale hour counts
  // the standard move is pair sampling or the repeated-median variant —
  // the exact all-pairs form here is what DuckDB can verify.
  private val q73 = Q(
    "q73_theil_sen",
    (s, d) => {
      import s.implicits._
      val counts = Tables.events(s, d)
        .groupBy(date_trunc("hour", col("ts")).as("h"))
        .agg(count(lit(1)).as("y"))
        .graftCheckpoint()
      val t0 = counts.agg(min(unix_millis(col("h")))).head().getLong(0)
      // hour index: the division is exact (date_trunc multiples), cast
      // back to long to mirror the oracle's integer `//`
      val series = counts.select(
        ((unix_millis(col("h")) - lit(t0)) / lit(3600000L)).cast("long").as("t"),
        col("y"))
      val a = series.select(col("t").as("ta"), col("y").as("ya"))
      val b = series.select(col("t").as("tb"), col("y").as("yb"))
      val slopes = a.join(b, col("tb") > col("ta"))
        .select(((col("yb") - col("ya")).cast("double") /
          (col("tb") - col("ta")).cast("double")).as("slope"))
      val slope = Quantiles.exactQuantiles(slopes, Seq("slope"), Seq(0.5)).head._3
      val resid = series.select(
        (col("y").cast("double") - lit(slope) * col("t").cast("double")).as("r"))
      val intercept = Quantiles.exactQuantiles(resid, Seq("r"), Seq(0.5)).head._3
      // n_hours folds into the final (lazy) 1-row aggregate — the old
      // separate series.count() was one more synchronous job on top of
      // the two unavoidable bounded quantile selections above.
      series.agg(count(lit(1)).as("n_hours"))
        .select(col("n_hours"), lit(slope).as("slope_per_hour"),
          lit(intercept).as("intercept"))
    },
    Some(s"""WITH counts AS (
      |  SELECT date_trunc('hour', ts) AS h, CAST(COUNT(*) AS BIGINT) AS y
      |  FROM events GROUP BY 1),
      |series AS (
      |  SELECT (epoch_ms(h) - (SELECT MIN(epoch_ms(h)) FROM counts)) // 3600000 AS t, y
      |  FROM counts),
      |slopes AS (
      |  SELECT CAST(b.y - a.y AS DOUBLE) / CAST(b.t - a.t AS DOUBLE) AS v
      |  FROM series a JOIN series b ON b.t > a.t),
      |sm AS (SELECT value AS slope FROM (${Quantiles.sql("slopes", "v", Seq(0.5))}) t),
      |resid AS (
      |  SELECT CAST(y AS DOUBLE) - (SELECT slope FROM sm) * CAST(t AS DOUBLE) AS r
      |  FROM series),
      |im AS (SELECT value AS intercept FROM (${Quantiles.sql("resid", "r", Seq(0.5))}) t)
      |SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM series) AS n_hours,
      |  (SELECT slope FROM sm) AS slope_per_hour,
      |  (SELECT intercept FROM im) AS intercept""".stripMargin)
  )

  // q74 — cohort LTV curves (the signup-cohort cumulative-revenue table
  // behind every retention/LTV chart): users cohort by first-seen day,
  // purchase value accumulates by day-age. Two partial-aggregable
  // passes keyed on the high-cardinality user id (first-seen fit, then
  // the join back), and the cumulative window runs over the
  // |cohorts|×|ages| surface — never event rows. Exact decimal value
  // sums; age in whole days.
  private val q74 = Q(
    "q74_cohort_ltv",
    (s, d) => {
      val ev = Tables.events(s, d)
      val firstSeen = ev.groupBy(col("user_id"))
        .agg(min(col("ts")).as("first_ts"))
        .select(col("user_id"), date_trunc("day", col("first_ts")).as("cohort"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .join(firstSeen, "user_id")
        .groupBy(col("cohort"),
          datediff(date_trunc("day", col("ts")), col("cohort")).cast("long").as("age_days"))
        .agg(count(lit(1)).as("n_purchases"), Exact.sumd(col("value")).as("revenue"))
      val cohortSizes = firstSeen.groupBy(col("cohort")).agg(count(lit(1)).as("cohort_users"))
      val w = Window.partitionBy(col("cohort")).orderBy(col("age_days"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      purchases.join(broadcast(cohortSizes), "cohort")
        .withColumn("cum_revenue",
          sum(col("revenue").cast(DecimalType(38, 6))).over(w).cast("double"))
        .select(col("cohort"), col("age_days"), col("cohort_users"),
          col("n_purchases"), col("revenue"), col("cum_revenue"),
          (col("cum_revenue") / col("cohort_users").cast("double")).as("ltv_per_user"))
        .orderBy("cohort", "age_days")
    },
    Some("""WITH fs AS (
      |  SELECT user_id, date_trunc('day', MIN(ts)) AS cohort FROM events GROUP BY 1),
      |p AS (
      |  SELECT fs.cohort,
      |    CAST(date_diff('day', fs.cohort, date_trunc('day', e.ts)) AS BIGINT) AS age_days,
      |    CAST(COUNT(*) AS BIGINT) AS n_purchases,
      |    CAST(SUM(CAST(e.value AS DECIMAL(18,6))) AS DOUBLE) AS revenue
      |  FROM events e JOIN fs ON e.user_id = fs.user_id
      |  WHERE e.event_type = 'purchase' GROUP BY 1, 2),
      |cs AS (SELECT cohort, CAST(COUNT(*) AS BIGINT) AS cohort_users FROM fs GROUP BY 1)
      |SELECT p.cohort, p.age_days, cs.cohort_users, p.n_purchases, p.revenue,
      |  CAST(SUM(CAST(p.revenue AS DECIMAL(38,6))) OVER
      |    (PARTITION BY p.cohort ORDER BY p.age_days
      |     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS cum_revenue,
      |  CAST(SUM(CAST(p.revenue AS DECIMAL(38,6))) OVER
      |    (PARTITION BY p.cohort ORDER BY p.age_days
      |     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
      |    / CAST(cs.cohort_users AS DOUBLE) AS ltv_per_user
      |FROM p JOIN cs ON p.cohort = cs.cohort
      |ORDER BY p.cohort, age_days""".stripMargin)
  )

  // q75 — conversion-latency quartiles per funnel stage (how long do
  // users take between view→click and click→purchase — the timing half
  // of q44's reach funnel). Durations come from the same shared-window
  // funnel surface; the per-stage quartiles run through the (group,
  // bucket) histogram machinery — the stage key has cardinality 2, so a
  // partitioned quantile window would funnel into 2 tasks. Durations
  // are exact integer microseconds, so the interpolated quartiles
  // hash-match.
  private val q75 = Q(
    "q75_funnel_time",
    (s, d) => {
      import s.implicits._
      val f = graft.SparkEntry.queries("q44_funnel")(s, d)
      val toClick = f.filter(col("t_view").isNotNull && col("t_click").isNotNull)
        .select(lit("view_to_click").as("stage"),
          (unix_micros(col("t_click")) - unix_micros(col("t_view")))
            .cast("double").as("dur_us"))
      val toPurchase = f.filter(col("t_click").isNotNull && col("t_purchase").isNotNull)
        .select(lit("click_to_purchase").as("stage"),
          (unix_micros(col("t_purchase")) - unix_micros(col("t_click")))
            .cast("double").as("dur_us"))
      val durs = toClick.unionByName(toPurchase)
      Quantiles.groupedExactQuantiles(durs, "stage", "dur_us", Seq(0.25, 0.5, 0.75))
        .sortBy(r => (r._1, r._2))
        .toDF("stage", "q", "dur_us")
    },
    Some(s"""WITH v AS (
      |  SELECT *, MIN(CASE WHEN event_type = 'view' THEN ts END)
      |    OVER (PARTITION BY user_id) AS t_view FROM events),
      |c AS (
      |  SELECT *, MIN(CASE WHEN event_type = 'click' AND ts > t_view THEN ts END)
      |    OVER (PARTITION BY user_id) AS t_click FROM v),
      |pp AS (
      |  SELECT *, MIN(CASE WHEN event_type = 'purchase' AND ts > t_click THEN ts END)
      |    OVER (PARTITION BY user_id) AS t_purchase FROM c),
      |f AS (
      |  SELECT user_id, MIN(t_view) AS tv, MIN(t_click) AS tc, MIN(t_purchase) AS tp
      |  FROM pp GROUP BY user_id),
      |dd AS (
      |  SELECT 'view_to_click' AS g, CAST(epoch_us(tc) - epoch_us(tv) AS DOUBLE) AS x
      |  FROM f WHERE tv IS NOT NULL AND tc IS NOT NULL
      |  UNION ALL
      |  SELECT 'click_to_purchase', CAST(epoch_us(tp) - epoch_us(tc) AS DOUBLE)
      |  FROM f WHERE tc IS NOT NULL AND tp IS NOT NULL)
      |SELECT g AS stage, q, value AS dur_us
      |FROM (${Quantiles.sql("dd", "x", Seq(0.25, 0.5, 0.75), Some("g"))}) b
      |ORDER BY stage, q""".stripMargin)
  )

  // q76 — Gini coefficient of customer spend (the inequality /
  // concentration readout: "do 10% of customers drive 90% of
  // revenue?"). Gini needs Σ rank·x over the GLOBALLY sorted values —
  // the classic one-task sort — so the rank comes from the q48/q66
  // bucket-offset discipline instead: per-bucket counts → cumulative
  // offsets (bounded metadata) → row_number within buckets only. Ties
  // contribute identically under any tie order (equal x), so the
  // statistic is exact; Σ rank·z accumulates in DECIMAL(38,0) (rank ≤
  // n makes the product quadratic in n — a long sum dies first) and
  // Gini is one fixed IEEE expression, scale-invariant on the cent
  // grid.
  private val q76 = Q(
    "q76_gini",
    (s, d) => {
      val spend = Tables.orders(s, d).groupBy(col("o_custkey"))
        .agg(sum(Exact.qzl(col("o_totalprice"), 100.0)).as("z"))
        .select(col("z").cast("double").as("x"))
      val r = spend.agg(min(col("x")), max(col("x")), count(lit(1))).head()
      val (lo, hi, n) = (r.getDouble(0), r.getDouble(1), r.getLong(2))
      val bucketed = spend.withColumn("b", Quantiles.bucketOf(col("x"), lit(lo), lit(hi)))
      val w = Window.partitionBy(col("b")).orderBy(col("x"))
      val g = Quantiles.withBucketOffsets(bucketed, col("x"), Seq("off" -> lit(1L)))
        .withColumn("rank", col("off") + row_number().over(w))
        .agg(
          // multiply in DECIMAL: rank·x ≈ n·Σx per row brushes int64
          // long before the sum does
          sum(col("rank").cast(DecimalType(38, 0)) *
            col("x").cast("long").cast(DecimalType(38, 0)))
            .cast("double").as("srx"),
          sum(col("x").cast("long").cast(DecimalType(38, 0))).cast("double").as("sx"))
      g.select(lit(n).as("n_customers"),
        (lit(2.0) * col("srx") / (lit(n.toDouble) * col("sx")) -
          (lit(n.toDouble) + lit(1.0)) / lit(n.toDouble)).as("gini"))
    },
    Some("""WITH spend AS (
      |  SELECT CAST(CAST(SUM(CAST(ROUND(o_totalprice * 100.0) AS BIGINT)) AS BIGINT) AS DOUBLE) AS x
      |  FROM orders GROUP BY o_custkey),
      |ranked AS (
      |  SELECT x, ROW_NUMBER() OVER (ORDER BY x) AS rank FROM spend),
      |g AS (
      |  SELECT CAST(COUNT(*) AS BIGINT) AS n,
      |    CAST(SUM(CAST(rank AS HUGEINT) * CAST(CAST(x AS BIGINT) AS HUGEINT)) AS DOUBLE) AS srx,
      |    CAST(SUM(CAST(CAST(x AS BIGINT) AS HUGEINT)) AS DOUBLE) AS sx
      |  FROM ranked)
      |SELECT n AS n_customers,
      |  2.0 * srx / (CAST(n AS DOUBLE) * sx) - (CAST(n AS DOUBLE) + 1.0) / CAST(n AS DOUBLE) AS gini
      |FROM g""".stripMargin)
  )

  // q77 — Spearman rank correlation between quantity and price (the
  // robust, monotone-association sibling of q69's Pearson). Average-tie
  // ranks per column come from the bucket-offset discipline (distinct-
  // value counts → bounded offsets → avg rank = below + (ct+1)/2, an
  // exactly-representable X.0/X.5 double, identical to the oracle's
  // AVG-of-row_number window), joined back to rows by value. DOUBLING
  // the ranks makes them integers, so the Pearson-over-ranks moments
  // are exact DECIMAL(38,0) sums (u·v ≈ 4n² per row — quadratic in n,
  // a long dies first) and rho is one fixed IEEE expression —
  // scale/shift invariance of correlation absorbs the doubling.
  private val q77 = Q(
    "q77_spearman",
    (s, d) => {
      val l = Tables.lineitem(s, d).select(
        col("l_quantity").as("x"), col("l_extendedprice").as("y"))
      // avg-tie rank table for one column: (value, doubled avg rank)
      def rankTable(c: String): DataFrame = {
        val cnt = l.groupBy(col(c).as("v")).agg(count(lit(1)).as("ct"))
        val r = cnt.agg(min(col("v")), max(col("v"))).head()
        val (lo, hi) = (r.getDouble(0), r.getDouble(1))
        val bucketed = cnt.withColumn("b", Quantiles.bucketOf(col("v"), lit(lo), lit(hi)))
        val w = Window.partitionBy(col("b")).orderBy(col("v"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        Quantiles.withBucketOffsets(bucketed, col("v"), Seq("off" -> col("ct")))
          .withColumn("below", col("off") + sum(col("ct")).over(w) - col("ct"))
          .select(col("v").as(s"${c}_v"),
            (col("below") * 2L + col("ct") + 1L).as(s"${c}_u2"))
      }
      val ranked = l
        .join(rankTable("x"), col("x") === col("x_v"))
        .join(rankTable("y"), col("y") === col("y_v"))
      val dz = (c: Column) => c.cast(DecimalType(38, 0))
      // split readouts: u·v ≈ 4n² per row makes Σuv CUBIC in n — past
      // 2^64 at sf1 and past dec2d's 2^85 at ~6e8 rows, so the
      // quadratic moments ride the two-level dec2d2 split; the linear
      // Σu (quadratic in n) stays on dec2d (SURVEY §5)
      val g = ranked.agg(
        count(lit(1)).as("n_l"),
        Exact.dec2d(sum(dz(col("x_u2")))).as("su"),
        Exact.dec2d(sum(dz(col("y_u2")))).as("sv"),
        Exact.dec2d2(sum(dz(col("x_u2")) * dz(col("y_u2")))).as("suv"),
        Exact.dec2d2(sum(dz(col("x_u2")) * dz(col("x_u2")))).as("suu"),
        Exact.dec2d2(sum(dz(col("y_u2")) * dz(col("y_u2")))).as("svv"))
      val n = col("n_l").cast("double")
      val cov = col("suv") - col("su") * col("sv") / n
      val vu = col("suu") - col("su") * col("su") / n
      val vv = col("svv") - col("sv") * col("sv") / n
      g.select(col("n_l").as("n"), (cov / (sqrt(vu) * sqrt(vv))).as("spearman_rho"))
    },
    Some(s"""WITH r AS (
      |  SELECT
      |    CAST(2.0 * AVG(rx) OVER (PARTITION BY x) AS BIGINT) AS u,
      |    CAST(2.0 * AVG(ry) OVER (PARTITION BY y) AS BIGINT) AS v
      |  FROM (
      |    SELECT l_quantity AS x, l_extendedprice AS y,
      |      ROW_NUMBER() OVER (ORDER BY l_quantity) AS rx,
      |      ROW_NUMBER() OVER (ORDER BY l_extendedprice) AS ry
      |    FROM lineitem)),
      |g AS (
      |  SELECT CAST(COUNT(*) AS BIGINT) AS n_l, CAST(COUNT(*) AS DOUBLE) AS n,
      |    ${graft.Exact.sqlDec2d("SUM(CAST(u AS HUGEINT))")} AS su,
      |    ${graft.Exact.sqlDec2d("SUM(CAST(v AS HUGEINT))")} AS sv,
      |    ${graft.Exact.sqlDec2d2("SUM(CAST(u AS HUGEINT) * CAST(v AS HUGEINT))")} AS suv,
      |    ${graft.Exact.sqlDec2d2("SUM(CAST(u AS HUGEINT) * CAST(u AS HUGEINT))")} AS suu,
      |    ${graft.Exact.sqlDec2d2("SUM(CAST(v AS HUGEINT) * CAST(v AS HUGEINT))")} AS svv
      |  FROM r)
      |SELECT n_l AS n,
      |  (suv - su * sv / n)
      |  / (SQRT(suu - su * su / n) * SQRT(svv - sv * sv / n)) AS spearman_rho
      |FROM g""".stripMargin)
  )

  // q78 — Lorenz curve points (the decile revenue-share table q76's
  // Gini summarizes: "the top decile holds X% of revenue"). Decile
  // fences over customer spend come from the distributed quantile
  // selection; the share table is one partial-aggregable pass with
  // exact integer cent sums and a 10-row cumulative window. Fences and
  // shares are fixed IEEE expressions, so the curve hash-matches.
  private val q78 = Q(
    "q78_lorenz",
    (s, d) => {
      import s.implicits._
      val spend = Tables.orders(s, d).groupBy(col("o_custkey"))
        .agg(sum(Exact.qzl(col("o_totalprice"), 100.0)).as("z"))
        .select(col("z").cast("double").as("x"))
      val fences = Quantiles.exactQuantiles(spend, Seq("x"), (1 to 9).map(_ / 10.0)).map(_._3)
      val decile = fences.foldLeft(lit(1L)) { (acc, f) =>
        acc + when(col("x") > lit(f), 1L).otherwise(0L)
      }
      val byDec = spend.groupBy(decile.as("decile"))
        .agg(count(lit(1)).as("n_customers"),
          // decimal accumulator: a flat long cent sum per decile
          // overflows around 1e10 customers. Kept EXACT through the
          // window stage — re-casting a dec2d double back to decimal
          // would reconstruct different integers per engine past 2^53
          // (Spark shortest-string vs DuckDB exact-binary); dec2d runs
          // once, at readout only.
          sum(col("x").cast("long").cast(DecimalType(38, 0))).as("cents_x"))
      val w = Window.orderBy("decile")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val all = Window.orderBy("decile")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      // scale-0 decimal + the dec2d split: a (38,6) accumulator put the
      // backing int128 at e18 magnitudes where DuckDB's scaled-decimal →
      // double cast double-rounds (1-ulp drift surfaced at sf0.1)
      byDec
        .withColumn("cum_cents", Exact.dec2d(sum(col("cents_x")).over(w)))
        .withColumn("tot_cents", Exact.dec2d(sum(col("cents_x")).over(all)))
        .select(col("decile"), col("n_customers"),
          (Exact.dec2d(col("cents_x")) / col("tot_cents")).as("share"),
          (col("cum_cents") / col("tot_cents")).as("cum_share"))
        .orderBy("decile")
    },
    Some(s"""WITH spend AS (
      |  SELECT CAST(CAST(SUM(CAST(ROUND(o_totalprice * 100.0) AS BIGINT)) AS BIGINT) AS DOUBLE) AS x
      |  FROM orders GROUP BY o_custkey),
      |f AS (${Quantiles.sql("spend", "x", (1 to 9).map(_ / 10.0))}),
      |dec AS (
      |  SELECT CAST(1 + (SELECT COUNT(*) FROM f WHERE s.x > f.value) AS BIGINT) AS decile, s.x
      |  FROM spend s),
      |byd AS (
      |  SELECT decile, CAST(COUNT(*) AS BIGINT) AS n_customers,
      |    SUM(CAST(x AS HUGEINT)) AS cents_h
      |  FROM dec GROUP BY decile),
      |wd AS (
      |  SELECT decile, n_customers, cents_h,
      |    SUM(cents_h) OVER (ORDER BY decile
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_h,
      |    SUM(cents_h) OVER () AS tot_h
      |  FROM byd)
      |SELECT decile, n_customers,
      |  ${graft.Exact.sqlDec2d("cents_h")} / ${graft.Exact.sqlDec2d("tot_h")} AS share,
      |  ${graft.Exact.sqlDec2d("cum_h")} / ${graft.Exact.sqlDec2d("tot_h")} AS cum_share
      |FROM wd ORDER BY decile""".stripMargin)
  )

  // q79 — Mann–Whitney U / Wilcoxon rank-sum test between the O/F
  // price populations (the nonparametric location test beside q64's
  // Welch t and q66's KS): average-tie ranks over the COMBINED sample
  // via the bucket-offset discipline (doubled to integers, as in q77),
  // with the exact tie-correction term Σ(t³−t) computed from the same
  // distinct-value counts. U, its null mean/variance and z are fixed
  // IEEE expressions over exact integer sums.
  private val q79 = Q(
    "q79_mann_whitney",
    (s, d) => {
      val u0 = Tables.lineitem(s, d)
        .filter(col("l_linestatus").isin("O", "F"))
        .select(col("l_extendedprice").as("x"),
          when(col("l_linestatus") === "O", 1L).otherwise(0L).as("isa"))
      val cnt = u0.groupBy(col("x"))
        .agg(count(lit(1)).as("ct"), sum(col("isa")).as("ca"))
      val r = cnt.agg(min(col("x")), max(col("x"))).head()
      val (lo, hi) = (r.getDouble(0), r.getDouble(1))
      val bucketed = cnt.withColumn("b", Quantiles.bucketOf(col("x"), lit(lo), lit(hi)))
      val w = Window.partitionBy(col("b")).orderBy(col("x"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      def dz(c: Column): Column = c.cast(DecimalType(38, 0))
      val g = Quantiles.withBucketOffsets(bucketed, col("x"), Seq("off" -> col("ct")))
        .withColumn("below", col("off") + sum(col("ct")).over(w) - col("ct"))
        // doubled avg rank of the value: 2·below + ct + 1 (integral)
        .agg(
          sum(dz(col("ca")) * dz(col("below") * 2L + col("ct") + 1L))
            .cast("double").as("r2a"),
          sum(col("ca")).as("na_l"), sum(col("ct") - col("ca")).as("nb_l"),
          sum(dz(col("ct")) * dz(col("ct")) * dz(col("ct")) - dz(col("ct")))
            .cast("double").as("tie3"))
      val na = col("na_l").cast("double"); val nb = col("nb_l").cast("double")
      val n = na + nb
      val ua = col("r2a") / lit(2.0) - na * (na + lit(1.0)) / lit(2.0)
      val mu = na * nb / lit(2.0)
      val sigma = sqrt(na * nb / lit(12.0) *
        ((n + lit(1.0)) - col("tie3") / (n * (n - lit(1.0)))))
      g.select(col("na_l").as("n_a"), col("nb_l").as("n_b"),
        ua.as("u_a"), (na * nb - ua).as("u_b"),
        ((ua - mu) / sigma).as("z"))
    },
    Some("""WITH u0 AS (
      |  SELECT l_extendedprice AS x,
      |    CASE WHEN l_linestatus = 'O' THEN 1 ELSE 0 END AS isa
      |  FROM lineitem WHERE l_linestatus IN ('O', 'F')),
      |cnt AS (
      |  SELECT x, CAST(COUNT(*) AS BIGINT) AS ct, CAST(SUM(isa) AS BIGINT) AS ca
      |  FROM u0 GROUP BY x),
      |rk AS (
      |  SELECT ct, ca,
      |    CAST(SUM(ct) OVER (ORDER BY x ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - ct AS BIGINT) AS below
      |  FROM cnt),
      |g AS (
      |  SELECT
      |    CAST(SUM(CAST(ca AS HUGEINT) * CAST(below * 2 + ct + 1 AS HUGEINT)) AS DOUBLE) AS r2a,
      |    CAST(SUM(ca) AS BIGINT) AS na_l, CAST(SUM(ct - ca) AS BIGINT) AS nb_l,
      |    CAST(SUM(CAST(ct AS HUGEINT) * CAST(ct AS HUGEINT) * CAST(ct AS HUGEINT) - CAST(ct AS HUGEINT)) AS DOUBLE) AS tie3
      |  FROM rk),
      |m AS (
      |  SELECT na_l, nb_l, CAST(na_l AS DOUBLE) AS na, CAST(nb_l AS DOUBLE) AS nb,
      |    r2a, tie3 FROM g)
      |SELECT na_l AS n_a, nb_l AS n_b,
      |  r2a / 2.0 - na * (na + 1.0) / 2.0 AS u_a,
      |  na * nb - (r2a / 2.0 - na * (na + 1.0) / 2.0) AS u_b,
      |  (r2a / 2.0 - na * (na + 1.0) / 2.0 - na * nb / 2.0)
      |  / SQRT(na * nb / 12.0 * ((na + nb + 1.0) - tie3 / ((na + nb) * (na + nb - 1.0)))) AS z
      |FROM m""".stripMargin)
  )

  // q80 — out-of-fold target encoding (the leakage-safe categorical
  // encoder gradient-boosting pipelines use where one-hot explodes):
  // each row's segment is encoded by the target mean of OTHER folds'
  // rows in the same segment — its own fold's contribution is
  // subtracted, so the encoding never sees the row's own label. The
  // (segment × fold) sufficient-statistics surface is tiny and
  // broadcast; folds come from the deterministic Z-mod-p gate. All
  // sums are exact integers; a segment confined to one fold falls back
  // to NULL on both sides (no silent prior).
  private val q80 = Q(
    "q80_target_encode",
    (s, d) => {
      val c = Tables.customer(s, d)
        .select(col("c_custkey"), col("c_mktsegment").as("segment"),
          when(col("c_acctbal") < 0, 1L).otherwise(0L).as("y"),
          Exact.zmod(col("c_custkey"), 5L).as("fold"))
      val sf = c.groupBy(col("segment").as("s_seg"), col("fold").as("s_fold"))
        .agg(count(lit(1)).as("n_sf"), sum(col("y")).as("y_sf"))
      val st = sf.groupBy(col("s_seg").as("t_seg"))
        .agg(sum(col("n_sf")).as("n_s"), sum(col("y_sf")).as("y_s"))
      c.join(broadcast(sf), col("segment") === col("s_seg") && col("fold") === col("s_fold"))
        .join(broadcast(st), col("segment") === col("t_seg"))
        .select(col("c_custkey"), col("segment"), col("fold"), col("y"),
          when(col("n_s") > col("n_sf"),
            (col("y_s") - col("y_sf")).cast("double") /
              (col("n_s") - col("n_sf")).cast("double")).as("te"))
    },
    Some(s"""WITH c AS (
      |  SELECT c_custkey, c_mktsegment AS segment,
      |    CASE WHEN c_acctbal < 0 THEN 1 ELSE 0 END AS y,
      |    ${Exact.sqlZmod("c_custkey", 5L)} AS fold
      |  FROM customer),
      |sf AS (
      |  SELECT segment AS s_seg, fold AS s_fold,
      |    CAST(COUNT(*) AS BIGINT) AS n_sf, CAST(SUM(y) AS BIGINT) AS y_sf
      |  FROM c GROUP BY 1, 2),
      |st AS (
      |  SELECT s_seg AS t_seg, CAST(SUM(n_sf) AS BIGINT) AS n_s,
      |    CAST(SUM(y_sf) AS BIGINT) AS y_s
      |  FROM sf GROUP BY 1)
      |SELECT c.c_custkey, c.segment, c.fold, CAST(c.y AS BIGINT) AS y,
      |  CASE WHEN st.n_s > sf.n_sf
      |       THEN CAST(st.y_s - sf.y_sf AS DOUBLE) / CAST(st.n_s - sf.n_sf AS DOUBLE)
      |       END AS te
      |FROM c JOIN sf ON c.segment = sf.s_seg AND c.fold = sf.s_fold
      |JOIN st ON c.segment = st.t_seg
      |""".stripMargin)
  )

  // q81 — standardized residuals of the contingency table (the
  // which-cell-drives-it drill-down after q67's chi²): one observed
  // row per (flag, status) with its expected count and Pearson residual
  // (o−e)/√e — the heatmap cells an analyst actually reads. Same
  // single-scan + |r|×|c|-surface windows as q67.
  private val q81 = Q(
    "q81_chi2_residuals",
    (s, d) => {
      val obs = Tables.lineitem(s, d)
        .groupBy(col("l_returnflag").as("rf"), col("l_linestatus").as("ls"))
        .agg(count(lit(1)).as("o"))
      val e = sum(col("o")).over(Window.partitionBy(col("rf"))).cast("double") *
        sum(col("o")).over(Window.partitionBy(col("ls"))).cast("double") /
        sum(col("o")).over(Window.partitionBy()).cast("double")
      obs.withColumn("e", e)
        .select(col("rf"), col("ls"), col("o"), col("e"),
          ((col("o").cast("double") - col("e")) / sqrt(col("e"))).as("residual"))
        .orderBy("rf", "ls")
    },
    Some("""WITH obs AS (
      |  SELECT l_returnflag AS rf, l_linestatus AS ls, CAST(COUNT(*) AS BIGINT) AS o
      |  FROM lineitem GROUP BY 1, 2),
      |c AS (
      |  SELECT rf, ls, o,
      |    CAST(SUM(o) OVER (PARTITION BY rf) AS DOUBLE)
      |      * CAST(SUM(o) OVER (PARTITION BY ls) AS DOUBLE)
      |      / CAST(SUM(o) OVER () AS DOUBLE) AS e
      |  FROM obs)
      |SELECT rf, ls, o, e, (CAST(o AS DOUBLE) - e) / SQRT(e) AS residual
      |FROM c ORDER BY rf, ls""".stripMargin)
  )

  override val qs: Seq[Q] = Seq(q57, q58, q59, q60, q61, q62, q63, q64, q65,
    q66, q67, q68, q69, q70, q71, q72, q73, q74, q75, q76, q77, q78, q79,
    q80, q81)
}
