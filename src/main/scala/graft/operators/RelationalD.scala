package graft.operators

import graft.Exact.{GraftCheckpoint, GraftDimJoin}
import graft.{Exact, Q, Tables, Module}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Round-5 (continued) statistics additions: trend fit, robust trimmed
  * mean, association effect size, first-digit (Benford) profiling,
  * concentration/diversity indices, and CUSUM change detection. Same
  * discipline as [[RelationalC]]: exact integer/decimal accumulation,
  * derived statistics as fixed IEEE expressions shaped identically to
  * the DuckDB oracle, fact tables reduce to bounded surfaces before any
  * window, and no libm transcendentals on data-dependent values (logs
  * only ever appear as Scala-computed literals interpolated into BOTH
  * engines — see q85).
  */
object RelationalD extends Module {

  /** Zero-filled hourly event-count series (the q68/q72 surface): one
    * scan of events partial-aggregates to |hours| rows, gap hours are
    * restored from a 1-row span aggregate. Checkpointed so the span fit
    * and the join reuse one scan. Shared with RelationalE (q118, q119);
    * a caller whose windows or self-joins re-read the series
    * checkpoints it again.
    */
  private[operators] def hourlySeries(s: SparkSession, d: String): DataFrame = {
    val counts = Tables.events(s, d)
      .groupBy(date_trunc("hour", col("ts")).as("h"))
      .agg(count(lit(1)).as("y"))
      .graftCheckpoint()
    counts.agg(min(col("h")).as("lo"), max(col("h")).as("hi"))
      .select(explode(sequence(col("lo"), col("hi"),
        expr("INTERVAL 1 HOUR"))).as("h"))
      .join(counts, Seq("h"), "left")
      .select(col("h"), unix_millis(col("h")).as("hm"),
        coalesce(col("y"), lit(0L)).as("y"))
  }

  private[operators] val hourlySql =
    """counts AS (
      |  SELECT date_trunc('hour', ts) AS h, CAST(COUNT(*) AS BIGINT) AS y
      |  FROM events GROUP BY 1),
      |spine AS (
      |  SELECT unnest(generate_series((SELECT MIN(h) FROM counts),
      |    (SELECT MAX(h) FROM counts), INTERVAL 1 HOUR)) AS h),
      |series AS (
      |  SELECT spine.h AS h, epoch_ms(spine.h) AS hm, COALESCE(counts.y, 0) AS y
      |  FROM spine LEFT JOIN counts ON spine.h = counts.h)""".stripMargin

  // q82 — OLS trend line of the hourly event series (the "is traffic
  // growing" EDA readout; the regression sibling of q73's Theil–Sen).
  // The fact table reduces ONCE to the zero-filled |hours| surface;
  // slope/intercept/R² come from the five exact sums n, Σt, Σtt, Σy,
  // Σty, Σyy accumulated in DECIMAL(38,0) (t·y products would outgrow a
  // long on year-scale series at 100 TB event rates), assembled as one
  // fixed IEEE expression per statistic. No window, no sort — the only
  // wide operation is the hourly partial aggregate.
  private val q82 = Q(
    "q82_ols",
    (s, d) => {
      val series = hourlySeries(s, d)
      val lo = series.agg(min(col("hm"))).head().getLong(0)
      val t = ((col("hm") - lit(lo)) / lit(3600000L)).cast("long")
        .cast(DecimalType(38, 0))
      val y = col("y").cast(DecimalType(38, 0))
      // dec2d readouts: Σy² is tiny at local SFs but reaches ~7e20 at
      // 100 TB event rates (y ~ 1e9/hour) — route now so the shape holds
      val a = series.agg(
        count(lit(1)).as("n"),
        Exact.dec2d(sum(t)).as("st"),
        Exact.dec2d(sum(t * t)).as("stt"),
        Exact.dec2d(sum(y)).as("sy"),
        Exact.dec2d(sum(t * y)).as("sty"),
        Exact.dec2d(sum(y * y)).as("syy"))
      val n = col("n").cast("double")
      val cov = n * col("sty") - col("st") * col("sy")
      val vt = n * col("stt") - col("st") * col("st")
      val vy = n * col("syy") - col("sy") * col("sy")
      a.select(col("n"),
        (cov / vt).as("slope"),
        ((col("sy") - (cov / vt) * col("st")) / n).as("intercept"),
        (cov * cov / (vt * vy)).as("r2"))
    },
    Some(s"""WITH $hourlySql,
      |idx AS (
      |  SELECT CAST((hm - (SELECT MIN(hm) FROM series)) / 3600000 AS HUGEINT) AS t,
      |    CAST(y AS HUGEINT) AS y
      |  FROM series),
      |g AS (
      |  SELECT CAST(COUNT(*) AS BIGINT) AS n,
      |    ${graft.Exact.sqlDec2d("SUM(t)")} AS st, ${graft.Exact.sqlDec2d("SUM(t * t)")} AS stt,
      |    ${graft.Exact.sqlDec2d("SUM(y)")} AS sy, ${graft.Exact.sqlDec2d("SUM(t * y)")} AS sty,
      |    ${graft.Exact.sqlDec2d("SUM(y * y)")} AS syy
      |  FROM idx)
      |SELECT n,
      |  (CAST(n AS DOUBLE) * sty - st * sy) / (CAST(n AS DOUBLE) * stt - st * st) AS slope,
      |  (sy - ((CAST(n AS DOUBLE) * sty - st * sy) / (CAST(n AS DOUBLE) * stt - st * st)) * st) / CAST(n AS DOUBLE) AS intercept,
      |  (CAST(n AS DOUBLE) * sty - st * sy) * (CAST(n AS DOUBLE) * sty - st * sy)
      |    / ((CAST(n AS DOUBLE) * stt - st * st) * (CAST(n AS DOUBLE) * syy - sy * sy)) AS r2
      |FROM g""".stripMargin)
  )

  // q83 — 10%-each-side trimmed mean per group (scipy trim_mean, the
  // robust location estimate between q56's mode and q60's MAD). Exact
  // count-based trimming WITHOUT a global sort: the (group, bucket)
  // histogram (q63's discipline) gives every bucket its rank interval
  // [off+1, off+c]; buckets entirely inside the keep range contribute
  // their exact cent-grid sums straight from the histogram, buckets
  // entirely outside are dropped, and ONLY the ≤ 2·groups fence-
  // straddling buckets (~n/65536 rows each) are ranked row-by-row
  // (value, orderkey, linenumber tiebreak — same total order as the
  // oracle's naive window). Driver metadata stays ≤ groups × 65536 rows
  // by construction.
  /** Most groups [[trimmedMean]] accepts: its driver-side (group, bucket)
    * metadata grows with group cardinality.
    */
  val TrimmedMaxGroups = 64

  /** 1/`trimDen`-each-side trimmed mean of `v` per `g`, cent-grid exact,
    * without a group-keyed global sort: the (group, bucket) histogram
    * assigns every bucket a rank interval; fully-inside buckets answer
    * from exact histogram sums, fully-outside buckets drop, and only
    * fence-straddling buckets rank row-by-row (ordered by `v` then
    * `idCols` — the caller's oracle tiebreak). Public so the spec can
    * drive it over adversarial planted frames (point-mass buckets
    * spanning a fence, all-identical groups).
    */
  def trimmedMean(df0: DataFrame, g: String, v: String, idCols: Seq[String],
      trimDen: Long = 10L): DataFrame = {
    val s = df0.sparkSession
    import s.implicits._
    val l = df0.filter(col(v).isNotNull)
    val zc = Exact.qzl(col(v), 100.0)
    // The per-group stats and (group, bucket) histogram collects are
    // bounded ONLY by group cardinality (each group contributes 1 and
    // ≤ 65536 driver rows respectively) — fine for the registered
    // low-cardinality callers (q83 trims 3 return-flags), an OOM for a
    // high-cardinality one. Fail loudly instead: the limit(max+1) keeps
    // even the guard's own collect bounded.
    val stats = l.groupBy(col(g)).agg(min(col(v)).as("lo"), max(col(v)).as("hi"),
        count(lit(1)).as("ng"))
      .limit(TrimmedMaxGroups + 1)
      .collect().map(r => (r.getString(0), r.getDouble(1), r.getDouble(2), r.getLong(3)))
    require(stats.length <= TrimmedMaxGroups,
      s"trimmedMean: group cardinality of '$g' exceeds $TrimmedMaxGroups — the " +
        "driver-side (group, bucket) histogram would be unbounded; pre-aggregate first")
    val ngOf = stats.map(st => st._1 -> st._4).toMap
    val statsDf = broadcast(stats.toSeq.toDF("sg", "lo", "hi", "ng"))
    val keyed0 = l.withColumn("zc", zc).join(statsDf, col(g) === col("sg"))
      .withColumn("b", Quantiles.bucketOf(col(v), col("lo"), col("hi")))
    val hist = keyed0.select(col("sg").as("g"), col("b"), col(v).as("x"),
      col("zc").cast(DecimalType(38, 0)).as("sz"))
    // per group: keep ranks in (cut, ng-cut]; classify every bucket as
    // fully-inside / fully-outside / fence-straddling
    case class B(g: String, b: Long, off: Long, cut: Long, ng: Long,
        inside: Boolean, outside: Boolean, c: Long, sum: BigDecimal)
    val plan = Quantiles.bucketOffsets(hist, col("x"), Seq(lit(1L), col("sz")), grouped = true)
      .map { o =>
        val ng = ngOf(o.g)
        val cut = ng / trimDen
        val (off, c) = (o.off.head.toLong, o.tot.head.toLong)
        val first = off + 1; val last = off + c
        B(o.g, o.b, off, cut, ng,
          inside = first > cut && last <= ng - cut,
          outside = last <= cut || first > ng - cut, c, BigDecimal(o.tot(1)))
      }
    val planDf = broadcast(plan
      .map(p => (p.g, p.b, p.off, p.cut, p.ng, p.inside, p.outside))
      .toDF("og", "ob", "off", "cut", "ong", "inside", "outside"))
    // straddling buckets: rank row-by-row with the oracle's tiebreak
    val keyed = keyed0.join(planDf, col(g) === col("og") && col("b") === col("ob"))
    val straddle = keyed.filter(!col("inside") && !col("outside"))
    val w = Window.partitionBy(col(g), col("b"))
      .orderBy(col(v) +: idCols.map(col): _*)
    val straddleKept = straddle
      .withColumn("grank", col("off") + row_number().over(w))
      .filter(col("grank") > col("cut") && col("grank") <= col("ong") - col("cut"))
      .groupBy(col(g).as("kg"))
      .agg(sum(col("zc").cast(DecimalType(38, 0))).as("ssz"), count(lit(1)).as("sn"))
    // inside buckets contribute exact histogram sums (bounded metadata)
    val insideRows = plan.filter(_.inside).groupBy(_.g).toSeq.map { case (gv, rows) =>
      (gv, rows.map(_.sum).sum, rows.map(_.c).sum)
    }
    val inDf = insideRows.toDF("kg", "ssz", "sn")
      .select(col("kg"), col("ssz").cast(DecimalType(38, 0)).as("ssz"), col("sn"))
    straddleKept.unionByName(inDf)
      .groupBy(col("kg").as(g))
      .agg(sum(col("ssz")).as("tz"), sum(col("sn")).as("n_kept"))
      .select(col(g), col("n_kept").cast("long").as("n_kept"),
        (col("tz").cast("double") / col("n_kept").cast("double") / lit(100.0))
          .as("trimmed_mean"))
      .orderBy(g)
  }

  private val q83 = Q(
    "q83_trimmed_mean",
    (s, d) => trimmedMean(Tables.lineitem(s, d), "l_returnflag",
      "l_extendedprice", Seq("l_orderkey", "l_linenumber")),
    Some("""WITH r AS (
      |  SELECT l_returnflag AS g,
      |    CAST(ROUND(l_extendedprice * 100.0) AS BIGINT) AS zc,
      |    ROW_NUMBER() OVER (PARTITION BY l_returnflag
      |      ORDER BY l_extendedprice, l_orderkey, l_linenumber) AS rn,
      |    COUNT(*) OVER (PARTITION BY l_returnflag) AS n
      |  FROM lineitem WHERE l_extendedprice IS NOT NULL)
      |SELECT g AS l_returnflag,
      |  CAST(COUNT(*) AS BIGINT) AS n_kept,
      |  CAST(SUM(CAST(zc AS HUGEINT)) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) / 100.0 AS trimmed_mean
      |FROM r WHERE rn > n // 10 AND rn <= n - n // 10
      |GROUP BY g ORDER BY g""".stripMargin)
  )

  // q84 — Cramér's V effect size for the (returnflag × linestatus)
  // association (the "is it LARGE" companion to q67's "is it
  // significant"): same one-scan observed surface and exact-decimal
  // chi² term sum as q67, then V = sqrt(chi²/(n·min(r−1,c−1))) as a
  // fixed IEEE expression. The |r|×|c| surface is the only thing the
  // windows ever see.
  private val q84 = Q(
    "q84_cramers_v",
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
      // min(R-1, C-1) folds into the same 1-row aggregate (cells keeps
      // rf/ls) — the old eager distinct().count() pair was two
      // synchronous driver jobs before the lazy plan even built.
      cells.agg(sum(col("o")).as("n"),
          sum(Exact.d12(col("term"))).cast("double").as("chi2"),
          least(countDistinct(col("rf")) - 1, countDistinct(col("ls")) - 1)
            .cast("double").as("md"))
        .select(col("n"), col("chi2"),
          sqrt(col("chi2") / (col("n").cast("double") * col("md")))
            .as("cramers_v"))
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
      |dims AS (
      |  SELECT CAST(LEAST(COUNT(DISTINCT rf) - 1, COUNT(DISTINCT ls) - 1) AS DOUBLE) AS md
      |  FROM obs)
      |SELECT CAST(SUM(o) AS BIGINT) AS n,
      |  CAST(SUM(CAST(term AS DECIMAL(38,12))) AS DOUBLE) AS chi2,
      |  SQRT(CAST(SUM(CAST(term AS DECIMAL(38,12))) AS DOUBLE)
      |    / (CAST(CAST(SUM(o) AS BIGINT) AS DOUBLE) * (SELECT md FROM dims))) AS cramers_v
      |FROM cells""".stripMargin)
  )

  // q85 — Benford first-significant-digit profile of order totals (the
  // classic fabricated-data / data-quality screen). The digit is read
  // from the CENT-grid integer's decimal string — never from
  // floor(log10(x)), which flips at exact powers of ten when two libms
  // disagree by an ulp. The Benford expectations log10(1+1/d) ARE libm
  // values — so they are computed ONCE in Scala and interpolated as
  // shortest-round-trip literals into BOTH plans, making them identical
  // by construction. One scan, 9-row surface.
  private val q85 = Q(
    "q85_benford",
    (s, d) => {
      val o = Tables.orders(s, d).filter(col("o_totalprice") > 0)
      val digit = substring(Exact.qzl(col("o_totalprice"), 100.0)
        .cast("string"), 1, 1).cast("long")
      val counts = o.groupBy(digit.as("digit")).agg(count(lit(1)).as("n"))
      val expected = (1 to 9).map(dd => (dd.toLong, math.log10(1.0 + 1.0 / dd)))
      import o.sparkSession.implicits._
      val expDf = broadcast(expected.toDF("ed", "expected"))
      val wa = Window.partitionBy()
      counts.join(expDf, col("digit") === col("ed"))
        .withColumn("share", col("n").cast("double") / sum(col("n")).over(wa).cast("double"))
        .select(col("digit"), col("n"), col("share"), col("expected"),
          abs(col("share") - col("expected")).as("abs_dev"))
        .orderBy("digit")
    },
    Some {
      // CAST('…' AS DOUBLE): a bare numeric literal would be parsed as
      // DECIMAL first and lose the final ulp on conversion
      val exp = (1 to 9)
        .map(dd => s"($dd, CAST('${math.log10(1.0 + 1.0 / dd)}' AS DOUBLE))")
        .mkString(", ")
      s"""WITH counts AS (
      |  SELECT CAST(substr(CAST(CAST(ROUND(o_totalprice * 100.0) AS BIGINT) AS VARCHAR), 1, 1) AS BIGINT) AS digit,
      |    CAST(COUNT(*) AS BIGINT) AS n
      |  FROM orders WHERE o_totalprice > 0 GROUP BY 1),
      |e(ed, expected) AS (VALUES $exp)
      |SELECT digit, n,
      |  CAST(n AS DOUBLE) / CAST(SUM(n) OVER () AS DOUBLE) AS share,
      |  expected,
      |  ABS(CAST(n AS DOUBLE) / CAST(SUM(n) OVER () AS DOUBLE) - expected) AS abs_dev
      |FROM counts JOIN e ON digit = ed
      |ORDER BY digit""".stripMargin
    }
  )

  // q86 — revenue concentration per nation: Herfindahl–Hirschman index
  // over customer spend shares, plus the effective customer count
  // 1/HHI and Simpson diversity 1−HHI. HHI = Σcᵢ²/(Σcᵢ)² on the exact
  // cent grid — shares never materialize as per-row floats, so the sum
  // of squares is an order-independent DECIMAL(38,0) aggregate (cᵢ² ≈
  // 1e16 per customer breaks a flat long immediately). Two partial-
  // aggregable shuffles: orders→customer spend (high-cardinality key),
  // then customer→nation. This is the diversity-index formulation that
  // stays log-free (Shannon entropy would hang cross-engine bit
  // equality on libm log2).
  private val q86 = Q(
    "q86_hhi",
    (s, d) => {
      val o = Tables.orders(s, d)
      val c = Tables.customer(s, d)
      val spend = o.groupBy(col("o_custkey"))
        .agg(sum(Exact.qzl(col("o_totalprice"), 100.0)).as("cents"))
        .dimJoin(c.select(col("c_custkey"), col("c_nationkey")),
          col("o_custkey") === col("c_custkey"))
      val z = col("cents").cast(DecimalType(38, 0))
      // Σc² crosses 2^64 at sf1 (per-customer cents² ~1e14 × 1e5+
      // customers/nation), where DuckDB's hugeint→double cast
      // double-rounds its 64-bit halves — both readouts ride dec2d
      spend.groupBy(col("c_nationkey").as("nation"))
        .agg(count(lit(1)).as("n_cust"),
          Exact.dec2d(sum(z)).as("tot"),
          Exact.dec2d(sum(z * z)).as("sq"))
        .select(col("nation"), col("n_cust"),
          (col("sq") / (col("tot") * col("tot"))).as("hhi"),
          ((col("tot") * col("tot")) / col("sq")).as("effective_n"),
          (lit(1.0) - col("sq") / (col("tot") * col("tot"))).as("simpson_diversity"))
        .orderBy("nation")
    },
    Some(s"""WITH spend AS (
      |  SELECT c_nationkey AS nation,
      |    CAST(SUM(CAST(ROUND(o_totalprice * 100.0) AS BIGINT)) AS HUGEINT) AS cents
      |  FROM orders JOIN customer ON o_custkey = c_custkey
      |  GROUP BY c_nationkey, o_custkey),
      |g AS (
      |  SELECT nation, CAST(COUNT(*) AS BIGINT) AS n_cust,
      |    ${graft.Exact.sqlDec2d("SUM(cents)")} AS tot,
      |    ${graft.Exact.sqlDec2d("SUM(cents * cents)")} AS sq
      |  FROM spend GROUP BY nation)
      |SELECT nation, n_cust,
      |  sq / (tot * tot) AS hhi,
      |  (tot * tot) / sq AS effective_n,
      |  1.0 - sq / (tot * tot) AS simpson_diversity
      |FROM g ORDER BY nation""".stripMargin)
  )

  // q87 — CUSUM mean-shift detection on the hourly event series (the
  // change-point companion to st_anomaly's pointwise z-flags): Sₖ =
  // Σ_{i≤k}(yᵢ−ȳ) computed EXACTLY as (n·cum_y − k·Σy)/n — the
  // cumulative window runs over the pre-aggregated |hours| surface
  // only, the rational mean never accumulates as a float, and the
  // peak flag (argmax |S|, the estimated change point) compares exact
  // integers so tie behavior is engine-identical. One fact scan.
  private val q87 = Q(
    "q87_cusum",
    (s, d) => {
      val series = hourlySeries(s, d)
      val g = series.agg(count(lit(1)).as("n"), sum(col("y")).as("sy")).head()
      val (n, sy) = (g.getLong(0), g.getLong(1))
      val w = Window.orderBy(col("hm"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val scaled = (lit(n).cast(DecimalType(38, 0)) * sum(col("y")).over(w).cast(DecimalType(38, 0))
        - row_number().over(Window.orderBy(col("hm"))).cast(DecimalType(38, 0))
          * lit(sy).cast(DecimalType(38, 0)))
      val wa = Window.partitionBy()
      series
        .withColumn("scaled", scaled)
        .withColumn("cusum", col("scaled").cast("double") / lit(n.toDouble))
        .withColumn("is_peak", abs(col("scaled")) === max(abs(col("scaled"))).over(wa))
        .select(col("h"), col("y"), col("cusum"), col("is_peak"))
    },
    Some(s"""WITH $hourlySql,
      |g AS (SELECT CAST(COUNT(*) AS HUGEINT) AS n, CAST(SUM(y) AS HUGEINT) AS sy FROM series),
      |c AS (
      |  SELECT h, y,
      |    (SELECT n FROM g) * SUM(CAST(y AS HUGEINT)) OVER (ORDER BY hm)
      |      - CAST(ROW_NUMBER() OVER (ORDER BY hm) AS HUGEINT) * (SELECT sy FROM g) AS scaled
      |  FROM series)
      |SELECT h, y,
      |  CAST(scaled AS DOUBLE) / CAST((SELECT n FROM g) AS DOUBLE) AS cusum,
      |  ABS(scaled) = MAX(ABS(scaled)) OVER () AS is_peak
      |FROM c""".stripMargin)
  )

  // q88 — OLS of price on quantity WITHIN each return-flag group (the
  // pandas groupby().apply(linregress) pattern; q69's correlation
  // machinery extended to the fit itself). One partial-aggregable scan
  // accumulates the six exact grid sums per group; slope/intercept/R²
  // are fixed IEEE expressions over them, rescaled to raw units by
  // constant factors (slope ×10 = the 1000/100 grid ratio). Group
  // cardinality only shapes the |groups|-row output — never a window.
  private val q88 = Q(
    "q88_group_ols",
    (s, d) => {
      val l = Tables.lineitem(s, d)
      def z(c: String, g: Double): Column =
        Exact.qzl(col(c), g).cast(DecimalType(38, 0))
      val (zx, zy) = (z("l_quantity", 1000.0), z("l_extendedprice", 100.0))
      // dec2d readouts: the per-group Σzy² backs ~2e20 at sf1 — past
      // 2^64, where the direct decimal→double cast is engine-divergent
      val a = l.groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n_l"),
          Exact.dec2d(sum(zx)).as("sx"), Exact.dec2d(sum(zy)).as("sy"),
          Exact.dec2d(sum(zx * zx)).as("sxx"),
          Exact.dec2d(sum(zy * zy)).as("syy"),
          Exact.dec2d(sum(zx * zy)).as("sxy"))
      val n = col("n_l").cast("double")
      val cov = n * col("sxy") - col("sx") * col("sy")
      val vx = n * col("sxx") - col("sx") * col("sx")
      val vy = n * col("syy") - col("sy") * col("sy")
      val slope = lit(10.0) * cov / vx
      a.select(col("l_returnflag"), col("n_l").as("n"),
          slope.as("slope"),
          (col("sy") / n / lit(100.0) - (lit(10.0) * cov / vx) * (col("sx") / n / lit(1000.0)))
            .as("intercept"),
          (cov * cov / (vx * vy)).as("r2"))
        .orderBy("l_returnflag")
    },
    Some {
      def d2(e: String) = graft.Exact.sqlDec2d(e)
      val n = "CAST(COUNT(*) AS DOUBLE)"
      val sx = d2("SUM(zx)"); val sy = d2("SUM(zy)")
      val sxx = d2("SUM(zx * zx)"); val syy = d2("SUM(zy * zy)")
      val sxy = d2("SUM(zx * zy)")
      val cov = s"($n * $sxy - $sx * $sy)"
      val vx = s"($n * $sxx - $sx * $sx)"
      val vy = s"($n * $syy - $sy * $sy)"
      s"""SELECT l_returnflag, CAST(COUNT(*) AS BIGINT) AS n,
      |  10.0 * $cov / $vx AS slope,
      |  $sy / $n / 100.0
      |    - (10.0 * $cov / $vx)
      |      * ($sx / $n / 1000.0) AS intercept,
      |  $cov * $cov / ($vx * $vy) AS r2
      |FROM (
      |  SELECT l_returnflag,
      |    CAST(CAST(ROUND(l_quantity * 1000.0) AS BIGINT) AS HUGEINT) AS zx,
      |    CAST(CAST(ROUND(l_extendedprice * 100.0) AS BIGINT) AS HUGEINT) AS zy
      |  FROM lineitem)
      |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin
    }
  )

  // q89 — seasonal quantile bands: p10/p50/p90 of the hourly event
  // count per hour-of-day (the banded version of q70's mean heatmap —
  // what a daily-seasonality plot actually draws). The fact table
  // reduces once to the |hours| surface; the rank windows run over that
  // 24×~30 surface only. Discrete (no-interpolation) quantiles at rank
  // ceil(p·n) with a (y, hm) total order, and the p spine is built from
  // string-parsed double literals on both sides so ceil(p·n) rounds
  // identically.
  private val q89 = Q(
    "q89_seasonal_bands",
    (s, d) => {
      import s.implicits._
      val surface = hourlySeries(s, d)
        .select(hour(col("h")).cast("long").as("hod"), col("y"), col("hm"))
      val w = Window.partitionBy(col("hod")).orderBy(col("y"), col("hm"))
      val ranked = surface
        .withColumn("rn", row_number().over(w))
        .withColumn("ng", count(lit(1)).over(Window.partitionBy(col("hod"))))
      val ps = broadcast(Seq(0.1, 0.5, 0.9).toDF("p"))
      ranked.crossJoin(ps)
        .filter(col("rn") === ceil(col("p") * col("ng").cast("double")))
        .select(col("hod"), col("p"), col("y").as("band_value"))
        .orderBy("hod", "p")
    },
    Some(s"""WITH $hourlySql,
      |ranked AS (
      |  SELECT CAST(hour(h) AS BIGINT) AS hod, y, hm,
      |    ROW_NUMBER() OVER (PARTITION BY hour(h) ORDER BY y, hm) AS rn,
      |    COUNT(*) OVER (PARTITION BY hour(h)) AS ng
      |  FROM series),
      |ps AS (SELECT CAST(unnest(['0.1','0.5','0.9']) AS DOUBLE) AS p)
      |SELECT hod, p, y AS band_value
      |FROM ranked CROSS JOIN ps
      |WHERE rn = CEIL(p * CAST(ng AS DOUBLE))
      |ORDER BY hod, p""".stripMargin)
  )

  /** One-way ANOVA F + effect size from per-group exact grid sums:
    * SSB/SSW assembled from (n_g, Σz_g, Σz²_g). Every cross-group
    * accumulation stays in DECIMAL(38,0): scale-0 decimal→double is a
    * SINGLE correctly-rounded conversion in both engines, where a
    * scaled decimal (38,12) would double-round in DuckDB (int128→double
    * then ÷10¹² — observed 1-ulp drift at e18 magnitudes). The
    * per-group quadratic terms S²/n are EXACT floor divisions computed
    * entirely in decimal/hugeint integer arithmetic — no double ever
    * enters the term path. (The previous round-the-double-quotient
    * image diverged once terms passed ~1e17: Spark's double→decimal
    * cast goes via the shortest string while DuckDB's double→hugeint
    * takes the exact binary integer, and the differing term integers
    * amplified through the SSB cancellation — caught by the sf1 sweep
    * on q91.) Floor truncation is ~1 grid unit on terms ≥ 1e15, far
    * below double resolution. F and η² are grid-scale-invariant.
    */
  private def anovaOn(grouped: DataFrame): DataFrame = {
    // grouped: (n_l long, sd decimal, ssd decimal) per group — exact sums
    // sd² fits DECIMAL(38,0) to sd < 1e19 (sf1 sd ≈ 1e13); the exact
    // multiple (sd² − sd²%n) divides to a zero-fraction decimal, so the
    // scale-0 recast is the identity
    val term = Exact.floorDiv(col("sd") * col("sd"), col("n_l"))
    // tss/sterm back 2^53-plus integers at sf0.1 (Σz² ≈ 2.2e19), where
    // a direct decimal→double cast is engine-DIVERGENT (DuckDB's
    // hugeint conversion double-rounds its 64-bit halves) — route
    // through the Exact.dec2d hi/lo split, identical IEEE ops on both
    // sides. ts stays ≲ 1e15 at any tested SF; split it anyway so the
    // shape survives the next two orders of magnitude.
    val agg = grouped.agg(
      count(lit(1)).as("k"),
      sum(col("n_l")).as("n"),
      graft.Exact.dec2d(sum(col("sd"))).as("ts"),
      graft.Exact.dec2d(sum(col("ssd"))).as("tss"),
      graft.Exact.dec2d(sum(term)).as("sterm"))
    val n = col("n").cast("double"); val k = col("k").cast("double")
    val ssb = col("sterm") - col("ts") * col("ts") / n
    val ssw = col("tss") - col("sterm")
    agg.select(col("k"), col("n"),
      ((ssb / (k - lit(1.0))) / (ssw / (n - k))).as("f_stat"),
      (ssb / (ssb + ssw)).as("eta_sq"))
  }

  private def anovaSql(src: String): String =
    s"""pg AS (
       |  SELECT CAST(COUNT(*) AS BIGINT) AS n_l,
       |    SUM(z) AS sd, SUM(z * z) AS ssd
       |  FROM $src GROUP BY g),
       |a AS (
       |  SELECT CAST(COUNT(*) AS BIGINT) AS k, CAST(SUM(n_l) AS BIGINT) AS n,
       |    ${graft.Exact.sqlDec2d("SUM(sd)")} AS ts,
       |    ${graft.Exact.sqlDec2d("SUM(ssd)")} AS tss,
       |    ${graft.Exact.sqlDec2d("SUM((sd * sd) // n_l)")} AS sterm
       |  FROM pg)
       |SELECT k, n,
       |  ((sterm - ts * ts / CAST(n AS DOUBLE)) / (CAST(k AS DOUBLE) - 1.0))
       |    / ((tss - sterm) / (CAST(n AS DOUBLE) - CAST(k AS DOUBLE))) AS f_stat,
       |  (sterm - ts * ts / CAST(n AS DOUBLE))
       |    / ((sterm - ts * ts / CAST(n AS DOUBLE)) + (tss - sterm)) AS eta_sq
       |FROM a""".stripMargin

  // q90 — one-way ANOVA across the return-flag groups (scipy f_oneway;
  // the k-group generalization of q64's two-sample t): ONE partial-
  // aggregable scan to per-group exact cent-grid sums, the |groups|-row
  // surface carries everything else. F and η² are scale-invariant so
  // the grid factor never reappears.
  private val q90 = Q(
    "q90_anova",
    (s, d) => {
      val l = Tables.lineitem(s, d)
      val z = Exact.qzl(col("l_extendedprice"), 100.0)
        .cast(DecimalType(38, 0))
      anovaOn(l.groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n_l"),
          sum(z).as("sd"),
          sum(z * z).as("ssd")))
    },
    Some(s"""WITH src AS (
      |  SELECT l_returnflag AS g,
      |    CAST(CAST(ROUND(l_extendedprice * 100.0) AS BIGINT) AS HUGEINT) AS z
      |  FROM lineitem),
      |${anovaSql("src")}""".stripMargin)
  )

  // q91 — Brown–Forsythe homogeneity-of-variance test (scipy levene
  // with center='median' — the robust gatekeeper run BEFORE trusting
  // q90's equal-variance reading): per-group medians via the bounded-
  // metadata (group, bucket) histogram selection (q60's machinery — no
  // group-keyed quantile window), then |x − med| quantized to the
  // half-cent grid (the interpolated median sits on half-cents; both
  // engines derive the deviation from IDENTICAL doubles so the
  // quantization is engine-stable) and the same exact-sum ANOVA F over
  // the deviations.
  private val q91 = Q(
    "q91_levene",
    (s, d) => {
      import s.implicits._
      val l = Tables.lineitem(s, d)
      val meds = Quantiles.groupedExactQuantiles(
        l, "l_returnflag", "l_extendedprice", Seq(0.5))
        .map { case (g, _, v) => (g, v) }
      val devs = l.join(broadcast(meds.toDF("mg", "med")),
          col("l_returnflag") === col("mg"))
        .select(col("l_returnflag").as("g"),
          // image = (k/1000)·200 = k/5: fraction ∈ {0,.2,.4,.6,.8}, never
          // near .5, so the primitive qzl image is tie-safe here too
          Exact.qzl(abs(col("l_extendedprice") - col("med")), 200.0)
            .cast(DecimalType(38, 0)).as("z"))
      anovaOn(devs.groupBy(col("g"))
        .agg(count(lit(1)).as("n_l"),
          sum(col("z")).as("sd"),
          sum(col("z") * col("z")).as("ssd")))
    },
    Some(s"""WITH med AS (${Quantiles.sql("lineitem", "l_extendedprice", Seq(0.5), Some("l_returnflag"))}),
      |src AS (
      |  SELECT l.l_returnflag AS g,
      |    CAST(CAST(ROUND(ABS(l.l_extendedprice - med.value) * 200.0) AS BIGINT) AS HUGEINT) AS z
      |  FROM lineitem l JOIN med ON l.l_returnflag = med.g),
      |${anovaSql("src")}""".stripMargin)
  )

  // q92 — expanding mean/std per customer (pandas expanding(), the
  // unbounded-history sibling of q39's rolling and q58's EWMA): one lag
  // window on the HIGH-cardinality customer key carries cumulative
  // exact cent-grid sums (DECIMAL(38,0) — a century of orders per key
  // overflows nothing); mean and sample std (ddof=1, the pandas
  // default) are fixed IEEE expressions per row, NULL at n=1. Order is
  // pinned to (o_orderdate, o_orderkey) so retries are deterministic.
  private val q92 = Q(
    "q92_expanding",
    (s, d) => {
      val o = Tables.orders(s, d)
      val z = Exact.qzl(col("o_totalprice"), 100.0)
        .cast(DecimalType(38, 0))
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate"), col("o_orderkey"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wn = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate"), col("o_orderkey"))
      val base = o.select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"), z.as("z"))
        .withColumn("rn", row_number().over(wn).cast("long"))
        .withColumn("cs", sum(col("z")).over(w).cast("double"))
        .withColumn("css", Exact.dec2d(sum(col("z") * col("z")).over(w)))
      val n = col("rn").cast("double")
      base.select(col("o_custkey"), col("o_orderkey"), col("rn").as("n"),
          ((col("cs") / n) / lit(100.0)).as("exp_mean"),
          when(col("rn") > 1L,
            sqrt((col("css") - col("cs") * col("cs") / n) / (n - lit(1.0))) / lit(100.0))
            .as("exp_std"))
    },
    Some(s"""SELECT o_custkey, o_orderkey, rn AS n,
      |  (cs / CAST(rn AS DOUBLE)) / 100.0 AS exp_mean,
      |  CASE WHEN rn > 1 THEN
      |    SQRT((css - cs * cs / CAST(rn AS DOUBLE)) / (CAST(rn AS DOUBLE) - 1.0)) / 100.0
      |  END AS exp_std
      |FROM (
      |  SELECT o_custkey, o_orderkey,
      |    CAST(ROW_NUMBER() OVER win AS BIGINT) AS rn,
      |    CAST(SUM(z) OVER win AS DOUBLE) AS cs,
      |    ${graft.Exact.sqlDec2d("SUM(z * z) OVER win")} AS css
      |  FROM (
      |    SELECT o_custkey, o_orderkey, o_orderdate,
      |      CAST(CAST(ROUND(o_totalprice * 100.0) AS BIGINT) AS HUGEINT) AS z
      |    FROM orders)
      |  WINDOW win AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
      |""".stripMargin)
  )

  // q93 — RFM customer segmentation (the classic recency/frequency/
  // monetary quintile coding of CRM analytics): the fact table reduces
  // ONCE to the per-customer (R, F, M) surface — integer days / counts /
  // exact cents — then each metric's four quintile fences come from
  // [[Quantiles]]' distributed bucket-histogram selection (bounded
  // driver metadata, the q45 no-global-sort discipline ×3) and coding
  // is a narrow broadcast map: code = 1 + #fences strictly below. The
  // oracle recomputes the fences with the identical interpolation
  // expression, so codes match exactly — no ntile tie ambiguity on
  // either side.
  private val q93 = Q(
    "q93_rfm",
    (s, d) => {
      val o = Tables.orders(s, d)
      val perCust = o.groupBy(col("o_custkey"))
        .agg(
          datediff(max(col("o_orderdate")).cast("date"),
            to_date(lit("1970-01-01"))).cast("long").as("recency_days"),
          count(lit(1)).as("frequency"),
          sum(Exact.qzl(col("o_totalprice"), 100.0)).as("monetary_cents"))
        .graftCheckpoint()
      val metrics = Seq("recency_days", "frequency", "monetary_cents")
      val fences = Quantiles.exactQuantiles(perCust, metrics, Seq(0.2, 0.4, 0.6, 0.8))
        .groupBy(_._1).view.mapValues(_.map(_._3)).toMap
      def code(c: String): Column =
        fences(c).foldLeft(lit(1L)) { (acc, f) =>
          acc + when(col(c).cast("double") > lit(f), lit(1L)).otherwise(lit(0L))
        }
      perCust.select(col("o_custkey"), col("recency_days"), col("frequency"),
          col("monetary_cents"),
          code("recency_days").as("r_code"),
          code("frequency").as("f_code"),
          code("monetary_cents").as("m_code"))
        .withColumn("rfm",
          col("r_code") * 100L + col("f_code") * 10L + col("m_code"))
    },
    Some {
      val qs = Seq(0.2, 0.4, 0.6, 0.8)
      s"""WITH pc AS (
         |  SELECT o_custkey,
         |    CAST(CAST(MAX(o_orderdate) AS DATE) - DATE '1970-01-01' AS BIGINT) AS recency_days,
         |    CAST(COUNT(*) AS BIGINT) AS frequency,
         |    CAST(SUM(CAST(ROUND(o_totalprice * 100.0) AS BIGINT)) AS BIGINT) AS monetary_cents
         |  FROM orders GROUP BY o_custkey),
         |fr AS (${Quantiles.sql("pc", "CAST(recency_days AS DOUBLE)", qs)}),
         |ff AS (${Quantiles.sql("pc", "CAST(frequency AS DOUBLE)", qs)}),
         |fm AS (${Quantiles.sql("pc", "CAST(monetary_cents AS DOUBLE)", qs)}),
         |coded AS (
         |  SELECT o_custkey, recency_days, frequency, monetary_cents,
         |    CAST(1 + (SELECT COUNT(*) FROM fr WHERE CAST(pc.recency_days AS DOUBLE) > fr.value) AS BIGINT) AS r_code,
         |    CAST(1 + (SELECT COUNT(*) FROM ff WHERE CAST(pc.frequency AS DOUBLE) > ff.value) AS BIGINT) AS f_code,
         |    CAST(1 + (SELECT COUNT(*) FROM fm WHERE CAST(pc.monetary_cents AS DOUBLE) > fm.value) AS BIGINT) AS m_code
         |  FROM pc)
         |SELECT o_custkey, recency_days, frequency, monetary_cents,
         |  r_code, f_code, m_code,
         |  r_code * 100 + f_code * 10 + m_code AS rfm
         |FROM coded""".stripMargin
    }
  )

  // q94 — market-basket association (support / confidence / lift over
  // part pairs co-occurring in an order — the Apriori readout of retail
  // analytics). Rewritten r13 after the r12 sf100 OOM in the pair-agg
  // stage: ONE shuffle on order key builds sorted per-order baskets
  // (collect_set dedupes (ok, pk) AND groups in the same exchange —
  // the old distinct + two-sided self-join shuffled lineitem three
  // times), all C(b,2) in-basket pairs come from a codegen
  // transform/slice expression (baskets are order-line bounded, ~4-7
  // items, so this stays linear in orders, never |parts|²), and the
  // pair aggregate shuffles on (pk_a, pk_b) at a widened partition
  // count (8 × shuffle.partitions) so the near-unique pair keyspace never
  // concentrates into 32 oversized hash tables (shape shared with
  // q114 via [[Exact.orderBaskets]]/[[Exact.basketPairCounts]]). The
  // min-support floor
  // (n_ab ≥ 2) is Apriori's prune: at 100 TB it rises with the data
  // and the surviving pair surface stays reporting-sized. N is a
  // broadcast 1-row aggregate IN the plan (the old eager `.count()`
  // was a synchronous driver job + an extra pass), and the n_a/n_b
  // enrichment joins are size-gated dimJoins (20M parts at sf100 must
  // demote to shuffle joins, not broadcast-OOM the driver).
  private val q94 = Q(
    "q94_market_basket",
    (s, d) => {
      val baskets = Exact.orderBaskets(Tables.lineitem(s, d),
          col("l_orderkey"), col("l_partkey"))
        .graftCheckpoint()
      val bigN = baskets.agg(count(lit(1)).cast("double").as("big_n"))
      val itemCounts = baskets
        .select(explode(col("basket")).as("pk"))
        .groupBy(col("pk")).agg(count(lit(1)).as("n_i"))
      Exact.basketPairCounts(baskets)
        .filter(col("n_ab") >= 2L)
        .dimJoin(itemCounts.select(col("pk").as("ia_pk"), col("n_i").as("n_a")),
          col("pk_a") === col("ia_pk"))
        .dimJoin(itemCounts.select(col("pk").as("ib_pk"), col("n_i").as("n_b")),
          col("pk_b") === col("ib_pk"))
        .crossJoin(broadcast(bigN))
        .select(col("pk_a"), col("pk_b"), col("n_ab"), col("n_a"), col("n_b"),
          (col("n_ab").cast("double") / col("big_n")).as("support"),
          (col("n_ab").cast("double") / col("n_a").cast("double")).as("confidence"),
          (col("n_ab").cast("double") * col("big_n") /
            (col("n_a").cast("double") * col("n_b").cast("double"))).as("lift"))
    },
    // Oracle is basket-shaped like the engine (r13): the old
    // items-self-join e0 built a ~550M-row hash join at sf100 and
    // spilled DuckDB past a 60 GB temp window; list(DISTINCT) baskets
    // + lambda pair expansion produce the identical pair multiset
    // join-free (bit-equal at sf0.01/sf0.1 against the old SQL).
    Some("""WITH b AS (
      |  SELECT l_orderkey AS ok, list_sort(list(DISTINCT l_partkey) FILTER (WHERE l_partkey IS NOT NULL)) AS items
      |  FROM lineitem GROUP BY l_orderkey),
      |n AS (SELECT CAST(COUNT(*) AS DOUBLE) AS big_n FROM b),
      |ic AS (SELECT pk, CAST(COUNT(*) AS BIGINT) AS n_i
      |       FROM (SELECT unnest(items) AS pk FROM b) GROUP BY pk),
      |p AS (
      |  SELECT pr[1] AS pk_a, pr[2] AS pk_b, CAST(COUNT(*) AS BIGINT) AS n_ab
      |  FROM (
      |    SELECT unnest(flatten(list_transform(range(1, len(items) + 1),
      |        i -> list_transform(range(i + 1, len(items) + 1),
      |             j -> [items[i], items[j]])))) AS pr
      |    FROM b)
      |  GROUP BY 1, 2 HAVING COUNT(*) >= 2)
      |SELECT pk_a, pk_b, n_ab, ia.n_i AS n_a, ib.n_i AS n_b,
      |  CAST(n_ab AS DOUBLE) / n.big_n AS support,
      |  CAST(n_ab AS DOUBLE) / CAST(ia.n_i AS DOUBLE) AS confidence,
      |  CAST(n_ab AS DOUBLE) * n.big_n / (CAST(ia.n_i AS DOUBLE) * CAST(ib.n_i AS DOUBLE)) AS lift
      |FROM p JOIN ic ia ON p.pk_a = ia.pk JOIN ic ib ON p.pk_b = ib.pk, n
      |""".stripMargin)
  )

  // q95 — as-of join with a tolerance bound (pandas
  // merge_asof(direction='backward', tolerance='24h'); st_asof is the
  // unbounded special case): the same one-shuffle ignore-nulls
  // last_value shape carries the prior purchase's (ts, id, value), then
  // a narrow map NULLs the match when it is staler than the tolerance —
  // no range join, no per-key state beyond one row, deterministic
  // (ts, event_id) tiebreak. The tolerance comparison runs on integer
  // epoch millis so both engines agree exactly.
  private val q95 = Q(
    "q95_asof_tolerance",
    (s, d) => {
      val tolMs = 24L * 3600000L
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, -1)
      def lastP(c: Column) =
        last(when(col("event_type") === "purchase", c), ignoreNulls = true).over(w)
      val fresh = col("asof_ts").isNotNull &&
        unix_millis(col("ts")) - unix_millis(col("asof_ts")) <= tolMs
      Tables.events(s, d)
        .withColumn("asof_ts", lastP(col("ts")))
        .withColumn("asof_event_id", lastP(col("event_id")))
        .withColumn("asof_value", lastP(col("value")))
        .filter(col("event_type") === "click")
        .select(col("event_id"), col("user_id"), col("ts"),
          when(fresh, col("asof_event_id")).as("asof_event_id"),
          when(fresh, col("asof_value")).as("asof_value"),
          fresh.as("matched"))
    },
    Some("""WITH t AS (
      |  SELECT event_id, user_id, ts, event_type, value,
      |    last_value(CASE WHEN event_type = 'purchase' THEN ts END IGNORE NULLS)
      |      OVER w AS asof_ts,
      |    last_value(CASE WHEN event_type = 'purchase' THEN event_id END IGNORE NULLS)
      |      OVER w AS asof_event_id,
      |    last_value(CASE WHEN event_type = 'purchase' THEN value END IGNORE NULLS)
      |      OVER w AS asof_value
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING))
      |SELECT event_id, user_id, ts,
      |  CASE WHEN asof_ts IS NOT NULL AND epoch_ms(ts) - epoch_ms(asof_ts) <= 86400000
      |    THEN asof_event_id END AS asof_event_id,
      |  CASE WHEN asof_ts IS NOT NULL AND epoch_ms(ts) - epoch_ms(asof_ts) <= 86400000
      |    THEN asof_value END AS asof_value,
      |  COALESCE(asof_ts IS NOT NULL AND epoch_ms(ts) - epoch_ms(asof_ts) <= 86400000, FALSE) AS matched
      |FROM t WHERE event_type = 'click'""".stripMargin)
  )

  // ap_kmv_overlap — K-minimum-values set-algebra sketches over the
  // document corpus grouped by language: distinct sizes AND pairwise
  // union/intersection/Jaccard estimates from one partial-aggregable
  // pass + O(groups²·k) driver metadata (see [[Kmv]]). The overlap
  // readout HLL can't give: which corpus shards duplicate each other,
  // without shuffling value sets. Rows-only (sketch estimates aren't
  // SQL); ApproxSpec pins exactness below k, planted-overlap accuracy,
  // and the merge law.
  private val apKmv = Q(
    "ap_kmv_overlap",
    (s, d) => Kmv.overlaps(Tables.documents(s, d), "lang", "text", k = 32),
    None
  )

  // ap_sketch_rollup — the distinct-count CUBE via mergeable sketches:
  // per-(day, hour) KMV sketches of active users built in ONE pass of
  // events, then rolled up to per-day estimates by re-aggregating
  // SKETCH ENTRIES (≤ cells·k metadata rows — the fact table is never
  // rescanned). KMV union is exact, so the rolled-up sketch EQUALS the
  // directly-built day sketch (ApproxSpec pins this and the
  // exact-below-k estimate) — the pattern that answers day/week/month
  // distinct-user questions at 100 TB from hourly sketch storage.
  // Rows-only (sketch estimates aren't SQL).
  private val apSketchRollup = Q(
    "ap_sketch_rollup",
    (s, d) => {
      import s.implicits._
      val k = 256
      val ev = Tables.events(s, d)
        .select(date_trunc("day", col("ts")).as("day"),
          date_trunc("hour", col("ts")).as("hour"), col("user_id"))
        .withColumn("cell", concat_ws("|", col("day"), col("hour")))
      val hourly = Kmv.sketches(ev, "cell", "user_id", k)
        .withColumn("day", split(col("cell"), "\\|").getItem(0))
      // the estimate is an expression over the sketch array (r13) —
      // the whole rollup stays one lazy plan; the old |days|×k collect
      // was bounded metadata but a synchronous job the plan can skip.
      Kmv.rollup(hourly, "day", k)
        .select(col("day"), size(col("mins")).cast("long").as("sketch_size"),
          Kmv.estimateExpr(col("mins"), k).as("est_distinct_users"))
        .orderBy("day")
    },
    None
  )

  // q96 — share-of-parent contribution table (the BI "percent of total"
  // readout): revenue per (region, nation) with each nation's share of
  // its region and each region's share of the world, in ONE pass — the
  // fact tables reduce to the |nations| surface first, dims broadcast,
  // and all the share windows run over that surface. Shares divide
  // exact cent sums, so they are engine-identical.
  private val q96 = Q(
    "q96_share_of_total",
    (s, d) => {
      val o = Tables.orders(s, d)
      val c = Tables.customer(s, d)
      val n = Tables.nation(s, d)
      val r = Tables.region(s, d)
      val cents = o.dimJoin(c.select(col("c_custkey"), col("c_nationkey")),
          col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_nationkey"))
        .agg(sum(Exact.qzl(col("o_totalprice"), 100.0)).as("cents"))
      val surface = cents
        .join(broadcast(n.select(col("n_nationkey"), col("n_name"), col("n_regionkey"))),
          col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(r.select(col("r_regionkey"), col("r_name"))),
          col("n_regionkey") === col("r_regionkey"))
      val wr = Window.partitionBy(col("r_name"))
      val wa = Window.partitionBy()
      surface.select(col("r_name"), col("n_name"),
          (col("cents").cast("double") / lit(100.0)).as("revenue"),
          (col("cents").cast("double") / sum(col("cents")).over(wr).cast("double"))
            .as("share_of_region"),
          (sum(col("cents")).over(wr).cast("double") / sum(col("cents")).over(wa).cast("double"))
            .as("region_share_of_world"))
        .orderBy("r_name", "n_name")
    },
    Some("""WITH cents AS (
      |  SELECT c_nationkey,
      |    CAST(SUM(CAST(ROUND(o_totalprice * 100.0) AS BIGINT)) AS BIGINT) AS cents
      |  FROM orders JOIN customer ON o_custkey = c_custkey
      |  GROUP BY c_nationkey),
      |surface AS (
      |  SELECT r_name, n_name, cents
      |  FROM cents
      |  JOIN nation ON c_nationkey = n_nationkey
      |  JOIN region ON n_regionkey = r_regionkey)
      |SELECT r_name, n_name,
      |  CAST(cents AS DOUBLE) / 100.0 AS revenue,
      |  CAST(cents AS DOUBLE) / CAST(SUM(cents) OVER (PARTITION BY r_name) AS DOUBLE) AS share_of_region,
      |  CAST(SUM(cents) OVER (PARTITION BY r_name) AS DOUBLE)
      |    / CAST(SUM(cents) OVER () AS DOUBLE) AS region_share_of_world
      |FROM surface ORDER BY r_name, n_name""".stripMargin)
  )

  // q97 — month-over-month and year-over-year growth of order revenue
  // (the period-comparison readout every revenue dashboard opens with):
  // the fact table reduces once to the |months| surface; both lags are
  // windows over that surface, growth ratios divide exact cent sums,
  // and missing comparison periods stay NULL on both engines.
  private val q97 = Q(
    "q97_growth",
    (s, d) => {
      val o = Tables.orders(s, d)
      val monthly = o.groupBy(
          year(col("o_orderdate")).cast("long").as("y"),
          month(col("o_orderdate")).cast("long").as("m"))
        .agg(sum(Exact.qzl(col("o_totalprice"), 100.0)).as("cents"))
      val w = Window.orderBy(col("y"), col("m"))
      // MoM = previous observed month (lag over the surface); YoY joins
      // (y−1, m) explicitly so a gap month can't shift the comparison
      val prevYear = monthly.select((col("y") + 1L).as("py"), col("m").as("pm"),
        col("cents").as("prev_y"))
      monthly
        .withColumn("prev_m", lag(col("cents"), 1).over(w))
        .join(prevYear, col("y") === col("py") && col("m") === col("pm"), "left")
        .select(col("y"), col("m"),
          (col("cents").cast("double") / lit(100.0)).as("revenue"),
          (col("cents").cast("double") / col("prev_m").cast("double") - lit(1.0))
            .as("mom_growth"),
          (col("cents").cast("double") / col("prev_y").cast("double") - lit(1.0))
            .as("yoy_growth"))
        .orderBy("y", "m")
    },
    Some("""WITH monthly AS (
      |  SELECT CAST(year(o_orderdate) AS BIGINT) AS y,
      |    CAST(month(o_orderdate) AS BIGINT) AS m,
      |    CAST(SUM(CAST(ROUND(o_totalprice * 100.0) AS BIGINT)) AS BIGINT) AS cents
      |  FROM orders GROUP BY 1, 2),
      |lagged AS (
      |  SELECT a.y, a.m, a.cents,
      |    LAG(a.cents, 1) OVER (ORDER BY a.y, a.m) AS prev_m,
      |    p.cents AS prev_y
      |  FROM monthly a LEFT JOIN monthly p ON p.y = a.y - 1 AND p.m = a.m)
      |SELECT y, m, CAST(cents AS DOUBLE) / 100.0 AS revenue,
      |  CAST(cents AS DOUBLE) / CAST(prev_m AS DOUBLE) - 1.0 AS mom_growth,
      |  CAST(cents AS DOUBLE) / CAST(prev_y AS DOUBLE) - 1.0 AS yoy_growth
      |FROM lagged ORDER BY y, m""".stripMargin)
  )

  // q98 — PageRank centrality of parts in the co-purchase graph (which
  // products anchor baskets — the graph sibling of q94's pairwise
  // lift): distinct co-purchase pairs form an undirected graph, 15
  // damped power iterations run as keyed join + partial-aggregable sum
  // per step with per-iteration lineage checkpoints (the
  // connectedComponents discipline — see [[Graph]]). ORACLE-CHECKED:
  // [[Graph.pagerank]] accumulates each node's in-contributions as
  // BIGINT sums on the 1e-18 floor grid — FLOOR(rank/deg*1e18) is a
  // primitive IEEE op both engines agree on (Spark's round()/decimal
  // cast of a double goes via the shortest string and drifts near .5
  // boundaries), and the long sum is order-independent — every other
  // step is a fixed per-row IEEE expression, so the SQL twin — the
  // same 15 iterations unrolled as chained CTEs with identical
  // expression shapes — reproduces every rank bit-for-bit. The spec additionally reconciles against a local
  // power iteration and pins the probability-mass invariant.
  private val q98 = Q(
    "q98_pagerank",
    (s, d) => {
      val items = Tables.lineitem(s, d)
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
        .distinct()
      val a = items.select(col("ok"), col("pk").as("src"))
      val b = items.select(col("ok").as("ok_b"), col("pk").as("dst"))
      val edges = a.join(b, col("ok") === col("ok_b") && col("src") < col("dst"))
        .select(col("src"), col("dst")).distinct()
      Graph.pagerank(edges)
        .orderBy(desc("rank"), col("id"))
        .limit(100)
    },
    Some {
      val iters = 15
      val steps = (1 to iters).map { i =>
        s"""r$i AS MATERIALIZED (
           |  SELECT n.id, (SELECT base FROM p) + 0.85 * COALESCE(s.in_sum, 0.0) AS rank
           |  FROM nodes n LEFT JOIN (
           |    SELECT a.dst AS id,
           |      CAST(SUM(CAST(FLOOR(r.rank / CAST(a.deg AS DOUBLE) * 1e18) AS BIGINT)) AS DOUBLE) / 1e18 AS in_sum
           |    FROM adj a JOIN r${i - 1} r ON a.src = r.id GROUP BY a.dst) s
           |  ON n.id = s.id)""".stripMargin
      }.mkString(",\n")
      s"""WITH items AS MATERIALIZED (
         |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
         |ed AS MATERIALIZED (
         |  SELECT DISTINCT a.pk AS src, b.pk AS dst
         |  FROM items a JOIN items b ON a.ok = b.ok AND a.pk < b.pk),
         |bi AS MATERIALIZED (SELECT src, dst FROM ed UNION ALL SELECT dst AS src, src AS dst FROM ed),
         |deg AS MATERIALIZED (SELECT src, COUNT(*) AS deg FROM bi GROUP BY src),
         |adj AS MATERIALIZED (SELECT b.src, b.dst, d.deg FROM bi b JOIN deg d ON b.src = d.src),
         |nodes AS MATERIALIZED (SELECT DISTINCT src AS id FROM bi),
         |p AS (SELECT (CAST(1.0 AS DOUBLE) - CAST(0.85 AS DOUBLE)) / CAST(COUNT(*) AS DOUBLE) AS base,
         |  CAST(1.0 AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS r_init FROM nodes),
         |r0 AS (SELECT id, (SELECT r_init FROM p) AS rank FROM nodes),
         |$steps
         |SELECT id, rank FROM r$iters ORDER BY rank DESC, id LIMIT 100""".stripMargin
    }
  )

  // graph_kcore — the 3-core of the co-purchase graph (the dense
  // backbone q114's clustering coefficient summarizes and q98's rank
  // orders: which parts sit in mutually-reinforcing neighborhoods?):
  // iterative peeling to the fixpoint where every surviving node keeps
  // ≥ 3 in-core neighbors — per round one degree aggregate + two semi
  // joins, checkpointed like connectedComponents. Support floor n_ab ≥
  // 2 bounds the edge set first. ORACLE-CHECKED: the output is pure
  // integers (node id, in-core degree) and peeling is monotone, so the
  // SQL twin UNROLLS the peel a fixed 40 rounds (fixpoint is reached in
  // 11 at sf0.01; once reached, every further peel of a k-core edge set
  // returns it unchanged, so extra rounds are idempotent — but rounds
  // short of the fixpoint would leave a strict SUPERSET of the core, a
  // false driver mismatch, so the unroll carries ~4× headroom over the
  // observed depth and GraphSpec pins the engine's true-fixpoint round
  // count at ≤ half the unroll on the largest local SF). The unroll
  // depth is an oracle parameter only — the engine iterates to the true
  // fixpoint whatever the depth. The spec still reconciles against a
  // local peel.
  private val graphKcore = Q(
    "graph_kcore",
    (s, d) => {
      // Edge build shares q94/q113/q114's basket-pair shape (r13): the
      // old distinct + self-join shuffled lineitem three times; one
      // collect_set shuffle + codegen pair expansion + the widened pair
      // agg produce the identical (src < dst, n_ab >= 2) edge set.
      val edges = Exact.basketPairCounts(
          Exact.orderBaskets(Tables.lineitem(s, d),
            col("l_orderkey"), col("l_partkey")))
        .filter(col("n_ab") >= 2L)
        .select(col("pk_a").as("src"), col("pk_b").as("dst"))
      Graph.kcore(edges, k = 3)
    },
    Some {
      val rounds = 40
      val peels = (1 to rounds).map { r =>
        s"""k$r AS MATERIALIZED (
           |  SELECT id FROM (SELECT src AS id FROM e${r - 1}
           |    UNION ALL SELECT dst FROM e${r - 1})
           |  GROUP BY id HAVING COUNT(*) >= 3),
           |e$r AS MATERIALIZED (
           |  SELECT e.src, e.dst FROM e${r - 1} e
           |  JOIN k$r ka ON e.src = ka.id JOIN k$r kb ON e.dst = kb.id)""".stripMargin
      }.mkString(",\n")
      // MATERIALIZED is load-bearing: DuckDB inlines plain CTEs, and a
      // 20-round peel referencing its predecessor 3× per round would
      // expand 3^20 scans of the base table
      // e0 is basket-shaped like the engine (r13): the items self-join
      // spilled DuckDB past the sf100 temp window; the lambda pair
      // expansion builds the identical edge set join-free.
      s"""WITH b AS MATERIALIZED (
         |  SELECT l_orderkey AS ok, list_sort(list(DISTINCT l_partkey) FILTER (WHERE l_partkey IS NOT NULL)) AS items
         |  FROM lineitem GROUP BY l_orderkey),
         |e0 AS MATERIALIZED (
         |  SELECT pr[1] AS src, pr[2] AS dst
         |  FROM (
         |    SELECT unnest(flatten(list_transform(range(1, len(items) + 1),
         |        i -> list_transform(range(i + 1, len(items) + 1),
         |             j -> [items[i], items[j]])))) AS pr
         |    FROM b)
         |  GROUP BY 1, 2 HAVING COUNT(*) >= 2),
         |$peels
         |SELECT id, COUNT(*) AS deg
         |FROM (SELECT src AS id FROM e$rounds UNION ALL SELECT dst FROM e$rounds)
         |GROUP BY id HAVING COUNT(*) >= 3""".stripMargin
    }
  )

  // q99 — ABC / Pareto inventory classification: parts ranked by
  // revenue, class A = the prefix covering 80% of revenue, B = to 95%,
  // C = the tail. The fact table reduces once to the |parts| surface;
  // the cumulative pass is the q48 BUCKET-OFFSET discipline, not a
  // world window: bucket ids are monotone in cents, so (bucket DESC,
  // cents DESC, key) is the same total order as (cents DESC, key);
  // per-bucket cent sums are BOUNDED driver metadata (≤ 65536 rows)
  // whose descending scan yields each bucket's cumulative cent offset,
  // and the in-bucket cumsum window partitions on the HIGH-cardinality
  // bucket id — each task sorts ~|parts|/65536 rows, so the plan
  // survives a nine-figure catalog (PlanAuditSpec pins the absence of
  // a single-partition window). cum = offset + in-bucket prefix is the
  // exact global prefix; both engines read it out through the dec2d
  // hi/lo split so the 0.80/0.95 compares see identical doubles at any
  // catalog value.
  private val q99 = Q(
    "q99_abc",
    (s, d) => {
      val l = Tables.lineitem(s, d)
      // checkpointed |parts| surface: the bucket fit, the bounded
      // bucket-sum metadata and the final pass reuse one reduction
      val perPart = l.groupBy(col("l_partkey"))
        .agg(sum(Exact.qzl(col("l_extendedprice"), 100.0)).as("cents"))
        .graftCheckpoint()
      val dec = col("cents").cast(DecimalType(38, 0))
      val fit = perPart.agg(min(col("cents")), max(col("cents")), sum(dec)).head()
      val (blo, bhi) = (fit.getLong(0), fit.getLong(1))
      val tot = BigInt(fit.getDecimal(2).toBigInteger)
      // dec2d in Scala: exact hi/lo halves, the same two IEEE ops as
      // Exact.dec2d / sqlDec2d produce in-engine
      val totD = (tot >> 32).toDouble * 4294967296.0 +
        (tot & BigInt(0xFFFFFFFFL)).toDouble
      val bucketed = perPart.withColumn("b", Quantiles.bucketOf(col("cents").cast("double"),
        lit(blo.toDouble), lit(bhi.toDouble)))
      val w = Window.partitionBy(col("b"))
        .orderBy(desc("cents"), col("l_partkey"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val cum = col("off") + sum(dec).over(w)
      Quantiles.withBucketOffsets(bucketed, col("cents"), Seq("off" -> dec), descending = true)
        .withColumn("cum_share", Exact.dec2d(cum) / lit(totD))
        .withColumn("abc_class",
          when(col("cum_share") <= 0.80, "A")
            .when(col("cum_share") <= 0.95, "B")
            .otherwise("C"))
        .select(col("l_partkey"), (col("cents").cast("double") / lit(100.0)).as("revenue"),
          col("cum_share"), col("abc_class"))
    },
    Some(s"""WITH per_part AS (
      |  SELECT l_partkey,
      |    CAST(SUM(CAST(ROUND(l_extendedprice * 100.0) AS BIGINT)) AS BIGINT) AS cents
      |  FROM lineitem GROUP BY l_partkey),
      |c AS (
      |  SELECT l_partkey, cents,
      |    SUM(CAST(cents AS HUGEINT)) OVER (ORDER BY cents DESC, l_partkey
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_h,
      |    SUM(CAST(cents AS HUGEINT)) OVER () AS tot_h
      |  FROM per_part),
      |sh AS (
      |  SELECT l_partkey, cents,
      |    ${graft.Exact.sqlDec2d("cum_h")} / ${graft.Exact.sqlDec2d("tot_h")} AS cum_share
      |  FROM c)
      |SELECT l_partkey, CAST(cents AS DOUBLE) / 100.0 AS revenue, cum_share,
      |  CASE WHEN cum_share <= 0.80 THEN 'A'
      |       WHEN cum_share <= 0.95 THEN 'B'
      |       ELSE 'C' END AS abc_class
      |FROM sh""".stripMargin)
  )

  // q100 — Bollinger bands per customer (rolling mean ± 2σ over the
  // trailing 7 orders — the band-plot sibling of q39's rolling mean,
  // adding the rolling SAMPLE std q39 lacks): one window on the
  // high-cardinality customer key carries exact cent-grid Σz and Σz²
  // (DECIMAL(38,0)); mean, std (ddof=1, NULL at n=1), bands and the
  // outside-band flag are fixed IEEE expressions per row. The flag
  // compares the row's own exact cents against band doubles that both
  // engines derived identically, so it is engine-identical too.
  private val q100 = Q(
    "q100_bollinger",
    (s, d) => {
      val o = Tables.orders(s, d)
      val z = Exact.qzl(col("o_totalprice"), 100.0)
        .cast(DecimalType(38, 0))
      val ord = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate"), col("o_orderkey"))
      val w = ord.rowsBetween(-6, Window.currentRow)
      val base = o.select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"), z.as("z"))
        .withColumn("wn", count(lit(1)).over(w).cast("long"))
        .withColumn("cs", sum(col("z")).over(w).cast("double"))
        .withColumn("css", sum(col("z") * col("z")).over(w).cast("double"))
      val n = col("wn").cast("double")
      val mean = (col("cs") / n) / lit(100.0)
      val std = sqrt((col("css") - col("cs") * col("cs") / n) / (n - lit(1.0))) / lit(100.0)
      base.select(col("o_custkey"), col("o_orderkey"),
          (col("z").cast("double") / lit(100.0)).as("price"),
          mean.as("roll_mean"),
          when(col("wn") > 1L, std).as("roll_std"),
          when(col("wn") > 1L, mean + lit(2.0) * std).as("upper"),
          when(col("wn") > 1L, mean - lit(2.0) * std).as("lower"),
          when(col("wn") > 1L,
            col("z").cast("double") / lit(100.0) > mean + lit(2.0) * std ||
              col("z").cast("double") / lit(100.0) < mean - lit(2.0) * std)
            .as("outside"))
    },
    Some("""WITH b AS (
      |  SELECT o_custkey, o_orderkey,
      |    CAST(z AS DOUBLE) / 100.0 AS price,
      |    CAST(COUNT(*) OVER win AS BIGINT) AS wn,
      |    CAST(SUM(z) OVER win AS DOUBLE) AS cs,
      |    CAST(SUM(z * z) OVER win AS DOUBLE) AS css
      |  FROM (
      |    SELECT o_custkey, o_orderkey, o_orderdate,
      |      CAST(CAST(ROUND(o_totalprice * 100.0) AS BIGINT) AS HUGEINT) AS z
      |    FROM orders)
      |  WINDOW win AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
      |    ROWS BETWEEN 6 PRECEDING AND CURRENT ROW))
      |SELECT o_custkey, o_orderkey, price,
      |  (cs / CAST(wn AS DOUBLE)) / 100.0 AS roll_mean,
      |  CASE WHEN wn > 1 THEN SQRT((css - cs * cs / CAST(wn AS DOUBLE)) / (CAST(wn AS DOUBLE) - 1.0)) / 100.0 END AS roll_std,
      |  CASE WHEN wn > 1 THEN (cs / CAST(wn AS DOUBLE)) / 100.0 + 2.0 * (SQRT((css - cs * cs / CAST(wn AS DOUBLE)) / (CAST(wn AS DOUBLE) - 1.0)) / 100.0) END AS upper,
      |  CASE WHEN wn > 1 THEN (cs / CAST(wn AS DOUBLE)) / 100.0 - 2.0 * (SQRT((css - cs * cs / CAST(wn AS DOUBLE)) / (CAST(wn AS DOUBLE) - 1.0)) / 100.0) END AS lower,
      |  CASE WHEN wn > 1 THEN
      |    price > (cs / CAST(wn AS DOUBLE)) / 100.0 + 2.0 * (SQRT((css - cs * cs / CAST(wn AS DOUBLE)) / (CAST(wn AS DOUBLE) - 1.0)) / 100.0)
      |    OR price < (cs / CAST(wn AS DOUBLE)) / 100.0 - 2.0 * (SQRT((css - cs * cs / CAST(wn AS DOUBLE)) / (CAST(wn AS DOUBLE) - 1.0)) / 100.0)
      |  END AS outside
      |FROM b""".stripMargin)
  )

  // q101 — robust outlier flags via the modified z-score (Iglewicz &
  // Hoaglin: 0.6745·(x−med)/MAD, flag |Mz| > 3.5 — the
  // median-based upgrade over q08's IQR fences, immune to the outliers
  // it hunts): median and MAD both come from [[Quantiles]]' distributed
  // selection (bounded driver metadata, two passes — the q60 shape,
  // ungrouped), then flagging is a narrow broadcast-literal map. The
  // oracle recomputes both statistics with the identical interpolation
  // expression so the flag threshold sees the same doubles.
  private val q101 = Q(
    "q101_robust_z",
    (s, d) => {
      val o = Tables.orders(s, d)
      val med = Quantiles.exactQuantiles(o, Seq("o_totalprice"), Seq(0.5)).head._3
      val devs = o.select(abs(col("o_totalprice") - lit(med)).as("dev"))
      val mad = Quantiles.exactQuantiles(devs, Seq("dev"), Seq(0.5)).head._3
      val mz = lit(0.6745) * (col("o_totalprice") - lit(med)) / lit(mad)
      o.select(col("o_orderkey"), col("o_totalprice"),
          mz.as("modified_z"),
          (abs(mz) > lit(3.5)).as("is_outlier"))
    },
    Some(s"""WITH med AS (${Quantiles.sql("orders", "o_totalprice", Seq(0.5))}),
      |d AS (SELECT ABS(o_totalprice - (SELECT value FROM med)) AS dev FROM orders),
      |madv AS (${Quantiles.sql("d", "dev", Seq(0.5))})
      |SELECT o_orderkey, o_totalprice,
      |  0.6745 * (o_totalprice - (SELECT value FROM med)) / (SELECT value FROM madv) AS modified_z,
      |  ABS(0.6745 * (o_totalprice - (SELECT value FROM med)) / (SELECT value FROM madv)) > 3.5 AS is_outlier
      |FROM orders""".stripMargin)
  )

  // q102 — Kaplan–Meier survival of customer activity (time from first
  // to last order; customers still active in the final 90 days are
  // right-CENSORED — the estimator's defining feature, which a plain
  // duration histogram gets wrong): per-customer spans and the
  // (duration, events, censored) surface are distributed aggregates;
  // the cumulative product Π(1 − dᵢ/nᵢ) runs on the DRIVER over that
  // bounded surface as an EXACT BigInt fraction (a float cumprod
  // drifts; exp-sum-log hangs on libm), rounded once per step to the
  // 1e-6 grid the estimate is reported on. ORACLE-CHECKED through that
  // quantization: the exact fraction and DuckDB's float window product
  // agree to ~1e-13 relative (≤ |surface| correctly-rounded multiplies),
  // five orders below the grid, so both engines round to the same cell;
  // the integer columns are exact on both sides unconditionally. The
  // spec still reconciles against a naive local KM.
  private val q102 = Q(
    "q102_survival",
    (s, d) => {
      import s.implicits._
      // o_orderdate is TIMESTAMP_NTZ on read — pin to session-UTC
      // timestamps once so driver-side java.sql types line up
      val o = Tables.orders(s, d)
        .withColumn("o_orderdate", col("o_orderdate").cast("timestamp"))
      val spans = o.groupBy(col("o_custkey"))
        .agg(min(col("o_orderdate")).as("first_o"), max(col("o_orderdate")).as("last_o"))
      val obsEnd = o.agg(max(col("o_orderdate"))).head().getTimestamp(0)
      val cutoff = java.sql.Timestamp.from(obsEnd.toInstant.minusSeconds(90L * 86400L))
      val perCust = spans.select(
        datediff(col("last_o").cast("date"), col("first_o").cast("date"))
          .cast("long").as("t"),
        (col("last_o") < lit(cutoff)).as("event"))
      val surface = perCust.groupBy(col("t"))
        .agg(sum(when(col("event"), 1L).otherwise(0L)).as("d"),
          count(lit(1)).as("all_at_t"))
        .orderBy("t")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      val total = surface.map(_._3).sum
      var atRisk = total
      var num = BigInt(1); var den = BigInt(1)
      val rows = surface.map { case (t, d0, allT) =>
        if (d0 > 0) { num *= (atRisk - d0); den *= atRisk }
        // exact rational → one HALF_UP rounding onto the 1e-6 grid
        val surv = new java.math.BigDecimal(num.bigInteger)
          .divide(new java.math.BigDecimal(den.bigInteger), 6,
            java.math.RoundingMode.HALF_UP).doubleValue()
        val out = (t, atRisk, d0, allT - d0, surv)
        atRisk -= allT
        out
      }
      // `surface` is collected in t order, so the rows are already sorted
      rows.toSeq.toDF("t_days", "n_risk", "n_events", "n_censored", "survival")
    },
    Some("""WITH spans AS (
      |  SELECT o_custkey, MIN(o_orderdate) AS f, MAX(o_orderdate) AS l
      |  FROM orders GROUP BY 1),
      |obs AS (SELECT MAX(o_orderdate) AS m FROM orders),
      |pc AS (
      |  SELECT CAST(datediff('day', CAST(f AS DATE), CAST(l AS DATE)) AS BIGINT) AS t,
      |    l < (SELECT m FROM obs) - INTERVAL 90 DAY AS event
      |  FROM spans),
      |surf AS (
      |  SELECT t, SUM(CASE WHEN event THEN 1 ELSE 0 END) AS d, COUNT(*) AS all_t
      |  FROM pc GROUP BY t),
      |w AS (
      |  SELECT t,
      |    CAST(SUM(all_t) OVER (ORDER BY t ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS BIGINT) AS n_risk,
      |    CAST(d AS BIGINT) AS n_events, CAST(all_t - d AS BIGINT) AS n_censored, d
      |  FROM surf)
      |SELECT t AS t_days, n_risk, n_events, n_censored,
      |  ROUND(product(CASE WHEN d > 0 THEN CAST(n_risk - d AS DOUBLE) / CAST(n_risk AS DOUBLE) ELSE 1.0 END)
      |    OVER (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 6) AS survival
      |FROM w ORDER BY t_days""".stripMargin)
  )

  // q103 — seasonal-naive forecast backtest (the "can we even beat a
  // dumb baseline" gate every forecasting project starts with):
  // predict each hour by the value 24h earlier, score the last 7 days
  // as the hold-out with MAE and sMAPE (sMAPE's max-guard keeps the
  // zero-actual hours defined — plain MAPE divides by zero). All on
  // the zero-filled |hours| surface; error sums accumulate exactly
  // (MAE numerator is integer; sMAPE terms sum in DECIMAL(38,12)).
  private val q103 = Q(
    "q103_forecast_eval",
    (s, d) => {
      val series = hourlySeries(s, d).graftCheckpoint()
      val hi = series.agg(max(col("hm"))).head().getLong(0)
      val holdoutStart = hi - 7L * 24L * 3600000L
      val lagged = series.select(col("hm"), col("y"))
        .join(series.select((col("hm") + lit(24L * 3600000L)).as("hm2"),
          col("y").as("y_pred")), col("hm") === col("hm2"))
        .filter(col("hm") > lit(holdoutStart))
      val absErr = abs(col("y") - col("y_pred"))
      val smapeTerm = when(col("y") + col("y_pred") === 0L, lit(0.0))
        .otherwise(lit(2.0) * absErr.cast("double") /
          (col("y") + col("y_pred")).cast("double"))
      lagged.agg(
          count(lit(1)).as("n_hours"),
          sum(absErr).cast("double").as("abs_err_sum"),
          sum(Exact.d12(smapeTerm)).cast("double").as("smape_sum"))
        .select(col("n_hours"),
          (col("abs_err_sum") / col("n_hours").cast("double")).as("mae"),
          (col("smape_sum") / col("n_hours").cast("double")).as("smape"))
    },
    Some(s"""WITH $hourlySql,
      |lagged AS (
      |  SELECT a.hm, a.y, b.y AS y_pred
      |  FROM series a JOIN series b ON a.hm = b.hm + 86400000
      |  WHERE a.hm > (SELECT MAX(hm) FROM series) - 604800000),
      |terms AS (
      |  SELECT y, y_pred, ABS(y - y_pred) AS abs_err,
      |    CASE WHEN y + y_pred = 0 THEN 0.0
      |      ELSE 2.0 * CAST(ABS(y - y_pred) AS DOUBLE) / CAST(y + y_pred AS DOUBLE)
      |    END AS smape_term
      |  FROM lagged)
      |SELECT CAST(COUNT(*) AS BIGINT) AS n_hours,
      |  CAST(SUM(abs_err) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS mae,
      |  CAST(SUM(CAST(smape_term AS DECIMAL(38,12))) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS smape
      |FROM terms""".stripMargin)
  )

  // q104 — k-anonymity audit over quasi-identifiers (nation ×
  // market segment × account-balance band — the privacy readout run
  // BEFORE a dataset leaves the fence): equivalence-class sizes from
  // one partial-aggregable rollup, then the class-size distribution,
  // the smallest class, and the fraction of customers in classes below
  // k = 5. The |classes| surface carries everything after one shuffle.
  private val q104 = Q(
    "q104_k_anon",
    (s, d) => {
      val c = Tables.customer(s, d)
      val band = floor(col("c_acctbal") / lit(1000.0)).cast("long")
      val classes = c.groupBy(col("c_nationkey"), col("c_mktsegment"),
          band.as("bal_band"))
        .agg(count(lit(1)).as("cls"))
      classes.agg(
          count(lit(1)).as("n_classes"),
          sum(col("cls")).as("n_rows"),
          min(col("cls")).as("min_class"),
          sum(when(col("cls") < 5L, col("cls")).otherwise(0L)).as("rows_below_k"))
        .select(col("n_classes"), col("n_rows"), col("min_class"),
          (col("rows_below_k").cast("double") / col("n_rows").cast("double"))
            .as("frac_below_k"),
          (col("min_class") >= 5L).as("k5_anonymous"))
    },
    Some("""WITH classes AS (
      |  SELECT c_nationkey, c_mktsegment,
      |    CAST(FLOOR(c_acctbal / 1000.0) AS BIGINT) AS bal_band,
      |    CAST(COUNT(*) AS BIGINT) AS cls
      |  FROM customer GROUP BY 1, 2, 3)
      |SELECT CAST(COUNT(*) AS BIGINT) AS n_classes,
      |  CAST(SUM(cls) AS BIGINT) AS n_rows,
      |  CAST(MIN(cls) AS BIGINT) AS min_class,
      |  CAST(SUM(CASE WHEN cls < 5 THEN cls ELSE 0 END) AS DOUBLE)
      |    / CAST(SUM(cls) AS DOUBLE) AS frac_below_k,
      |  MIN(cls) >= 5 AS k5_anonymous
      |FROM classes""".stripMargin)
  )

  // q105 — referential-integrity audit across the star schema (the
  // data-quality gate of any warehouse load): orphan counts and rates
  // for every foreign-key edge, computed in ONE lazy plan with ONE
  // scan per fact table. Each fact stacks its FK edges into
  // (edge, key) rows, a partial-aggregable count collapses that to
  // the distinct-key surface BEFORE the exchange (shuffle volume is
  // |distinct keys|, not |fact|), the dim primary-key sets union into
  // the same (edge, key) space, and one co-partitioned left join +
  // rollup yields every edge's total and orphan count. No broadcast
  // of SF-scaling dims (lineitem->orders joins two fact-sized key
  // sets — a hash hint there would OOM at a true 100 TB), no driver
  // actions: the returned frame is an unexecuted plan.
  private val q105 = Q(
    "q105_ref_integrity",
    (s, d) => {
      val o = Tables.orders(s, d); val c = Tables.customer(s, d)
      val l = Tables.lineitem(s, d); val p = Tables.part(s, d)
      val sup = Tables.supplier(s, d); val n = Tables.nation(s, d)
      val factKeys = l.select(expr(
          "stack(3, 'lineitem->orders', CAST(l_orderkey AS BIGINT), " +
          "'lineitem->part', CAST(l_partkey AS BIGINT), " +
          "'lineitem->supplier', CAST(l_suppkey AS BIGINT)) AS (edge, fk)"))
        .unionByName(o.select(lit("orders->customer").as("edge"),
          col("o_custkey").cast("long").as("fk")))
        .unionByName(c.select(lit("customer->nation").as("edge"),
          col("c_nationkey").cast("long").as("fk")))
        .groupBy(col("edge"), col("fk")).agg(count(lit(1)).as("cnt"))
      // PKs are unique by contract; distinct() keeps the rollup exact
      // even on a dim that violates it (the audit shouldn't trust the
      // property it exists to check)
      val dimKeys = o.select(lit("lineitem->orders").as("edge"),
          col("o_orderkey").cast("long").as("pk"))
        .unionByName(p.select(lit("lineitem->part").as("edge"),
          col("p_partkey").cast("long").as("pk")))
        .unionByName(sup.select(lit("lineitem->supplier").as("edge"),
          col("s_suppkey").cast("long").as("pk")))
        .unionByName(c.select(lit("orders->customer").as("edge"),
          col("c_custkey").cast("long").as("pk")))
        .unionByName(n.select(lit("customer->nation").as("edge"),
          col("n_nationkey").cast("long").as("pk")))
        .distinct()
      factKeys.join(dimKeys,
          factKeys("edge") === dimKeys("edge") && col("fk") === col("pk"),
          "left")
        .groupBy(factKeys("edge").as("edge"))
        .agg(sum(col("cnt")).as("n_rows"),
          sum(when(col("pk").isNull, col("cnt")).otherwise(0L)).as("n_orphans"))
        .select(col("edge"), col("n_rows"), col("n_orphans"),
          (col("n_orphans").cast("double") / col("n_rows").cast("double"))
            .as("orphan_rate"))
        .orderBy("edge")
    },
    Some("""SELECT edge, n_rows, n_orphans,
      |  CAST(n_orphans AS DOUBLE) / CAST(n_rows AS DOUBLE) AS orphan_rate
      |FROM (
      |  SELECT 'orders->customer' AS edge,
      |    CAST((SELECT COUNT(*) FROM orders) AS BIGINT) AS n_rows,
      |    CAST((SELECT COUNT(*) FROM orders WHERE o_custkey NOT IN (SELECT c_custkey FROM customer)) AS BIGINT) AS n_orphans
      |  UNION ALL SELECT 'lineitem->orders',
      |    CAST((SELECT COUNT(*) FROM lineitem) AS BIGINT),
      |    CAST((SELECT COUNT(*) FROM lineitem WHERE l_orderkey NOT IN (SELECT o_orderkey FROM orders)) AS BIGINT)
      |  UNION ALL SELECT 'lineitem->part',
      |    CAST((SELECT COUNT(*) FROM lineitem) AS BIGINT),
      |    CAST((SELECT COUNT(*) FROM lineitem WHERE l_partkey NOT IN (SELECT p_partkey FROM part)) AS BIGINT)
      |  UNION ALL SELECT 'lineitem->supplier',
      |    CAST((SELECT COUNT(*) FROM lineitem) AS BIGINT),
      |    CAST((SELECT COUNT(*) FROM lineitem WHERE l_suppkey NOT IN (SELECT s_suppkey FROM supplier)) AS BIGINT)
      |  UNION ALL SELECT 'customer->nation',
      |    CAST((SELECT COUNT(*) FROM customer) AS BIGINT),
      |    CAST((SELECT COUNT(*) FROM customer WHERE c_nationkey NOT IN (SELECT n_nationkey FROM nation)) AS BIGINT))
      |ORDER BY edge""".stripMargin)
  )

  // q106 — split-conformal prediction interval (Vovk/Lei–Wasserman;
  // the distribution-free upgrade over a ±2σ band): deterministic
  // Z-mod-p three-way split (train/calibration/test, the q18
  // discipline), a bivariate OLS fit from exact train sums, the 90%
  // residual quantile on the CALIBRATION split via the distributed
  // selection, then hold-out coverage — which the conformal guarantee
  // lower-bounds at 90% under exchangeability regardless of the
  // model's quality. ORACLE-CHECKED: every stage is already exact-or-
  // fixed-IEEE — grid-integer train sums, one closed-form slope/icept
  // expression, the exact-selection quantile (same interpolation shape
  // as q07's oracle), and integer coverage counts — so the three-stage
  // fit unrolls into one SQL statement with identical shapes. The spec
  // asserts the coverage floor and split disjointness.
  private val q106 = Q(
    "q106_conformal",
    (s, d) => {
      import s.implicits._
      val l = Tables.lineitem(s, d)
      // reduce the key mod p BEFORE the ×8 fanout so the raw multiply
      // can't wrap int64 at any orderkey magnitude (the q18 discipline)
      val gate = Exact.zmod(col("l_orderkey") % lit(Exact.ZmodP) * lit(8L) + col("l_linenumber"), 10L)
      val withSplit = l.select(col("l_quantity").as("x"), col("l_extendedprice").as("y"),
        gate.as("g"))
      def z(c: Column, f: Double) = Exact.qzl(c, f).cast(DecimalType(38, 0))
      val tr = withSplit.filter(col("g") < 6)
      // sxx/sxy back ~1e11 per row: past 2^64 around sf~35 DuckDB's
      // hugeint→double cast double-rounds its 64-bit halves while
      // Spark's decimal→double rounds once — route both through the
      // dec2d 2^32 hi/lo split (the ANOVA Σz² treatment)
      val a = tr.agg(count(lit(1)).as("n"),
        sum(z(col("x"), 1000.0)).cast("double").as("sx"),
        sum(z(col("y"), 100.0)).cast("double").as("sy"),
        Exact.dec2d(sum(z(col("x"), 1000.0) * z(col("x"), 1000.0))).as("sxx"),
        Exact.dec2d(sum(z(col("x"), 1000.0) * z(col("y"), 100.0))).as("sxy")).head()
      val (n, sx, sy, sxx, sxy) = (a.getLong(0).toDouble, a.getDouble(1),
        a.getDouble(2), a.getDouble(3), a.getDouble(4))
      val slope = 10.0 * (n * sxy - sx * sy) / (n * sxx - sx * sx)
      val icept = sy / n / 100.0 - slope * (sx / n / 1000.0)
      val calib = withSplit.filter(col("g") >= 6 && col("g") < 8)
        .select(abs(col("y") - (lit(icept) + lit(slope) * col("x"))).as("r"))
      val qhat = Quantiles.exactQuantiles(calib, Seq("r"), Seq(0.9)).head._3
      val test = withSplit.filter(col("g") >= 8)
      // n_calib and the hold-out coverage stay IN the final lazy plan
      // (r13) — the old nCal count + coverage head() were two extra
      // synchronous jobs; only the 1-row fit aggregate and the
      // exact-selection quantile legitimately surface as driver
      // literals (they parameterize downstream expression SHAPES).
      val calC = calib.agg(count(lit(1)).as("n_calib"))
      test.agg(count(lit(1)).as("n_test"),
          sum(when(abs(col("y") - (lit(icept) + lit(slope) * col("x"))) <= lit(qhat), 1L)
            .otherwise(0L)).as("inside"))
        .crossJoin(broadcast(calC))
        .select(lit(a.getLong(0)).as("n_train"), col("n_calib"),
          col("n_test"), lit(slope).as("slope"), lit(icept).as("intercept"),
          lit(qhat).as("qhat"),
          (col("inside").cast("double") / col("n_test").cast("double"))
            .as("coverage"))
    },
    Some(s"""WITH ws AS (
      |  SELECT l_quantity AS x, l_extendedprice AS y,
      |    ${Exact.sqlZmod("(l_orderkey % 1000000007) * 8 + l_linenumber", 10L)} AS g
      |  FROM lineitem),
      |tr AS (
      |  SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(COUNT(*) AS DOUBLE) AS nd,
      |    CAST(SUM(CAST(ROUND(x * 1000.0) AS BIGINT)) AS DOUBLE) AS sx,
      |    CAST(SUM(CAST(ROUND(y * 100.0) AS BIGINT)) AS DOUBLE) AS sy,
      |    ${graft.Exact.sqlDec2d("SUM(CAST(ROUND(x * 1000.0) AS BIGINT) * CAST(ROUND(x * 1000.0) AS BIGINT))")} AS sxx,
      |    ${graft.Exact.sqlDec2d("SUM(CAST(ROUND(x * 1000.0) AS BIGINT) * CAST(ROUND(y * 100.0) AS BIGINT))")} AS sxy
      |  FROM ws WHERE g < 6),
      |fit AS (
      |  SELECT n, nd, sx, sy,
      |    10.0 * (nd * sxy - sx * sy) / (nd * sxx - sx * sx) AS slope
      |  FROM tr),
      |fit2 AS (
      |  SELECT n, slope, sy / nd / 100.0 - slope * (sx / nd / 1000.0) AS icept
      |  FROM fit),
      |calib AS (
      |  SELECT ABS(y - ((SELECT icept FROM fit2) + (SELECT slope FROM fit2) * x)) AS r
      |  FROM ws WHERE g >= 6 AND g < 8),
      |qh AS (SELECT value AS qhat FROM (${Quantiles.sql("calib", "r", Seq(0.9))}) t),
      |tst AS (
      |  SELECT CAST(COUNT(*) AS BIGINT) AS n_test,
      |    CAST(SUM(CASE WHEN ABS(y - ((SELECT icept FROM fit2) + (SELECT slope FROM fit2) * x))
      |      <= (SELECT qhat FROM qh) THEN 1 ELSE 0 END) AS BIGINT) AS inside
      |  FROM ws WHERE g >= 8)
      |SELECT fit2.n AS n_train,
      |  (SELECT CAST(COUNT(*) AS BIGINT) FROM calib) AS n_calib,
      |  tst.n_test, fit2.slope, fit2.icept AS intercept,
      |  (SELECT qhat FROM qh) AS qhat,
      |  CAST(tst.inside AS DOUBLE) / CAST(tst.n_test AS DOUBLE) AS coverage
      |FROM fit2, tst""".stripMargin)
  )

  // q107 — two-proportion z-test on conversion rates (the canonical
  // A/B readout — q64's Welch t is for means; rates need this):
  // deterministic Z-mod-p variant assignment over users, conversion =
  // the user purchased, pooled-variance z as one IEEE expression over
  // exact counts. One distinct-user aggregate + one 2-row surface.
  private val q107 = Q(
    "q107_ab_proportions",
    (s, d) => {
      val ev = Tables.events(s, d)
      // conversion = "power purchaser" (≥ 10 purchase events): every
      // user in this corpus purchases at least once, which would make
      // the pooled variance zero — the rate must be non-degenerate for
      // the test to exist
      val perUser = ev.groupBy(col("user_id"))
        .agg(when(sum(when(col("event_type") === "purchase", 1L).otherwise(0L)) >= 10L,
          1L).otherwise(0L).as("converted"))
        .select(
          (pmod(col("user_id") % lit(1000000007L) * lit(2654435761L % 1000000007L),
            lit(1000000007L)) % lit(2L)).as("variant"),
          col("converted"))
      val g = perUser.groupBy(col("variant"))
        .agg(count(lit(1)).as("n"), sum(col("converted")).as("conv"))
        .orderBy("variant")
      val wa = Window.partitionBy()
      val both = g
        .withColumn("n_tot", sum(col("n")).over(wa))
        .withColumn("c_tot", sum(col("conv")).over(wa))
      // emit per-variant rates + the shared z statistic (same on both rows)
      val p = col("conv").cast("double") / col("n").cast("double")
      val pPool = col("c_tot").cast("double") / col("n_tot").cast("double")
      val nOther = (col("n_tot") - col("n")).cast("double")
      val cOther = (col("c_tot") - col("conv")).cast("double")
      val pOther = cOther / nOther
      val se = sqrt(pPool * (lit(1.0) - pPool) *
        (lit(1.0) / col("n").cast("double") + lit(1.0) / nOther))
      both.select(col("variant"), col("n"), col("conv"), p.as("rate"),
          ((p - pOther) / se).as("z_vs_other"))
        .orderBy("variant")
    },
    Some("""WITH pu AS (
      |  SELECT user_id,
      |    CAST(CASE WHEN SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) >= 10
      |      THEN 1 ELSE 0 END AS BIGINT) AS converted
      |  FROM events GROUP BY user_id),
      |v AS (
      |  SELECT ((user_id % 1000000007) * (2654435761 % 1000000007) % 1000000007
      |      + 1000000007) % 1000000007 % 2 AS variant,
      |    converted
      |  FROM pu),
      |g AS (
      |  SELECT variant, CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(converted) AS BIGINT) AS conv
      |  FROM v GROUP BY variant),
      |b AS (
      |  SELECT variant, n, conv,
      |    SUM(n) OVER () AS n_tot, SUM(conv) OVER () AS c_tot
      |  FROM g)
      |SELECT variant, n, conv,
      |  CAST(conv AS DOUBLE) / CAST(n AS DOUBLE) AS rate,
      |  (CAST(conv AS DOUBLE) / CAST(n AS DOUBLE)
      |    - CAST(c_tot - conv AS DOUBLE) / CAST(n_tot - n AS DOUBLE))
      |  / SQRT((CAST(c_tot AS DOUBLE) / CAST(n_tot AS DOUBLE))
      |      * (1.0 - CAST(c_tot AS DOUBLE) / CAST(n_tot AS DOUBLE))
      |      * (1.0 / CAST(n AS DOUBLE) + 1.0 / CAST(n_tot - n AS DOUBLE))) AS z_vs_other
      |FROM b ORDER BY variant""".stripMargin)
  )

  // q108 — seasonal-robust anomaly flags (the S-H-ESD shape behind
  // production metric alerting: decompose, then judge RESIDUALS by
  // median/MAD — st_anomaly's plain z-flags fire on every daily peak;
  // this only fires on hours that deviate from their own seasonal
  // expectation, and the robust scale ignores the anomalies being
  // hunted): q72's decomposition surface + two bounded-metadata
  // quantile selections over the residuals + a narrow literal flag
  // map. The oracle replays the identical decomposition and
  // interpolated median/MAD, so the flag threshold sees the same
  // doubles.
  private val q108 = Q(
    "q108_anomaly_seasonal",
    (s, d) => {
      val dec = RelationalC.decomposed(s, d).graftCheckpoint()
      val med = Quantiles.exactQuantiles(
        dec.select(col("residual")), Seq("residual"), Seq(0.5)).head._3
      val devs = dec.select(abs(col("residual") - lit(med)).as("dev"))
      val mad = Quantiles.exactQuantiles(devs, Seq("dev"), Seq(0.5)).head._3
      val mz = lit(0.6745) * (col("residual") - lit(med)) / lit(mad)
      dec.select(col("h"), col("y"), col("residual"),
          mz.as("robust_z"),
          (abs(mz) > lit(3.5)).as("is_anomaly"))
    },
    Some(s"""WITH ${RelationalC.decomposedSql},
      |med AS (${Quantiles.sql("decomp", "residual", Seq(0.5))}),
      |dv AS (SELECT ABS(residual - (SELECT value FROM med)) AS dev FROM decomp),
      |madv AS (${Quantiles.sql("dv", "dev", Seq(0.5))})
      |SELECT h, y, residual,
      |  0.6745 * (residual - (SELECT value FROM med)) / (SELECT value FROM madv) AS robust_z,
      |  ABS(0.6745 * (residual - (SELECT value FROM med)) / (SELECT value FROM madv)) > 3.5 AS is_anomaly
      |FROM decomp""".stripMargin)
  )

  // q109 — the cohort retention triangle (signup day × day offset →
  // % of the cohort still active; the canonical growth-analytics
  // artifact — q53's hour-over-hour rate and q74's LTV curves are its
  // siblings): first-seen day per user is one aggregate on the
  // high-cardinality key, the (cohort, offset) cells partial-aggregate
  // the REDUCED (user, day) distinct surface, and retention divides
  // exact counts on the |days|²/2 triangle. Offsets are integer day
  // arithmetic on both engines.
  private val q109 = Q(
    "q109_cohort_triangle",
    (s, d) => {
      val ev = Tables.events(s, d)
      val userDays = ev.select(col("user_id"),
          datediff(col("ts").cast("date"), to_date(lit("1970-01-01")))
            .cast("long").as("day"))
        .distinct()
        .graftCheckpoint()
      val cohorts = userDays.groupBy(col("user_id"))
        .agg(min(col("day")).as("cohort_day"))
      val sizes = cohorts.groupBy(col("cohort_day")).agg(count(lit(1)).as("cohort_n"))
      userDays.join(cohorts, "user_id")
        .groupBy(col("cohort_day"), (col("day") - col("cohort_day")).as("day_offset"))
        .agg(count(lit(1)).as("active"))
        .join(broadcast(sizes), "cohort_day")
        .select(col("cohort_day"), col("day_offset"), col("active"), col("cohort_n"),
          (col("active").cast("double") / col("cohort_n").cast("double"))
            .as("retention"))
    },
    Some("""WITH ud AS (
      |  SELECT DISTINCT user_id,
      |    CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) AS day
      |  FROM events),
      |cohorts AS (
      |  SELECT user_id, MIN(day) AS cohort_day FROM ud GROUP BY user_id),
      |sizes AS (
      |  SELECT cohort_day, CAST(COUNT(*) AS BIGINT) AS cohort_n
      |  FROM cohorts GROUP BY cohort_day),
      |cells AS (
      |  SELECT c.cohort_day, ud.day - c.cohort_day AS day_offset,
      |    CAST(COUNT(*) AS BIGINT) AS active
      |  FROM ud JOIN cohorts c ON ud.user_id = c.user_id
      |  GROUP BY 1, 2)
      |SELECT cells.cohort_day, day_offset, active, cohort_n,
      |  CAST(active AS DOUBLE) / CAST(cohort_n AS DOUBLE) AS retention
      |FROM cells JOIN sizes ON cells.cohort_day = sizes.cohort_day
      |""".stripMargin)
  )

  // q110 — strength of trend / seasonality (the tsfeatures
  // forecastability diagnostics: Fₜ = max(0, 1 − Var(R)/Var(T+R)),
  // Fₛ = max(0, 1 − Var(R)/Var(S+R)) on the decomposition — the number
  // that says whether q103's seasonal-naive baseline is even the right
  // baseline): components quantized to a 1e-6 grid so every variance is
  // an exact integer sum (the decomposition doubles are engine-
  // identical, so the quantization is too — a raw float Σr² would be
  // DuckDB-order-dependent); variances and strengths are fixed IEEE
  // expressions over one aggregate of the |hours| surface.
  private val q110 = Q(
    "q110_seasonal_strength",
    (s, d) => {
      val dec = RelationalC.decomposed(s, d)
      def z(c: Column): Column =
        Exact.qzl(c, 1000000.0).cast(DecimalType(38, 0))
      val r = z(col("residual"))
      val tr = z(col("y").cast("double") - col("seasonal")) // trend + residual
      val sr = z(col("y").cast("double") - col("trend")) // seasonal + residual
      // dec2d readouts: Σr² on the 1e-6 grid backs ~7e20 at sf1 — past
      // 2^64, where the direct decimal→double cast is engine-divergent
      val a = dec.agg(count(lit(1)).as("n"),
        Exact.dec2d(sum(r)).as("s_r"), Exact.dec2d(sum(r * r)).as("ss_r"),
        Exact.dec2d(sum(tr)).as("s_tr"), Exact.dec2d(sum(tr * tr)).as("ss_tr"),
        Exact.dec2d(sum(sr)).as("s_sr"), Exact.dec2d(sum(sr * sr)).as("ss_sr"))
      val n = col("n").cast("double")
      def v(sc: Column, ssc: Column): Column = ssc / n - (sc / n) * (sc / n)
      a.select(col("n"),
        greatest(lit(0.0), lit(1.0) - v(col("s_r"), col("ss_r")) / v(col("s_tr"), col("ss_tr")))
          .as("strength_trend"),
        greatest(lit(0.0), lit(1.0) - v(col("s_r"), col("ss_r")) / v(col("s_sr"), col("ss_sr")))
          .as("strength_seasonal"))
    },
    Some(s"""WITH ${RelationalC.decomposedSql},
      |q AS (
      |  SELECT
      |    CAST(CAST(ROUND(residual * 1000000.0) AS BIGINT) AS HUGEINT) AS r,
      |    CAST(CAST(ROUND((CAST(y AS DOUBLE) - seasonal) * 1000000.0) AS BIGINT) AS HUGEINT) AS tr,
      |    CAST(CAST(ROUND((CAST(y AS DOUBLE) - trend) * 1000000.0) AS BIGINT) AS HUGEINT) AS sr
      |  FROM decomp),
      |a AS (
      |  SELECT CAST(COUNT(*) AS BIGINT) AS n,
      |    ${graft.Exact.sqlDec2d("SUM(r)")} AS s_r, ${graft.Exact.sqlDec2d("SUM(r * r)")} AS ss_r,
      |    ${graft.Exact.sqlDec2d("SUM(tr)")} AS s_tr, ${graft.Exact.sqlDec2d("SUM(tr * tr)")} AS ss_tr,
      |    ${graft.Exact.sqlDec2d("SUM(sr)")} AS s_sr, ${graft.Exact.sqlDec2d("SUM(sr * sr)")} AS ss_sr
      |  FROM q)
      |SELECT n,
      |  GREATEST(0.0, 1.0 - (ss_r / CAST(n AS DOUBLE) - (s_r / CAST(n AS DOUBLE)) * (s_r / CAST(n AS DOUBLE)))
      |    / (ss_tr / CAST(n AS DOUBLE) - (s_tr / CAST(n AS DOUBLE)) * (s_tr / CAST(n AS DOUBLE)))) AS strength_trend,
      |  GREATEST(0.0, 1.0 - (ss_r / CAST(n AS DOUBLE) - (s_r / CAST(n AS DOUBLE)) * (s_r / CAST(n AS DOUBLE)))
      |    / (ss_sr / CAST(n AS DOUBLE) - (s_sr / CAST(n AS DOUBLE)) * (s_sr / CAST(n AS DOUBLE)))) AS strength_seasonal
      |FROM a""".stripMargin)
  )

  override val qs: Seq[Q] = Seq(q82, q83, q84, q85, q86, q87, q88, q89, q90, q91,
    q92, q93, q94, q95, q96, q97, q98, q99, q100, q101, q102, q103, q104, q105,
    q106, q107, q108, q109, q110, apKmv, apSketchRollup, graphKcore)
}
