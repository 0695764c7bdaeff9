package graft.operators

import graft.Exact.{GraftCheckpoint, GraftDimJoin}
import graft.{Exact, Q, Tables, Module}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import RelationalD.{hourlySeries, hourlySql}

/** Round-5 (late stint) additions: distribution comparison (Q–Q),
  * weighted order statistics, item-item similarity, and distributed
  * graph structure (triangles). Same disciplines as [[RelationalC]]/
  * [[RelationalD]]: facts reduce to bounded surfaces before any window,
  * exact integer accumulation everywhere the oracle hash-compares,
  * derived statistics as fixed IEEE expressions mirrored in the DuckDB
  * SQL, and driver-side metadata bounded BY CONSTRUCTION (never
  * data-proportional).
  */
object RelationalE extends Module {

  // q111 — two-sample empirical Q–Q table (the visual companion of
  // q66's KS test: WHERE do two distributions diverge, not just how
  // much): order totals of BUILDING vs MACHINERY customers compared at
  // the 19 vigintiles. Both quantile ladders come from ONE pass of the
  // (group, bucket) histogram selection (q33's machinery — parallelism
  // groups·65536, never a per-group sort); the EDA reference is the
  // side-by-side distribution plots of eda_processing.ipynb. The p grid
  // is the IEEE products k·0.05, which the oracle receives as exact
  // string casts (Quantiles.sql), so interpolation weights match
  // bit-for-bit.
  private val q111 = Q(
    "q111_qq",
    (s, d) => {
      import s.implicits._
      val segs = Seq("BUILDING", "MACHINERY")
      val src = Tables.orders(s, d)
        .dimJoin(Tables.customer(s, d)
          .filter(col("c_mktsegment").isin(segs: _*))
          .select(col("c_custkey"), col("c_mktsegment").as("seg")),
          col("o_custkey") === col("c_custkey"))
        .select(col("seg"), col("o_totalprice").as("x"))
      val ps = (1 to 19).map(k => k.toDouble * 0.05)
      val qv = Quantiles.groupedExactQuantiles(src, "seg", "x", ps)
        .groupBy(_._2).toSeq
        .map { case (p, rows) =>
          val m = rows.map(r => r._1 -> r._3).toMap
          (p, m(segs.head), m(segs.last))
        }
      qv.sortBy(_._1).toDF("p", "q_building", "q_machinery")
        .withColumn("qq_diff", col("q_machinery") - col("q_building"))
    },
    Some(s"""WITH src AS (
      |  SELECT c_mktsegment AS g, CAST(o_totalprice AS DOUBLE) AS x
      |  FROM orders JOIN customer ON o_custkey = c_custkey
      |  WHERE c_mktsegment IN ('BUILDING', 'MACHINERY')),
      |q AS (
      |  SELECT g, q AS p, value AS v
      |  FROM (${Quantiles.sql("src", "x", (1 to 19).map(k => k.toDouble * 0.05), Some("g"))}) b)
      |SELECT p,
      |  MAX(CASE WHEN g = 'BUILDING' THEN v END) AS q_building,
      |  MAX(CASE WHEN g = 'MACHINERY' THEN v END) AS q_machinery,
      |  MAX(CASE WHEN g = 'MACHINERY' THEN v END)
      |    - MAX(CASE WHEN g = 'BUILDING' THEN v END) AS qq_diff
      |FROM q GROUP BY p ORDER BY p""".stripMargin)
  )

  // q112 — weighted quartiles per group (np.percentile with weights /
  // the "median price weighted by units sold" readout): the LOWER
  // weighted quantile — smallest x whose cumulative weight reaches
  // ceil(p·W) — on integer weights, so thresholds are exact in both
  // engines. No group-keyed sort: a (group, bucket) WEIGHT histogram
  // (the q33/q63 discipline with Σw in place of counts) locates the
  // fence bucket from bounded driver metadata, point-mass buckets
  // answer from the histogram alone, and ONLY fence-straddling buckets
  // (~n/65536 rows) rank row-by-row. The oracle is the naive
  // cumulative-weight window; MIN(x | cumw ≥ T) is tie-order-invariant
  // by construction, so both plans agree exactly.
  /** Lower weighted quantiles of `x` per `g` with integer weights `w`
    * (columns g: string, x: double, w: long): smallest x whose
    * cumulative weight reaches ceil(p·W), p given as the exact rational
    * num/den. Distributed via the (group, bucket) WEIGHT histogram —
    * bounded driver metadata, point-mass fast path, only straddling
    * buckets ranked. Public so the spec can plant adversarial frames
    * (all-ties groups, fence-straddling tie runs).
    */
  /** The facts frame with its per-group bucket id attached: the fence
    * table (g, lo, hi) — bounded by group cardinality — broadcast-joins
    * onto the facts and [[Quantiles.bucketOf]] reads the JOINED bounds.
    * No per-group literals in the expression tree: a when-chain keyed on
    * group value grows the generated code linearly with distinct groups
    * and falls out of codegen past ~10k groups (the 64KB method limit),
    * while this shape is one broadcast hash join + a fixed-size
    * expression at ANY group cardinality. Exposed for the plan pin.
    */
  def weightedBucketed(facts: DataFrame,
      stats: Seq[(String, Double, Double)]): DataFrame = {
    val fences = facts.sparkSession.createDataFrame(stats).toDF("fg", "f_lo", "f_hi")
    facts.join(broadcast(fences), col("g") === col("fg"))
      .withColumn("b", Quantiles.bucketOf(col("x"), col("f_lo"), col("f_hi")))
      .drop("fg", "f_lo", "f_hi")
  }

  def weightedQuantiles(facts0: DataFrame,
      ps: Seq[(Long, Long, Double)]): Seq[(String, Double, Double)] = {
    val facts = facts0.graftCheckpoint()
    val stats = facts.groupBy(col("g"))
        .agg(sum(col("w")).as("tw"), min(col("x")).as("lo"), max(col("x")).as("hi"))
        .collect()
        .map(r => (r.getString(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
      val bucketed = weightedBucketed(facts,
        stats.toSeq.map { case (gv, _, lo, hi) => (gv, lo, hi) })
      // (group, bucket) weight histogram: ≤ groups·65537 driver rows by
      // construction, a pure partial+final hash aggregate.
      val hist = bucketed.groupBy(col("g"), col("b"))
        .agg(sum(col("w")).as("bw"), min(col("x")).as("bmin"), max(col("x")).as("bmax"))
        .collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4)))
        .groupBy(_._1)
      // locate each threshold's bucket on the driver (bounded metadata)
      case class Pick(g: String, p: Double, b: Long, offset: Long)
      var resolved = Vector.empty[(String, Double, Double)]
      var picks = Vector.empty[Pick]
      for ((gv, tw, _, _) <- stats; (num, den, p) <- ps) {
        val thr = (tw * num + den - 1) / den
        var cum = 0L
        var done = false
        for ((_, b, bw, bmin, bmax) <- hist(gv).sortBy(_._2) if !done) {
          if (cum + bw >= thr) {
            if (bmin == bmax) resolved :+= ((gv, p, bmin))
            else picks :+= Pick(gv, p, b, thr - cum)
            done = true
          }
          cum += bw
        }
      }
      val fromRank: Seq[(String, Double, Double)] =
        if (picks.isEmpty) Seq.empty
        else {
          val cond = picks.map(pk => col("g") === pk.g && col("b") === pk.b).reduce(_ || _)
          val cw = sum(col("w")).over(Window.partitionBy(col("g"), col("b"))
            .orderBy(col("x")).rowsBetween(Window.unboundedPreceding, Window.currentRow))
          val sub = bucketed.filter(cond)
            .withColumn("cw", cw)
          val aggs = picks.zipWithIndex.map { case (pk, i) =>
            min(when(col("g") === pk.g && col("b") === pk.b && col("cw") >= pk.offset,
              col("x"))).as(s"v$i")
          }
          val row = sub.agg(aggs.head, aggs.tail: _*).head()
          picks.zipWithIndex.map { case (pk, i) => (pk.g, pk.p, row.getDouble(i)) }
        }
    resolved ++ fromRank
  }

  private val q112 = Q(
    "q112_weighted_median",
    (s, d) => {
      import s.implicits._
      val facts = Tables.lineitem(s, d).select(
        col("l_returnflag").as("g"),
        col("l_extendedprice").cast("double").as("x"),
        Exact.qzl(col("l_quantity"), 1.0).as("w"))
      weightedQuantiles(facts, Seq((1L, 4L, 0.25), (1L, 2L, 0.5), (3L, 4L, 0.75)))
        .sortBy(r => (r._1, r._2))
        .toDF("l_returnflag", "p", "value")
    },
    Some("""WITH f AS (
      |  SELECT l_returnflag AS g, CAST(l_extendedprice AS DOUBLE) AS x,
      |    CAST(ROUND(l_quantity) AS BIGINT) AS w
      |  FROM lineitem),
      |t AS (SELECT g, CAST(SUM(w) AS BIGINT) AS tw FROM f GROUP BY 1),
      |ps AS (
      |  SELECT CAST(1 AS BIGINT) AS num, CAST(4 AS BIGINT) AS den, CAST(0.25 AS DOUBLE) AS p
      |  UNION ALL SELECT 1, 2, CAST(0.5 AS DOUBLE)
      |  UNION ALL SELECT 3, 4, CAST(0.75 AS DOUBLE)),
      |c AS (
      |  SELECT g, x, SUM(w) OVER (PARTITION BY g ORDER BY x
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cw
      |  FROM f),
      |th AS (
      |  SELECT t.g, ps.p, (t.tw * ps.num + ps.den - 1) // ps.den AS thr
      |  FROM t, ps)
      |SELECT th.g AS l_returnflag, th.p AS p, MIN(c.x) AS value
      |FROM th JOIN c ON c.g = th.g AND c.cw >= th.thr
      |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)
  )

  // q113 — item-item similarity over order co-occurrence (the
  // neighborhood model of collaborative filtering; q94's lift is the
  // probabilistic cousin): cosine = n_ab/√(n_a·n_b) and Jaccard =
  // n_ab/(n_a+n_b−n_ab) over exact co-purchase counts. Pair generation
  // joins WITHIN order keys only (linear in orders for bounded
  // baskets), the n_ab ≥ 2 floor is the support prune, and √ of the
  // exact integer product is a single correctly-rounded IEEE op in both
  // engines — scores hash-match bit-for-bit.
  private val q113 = Q(
    "q113_item_sim",
    (s, d) => {
      // Shares q94's basket-pair shape (r13): one shuffle on order key,
      // codegen in-basket pair expansion, widened pair agg, size-gated
      // n_a/n_b dim joins (itemCounts scales with the part domain —
      // 20M at sf100 — so unconditional broadcast() is a driver-OOM).
      val baskets = Exact.orderBaskets(Tables.lineitem(s, d),
          col("l_orderkey"), col("l_partkey"))
        .graftCheckpoint()
      val itemCounts = baskets
        .select(explode(col("basket")).as("pk"))
        .groupBy(col("pk")).agg(count(lit(1)).as("n_i"))
      Exact.basketPairCounts(baskets)
        .filter(col("n_ab") >= 2L)
        .dimJoin(itemCounts.select(col("pk").as("ia_pk"), col("n_i").as("n_a")),
          col("pk_a") === col("ia_pk"))
        .dimJoin(itemCounts.select(col("pk").as("ib_pk"), col("n_i").as("n_b")),
          col("pk_b") === col("ib_pk"))
        .select(col("pk_a"), col("pk_b"), col("n_ab"), col("n_a"), col("n_b"),
          (col("n_ab").cast("double") /
            sqrt((col("n_a") * col("n_b")).cast("double"))).as("cosine"),
          (col("n_ab").cast("double") /
            (col("n_a") + col("n_b") - col("n_ab")).cast("double")).as("jaccard"))
    },
    // Basket-shaped oracle like q94's (r13): join-free pair expansion
    // replaces the items self-join that spilled DuckDB past the sf100
    // temp window (bit-equal at sf0.01/sf0.1 against the old SQL).
    Some("""WITH b AS (
      |  SELECT l_orderkey AS ok, list_sort(list(DISTINCT l_partkey) FILTER (WHERE l_partkey IS NOT NULL)) AS items
      |  FROM lineitem GROUP BY l_orderkey),
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
      |  CAST(n_ab AS DOUBLE) / SQRT(CAST(ia.n_i * ib.n_i AS DOUBLE)) AS cosine,
      |  CAST(n_ab AS DOUBLE) / CAST(ia.n_i + ib.n_i - n_ab AS DOUBLE) AS jaccard
      |FROM p JOIN ic ia ON p.pk_a = ia.pk JOIN ic ib ON p.pk_b = ib.pk
      |""".stripMargin)
  )

  // q114 — triangle census of the co-purchase graph (global clustering
  // coefficient: does co-buying CLUSTER, or is q98's PageRank ranking a
  // hub-and-spoke?): the degree-ordered orientation of Suri &
  // Vassilvitskii's MR triangle counting — every edge points from its
  // (deg, key)-smaller endpoint to the larger, so out-degrees are
  // bounded by O(√E) on any graph (arboricity bound) and the wedge
  // self-join never explodes on a hot node. Wedges = Σ C(deg,2) counts
  // all paths-of-2; closed ones are found by probing the oriented edge
  // set — at 100 TB both joins key on node ids, no broadcast of
  // anything data-proportional. Output is the 1-row census; all counts
  // exact integers, the clustering ratio one IEEE division.
  private val q114 = Q(
    "q114_triangles",
    (s, d) => {
      // Edge build shares q94's basket-pair shape (r13): one shuffle on
      // order key, codegen in-basket pair expansion, widened pair agg —
      // the old distinct + self-join shuffled lineitem three times and
      // is the same plan family that OOM'd q94's pair agg at sf100.
      val edges = Exact.basketPairCounts(
          Exact.orderBaskets(Tables.lineitem(s, d),
            col("l_orderkey"), col("l_partkey")))
        .filter(col("n_ab") >= 2L)
        .select(col("pk_a").as("u"), col("pk_b").as("v"))
        .graftCheckpoint()
      val deg = edges.select(col("u").as("pk"))
        .union(edges.select(col("v").as("pk")))
        .groupBy(col("pk")).agg(count(lit(1)).as("deg"))
        .graftCheckpoint()
      // orient: src = (deg, pk)-smaller endpoint. deg scales with the
      // item domain (20M parts at sf100), so the joins are size-gated
      // dimJoins — broadcast while small, shuffle joins once deg
      // outgrows the gate (r13; the old unconditional broadcast() was
      // the q94-class driver-OOM risk at the fifth decade).
      val du = deg.select(col("pk").as("du_pk"), col("deg").as("du"))
      val dv = deg.select(col("pk").as("dv_pk"), col("deg").as("dv"))
      val or = edges.dimJoin(du, col("u") === col("du_pk"))
        .dimJoin(dv, col("v") === col("dv_pk"))
        .select(
          when(col("du") < col("dv") ||
            (col("du") === col("dv") && col("u") < col("v")), col("u"))
            .otherwise(col("v")).as("src"),
          when(col("du") < col("dv") ||
            (col("du") === col("dv") && col("u") < col("v")), col("v"))
            .otherwise(col("u")).as("dst"),
          when(col("du") < col("dv") ||
            (col("du") === col("dv") && col("u") < col("v")), col("dv"))
            .otherwise(col("du")).as("ddeg"))
        .graftCheckpoint()
      val x = or.select(col("src"), col("dst").as("v1"), col("ddeg").as("deg1"))
      val y = or.select(col("src").as("src2"), col("dst").as("v2"), col("ddeg").as("deg2"))
      val wedges = x.join(y, col("src") === col("src2") &&
        (col("deg1") < col("deg2") ||
          (col("deg1") === col("deg2") && col("v1") < col("v2"))))
        .select(col("v1"), col("v2"))
      val probe = or.select(col("src").as("v1"), col("dst").as("v2"))
      // All four scalars stay IN the plan as broadcast 1-row aggregates
      // (r13) — the old four sequential driver actions (tri/nodes/
      // edges/wedges) were four synchronous job barriers per build.
      val triC = wedges.join(probe, Seq("v1", "v2"), "left_semi")
        .agg(count(lit(1)).as("n_triangles"))
      val nodeC = deg.agg(count(lit(1)).as("n_nodes"))
      val edgeC = edges.agg(count(lit(1)).as("n_edges"))
      val wedgeC = deg.agg(
        coalesce(sum((col("deg") * (col("deg") - 1)) / lit(2)).cast("long"),
          lit(0L)).as("n_wedges"))
      nodeC.crossJoin(broadcast(edgeC)).crossJoin(broadcast(wedgeC))
        .crossJoin(broadcast(triC))
        .select(col("n_nodes"), col("n_edges"), col("n_wedges"),
          col("n_triangles"),
          when(col("n_wedges") === 0L, lit(0.0))
            .otherwise(lit(3.0) * col("n_triangles").cast("double") /
              col("n_wedges").cast("double")).as("clustering"))
    },
    Some("""WITH items AS MATERIALIZED (
      |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
      |edges AS MATERIALIZED (
      |  SELECT a.pk AS u, b.pk AS v
      |  FROM items a JOIN items b ON a.ok = b.ok AND a.pk < b.pk
      |  GROUP BY 1, 2 HAVING COUNT(*) >= 2),
      |deg AS MATERIALIZED (
      |  SELECT pk, CAST(COUNT(*) AS BIGINT) AS deg FROM (
      |    SELECT u AS pk FROM edges UNION ALL SELECT v FROM edges)
      |  GROUP BY pk),
      |oriented AS MATERIALIZED (
      |  SELECT
      |    CASE WHEN du.deg < dv.deg OR (du.deg = dv.deg AND e.u < e.v)
      |      THEN e.u ELSE e.v END AS src,
      |    CASE WHEN du.deg < dv.deg OR (du.deg = dv.deg AND e.u < e.v)
      |      THEN e.v ELSE e.u END AS dst,
      |    CASE WHEN du.deg < dv.deg OR (du.deg = dv.deg AND e.u < e.v)
      |      THEN dv.deg ELSE du.deg END AS ddeg
      |  FROM edges e JOIN deg du ON e.u = du.pk JOIN deg dv ON e.v = dv.pk),
      |wedges AS MATERIALIZED (
      |  SELECT x.dst AS v1, y.dst AS v2
      |  FROM oriented x JOIN oriented y ON x.src = y.src
      |    AND (x.ddeg < y.ddeg OR (x.ddeg = y.ddeg AND x.dst < y.dst))),
      |tri AS MATERIALIZED (
      |  SELECT CAST(COUNT(*) AS BIGINT) AS n_triangles
      |  FROM wedges w WHERE EXISTS (
      |    SELECT 1 FROM oriented o WHERE o.src = w.v1 AND o.dst = w.v2))
      |SELECT
      |  (SELECT CAST(COUNT(*) AS BIGINT) FROM deg) AS n_nodes,
      |  (SELECT CAST(COUNT(*) AS BIGINT) FROM edges) AS n_edges,
      |  (SELECT CAST(SUM(deg * (deg - 1) // 2) AS BIGINT) FROM deg) AS n_wedges,
      |  tri.n_triangles,
      |  CASE WHEN (SELECT SUM(deg * (deg - 1) // 2) FROM deg) = 0 THEN 0.0
      |    ELSE 3.0 * CAST(tri.n_triangles AS DOUBLE) /
      |      CAST((SELECT SUM(deg * (deg - 1) // 2) FROM deg) AS DOUBLE) END AS clustering
      |FROM tri""".stripMargin)
  )

  // q115 — declarative data-quality expectation audit (the Great
  // Expectations / dbt-test readout run before a dataset ships):
  // domain, range, integrality, shape and uniqueness checks, one row
  // per check with exact fail counts. Each table is scanned ONCE — all
  // of its checks are conditional sums in a single partial-aggregable
  // aggregate, unpivoted from the 1-row fit (the q06 inline discipline)
  // — so the audit costs one pass per audited table at any scale; the
  // uniqueness check rides the same scan as a distinct count. The
  // oracle recomputes every check independently.
  private val q115 = Q(
    "q115_dq_audit",
    (s, d) => {
      def fails(c: Column): Column = sum(when(c, 1L).otherwise(0L))
      val o = Tables.orders(s, d).agg(
        count(lit(1)).as("n"),
        fails(col("o_totalprice") <= 0.0).as("f_price"),
        fails(!col("o_orderstatus").isin("F", "O", "P")).as("f_status"),
        (count(lit(1)) - countDistinct(col("o_orderkey"))).as("f_unique"))
      val c = Tables.customer(s, d).agg(
        count(lit(1)).as("n"),
        fails(col("c_acctbal") < 0.0 || col("c_acctbal") > 10000.0).as("f_bal"))
      val l = Tables.lineitem(s, d).agg(
        count(lit(1)).as("n"),
        fails(col("l_discount") < 0.0 || col("l_discount") > 0.05).as("f_disc"),
        fails(col("l_quantity") =!= Exact.qzl(col("l_quantity"), 1.0)).as("f_int"))
      val e = Tables.events(s, d).agg(
        count(lit(1)).as("n"),
        fails(col("props").isNull || !(col("props").startsWith("{") &&
          col("props").endsWith("}"))).as("f_props"),
        fails(col("value").isNull).as("f_value"))
      def checks(agg: DataFrame, table: String, cs: Seq[(String, String, String)]): DataFrame =
        agg.select(explode(array(cs.map { case (colName, check, failCol) =>
          struct(lit(table).as("table_name"), lit(colName).as("column_name"),
            lit(check).as("check_name"), col("n").as("n_rows"),
            col(failCol).as("n_fail"))
        }: _*)).as("r")).select(col("r.*"))
      checks(o, "orders", Seq(
          ("o_totalprice", "positive", "f_price"),
          ("o_orderstatus", "domain_F_O_P", "f_status"),
          ("o_orderkey", "unique", "f_unique")))
        .unionByName(checks(c, "customer", Seq(
          ("c_acctbal", "range_0_10000", "f_bal"))))
        .unionByName(checks(l, "lineitem", Seq(
          ("l_discount", "range_0_0.05", "f_disc"),
          ("l_quantity", "integral", "f_int"))))
        .unionByName(checks(e, "events", Seq(
          ("props", "json_shape", "f_props"),
          ("value", "not_null", "f_value"))))
        .select(col("table_name"), col("column_name"), col("check_name"),
          col("n_rows"), col("n_fail"),
          (col("n_fail").cast("double") / col("n_rows").cast("double")).as("fail_rate"),
          (col("n_fail") === 0L).as("passed"))
        .orderBy("table_name", "column_name", "check_name")
    },
    Some("""WITH o AS (
      |  SELECT CAST(COUNT(*) AS BIGINT) AS n,
      |    CAST(SUM(CASE WHEN o_totalprice <= 0.0 THEN 1 ELSE 0 END) AS BIGINT) AS f_price,
      |    CAST(SUM(CASE WHEN o_orderstatus NOT IN ('F','O','P') THEN 1 ELSE 0 END) AS BIGINT) AS f_status,
      |    CAST(COUNT(*) - COUNT(DISTINCT o_orderkey) AS BIGINT) AS f_unique
      |  FROM orders),
      |c AS (
      |  SELECT CAST(COUNT(*) AS BIGINT) AS n,
      |    CAST(SUM(CASE WHEN c_acctbal < 0.0 OR c_acctbal > 10000.0 THEN 1 ELSE 0 END) AS BIGINT) AS f_bal
      |  FROM customer),
      |l AS (
      |  SELECT CAST(COUNT(*) AS BIGINT) AS n,
      |    CAST(SUM(CASE WHEN l_discount < 0.0 OR l_discount > 0.05 THEN 1 ELSE 0 END) AS BIGINT) AS f_disc,
      |    CAST(SUM(CASE WHEN l_quantity <> ROUND(l_quantity) THEN 1 ELSE 0 END) AS BIGINT) AS f_int
      |  FROM lineitem),
      |e AS (
      |  SELECT CAST(COUNT(*) AS BIGINT) AS n,
      |    CAST(SUM(CASE WHEN props IS NULL OR NOT (props LIKE '{%' AND props LIKE '%}') THEN 1 ELSE 0 END) AS BIGINT) AS f_props,
      |    CAST(SUM(CASE WHEN value IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS f_value
      |  FROM events),
      |u AS (
      |  SELECT 'orders' AS table_name, 'o_totalprice' AS column_name, 'positive' AS check_name, n AS n_rows, f_price AS n_fail FROM o
      |  UNION ALL SELECT 'orders', 'o_orderstatus', 'domain_F_O_P', n, f_status FROM o
      |  UNION ALL SELECT 'orders', 'o_orderkey', 'unique', n, f_unique FROM o
      |  UNION ALL SELECT 'customer', 'c_acctbal', 'range_0_10000', n, f_bal FROM c
      |  UNION ALL SELECT 'lineitem', 'l_discount', 'range_0_0.05', n, f_disc FROM l
      |  UNION ALL SELECT 'lineitem', 'l_quantity', 'integral', n, f_int FROM l
      |  UNION ALL SELECT 'events', 'props', 'json_shape', n, f_props FROM e
      |  UNION ALL SELECT 'events', 'value', 'not_null', n, f_value FROM e)
      |SELECT table_name, column_name, check_name, n_rows, n_fail,
      |  CAST(n_fail AS DOUBLE) / CAST(n_rows AS DOUBLE) AS fail_rate,
      |  n_fail = 0 AS passed
      |FROM u ORDER BY table_name, column_name, check_name""".stripMargin)
  )

  // q116 — partial correlation (the confounder-adjusted readout the EDA
  // corr heatmap can't give: does quantity relate to price ONCE
  // discount is held fixed?): all three pairwise Pearson r's from ONE
  // scan of exact grid moment sums (the q10 two-level discipline — LONG
  // partials per partition, DECIMAL(38,0) merge), then
  // r_xy·z = (r_xy − r_xz·r_yz)/√((1−r_xz²)(1−r_yz²)) as one fixed IEEE
  // expression. The oracle recomputes each r from the same exact sums,
  // so every intermediate double is bit-identical.
  private val q116 = Q(
    "q116_partial_corr",
    (s, d) => {
      import org.apache.spark.sql.types.DecimalType
      val cols = Seq(("l_quantity", 1000.0), ("l_extendedprice", 1.0),
        ("l_discount", 100000.0))
      def qz(cg: (String, Double)): Column = graft.Exact.qzl(col(cg._1), cg._2)
      val names = cols.map(_._1)
      val pairs = for (i <- cols.indices; j <- cols.indices if i < j)
        yield (cols(i), cols(j))
      val l1aggs = cols.map(c => sum(qz(c)).as(s"p_s_${c._1}")) ++
        cols.map(c => sum(qz(c) * qz(c)).as(s"p_ss_${c._1}")) ++
        pairs.map { case (a, b) => sum(qz(a) * qz(b)).as(s"p_sp_${a._1}_${b._1}") } :+
        count(lit(1)).as("p_n")
      val l1 = Tables.lineitem(s, d)
        .groupBy(spark_partition_id().as("_pid"))
        .agg(l1aggs.head, l1aggs.tail: _*)
      def m(a: String) = sum(col(a).cast(DecimalType(38, 0))).cast("double")
      val l2aggs = cols.map(c => m(s"p_s_${c._1}").as(s"s_${c._1}")) ++
        cols.map(c => m(s"p_ss_${c._1}").as(s"ss_${c._1}")) ++
        pairs.map { case (a, b) => m(s"p_sp_${a._1}_${b._1}").as(s"sp_${a._1}_${b._1}") } :+
        sum(col("p_n")).cast("double").as("n")
      val a = l1.agg(l2aggs.head, l2aggs.tail: _*)
      def r(x: String, y: String): Column =
        (col("n") * col(s"sp_${x}_$y") - col(s"s_$x") * col(s"s_$y")) /
          (sqrt(col("n") * col(s"ss_$x") - col(s"s_$x") * col(s"s_$x")) *
            sqrt(col("n") * col(s"ss_$y") - col(s"s_$y") * col(s"s_$y")))
      val (x, y, z) = (names(0), names(1), names(2))
      a.select(col("n").cast("long").as("n"),
          r(x, y).as("r_xy"), r(x, z).as("r_xz"), r(y, z).as("r_yz"))
        .withColumn("partial_r",
          (col("r_xy") - col("r_xz") * col("r_yz")) /
            (sqrt(lit(1.0) - col("r_xz") * col("r_xz")) *
              sqrt(lit(1.0) - col("r_yz") * col("r_yz"))))
    },
    Some {
      val g = Map("l_quantity" -> "1000.0", "l_extendedprice" -> "1.0",
        "l_discount" -> "100000.0")
      def qz(c: String) = s"CAST(ROUND($c*${g(c)}) AS BIGINT)"
      def sd(c: String) = s"CAST(SUM(${qz(c)}) AS DOUBLE)"
      def sp(a: String, b: String) = s"CAST(SUM(${qz(a)} * ${qz(b)}) AS DOUBLE)"
      def r(x: String, y: String) =
        s"""(CAST(COUNT(*) AS DOUBLE) * ${sp(x, y)} - ${sd(x)} * ${sd(y)}) /
           |  (SQRT(CAST(COUNT(*) AS DOUBLE) * ${sp(x, x)} - ${sd(x)} * ${sd(x)}) *
           |   SQRT(CAST(COUNT(*) AS DOUBLE) * ${sp(y, y)} - ${sd(y)} * ${sd(y)}))""".stripMargin
      s"""WITH m AS (
         |  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         |    ${r("l_quantity", "l_extendedprice")} AS r_xy,
         |    ${r("l_quantity", "l_discount")} AS r_xz,
         |    ${r("l_extendedprice", "l_discount")} AS r_yz
         |  FROM lineitem)
         |SELECT n, r_xy, r_xz, r_yz,
         |  (r_xy - r_xz * r_yz) /
         |    (SQRT(1.0 - r_xz * r_xz) * SQRT(1.0 - r_yz * r_yz)) AS partial_r
         |FROM m""".stripMargin
    }
  )

  // q117 — burstiness / overdispersion per event type (the Fano factor:
  // is arrival Poisson-like, clumpy, or metronomic? — decides whether
  // q103's seasonal-naive error bars or st_anomaly's z thresholds are
  // even calibrated): per-type ZERO-FILLED hourly counts (a type's
  // silent hours are signal — the per-type spine is the global hour
  // spine crossed with the type list, built from a 1-row span fit, so
  // every type sees every hour), then n/mean/variance from exact
  // integer power sums in one partial-aggregable pass over the
  // |types|×|hours| surface; Fano = s²/x̄ and Goh–Barabási burstiness
  // (σ−μ)/(σ+μ) as fixed IEEE expressions.
  private val q117 = Q(
    "q117_burstiness",
    (s, d) => {
      import org.apache.spark.sql.types.DecimalType
      val counts = Tables.events(s, d)
        .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("h"))
        .agg(count(lit(1)).as("y"))
        .graftCheckpoint()
      val spine = counts.agg(min(col("h")).as("lo"), max(col("h")).as("hi"))
        .select(explode(sequence(col("lo"), col("hi"),
          expr("INTERVAL 1 HOUR"))).as("h"))
        .crossJoin(counts.select(col("event_type")).distinct())
      val series = spine.join(counts, Seq("event_type", "h"), "left")
        .select(col("event_type"), coalesce(col("y"), lit(0L)).as("y"))
      val z = col("y").cast(DecimalType(38, 0))
      series.groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          Exact.dec2d(sum(z)).as("s1"),
          Exact.dec2d(sum(z * z)).as("s2"))
        .select(col("event_type"), col("n"),
          (col("s1") / col("n").cast("double")).as("mean_per_hour"),
          ((col("s2") - col("s1") * col("s1") / col("n").cast("double")) /
            (col("n").cast("double") - lit(1.0))).as("var_per_hour"))
        .withColumn("fano", col("var_per_hour") / col("mean_per_hour"))
        .withColumn("burstiness",
          (sqrt(col("var_per_hour")) - col("mean_per_hour")) /
            (sqrt(col("var_per_hour")) + col("mean_per_hour")))
        .orderBy("event_type")
    },
    Some(s"""WITH counts AS (
      |  SELECT event_type, date_trunc('hour', ts) AS h, CAST(COUNT(*) AS BIGINT) AS y
      |  FROM events GROUP BY 1, 2),
      |spine AS (
      |  SELECT t.event_type, h.h
      |  FROM (SELECT DISTINCT event_type FROM counts) t,
      |       (SELECT unnest(generate_series((SELECT MIN(h) FROM counts),
      |          (SELECT MAX(h) FROM counts), INTERVAL 1 HOUR)) AS h) h),
      |series AS (
      |  SELECT spine.event_type, COALESCE(counts.y, 0) AS y
      |  FROM spine LEFT JOIN counts
      |    ON spine.event_type = counts.event_type AND spine.h = counts.h),
      |g AS (
      |  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
      |    ${graft.Exact.sqlDec2d("SUM(CAST(y AS HUGEINT))")} AS s1,
      |    ${graft.Exact.sqlDec2d("SUM(CAST(y AS HUGEINT) * CAST(y AS HUGEINT))")} AS s2
      |  FROM series GROUP BY 1),
      |st AS (
      |  SELECT event_type, n, s1 / CAST(n AS DOUBLE) AS mean_per_hour,
      |    (s2 - s1 * s1 / CAST(n AS DOUBLE)) / (CAST(n AS DOUBLE) - 1.0) AS var_per_hour
      |  FROM g)
      |SELECT event_type, n, mean_per_hour, var_per_hour,
      |  var_per_hour / mean_per_hour AS fano,
      |  (SQRT(var_per_hour) - mean_per_hour) / (SQRT(var_per_hour) + mean_per_hour) AS burstiness
      |FROM st ORDER BY event_type""".stripMargin)
  )

  // q118 — peak detection on the hourly series (the "when did traffic
  // spike" report — q108 flags residual ANOMALIES, this finds local
  // MAXIMA): a peak is strictly greater than both neighbors at
  // distances 1 and 2 AND above the global hourly mean (the 1-row fit
  // broadcast as a literal-free cross join). All comparisons are on
  // exact integers except the mean threshold, which both engines
  // compute as the same IEEE division. Lag/lead run over the |hours|
  // surface only.
  private val q118 = Q(
    "q118_peaks",
    (s, d) => {
      val series = hourlySeries(s, d).graftCheckpoint()
      val w = Window.orderBy(col("h"))
      val mean = series.agg(
        (sum(col("y")).cast("double") / count(lit(1)).cast("double")).as("mu"))
      series
        .withColumn("y_m1", lag(col("y"), 1).over(w))
        .withColumn("y_m2", lag(col("y"), 2).over(w))
        .withColumn("y_p1", lead(col("y"), 1).over(w))
        .withColumn("y_p2", lead(col("y"), 2).over(w))
        .crossJoin(broadcast(mean))
        .filter(col("y_m1").isNotNull && col("y_m2").isNotNull &&
          col("y_p1").isNotNull && col("y_p2").isNotNull &&
          col("y") > col("y_m1") && col("y") > col("y_m2") &&
          col("y") > col("y_p1") && col("y") > col("y_p2") &&
          col("y").cast("double") > col("mu"))
        .select(col("h"), col("y"),
          (col("y").cast("double") / col("mu")).as("rel_height"))
    },
    Some(s"""WITH $hourlySql,
      |m AS (SELECT CAST(SUM(CAST(y AS HUGEINT)) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS mu FROM series),
      |n AS (
      |  SELECT h, y,
      |    LAG(y, 1) OVER (ORDER BY h) AS y_m1, LAG(y, 2) OVER (ORDER BY h) AS y_m2,
      |    LEAD(y, 1) OVER (ORDER BY h) AS y_p1, LEAD(y, 2) OVER (ORDER BY h) AS y_p2
      |  FROM series)
      |SELECT h, y, CAST(y AS DOUBLE) / m.mu AS rel_height
      |FROM n, m
      |WHERE y_m1 IS NOT NULL AND y_m2 IS NOT NULL
      |  AND y_p1 IS NOT NULL AND y_p2 IS NOT NULL
      |  AND y > y_m1 AND y > y_m2 AND y > y_p1 AND y > y_p2
      |  AND CAST(y AS DOUBLE) > m.mu
      |""".stripMargin)
  )

  // q119 — Mann–Kendall trend test on the hourly series (the
  // NONPARAMETRIC companion of q82's OLS slope and q73's Theil–Sen
  // estimate: is there a monotone trend at all, without assuming
  // linearity or normality?): S = Σ sign(y_j − y_i) over all hour pairs
  // — quadratic in |hours|, NEVER in events (8760 hours of a year is
  // 38M pairs, a surface-sized self-join; the fact table reduced once)
  // — tie-corrected variance from the value-ties table, z via the
  // standard continuity correction. Everything integer until the final
  // division; the trend CASE compares identical IEEE doubles.
  private val q119 = Q(
    "q119_mann_kendall",
    (s, d) => {
      val series = hourlySeries(s, d).graftCheckpoint().select(col("hm"), col("y"))
      val a = series.select(col("hm").as("h1"), col("y").as("y1"))
      val b = series.select(col("hm").as("h2"), col("y").as("y2"))
      val sAgg = a.join(b, col("h1") < col("h2"))
        .agg(sum(signum((col("y2") - col("y1")).cast("double")).cast("long")).as("s_stat"))
      val nRow = series.agg(count(lit(1)).as("n"))
      val ties = series.groupBy(col("y")).agg(count(lit(1)).as("t"))
        .agg(coalesce(sum(col("t") * (col("t") - 1) * (lit(2) * col("t") + 5)), lit(0L))
          .as("tie_term"))
      val nD = col("n").cast("double")
      val varS = (nD * (nD - lit(1.0)) * (lit(2.0) * nD + lit(5.0)) -
        col("tie_term").cast("double")) / lit(18.0)
      val sD = col("s_stat").cast("double")
      sAgg.crossJoin(broadcast(nRow)).crossJoin(broadcast(ties))
        .withColumn("var_s", varS)
        .select(col("n"), col("s_stat"), col("var_s"),
          when(col("s_stat") > 0L, (sD - lit(1.0)) / sqrt(col("var_s")))
            .when(col("s_stat") < 0L, (sD + lit(1.0)) / sqrt(col("var_s")))
            .otherwise(lit(0.0)).as("z"))
        .withColumn("trend",
          when(col("z") > lit(1.96), lit("increasing"))
            .when(col("z") < lit(-1.96), lit("decreasing"))
            .otherwise(lit("none")))
    },
    Some(s"""WITH $hourlySql,
      |idx AS (SELECT epoch_ms(h) AS hm, y FROM series),
      |sp AS (
      |  SELECT CAST(SUM(CAST(SIGN(CAST(b.y AS DOUBLE) - CAST(a.y AS DOUBLE)) AS BIGINT)) AS BIGINT) AS s_stat
      |  FROM idx a JOIN idx b ON a.hm < b.hm),
      |nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM series),
      |tt AS (
      |  SELECT CAST(COALESCE(SUM(t * (t - 1) * (2 * t + 5)), 0) AS BIGINT) AS tie_term
      |  FROM (SELECT CAST(COUNT(*) AS BIGINT) AS t FROM series GROUP BY y)),
      |v AS (
      |  SELECT nn.n, sp.s_stat, tt.tie_term,
      |    (CAST(nn.n AS DOUBLE) * (CAST(nn.n AS DOUBLE) - 1.0) * (2.0 * CAST(nn.n AS DOUBLE) + 5.0)
      |      - CAST(tt.tie_term AS DOUBLE)) / 18.0 AS var_s
      |  FROM sp, nn, tt)
      |SELECT n, s_stat, var_s,
      |  CASE WHEN s_stat > 0 THEN (CAST(s_stat AS DOUBLE) - 1.0) / SQRT(var_s)
      |       WHEN s_stat < 0 THEN (CAST(s_stat AS DOUBLE) + 1.0) / SQRT(var_s)
      |       ELSE 0.0 END AS z,
      |  CASE WHEN (CASE WHEN s_stat > 0 THEN (CAST(s_stat AS DOUBLE) - 1.0) / SQRT(var_s)
      |                  WHEN s_stat < 0 THEN (CAST(s_stat AS DOUBLE) + 1.0) / SQRT(var_s)
      |                  ELSE 0.0 END) > 1.96 THEN 'increasing'
      |       WHEN (CASE WHEN s_stat > 0 THEN (CAST(s_stat AS DOUBLE) - 1.0) / SQRT(var_s)
      |                  WHEN s_stat < 0 THEN (CAST(s_stat AS DOUBLE) + 1.0) / SQRT(var_s)
      |                  ELSE 0.0 END) < -1.96 THEN 'decreasing'
      |       ELSE 'none' END AS trend
      |FROM v""".stripMargin)
  )

  // q120 — daily-activity streaks per user (the "7-day streak" growth
  // metric beside q109's cohort triangle): events reduce ONCE to the
  // distinct (user, day) surface, the classic day-index-minus-row_number
  // island key turns consecutive days into one group, and the only
  // windows key on the HIGH-cardinality user_id — parallelism scales
  // with users, islands partial-aggregate before the per-user max.
  private val q120 = Q(
    "q120_streaks",
    (s, d) => {
      val days = Tables.events(s, d)
        .select(col("user_id"), date_trunc("day", col("ts")).cast("date").as("day"))
        .distinct()
      val w = Window.partitionBy(col("user_id")).orderBy(col("day"))
      val islands = days
        .withColumn("di", datediff(col("day"), lit("1970-01-01").cast("date")).cast("long"))
        .withColumn("island", col("di") - row_number().over(w))
        .groupBy(col("user_id"), col("island"))
        .agg(count(lit(1)).as("len"))
      islands.groupBy(col("user_id"))
        .agg(sum(col("len")).as("n_active_days"),
          count(lit(1)).as("n_streaks"),
          max(col("len")).as("longest_streak"))
    },
    Some("""WITH days AS (
      |  SELECT DISTINCT user_id, CAST(date_trunc('day', ts) AS DATE) AS day
      |  FROM events),
      |isl AS (
      |  SELECT user_id,
      |    CAST(day - DATE '1970-01-01' AS BIGINT)
      |      - ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY day) AS island
      |  FROM days),
      |runs AS (
      |  SELECT user_id, island, CAST(COUNT(*) AS BIGINT) AS len
      |  FROM isl GROUP BY 1, 2)
      |SELECT user_id, CAST(SUM(len) AS BIGINT) AS n_active_days,
      |  CAST(COUNT(*) AS BIGINT) AS n_streaks,
      |  CAST(MAX(len) AS BIGINT) AS longest_streak
      |FROM runs GROUP BY user_id""".stripMargin)
  )

  // q121 — top-20 revenue rank churn between the first and second half
  // of the shipping span (the "movers and shakers" BI report: who
  // entered the top list, who left, who moved): the fact table reduces
  // ONCE to the (half, part) cents surface, ranking windows run over
  // that bounded |parts|-sized surface only (the q99 precedent — never
  // a fact-table sort), and the half boundary is the integer midpoint
  // of the span's epoch days so both engines split identically. Absent
  // ranks stay NULL (a part outside one half's list), the status label
  // is a CASE over exact integers.
  private val q121 = Q(
    "q121_rank_churn",
    (s, d) => {
      val li = Tables.lineitem(s, d)
        .select(col("l_partkey").as("pk"),
          datediff(col("l_shipdate"), lit("1970-01-01").cast("date")).cast("long").as("days"),
          Exact.qzl(col("l_extendedprice"), 100.0).as("cents"))
      val span = li.agg(min(col("days")).as("lo"), max(col("days")).as("hi")).head()
      val mid = (span.getLong(0) + span.getLong(1)) / 2
      val rev = li
        .withColumn("half", when(col("days") <= mid, "prev").otherwise("cur"))
        .groupBy(col("half"), col("pk"))
        .agg(sum(col("cents")).cast(org.apache.spark.sql.types.DecimalType(38, 0))
          .cast("long").as("cents"))
      // rank window over the |parts|-per-half surface (bounded); the
      // 2-value partition key is fine BECAUSE the input is the reduced
      // surface, never fact rows
      val w = Window.partitionBy(col("half")).orderBy(col("cents").desc, col("pk"))
      val ranked = rev.withColumn("rnk", row_number().over(w).cast("long"))
      val prev = ranked.filter(col("half") === "prev")
        .select(col("pk"), col("rnk").as("rank_prev"), col("cents").as("cents_prev"))
      val cur = ranked.filter(col("half") === "cur")
        .select(col("pk"), col("rnk").as("rank_cur"), col("cents").as("cents_cur"))
      prev.join(cur, Seq("pk"), "full_outer")
        .filter(col("rank_prev") <= 20 || col("rank_cur") <= 20)
        .select(col("pk"), col("rank_prev"), col("rank_cur"),
          col("cents_prev"), col("cents_cur"),
          when(col("rank_prev").isNull || col("rank_prev") > 20, lit("entered"))
            .when(col("rank_cur").isNull || col("rank_cur") > 20, lit("left"))
            .when(col("rank_cur") < col("rank_prev"), lit("up"))
            .when(col("rank_cur") > col("rank_prev"), lit("down"))
            .otherwise(lit("flat")).as("status"))
    },
    // li NOT MATERIALIZED: fact-width multi-use CTE — DuckDB's default
    // would buffer every projected fact row to temp (the q132 sf100
    // spill class); inlined it is streaming scan+agg per use.
    Some("""WITH li AS NOT MATERIALIZED (
      |  SELECT l_partkey AS pk,
      |    CAST(CAST(l_shipdate AS DATE) - DATE '1970-01-01' AS BIGINT) AS days,
      |    CAST(ROUND(l_extendedprice * 100.0) AS BIGINT) AS cents
      |  FROM lineitem),
      |mid AS (SELECT (MIN(days) + MAX(days)) // 2 AS m FROM li),
      |rev AS (
      |  SELECT CASE WHEN days <= mid.m THEN 'prev' ELSE 'cur' END AS half, pk,
      |    CAST(SUM(cents) AS BIGINT) AS cents
      |  FROM li, mid GROUP BY 1, 2),
      |ranked AS (
      |  SELECT half, pk, cents,
      |    CAST(ROW_NUMBER() OVER (PARTITION BY half ORDER BY cents DESC, pk) AS BIGINT) AS rnk
      |  FROM rev),
      |p AS (SELECT pk, rnk AS rank_prev, cents AS cents_prev FROM ranked WHERE half = 'prev'),
      |c AS (SELECT pk, rnk AS rank_cur, cents AS cents_cur FROM ranked WHERE half = 'cur'),
      |j AS (
      |  SELECT COALESCE(p.pk, c.pk) AS pk, rank_prev, rank_cur, cents_prev, cents_cur
      |  FROM p FULL OUTER JOIN c ON p.pk = c.pk)
      |SELECT pk, rank_prev, rank_cur, cents_prev, cents_cur,
      |  CASE WHEN rank_prev IS NULL OR rank_prev > 20 THEN 'entered'
      |       WHEN rank_cur IS NULL OR rank_cur > 20 THEN 'left'
      |       WHEN rank_cur < rank_prev THEN 'up'
      |       WHEN rank_cur > rank_prev THEN 'down'
      |       ELSE 'flat' END AS status
      |FROM j WHERE rank_prev <= 20 OR rank_cur <= 20
      |""".stripMargin)
  )

  // q122 — Bowley (quartile) skewness + quartile coefficient of
  // dispersion per order priority (the ROBUST shape readout where
  // q57's moment skewness is outlier-hostage — pure quartile
  // arithmetic, no powers of extreme values): quartiles come from the
  // SAME grouped bucket-histogram selection as q33/q111 (one scan, no
  // per-group sort), the two shape ratios are fixed IEEE expressions
  // over the interpolated fences, identical in both engines.
  private val q122 = Q(
    "q122_bowley",
    (s, d) => {
      import s.implicits._
      val src = Tables.orders(s, d)
        .select(col("o_orderpriority").as("g"), col("o_totalprice").as("x"))
      val qv = Quantiles.groupedExactQuantiles(src, "g", "x", Seq(0.25, 0.5, 0.75))
        .groupBy(_._1).toSeq
        .map { case (g, rows) =>
          val m = rows.map(r => r._2 -> r._3).toMap
          val (q1, q2, q3) = (m(0.25), m(0.5), m(0.75))
          (g, q1, q2, q3,
            (q1 + q3 - 2.0 * q2) / (q3 - q1),
            (q3 - q1) / (q3 + q1))
        }
      qv.sortBy(_._1)
        .toDF("o_orderpriority", "q1", "median", "q3", "bowley_skew", "quartile_disp")
    },
    Some(s"""WITH src AS (
      |  SELECT o_orderpriority AS g, CAST(o_totalprice AS DOUBLE) AS x FROM orders),
      |q AS (
      |  SELECT g, q AS p, value AS v
      |  FROM (${Quantiles.sql("src", "x", Seq(0.25, 0.5, 0.75), Some("g"))}) b),
      |w AS (
      |  SELECT g,
      |    MAX(CASE WHEN p = ${Quantiles.sqlDouble(0.25)} THEN v END) AS q1,
      |    MAX(CASE WHEN p = ${Quantiles.sqlDouble(0.5)} THEN v END) AS median,
      |    MAX(CASE WHEN p = ${Quantiles.sqlDouble(0.75)} THEN v END) AS q3
      |  FROM q GROUP BY g)
      |SELECT g AS o_orderpriority, q1, median, q3,
      |  (q1 + q3 - 2.0 * median) / (q3 - q1) AS bowley_skew,
      |  (q3 - q1) / (q3 + q1) AS quartile_disp
      |FROM w ORDER BY o_orderpriority""".stripMargin)
  )

  // q123 — Cohen's d effect-size matrix between all segment pairs (the
  // "how big is the difference" companion to q64's Welch t and q90's
  // ANOVA — significance without magnitude misleads at 100 TB, where
  // everything is significant): per-segment exact grid moments in ONE
  // scan to the 5-row surface, the 10 pair rows a self-join ON THAT
  // SURFACE, d and the pooled sd fixed IEEE expressions. d is
  // scale-invariant so the whole computation stays in grid units; only
  // the reported mean difference divides the grid out.
  private val q123 = Q(
    "q123_cohens_d",
    (s, d) => {
      import org.apache.spark.sql.types.DecimalType
      val z = Exact.qzl(col("c_acctbal"), 1000.0).cast(DecimalType(38, 0))
      val m = Tables.customer(s, d)
        .groupBy(col("c_mktsegment").as("seg"))
        .agg(count(lit(1)).as("n"),
          Exact.dec2d(sum(z)).as("s1"),
          Exact.dec2d(sum(z * z)).as("s2"))
        .graftCheckpoint()
      val a = m.select(col("seg").as("seg_a"), col("n").as("n_a"),
        col("s1").as("s1_a"), col("s2").as("s2_a"))
      val b = m.select(col("seg").as("seg_b"), col("n").as("n_b"),
        col("s1").as("s1_b"), col("s2").as("s2_b"))
      def nD(c: Column) = c.cast("double")
      val mA = col("s1_a") / nD(col("n_a")); val mB = col("s1_b") / nD(col("n_b"))
      val ssA = col("s2_a") - col("s1_a") * col("s1_a") / nD(col("n_a"))
      val ssB = col("s2_b") - col("s1_b") * col("s1_b") / nD(col("n_b"))
      val pooled = sqrt((ssA + ssB) / (nD(col("n_a")) + nD(col("n_b")) - lit(2.0)))
      a.join(b, col("seg_a") < col("seg_b"))
        .select(col("seg_a"), col("seg_b"), col("n_a"), col("n_b"),
          ((mA - mB) / lit(1000.0)).as("mean_diff"),
          ((mA - mB) / pooled).as("cohens_d"))
        .orderBy("seg_a", "seg_b")
    },
    Some(s"""WITH m AS (
      |  SELECT c_mktsegment AS seg, CAST(COUNT(*) AS BIGINT) AS n,
      |    ${graft.Exact.sqlDec2d("SUM(CAST(ROUND(c_acctbal*1000.0) AS BIGINT))")} AS s1,
      |    ${graft.Exact.sqlDec2d("SUM(CAST(ROUND(c_acctbal*1000.0) AS BIGINT) * CAST(ROUND(c_acctbal*1000.0) AS BIGINT))")} AS s2
      |  FROM customer GROUP BY 1)
      |SELECT a.seg AS seg_a, b.seg AS seg_b, a.n AS n_a, b.n AS n_b,
      |  (a.s1 / CAST(a.n AS DOUBLE) - b.s1 / CAST(b.n AS DOUBLE)) / 1000.0 AS mean_diff,
      |  (a.s1 / CAST(a.n AS DOUBLE) - b.s1 / CAST(b.n AS DOUBLE))
      |    / SQRT(((a.s2 - a.s1 * a.s1 / CAST(a.n AS DOUBLE))
      |           + (b.s2 - b.s1 * b.s1 / CAST(b.n AS DOUBLE)))
      |           / (CAST(a.n AS DOUBLE) + CAST(b.n AS DOUBLE) - 2.0)) AS cohens_d
      |FROM m a JOIN m b ON a.seg < b.seg
      |ORDER BY seg_a, seg_b""".stripMargin)
  )

  // q124 — trailing-24h rolling correlation between two metrics (do
  // clicks and purchases move together, and WHEN do they decouple? —
  // the dashboard companion of q68's fixed-lag ACF): both series come
  // from one scan to the shared zero-filled hourly surface, the five
  // window sums are exact BIGINTs over ROWS 23 PRECEDING on that
  // surface only, r is one fixed IEEE expression, zero-variance
  // windows are NULL, and only full windows emit.
  private val q124 = Q(
    "q124_rolling_corr",
    (s, d) => {
      val counts = Tables.events(s, d)
        .filter(col("event_type").isin("click", "purchase"))
        .groupBy(date_trunc("hour", col("ts")).as("h"))
        .agg(sum(when(col("event_type") === "click", 1L).otherwise(0L)).as("x"),
          sum(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("y"))
        .graftCheckpoint()
      val series = counts.agg(min(col("h")).as("lo"), max(col("h")).as("hi"))
        .select(explode(sequence(col("lo"), col("hi"),
          expr("INTERVAL 1 HOUR"))).as("h"))
        .join(counts, Seq("h"), "left")
        .select(col("h"), coalesce(col("x"), lit(0L)).as("x"),
          coalesce(col("y"), lit(0L)).as("y"))
      val w = Window.orderBy(col("h")).rowsBetween(-23, Window.currentRow)
      val n = lit(24.0)
      def sD(c: Column) = sum(c).over(w).cast("double")
      val (sx, sy) = (sD(col("x")), sD(col("y")))
      val (sxx, syy, sxy) =
        (sD(col("x") * col("x")), sD(col("y") * col("y")), sD(col("x") * col("y")))
      val vx = n * sxx - sx * sx
      val vy = n * syy - sy * sy
      series
        .withColumn("rn", count(lit(1)).over(w))
        .withColumn("r24",
          when(vx > 0.0 && vy > 0.0, (n * sxy - sx * sy) / (sqrt(vx) * sqrt(vy))))
        .filter(col("rn") === 24)
        .select(col("h"), col("x"), col("y"), col("r24"))
    },
    Some("""WITH counts AS (
      |  SELECT date_trunc('hour', ts) AS h,
      |    CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS x,
      |    CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS y
      |  FROM events WHERE event_type IN ('click', 'purchase') GROUP BY 1),
      |spine AS (
      |  SELECT unnest(generate_series((SELECT MIN(h) FROM counts),
      |    (SELECT MAX(h) FROM counts), INTERVAL 1 HOUR)) AS h),
      |series AS (
      |  SELECT spine.h AS h, COALESCE(counts.x, 0) AS x, COALESCE(counts.y, 0) AS y
      |  FROM spine LEFT JOIN counts ON spine.h = counts.h),
      |win AS (
      |  SELECT h, x, y,
      |    COUNT(*) OVER w AS rn,
      |    CAST(SUM(x) OVER w AS DOUBLE) AS sx, CAST(SUM(y) OVER w AS DOUBLE) AS sy,
      |    CAST(SUM(x * x) OVER w AS DOUBLE) AS sxx,
      |    CAST(SUM(y * y) OVER w AS DOUBLE) AS syy,
      |    CAST(SUM(x * y) OVER w AS DOUBLE) AS sxy
      |  FROM series
      |  WINDOW w AS (ORDER BY h ROWS BETWEEN 23 PRECEDING AND CURRENT ROW))
      |SELECT h, x, y,
      |  CASE WHEN (24.0 * sxx - sx * sx) > 0.0 AND (24.0 * syy - sy * sy) > 0.0
      |    THEN (24.0 * sxy - sx * sy)
      |      / (SQRT(24.0 * sxx - sx * sx) * SQRT(24.0 * syy - sy * sy))
      |  END AS r24
      |FROM win WHERE rn = 24""".stripMargin)
  )

  // q125 — recency-decayed customer value (the marketing "decayed LTV"
  // that discounts old revenue; q93's RFM is its coarse cousin): the
  // decay is a MONTHLY HALVING — weight 2^(−min(⌊age/30d⌋, 20)) — so
  // every weighted cent is the exact integer cents · 2^(20−k) on a
  // shared 2^20 grid (a continuous e^−λt would put libm pow in the
  // hash — the dyadic step decay keeps both engines on integers until
  // one final division). k is capped at 20, so the weight floors at
  // 2^−20 rather than decaying to zero.
  // One scan, one partial-aggregable customer aggregate.
  private val q125 = Q(
    "q125_decayed_value",
    (s, d) => {
      import org.apache.spark.sql.types.DecimalType
      val li = Tables.orders(s, d)
        .select(col("o_custkey"),
          datediff(col("o_orderdate"), lit("1970-01-01").cast("date")).cast("long").as("day"),
          Exact.qzl(col("o_totalprice"), 100.0).as("cents"))
        .graftCheckpoint()
      val refDay = li.agg(max(col("day"))).head().getLong(0)
      li.withColumn("k",
          least((lit(refDay) - col("day")) / lit(30L), lit(20L)).cast("int"))
        .withColumn("contrib", col("cents").cast(DecimalType(38, 0)) *
          expr("shiftleft(1L, 20 - k)").cast(DecimalType(38, 0)))
        .groupBy(col("o_custkey"))
        .agg(count(lit(1)).as("n_orders"),
          sum(col("cents")).as("total_cents"),
          (sum(col("contrib")).cast("double") / lit(1048576.0) / lit(100.0))
            .as("decayed_value"))
    },
    // li NOT MATERIALIZED: fact-width multi-use CTE — DuckDB's default
    // would buffer every projected fact row to temp (the q132 sf100
    // spill class); inlined it is streaming scan+agg per use.
    Some("""WITH li AS NOT MATERIALIZED (
      |  SELECT o_custkey,
      |    CAST(CAST(o_orderdate AS DATE) - DATE '1970-01-01' AS BIGINT) AS day,
      |    CAST(ROUND(o_totalprice * 100.0) AS BIGINT) AS cents
      |  FROM orders),
      |r AS (SELECT MAX(day) AS ref FROM li),
      |w AS (
      |  SELECT o_custkey, cents,
      |    CAST(cents AS HUGEINT)
      |      * (CAST(1 AS BIGINT) << (20 - CAST(LEAST((r.ref - day) // 30, 20) AS INT)))
      |      AS contrib
      |  FROM li, r)
      |SELECT o_custkey, CAST(COUNT(*) AS BIGINT) AS n_orders,
      |  CAST(SUM(cents) AS BIGINT) AS total_cents,
      |  CAST(SUM(contrib) AS DOUBLE) / 1048576.0 / 100.0 AS decayed_value
      |FROM w GROUP BY o_custkey""".stripMargin)
  )

  // q126 — linear multi-touch attribution (every click in the 24h
  // before a purchase shares the credit equally — the marketing
  // question q44's funnel doesn't answer: WHICH touches earned the
  // conversion): the pair surface comes from the st_interval_join
  // shape — an equi join on the HIGH-cardinality user_id with the time
  // bound as a pushed residual, never a range-only join — and the
  // touch count rides a window on the purchase id (high-cardinality).
  // Credit 1/n is computed PER ROW (no cross-row float accumulation,
  // so the dump is order-independent); epoch-micro comparisons make
  // both engines agree on the window edge exactly.
  private val q126 = Q(
    "q126_attribution",
    (s, d) => {
      val ev = Tables.events(s, d)
      val p = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id").as("purchase_id"),
          unix_micros(col("ts")).as("p_us"))
      val c = ev.filter(col("event_type") === "click")
        .select(col("user_id").as("c_uid"), col("event_id").as("click_id"),
          unix_micros(col("ts")).as("c_us"))
      val pairs = p.join(c, col("user_id") === col("c_uid") &&
        col("c_us") < col("p_us") &&
        col("c_us") >= col("p_us") - lit(86400000000L))
      val w = Window.partitionBy(col("purchase_id"))
      pairs
        .withColumn("n_touches", count(lit(1)).over(w))
        .select(col("purchase_id"), col("click_id"), col("user_id"),
          col("n_touches"),
          (lit(1.0) / col("n_touches").cast("double")).as("credit"))
    },
    Some("""WITH p AS (
      |  SELECT user_id, event_id AS purchase_id, epoch_us(ts) AS p_us
      |  FROM events WHERE event_type = 'purchase'),
      |c AS (
      |  SELECT user_id AS c_uid, event_id AS click_id, epoch_us(ts) AS c_us
      |  FROM events WHERE event_type = 'click'),
      |pairs AS (
      |  SELECT purchase_id, click_id, user_id
      |  FROM p JOIN c ON user_id = c_uid
      |    AND c_us < p_us AND c_us >= p_us - 86400000000)
      |SELECT purchase_id, click_id, user_id,
      |  CAST(COUNT(*) OVER (PARTITION BY purchase_id) AS BIGINT) AS n_touches,
      |  1.0 / CAST(COUNT(*) OVER (PARTITION BY purchase_id) AS DOUBLE) AS credit
      |FROM pairs""".stripMargin)
  )

  // q127 — maximum drawdown of the run-rate-adjusted revenue curve
  // (the finance risk readout: worst peak-to-trough losing streak
  // RELATIVE TO the period's own run rate — raw cumulative revenue
  // never falls, so the meaningful curve is cumulative revenue minus
  // t·mean; q87's CUSUM flags WHERE the mean shifted, drawdown
  // measures the DAMAGE of the worst streak): multiplying through by
  // n keeps the deviation n·cum − t·S an exact integer (the q87
  // trick), so the cumulative window, the running max and the
  // drawdown subtraction all run on exact cents over the |days|
  // surface; only the reported dollar depth divides once.
  private val q127 = Q(
    "q127_drawdown",
    (s, d) => {
      val daily = Tables.orders(s, d)
        .groupBy(date_trunc("day", col("o_orderdate")).as("day"))
        .agg(sum(Exact.qzl(col("o_totalprice"), 100.0)).as("cents"))
        .graftCheckpoint()
      val series = daily.agg(min(col("day")).as("lo"), max(col("day")).as("hi"))
        .select(explode(sequence(col("lo"), col("hi"),
          expr("INTERVAL 1 DAY"))).as("day"))
        .join(daily, Seq("day"), "left")
        .select(col("day"), coalesce(col("cents"), lit(0L)).as("cents"))
        .graftCheckpoint()
      val tot = series.agg(count(lit(1)).as("n"), sum(col("cents")).as("s")).head()
      val (n, sTot) = (tot.getLong(0), tot.getLong(1))
      import org.apache.spark.sql.types.DecimalType
      val w = Window.orderBy(col("day"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      series
        .withColumn("t", count(lit(1)).over(w))
        .withColumn("cum", sum(col("cents").cast(DecimalType(38, 0))).over(w))
        .withColumn("dev", col("cum") * lit(n) - col("t").cast(DecimalType(38, 0)) * lit(sTot))
        .withColumn("peak", max(col("dev")).over(w))
        .withColumn("drawdown", col("peak") - col("dev"))
        .select(col("day"), col("cents"),
          col("dev").cast("double").as("dev_scaled"),
          col("drawdown").cast("double").as("dd_scaled"),
          (col("drawdown").cast("double") / (lit(n.toDouble) * lit(100.0)))
            .as("drawdown_dollars"))
    },
    Some("""WITH daily AS (
      |  SELECT date_trunc('day', o_orderdate) AS day,
      |    CAST(SUM(CAST(ROUND(o_totalprice * 100.0) AS BIGINT)) AS BIGINT) AS cents
      |  FROM orders GROUP BY 1),
      |spine AS (
      |  SELECT unnest(generate_series((SELECT MIN(day) FROM daily),
      |    (SELECT MAX(day) FROM daily), INTERVAL 1 DAY)) AS day),
      |series AS (
      |  SELECT spine.day AS day, COALESCE(daily.cents, 0) AS cents
      |  FROM spine LEFT JOIN daily ON spine.day = daily.day),
      |tot AS (SELECT CAST(COUNT(*) AS HUGEINT) AS n, CAST(SUM(cents) AS HUGEINT) AS s FROM series),
      |c1 AS (
      |  SELECT day, cents,
      |    CAST(COUNT(*) OVER wnd AS HUGEINT) AS t,
      |    CAST(SUM(CAST(cents AS HUGEINT)) OVER wnd AS HUGEINT) AS cum
      |  FROM series
      |  WINDOW wnd AS (ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
      |c2 AS (
      |  SELECT day, cents, cum * tot.n - t * tot.s AS dev FROM c1, tot),
      |c3 AS (
      |  SELECT day, cents, dev,
      |    MAX(dev) OVER (ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS peak
      |  FROM c2)
      |SELECT day, cents,
      |  CAST(dev AS DOUBLE) AS dev_scaled,
      |  CAST(peak - dev AS DOUBLE) AS dd_scaled,
      |  CAST(peak - dev AS DOUBLE) / ((SELECT CAST(n AS DOUBLE) FROM tot) * 100.0) AS drawdown_dollars
      |FROM c3""".stripMargin)
  )

  // q128 — inter-arrival time distribution on DYADIC buckets (the
  // traffic-model readout behind q117's burstiness: are gaps
  // exponential-ish or heavy-tailed?): per-user consecutive gaps from
  // ONE lag window on the high-cardinality user key, bucketed by
  // ⌊log2(gap_minutes)⌋ computed from the BINARY STRING length
  // (length(bin(n))−1 — identical in both engines where a libm log2
  // could ulp-flip at exact powers of two), then one partial-aggregable
  // histogram with per-bucket exact min/max/count.
  private val q128 = Q(
    "q128_interarrival",
    (s, d) => {
      val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      Tables.events(s, d)
        .withColumn("prev_us", lag(unix_micros(col("ts")), 1).over(byUser))
        .filter(col("prev_us").isNotNull)
        .withColumn("gap_min", ((unix_micros(col("ts")) - col("prev_us")) / lit(60000000L)).cast("long"))
        .withColumn("bucket", (length(expr("bin(gap_min)")) - lit(1)).cast("long"))
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("n_gaps"),
          min(col("gap_min")).as("min_gap_min"),
          max(col("gap_min")).as("max_gap_min"))
        .orderBy("bucket")
    },
    Some("""WITH g AS (
      |  SELECT user_id,
      |    (epoch_us(ts) - LAG(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id))
      |      // 60000000 AS gap_min
      |  FROM events),
      |b AS (
      |  SELECT CAST(length(bin(gap_min)) - 1 AS BIGINT) AS bucket, gap_min
      |  FROM g WHERE gap_min IS NOT NULL)
      |SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n_gaps,
      |  CAST(MIN(gap_min) AS BIGINT) AS min_gap_min,
      |  CAST(MAX(gap_min) AS BIGINT) AS max_gap_min
      |FROM b GROUP BY bucket ORDER BY bucket""".stripMargin)
  )

  // q129 — growth accounting (the new / retained / resurrected /
  // churned decomposition of daily actives, with the quick ratio —
  // the canonical growth-stage readout beside q109's cohort triangle):
  // events reduce ONCE to the distinct (user, day) surface; each
  // active day classifies from ONE lag on the high-cardinality user
  // key (new: no prior, retained: active yesterday, resurrected:
  // returned after a gap); churn needs no lead pass — it is the exact
  // identity churned_t = DAU_{t−1} − retained_t on the zero-filled
  // |days| surface. Quick ratio divides exact counts, NULL on
  // zero-churn days.
  private val q129 = Q(
    "q129_growth_accounting",
    (s, d) => {
      val days = Tables.events(s, d)
        .select(col("user_id"), date_trunc("day", col("ts")).cast("date").as("day"))
        .distinct()
        .graftCheckpoint()
      val byUser = Window.partitionBy(col("user_id")).orderBy(col("day"))
      val classed = days
        .withColumn("prev", lag(col("day"), 1).over(byUser))
        .select(col("day"),
          when(col("prev").isNull, "new")
            .when(datediff(col("day"), col("prev")) === 1, "retained")
            .otherwise("resurrected").as("cls"))
      val counts = classed.groupBy(col("day"))
        .agg(sum(when(col("cls") === "new", 1L).otherwise(0L)).as("n_new"),
          sum(when(col("cls") === "retained", 1L).otherwise(0L)).as("n_retained"),
          sum(when(col("cls") === "resurrected", 1L).otherwise(0L)).as("n_resurrected"),
          count(lit(1)).as("dau"))
        .graftCheckpoint()
      val spine = counts.agg(min(col("day")).as("lo"), max(col("day")).as("hi"))
        .select(explode(sequence(col("lo"), col("hi"))).as("day"))
      val w = Window.orderBy(col("day"))
      spine.join(counts, Seq("day"), "left")
        .select(col("day"),
          coalesce(col("n_new"), lit(0L)).as("n_new"),
          coalesce(col("n_retained"), lit(0L)).as("n_retained"),
          coalesce(col("n_resurrected"), lit(0L)).as("n_resurrected"),
          coalesce(col("dau"), lit(0L)).as("dau"))
        .withColumn("n_churned",
          coalesce(lag(col("dau"), 1).over(w), lit(0L)) - col("n_retained"))
        .withColumn("quick_ratio",
          when(col("n_churned") > 0L,
            (col("n_new") + col("n_resurrected")).cast("double") /
              col("n_churned").cast("double")))
    },
    Some("""WITH days AS (
      |  SELECT DISTINCT user_id, CAST(date_trunc('day', ts) AS DATE) AS day
      |  FROM events),
      |cl AS (
      |  SELECT day,
      |    CASE WHEN prev IS NULL THEN 'new'
      |         WHEN day - prev = 1 THEN 'retained'
      |         ELSE 'resurrected' END AS cls
      |  FROM (SELECT user_id, day,
      |          LAG(day) OVER (PARTITION BY user_id ORDER BY day) AS prev
      |        FROM days)),
      |counts AS (
      |  SELECT day,
      |    CAST(SUM(CASE WHEN cls = 'new' THEN 1 ELSE 0 END) AS BIGINT) AS n_new,
      |    CAST(SUM(CASE WHEN cls = 'retained' THEN 1 ELSE 0 END) AS BIGINT) AS n_retained,
      |    CAST(SUM(CASE WHEN cls = 'resurrected' THEN 1 ELSE 0 END) AS BIGINT) AS n_resurrected,
      |    CAST(COUNT(*) AS BIGINT) AS dau
      |  FROM cl GROUP BY day),
      |spine AS (
      |  SELECT unnest(generate_series((SELECT MIN(day) FROM counts),
      |    (SELECT MAX(day) FROM counts), INTERVAL 1 DAY)) AS dts),
      |f AS (
      |  SELECT CAST(spine.dts AS DATE) AS day,
      |    COALESCE(n_new, 0) AS n_new, COALESCE(n_retained, 0) AS n_retained,
      |    COALESCE(n_resurrected, 0) AS n_resurrected, COALESCE(dau, 0) AS dau
      |  FROM spine LEFT JOIN counts ON CAST(spine.dts AS DATE) = counts.day),
      |g AS (
      |  SELECT day, n_new, n_retained, n_resurrected, dau,
      |    COALESCE(LAG(dau) OVER (ORDER BY day), 0) - n_retained AS n_churned
      |  FROM f)
      |SELECT day, n_new, n_retained, n_resurrected, dau, n_churned,
      |  CASE WHEN n_churned > 0
      |    THEN CAST(n_new + n_resurrected AS DOUBLE) / CAST(n_churned AS DOUBLE)
      |  END AS quick_ratio
      |FROM g""".stripMargin)
  )

  // q130 — DAU/MAU stickiness per day (how much of the monthly
  // audience shows up daily — the engagement-quality number beside
  // q129's growth decomposition): MAU_t = distinct users active in
  // [t−29, t], computed by fanning the REDUCED (user, day) surface to
  // its 30 trailing window-ends BEFORE a two-phase distinct (the
  // st_sliding_distinct discipline — the 30× expansion multiplies the
  // user-day surface, never raw events, and no task holds a window's
  // user set). Stickiness divides exact counts.
  private val q130 = Q(
    "q130_stickiness",
    (s, d) => {
      val days = Tables.events(s, d)
        .select(col("user_id"), date_trunc("day", col("ts")).cast("date").as("day"))
        .distinct()
        .graftCheckpoint()
      val span = days.agg(min(col("day")).as("lo"), max(col("day")).as("hi")).head()
      val (lo, hi) = (span.getDate(0), span.getDate(1))
      val dau = days.groupBy(col("day")).agg(count(lit(1)).as("dau"))
      val mau = days
        .select(col("user_id"),
          explode(sequence(col("day"), least(date_add(col("day"), 29), lit(hi)))).as("t"))
        .distinct()
        .groupBy(col("t").as("day")).agg(count(lit(1)).as("mau"))
      mau.join(dau, Seq("day"), "left")
        .select(col("day"), coalesce(col("dau"), lit(0L)).as("dau"), col("mau"),
          (coalesce(col("dau"), lit(0L)).cast("double") / col("mau").cast("double"))
            .as("stickiness"))
    },
    Some("""WITH days AS (
      |  SELECT DISTINCT user_id, CAST(date_trunc('day', ts) AS DATE) AS day
      |  FROM events),
      |hi AS (SELECT MAX(day) AS hi FROM days),
      |dau AS (SELECT day, CAST(COUNT(*) AS BIGINT) AS dau FROM days GROUP BY day),
      |fan AS (
      |  SELECT DISTINCT user_id, CAST(unnest(generate_series(CAST(day AS TIMESTAMP),
      |    CAST(LEAST(day + 29, hi.hi) AS TIMESTAMP), INTERVAL 1 DAY)) AS DATE) AS t
      |  FROM days, hi),
      |mau AS (SELECT t AS day, CAST(COUNT(*) AS BIGINT) AS mau FROM fan GROUP BY t)
      |SELECT mau.day AS day, COALESCE(dau.dau, 0) AS dau, mau.mau,
      |  CAST(COALESCE(dau.dau, 0) AS DOUBLE) / CAST(mau.mau AS DOUBLE) AS stickiness
      |FROM mau LEFT JOIN dau ON mau.day = dau.day
      |""".stripMargin)
  )

  // q131 — customer value-segment migration matrix between the two
  // halves of the order span (the lifecycle view q121's part-rank
  // churn gives products: who moved BETWEEN spend quartiles, who
  // appeared, who lapsed): orders reduce ONCE to the (half, customer)
  // cents surface; per-half quartile fences come from the grouped
  // bucket-histogram selection over that surface (2 groups — safe
  // because the INPUT is the reduced surface, the q33 discipline) and
  // code as broadcast literals; the 5×5 matrix (0 = absent) is one
  // full-outer join + aggregate. Fences interpolate identically in
  // both engines, so segment codes — and the matrix — hash-match.
  private val q131 = Q(
    "q131_value_migration",
    (s, d) => {
      import s.implicits._
      val li = Tables.orders(s, d)
        .select(col("o_custkey"),
          datediff(col("o_orderdate"), lit("1970-01-01").cast("date")).cast("long").as("day"),
          Exact.qzl(col("o_totalprice"), 100.0).as("cents"))
      val span = li.agg(min(col("day")).as("lo"), max(col("day")).as("hi")).head()
      val mid = (span.getLong(0) + span.getLong(1)) / 2
      val perCust = li
        .withColumn("half", when(col("day") <= mid, "prev").otherwise("cur"))
        .groupBy(col("half"), col("o_custkey"))
        .agg(sum(col("cents")).cast("double").as("spend"))
        .graftCheckpoint()
      val fences = Quantiles.groupedExactQuantiles(
          perCust, "half", "spend", Seq(0.25, 0.5, 0.75))
        .groupBy(_._1).map { case (h, rows) =>
          h -> rows.sortBy(_._2).map(_._3)
        }
      def segOf(h: String): Column = {
        val f = fences(h)
        when(col("spend") <= f(0), 1L).when(col("spend") <= f(1), 2L)
          .when(col("spend") <= f(2), 3L).otherwise(4L)
      }
      val prev = perCust.filter(col("half") === "prev")
        .select(col("o_custkey"), segOf("prev").as("seg_prev"))
      val cur = perCust.filter(col("half") === "cur")
        .select(col("o_custkey"), segOf("cur").as("seg_cur"))
      prev.join(cur, Seq("o_custkey"), "full_outer")
        .select(coalesce(col("seg_prev"), lit(0L)).as("seg_prev"),
          coalesce(col("seg_cur"), lit(0L)).as("seg_cur"))
        .groupBy(col("seg_prev"), col("seg_cur"))
        .agg(count(lit(1)).as("n_customers"))
        .orderBy("seg_prev", "seg_cur")
    },
    // li NOT MATERIALIZED: fact-width multi-use CTE — DuckDB's default
    // would buffer every projected fact row to temp (the q132 sf100
    // spill class); inlined it is streaming scan+agg per use.
    Some(s"""WITH li AS NOT MATERIALIZED (
      |  SELECT o_custkey,
      |    CAST(CAST(o_orderdate AS DATE) - DATE '1970-01-01' AS BIGINT) AS day,
      |    CAST(ROUND(o_totalprice * 100.0) AS BIGINT) AS cents
      |  FROM orders),
      |mid AS (SELECT (MIN(day) + MAX(day)) // 2 AS m FROM li),
      |pc AS (
      |  SELECT CASE WHEN day <= mid.m THEN 'prev' ELSE 'cur' END AS half,
      |    o_custkey, CAST(SUM(cents) AS DOUBLE) AS spend
      |  FROM li, mid GROUP BY 1, 2),
      |f AS (
      |  SELECT g AS half,
      |    MAX(CASE WHEN q = ${Quantiles.sqlDouble(0.25)} THEN value END) AS f1,
      |    MAX(CASE WHEN q = ${Quantiles.sqlDouble(0.5)} THEN value END) AS f2,
      |    MAX(CASE WHEN q = ${Quantiles.sqlDouble(0.75)} THEN value END) AS f3
      |  FROM (${Quantiles.sql("pc", "spend", Seq(0.25, 0.5, 0.75), Some("half"))}) b GROUP BY g),
      |coded AS (
      |  SELECT pc.half, pc.o_custkey,
      |    CASE WHEN spend <= f1 THEN 1 WHEN spend <= f2 THEN 2
      |         WHEN spend <= f3 THEN 3 ELSE 4 END AS seg
      |  FROM pc JOIN f ON pc.half = f.half),
      |pv AS (SELECT o_custkey, seg FROM coded WHERE half = 'prev'),
      |cr AS (SELECT o_custkey, seg FROM coded WHERE half = 'cur')
      |SELECT CAST(COALESCE(pv.seg, 0) AS BIGINT) AS seg_prev,
      |  CAST(COALESCE(cr.seg, 0) AS BIGINT) AS seg_cur,
      |  CAST(COUNT(*) AS BIGINT) AS n_customers
      |FROM pv FULL OUTER JOIN cr ON pv.o_custkey = cr.o_custkey
      |GROUP BY 1, 2 ORDER BY seg_prev, seg_cur""".stripMargin)
  )

  // q132 — substitute / complement detection among the top-20 parts
  // (q113's co-occurrence finds parts bought TOGETHER; negatively
  // correlated WEEKLY sales reveal parts bought INSTEAD): sales reduce
  // once to the zero-filled (part, week) unit surface restricted to
  // the top sellers (a 20-id broadcast literal filter — deterministic
  // volume-then-key order), pairwise r comes from exact integer power
  // sums per pair over the |weeks|-row vectors, and the relation label
  // is a CASE over identical IEEE doubles. The pair join is 20×20 on
  // the surface — never fact rows.
  private val q132 = Q(
    "q132_cannibalization",
    (s, d) => {
      import org.apache.spark.sql.types.DecimalType
      val li = Tables.lineitem(s, d)
        .select(col("l_partkey").as("pk"),
          date_trunc("week", col("l_shipdate")).as("wk"),
          Exact.qzl(col("l_quantity"), 1.0).as("units"))
        .graftCheckpoint()
      val top = li.groupBy(col("pk")).agg(sum(col("units")).as("tot"))
        .orderBy(col("tot").desc, col("pk")).limit(20)
        .collect().map(_.getLong(0)).sorted
      val weekly = li.filter(col("pk").isin(top: _*))
        .groupBy(col("pk"), col("wk")).agg(sum(col("units")).as("units"))
        .graftCheckpoint()
      val spine = weekly.agg(min(col("wk")).as("lo"), max(col("wk")).as("hi"))
        .select(explode(sequence(col("lo"), col("hi"),
          expr("INTERVAL 1 WEEK"))).as("wk"))
        .crossJoin(weekly.select(col("pk")).distinct())
      val series = spine.join(weekly, Seq("pk", "wk"), "left")
        .select(col("pk"), col("wk"), coalesce(col("units"), lit(0L)).as("u"))
      val a = series.select(col("pk").as("pk_a"), col("wk"), col("u").as("x"))
      val b = series.select(col("pk").as("pk_b"), col("wk").as("wk_b"), col("u").as("y"))
      def dz(c: Column) = c.cast(DecimalType(38, 0))
      val g = a.join(b, col("wk") === col("wk_b") && col("pk_a") < col("pk_b"))
        .groupBy(col("pk_a"), col("pk_b"))
        .agg(count(lit(1)).as("n_weeks"),
          Exact.dec2d(sum(dz(col("x")))).as("sx"),
          Exact.dec2d(sum(dz(col("y")))).as("sy"),
          Exact.dec2d(sum(dz(col("x")) * dz(col("x")))).as("sxx"),
          Exact.dec2d(sum(dz(col("y")) * dz(col("y")))).as("syy"),
          Exact.dec2d(sum(dz(col("x")) * dz(col("y")))).as("sxy"))
      val nD = col("n_weeks").cast("double")
      val r = (nD * col("sxy") - col("sx") * col("sy")) /
        (sqrt(nD * col("sxx") - col("sx") * col("sx")) *
          sqrt(nD * col("syy") - col("sy") * col("sy")))
      g.select(col("pk_a"), col("pk_b"), col("n_weeks"), r.as("r"))
        .withColumn("relation",
          when(col("r") <= lit(-0.2), lit("substitute"))
            .when(col("r") >= lit(0.2), lit("complement"))
            .otherwise(lit("independent")))
        .orderBy("pk_a", "pk_b")
    },
    // li is NOT MATERIALIZED: it projects every fact row and is
    // referenced twice, so DuckDB's default (materialize multi-use
    // CTEs) buffers the whole fact table to temp — >40 GB of spill at
    // the sf100 probe where the inlined form is two streaming
    // scan+agg passes with tiny state. The inverse of the r9
    // AS MATERIALIZED rule: hint small multi-use CTEs MATERIALIZED,
    // fact-width ones NOT MATERIALIZED.
    Some(s"""WITH li AS NOT MATERIALIZED (
      |  SELECT l_partkey AS pk, date_trunc('week', l_shipdate) AS wk,
      |    CAST(ROUND(l_quantity) AS BIGINT) AS units
      |  FROM lineitem),
      |top AS (
      |  SELECT pk FROM (
      |    SELECT pk, SUM(units) AS tot, ROW_NUMBER() OVER (ORDER BY SUM(units) DESC, pk) AS rn
      |    FROM li GROUP BY pk) WHERE rn <= 20),
      |weekly AS (
      |  SELECT pk, wk, CAST(SUM(units) AS BIGINT) AS u
      |  FROM li WHERE pk IN (SELECT pk FROM top) GROUP BY 1, 2),
      |spine AS (
      |  SELECT t.pk, s.wk
      |  FROM top t, (SELECT unnest(generate_series((SELECT MIN(wk) FROM weekly),
      |    (SELECT MAX(wk) FROM weekly), INTERVAL 1 WEEK)) AS wk) s),
      |series AS (
      |  SELECT spine.pk, spine.wk, COALESCE(weekly.u, 0) AS u
      |  FROM spine LEFT JOIN weekly ON spine.pk = weekly.pk AND spine.wk = weekly.wk),
      |g AS (
      |  SELECT a.pk AS pk_a, b.pk AS pk_b, CAST(COUNT(*) AS BIGINT) AS n_weeks,
      |    ${graft.Exact.sqlDec2d("SUM(CAST(a.u AS HUGEINT))")} AS sx,
      |    ${graft.Exact.sqlDec2d("SUM(CAST(b.u AS HUGEINT))")} AS sy,
      |    ${graft.Exact.sqlDec2d("SUM(CAST(a.u AS HUGEINT) * CAST(a.u AS HUGEINT))")} AS sxx,
      |    ${graft.Exact.sqlDec2d("SUM(CAST(b.u AS HUGEINT) * CAST(b.u AS HUGEINT))")} AS syy,
      |    ${graft.Exact.sqlDec2d("SUM(CAST(a.u AS HUGEINT) * CAST(b.u AS HUGEINT))")} AS sxy
      |  FROM series a JOIN series b ON a.wk = b.wk AND a.pk < b.pk
      |  GROUP BY 1, 2),
      |c AS (
      |  SELECT pk_a, pk_b, n_weeks,
      |    (CAST(n_weeks AS DOUBLE) * sxy - sx * sy) /
      |    (SQRT(CAST(n_weeks AS DOUBLE) * sxx - sx * sx) *
      |     SQRT(CAST(n_weeks AS DOUBLE) * syy - sy * sy)) AS r
      |  FROM g)
      |SELECT pk_a, pk_b, n_weeks, r,
      |  CASE WHEN r <= CAST(-0.2 AS DOUBLE) THEN 'substitute'
      |       WHEN r >= CAST(0.2 AS DOUBLE) THEN 'complement'
      |       ELSE 'independent' END AS relation
      |FROM c ORDER BY pk_a, pk_b""".stripMargin)
  )

  // q133 — basket-size profile (the EDA value_counts on order size,
  // and the MEASUREMENT behind a documented scale assumption: q94/
  // q113/q114's within-order pair joins are linear in orders only
  // while baskets stay bounded — this is the readout that certifies
  // it, with the pair-work column Σ C(parts, 2) each basket size
  // contributes): one reduction to the per-order surface, one rollup
  // to the |basket sizes|-row profile, exact integers + two IEEE
  // shares.
  private val q133 = Q(
    "q133_basket_profile",
    (s, d) => {
      val perOrder = Tables.lineitem(s, d)
        .groupBy(col("l_orderkey"))
        .agg(count(lit(1)).as("n_lines"),
          countDistinct(col("l_partkey")).as("n_parts"),
          sum(Exact.qzl(col("l_extendedprice"), 100.0)).as("cents"))
        .graftCheckpoint()
      val tot = perOrder.agg(count(lit(1)).as("n"), sum(col("cents")).as("c")).head()
      val (nOrders, totCents) = (tot.getLong(0), tot.getLong(1))
      perOrder.groupBy(col("n_parts"))
        .agg(count(lit(1)).as("n_orders"),
          sum(col("cents")).as("cents"),
          sum(expr("n_parts * (n_parts - 1) div 2")).as("pair_work"))
        .select(col("n_parts"), col("n_orders"), col("pair_work"),
          (col("n_orders").cast("double") / lit(nOrders.toDouble)).as("order_share"),
          (col("cents").cast("double") / lit(totCents.toDouble)).as("revenue_share"))
        .orderBy("n_parts")
    },
    Some("""WITH po AS (
      |  SELECT l_orderkey, CAST(COUNT(*) AS BIGINT) AS n_lines,
      |    CAST(COUNT(DISTINCT l_partkey) AS BIGINT) AS n_parts,
      |    CAST(SUM(CAST(ROUND(l_extendedprice * 100.0) AS BIGINT)) AS BIGINT) AS cents
      |  FROM lineitem GROUP BY 1),
      |t AS (SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(cents) AS BIGINT) AS c FROM po)
      |SELECT n_parts, CAST(COUNT(*) AS BIGINT) AS n_orders,
      |  CAST(SUM(n_parts * (n_parts - 1) // 2) AS BIGINT) AS pair_work,
      |  CAST(COUNT(*) AS DOUBLE) / CAST(t.n AS DOUBLE) AS order_share,
      |  CAST(SUM(cents) AS DOUBLE) / CAST(t.c AS DOUBLE) AS revenue_share
      |FROM po, t GROUP BY n_parts, t.n, t.c ORDER BY n_parts""".stripMargin)
  )

  // q134 — the pairplot grid (sns.pairplot of eda_processing.ipynb;
  // q55_hist2d is ONE panel of it): 2-D fixed-grid histograms for ALL
  // k·(k−1)/2 numeric column pairs in ONE fact scan. Per-column fences
  // come from a single bounded agg; the scan then EXPLODES each row
  // into its 6 (pair, bx, by) cells — a 6× row multiply BEFORE the
  // partial aggregate (the q40-cube/Expand discipline), so the shuffle
  // moves only ≤ pairs·16·16 partials per task, never 6× the data. The
  // k² panels of a pairplot at 100 TB cost one scan + a few KB of
  // shuffle — the per-pair re-scan formulation costs k² scans. Bin
  // arithmetic is the identical IEEE expression as q55, mirrored
  // per-pair in the oracle's UNION ALL (the oracle may re-scan; we
  // must not).
  private val q134 = Q(
    "q134_pairgrid",
    (s, d) => {
      val cols = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
      val nb = 16
      val l = Tables.lineitem(s, d)
      val f = l.agg(
        cols.flatMap(c => Seq(min(col(c)).as(s"lo_$c"), max(col(c)).as(s"hi_$c"))).head,
        cols.flatMap(c => Seq(min(col(c)).as(s"lo_$c"), max(col(c)).as(s"hi_$c"))).tail: _*)
      def bin(c: String): Column =
        least(floor((col(c) - col(s"lo_$c")) / (col(s"hi_$c") - col(s"lo_$c"))
          * lit(nb.toDouble)).cast("long"), lit(nb - 1L))
      val cells = for {
        i <- cols.indices; j <- cols.indices if i < j
      } yield struct(lit(cols(i)).as("col_x"), lit(cols(j)).as("col_y"),
        bin(cols(i)).as("bx"), bin(cols(j)).as("by"))
      l.crossJoin(broadcast(f))
        .select(explode(array(cells: _*)).as("c"))
        .groupBy(col("c.col_x").as("col_x"), col("c.col_y").as("col_y"),
          col("c.bx").as("bx"), col("c.by").as("by"))
        .agg(count(lit(1)).as("n"))
        .orderBy("col_x", "col_y", "bx", "by")
    },
    Some {
      val cols = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
      val pairs = for { i <- cols.indices; j <- cols.indices if i < j }
        yield (cols(i), cols(j))
      val arms = pairs.map { case (cx, cy) =>
        s"""SELECT '$cx' AS col_x, '$cy' AS col_y,
           |  LEAST(CAST(FLOOR(($cx - f.lo_$cx) / (f.hi_$cx - f.lo_$cx) * 16.0) AS BIGINT), 15) AS bx,
           |  LEAST(CAST(FLOOR(($cy - f.lo_$cy) / (f.hi_$cy - f.lo_$cy) * 16.0) AS BIGINT), 15) AS by,
           |  CAST(COUNT(*) AS BIGINT) AS n
           |FROM lineitem, f GROUP BY 1, 2, 3, 4""".stripMargin
      }
      val fences = cols.flatMap(c =>
        Seq(s"MIN($c) AS lo_$c", s"MAX($c) AS hi_$c")).mkString(", ")
      s"""WITH f AS (SELECT $fences FROM lineitem)
         |SELECT * FROM (${arms.mkString("\nUNION ALL\n")})
         |ORDER BY col_x, col_y, bx, by""".stripMargin
    }
  )

  def qs: Seq[Q] = Seq(q111, q112, q113, q114, q115, q116, q117, q118, q119,
    q120, q121, q122, q123, q124, q125, q126, q127, q128, q129, q130, q131,
    q132, q133, q134)
}
