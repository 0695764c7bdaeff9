package graft.operators

import graft.Exact.GraftCheckpoint
import graft.Report
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Iterative graph analytics over edge DataFrames — the PageRank
  * companion to [[graft.dedup.Dedup]]'s connected components. Same
  * distributed-fixpoint discipline: per-iteration localCheckpoint cuts
  * the lineage, state is one row per node, every step is a keyed
  * join + partial-aggregable sum, so the iteration scales with the
  * edge partitioning (and survives 100× more edges by raising
  * partitions, not by changing shape).
  */
object Graph {

  /** PageRank on an UNDIRECTED graph given distinct (src, dst) edge
    * pairs (each undirected edge listed once, src < dst): a fixed
    * number of damped power iterations from the uniform vector. Every
    * node in `edges` has degree ≥ 1, so there is no dangling mass.
    * Returns (id, rank); ranks sum to 1 up to per-term rounding.
    *
    * Contribution sums accumulate on the 1e-18 integer grid via FLOOR:
    * each rank/deg term is one IEEE division, FLOOR(term·1e18) is the
    * same IEEE multiply + floor in any engine, the long sum is exact
    * and ORDER-INDEPENDENT, and one cast-divide rescales. That makes
    * the whole iteration bit-reproducible on any cluster shape AND
    * bit-matchable by an engine replaying the same shapes (the DuckDB
    * oracle unrolls these 15 iterations as chained CTEs). FLOOR, not
    * ROUND or a decimal cast, deliberately: Spark rounds doubles (and
    * casts them to decimal) through the SHORTEST string representation
    * (BigDecimal.valueOf), which near a half boundary disagrees with
    * DuckDB's exact-binary rounding — floor is a primitive IEEE
    * operation with no such path. ([[graft.Exact.qzl]] can use ROUND
    * because its inputs are fixed-point currency/quantity values whose
    * grid images land nowhere near .5; arbitrary reals like rank/deg
    * need floor.) Grid truncation is ~1e-18 per term, ~1e-17 total
    * over 15 damped iterations — far below the 1e-9 the spec's
    * local-reference comparison uses. Overflow: ranks sum to 1, so any
    * contribution partial sum ≤ 1e18, inside the long range at any
    * graph size.
    */
  def pagerank(edges: DataFrame, damping: Double = 0.85, iters: Int = 15): DataFrame = {
    val both = edges.select(col("src"), col("dst"))
      .unionByName(edges.select(col("dst").as("src"), col("src").as("dst")))
      .graftCheckpoint()
    val degrees = both.groupBy(col("src")).agg(count(lit(1)).as("deg"))
    val adj = both.join(degrees, "src").graftCheckpoint()
    val nodes = both.select(col("src").as("id")).distinct()
      .graftCheckpoint()
    val n = nodes.count()
    val base = (1.0 - damping) / n.toDouble
    var ranks = nodes.withColumn("rank", lit(1.0 / n.toDouble))
    for (_ <- 1 to iters) {
      val contribs = adj.join(ranks, adj("src") === ranks("id"))
        .select(col("dst").as("id"),
          floor(col("rank") / col("deg").cast("double") * lit(1e18)).as("c"))
        .groupBy(col("id"))
        .agg((sum(col("c")).cast("double") / lit(1e18)).as("in_sum"))
      ranks = nodes.join(contribs, Seq("id"), "left")
        .select(col("id"),
          (lit(base) + lit(damping) * coalesce(col("in_sum"), lit(0.0))).as("rank"))
        .graftCheckpoint()
    }
    ranks
  }

  /** The k-core of an undirected graph (distinct src < dst edges): the
    * maximal subgraph where every node keeps degree ≥ k — the
    * density filter that separates a co-purchase CLIQUE neighborhood
    * from q98's hub-and-spoke rank view. Iterative peeling: drop
    * nodes below k, recompute degrees, repeat to fixpoint — each
    * round one semi join + one partial-aggregable degree count, the
    * same checkpointed-fixpoint discipline as connected components.
    * Rounds are bounded by the peel depth (≤ max degree), in practice
    * a handful. Returns (id, deg) of surviving nodes with their
    * IN-CORE degrees.
    */
  def kcore(edges: DataFrame, k: Int, maxRounds: Int = 50): DataFrame =
    kcoreWithRounds(edges, k, maxRounds)._1

  /** [[kcore]] plus the number of peel rounds run to REACH the
    * fixpoint (the final round is the no-change confirmation). The SQL
    * oracle unrolls the peel a fixed depth, and an unroll SHORT of the
    * fixpoint would return a strict superset of the core — so the
    * spec pins this count at ≤ half the oracle's unroll on the
    * largest local SF, keeping ~2× headroom live as data grows.
    */
  def kcoreWithRounds(edges: DataFrame, k: Int,
      maxRounds: Int = 50): (DataFrame, Int) = {
    // per-round wall + survivor counts to stderr when GRAFT_KCORE_PROFILE
    // is set — the only way to see where the peel's time goes (round
    // count × which stage) without the (disabled) UI
    val prof = sys.env.contains("GRAFT_KCORE_PROFILE")
    var e = edges.select(col("src"), col("dst")).graftCheckpoint()
    // carry the surviving-edge count across rounds: the convergence
    // check costs ONE count job per peel round (on the new edge set),
    // not two — the previous round's count is already in hand (r13
    // verdict #3; ~maxRounds redundant cached-read jobs at the fixpoint)
    var eCount = e.count()
    var done = false
    var rounds = 0
    while (!done && rounds < maxRounds) {
      rounds += 1
      val both = e.select(col("src").as("id"))
        .unionByName(e.select(col("dst").as("id")))
      val (degrees, degSec) = Report.sec(both.groupBy(col("id")).agg(count(lit(1)).as("deg"))
        .graftCheckpoint())
      val keep = degrees.filter(col("deg") >= k).select(col("id"))
      val ((e2, e2Count), peelSec) = Report.sec {
        val e2 = e.join(keep.withColumnRenamed("id", "src"), Seq("src"), "left_semi")
          .join(keep.withColumnRenamed("id", "dst"), Seq("dst"), "left_semi")
          .select(col("src"), col("dst"))
          .graftCheckpoint()
        (e2, e2.count())
      }
      if (prof) System.err.println(
        f"[kcore profile] round $rounds: deg $degSec%.2fs, " +
        f"peel $peelSec%.2fs, edges $eCount -> $e2Count")
      if (e2Count == eCount) done = true
      e = e2
      eCount = e2Count
    }
    val both = e.select(col("src").as("id"))
      .unionByName(e.select(col("dst").as("id")))
    (both.groupBy(col("id")).agg(count(lit(1)).as("deg"))
      .filter(col("deg") >= k), rounds)
  }
}
