package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, Expression, RowOrdering, SortOrder, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Sort, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{AllTuples, ClusteredDistribution, Distribution, Partitioning}
import org.apache.spark.sql.execution.{SparkPlan, UnaryExecNode}
import org.apache.spark.sql.expressions.{Window => WindowSpec}
import org.apache.spark.sql.functions.{col, row_number}

/** Grouped top-k as a first-class operator: custom logical node +
  * planner strategy + two physical operators — the complete extension
  * path (SURVEY §2.I / brief path (c)). [[GraftOps]] is its one entry
  * point.
  *
  * WHY an operator instead of the `row_number().over(partitionBy(g))`
  * window: the window plan shuffles EVERY row to its group's reducer and
  * then sorts whole groups, so shuffle volume is the full input and a
  * hot group sorts in one task. This operator keeps a bounded heap of k
  * rows per group ON THE MAP SIDE ([[PartialTopKExec]] — no required
  * distribution), so the exchange that [[FinalTopKExec]] requires moves
  * at most k·groups rows per input partition, and no task ever holds
  * more than k rows per group. The two-phase split is the aggregation
  * partial/final pattern applied to order statistics: lossless because a
  * row in a group's global top k is in that group's top k of whichever
  * partition holds it.
  *
  * Semantics: keep each group's FIRST k rows under `order` (any
  * SortOrder list over any orderable types) — exactly the rows
  * `row_number() over (partition by group order by order) <= k` keeps.
  * Schema unchanged; no rank column (the surviving groups are ≤ k rows,
  * so re-deriving it is cheap — which is what [[GraftOps.rankedTopK]]
  * does).
  *
  * Memory contract (stated, not hidden): the map-side pass holds
  * k·(distinct groups in the partition) rows — the same asymptotics as
  * a partial hash aggregate's state, but WITHOUT its sort-based spill
  * fallback. That is the right trade for the top-k regimes this exists
  * for (small k, group state that fits); for adversarial cardinality ×
  * k the window formulation (which sorts and therefore spills) remains
  * the safe path.
  */
case class GroupedTopK(
    group: Seq[Expression],
    order: Seq[SortOrder],
    k: Int,
    child: LogicalPlan) extends UnaryNode {
  override def output: Seq[Attribute] = child.output
  override protected def withNewChildInternal(newChild: LogicalPlan): GroupedTopK =
    copy(child = newChild)
}

object GroupedTopKStrategy extends org.apache.spark.sql.execution.SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case GroupedTopK(g, o, k, child) =>
      FinalTopKExec(g, o, k, PartialTopKExec(g, o, k, planLater(child))) :: Nil
    case _ => Nil
  }
}

/** The shared heap pass: one bounded heap per group key holding the k
  * FIRST rows under `order`; heap head = the worst kept row (last in
  * order), replaced when a better row arrives. Rows and keys are copied
  * (Spark reuses row buffers across an iterator).
  */
private[plans] object TopKPass {
  def run(iter: Iterator[InternalRow], output: Seq[Attribute],
      group: Seq[Expression], order: Seq[SortOrder],
      k: Int): Iterator[InternalRow] = {
    val keyProj = UnsafeProjection.create(group, output)
    val rowOrd = RowOrdering.create(order, output) // first-in-order = smallest
    implicit val heapOrd: Ordering[InternalRow] = rowOrd // head = max = worst
    val heaps = scala.collection.mutable.HashMap[UnsafeRow, scala.collection.mutable.PriorityQueue[InternalRow]]()
    iter.foreach { row =>
      val key = keyProj(row)
      heaps.get(key) match {
        case None =>
          val h = scala.collection.mutable.PriorityQueue[InternalRow]()
          h.enqueue(row.copy())
          heaps.put(key.copy(), h)
        case Some(h) =>
          if (h.size < k) h.enqueue(row.copy())
          else if (rowOrd.compare(row, h.head) < 0) { h.dequeue(); h.enqueue(row.copy()) }
      }
    }
    heaps.valuesIterator.flatMap(_.iterator)
  }
}

/** Map-side bounded top-k: no distribution requirement, emits ≤ k rows
  * per (group, input partition). This is what keeps the exchange small.
  */
case class PartialTopKExec(group: Seq[Expression], order: Seq[SortOrder],
    k: Int, child: SparkPlan) extends UnaryExecNode {
  override def output: Seq[Attribute] = child.output
  override def outputPartitioning: Partitioning = child.outputPartitioning
  override protected def doExecute(): RDD[InternalRow] =
    child.execute().mapPartitions(
      TopKPass.run(_, child.output, group, order, k),
      preservesPartitioning = true)
  override protected def withNewChildInternal(newChild: SparkPlan): PartialTopKExec =
    copy(child = newChild)
}

/** Reduce-side exact top-k: clusters on the group key (ALL tuples in one
  * partition for the global, group-less case), so the same heap pass is
  * exact because each group is co-located — over the partial's bounded
  * rows, never the input.
  */
case class FinalTopKExec(group: Seq[Expression], order: Seq[SortOrder],
    k: Int, child: SparkPlan) extends UnaryExecNode {
  override def output: Seq[Attribute] = child.output
  override def outputPartitioning: Partitioning = child.outputPartitioning
  override def requiredChildDistribution: Seq[Distribution] =
    if (group.isEmpty) AllTuples :: Nil
    else ClusteredDistribution(group) :: Nil
  override protected def doExecute(): RDD[InternalRow] =
    child.execute().mapPartitions(
      TopKPass.run(_, child.output, group, order, k),
      preservesPartitioning = true)
  override protected def withNewChildInternal(newChild: SparkPlan): FinalTopKExec =
    copy(child = newChild)
}

/** Public API. The planner strategy is installed by
  * `GraftFunctions.register` (which `Session.local` and the
  * `SparkEntry.queries` boundary call) or injected by GraftExtensions.
  */
object GraftOps {

  /** Each group's first k rows under `order` — Spark Columns such as
    * `Seq(col("ts").desc, col("event_id").desc)`, resolved by the
    * analyzer: the rows
    * `row_number() over (partition by groupCols order by order) <= k`
    * keeps, NULLs and NaNs placed as that window places them. Every key
    * compares in its own type (a cast would tie BIGINTs above 2^53,
    * round DECIMALs and null out STRING keys); original schema
    * preserved. No `groupCols` is one global top-k.
    */
  def groupedTopK(df: DataFrame, groupCols: Seq[String], order: Seq[Column],
      k: Int): DataFrame = {
    require(k > 0, "k must be positive")
    require(order.nonEmpty, "order must name at least one key")
    // the analyzer resolves group and order as one Sort over df's plan
    df.sort(groupCols.map(col) ++ order: _*).queryExecution.analyzed match {
      case Sort(keys, _, child, _) =>
        val (g, o) = keys.splitAt(groupCols.size)
        org.apache.spark.sql.GraftBridge.ofRows(df.sparkSession,
          GroupedTopK(g.map(_.child), o, k, child))
      case other =>
        throw new IllegalArgumentException(s"order must use the columns of df:\n$other")
    }
  }

  /** [[groupedTopK]] plus a BIGINT `rank` column (1 = first in order): a
    * row_number over the ≤ k survivors under the same `order`.
    * [[FinalTopKExec]] already clusters on the group, so the rank costs
    * a local sort of those rows and no second exchange.
    */
  def rankedTopK(df: DataFrame, groupCols: Seq[String], order: Seq[Column],
      k: Int): DataFrame =
    groupedTopK(df, groupCols, order, k)
      .withColumn("rank", row_number().over(WindowSpec.partitionBy(groupCols.map(col): _*)
        .orderBy(order: _*)).cast("long"))
}
