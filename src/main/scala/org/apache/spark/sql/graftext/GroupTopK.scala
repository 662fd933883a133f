/** Lives under org.apache.spark.sql for the private[sql] bridges
  * (Dataset.ofRows) — same pattern as [[DotProduct]].
  */
package org.apache.spark.sql.graftext

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, Descending, Expression, RowOrdering, SortOrder, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, UnspecifiedDistribution}
import org.apache.spark.sql.classic
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.execution.metric.SQLMetrics

/** Per-group top-k as a first-class operator: logical node + planner
  * strategy + physical execution, registered through the public
  * extension points ([[GraftExtensions]] / `experimental.extraStrategies`)
  * — the (c) rung of the custom-operator ladder, for semantics the
  * built-ins express only wastefully.
  *
  * The declarative formulation — `row_number() OVER (PARTITION BY g
  * ORDER BY o) <= k` — shuffles EVERY row to its group's reducer and
  * sorts the whole partition, then throws almost all of it away. This
  * operator computes the same answer with two bounded-heap passes:
  *
  *  - partial (map-side, before the exchange): each input partition
  *    keeps at most k rows per group it sees — only rows that could
  *    still win globally are shuffled, the top-k analogue of partial
  *    aggregation. Shuffle volume drops from N rows to ≤ parts×G×k.
  *  - final (after the one exchange on the group key): same heaps over
  *    the surviving candidates, emitting exactly the per-group top-k.
  *
  * Heaps hold ≤ k rows per group per partition — memory is bounded by
  * the group cardinality actually present in the partition, never by
  * row count, and nothing is ever globally sorted. Ordering must be a
  * total order (pass a tie-break column) for a deterministic answer.
  */
case class GroupTopKNode(
    group: Seq[Expression],
    order: Seq[SortOrder],
    k: Int,
    child: LogicalPlan) extends UnaryNode {
  override def output: Seq[Attribute] = child.output
  override protected def withNewChildInternal(newChild: LogicalPlan): GroupTopKNode =
    copy(child = newChild)
}

object GroupTopKStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case GroupTopKNode(g, o, k, child) =>
      val partial = GroupTopKExec(g, o, k, partial = true, planLater(child))
      GroupTopKExec(g, o, k, partial = false, partial) :: Nil
    case _ => Nil
  }
}

case class GroupTopKExec(
    group: Seq[Expression],
    order: Seq[SortOrder],
    k: Int,
    partial: Boolean,
    child: SparkPlan) extends UnaryExecNode {

  override def output: Seq[Attribute] = child.output
  override def outputPartitioning = child.outputPartitioning

  /** The final stage co-locates each group; the partial stage runs
    * wherever the data already is (that is its point). */
  override def requiredChildDistribution: Seq[Distribution] =
    if (partial) UnspecifiedDistribution :: Nil
    else ClusteredDistribution(group) :: Nil

  override lazy val metrics = Map(
    "numOutputRows" -> SQLMetrics.createMetric(sparkContext, "output rows"))

  override protected def doExecute(): RDD[InternalRow] = {
    val numOutput = longMetric("numOutputRows")
    val groupExprs = group
    val sortOrder = order
    val limit = k
    val childOutput = child.output
    child.execute().mapPartitionsInternal { iter =>
      val keyProj = UnsafeProjection.create(groupExprs, childOutput)
      val ord = RowOrdering.create(sortOrder, childOutput)
      // heap per group holding its current best ≤ k rows; the heap is a
      // MAX-heap wrt the sort order, so peek() is the worst kept row
      // and a new row replaces it only if it sorts strictly before it
      val heaps = new java.util.HashMap[UnsafeRow, java.util.PriorityQueue[InternalRow]]()
      while (iter.hasNext) {
        val row = iter.next()
        val key = keyProj(row)
        var heap = heaps.get(key)
        if (heap == null) {
          heap = new java.util.PriorityQueue[InternalRow](limit, ord.reversed())
          heaps.put(key.copy(), heap)
        }
        if (heap.size() < limit) heap.add(row.copy())
        else if (ord.compare(row, heap.peek()) < 0) {
          heap.poll(); heap.add(row.copy())
        }
      }
      val groups = heaps.values().iterator()
      new Iterator[InternalRow] {
        private var current: java.util.Iterator[InternalRow] = java.util.Collections.emptyIterator()
        override def hasNext: Boolean = {
          while (!current.hasNext && groups.hasNext) current = groups.next().iterator()
          current.hasNext
        }
        override def next(): InternalRow = { numOutput += 1; current.next() }
      }
    }
  }

  override protected def withNewChildInternal(newChild: SparkPlan): GroupTopKExec =
    copy(child = newChild)

  override def nodeName: String =
    if (partial) "GroupTopKPartial" else "GroupTopK"
}

object GroupTopK {
  /** Top-`k` rows per `group` under `order` — each order entry is
    * (columnName, descending); add a tie-break column for a total
    * order. Columns are referenced by name and resolved by the
    * analyzer, so the node carries pure catalyst expressions (the
    * api-level Column AST is not task-serializable). Installs the
    * planner strategy on the DataFrame's session idempotently, so
    * callers need no session configuration. */
  def topK(df: DataFrame, group: Seq[String], order: Seq[(String, Boolean)],
           k: Int): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    require(group.nonEmpty && order.nonEmpty, "need group and order columns")
    val spark = df.sparkSession
    GraftExtensions.installStrategy(spark, GroupTopKStrategy)
    import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
    val sortOrders = order.map { case (name, desc) =>
      SortOrder(UnresolvedAttribute.quoted(name),
        if (desc) Descending else Ascending)
    }
    val node = GroupTopKNode(group.map(UnresolvedAttribute.quoted), sortOrders, k,
      df.queryExecution.analyzed)
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], node)
  }
}
