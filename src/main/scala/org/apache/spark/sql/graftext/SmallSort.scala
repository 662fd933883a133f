package org.apache.spark.sql.graftext

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Sort}
import org.apache.spark.sql.catalyst.plans.physical.SinglePartition
import org.apache.spark.sql.execution.{SortExec, SparkPlan, SparkStrategy}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec

import graft.operators.{Broadcasting, Sizing}

/** Global sort of a SMALL input in one partition. Spark plans every
  * global `orderBy` as a range exchange: its `RangePartitioner` first
  * runs a sampling job that recomputes the sort's whole input, then a
  * shuffle to `spark.sql.shuffle.partitions` sorted ranges. For the
  * presentation sort that ends most queries — a result of a few
  * thousand rows — that second job and the wide shuffle are pure fixed
  * cost. When the optimizer's size estimate of the sort's input fits
  * [[Broadcasting.capBytes]] (a result small enough to broadcast to
  * every executor is small enough to sort in one task), this strategy
  * plans `SortExec(global) ← Exchange SinglePartition` instead: one
  * job, one reduce task, the same row order.
  *
  * Everything else falls through to Spark (`Nil`): estimates above the
  * cap, unknown leaves (`LogicalRDD`, streaming sources) and join
  * products. `limit(n)` over `orderBy` never reaches here, because
  * `SpecialLimits` plans the pair as `TakeOrderedAndProject` first.
  * Known under-estimate: `Generate`/`explode` does not grow the
  * estimate — the risk the broadcast hint already accepts; a missed
  * estimate costs one slower, spilling sort task, never a wrong row. */
object SmallSort extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] =
    planSort(plan, Broadcasting.capBytes)

  def planSort(p: LogicalPlan, capBytes: Long): Seq[SparkPlan] = p match {
    case Sort(order, true, child, _) if Sizing.fits(child, capBytes) =>
      SortExec(order, global = true,
        ShuffleExchangeExec(SinglePartition, planLater(child))) :: Nil
    case _ => Nil
  }

  /** Put the strategy on `spark`'s planner, once. */
  def install(spark: SparkSession): Unit = GraftExtensions.installStrategy(spark, SmallSort)
}
