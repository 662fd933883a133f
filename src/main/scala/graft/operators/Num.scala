package graft.operators

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Partition-count sizing from the optimizer's size ESTIMATE — the
  * explicit, scale-adaptive replacement for what AQE's partition
  * coalescing did implicitly before the harness turned AQE off for
  * short queries (r16): a write (or an iterative consumer like GraphX
  * LDA) should see partitions sized to the DATA, not to
  * spark.sql.shuffle.partitions. coalesce (no shuffle): at gate SFs
  * the estimate is KBs → 1 partition/file; at cluster scale the
  * estimate exceeds target × current partitions → no-op. Estimates
  * can be off by a constant factor, which moves file sizes — never
  * correctness. */
object Sizing {
  /** The size gate shared by [[Broadcasting]], [[Fanout]] and the
    * `SmallSort` planner strategy: does the optimizer's estimate fit
    * `capBytes`? Compared in BigInt, because join/unknown-leaf
    * estimates can exceed Long range. */
  def fits(plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan,
      capBytes: Long): Boolean =
    plan.stats.sizeInBytes <= BigInt(capBytes)

  def fits(df: org.apache.spark.sql.DataFrame, capBytes: Long): Boolean =
    fits(df.queryExecution.optimizedPlan, capBytes)

  def byEstimate(df: org.apache.spark.sql.DataFrame,
      targetBytes: Long = 128L * 1024 * 1024): org.apache.spark.sql.DataFrame = {
    val est = df.queryExecution.optimizedPlan.stats.sizeInBytes
    val cur = df.rdd.getNumPartitions
    // r17 (ADVICE): compare in BigInt before narrowing — join/unknown
    // leaf estimates can exceed Long range and BigInt.toLong WRAPS
    // (possibly negative), which would collapse a cluster-scale write
    // to coalesce(1), the opposite of the "no-op at cluster scale"
    // contract.
    val want =
      if (est >= BigInt(cur) * BigInt(targetBytes)) cur
      else math.max(1L, (est / BigInt(targetBytes)).toLong + 1L).toInt
    if (want < cur) df.coalesce(want) else df
  }
}

object Broadcasting {
  /** Size-gated broadcast() hint (r17, VERDICT items 2+3): with AQE off
    * locally the static planner misses the runtime broadcasts AQE would
    * have found, so model/vocab-sized join sides fall back to
    * sort-merge — but an UNgated hint is a scale hazard (a distinct-term
    * or bigram-vocab table is Heaps-law unbounded in corpus size, and an
    * explicit hint overrides AQE even under the cluster profile). Hint
    * only when the optimizer's size estimate fits `capBytes`
    * (SPARK_GRAFT_BROADCAST_CAP overrides; default 64 MB — well above
    * every gate-scale model table, well below anything a 100 TB corpus
    * derives); otherwise leave the planner alone. A broadcast hint never
    * changes results, only the join strategy.
    *
    * The same cap gates a second decision: `SmallSort` plans a global
    * sort whose input estimate fits it in one partition, without the
    * range exchange's sampling job. Both trust an estimate that
    * `Generate`/`explode` does not grow; a miss costs speed (a
    * sort-merge join, one spilling sort task), never correctness. */
  def capFrom(env: Map[String, String]): Long =
    graft.Sessions.knob(env, "SPARK_GRAFT_BROADCAST_CAP", 64L * 1024 * 1024)
  val capBytes: Long = capFrom(sys.env)
  def ifSmall(df: org.apache.spark.sql.DataFrame,
      cap: Long = capBytes): org.apache.spark.sql.DataFrame =
    if (Sizing.fits(df, cap)) broadcast(df) else df
}

object Fanout {
  /** Size-gated scan fan-out (r17, guide §2.5 "input skew: one huge
    * unsplittable file — repartition immediately after the read").
    * Every driver testdata table is a SINGLE-ROW-GROUP parquet file, and
    * Spark assigns a row group to the one byte-range split holding its
    * midpoint — so however many splits openCostInBytes manufactures,
    * every scan's real work lands on ONE task (ProfileKey r17,
    * dedup_containment: tmax=2481 ms vs tmed=32 ms on a 32-task stage).
    * For operators whose per-row map work is expensive (tokenize +
    * shingle + hash + pair explosion), hash-repartition the NARROW
    * input by its row key before the expensive projection — but only
    * when the input estimate is compact (default cap 1 GB,
    * SPARK_GRAFT_FANOUT_CAP overrides): at cluster scale the scan is
    * many-row-group/many-file and parallel already, and the repartition
    * must not shuffle terabytes. Hash (not round-robin) partitioning:
    * no sort-before-repartition pass, deterministic row placement. */
  def capFrom(env: Map[String, String]): Long =
    graft.Sessions.knob(env, "SPARK_GRAFT_FANOUT_CAP", 1024L * 1024 * 1024)
  val capBytes: Long = capFrom(sys.env)
  def bySmallInput(df: org.apache.spark.sql.DataFrame,
      key: Column): org.apache.spark.sql.DataFrame =
    if (Sizing.fits(df, capBytes))
      df.repartition(df.sparkSession.sparkContext.defaultParallelism, key)
    else df
}

object Num {
  /** Portable round-to-dp: floor(x·10^dp + 0.5)/10^dp with identical IEEE
    * ops in Spark and DuckDB. Plain round() disagrees between the engines
    * on half-boundaries (Spark rounds the shortest decimal string, DuckDB
    * rounds the binary double) — which small-integer ratios like jaccard
    * 7/160 actually hit. Oracle SQL must use the same formula. */
  def pround(c: Column, dp: Int): Column = {
    val f = math.pow(10, dp)
    floor(c * f + 0.5).cast("double") / f
  }

  /** The driver-side twin of the Column form: the identical IEEE ops. */
  def pround(x: Double, dp: Int): Double = {
    val f = math.pow(10, dp)
    math.floor(x * f + 0.5) / f
  }
}
