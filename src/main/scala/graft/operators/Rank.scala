package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Caches._

/** Distributed exact ranking WITHOUT a single-partition window — the
  * shared two-level-scan helper behind every "global order over a
  * dimension table" readout (pareto concentration, RFM quintiles,
  * equi-depth histograms).
  *
  * Shape (the q34_equidepth machinery, factored): tag each row with a
  * COARSE CELL aligned with the leading sort key, fold the corpus to
  * per-cell counts, compute each cell's prefix offset, broadcast the
  * offsets back, and row_number WITHIN each cell — global_rank =
  * cell_offset + local_rank is exact while every shuffle stays
  * value-partitioned. The cell-grid prefix itself is one exclusive
  * running-sum window over the CELL TABLE ([[exclusivePrefix]]; Σ over
  * strictly-smaller cells): the grid is value-domain-bounded (price
  * cells, day cells, count buckets), and no window over data rows is
  * unpartitioned — `WindowExec: No Partition Defined` never fires.
  *
  * Correctness contract: `cell` must be monotone NON-DECREASING along
  * `order` (rows in a smaller cell sort strictly before rows in a
  * larger one), and `order` must be a TOTAL order (unique tie-break) —
  * the same contract the single-window form needs for determinism. */
object Rank {

  /** Exclusive running sums over a cell table (one row per (__grp,
    * __cell)): for each (column, out) pair, `out` = Σ column over the
    * strictly smaller cells of the same __grp, 0 for the first cell.
    * One running-sum window partitioned by __grp over a
    * value-domain-bounded table. Ungrouped callers tag a constant
    * __grp, as [[ntileExact]] does, BEFORE their persist: a constant
    * the optimizer can see is folded out of the partition spec. Every
    * summed column is BIGINT, so the prefix is exact whatever the
    * summation order. */
  private[operators] def exclusivePrefix(cells: DataFrame,
      sums: (String, String)*): DataFrame = {
    val before = Window.partitionBy("__grp").orderBy("__cell") // bounded: the cell table
      .rowsBetween(Window.unboundedPreceding, -1)
    cells.select(col("*") +: sums.map { case (c, out) =>
      coalesce(sum(c).over(before), lit(0L)).as(out) }: _*)
  }

  /** Adds `rkName` = exact global row_number along `order` and
    * `cumName` = exact global running sum of `measure` (inclusive,
    * ROWS semantics — ties resolved by the total order). */
  def rankedCumSum(df: DataFrame, cell: Column, order: Seq[Column],
      measure: Column, rkName: String = "rk",
      cumName: String = "cum"): DataFrame = {
    // persist the tagged input: the offsets aggregate AND the main
    // join both read it, and CHAINED rank passes (the RFM triple)
    // would otherwise replay each other's full plans multiplicatively
    val tagged = df.withColumn("__grp", lit(1L)).withColumn("__cell", cell)
      .persistTracked()
    val off = exclusivePrefix(tagged.groupBy("__grp", "__cell")
        .agg(count(lit(1)).as("__cnt"), sum(measure).as("__msum")),
      "__cnt" -> "__off", "__msum" -> "__moff")
      .drop("__cnt", "__msum")
    val wIn = Window.partitionBy("__cell").orderBy(order: _*)
    tagged.join(broadcast(off), Seq("__grp", "__cell"))
      .withColumn(rkName, col("__off") + row_number().over(wIn))
      .withColumn(cumName, col("__moff") + sum(measure).over(
        wIn.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .drop("__grp", "__cell", "__off", "__moff")
  }

  /** Adds `outName` = exact NTILE(`b`) along `order` — bit-identical
    * to the single-window `ntile(b)` (first n%b tiles hold ⌈n/b⌉
    * rows), computed from the distributed rank. */
  def ntileExact(df: DataFrame, cell: Column, order: Seq[Column],
      b: Int, outName: String): DataFrame =
    ntileExactBy(df, lit(1L), cell, order, b, outName)

  /** Grouped variant: exact NTILE(`b`) WITHIN each `grp` along
    * `order` — many independent rank problems in ONE two-level scan.
    * This is what keeps a multi-score readout (the RFM triple) at one
    * pass of fixed overhead instead of one pass PER score: stack the
    * problems with a tag column, call once, pivot back. Offsets and
    * totals become (grp × cell)- and grp-domain tables — still
    * broadcastable; the within-cell window partitions by (grp, cell). */
  def ntileExactBy(df: DataFrame, grp: Column, cell: Column,
      order: Seq[Column], b: Int, outName: String): DataFrame = {
    val tagged = df.withColumn("__grp", grp).withColumn("__cell", cell)
      .persistTracked() // see rankedCumSum
    val off = exclusivePrefix(tagged.groupBy("__grp", "__cell")
        .agg(count(lit(1)).as("__cnt")), "__cnt" -> "__off")
      .withColumn("__n_total", sum("__cnt").over(
        Window.partitionBy("__grp"))) // bounded: the cell table
      .drop("__cnt")
    val wIn = Window.partitionBy("__grp", "__cell").orderBy(order: _*)
    tagged.join(broadcast(off), Seq("__grp", "__cell"))
      .withColumn("__rk", col("__off") + row_number().over(wIn))
      .withColumn("__big", expr(s"__n_total DIV $b"))
      .withColumn("__rem", expr(s"__n_total % $b"))
      .withColumn(outName,
        when(col("__rk") <= col("__rem") * (col("__big") + 1),
          expr("(__rk - 1) DIV (__big + 1)") + 1)
          .otherwise(col("__rem")
            + expr("(__rk - 1 - __rem * (__big + 1)) DIV __big") + 1)
          .cast("long"))
      .drop("__grp", "__cell", "__off", "__rk", "__n_total", "__big", "__rem")
  }
}
