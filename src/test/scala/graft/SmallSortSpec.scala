package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.physical.{RangePartitioning, SinglePartition}
import org.apache.spark.sql.execution.{SortExec, SparkPlan, TakeOrderedAndProjectExec}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftext.SmallSort
import org.apache.spark.sql.streaming.Trigger
import graft.operators.{Broadcasting, Sizing}

/** A global sort whose input estimate fits the broadcast cap plans in one
  * partition — no range exchange, no sampling job — and returns the rows
  * in the same order as Spark's own plan. */
class SmallSortSpec extends SparkTestBase {

  /** A fresh session state with AQE off (the runner sessions' local
    * setting, under which one job is one job), with or without the
    * strategy. */
  private def session(withSmallSort: Boolean): SparkSession = {
    val s = spark.newSession()
    s.conf.set("spark.sql.adaptive.enabled", "false")
    if (withSmallSort) SmallSort.install(s)
    s
  }

  private def data(s: SparkSession): DataFrame = {
    import s.implicits._
    (0 until 300).map { i =>
      (if (i % 7 == 0) null else s"k${i % 13}",
        if (i % 11 == 0) None else Some((i * 37 % 101) / 3.0),
        i.toLong)
    }.toDF("s", "d", "id").repartition(4)
  }

  // multi-key, desc, nulls first and last, strings and doubles; `id`
  // makes each a total order, so the expected row order is unique
  private val orders: Seq[Seq[Column]] = Seq(
    Seq(col("s").asc_nulls_first, col("d").desc, col("id")),
    Seq(col("d").desc_nulls_last, col("s").asc_nulls_last, col("id").desc),
    Seq(col("s").desc_nulls_first, col("d").asc_nulls_first, col("id")),
    Seq(col("d").asc_nulls_last, col("id")))

  private def exchanges(p: SparkPlan) =
    flattenPlan(p).collect { case e: ShuffleExchangeExec => e.outputPartitioning }

  private def rangeSorted(p: SparkPlan): Boolean =
    exchanges(p).exists(_.isInstanceOf[RangePartitioning])

  test("a small orderBy plans Exchange SinglePartition and runs one job") {
    val df = data(session(withSmallSort = true)).orderBy(orders.head: _*)
    val plan = df.queryExecution.executedPlan
    assert(exchanges(plan).contains(SinglePartition), plan.treeString)
    assert(!rangeSorted(plan), plan.treeString)
    assert(flattenPlan(plan).exists { case s: SortExec => s.global; case _ => false })
    val (_, jobs) = jobsDuring(df.collect())
    assert(jobs == 1)
    // Spark's own plan: the range partitioner's sampling job, then the sort
    val plain = data(session(withSmallSort = false)).orderBy(orders.head: _*)
    assert(rangeSorted(plain.queryExecution.executedPlan))
    assert(jobsDuring(plain.collect())._2 == 2)
  }

  test("rows come out in the same order as without the strategy") {
    val (on, off) = (session(withSmallSort = true), session(withSmallSort = false))
    orders.foreach { o =>
      val got = data(on).orderBy(o: _*)
      assert(!rangeSorted(got.queryExecution.executedPlan))
      assert(got.collect().toSeq == data(off).orderBy(o: _*).collect().toSeq, o.mkString(", "))
    }
  }

  test("an estimate above the cap keeps the range exchange") {
    val s = session(withSmallSort = true)
    val sorted = data(s).orderBy(orders.head: _*).queryExecution.optimizedPlan
    assert(SmallSort.planSort(sorted, Broadcasting.capBytes).nonEmpty)
    assert(SmallSort.planSort(sorted, 0L).isEmpty)
    // a join product's estimate is the product of its sides' estimates
    val joined = s.range(3000).as("a").join(s.range(3000).as("b"), "id")
    assert(!Sizing.fits(joined, Broadcasting.capBytes))
    val big = joined.orderBy(col("id").desc)
    assert(rangeSorted(big.queryExecution.executedPlan))
    assert(big.collect().map(_.getLong(0)).toSeq == (2999L to 0L by -1L))
  }

  test("limit over orderBy still plans TakeOrderedAndProject") {
    val top = data(session(withSmallSort = true)).orderBy(orders.head: _*).limit(5)
    val plan = top.queryExecution.executedPlan
    assert(flattenPlan(plan).exists(_.isInstanceOf[TakeOrderedAndProjectExec]), plan.treeString)
    assert(!flattenPlan(plan).exists(_.isInstanceOf[SortExec]), plan.treeString)
    assert(top.collect().toSeq ==
      data(session(withSmallSort = false)).orderBy(orders.head: _*).limit(5).collect().toSeq)
  }

  test("install is idempotent") {
    val s = session(withSmallSort = false)
    SmallSort.install(s)
    SmallSort.install(s)
    assert(s.experimental.extraStrategies.count(_ == SmallSort) == 1)
  }

  test("a complete-mode streaming aggregation with orderBy returns the same rows") {
    val dir = sources.Export.tempDir("graft_smallsort_").toString + "/in"
    data(spark).write.parquet(dir)
    val schema = spark.read.parquet(dir).schema
    def drain(s: SparkSession): (Seq[org.apache.spark.sql.Row], SparkPlan) = {
      val name = s"graft_smallsort_${System.nanoTime()}"
      val q = s.readStream.schema(schema).parquet(dir)
        .groupBy("s").agg(count(lit(1)).as("n"), max("d").as("d"))
        .orderBy(col("n").desc, col("s").asc_nulls_first)
        .writeStream.format("memory").queryName(name).outputMode("complete")
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      val rows = s.table(name).collect().toSeq
      s.catalog.dropTempView(name)
      (rows, q.asInstanceOf[StreamingQueryWrapper].streamingQuery.lastExecution.executedPlan)
    }
    val (got, plan) = drain(session(withSmallSort = true))
    val (want, _) = drain(session(withSmallSort = false))
    assert(got.nonEmpty && got == want)
    assert(exchanges(plan).contains(SinglePartition) && !rangeSorted(plan), plan.treeString)
  }
}
