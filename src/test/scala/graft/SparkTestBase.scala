package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** One shared local session for the whole forked test JVM. */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.warehouse.dir",
        graft.sources.Export.tempDir("graft_wh_").toString)
      .config("spark.sql.autoBroadcastJoinThreshold", "-1") // let bucketed SMJ show
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    // installed up front, as SparkEntry.queries and GraftApi do, so the
    // order in which specs run cannot change the shared session's plans
    org.apache.spark.sql.graftext.SmallSort.install(s)
    s
  }
}

abstract class SparkTestBase extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark
  val sfDir = "/root/testdata/sf0.001"

  /** Spark jobs `body` starts from this thread, counted on the drained
    * listener bus (a job group tags them, so jobs other threads run in
    * the meantime do not count). */
  protected def jobsDuring[A](body: => A): (A, Int) = {
    import java.util.concurrent.atomic.AtomicInteger
    import org.apache.spark.graft.BusDrain
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    val group = s"jobs-during-${System.nanoTime()}"
    val n = new AtomicInteger
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == group))
          n.incrementAndGet()
    }
    BusDrain.drain(sc)
    sc.addSparkListener(l)
    sc.setJobGroup(group, "jobs counted by a spec")
    try {
      val a = body
      BusDrain.drain(sc)
      (a, n.get)
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(l)
    }
  }

  /** Flatten a physical plan tree, traversing AQE query-stage boundaries
    * — the reliable way to assert on post-AQE plan structure (the
    * rendered string embeds the Initial Plan section too). */
  protected def flattenPlan(p: org.apache.spark.sql.execution.SparkPlan)
      : Seq[org.apache.spark.sql.execution.SparkPlan] = {
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
    val kids = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case s: QueryStageExec        => Seq(s.plan)
      case r: ReusedExchangeExec    => Seq(r.child)
      case other                    => other.children
    }
    p +: kids.flatMap(flattenPlan)
  }
}
