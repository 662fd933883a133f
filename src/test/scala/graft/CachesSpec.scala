package graft

import org.apache.spark.sql.functions._

/** The unpersist discipline: every operator pins its intermediates via
  * Caches.persistTracked, so ONE Caches.release() after a query's final
  * action must return the session to its baseline pin set — a
  * long-lived embedding application then never accumulates dead cached
  * tables across queries (the pre-r7 leak: Rank cells, LSH signatures,
  * RFM bases stayed pinned until a blanket clearCache). Assertions are
  * RELATIVE to a recorded baseline because the shared test JVM may
  * hold localCheckpoint RDDs from other specs, which clearCache does
  * not (and must not) touch. */
class CachesSpec extends SparkTestBase {

  // cached DataFrames register their RDD here on first materialization,
  // and unpersist removes the entry synchronously
  private def pinnedIds: Set[Int] =
    spark.sparkContext.getPersistentRDDs.keySet.toSet

  test("release() drops every pin of a rank-backed query") {
    spark.catalog.clearCache()
    Caches.release()
    val base0 = pinnedIds
    // rel_rfm routes through Rank.ntileExactBy (2 tracked persists) on
    // a persistTracked customer base — 3+ pinned tables while running
    SparkEntry.queries("rel_rfm")(spark, sfDir).collect()
    assert(Caches.trackedCount > 0,
      "rel_rfm should have tracked persisted intermediates")
    assert(pinnedIds.size > base0.size)
    Caches.release()
    assert(pinnedIds.subsetOf(base0),
      "release() must unpin every tracked intermediate")
    assert(Caches.trackedCount == 0)
  }

  test("release() covers the LSH signature caches too") {
    Caches.release()
    val base0 = pinnedIds
    SparkEntry.queries("dedup_minhash")(spark, sfDir).collect()
    Caches.release()
    assert(pinnedIds.subsetOf(base0))
  }

  // the contingency grids of the chi-square and t-closeness checks
  for (key <- Seq("dq_chi2", "dq_tcloseness"))
    test(s"release() covers the $key grid too") {
      Caches.release()
      val base0 = pinnedIds
      SparkEntry.queries(key)(spark, sfDir).collect()
      assert(Caches.trackedCount > 0, s"$key should track its persisted grid")
      Caches.release()
      assert(pinnedIds.subsetOf(base0))
    }

  test("double release and releasing an already-unpersisted table are no-ops") {
    import Caches._
    Caches.release()
    val base0 = pinnedIds
    val d = spark.range(10).toDF("i").persistTracked()
    d.count()
    d.unpersist(blocking = true) // operator-side early release
    Caches.release()
    Caches.release()
    assert(pinnedIds.subsetOf(base0) && Caches.trackedCount == 0)
  }

  test("tracked persist keeps the cache pin (and reuse) until released") {
    import Caches._
    Caches.release()
    val base0 = pinnedIds
    val base = spark.range(100).toDF("i")
      .withColumn("h", md5(col("i").cast("string"))).persistTracked()
    val joined = base.as("a").join(base.as("b"), "h")
    assert(joined.count() == 100)
    assert(base.storageLevel.useMemory)
    Caches.release()
    assert(pinnedIds.subsetOf(base0))
  }
}
