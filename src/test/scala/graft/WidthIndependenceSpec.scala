package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graftext.QuerySession

/** A query's rows do not depend on the shuffle width it plans at: each
  * key below returns the same canonical (sorted) rows at one shuffle
  * partition and at four. The keys are the benchmark's `queries`
  * workload, the two stateful streaming replays, a sampling key and
  * the iterative graph key — the shapes where a width could leak into
  * a result through a partition-local order, a per-partition state
  * store or a float fold. Each run is the raw query on a
  * [[QuerySession]] clone at that width. */
class WidthIndependenceSpec extends SparkTestBase {

  private val keys = Seq(
    "q1_agg", "evt_abtest", "dq_anova", "stream_window", "stream_dedup",
    "text_pii", "mm_phash", "graph_triangles",
    "stream_sessionize", "stream_dedup_replay", "sample_group", "graph_pagerank")

  // AQE off (the runner sessions' setting), so no exchange is
  // coalesced back to a narrower width
  private lazy val caller: SparkSession = {
    val s = spark.newSession()
    s.conf.set("spark.sql.adaptive.enabled", "false")
    s
  }

  private def rows(width: Int, key: String): Seq[String] =
    try QuerySession.run(caller, width)(SparkEntry.raw(key)(_, sfDir))
      .collect().map(_.toString).toSeq.sorted
    finally Caches.release()

  for (key <- keys) test(s"$key returns the same rows at shuffle width 1 and 4") {
    val one = rows(1, key)
    assert(one.nonEmpty, s"$key returned no rows")
    assert(one == rows(4, key), key)
  }
}
