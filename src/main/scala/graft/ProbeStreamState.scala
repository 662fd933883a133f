package graft

import graft.streaming.EventStream
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.graftext.QuerySession

/** Scale-probe main for streaming STATE-STORE behavior: replays the
  * events corpus as a time-ordered multi-batch stream, so the watermark
  * actually advances between micro-batches and state expiry is
  * observable — run with SPARK_GRAFT_STREAM_STATS=1 to print each
  * stateful operator's peak state rows/bytes. The claim under test:
  * state is bounded by the HORIZON (≈ one time bucket), not corpus
  * size. Modes: `dedup`
  * ([[graft.streaming.EventStream.dedupWithinWatermarkReplay]]),
  * `leftjoin` ([[graft.streaming.EventStream.purchaseClickLeftJoinReplay]])
  * and `sessionize` ([[graft.streaming.EventStream.sessionStatsExpiring]]).
  *
  * Each leg runs on the query session a `SparkEntry.queries` key over
  * the same dir would get, so the faces plan as many state stores as
  * they do there.
  *
  * Usage: ProbeStreamState <sfDir> [nFiles] [dedup|leftjoin|sessionize]
  * Prints one JSON line per leg (cold, then warm) with the verdict
  * fields and the wall seconds.
  */
object ProbeStreamState {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: ProbeStreamState <sfDir> [nFiles] [dedup|leftjoin|sessionize]")
    val dir = args(0)
    val nFiles = if (args.length > 1) args(1).toInt else 30
    val mode = if (args.length > 2) args(2) else "dedup"
    val events = s"$dir/events.parquet"
    // the probe's name, its verdict row, and the verdict fields it prints
    val (probe, verdict, fields): (String, SparkSession => DataFrame, Seq[String]) = mode match {
      case "dedup" => ("stream_dedup_wm_replay",
        EventStream.dedupWithinWatermarkReplay(_, events, nFiles),
        Seq("n_out", "n_expected", "all_unique"))
      case "leftjoin" => ("stream_left_join_replay",
        EventStream.purchaseClickLeftJoinReplay(_, events, nFiles),
        Seq("n_out", "n_null", "n_expected", "n_null_expected", "matches_batch"))
      case "sessionize" => ("stream_sessionize_expiring",
        EventStream.sessionStatsExpiring(_, events, nFiles),
        Seq("n_users", "sessions", "events", "matches_batch"))
      case other => throw new IllegalArgumentException(
        s"unknown probe mode: $other (use dedup | leftjoin | sessionize)")
    }
    val spark = Sessions.create(Sessions.cpus)
    for (leg <- Seq("cold", "warm")) {
      val t0 = System.nanoTime()
      val row = QuerySession.sized(spark, dir)(verdict(_).head())
      val sec = (System.nanoTime() - t0) / 1e9
      println(graft.registries.Jsonl.line(
        Seq("probe" -> probe, "leg" -> leg, "dir" -> dir, "nFiles" -> nFiles) ++
          fields.map(f => f -> row.getAs[Long](f)) :+ ("sec" -> sec): _*))
    }
    spark.stop()
  }
}
