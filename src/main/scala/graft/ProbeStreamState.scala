package graft

/** Scale-probe main for streaming STATE-STORE behavior: replays the
  * events corpus as a time-ordered multi-batch stream through
  * `dropDuplicatesWithinWatermark`
  * ([[graft.streaming.EventStream.dedupWithinWatermarkReplay]]) so the
  * watermark actually advances between micro-batches and state expiry
  * is observable — run with SPARK_GRAFT_STREAM_STATS=1 to print each
  * batch's peak state rows/bytes. The claim under test: state is
  * bounded by the duplicate HORIZON (≈ one time bucket), not corpus
  * size.
  *
  * Usage: ProbeStreamState <sfDir> [nFiles]
  */
object ProbeStreamState {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: ProbeStreamState <sfDir> [nFiles]")
    val dir = args(0)
    val nFiles = if (args.length > 1) args(1).toInt else 30
    val spark = Sessions.create(Sessions.cpus)
    val mode = if (args.length > 2) args(2) else "dedup"
    for (leg <- Seq("cold", "warm")) {
      val t0 = System.nanoTime()
      mode match {
        case "dedup" =>
          val row = graft.streaming.EventStream
            .dedupWithinWatermarkReplay(spark, s"$dir/events.parquet", nFiles).head()
          val sec = (System.nanoTime() - t0) / 1e9
          println(f"""{"probe":"stream_dedup_wm_replay","leg":"$leg","dir":"$dir","nFiles":$nFiles,"n_out":${
            row.getLong(0)},"n_expected":${row.getLong(2)},"all_unique":${
            row.getLong(3)},"sec":$sec%.2f}""")
        case "leftjoin" =>
          val row = graft.streaming.EventStream
            .purchaseClickLeftJoinReplay(spark, s"$dir/events.parquet", nFiles).head()
          val sec = (System.nanoTime() - t0) / 1e9
          println(f"""{"probe":"stream_left_join_replay","leg":"$leg","dir":"$dir","nFiles":$nFiles,"n_out":${
            row.getLong(0)},"n_null":${row.getLong(1)},"n_expected":${
            row.getLong(2)},"n_null_expected":${row.getLong(3)},"matches_batch":${
            row.getLong(4)},"sec":$sec%.2f}""")
        case "sessionize" =>
          val row = graft.streaming.EventStream
            .sessionStatsExpiring(spark, s"$dir/events.parquet", nFiles).head()
          val sec = (System.nanoTime() - t0) / 1e9
          println(f"""{"probe":"stream_sessionize_expiring","leg":"$leg","dir":"$dir","nFiles":$nFiles,"n_users":${
            row.getLong(0)},"sessions":${row.getLong(1)},"events":${
            row.getLong(2)},"matches_batch":${row.getLong(3)},"sec":$sec%.2f}""")
        case other => throw new IllegalArgumentException(
          s"unknown probe mode: $other (use dedup | leftjoin | sessionize)")
      }
    }
    spark.stop()
  }
}
