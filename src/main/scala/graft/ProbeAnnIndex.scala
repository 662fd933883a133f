package graft

import org.apache.spark.sql.functions._

/** Scale-probe main for the PERSISTED ANN index (r15): build the IVF-PQ
  * index once on a ScaleGen'd embeddings corpus, store it, then serve
  * query batches from the STORED index. The claim under test: query
  * cost scales with the index (one codes scan + bounded refine), not
  * the build (driver quantizer training + full-corpus assignment +
  * encoding) — and incremental append costs O(increment), never a
  * rebuild.
  *
  * Usage: ProbeAnnIndex <scaledSfDir> [k] [nprobe]
  * Prints one JSON line with build/write, query (x2), and append
  * timings plus row counts.
  */
object ProbeAnnIndex {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: ProbeAnnIndex <scaledSfDir> [k] [nprobe]")
    val dir = args(0)
    val k = if (args.length > 1) args(1).toInt else 5
    val nprobe = if (args.length > 2) args(2).toInt else 4
    val spark = Sessions.create(Sessions.cpus)
    import graft.operators.Similarity

    val e = Tables.t(spark, dir, "embeddings")
    // hold out ~1% as the incremental batch (the daily-crawl shape)
    val base = e.filter(pmod(col("vec_id"), lit(100)) =!= 37)
    val incr = e.filter(pmod(col("vec_id"), lit(100)) === 37)
    val queries = e.filter(col("vec_id") < 20)
    val root = graft.sources.Export.tempDir("graft_ann_probe_").toString

    def timed[A](body: => A): (A, Double) = {
      val t0 = System.nanoTime()
      val a = body
      (a, (System.nanoTime() - t0) / 1e9)
    }

    val nBase = base.count()
    val nIncr = incr.count()
    val (_, buildS) = timed {
      Similarity.writeIndex(Similarity.buildIvfPqIndex(base), root)
    }
    // build-time persists must not subsidize the serve path: the probe's
    // claim is a COLD reader of the stored index
    Caches.release()
    val (stored1, openS) = timed(Similarity.readIndex(spark, root))
    val (q1Rows, q1S) = timed(
      Similarity.queryIndex(stored1, e, queries, k, nprobe).count())
    Caches.release()
    val (q2Rows, q2S) = timed(
      Similarity.queryIndex(Similarity.readIndex(spark, root), e, queries,
        k, nprobe).count())
    Caches.release()
    val (v2, appendS) = timed(Similarity.appendToIndex(spark, root, incr))
    val (nCodes, _) = timed(
      graft.sources.Snapshots.readLatest(spark, s"$root/codes").count())
    // maintenance leg: equality-delete ~1% and serve through the
    // merge-on-read path — the erase cost must also be O(marker), and
    // the post-delete query must still be flat
    Caches.release()
    val (_, delS) = timed(Similarity.deleteFromIndex(spark, root,
      e.filter(pmod(col("vec_id"), lit(100)) === 51).select(col("vec_id"))))
    val (q3Rows, q3S) = timed(
      Similarity.queryIndex(Similarity.readIndex(spark, root), e, queries,
        k, nprobe).count())
    println(graft.registries.Jsonl.line("metric" -> "ann_index_probe", "dir" -> dir,
      "n_base" -> nBase, "n_incr" -> nIncr, "build_write_s" -> buildS, "open_s" -> openS,
      "query1_s" -> q1S, "query2_s" -> q2S, "append_s" -> appendS,
      "q_rows" -> q1Rows, "q_rows2" -> q2Rows, "versions" -> v2,
      "codes_rows" -> nCodes, "delete_s" -> delS, "query3_s" -> q3S,
      "q_rows3" -> q3Rows, "k" -> k, "nprobe" -> nprobe))
    spark.stop()
  }
}
