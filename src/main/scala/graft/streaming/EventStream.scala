package graft.streaming

import java.util.concurrent.atomic.AtomicLong
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, Trigger}
import org.apache.spark.sql.types.{DoubleType, LongType, StringType, StructField, StructType}

/** Structured Streaming surface over the events table: the same windowed
  * aggregation as the batch path, expressed as readStream → window agg →
  * sink. `hourlyCounts` uses Trigger.AvailableNow against the static
  * parquet (deterministic, so it is oracle-checkable); a production
  * deployment points the same code at a live directory/Kafka source and
  * adds the watermark that `hourlyCountsStreaming` shows.
  */
object EventStream {
  private val n = new AtomicLong(0)

  /** The file streaming source lists a DIRECTORY; select one file via a
    * glob filter so `path` may point at a single parquet file. */
  private def splitPath(path: String): (String, String) = {
    val i = path.lastIndexOf('/')
    require(i > 0, s"expected a directory-qualified path, got: $path")
    (path.substring(0, i), path.substring(i + 1))
  }

  /** Streaming source over one parquet file/dir with the events-table ts
    * normalization applied (nanos-long → µs timestamp). */
  private def source(spark: SparkSession, path: String): DataFrame = {
    val schema = graft.Tables.schemaOf(spark, path)
    // a table may be a single FILE (the driver's testdata) or a parquet
    // DIRECTORY (anything Spark wrote, e.g. ScaleGen probe corpora). A
    // directory streams directly; a file needs the parent-dir + name
    // glob (the glob applies to LEAF files, so pointing it at a
    // directory's name would match nothing and stream zero rows — the
    // r13 streaming probe found exactly that)
    val st =
      if (new java.io.File(path).isDirectory)
        spark.readStream.schema(schema).parquet(path)
      else {
        val (dir, file) = splitPath(path)
        spark.readStream.schema(schema).option("pathGlobFilter", file).parquet(dir)
      }
    graft.Tables.normalizeTs(st)
  }

  /** The state ACCESS SHAPE of a stateful face — the axis the r14 x600
    * provider triple measured the RocksDB-vs-HDFSBacked trade along:
    *  - [[StateShape.HighChurn]]: many keys cycling through a SMALL live
    *    set (EventTimeTimeout sessionize, per-key latest-state upserts).
    *    Wall clock is dominated by the HDFSBacked per-batch on-heap
    *    state-map rebuild; RocksDB was 2.1x FASTER outright at x600.
    *  - [[StateShape.ScanHeavy]]: big per-bucket state scanned each
    *    batch (watermark dedup replay: 2M-row buckets; interval joins).
    *    RocksDB paid 1.6–2.0x wall for 1.6–8x less memory — the trade a
    *    cluster makes under memory pressure, not by default. */
  private[graft] sealed trait StateShape
  private[graft] object StateShape {
    case object HighChurn extends StateShape
    case object ScanHeavy extends StateShape
  }

  private val RocksDbProvider =
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  /** Resolve the state-store provider for a face shape from config —
    * extracted pure so the per-face mapping is spec-assertable.
    * Precedence: `SPARK_GRAFT_STATE_PROVIDER` (explicit, every face —
    * the probe/bench override) > `SPARK_GRAFT_PROFILE=cluster` (the
    * MEASURED per-face defaults: RocksDB for high-churn faces, default
    * HDFSBacked-with-headroom for scan-heavy ones) > unset (Spark's
    * default provider everywhere — local gate runs unchanged). The
    * shorthand `rocksdb` expands to Spark's RocksDBStateStoreProvider. */
  private[graft] def resolveProvider(shape: StateShape,
      env: Map[String, String]): Option[String] =
    env.get("SPARK_GRAFT_STATE_PROVIDER")
      .map(p => if (p.equalsIgnoreCase("rocksdb")) RocksDbProvider else p)
      .orElse {
        if (env.get("SPARK_GRAFT_PROFILE").exists(_.equalsIgnoreCase("cluster"))
            && shape == StateShape.HighChurn) Some(RocksDbProvider)
        else None
      }

  /** A stateful face's shuffle width: `SPARK_GRAFT_STATE_PARTITIONS`,
    * else `default`. */
  def statePartitionsFrom(env: Map[String, String], default: Long): Long =
    graft.Sessions.knob(env, "SPARK_GRAFT_STATE_PARTITIONS", default, min = 1)

  /** A fresh session for a STATEFUL face: one state store per shuffle
    * partition, at the width of the session it is handed (a
    * `SparkEntry.queries` session is already sized from its input rows,
    * so at gate SFs the per-store bookkeeping does not outweigh the
    * data; `SPARK_GRAFT_STATE_PARTITIONS` overrides for clusters where
    * store count must track key cardinality) + the state-store provider
    * resolved per face shape ([[resolveProvider]]). */
  private def statefulSession(spark0: SparkSession,
      shape: StateShape = StateShape.ScanHeavy): SparkSession = {
    val s = spark0.newSession()
    s.conf.set("spark.sql.shuffle.partitions", statePartitionsFrom(sys.env,
      spark0.conf.get("spark.sql.shuffle.partitions").toLong).toString)
    resolveProvider(shape, sys.env.toMap).foreach(
      s.conf.set("spark.sql.streaming.stateStore.providerClass", _))
    s
  }

  /** Run a streaming DataFrame to a memory sink with AvailableNow and
    * return the sink table. The sink's temp view is dropped once the
    * table has resolved: the analyzed plan holds the sink itself, so
    * the returned DataFrame reads the same rows, and the session no
    * longer pins every drained row for its whole lifetime. */
  private def runToMemory(spark: SparkSession, df: DataFrame, mode: String): DataFrame = {
    val name = s"graft_stream_sink_${n.incrementAndGet()}"
    val q = df.writeStream.format("memory").queryName(name)
      .outputMode(mode).trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    printStateStats(q, name)
    val sink = spark.table(name)
    spark.catalog.dropTempView(name)
    sink
  }

  /** Scale-probe observability (SPARK_GRAFT_STREAM_STATS=1): the
    * state-store footprint is THE streaming scale risk — print each
    * stateful operator's peak state rows/bytes across the drain's
    * micro-batches, so an xN probe can verify state stays bounded by
    * the design horizon (watermark / session gap), not corpus size. */
  private def printStateStats(q: org.apache.spark.sql.streaming.StreamingQuery,
                              name: String): Unit =
    if (sys.env.contains("SPARK_GRAFT_STREAM_STATS")) {
      val ps = q.recentProgress
      val byOp = ps.flatMap(p => p.stateOperators.map(so =>
          (so.operatorName, so.numRowsTotal, so.memoryUsedBytes)))
        .groupBy(_._1).toSeq.sortBy(_._1)
      // provider evidence: RocksDB-only custom metrics appear iff the
      // provider actually engaged (a silent fall-through to HDFSBacked
      // would otherwise be invisible in rows/bytes at small scale)
      val rocks = ps.flatMap(_.stateOperators).exists(
        _.customMetrics.keySet.asScala.exists(_.startsWith("rocksdb")))
      byOp.foreach { case (op, xs) =>
        println(s"[stream-state] sink=$name batches=${ps.length} op=$op " +
          s"maxRows=${xs.map(_._2).max} maxBytes=${xs.map(_._3).max} " +
          s"rocksdb=$rocks")
      }
    }

  /** Bounded run: process everything currently in `path`, return the final
    * windowed counts as a batch DataFrame. */
  def hourlyCounts(spark: SparkSession, path: String): DataFrame =
    runToMemory(spark,
      source(spark, path)
        .groupBy(window(col("ts"), "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("n")),
      "complete")
      .select(date_format(col("window.start"), "yyyy-MM-dd HH:00").as("hour"),
        col("event_type"), col("n"))
      .orderBy("hour", "event_type")

  /** SLIDING-window streaming counts (2h windows advancing hourly):
    * every event lands in TWO overlapping windows — the mode tumbling
    * windows cannot express (a "last 2 hours" readout updated hourly),
    * and the state-size tradeoff that comes with it (window/slide
    * copies of state per key; the watermark still bounds it). The
    * oracle replays the window assignment arithmetic: an event at t
    * belongs to the windows starting at trunc(t,1h) and
    * trunc(t,1h) − 1h. */
  def slidingCounts(spark: SparkSession, path: String): DataFrame =
    runToMemory(spark,
      source(spark, path)
        .groupBy(window(col("ts"), "2 hours", "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("n")),
      "complete")
      .select(date_format(col("window.start"), "yyyy-MM-dd HH:00")
        .as("win_start"), col("event_type"), col("n"))
      .orderBy("win_start", "event_type")

  /** Unbounded shape with watermarked late-data handling — the plan a live
    * deployment runs (returned unstarted; callers pick sink + trigger).
    * Exercised in EventsSpec with an AvailableNow append run. */
  def hourlyCountsStreaming(spark: SparkSession, path: String): DataFrame =
    source(spark, path)
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"))

  /** Stream-static join: enrich the event stream with a static dimension
    * (broadcast per micro-batch — the standard dimension-enrichment shape
    * for a live pipeline). Returns counts per enriched attribute. */
  def enrichedCounts(spark: SparkSession, eventsPath: String, dim: DataFrame,
                     joinKey: String, attr: String): DataFrame =
    runToMemory(spark,
      source(spark, eventsPath)
        .join(broadcast(dim), joinKey)
        .groupBy(attr)
        .agg(count(lit(1)).as("n")),
      "complete")
      .orderBy(attr)

  /** Streaming exact dedup: dropDuplicates holds the fingerprint set as
    * streaming state, so duplicates arriving in ANY later micro-batch are
    * dropped — the streaming twin of Dedup.exactGroups. Bounded run here;
    * a live deployment adds a watermark to age out state. Returns the
    * per-language counts of the deduplicated stream. */
  def dedupedLangCounts(spark: SparkSession, path: String): DataFrame =
    runToMemory(spark,
      source(spark, path)
        .select(col("lang"), md5(graft.operators.Dedup.normalized(col("text"))).as("fp"))
        .dropDuplicates("fp"),
      "append")
      .groupBy("lang").agg(count(lit(1)).as("n_unique")).orderBy("lang")

  /** At-least-once source dedup with BOUNDED state —
    * `dropDuplicatesWithinWatermark`: the answer to "the upstream
    * delivers duplicates" that [[dedupedLangCounts]]' plain
    * `dropDuplicates` cannot give at 100 TB (its state holds every key
    * ever seen, forever; this one expires keys once the watermark
    * passes their event time — state is bounded by the duplicate
    * horizon, not the stream's lifetime). The duplicate feed is
    * simulated by unioning the source with itself: every event arrives
    * exactly twice, inside the horizon, so the drained per-type counts
    * must equal the batch DISTINCT counts — the oracle. */
  def dedupWithinWatermark(spark: SparkSession, path: String): DataFrame = {
    val s1 = source(spark, path).withWatermark("ts", "1 hour")
    val s2 = source(spark, path).withWatermark("ts", "1 hour")
    runToMemory(spark,
      s1.union(s2).dropDuplicatesWithinWatermark("event_id"),
      "append")
      .groupBy("event_type").agg(count(lit(1)).as("n"))
      .orderBy("event_type")
  }

  /** Staged-replay sanity gate: every bucket file must be readable
    * parquet (footer-only check — no data scan), and mtime order (what
    * the file source processes by) must match lexicographic bucket-name
    * order (how [[stage]] encodes replay order). A violation fails HERE,
    * with the file named, instead of the two silent failure modes it
    * would otherwise become: a corrupt or truncated bucket kills the
    * query mid-drain with a task-level error, and an out-of-order mtime
    * makes the watermark jump ahead and silently DROP the late bucket's
    * events (verdicts would read wrong with no pointer to why). The r13
    * probe found the silent-zero-rows class of failure in `source()`;
    * this pins the staged-replay class. Zero-ROW buckets are legal (a
    * quiet time range); zero-BYTE or garbage files are not. */
  private[graft] def validateStagedDir(dir: String): Unit = {
    val files = Option(new java.io.File(dir).listFiles()).getOrElse(Array.empty)
      .filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
    require(files.nonEmpty, s"staged replay dir has no bucket files: $dir")
    files.foreach { f =>
      try graft.registries.ParquetMeta.rowCount(f.getPath)
      catch {
        case e: Exception => throw new IllegalArgumentException(
          s"staged bucket file is not readable parquet: ${f.getPath}", e)
      }
    }
    files.sliding(2).foreach {
      case Array(a, b) => require(a.lastModified <= b.lastModified,
        s"staged bucket files out of mtime order: ${b.getName} has an older " +
          s"mtime than ${a.getName} — the file source replays by mtime, so " +
          "the watermark would jump ahead and silently drop the late bucket")
      case _ => ()
    }
  }

  /** A staged replay corpus: its dir and the schema its files carry. */
  private case class Staged(dir: String, schema: StructType)

  // staged dirs are immutable once written: reuse per staging key per
  // JVM — repeated drains (bench warm runs, specs) skip the re-write,
  // the same pay-the-layout-once shape as Bucketing.written
  private val stagedDirs = scala.collection.concurrent.TrieMap[String, String]()

  /** The one stager of the replay faces. `parts` puts named parts in
    * replay order; each becomes ONE parquet file `<name>.parquet`, and
    * the files' mtimes follow the order of the puts (the order the file
    * source replays in), so part names must sort in that order too. A
    * part's `_stage_<name>` write dir is deleted once its file has moved
    * out. Cached per `key` per JVM; [[validateStagedDir]] gates fresh
    * and cached dirs alike, and the schema comes from the files' footers. */
  private def stage(spark: SparkSession, key: String)(
      parts: ((String, DataFrame) => Unit) => Unit): Staged = {
    val dir = stagedDirs.getOrElseUpdate(key, {
      import java.nio.file.{Files, StandardCopyOption}
      val d = graft.sources.Export.tempDir("graft_stream_stage_")
      val placed = scala.collection.mutable.ArrayBuffer[java.io.File]()
      parts { (name, df) =>
        val tmp = d.resolve(s"_stage_$name")
        df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
        tmp.toFile.listFiles()
          .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
          .foreach { p =>
            val dst = d.resolve(s"$name.parquet")
            Files.move(p.toPath, dst, StandardCopyOption.REPLACE_EXISTING)
            placed += dst.toFile
          }
        graft.sources.Export.deleteTree(tmp)
      }
      // a minute apart, the last one now
      val now = System.currentTimeMillis()
      placed.zipWithIndex.foreach { case (f, i) =>
        f.setLastModified(now - (placed.length - 1 - i) * 60000L)
      }
      d.toString
    })
    // validate fresh AND cached retrievals: footers only, so the gate is
    // cheap next to the drain it protects
    validateStagedDir(dir)
    Staged(dir, graft.registries.ParquetMeta.read(spark, dir).schema)
  }

  /** The one replay source: a staged dir streamed ONE FILE PER
    * MICRO-BATCH, oldest mtime first, so the watermark advances between
    * files and state expiry is observable. */
  private def replay(spark: SparkSession, staged: Staged): DataFrame =
    spark.readStream.schema(staged.schema)
      .option("maxFilesPerTrigger", "1")
      .option("pathGlobFilter", "*.parquet")
      .parquet(staged.dir)

  /** Stage the events table into `nFiles` TIME-BUCKETED parquet files —
    * the live-arrival replay corpus the bounded-state faces stream
    * through [[replay]] (each bucket = one micro-batch, so watermarks
    * advance and state expiry is observable). `doubled` plants every
    * event twice (the at-least-once duplicate feed); `sentinel` appends
    * a far-future final file (one impossible purchase + click, negative
    * ids, +30 days) that pushes the global watermark past every real
    * event — the outer-join flush idiom of [[purchaseClickLeftJoin]]. */
  private def stageTimeBuckets(spark: SparkSession, path: String, nFiles: Int,
                               doubled: Boolean, sentinel: Boolean): Staged =
    stage(spark, s"buckets:$nFiles:$doubled:$sentinel:$path") { put =>
      // ids cast to long explicitly: the sentinel file below writes LONG
      // ids, and a driver regeneration narrowing the source to INT32
      // would otherwise leave the staged dir mixed-type — the streaming
      // schema comes from ONE footer, so the mix mis-reads (ADVICE r13;
      // same hazard Tables.t widening guards on the batch side)
      val batch = graft.Tables.normalizeTs(spark.read.parquet(path))
        .select(col("event_id").cast("long").as("event_id"), col("ts"),
          col("user_id").cast("long").as("user_id"), col("event_type"))
      val (minUs, maxUs) = {
        val r = batch.agg(min(unix_micros(col("ts"))), max(unix_micros(col("ts")))).head()
        (r.getLong(0), r.getLong(1))
      }
      val fed = if (doubled) batch.union(batch) else batch
      val bucketed = fed
        .withColumn("b", ((unix_micros(col("ts")) - minUs) * nFiles /
          (maxUs - minUs + 1)).cast("int"))
        .persist()
      for (b <- 0 until nFiles)
        put(f"$b%04d_bucket", bucketed.filter(col("b") === b).drop("b"))
      if (sentinel) {
        import spark.implicits._
        val flushUs = maxUs + 30L * 86400L * 1000000L
        put(f"$nFiles%04d_flush", Seq((-1L, flushUs, -1L, "purchase"), (-2L, flushUs, -2L, "click"))
          .toDF("event_id", "us", "user_id", "event_type")
          .select(col("event_id"), timestamp_micros(col("us")).as("ts"),
            col("user_id"), col("event_type")))
      }
      bucketed.unpersist()
    }

  /** The one parquet drain of the replay faces: run `df` to a parquet
    * sink with AvailableNow, print its state stats under `name`, and
    * return the drained rows. Parquet, not memory: a replayed stream is
    * corpus-sized and must never accumulate as driver-held rows at an
    * x300 probe. The checkpoint is deleted once the query has
    * terminated (the sink's own `_spark_metadata` log is what the
    * read-back goes through); the output dir stays, since the result
    * reads it lazily. */
  private def drainToParquet(spark: SparkSession, df: DataFrame, name: String): DataFrame = {
    val out = graft.sources.Export.tempDir(s"graft_${name}_out_").toString
    val ck = graft.sources.Export.tempDir(s"graft_${name}_ck_")
    val q = df.writeStream.format("parquet").option("path", out)
      .option("checkpointLocation", ck.toString)
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    try q.awaitTermination()
    finally if (!q.isActive) graft.sources.Export.deleteTree(ck)
    printStateStats(q, name)
    graft.registries.ParquetMeta.read(spark, out)
  }

  /** Horizon-bounded-state PROBE face of [[dedupWithinWatermark]]: the
    * registered gate face drains in ONE AvailableNow micro-batch, where
    * the watermark can only advance at the batch boundary — so its
    * state necessarily peaks at corpus size and says nothing about the
    * operator's real scale property. This face replays the corpus the
    * way a LIVE stream arrives: events time-bucketed into `nFiles`
    * mtime-ordered files (each event TWICE in its file — the
    * at-least-once duplicate feed), [[replay]] making each bucket its
    * own micro-batch, so the watermark advances bucket by bucket and
    * `dropDuplicatesWithinWatermark` EXPIRES state behind it. Bucket
    * spans exceed the 1 h horizon, so no event is ever late across
    * batches (bucket k+1's events are all newer than bucket k's max,
    * hence inside any watermark derived from it) and both copies of an
    * event co-arrive — the drained stream must be exactly unique.
    * Returns one verdict row (n_out, n_expected, all_unique); peak
    * state rows/bytes print via the SPARK_GRAFT_STREAM_STATS hook —
    * the probe's claim is peak ≈ horizon-bucket size, NOT corpus size. */
  def dedupWithinWatermarkReplay(spark0: SparkSession, path: String,
                                 nFiles: Int = 30): DataFrame = {
    val spark = statefulSession(spark0)
    val staged = stageTimeBuckets(spark, path, nFiles, doubled = true, sentinel = false)
    val drained = drainToParquet(spark,
      replay(spark, staged).withWatermark("ts", "1 hour")
        .dropDuplicatesWithinWatermark("event_id"),
      "wm_replay")
    val expected = graft.registries.ParquetMeta.read(spark, staged.dir)
      .select("event_id").distinct().count()
    drained.agg(
      count(lit(1)).as("n_out"),
      countDistinct(col("event_id")).as("n_distinct"))
      .select(col("n_out"), col("n_distinct"), lit(expected).as("n_expected"),
        (col("n_out") === col("n_distinct") && col("n_out") === lit(expected))
          .cast("long").as("all_unique"))
  }

  /** Streaming PSI drift monitor — the batch [[graft.operators.DataQuality
    * .valueDrift]] gate run continuously: the (half × bin) conditional
    * counts are STREAMING STATE (one stateful aggregate in complete
    * mode, partials merged per micro-batch exactly like the batch
    * aggregate merges map-side partials); PSI derives from the drained
    * state, so the monitor's final read-out is the batch monitor's
    * result by construction — binning and share/PSI algebra are the
    * same shared code, and the oracle is the same SQL.
    *
    * Scale shape: state is (event_types × 2 × bins) counters — bytes,
    * not data; a live deployment reads the PSI off the state table at
    * every trigger without rescanning history. */
  def driftMonitor(spark: SparkSession, path: String,
                   bounds: Seq[Double] = Seq(20.0, 40.0, 60.0, 80.0),
                   threshold: Double = 0.25): DataFrame = {
    import graft.operators.DataQuality
    val nb = bounds.length + 1
    val counts = runToMemory(spark,
      DataQuality.binTag(source(spark, path), bounds)
        .groupBy("event_type").agg(DataQuality.psiCounts(nb).head,
          DataQuality.psiCounts(nb).tail: _*),
      "complete")
    DataQuality.psiFromCounts(counts, nb, threshold)
  }

  /** Streaming percentiles: the KLL quantile sketch AS STREAMING STATE —
    * each micro-batch folds its values into the per-type sketch held by
    * the aggregation state store (TypedImperativeAggregate buffers
    * serialize into the state row), so a live pipeline answers
    * p50/p90/p99 with BOUNDED per-key memory forever — the streaming
    * twin of [[graft.operators.Events.valueQuantilesKll]], and the
    * reason mergeable sketches exist. Complete mode; the drained
    * type-domain sketch table decodes driver-side (bytes per type).
    *
    * Oracle-backed since r12: KLL compaction is insertion-order-
    * dependent, so the STREAMING sketch differs from the batch one —
    * but both live inside the same rank-error contract, and
    * [[graft.operators.Events.kllVerdictReadout]] gates exactly that
    * (exact percentiles out, integer rank-bound verdicts on the
    * streamed sketch's answers). */
  def quantilesStream(spark: SparkSession, path: String): DataFrame = {
    import org.apache.spark.sql.graftext.KllSketchAgg
    val drained = runToMemory(spark,
      source(spark, path).groupBy("event_type")
        .agg(KllSketchAgg.kllSketch(col("value")).as("sk")),
      "complete")
    val sk = drained.collect() // bounded: event-type domain
      .map(r => (r.getString(0), r.getAs[Array[Byte]](1))).sortBy(_._1)
    graft.operators.Events.kllVerdictReadout(
      graft.Tables.normalizeTs(spark.read.parquet(path)), sk)
  }

  /** Streaming ingestion INTO the manifest table — the bridge between
    * the streaming surface and the table format: each micro-batch
    * lands as a snapshot version through
    * [[graft.sources.Snapshots.commitStreamBatch]], whose `#txn:`
    * epoch fence rides INSIDE the atomic manifest commit, so a
    * restarted query redelivering an epoch is fenced instead of
    * double-appended — exactly-once from an at-least-once trigger, the
    * Delta txn-appId recipe. The committed table then answers with
    * full snapshot semantics (time travel per micro-batch, vacuum,
    * metadata-only counts). Returns a whole-table aggregate the oracle
    * checks against the source — equality proves no batch was lost OR
    * doubled. */
  def snapshotSink(spark: SparkSession, path: String, root: String): DataFrame = {
    val q = source(spark, path)
      .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
      .writeStream
      .foreachBatch { (df: DataFrame, batchId: Long) =>
        graft.sources.Snapshots.commitStreamBatch(df, root, batchId); ()
      }
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    graft.sources.Snapshots.readLatest(spark, root)
      .agg(count(lit(1)).as("n_rows"),
        countDistinct(col("user_id")).as("n_users"),
        round(sum("value"), 2).as("sum_value"))
  }

  /** Streaming count-min: the d×w counter grid AS STREAMING STATE —
    * the grid is nothing but a grouped count on (depth, bucket), so the
    * engine's own streaming aggregation state store IS the sketch: each
    * micro-batch folds its keys in, per-key memory is bounded at d×w
    * counters forever, and ANY user's event count can be point-queried
    * without the stream ever materializing per-user state (the
    * cardinality that doesn't fit is exactly why CMS exists). Complete
    * mode; probes estimate against the drained grid. Unlike the KLL
    * twin, CMS state is ORDER-INVARIANT (counters only add), so the
    * drained grid equals the batch grid exactly and the estimates are
    * oracle-checkable — the strongest check a streaming sketch can
    * carry. Probes: user_ids 0,10,…,90 (present at every SF). */
  def cmsStream(spark: SparkSession, path: String, d: Int = 3, w: Int = 64): DataFrame = {
    val grid = runToMemory(spark,
      graft.operators.CountMin.sketch(
        source(spark, path).select(col("user_id").cast("string").as("term")), "term", d, w),
      "complete")
    import spark.implicits._
    val probes = (0 until 10).map(i => (i * 10).toString).toDF("term")
    graft.operators.CountMin.estimate(grid, probes, d, w)
      .select(col("term").cast("long").as("user_id"), col("n_est"))
      .orderBy("user_id")
  }

  /** The purchase/click interval join: purchases joined per user to the
    * clicks at most `hours` before them. BOTH sides carry watermarks and
    * the condition bounds event time in both directions — the pair that
    * lets Spark expire buffered join state on a stream. On a batch frame
    * `withWatermark` is a no-op, so the same code is the batch twin. */
  private def purchaseClickPairs(events: DataFrame, hours: Int, joinType: String): DataFrame = {
    val purchases = events.filter(col("event_type") === "purchase")
      .select(col("event_id").as("p_id"), col("user_id"), col("ts").as("p_ts"))
      .withWatermark("p_ts", "2 hours")
    val clicks = events.filter(col("event_type") === "click")
      .select(col("event_id").as("c_id"), col("user_id").as("c_user"),
        col("ts").as("c_ts"))
      .withWatermark("c_ts", "2 hours")
    purchases.join(clicks,
      col("user_id") === col("c_user") &&
        col("c_ts") >= col("p_ts") - expr(s"INTERVAL $hours HOURS") &&
        col("c_ts") <= col("p_ts"),
      joinType)
      .select(col("p_id"), col("c_id"))
  }

  /** Stream-stream join: purchases and clicks split from the live event
    * stream, joined within a bounded event-time interval
    * ([[purchaseClickPairs]]) — the requirement for an unbounded
    * deployment. Inner join, append mode. EventsSpec asserts exact
    * parity with the batch join twin. */
  def purchaseClickJoin(spark: SparkSession, path: String, hours: Int = 24): DataFrame = {
    // a stream-stream join keeps one state store PER SHUFFLE PARTITION
    // per side; plan THIS query on a cloned session (own SQLConf, shared
    // SparkContext) sized to the stream's key cardinality instead of
    // mutating the caller's conf — with the batch default of 32 the
    // per-store bookkeeping, not the data, dominated (measured 7.4→3.9 s)
    val s2 = statefulSession(spark)
    runToMemory(s2, purchaseClickPairs(source(s2, path), hours, "inner"), "append")
  }

  /** LEFT-OUTER stream-stream interval join — the remaining join mode
    * with real state semantics: a purchase with NO click in the window
    * emits with a NULL click id, and in Structured Streaming that null
    * row can only materialize once the GLOBAL watermark passes the point
    * where a match could still arrive (outer results ride on state
    * EXPIRY, not on data arrival). Draining deterministically therefore
    * needs the watermark pushed past every real purchase: the source is
    * staged as two files — the real events in one bucket, then a
    * far-future sentinel pair (one purchase, one click, distinct
    * impossible users so they cannot match anything) — and [[replay]]
    * makes the sentinel its own micro-batch, advancing BOTH sides'
    * watermarks so every buffered unmatched purchase expires and emits
    * its null row. Sentinels (negative ids) are filtered from the
    * result. A live deployment never drains — it just keeps running;
    * the sentinel is the bounded-run equivalent of "time passes". */
  def purchaseClickLeftJoin(spark: SparkSession, path: String, hours: Int = 24): DataFrame = {
    val s2 = statefulSession(spark)
    val staged = stageTimeBuckets(s2, path, nFiles = 1, doubled = false, sentinel = true)
    runToMemory(s2, purchaseClickPairs(replay(s2, staged), hours, "left_outer"), "append")
      .filter(col("p_id") >= 0)
  }

  /** Horizon-bounded-state PROBE face of [[purchaseClickLeftJoin]] —
    * the interval join is the streaming family's biggest state, and the
    * registered gate face's two-file drain (events, then sentinel)
    * necessarily buffers BOTH whole sides until the sentinel batch. This
    * face replays the corpus as `nFiles` time-ordered micro-batches
    * (the [[stageTimeBuckets]] corpus + the sentinel as the final
    * file), so the watermark advances per bucket and the join evicts:
    * clicks expire once no future purchase can reach back 24 h to them,
    * unmatched purchases emit their null row as soon as the watermark
    * passes them — peak state is ~one bucket plus the 26 h horizon, not
    * the corpus. Cross-bucket pairs (purchase early in bucket k+1,
    * click late in bucket k) stay matchable by exactly that horizon
    * retention, so the output is IDENTICAL to the batch left join —
    * returned as a verdict row against the batch-computed expectation. */
  def purchaseClickLeftJoinReplay(spark0: SparkSession, path: String,
                                  nFiles: Int = 30, hours: Int = 24): DataFrame = {
    val spark = statefulSession(spark0)
    val staged = stageTimeBuckets(spark, path, nFiles, doubled = false, sentinel = true)
    val drained = drainToParquet(spark,
      purchaseClickPairs(replay(spark, staged), hours, "left_outer"), "lj_replay")
      .filter(col("p_id") >= 0)
    // batch-computed expectation over the SAME staged data (sentinels out)
    val expected = purchaseClickPairs(
      graft.registries.ParquetMeta.read(spark, staged.dir).filter(col("event_id") >= 0),
      hours, "left_outer")
      .agg(count(lit(1)).as("n"), sum(col("c_id").isNull.cast("long")).as("n_null"))
      .head()
    val (expN, expNull) = (expected.getLong(0), expected.getLong(1))
    drained.agg(
      count(lit(1)).as("n_out"),
      sum(col("c_id").isNull.cast("long")).as("n_null"))
      .select(col("n_out"), col("n_null"),
        lit(expN).as("n_expected"), lit(expNull).as("n_null_expected"),
        (col("n_out") === lit(expN) && col("n_null") === lit(expNull))
          .cast("long").as("matches_batch"))
  }

  /** Horizon-bounded-state PROBE face of [[sessionStats]] — the
    * registered face's per-user state has NO timeout (its AvailableNow
    * + batch-oracle semantics never need one), so state grows with the
    * TOTAL user domain. Over an unbounded key domain the production
    * answer is `GroupStateTimeout.EventTimeTimeout`: once the watermark
    * passes a user's last event + gap, their session is CLOSED BY
    * DEFINITION (a later event would start a new session anyway), so
    * the state can emit its partial (sessions, events) counts and be
    * REMOVED — peak state is the concurrently-active users inside the
    * watermark horizon, not everyone ever seen. Partial emissions sum
    * to exactly the batch answer: timeout ⟹ the gap elapsed before the
    * user's next event (watermark ≤ every future ts + delay), and a
    * surviving state handles the gap check in its own fold. Replayed
    * over the [[stageTimeBuckets]] corpus (sentinel file pushes the
    * final watermark so every open state closes and emits). Returns a
    * verdict row against the batch [[graft.operators.Events
    * .sessionStats]] twin: n_users, total sessions/events, and
    * matches_batch. */
  def sessionStatsExpiring(spark0: SparkSession, path: String,
                           nFiles: Int = 30, gapMinutes: Int = 30): DataFrame = {
    val spark = statefulSession(spark0, StateShape.HighChurn)
    import spark.implicits._
    val gapUs = gapMinutes.toLong * 60L * 1000000L
    val staged = stageTimeBuckets(spark, path, nFiles, doubled = false, sentinel = true)
    val src = replay(spark, staged)
      .withWatermark("ts", s"$gapMinutes minutes")
      // ts STAYS in the projection — the watermark rides on it, and an
      // event-time timeout needs a watermarked column in the input
      .select(col("ts"), col("user_id"), unix_micros(col("ts")).as("us"),
        col("event_id"))
      .as[(java.sql.Timestamp, Long, Long, Long)]
    // Append output mode: each (uid, sessions, events) row is emitted
    // exactly once, at state closure — append-shaped by construction
    // (and the parquet sink the drain needs only supports Append)
    val closed = src
      .groupByKey(_._2)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (uid: Long, rows: Iterator[(java.sql.Timestamp, Long, Long, Long)],
         state: GroupState[SessionState]) =>
          if (state.hasTimedOut) {
            // the watermark passed lastUs + gap: every future event of
            // this user is > gap away, so the open session is closed —
            // emit the accumulated partial counts and DROP the state
            val s = state.get
            state.remove()
            Iterator.single((uid, s.nSessions, s.nEvents))
          } else {
            val s = foldSessions(state.getOption, rows.map(r => (r._3, r._4)), gapUs)
            state.update(s)
            // close the state once the watermark passes the session end
            state.setTimeoutTimestamp(s.lastUs / 1000L + gapMinutes * 60000L)
            Iterator.empty
          }
      }
    // partial closures sum to each user's totals; sentinels filtered
    val streamed = drainToParquet(spark,
      closed.toDF("user_id", "n_sessions", "n_events"), "sess_expiring")
      .filter(col("user_id") >= 0)
      .groupBy("user_id")
      .agg(sum("n_sessions").as("n_sessions"), sum("n_events").as("n_events"))
    // batch twin over the SAME staged data (sessionize carries only
    // ts/user_id/event_id — the staged projection; sessionStats itself
    // also sums `value`, which the staged corpus doesn't carry)
    val batch = graft.operators.Events.sessionize(
      graft.registries.ParquetMeta.read(spark, staged.dir)
        .filter(col("event_id") >= 0), gapMinutes)
      .groupBy("user_id")
      .agg(max("session_id").as("b_sessions"), count(lit(1)).as("b_events"))
    val cmp = streamed.join(batch, Seq("user_id"), "full_outer")
      .agg(count(lit(1)).as("n_users"),
        sum(col("n_sessions")).as("sessions"),
        sum(col("n_events")).as("events"),
        sum((coalesce(col("n_sessions"), lit(-1L)) =!= coalesce(col("b_sessions"), lit(-2L)) ||
          coalesce(col("n_events"), lit(-1L)) =!= coalesce(col("b_events"), lit(-2L)))
          .cast("long")).as("n_mismatch"))
    cmp.select(col("n_users"), col("sessions"), col("events"),
      (col("n_mismatch") === 0L).cast("long").as("matches_batch"))
  }

  /** Streaming CDC UPSERT sink — `foreachBatch` + [[graft.operators
    * .Maintenance.cdcMerge]]: the event stream is a change feed over a
    * per-user profile table ('error' = delete, anything else = upsert
    * of the user's latest type/value), applied incrementally one
    * micro-batch at a time. The month of changes is staged as three
    * LOG-ORDERED files (days 1–10 / 11–20 / 21+) that [[replay]] feeds
    * as three micro-batches, so later batches carry strictly newer
    * sequence numbers — exactly a CDC log's delivery contract, and the
    * property that makes incremental merge ≡ one global latest-wins
    * merge (the DuckDB oracle). Each batch costs O(batch + profile),
    * never O(history); state detaches from the streaming plan via eager
    * localCheckpoint.
    */
  def upsertedProfiles(spark0: SparkSession, path: String): DataFrame = {
    val s2 = statefulSession(spark0, StateShape.HighChurn)
    val staged = stage(s2, s"upsert:$path") { put =>
      val ev = graft.Tables.normalizeTs(s2.read.parquet(path))
        .select("event_id", "ts", "user_id", "event_type", "value")
      put("0_w1", ev.filter(dayofmonth(col("ts")) <= 10))
      put("1_w2", ev.filter(dayofmonth(col("ts")).between(11, 20)))
      put("2_w3", ev.filter(dayofmonth(col("ts")) >= 21))
    }
    val changes = replay(s2, staged)
      .select(col("user_id"),
        // µs since 2024-01-01 — unique per user in this data (no same-µs
        // same-user pairs; the cdcMerge seq-uniqueness contract)
        (unix_micros(col("ts")) - lit(1704067200000000L)).as("seq"),
        when(col("event_type") === "error", lit("D")).otherwise(lit("U")).as("op"),
        col("event_type").as("last_type"), col("value").as("last_value"))
    val emptyState = s2.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](),
      StructType(Seq(
        StructField("user_id", LongType),
        StructField("last_type", StringType),
        StructField("last_value", DoubleType))))
    var state = emptyState
    val q = changes.writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        state = graft.operators.Maintenance
          .cdcMerge(state, batch, "user_id", "seq", "op", Seq("last_type", "last_value"))
          .localCheckpoint() // eager: state survives past this micro-batch's plan
        ()
      }
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    state.orderBy("user_id")
  }

  /** Per-user session state carried across micro-batches. */
  case class SessionState(nSessions: Long, lastUs: Long, nEvents: Long)

  /** The one session fold: one micro-batch's (µs, event_id) events of a
    * user, in time order, folded into the user's state — a new session
    * starts on the user's first event or after a gap > `gapUs`. */
  private def foldSessions(prior: Option[SessionState], events: Iterator[(Long, Long)],
                           gapUs: Long): SessionState =
    events.toArray.sorted.foldLeft(prior.getOrElse(SessionState(0L, Long.MinValue, 0L))) {
      case (s, (us, _)) =>
        val newSession = s.nEvents == 0L || us - s.lastUs > gapUs
        // lastUs is monotone (max-seen): an event OLDER than state
        // (possible when the source splits into several micro-batches
        // and a later batch carries earlier timestamps) folds into the
        // current session instead of moving the gap anchor backwards,
        // which would falsely re-open a session on the next event.
        // Exact late-event placement needs a watermarked event buffer;
        // with a single AvailableNow batch (EventsSpec's setup) the
        // in-batch sort makes this path exact.
        SessionState(s.nSessions + (if (newSession) 1L else 0L),
          math.max(s.lastUs, us), s.nEvents + 1L)
    }

  /** Streaming sessionization via flatMapGroupsWithState: per-user custom
    * state (session count + last event time) survives micro-batch
    * boundaries, so a session spanning two batches is not double-counted.
    * Run with AvailableNow over the static table it matches the batch
    * operator (Events.sessionStats) exactly — asserted in EventsSpec. */
  def sessionStats(spark0: SparkSession, path: String, gapMinutes: Int = 30): DataFrame = {
    // stateful stage: one state store per shuffle partition — size to the
    // key cardinality on a cloned session instead of inheriting the batch
    // default (same reasoning as purchaseClickJoin)
    val spark = statefulSession(spark0, StateShape.HighChurn)
    import spark.implicits._
    val gapUs = gapMinutes.toLong * 60L * 1000000L
    val src = source(spark, path)
      .select(col("user_id"), unix_micros(col("ts")).as("us"), col("event_id"))
      .as[(Long, Long, Long)]
    val stats = src
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (uid: Long, rows: Iterator[(Long, Long, Long)], state: GroupState[SessionState]) =>
          val s = foldSessions(state.getOption, rows.map(r => (r._2, r._3)), gapUs)
          state.update(s)
          Iterator.single((uid, s.nSessions, s.nEvents))
      }
    // update mode appends one row per user per micro-batch; counts are
    // monotone, so max() selects each user's final state even when
    // AvailableNow splits the input into several batches
    runToMemory(spark, stats.toDF("user_id", "n_sessions", "n_events"), "update")
      .groupBy("user_id")
      .agg(max("n_sessions").as("n_sessions"), max("n_events").as("n_events"))
      .orderBy("user_id")
  }

  /** The raw drained estimate table — kept as its own seam so the spec
    * can prove bit-parity with the batch HLL++ on the same data. */
  def hourlyDistinctHllRaw(spark: SparkSession, path: String): DataFrame =
    runToMemory(spark,
      source(spark, path)
        .groupBy(window(col("ts"), "1 hour"))
        .agg(approx_count_distinct(col("user_id")).as("n_users_hll"),
          count(lit(1)).as("n_events")),
      "complete")
      .select(date_format(col("window.start"), "yyyy-MM-dd HH:00").as("hour"),
        col("n_users_hll"), col("n_events"))

  /** Streaming approximate-distinct per hour — HLL++ sketch state
    * instead of a per-user dedup set: the state per window is the
    * fixed-width HLL register array (KB), not the user set (GB at
    * scale) — the sixteenth streaming mode, and the streaming twin of
    * the batch rolling-HLL operator. Registers merge by max, so the
    * estimate is independent of micro-batch order — EventsSpec asserts
    * the drained stream ([[hourlyDistinctHllRaw]]) equals the batch HLL
    * bit-for-bit and bounds it against the exact count. Exact n_events
    * rides along for free.
    *
    * Oracle-backed since r12 (the q13_approx precedent): the streamed
    * HLL++ estimate has no cross-engine twin, but its accuracy contract
    * does (default rsd 0.05 → 15% ≈ 3σ, + 4 rows absolute slack for
    * tiny hours). The query outputs the EXACT hourly distinct (DuckDB
    * recomputes it) plus the integer verdict on the streamed estimate;
    * an estimate past its bound hash-reds the gate. At 100 TB
    * production streams the sketch alone — the exact leg is the gate
    * face. */
  def hourlyDistinctHll(spark: SparkSession, path: String): DataFrame = {
    val est = hourlyDistinctHllRaw(spark, path)
    val exact = graft.Tables.normalizeTs(spark.read.parquet(path))
      .groupBy(date_format(date_trunc("hour", col("ts")), "yyyy-MM-dd HH:00").as("hour"))
      .agg(countDistinct(col("user_id")).as("n_users"))
    est.join(exact, "hour")
      .select(col("hour"), col("n_users"), col("n_events"),
        (abs(col("n_users_hll").cast("double") - col("n_users").cast("double"))
          <= col("n_users").cast("double") * 0.15 + 4.0)
          .cast("long").as("hll_in_bound"))
      .orderBy("hour")
  }

  /** Per-user funnel progression state: earliest view, earliest click
    * at-or-after that view, earliest purchase at-or-after that click
    * (Long.MaxValue = stage not reached). */
  case class FunnelProgress(vMin: Long, cMin: Long, pMin: Long)

  /** Streaming funnel — the CEP stage machine (Flink's CEP / the
    * streaming face of the batch funnel): per-user custom state tracks
    * how far each user has progressed through view → click → purchase,
    * updated per micro-batch via flatMapGroupsWithState. The fold is
    * ORDER-FREE set logic within a batch (earliest view, earliest
    * click ≥ it, earliest purchase ≥ that), so iterator order can't
    * change the answer; minima only ever decrease, making the per-user
    * output monotone and the state 24 bytes. Cross-batch late events
    * below an already-anchored stage share the sessionStats caveat
    * (exact placement needs a watermarked buffer); a single
    * AvailableNow batch — the oracle setup — is exact.
    *
    * Scale shape: state is 3 longs per user; the drained per-user
    * table folds to a single 3-counter row. */
  def funnelStages(spark0: SparkSession, path: String): DataFrame = {
    val spark = statefulSession(spark0, StateShape.HighChurn)
    import spark.implicits._
    val M = Long.MaxValue
    val src = source(spark, path)
      .filter(col("event_type").isin("view", "click", "purchase"))
      .select(col("user_id"), unix_micros(col("ts")).as("us"),
        col("event_type"))
      .as[(Long, Long, String)]
    val stages = src.groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (uid: Long, rows: Iterator[(Long, Long, String)],
            state: GroupState[FunnelProgress]) =>
          val evs = rows.toArray
          val s = state.getOption.getOrElse(FunnelProgress(M, M, M))
          def minOf(ty: String, atLeast: Long): Long =
            evs.iterator.filter(e => e._3 == ty && e._2 >= atLeast)
              .map(_._2).foldLeft(M)(math.min)
          // stage anchors only move EARLIER: prior-batch anchors stay
          // valid because the lower bound they satisfied only decreases
          val vMin = math.min(s.vMin, minOf("view", Long.MinValue))
          val cMin = if (vMin == M) M else math.min(s.cMin, minOf("click", vMin))
          val pMin = if (cMin == M) M else math.min(s.pMin, minOf("purchase", cMin))
          state.update(FunnelProgress(vMin, cMin, pMin))
          Iterator.single((uid, vMin != M, cMin != M, pMin != M))
      }
    val fin = runToMemory(spark,
      stages.toDF("user_id", "s1", "s2", "s3"), "update")
      .groupBy("user_id") // flags are monotone: max = final state
      .agg(max(col("s1").cast("int")).as("s1"),
        max(col("s2").cast("int")).as("s2"),
        max(col("s3").cast("int")).as("s3"))
    fin.agg(sum("s1").cast("long").as("n_view"),
      sum("s2").cast("long").as("n_click_after_view"),
      sum("s3").cast("long").as("n_purchase_after_click"))
  }

  /** Streaming per-window top-k: live "trending event types per day".
    * Streaming STATE is only the (window × type) counters — a stateful
    * windowed aggregate exactly like [[hourlyCounts]] (partials merge
    * per micro-batch); the RANK runs on the drained complete-mode sink,
    * the standard serving-side split (ranking is not a streaming-state
    * operation — row_number is unsupported inside a streaming query, and
    * keeping it out of state means the k can change without replay).
    * State is (days × |event types|) counters — bytes; the post-drain
    * window sorts a domain-sized table, never the stream. */
  def windowTopK(spark: SparkSession, path: String, k: Int = 3): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val counts = runToMemory(spark,
      source(spark, path)
        .groupBy(window(col("ts"), "1 day"), col("event_type"))
        .agg(count(lit(1)).as("n")),
      "complete")
    val w = Window.partitionBy("window").orderBy(col("n").desc, col("event_type"))
    counts.withColumn("rnk", row_number().over(w)).filter(col("rnk") <= k)
      .select(date_format(col("window.start"), "yyyy-MM-dd").as("day"),
        col("event_type"), col("n"), col("rnk").cast("long").as("rnk"))
      .orderBy("day", "rnk")
  }
}
