package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, LongType, TimestampNTZType, TimestampType}

/** The one session factory for every runner main, so Bench, Verify,
  * Cli, Serve, PlanAudit, ProfileKey and the probes all time, verify,
  * serve and explain the same engine. */
object Sessions {
  /** Harness session on `local[cpus]`. (An overload, not a default
    * argument: a default `s"local[$cpus]"` would read the [[cpus]]
    * method, not the parameter.) */
  def create(cpus: Int): SparkSession = create(cpus, s"local[$cpus]")

  /** Harness session: shuffle width from `SPARK_GRAFT_SHUFFLE` (scale
    * probes size it with the data, like a real cluster), otherwise
    * `cpus`. `SparkEntry.queries` keys plan at most this wide: each
    * sizes its own width from its input rows (`Sizing.width`). */
  def create(cpus: Int, master: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(master)
      .config("spark.sql.shuffle.partitions",
        knob(sys.env, "SPARK_GRAFT_SHUFFLE", cpus.toLong, min = 1).toString)
      .config("spark.sql.files.openCostInBytes", openCostInBytes)
      .config("spark.sql.adaptive.enabled", adaptiveEnabled)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      // broadcast/shuffle state is reclaimed by the ContextCleaner only
      // when a GC actually runs, and the default periodicGC interval
      // (30 min) never fires inside a bench chunk — tighten it so
      // late-chunk queries aren't taxed by the accumulated heap
      .config("spark.cleaner.periodicGC.interval", "1min")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Local cores for a runner session: `SPARK_GRAFT_CPUS`, else every
    * available processor. */
  def cpus: Int = cpusFrom(sys.env)
  def cpusFrom(env: Map[String, String]): Int = knob(env, "SPARK_GRAFT_CPUS",
    Runtime.getRuntime.availableProcessors.toLong, min = 1).toInt

  /** Integer env knob: `default` when unset, otherwise the parsed value,
    * failing with the variable's name on garbage or a value below `min`
    * (a bare `.toLong` in an object initializer surfaces as an opaque
    * `ExceptionInInitializerError`). */
  def knob(env: Map[String, String], name: String, default: Long,
      min: Long = Long.MinValue): Long = env.get(name) match {
    case None => default
    case Some(v) => v.trim.toLongOption.filter(_ >= min).getOrElse(
      throw new IllegalArgumentException(s"$name must be an integer" +
        (if (min > Long.MinValue) s" >= $min" else "") + s", got '$v'"))
  }

  /** Parquet open-cost charged per file when packing scan splits
    * (`spark.sql.files.openCostInBytes`). Spark's 4 MB default floors
    * maxSplitBytes at 4 MB, so the sub-11 MB single-file gate tables
    * scan as 1–3 tasks and any heavy per-row stage chained onto the
    * scan (tokenize+hash, embedding scoring) runs near-single-threaded
    * — the r16 ProfileKey finding (a 5000-doc signature build on ONE
    * core). At 16 KB, bytesPerCore = totalBytes/defaultParallelism
    * takes over and small files split ~1 per core; at cluster scale
    * bytesPerCore ≫ openCost, so maxSplitBytes stays maxPartitionBytes
    * (128 MB) and behavior is UNCHANGED — a scale-adaptive setting,
    * not a local[32] constant. `SPARK_GRAFT_OPEN_COST` overrides (a
    * cluster on seek-bound disks with millions of tiny files may want
    * Spark's default back). */
  def openCostInBytes: String =
    sys.env.getOrElse("SPARK_GRAFT_OPEN_COST", "16384")

  /** Adaptive query execution default for harness sessions. AQE
    * materializes every exchange as its OWN job behind a scheduling
    * barrier — measured ~40–90 ms per extra job on this box, which at
    * gate SFs (KB–MB shuffles, sub-second stages) buys nothing: there
    * is nothing to coalesce, no join to re-plan, no skew to split,
    * while the fixed cost multiplies across 351 short queries
    * (text_bpe_train alone: 67 → 33 jobs, warm 6.4 → 4.3 s with AQE
    * off). This is the short-query regime Spark's own tuning guidance
    * flags for AQE overhead. At cluster scale the trade inverts
    * (coalescing/skew handling dominate), so `SPARK_GRAFT_PROFILE=
    * cluster` turns AQE back on — the r15 per-face state-store
    * precedent: measured local default, measured cluster default, one
    * profile switch. Explicit `SPARK_GRAFT_AQE` (true/false) beats the
    * profile. */
  def adaptiveEnabled: String =
    sys.env.get("SPARK_GRAFT_AQE")
      .orElse(if (sys.env.get("SPARK_GRAFT_PROFILE")
          .exists(_.equalsIgnoreCase("cluster"))) Some("true") else None)
      .getOrElse("false")
}

/** Canonical table access over the driver-generated parquet testdata.
  * Mirrors kiara's "onboarding" idea (values come from a store, not ad-hoc
  * paths): every operator takes (spark, sfDir) and resolves tables here.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  // Schema memo (r16): every t() call paid a driver-side footer read +
  // schema inference (~10–30 ms), ×2–4 tables ×351 queries ×2 bench
  // legs. The schema of an immutable testdata file is metadata — cache
  // it per (path, nanos-conf) and hand it to the reader explicitly.
  // Keyed on the session's nanosAsLong conf because inference of
  // TIMESTAMP(NANOS) columns depends on it (LongType vs error) and
  // spec sessions differ from harness sessions. NOT result caching:
  // every scan still reads the parquet data in full.
  private val schemaCache =
    scala.collection.concurrent.TrieMap[(String, String), org.apache.spark.sql.types.StructType]()

  /** The memoized inferred schema of a parquet file or dir. */
  def schemaOf(spark: SparkSession, path: String): org.apache.spark.sql.types.StructType = {
    val nanosConf = spark.conf.get("spark.sql.legacy.parquet.nanosAsLong", "false")
    schemaCache.getOrElseUpdate((path, nanosConf), spark.read.parquet(path).schema)
  }

  def t(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    normalizeInts(normalizeTs(spark.read.schema(schemaOf(spark, path)).parquet(path)))
  }

  /** The ts-encoding precedent generalized to integer widths: if a
    * regenerated testdata round ships key columns as INT32, every
    * Spark output would shrink to int where the DuckDB oracle emits
    * BIGINT and the driver's hash would fail on width alone. Widen
    * top-level int32 columns to long at load — a no-op on the current
    * data, a round-saver on a regeneration. */
  private def normalizeInts(df: DataFrame): DataFrame = {
    val narrow = df.schema.fields.filter(_.dataType == IntegerType).map(_.name)
    narrow.foldLeft(df)((d, c) => d.withColumn(c, col(c).cast(LongType)))
  }

  /** The driver has generated events.parquet with two encodings across
    * rounds; accept both so every operator sees plain TimestampType:
    *  - TIMESTAMP(NANOS), which Spark only reads with
    *    spark.sql.legacy.parquet.nanosAsLong=true (as raw nanos) —
    *    convert with integer DIV (no double round-trip, which would lose
    *    precision at 1.7e18 ns). DuckDB's CAST(ts AS TIMESTAMP)
    *    truncates ns→µs identically.
    *  - TIMESTAMP(MICROS, isAdjustedToUTC=false), which Spark reads as
    *    TIMESTAMP_NTZ — cast to TimestampType under the UTC session
    *    timezone (same micros value, so identical instants to DuckDB's
    *    direct read). */
  def normalizeTs(df: DataFrame): DataFrame =
    if (df.schema.fields.exists(f => f.name == "ts" && f.dataType == LongType))
      df.withColumn("ts", expr("timestamp_micros(CAST(ts DIV 1000 AS BIGINT))"))
    else if (df.schema.fields.exists(f => f.name == "ts" && f.dataType == TimestampNTZType))
      df.withColumn("ts", col("ts").cast(TimestampType))
    else df
}
