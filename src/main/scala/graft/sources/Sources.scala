package graft.sources

import java.nio.file.{Files, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Ingestion — the Spark-native `import_data` / `import.local.file`
  * (kiara reference: operations/included_core_operations/import_data.py:46,
  * modules/included_core_modules/filesystem.py:31). Files become tables via
  * DataFrameReader; bundles are recursive multi-file reads carrying file
  * metadata columns (Spark's hidden `_metadata` — no extra IO).
  */
object Ingest {
  /** Empty schema (the default) means "infer" — an explicit 0-column
    * schema would otherwise read zero columns and break every consumer. */
  def csv(spark: SparkSession, path: String, schema: StructType = new StructType()): DataFrame =
    if (schema.isEmpty)
      spark.read.option("header", "true").option("inferSchema", "true").csv(path)
    else spark.read.schema(schema).option("header", "true").csv(path)

  def json(spark: SparkSession, path: String, schema: StructType = new StructType()): DataFrame =
    if (schema.isEmpty) spark.read.json(path)
    else spark.read.schema(schema).json(path)

  def parquet(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path)

  /** ORC — the second columnar format warehouses actually hold (Hive
    * heritage); same pushdown/pruning surface as parquet in Spark. */
  def orc(spark: SparkSession, path: String): DataFrame =
    spark.read.orc(path)

  /** file_bundle import (filesystem.py:150): recursive read, each row
    * tagged with its source file path and size. */
  def readBundle(spark: SparkSession, path: String, format: String = "parquet"): DataFrame = {
    val base = format match {
      case "parquet" => spark.read.option("recursiveFileLookup", "false").parquet(path)
      case "csv"     => spark.read.option("header", "true").option("recursiveFileLookup", "true").csv(path)
      case other     => spark.read.format(other).load(path)
    }
    base.select(col("*"),
      col("_metadata.file_path").as("_file_path"),
      col("_metadata.file_size").as("_file_size"))
  }

  /** bundle.pick.sub_folder / pick.file (filesystem.py:274,306): subset a
    * bundle by a path predicate — pruned at the file listing, not scanned. */
  def pick(bundle: DataFrame, pathPattern: String): DataFrame =
    bundle.filter(col("_file_path").rlike(pathPattern))
}

/** Export — kiara `export_as` / `export.file`
  * (operations/included_core_operations/export_as.py:53,
  * modules/included_core_modules/filesystem.py:261). */
object Export {
  def csv(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").option("header", "true").csv(path)

  def json(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").json(path)

  def parquet(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").parquet(path)

  def orc(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").orc(path)

  // every dir tempDir made; one hook removes them whole when the JVM
  // exits, skipping any it cannot (`deleteOnExit` skips non-empty dirs)
  private val made = new java.util.concurrent.ConcurrentLinkedQueue[Path]()
  sys.addShutdownHook(made.forEach(p =>
    try deleteTree(p) catch { case scala.util.control.NonFatal(_) => () }))

  /** A new dir under `java.io.tmpdir`, deleted with its contents at exit. */
  def tempDir(prefix: String): Path = {
    val p = Files.createTempDirectory(prefix)
    made.add(p)
    p
  }

  /** Delete `p` and everything under it, deepest first; a missing path
    * is a no-op. */
  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    import scala.jdk.CollectionConverters._
    val s = Files.walk(p)
    // materialize BEFORE deleting (the Snapshots.vacuum rule)
    val all = try s.iterator.asScala.toList finally s.close()
    all.reverse.foreach(Files.deleteIfExists)
  }
}

/** create_from conversion graph (create_from.py:56): registered
  * (fromType, toType) → conversion functions, resolved at call time. */
object Convert {
  type Conversion = (SparkSession, String, StructType) => DataFrame
  private val conversions = scala.collection.concurrent.TrieMap[(String, String), Conversion](
    ("csv", "table") -> ((s, p, sc) => Ingest.csv(s, p, sc)),
    ("json", "table") -> ((s, p, sc) => Ingest.json(s, p, sc)),
    ("parquet", "table") -> ((s, p, _) => Ingest.parquet(s, p)),
    ("orc", "table") -> ((s, p, _) => Ingest.orc(s, p)))

  def register(from: String, to: String, fn: Conversion): Unit =
    conversions.put((from, to), fn)

  def convert(from: String, to: String)(spark: SparkSession, path: String, schema: StructType): DataFrame =
    conversions.getOrElse((from, to),
      throw new IllegalArgumentException(s"no conversion $from -> $to")).apply(spark, path, schema)

  def available: Seq[(String, String)] = conversions.keys.toSeq.sorted
}

/** Serialization layer — kiara deserialize/load.bytes/from_json
  * (operations/included_core_operations/serialize.py:79,
  * modules/included_core_modules/serialization.py:143-230): struct ⇄ json
  * string round-trips with schema enforcement. */
object Serde {
  def toJsonLines(df: DataFrame): DataFrame =
    df.select(to_json(struct(df.columns.map(col): _*)).as("json"))

  def fromJsonLines(jsonDf: DataFrame, schema: StructType): DataFrame =
    jsonDf.select(from_json(col("json"), schema).as("v")).select(col("v.*"))

  def roundTrip(df: DataFrame): DataFrame = fromJsonLines(toJsonLines(df), df.schema)
}

/** kiara core data types → Spark SQL types
  * (data_types/included_core_types/__init__.py:53-355, filesystem.py:41,189). */
object TypeMap {
  val toSpark: Map[String, DataType] = Map(
    "string" -> StringType,
    "boolean" -> BooleanType,
    "integer" -> LongType,
    "float" -> DoubleType,
    "bytes" -> BinaryType,
    "date" -> TimestampType,
    "dict" -> MapType(StringType, StringType),
    "any" -> StringType,
    "none" -> NullType,
    "file" -> StructType(Seq(
      StructField("path", StringType), StructField("size", LongType),
      StructField("content", BinaryType))),
    "file_bundle" -> ArrayType(StructType(Seq(
      StructField("path", StringType), StructField("size", LongType)))))

  def toKiara(dt: DataType): String = dt match {
    case StringType => "string"
    case BooleanType => "boolean"
    case LongType | IntegerType | ShortType => "integer"
    case DoubleType | FloatType => "float"
    case BinaryType => "bytes"
    case TimestampType | DateType => "date"
    case _: MapType => "dict"
    case NullType => "none"
    case _ => "any"
  }
}
