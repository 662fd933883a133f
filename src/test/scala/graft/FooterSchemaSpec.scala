package graft

import java.nio.file.{Files, Paths, StandardCopyOption}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._
import graft.registries.ParquetMeta
import graft.sources.Export

/** Registry reads take a value's schema from the parquet footer Spark
  * wrote, so loading a value runs no schema-inference job — and the
  * schema is exactly the one an untyped `spark.read.parquet` infers. */
class FooterSchemaSpec extends SparkTestBase {
  import spark.implicits._

  private def newApi = new GraftApi(spark, Export.tempDir("graft_footer_").toString)

  // collected, not exceptAll: set operations refuse map columns
  private def sameRows(a: DataFrame, b: DataFrame): Unit =
    assert(a.collect().toSeq.sortBy(_.toString) == b.collect().toSeq.sortBy(_.toString))

  private def rowsOf(schema: StructType, rows: Row*): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)

  private val ts = java.sql.Timestamp.valueOf("2024-03-01 12:34:56.789")
  private val ntz = java.time.LocalDateTime.parse("2024-03-01T12:34:56.789")

  private def matrix: Seq[(String, DataFrame)] = Seq(
    "nested" -> rowsOf(
      StructType(Seq(StructField("k", LongType),
        StructField("s", StructType(Seq(StructField("a", IntegerType),
          StructField("b", StructType(Seq(StructField("c", StringType))))))))),
      Row(1L, Row(2, Row("x"))), Row(2L, null)),
    "arrays" -> Seq((1L, Seq("a", "b")), (2L, Seq.empty[String])).toDF("k", "xs"),
    "maps" -> Seq((1L, Map("a" -> 1.5)), (2L, Map.empty[String, Double])).toDF("k", "m"),
    "decimal" -> rowsOf(StructType(Seq(StructField("d", DecimalType(38, 10)))),
      Row(new java.math.BigDecimal("1234567890123456789012345678.0123456789"))),
    "binary" -> Seq((1L, Array[Byte](0, 1, -1))).toDF("k", "bin"),
    "timestamps" -> rowsOf(StructType(Seq(StructField("ts", TimestampType),
      StructField("ntz", TimestampNTZType))), Row(ts, ntz)),
    "not_null" -> rowsOf(StructType(Seq(StructField("k", LongType, nullable = false),
      StructField("v", StringType))), Row(1L, "a"), Row(2L, null)),
    "field_meta" -> rowsOf(StructType(Seq(StructField("k", LongType,
      metadata = new MetadataBuilder().putString("comment", "the key").build()))),
      Row(7L)),
    "empty" -> rowsOf(StructType(Seq(StructField("k", LongType),
      StructField("s", StringType)))))

  test("a loaded value's schema is the one untyped inference gives, read from the footer") {
    val api = newApi
    matrix.foreach { case (id, df) =>
      api.storeValue(id, df)
      val dir = api.data.path(id)
      assert(ParquetMeta.sparkSchema(dir).isDefined, id) // footer path taken
      val inferred = spark.read.parquet(dir)
      val got = api.getValue(id)
      assert(got.schema == inferred.schema, id)
      assert(got.schema.map(_.metadata) == inferred.schema.map(_.metadata), id)
      sameRows(got, inferred)
    }
    assert(api.getValue("field_meta").schema("k").metadata.getString("comment") == "the key")
    assert(api.getValue("empty").isEmpty)
  }

  test("getValue, valueInfo, findValues(hasColumn) and a mounted getValue run no Spark job") {
    val api = newApi
    api.storeValue("v1", Seq((1L, "a"), (2L, "b")).toDF("id", "s"), Some("latest"))
    api.storeValue("v2", Seq(3.0).toDF("x"))
    val src = newApi
    src.storeValue("mv1", Seq((1L, "a")).toDF("id", "s"), Some("corpus"))
    val arch = Export.tempDir("graft_footer_arch_").resolve("team.kiarchive").toString
    src.exportArchive(arch)
    api.registerArchive(arch)

    val (df, nGet) = jobsDuring(api.getValue("latest"))
    assert(nGet == 0 && df.columns.toSeq == Seq("id", "s"))
    val (info, nInfo) = jobsDuring(api.valueInfo("v1"))
    assert(nInfo == 0 && info.rows == 2L && info.schema == "struct<id:bigint,s:string>")
    val (found, nFind) = jobsDuring(api.findValues(hasColumn = Some("x")))
    assert(nFind == 0 && found == Seq("v2"))
    val (mounted, nMount) = jobsDuring(api.getValue("corpus"))
    assert(nMount == 0 && !api.data.exists("mv1") && mounted.columns.toSeq == Seq("id", "s"))
    // the untyped read this replaced does run one (the inference job)
    val (_, nUntyped) = jobsDuring(spark.read.parquet(api.data.path("v1")))
    assert(nUntyped >= 1)
  }

  test("a value without Spark's footer key falls back to the untyped read") {
    val api = newApi
    val dir = Paths.get(api.data.path("events"))
    Files.createDirectories(dir)
    Files.copy(Paths.get(s"$sfDir/events.parquet"), dir.resolve("part-00000.parquet"))
    assert(ParquetMeta.sparkSchema(dir.toString).isEmpty) // DuckDB-written
    assert(spark.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true")
    val untyped = spark.read.parquet(dir.toString)
    val got = api.getValue("events")
    assert(got.schema == untyped.schema)
    sameRows(got, untyped)
  }

  test("storing an id again with a new schema shows the new schema on the next load") {
    val api = newApi
    api.storeValue("v", Seq((1L, "a")).toDF("id", "s"))
    assert(api.getValue("v").columns.toSeq == Seq("id", "s"))
    api.storeValue("v", Seq((1.5, true, 3L)).toDF("x", "flag", "n"))
    val again = api.getValue("v")
    assert(again.schema == spark.read.parquet(api.data.path("v")).schema)
    assert(again.columns.toSeq == Seq("x", "flag", "n"))
    assert(again.head() == Row(1.5, true, 3L))
  }

  test("a stray _temporary part-file is ignored by load and by the footer counters") {
    val api = newApi
    api.storeValue("v", Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "s"))
    api.storeValue("other", Seq(9.5, 8.5).toDF("x"))
    val dir = Paths.get(api.data.path("v"))
    val (rows, files, bytes) = (ParquetMeta.dirRowCount(dir.toString),
      ParquetMeta.dirFileCount(dir.toString), ParquetMeta.dirSizeBytes(dir.toString))
    // what a failed write leaves behind: a part-file of another schema,
    // sorting BEFORE the real ones, under _temporary
    val stray = dir.resolve("_temporary/0/_temporary/attempt_0/part-00000-stray.parquet")
    Files.createDirectories(stray.getParent)
    val otherPart = new java.io.File(api.data.path("other")).listFiles().map(_.toPath)
      .find(_.getFileName.toString.endsWith(".parquet")).get
    Files.copy(otherPart, stray, StandardCopyOption.REPLACE_EXISTING)

    assert(ParquetMeta.dirRowCount(dir.toString) == rows && rows == 3L)
    assert(ParquetMeta.dirFileCount(dir.toString) == files)
    assert(ParquetMeta.dirSizeBytes(dir.toString) == bytes)
    val got = api.getValue("v")
    assert(got.columns.toSeq == Seq("id", "s"))
    assert(got.count() == 3L)
  }
}
