package graft

import org.apache.spark.sql.types.{LongType, StringType}

/** Load-normalization guards: [[Tables.t]] must hand every operator
  * LongType keys even when a regenerated testdata round ships INT32
  * parquet (the width-flip hazard — DuckDB oracles always emit BIGINT,
  * and the driver's hash fails on width alone). NOTE the flip side:
  * widening changes Spark-side INPUT types, so any hash bridge
  * (xxhash64, bit functions) over a widened column sees long, not int
  * semantics — oracles must be written against the widened type. */
class TablesSpec extends SparkTestBase {
  import spark.implicits._

  test("normalizeInts widens top-level int32 columns to long at load") {
    val dir = graft.sources.Export.tempDir("graft_int32_").toString
    Seq((1, "a", 2L)).toDF("k32", "name", "k64")
      .write.mode("overwrite").parquet(s"$dir/nation.parquet")
    val df = Tables.t(spark, dir, "nation")
    assert(df.schema("k32").dataType == LongType, "int32 must widen")
    assert(df.schema("k64").dataType == LongType, "int64 must pass through")
    assert(df.schema("name").dataType == StringType, "non-ints untouched")
    assert(df.select("k32", "k64").as[(Long, Long)].collect().toSeq
      == Seq((1L, 2L)))
  }
}
