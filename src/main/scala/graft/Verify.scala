package graft
import java.nio.file.{Files, Paths}
import graft.registries.Jsonl
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = args(1)
    // optional extra args: restrict to these query keys (builder-side
    // fast iteration; the driver always calls with exactly two args)
    val only: Set[String] = args.drop(2).toSet
    val spark = Sessions.create(Sessions.cpus)
    spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only(name) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      // operators persistTracked() their intermediates (LSH indexes,
      // rank cells); release exactly those — the discipline an embedding
      // application follows — then clearCache as a backstop
      Caches.release()
      spark.catalog.clearCache()
    }
    // Jsonl.esc escapes ALL control chars (<0x20) — a tab or CR in
    // builder-authored SQL would otherwise make the driver's json.load
    // fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + Jsonl.esc(s) + "\""
    val json = SparkEntry.oracleSql
      .filter { case (k, _) => only.isEmpty || only(k) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
