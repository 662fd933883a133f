package graft.registries

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.{DataType, StructType}
import scala.util.control.NonFatal

/** Footer-only parquet metadata reads for the info surfaces
  * (kiara_api.py:944 `retrieve_values_info`, :1237
  * `retrieve_archive_info`): row counts come from the file footer, so
  * "how big is this value" never scans data pages — the difference
  * between a millisecond metadata call and a 100 TB table scan. */
object ParquetMeta {
  private val conf = new Configuration()

  /** Exact row count of one parquet file from its footer. */
  def rowCount(path: String): Long = {
    val r = ParquetFileReader.open(HadoopInputFile.fromPath(new Path(path), conf))
    try r.getRecordCount finally r.close()
  }

  /** Spark's hidden-path rule (`InMemoryFileIndex.shouldFilterOutPathName`):
    * a name starting with `.` or with `_` (unless it is a `k=v` partition
    * dir) is not part of the table — `_SUCCESS`, `.crc` files, and the
    * `_temporary` tree a failed write leaves behind. */
  private def hidden(name: String): Boolean =
    name.startsWith(".") || (name.startsWith("_") && !name.contains("="))

  /** Every visible part-file under `dir`, recursively — a hive-partitioned
    * layout nests part-files inside `col=value` dirs, and a flat listing
    * would silently report such a table as 0 rows / 0 files. Hidden path
    * components are skipped, so the counters see exactly the files a
    * scan reads. */
  private def partFiles[A](dir: String)(f: Iterator[java.nio.file.Path] => A): A = {
    val p = java.nio.file.Paths.get(dir)
    if (!java.nio.file.Files.isDirectory(p)) return f(Iterator.empty)
    val s = java.nio.file.Files.walk(p)
    try {
      import scala.jdk.CollectionConverters._
      f(s.iterator.asScala.filter(q =>
        java.nio.file.Files.isRegularFile(q) &&
          q.getFileName.toString.endsWith(".parquet") &&
          !p.relativize(q).iterator.asScala.exists(c => hidden(c.toString))))
    } finally s.close()
  }

  /** Footer key under which Spark's parquet writer stores the Catalyst
    * schema of the written DataFrame (`ParquetReadSupport.SPARK_METADATA_KEY`). */
  private val SparkSchemaKey = "org.apache.spark.sql.parquet.row.metadata"

  /** The schema Spark wrote into the footer of the first visible
    * part-file of a flat parquet dir — the file and key Spark's own
    * inference (`ParquetFileFormat.readSchemaFromFooter`) reads first.
    * None when the dir has partition subdirs, no part-file, or a first
    * footer without a readable Spark key (e.g. a DuckDB-written file). */
  def sparkSchema(dir: String): Option[StructType] = {
    val d = new java.io.File(dir)
    val visible = Option(d.listFiles).toSeq.flatten.filterNot(f => hidden(f.getName))
    if (visible.exists(_.isDirectory)) return None
    visible.filter(_.isFile).map(_.getPath).sorted.headOption.flatMap { f =>
      try {
        val r = ParquetFileReader.open(HadoopInputFile.fromPath(new Path(f), conf))
        try Option(r.getFileMetaData.getKeyValueMetaData.get(SparkSchemaKey))
          .map(DataType.fromJson(_).asInstanceOf[StructType])
        finally r.close()
      } catch { case NonFatal(_) => None }
    }
  }

  /** Read a parquet dir with the schema from its footer, so building the
    * DataFrame runs no Spark job (an untyped `spark.read.parquet` runs a
    * one-task schema-inference job on every call). Each call reads the
    * footer of the files it scans, so an overwritten dir never gets a
    * stale schema. Falls back to the untyped read wherever
    * [[sparkSchema]] has no answer. */
  def read(spark: SparkSession, dir: String): DataFrame =
    sparkSchema(dir).fold(spark.read.parquet(dir))(s => spark.read.schema(s).parquet(dir))

  /** Sum of footer row counts over every part-file in a parquet dir. */
  def dirRowCount(dir: String): Long =
    partFiles(dir)(_.map(f => rowCount(f.toString)).sum)

  /** Number of part-files in a parquet dir. */
  def dirFileCount(dir: String): Long = partFiles(dir)(_.size.toLong)

  /** Total on-disk bytes of a parquet dir's part-files. */
  def dirSizeBytes(dir: String): Long =
    partFiles(dir)(_.map(f => java.nio.file.Files.size(f)).sum)

  /** Footer min/max statistics of an INT64 column in one part-file —
    * the metadata a clustered layout exists for: a scan with a
    * predicate on `col` skips every file whose [min,max] misses it
    * without reading a data page. None if the column is absent or
    * carries no stats. */
  def colRange(path: String, col: String): Option[(Long, Long)] = {
    import scala.jdk.CollectionConverters._
    val r = ParquetFileReader.open(HadoopInputFile.fromPath(new Path(path), conf))
    try {
      val chunks = r.getFooter.getBlocks.asScala.flatMap(_.getColumns.asScala)
        .filter(c => c.getPath.toDotString == col)
        .flatMap(c => Option(c.getStatistics) match {
          case Some(s: org.apache.parquet.column.statistics.LongStatistics)
            if !s.isEmpty => Some((s.genericGetMin.toLong, s.genericGetMax.toLong))
          case _ => None
        })
      if (chunks.isEmpty) None
      else Some((chunks.map(_._1).min, chunks.map(_._2).max))
    } finally r.close()
  }

  /** Per-file [min,max] of an INT64 column over a parquet dir: one
    * entry per part-file that has stats for `col`. */
  def fileRanges(dir: String, col: String): Seq[(String, Long, Long)] =
    partFiles(dir)(_.flatMap { f =>
      colRange(f.toString, col).map { case (mn, mx) => (f.toString, mn, mx) }
    }.toSeq)
}
