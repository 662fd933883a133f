package graft.registries

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession

/** Portable archive of registry state — kiara's `.kiarchive` workflow
  * (reference interfaces/python_api/kiara_api.py:1257 `export_archive`,
  * :1306 `import_archive`; archive layout mirrors
  * registries/data/data_store + aliases + jobs in one shippable root).
  *
  * Layout (a plain directory — rsync/distcp/S3-friendly, values stay
  * splittable parquet so an imported value is immediately a distributed
  * table again; no tarball, because at 100 TB values must be readable
  * in place without a driver-side unpack):
  *
  * {{{
  * <archive>/manifest.json    version, value ids, aliases
  * <archive>/values/<id>/     one parquet dir per value
  * <archive>/lineage.jsonl    provenance records (verbatim copy)
  * }}}
  */
object Archive {

  private val Version = 1

  // Writable mounts are an explicit cross-context sharing surface, so the
  // manifest read-modify-write must be single-writer (ADVICE r14: two
  // concurrent storeValueTo calls could drop a just-stored value from the
  // manifest, orphaning its parquet dir). In-JVM: one monitor per canonical
  // archive path. Cross-process: an exclusive FileLock on <dir>/.manifest.lock
  // held across read-manifest -> write-parquet -> write-manifest.
  private val archiveMonitors =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()

  private def withArchiveLock[A](dir: String)(body: => A): A = {
    val canon = Paths.get(dir).toAbsolutePath.normalize.toString
    val monitor = archiveMonitors.computeIfAbsent(canon, _ => new Object)
    monitor.synchronized {
      Files.createDirectories(Paths.get(dir))
      val ch = java.nio.channels.FileChannel.open(
        Paths.get(dir, ".manifest.lock"),
        java.nio.file.StandardOpenOption.CREATE,
        java.nio.file.StandardOpenOption.WRITE)
      try {
        val lock = ch.lock() // blocks until the peer process releases
        try body finally lock.release()
      } finally ch.close()
    }
  }

  /** Export values (all by default) + their aliases + the lineage log
    * into a fresh archive directory. Values are re-written through Spark
    * (not file-copied) so the archive is self-consistent parquet
    * regardless of how the store was produced. Returns exported ids. */
  def exportArchive(spark: SparkSession, data: DataRegistry, aliases: AliasRegistry,
                    lineage: LineageRegistry, targetDir: String,
                    values: Seq[String] = Seq.empty,
                    noAliases: Boolean = false): Seq[String] = {
    val target = Paths.get(targetDir)
    if (Files.exists(target)) {
      val s = Files.list(target)
      try require(!s.iterator().hasNext,
        s"archive target exists and is not empty: $targetDir")
      finally s.close()
    }
    val ids = if (values.nonEmpty) values else data.list
    ids.foreach { id =>
      require(data.exists(id), s"no such value in store: $id")
      data.load(spark, id).write.mode("errorifexists").parquet(s"$targetDir/values/$id")
    }
    val kept =
      if (noAliases) Seq.empty
      else aliases.list.filter { case (_, vid) => ids.contains(vid) }
    writeManifest(targetDir, ids, kept, Seq.empty)
    val lin = lineage.lines
    if (lin.nonEmpty)
      Files.write(target.resolve("lineage.jsonl"), (lin.mkString("\n") + "\n").getBytes("UTF-8"))
    ids
  }

  /** Metadata-value escape: full JSON escape PLUS '}' as }, so the
    * reader's `"metadata":\{([^}]*)\}` block regex can never be truncated
    * by a brace inside a value (ADVICE r13 — a truncated read would make
    * the next read-modify-rewrite silently drop entries). Jsonl.unesc
    * decodes } back to '}' transparently. */
  private def metaEsc(s: String): String = Jsonl.esc(s).replace("}", "\\u007d")

  /** (Re)write manifest.json — ids/aliases use the restricted registry
    * charset; metadata values are free text (JSON-escaped). */
  private def writeManifest(dir: String, ids: Seq[String],
                            aliases: Seq[(String, String)],
                            metadata: Seq[(String, String)]): Unit = {
    val metaBlock =
      if (metadata.isEmpty) ""
      else s""","metadata":{${metadata.sortBy(_._1).map { case (k, v) =>
        "\"" + metaEsc(k) + "\":\"" + metaEsc(v) + "\"" }.mkString(",")}}"""
    val manifest =
      s"""{"version":$Version,"values":[${ids.map(i => "\"" + Jsonl.esc(i) + "\"").mkString(",")}],""" +
        s""""aliases":{${aliases.map { case (a, v) => "\"" + Jsonl.esc(a) + "\":\"" + Jsonl.esc(v) + "\"" }.mkString(",")}}$metaBlock}"""
    Files.createDirectories(Paths.get(dir))
    // temp-file + ATOMIC_MOVE (the Snapshots.commitManifest pattern):
    // the FileLock only serializes WRITERS — readers (readManifest via
    // mountedResolve, which swallows exceptions) take no lock, so an
    // in-place truncate-write could expose an empty/torn manifest and
    // silently resolve "no such value"
    val tmp = Files.createTempFile(Paths.get(dir), ".manifest-", ".tmp")
    try {
      Files.write(tmp, (manifest + "\n").getBytes("UTF-8"))
      Files.move(tmp, Paths.get(dir, "manifest.json"),
        java.nio.file.StandardCopyOption.ATOMIC_MOVE,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    } catch {
      // r17 (ADVICE): don't leave orphaned .manifest-*.tmp files behind
      // when the write or move fails — delete the temp and rethrow
      case e: Throwable => Files.deleteIfExists(tmp); throw e
    }
  }

  /** Archive-level metadata (kiara base_api.py:2337
    * set_archive_metadata_value): key=value pairs attached to THE
    * ARCHIVE itself (title, licence, provenance note) in its manifest —
    * distinct from value metadata, which the MetadataRegistry owns.
    * Latest write per key wins; a rewrite preserves values + aliases. */
  def setArchiveMetadata(dir: String, key: String, value: String): Unit = {
    Names.validate("archive metadata key", key)
    withArchiveLock(dir) {
      val (ids, als) = readManifest(dir)
      val meta = readArchiveMetadata(dir).filterNot(_._1 == key) :+ (key -> value)
      writeManifest(dir, ids, als, meta)
    }
  }

  /** The archive's own metadata entries, sorted by key. */
  def readArchiveMetadata(dir: String): Seq[(String, String)] = {
    val p = Paths.get(dir, "manifest.json")
    require(Files.exists(p), s"not an archive (no manifest.json): $dir")
    val txt = Files.readString(p)
    """"metadata":\{([^}]*)\}""".r.findFirstMatchIn(txt).map(_.group(1))
      .map { block =>
        """"((?:[^"\\]|\\.)*)":"((?:[^"\\]|\\.)*)"""".r.findAllMatchIn(block)
          .map(m => Jsonl.unesc(m.group(1)) -> Jsonl.unesc(m.group(2))).toSeq
      }.getOrElse(Seq.empty).sortBy(_._1)
  }

  /** Create an EMPTY archive (the register_archive
    * create_if_not_exists path, base_api.py:2220): a manifest with no
    * values, ready to be mounted writable and filled in place. */
  def createArchive(dir: String): Unit = {
    require(!Files.exists(Paths.get(dir, "manifest.json")),
      s"archive already exists: $dir")
    writeManifest(dir, Seq.empty, Seq.empty, Seq.empty)
  }

  /** The archive's manifest (value ids, aliases) — the mount-resolution
    * surface (register_archive reads resolve through this without any
    * import). */
  def manifest(dir: String): (Seq[String], Seq[(String, String)]) =
    readManifest(dir)

  /** Store ONE value into an existing archive in place — the mounted
    * WRITE path (register_archive with allow_write_access; kiara's
    * store_value(store=...) seam). Existing ids are refused, never
    * silently overwritten; an alias re-points to the new value (latest
    * wins, like the live alias registry). */
  def storeValueInArchive(df: org.apache.spark.sql.DataFrame, dir: String,
                          id: String, alias: Option[String] = None): Unit = {
    Names.validate("value id", id)
    alias.foreach(Names.validate("alias name", _))
    withArchiveLock(dir) {
      val (ids, als) = readManifest(dir)
      require(!ids.contains(id), s"archive already has value: $id")
      df.write.mode("errorifexists").parquet(s"$dir/values/$id")
      val newAls = alias.fold(als)(a => als.filterNot(_._1 == a) :+ (a -> id))
      writeManifest(dir, ids :+ id, newAls, readArchiveMetadata(dir))
    }
  }

  /** Archive-to-archive copy (kiara base_api.py:2496 copy_archive):
    * values in `sourceDir` not yet present in `targetDir` are copied
    * (parquet dirs, file-level — no Spark job, values stay splittable),
    * manifests merge (target wins on alias conflicts, target keeps its
    * own archive metadata), and source lineage lines not already in the
    * target append. A fresh target becomes a full copy, inheriting the
    * source's archive metadata — kiara's create_if_not_exists path.
    * Returns the ids actually copied (existing ones are SKIPPED, never
    * duplicated — the reference's StoreValuesResult 'already exists'
    * rows). */
  def copyArchive(sourceDir: String, targetDir: String,
                  noAliases: Boolean = false): Seq[String] = {
    val (srcIds, srcAls) = readManifest(sourceDir)
    val fresh = !Files.exists(Paths.get(targetDir, "manifest.json"))
    val (tgtIds, tgtAls) = if (fresh) (Seq.empty[String], Seq.empty[(String, String)])
      else readManifest(targetDir)
    val copied = srcIds.filterNot(tgtIds.contains)
    copied.foreach { id =>
      copyTree(Paths.get(sourceDir, "values", id), Paths.get(targetDir, "values", id))
    }
    val mergedIds = (tgtIds ++ copied).distinct
    val mergedAls =
      if (noAliases) tgtAls
      else {
        val taken = tgtAls.map(_._1).toSet
        tgtAls ++ srcAls.filter { case (a, v) =>
          !taken.contains(a) && mergedIds.contains(v) }
      }
    val meta = if (fresh) readArchiveMetadata(sourceDir) else readArchiveMetadata(targetDir)
    writeManifest(targetDir, mergedIds, mergedAls.sorted, meta)
    val srcLin = Paths.get(sourceDir, "lineage.jsonl")
    if (Files.exists(srcLin)) {
      val tgtLin = Paths.get(targetDir, "lineage.jsonl")
      val existing = if (Files.exists(tgtLin)) Files.readAllLines(tgtLin).asScala.toSet
        else Set.empty[String]
      val add = Files.readAllLines(srcLin).asScala.filterNot(existing)
      if (add.nonEmpty)
        Files.write(tgtLin, (add.mkString("\n") + "\n").getBytes("UTF-8"),
          java.nio.file.StandardOpenOption.CREATE,
          java.nio.file.StandardOpenOption.APPEND)
    }
    copied
  }

  private def copyTree(src: java.nio.file.Path, dst: java.nio.file.Path): Unit = {
    val s = Files.walk(src)
    try s.iterator.asScala.foreach { p =>
      val t = dst.resolve(src.relativize(p))
      if (Files.isDirectory(p)) Files.createDirectories(t)
      else { Files.createDirectories(t.getParent); Files.copy(p, t) }
    } finally s.close()
  }

  /** Import every value (+ aliases, + lineage records) from an archive
    * into the target registries. Returns imported ids. */
  def importArchive(spark: SparkSession, data: DataRegistry, aliases: AliasRegistry,
                    lineage: LineageRegistry, sourceDir: String,
                    noAliases: Boolean = false): Seq[String] = {
    val (ids, als) = readManifest(sourceDir)
    ids.foreach(id => data.store(id, ParquetMeta.read(spark, s"$sourceDir/values/$id")))
    if (!noAliases) als.foreach { case (a, v) => aliases.set(a, v) }
    val lin = Paths.get(sourceDir, "lineage.jsonl")
    if (Files.exists(lin))
      Files.readAllLines(lin).asScala.foreach(lineage.appendRaw)
    ids
  }

  /** Summary of an archive produced by `exportArchive` — everything a
    * user needs to decide whether to import, computed WITHOUT importing
    * (kiara_api.py:1237 `retrieve_archive_info`). Sizes come from the
    * filesystem, row counts from parquet footers only: no value is read
    * as data, so inspecting a 100 TB archive stays a metadata operation. */
  final case class ValueEntry(id: String, files: Int, sizeBytes: Long, rows: Long)
  final case class ArchiveInfo(version: Int, values: Seq[ValueEntry],
                               aliases: Seq[(String, String)], lineageRecords: Int,
                               metadata: Seq[(String, String)] = Seq.empty)

  def archiveInfo(sourceDir: String): ArchiveInfo = {
    val (ids, als) = readManifest(sourceDir)
    val txt = Files.readString(Paths.get(sourceDir, "manifest.json"))
    val version = """"version":(\d+)""".r.findFirstMatchIn(txt)
      .map(_.group(1).toInt).getOrElse(0)
    val entries = ids.map { id =>
      val vdir = Paths.get(sourceDir, "values", id)
      val parts =
        if (!Files.exists(vdir)) Seq.empty[java.nio.file.Path]
        else {
          val s = Files.list(vdir)
          try s.iterator.asScala.filter(_.getFileName.toString.endsWith(".parquet")).toSeq
          finally s.close()
        }
      val rows = parts.map(p => ParquetMeta.rowCount(p.toString)).sum
      ValueEntry(id, parts.size, parts.map(Files.size).sum, rows)
    }
    val lin = Paths.get(sourceDir, "lineage.jsonl")
    val nLin = if (Files.exists(lin)) Files.readAllLines(lin).size else 0
    ArchiveInfo(version, entries, als, nLin, readArchiveMetadata(sourceDir))
  }

  /** Parse manifest.json — fields are the restricted value-id/alias
    * charset (enforced at store/set time), so a charset-bounded regex
    * scan is exact; no general JSON parser needed. */
  private[registries] def readManifest(sourceDir: String): (Seq[String], Seq[(String, String)]) = {
    val p = Paths.get(sourceDir, "manifest.json")
    require(Files.exists(p), s"not an archive (no manifest.json): $sourceDir")
    val txt = Files.readString(p)
    val values = """"values":\[([^\]]*)\]""".r.findFirstMatchIn(txt)
      .map(_.group(1)).getOrElse("")
    val ids = ("\"(" + Names.Pattern + ")\"").r.findAllMatchIn(values).map(_.group(1)).toSeq
    val aliasBlock = """"aliases":\{([^}]*)\}""".r.findFirstMatchIn(txt)
      .map(_.group(1)).getOrElse("")
    val als = ("\"(" + Names.Pattern + ")\":\"(" + Names.Pattern + ")\"").r.findAllMatchIn(aliasBlock)
      .map(m => m.group(1) -> m.group(2)).toSeq
    (ids, als)
  }
}
