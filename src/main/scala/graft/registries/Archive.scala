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
    lineageLog(targetDir).appendAll(lineage.lines)
    ids
  }

  /** (Re)write manifest.json — ids/aliases use the restricted registry
    * charset; metadata values are free text. The `metadata` object is
    * omitted while empty. */
  private def writeManifest(dir: String, ids: Seq[String],
                            aliases: Seq[(String, String)],
                            metadata: Seq[(String, String)]): Unit = {
    val manifest = Jsonl.line("version" -> Version, "values" -> ids,
      "aliases" -> Jsonl.obj(aliases: _*),
      "metadata" -> Option.when(metadata.nonEmpty)(Jsonl.obj(metadata.sortBy(_._1): _*)))
    Files.createDirectories(Paths.get(dir))
    // a Table rewrite (temp file + atomic move): the FileLock only
    // serializes WRITERS — readers (readManifest via mountedResolve, which
    // swallows exceptions) take no lock, so an in-place truncate-write
    // could expose an empty/torn manifest and silently resolve "no such
    // value"
    new RegistryFile.Table(Paths.get(dir, "manifest.json")).rewrite(Seq(manifest))
  }

  /** Archive-level metadata (kiara base_api.py:2337
    * set_archive_metadata_value): key=value pairs attached to THE
    * ARCHIVE itself (title, licence, provenance note) in its manifest —
    * distinct from value metadata, which the MetadataRegistry owns.
    * Latest write per key wins; a rewrite preserves values + aliases. */
  def setArchiveMetadata(dir: String, key: String, value: String): Unit = {
    Names.validate("archive metadata key", key)
    withArchiveLock(dir) {
      val m = readManifest(dir)
      writeManifest(dir, m.values, m.aliases,
        m.metadata.filterNot(_._1 == key) :+ (key -> value))
    }
  }

  /** The archive's own metadata entries, sorted by key. */
  def readArchiveMetadata(dir: String): Seq[(String, String)] = readManifest(dir).metadata

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
  def manifest(dir: String): (Seq[String], Seq[(String, String)]) = {
    val m = readManifest(dir)
    (m.values, m.aliases)
  }

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
      val m = readManifest(dir)
      require(!m.values.contains(id), s"archive already has value: $id")
      df.write.mode("errorifexists").parquet(s"$dir/values/$id")
      val newAls = alias.fold(m.aliases)(a => m.aliases.filterNot(_._1 == a) :+ (a -> id))
      writeManifest(dir, m.values :+ id, newAls, m.metadata)
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
    val src = readManifest(sourceDir)
    val fresh = !Files.exists(Paths.get(targetDir, "manifest.json"))
    // a fresh target inherits the source's archive metadata
    val tgt = if (fresh) src.copy(values = Seq.empty, aliases = Seq.empty)
      else readManifest(targetDir)
    val copied = src.values.filterNot(tgt.values.contains)
    copied.foreach { id =>
      copyTree(Paths.get(sourceDir, "values", id), Paths.get(targetDir, "values", id))
    }
    val mergedIds = (tgt.values ++ copied).distinct
    val mergedAls =
      if (noAliases) tgt.aliases
      else {
        val taken = tgt.aliases.map(_._1).toSet
        tgt.aliases ++ src.aliases.filter { case (a, v) =>
          !taken.contains(a) && mergedIds.contains(v) }
      }
    writeManifest(targetDir, mergedIds, mergedAls.sorted, tgt.metadata)
    val tgtLin = lineageLog(targetDir)
    val existing = tgtLin.lines.toSet
    tgtLin.appendAll(lineageLog(sourceDir).lines.filterNot(existing))
    copied
  }

  private def lineageLog(dir: String) = new RegistryFile.Log(Paths.get(dir, "lineage.jsonl"))

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
    val (ids, als) = manifest(sourceDir)
    ids.foreach(id => data.store(id, ParquetMeta.read(spark, s"$sourceDir/values/$id")))
    if (!noAliases) als.foreach { case (a, v) => aliases.set(a, v) }
    lineageLog(sourceDir).lines.foreach(lineage.appendRaw)
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
    val m = readManifest(sourceDir)
    val entries = m.values.map { id =>
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
    ArchiveInfo(m.version, entries, m.aliases, lineageLog(sourceDir).lines.size, m.metadata)
  }

  /** One parsed manifest.json; metadata sorted by key. */
  private final case class Manifest(version: Int, values: Seq[String],
                                    aliases: Seq[(String, String)],
                                    metadata: Seq[(String, String)])

  /** Parse manifest.json with the one JSON codec. Value ids and aliases
    * are kept only when they are in the registry charset (enforced at
    * store/set time): an id names a directory under `values/`, so a
    * hand-edited `..` must not resolve outside the archive. */
  private def readManifest(dir: String): Manifest = {
    val p = Paths.get(dir, "manifest.json")
    require(Files.exists(p), s"not an archive (no manifest.json): $dir")
    val m = Jsonl.readObject(Files.readString(p)).getOrElse(
      throw new IllegalArgumentException(s"corrupt archive manifest (not one JSON object): $p"))
    Manifest(m.path("version").asInt(0),
      Jsonl.texts(m, "values").filter(Names.isValid),
      Jsonl.textFields(m, "aliases").filter { case (a, v) => Names.isValid(a) && Names.isValid(v) },
      Jsonl.textFields(m, "metadata").sortBy(_._1))
  }
}
