package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentHashMap
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession
import graft.registries.RegistryFile

/** Multi-context management — kiara's context switcher
  * (reference interfaces/python_api/kiara_api.py:538 `list_context_names`,
  * :566 `set_active_context`, :520 `create_new_context`).
  *
  * Contexts are sibling GraftApi roots under one base directory; the
  * active-context choice persists in a marker file so it survives the
  * JVM (and is shared with the CLI). Each context isolates its value
  * store, aliases, lineage and workflows exactly like a kiara context.
  */
class GraftContexts(spark: SparkSession, baseRoot: String) {
  private val base = Paths.get(baseRoot)
  private val activeFile = base.resolve("active_context")
  Files.createDirectories(base)

  private def validate(name: String): String =
    graft.registries.Names.validate("context name", name)

  /** Create (or return existing) context `name`. */
  def createContext(name: String): GraftApi = context(name)

  /** The GraftApi rooted at context `name` (created on first use —
    * kiara's get_context(create=True) behavior). */
  def context(name: String): GraftApi =
    GraftContexts.at(spark, s"$baseRoot/${validate(name)}")

  /** All context names under the base root. */
  def listContextNames: Seq[String] = {
    val s = Files.list(base)
    try s.iterator.asScala.filter(Files.isDirectory(_))
      .map(_.getFileName.toString).toSeq.sorted
    finally s.close()
  }

  /** Persistently switch the active context (creating it if needed).
    * A Table rewrite (temp file + atomic move) so a crash or concurrent
    * reader (the file is shared across JVMs by design) never observes a
    * torn name — a torn prefix would still validate and silently select
    * a brand-new empty context. */
  def setActiveContext(name: String): GraftApi = {
    val api = context(name) // creates the root dir
    new RegistryFile.Table(activeFile).write(validate(name).getBytes("UTF-8"))
    api
  }

  def currentContextName: String =
    if (Files.exists(activeFile)) new String(Files.readAllBytes(activeFile), "UTF-8").trim
    else "default"

  def currentContext: GraftApi = context(currentContextName)

  /** retrieve_context_infos (kiara_api.py:529 plural): census of every
    * context under the base — footer/catalog reads only, no data scan. */
  def contextInfos: Seq[(String, GraftApi.ContextInfo)] =
    listContextNames.map(n => n -> context(n).contextInfo)

  /** list_all_value_ids (kiara_api.py): the cross-context value catalog,
    * ids qualified as `context:id`. */
  def listAllValueIds: Seq[String] =
    listContextNames.flatMap(n => context(n).listValueIds.map(id => s"$n:$id"))

  /** list_all_job_record_ids (kiara_api.py): cross-context job catalog. */
  def listAllJobRecordIds: Seq[String] =
    listContextNames.flatMap(n => context(n).listJobRecordIds.map(id => s"$n:$id"))
}

/** One live context per root for the JVM, as kiara keeps one context
  * object per context: keyed by the normalized absolute root (the
  * [[RegistryFile.lockFor]] key), so `root` and `root/.` share one
  * instance, its event bus, queued jobs and workflow sessions. */
object GraftContexts {
  private val live = new ConcurrentHashMap[String, GraftApi]()

  /** The live GraftApi at `root`, built anew only when there is none, when
    * it was built on another SparkSession, or when the root dir is gone.
    * Every lookup re-registers the root's persisted pipelines. */
  def at(spark: SparkSession, root: String): GraftApi = {
    val dir = Paths.get(root).toAbsolutePath.normalize
    val api = live.compute(dir.toString, (_, api) =>
      if (api != null && (api.spark eq spark) && Files.isDirectory(dir)) api
      else new GraftApi(spark, root))
    api.registerPersistedPipelines()
    api
  }
}
