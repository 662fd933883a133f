package graft.registries

import java.nio.file.{Files, Path, StandardCopyOption, StandardOpenOption}
import java.util.concurrent.ConcurrentHashMap
import scala.jdk.CollectionConverters._
import com.fasterxml.jackson.databind.{DeserializationFeature, JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.{JsonNodeFactory, ObjectNode}
import com.fasterxml.jackson.databind.util.RawValue

/** The one file layer under the kiara registries. Every registry file
  * under a context root is one of two shapes:
  *
  *  - a [[RegistryFile.Table]] — a small file rewritten whole through a
  *    temp file + atomic move, so a reader never sees a torn file
  *    (`aliases.properties`, `workflows.properties`,
  *    `workflow_aliases.properties`, `pipelines.properties`, an archive's
  *    `manifest.json`, the contexts' `active_context`);
  *  - a [[RegistryFile.Log]] — append-only JSONL where the latest line
  *    for a key wins (`lineage.jsonl`, `mounts.jsonl`,
  *    `job_comments.jsonl`, `metadata.jsonl`, `environments.jsonl`,
  *    `workflow_states.jsonl`).
  *
  * Every rewrite and append of one file holds that file's lock — one per
  * normalized path, JVM-wide — so registries, sessions and GraftApi
  * instances sharing a root serialize their writes: an append larger
  * than one write chunk cannot interleave with another, and a
  * read-modify-rewrite cannot lose a concurrent one. Writers in other
  * processes are not serialized (archive manifests add their own
  * FileLock). */
private[graft] object RegistryFile {
  private val locks = new ConcurrentHashMap[String, Object]()

  /** The JVM-wide lock of one file: `root/x` and `root/./x` share it. */
  def lockFor(path: Path): Object =
    locks.computeIfAbsent(path.toAbsolutePath.normalize.toString, _ => new Object)

  private def readLines(path: Path): Seq[String] =
    if (Files.exists(path)) Files.readAllLines(path).asScala.toSeq else Seq.empty

  private def text(lines: Seq[String]): Array[Byte] =
    lines.map(_ + "\n").mkString.getBytes("UTF-8")

  /** A file rewritten whole; a missing file reads as empty. */
  final class Table(path: Path) {
    private val lock = lockFor(path)

    def read: Seq[String] = readLines(path)

    /** Replace the file with `lines` (each newline-terminated). */
    def rewrite(lines: Seq[String]): Unit = write(text(lines))

    /** Replace the file with `bytes`: temp file + atomic move, and the
      * temp file is deleted when the write or the move fails. */
    def write(bytes: Array[Byte]): Unit = lock.synchronized {
      val tmp = Files.createTempFile(path.toAbsolutePath.getParent,
        s".${path.getFileName}-", ".tmp")
      try {
        Files.write(tmp, bytes)
        Files.move(tmp, path, StandardCopyOption.ATOMIC_MOVE,
          StandardCopyOption.REPLACE_EXISTING)
      } catch { case e: Throwable => Files.deleteIfExists(tmp); throw e }
    }

    /** The `key=value` view: lines without '=' are skipped, the first
      * '=' splits. */
    def entries: Map[String, String] =
      read.filter(_.contains("=")).map { l =>
        val i = l.indexOf('='); l.substring(0, i) -> l.substring(i + 1)
      }.toMap

    /** Read-modify-rewrite of the `key=value` view under the file's
      * lock; lines are written sorted by key. */
    def updateEntries(f: Map[String, String] => Map[String, String]): Unit =
      lock.synchronized {
        rewrite(f(entries).toSeq.sortBy(_._1).map { case (k, v) => s"$k=$v" })
      }
  }

  /** An append-only line log; a missing file reads as empty. Reads take
    * the lock too, so they never see half of an append. */
  final class Log(path: Path) {
    private val lock = lockFor(path)

    def lines: Seq[String] = lock.synchronized(readLines(path))

    /** The lines read as JSON objects; a line that is not one (a hand
      * edit) is skipped. */
    def objects: Seq[JsonNode] =
      lines.flatMap(Jsonl.readObject)

    def append(line: String): Unit = appendAll(Seq(line))

    /** Append `lines` as one write: no other append lands between them. */
    def appendAll(lines: Seq[String]): Unit =
      if (lines.nonEmpty) lock.synchronized {
        Files.write(path, text(lines),
          StandardOpenOption.CREATE, StandardOpenOption.APPEND)
      }
  }
}

/** The one JSON codec for everything graft reads or writes outside
  * Spark: the registry logs, archive manifests, the service protocol and
  * its info file, pipeline spec files and Verify's `oracle_sql.json`.
  * One Jackson `ObjectMapper` (a Spark dependency, no new jar), tree
  * model.
  *
  * Reading is strict: trailing tokens fail, so a torn or interleaved
  * line is malformed instead of half-parsed. Each caller keeps its own
  * policy for a malformed line — the free-text logs skip it
  * ([[readObject]]), the workflow-state log throws.
  *
  * Writing emits fields in the order given and escapes `"`, `\` and
  * every control char (`\n`, `\t`, `\b`, uppercase `\u00XX`, …), so an
  * unrestricted step name, comment or path cannot break a line. Older
  * builds wrote lowercase `\u00xx`, and archive manifests `\u007d`
  * for `}`; both read back the same. */
private[graft] object Jsonl {
  private val mapper = new ObjectMapper()
    .enable(DeserializationFeature.FAIL_ON_TRAILING_TOKENS)
  private val nodes = JsonNodeFactory.instance

  /** One JSON document; malformed text throws a Jackson
    * `JsonProcessingException`. */
  def read(text: String): JsonNode = mapper.readTree(text)

  /** One JSON object, or None when `text` is anything else — malformed,
    * a scalar, an array. */
  def readObject(text: String): Option[JsonNode] =
    try Some(read(text)).filter(_.isObject)
    catch { case _: com.fasterxml.jackson.core.JsonProcessingException => None }

  /** The string field `key` of an object. */
  def text(obj: JsonNode, key: String): Option[String] =
    Option(obj.get(key)).filter(_.isTextual).map(_.textValue)

  /** The string elements of the array `key` of an object. */
  def texts(obj: JsonNode, key: String): Seq[String] =
    obj.path(key).asScala.toSeq.filter(_.isTextual).map(_.textValue)

  /** The string fields of the object `key` of an object, in order. */
  def textFields(obj: JsonNode, key: String): Seq[(String, String)] =
    obj.path(key).properties.asScala.toSeq
      .collect { case e if e.getValue.isTextual => e.getKey -> e.getValue.textValue }

  /** An object of `fields` in the order given. Values: String, Boolean,
    * Int, Long, Double, a Seq (an array of its elements), a JsonNode
    * (nested as is), a RawValue (JSON text embedded verbatim), or an
    * Option (None omits the field). */
  def obj(fields: (String, Any)*): ObjectNode = {
    val o = nodes.objectNode()
    fields.foreach {
      case (_, None)    => ()
      case (k, Some(v)) => o.replace(k, node(v))
      case (k, v)       => o.replace(k, node(v))
    }
    o
  }

  private def node(v: Any): JsonNode = v match {
    case n: JsonNode  => n
    case s: String    => nodes.textNode(s)
    case b: Boolean   => nodes.booleanNode(b)
    case i: Int       => nodes.numberNode(i)
    case l: Long      => nodes.numberNode(l)
    case d: Double    => nodes.numberNode(d)
    case r: RawValue  => nodes.rawValueNode(r)
    case xs: Seq[_]   => val a = nodes.arrayNode(); xs.foreach(x => a.add(node(x))); a
    case other => throw new IllegalArgumentException(s"no JSON form for ${other.getClass}")
  }

  /** [[obj]] as one line of JSON text. */
  def line(fields: (String, Any)*): String = mapper.writeValueAsString(obj(fields: _*))
}
