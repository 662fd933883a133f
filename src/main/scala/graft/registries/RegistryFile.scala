package graft.registries

import java.nio.file.{Files, Path, StandardCopyOption, StandardOpenOption}
import java.util.concurrent.ConcurrentHashMap
import scala.jdk.CollectionConverters._

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

    def append(line: String): Unit = appendAll(Seq(line))

    /** Append `lines` as one write: no other append lands between them. */
    def appendAll(lines: Seq[String]): Unit =
      if (lines.nonEmpty) lock.synchronized {
        Files.write(path, text(lines),
          StandardOpenOption.CREATE, StandardOpenOption.APPEND)
      }
  }
}

/** The JSONL string codec shared by every log: full JSON escape incl.
  * control chars, so an unrestricted step name or free-text comment with
  * a tab/newline cannot corrupt an append-only log (same hardening as
  * Verify's oracle_sql.json writer), and the one string-field reader. */
private[graft] object Jsonl {
  def esc(s: String): String = s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }

  def unesc(s: String): String = {
    val b = new StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '\\' && i + 1 < s.length) {
        s.charAt(i + 1) match {
          case '"'  => b += '"';  i += 2
          case '\\' => b += '\\'; i += 2
          case 'n'  => b += '\n'; i += 2
          case 'r'  => b += '\r'; i += 2
          case 't'  => b += '\t'; i += 2
          case 'u'  => b += Integer.parseInt(s.substring(i + 2, i + 6), 16).toChar; i += 6
          case o    => b += o;    i += 2
        }
      } else { b += c; i += 1 }
    }
    b.toString
  }

  /** The first `"key":"…"` string field of a line, unescaped. The lines
    * come from this codec's writers (restricted, self-escaped JSON), so
    * a scan to the first unescaped quote is exact. It is a linear scan,
    * not a regex: Java matches a `(?:[^"\\]|\\.)*` group by recursing
    * once per character, so a field of some thousand characters (a wide
    * value's schema) would overflow the stack. */
  def str(line: String, key: String): Option[String] = {
    val open = "\"" + key + "\":\""
    var at = line.indexOf(open)
    while (at >= 0) {
      val start = at + open.length
      var i = start
      while (i < line.length && line.charAt(i) != '"')
        i += (if (line.charAt(i) == '\\') 2 else 1)
      if (i < line.length) return Some(unesc(line.substring(start, i)))
      at = line.indexOf(open, at + 1)
    }
    None
  }
}
