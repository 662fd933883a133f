package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Command line of the benchmark JVM (run.py builds it):
  *
  *   perfbench.Main --workload W --seed N --seconds S --trace 0|1
  *     --data DIR --work DIR --keys FILE --expect FILE --out FILE
  *     [--check-dir DIR] [--cpus N]
  *
  * `--data` holds the input tables, `--keys` the workload's query keys
  * (one a line), `--expect` the expected full-result row count of every
  * key (`key<TAB>rows`). With `--check-dir`, every key's result is also
  * written there as parquet for the canonical-hash comparison. The JVM
  * writes one JSON result to `--out`; run.py prints the final line. */
final case class Opts(workload: String, seed: Long, seconds: Double, trace: Boolean,
                      data: String, work: String, keys: Seq[String],
                      expect: Map[String, Long], out: String,
                      checkDir: Option[String], cpus: Int)

object Opts {
  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => throw new IllegalArgumentException(s"bad argument: ${other.mkString(" ")}")
    }.toMap
    def need(k: String): String =
      m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    def lines(p: String): Seq[String] =
      Files.readAllLines(Paths.get(p)).asScala.toSeq.map(_.trim).filter(_.nonEmpty)
    Opts(
      workload = need("workload"),
      seed = need("seed").toLong,
      seconds = need("seconds").toDouble,
      trace = need("trace") == "1",
      data = need("data"),
      work = need("work"),
      keys = m.get("keys").map(lines).getOrElse(Seq.empty),
      expect = m.get("expect").map(lines).getOrElse(Seq.empty).map { l =>
        val Array(k, v) = l.split('\t'); k -> v.toLong }.toMap,
      out = need("out"),
      checkDir = m.get("check-dir"),
      cpus = m.get("cpus").map(_.toInt)
        .getOrElse(Runtime.getRuntime.availableProcessors()))
  }
}

/** What a workload hands back to the runner. */
final case class Outcome(attempted: Int, failures: Seq[(String, String)],
                         metrics: Seq[(String, Double, String)],
                         detail: Seq[String])

object Main {

  /** The session a graft user would build on one machine: the same
    * settings graft's own Bench uses, with scratch space kept under the
    * benchmark's work directory. */
  def newSession(cpus: Int, work: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.files.openCostInBytes", "16384")
      .config("spark.sql.adaptive.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.cleaner.periodicGC.interval", "1min")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def gcSeconds(): Double =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum / 1e3

  /** CPU seconds this JVM has used so far, on every thread. */
  def cpuSeconds(): Double =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean match {
      case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime / 1e9
      case _ => 0.0
    }

  /** CPU seconds the calling thread has used so far. */
  def threadCpuSeconds(): Double =
    java.lang.management.ManagementFactory.getThreadMXBean.getCurrentThreadCpuTime / 1e9

  /** MB of heap this JVM has allocated so far, on every thread. */
  def allocatedMb(): Double =
    java.lang.management.ManagementFactory.getThreadMXBean match {
      case t: com.sun.management.ThreadMXBean => t.getTotalThreadAllocatedBytes / 1048576.0
      case _ => 0.0
    }

  /** Heap in use after full collections, in MB. */
  def retainedHeapMb(): Double = {
    val mem = java.lang.management.ManagementFactory.getMemoryMXBean
    (1 to 3).foreach { _ => System.gc(); Thread.sleep(100) }
    mem.getHeapMemoryUsage.getUsed / 1048576.0
  }

  /** Seconds of CPU time stolen by the hypervisor so far (0 if unknown). */
  def stealSeconds(): Double =
    try {
      val cpu = Files.readAllLines(Paths.get("/proc/stat")).asScala
        .find(_.startsWith("cpu ")).getOrElse("")
      val f = cpu.trim.split("\\s+")
      if (f.length > 8) f(8).toDouble / 100.0 else 0.0
    } catch { case _: Throwable => 0.0 }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.iterator.asScala.toSeq.reverse.foreach(Files.deleteIfExists)
      finally s.close()
    }

  def main(args: Array[String]): Unit = {
    val opts = Opts.parse(args)
    val tmp = Paths.get(System.getProperty("java.io.tmpdir"))
    Files.createDirectories(tmp)
    val tmpBefore = Files.list(tmp).iterator.asScala.map(_.toString).toSet
    val steal0 = stealSeconds()
    val spark = newSession(opts.cpus, opts.work)
    val outcome =
      try opts.workload match {
        case "kiara_session" => KiaraSession.run(spark, opts)
        case _ => QueryWorkload.run(spark, opts)
      } catch {
        case e: Throwable =>
          e.printStackTrace()
          Outcome(1, Seq("harness" -> QueryWorkload.message(e)), Seq.empty, Seq.empty)
      }
    val tmpLeft = Files.list(tmp).iterator.asScala.map(_.toString).toSet -- tmpBefore
    val metrics = outcome.metrics ++ Seq(
      ("host.steal_s", stealSeconds() - steal0, "s"),
      ("temp.dirs_left", tmpLeft.size.toDouble, "count"))
    val heapMax = Runtime.getRuntime.maxMemory / 1048576.0
    val json = Json.obj(Seq(
      "workload" -> Json.str(opts.workload),
      "seed" -> opts.seed.toString,
      "nproc" -> opts.cpus.toString,
      "heap_max_mb" -> Json.num(heapMax),
      "keys" -> Json.arr(opts.keys.map(Json.str)),
      "attempted" -> outcome.attempted.toString,
      "failures" -> Json.arr(outcome.failures.map { case (op, err) =>
        Json.obj(Seq("op" -> Json.str(op), "error" -> Json.str(err))) }),
      "metrics" -> Json.obj(metrics.map { case (n, v, u) =>
        n -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u))) }),
      "ops" -> Json.arr(outcome.detail)))
    val out = Paths.get(opts.out)
    Files.createDirectories(out.getParent)
    Files.write(out, (json + "\n").getBytes("UTF-8"))
    spark.stop()
  }
}
