package graft
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession
import graft.registries.Jsonl

/** Per-round benchmark: runs every registered query twice and reports
  * cold (first run: includes the one-time plan/codegen compile) and warm
  * (second run: data-dependent cost only) seconds. The headline `value`
  * stays the cold total — the number the driver tracks — with
  * `warm`/`warm_total` alongside so plan-compile constants are
  * separable from real data costs (they amortize to noise at cluster
  * scale; warm is the 100 TB-relevant number). Each timing is the
  * query's build plus a `noop`-sink write of its full result.
  *
  * Comparability (r8): 338 queries × 2 in ONE JVM accumulate enough
  * heap/GC pressure to inflate late-suite warm timings up to ~3×
  * (r7's phantom "regressions" — single-key runs showed the same
  * queries flat). Two fixes:
  *   - the suite runs in CHUNKS of `SPARK_GRAFT_BENCH_CHUNK` queries
  *     (default 90), each in a FRESH child JVM with the same classpath
  *     and session shape (warmed exactly like the single-JVM bench, so
  *     cold/warm semantics are unchanged); the parent merges the
  *     per-chunk results. Chunk size 0 restores the old inline
  *     single-JVM mode, and any child failure falls back to running
  *     that chunk inline.
  *   - a per-query `gc` dict (seconds of JVM GC time during the warm
  *     run, from the collector MXBeans) so any residual inflation is
  *     visible in the artifact instead of masquerading as plan cost.
  */
object Bench {

  private def gcMillis(): Long = {
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum
  }

  /** (name, cold, warm, warmGcSec) for each key, on a warmed session. */
  private def runKeys(spark: SparkSession, sfDir: String,
      keys: Seq[String]): Seq[Result] = {
    // warm the JVM/codegen/FS once so the first timed query doesn't
    // carry the whole session bootstrap cost
    spark.range(1000).selectExpr("sum(id)").collect()
    SparkEntry.entry(spark).count()
    def timeOne(name: String,
        fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): (Double, Double) = {
      val gc0 = gcMillis()
      val t0 = System.nanoTime()
      // the FULL result: a noop-sink write evaluates every column and
      // the final sort without collecting, where count() would let the
      // optimizer prune both. A failed query must be visible, not a
      // fast-looking timing: report -1 and log, instead of silently
      // recording time-to-crash
      val ok = try {
        fn(spark, sfDir).write.format("noop").mode("overwrite").save(); true
      } catch {
        case e: Throwable =>
          System.err.println(s"[bench] $name failed: ${e.getMessage}"); false
      }
      val dt = if (ok) (System.nanoTime() - t0) / 1e9 else -1.0
      val gcSec = (gcMillis() - gc0) / 1e3
      // release the query's tracked intermediates (the library-user
      // discipline), with clearCache as a backstop for anything else
      Caches.release()
      spark.catalog.clearCache()
      (dt, gcSec)
    }
    keys.zipWithIndex.map { case (name, i) =>
      // untimed GC hint every 25 queries: lets the ContextCleaner drop
      // dead broadcasts/accumulators so heap pressure stays flat
      if (i % 25 == 24) System.gc()
      val fn = SparkEntry.queries(name)
      val (cold, _) = timeOne(name, fn)
      val (warm, warmGc) = timeOne(name, fn)
      (name, cold, warm, warmGc)
    }
  }

  /** Child-JVM entry: bench the keys in SPARK_GRAFT_BENCH_KEYS, write
    * name/cold/warm/gc TSV to SPARK_GRAFT_BENCH_OUT. */
  private def childMain(sfDir: String, cpus: Int, keysCsv: String,
      outPath: String): Unit = {
    val spark = Sessions.create(cpus)
    val rs = runKeys(spark, sfDir, keysCsv.split(',').toSeq.filter(_.nonEmpty))
    val body = rs.map(r => s"${r._1}\t${r._2}\t${r._3}\t${r._4}").mkString("\n")
    java.nio.file.Files.write(java.nio.file.Paths.get(outPath),
      (body + "\n").getBytes("UTF-8"))
    spark.stop()
  }

  /** Spawn a fresh JVM for one chunk; None if the child failed. */
  private def runChunkInChild(sfDir: String, cpus: Int,
      keys: Seq[String]): Option[Seq[Result]] = {
    try {
      val out = java.nio.file.Files.createTempFile("graft_bench_", ".tsv")
      val log = java.nio.file.Files.createTempFile("graft_bench_", ".log")
      val javaBin = s"${System.getProperty("java.home")}/bin/java"
      // mirror build.sbt's run JVM exactly: same add-opens set and heap
      val addOpens = Seq(
        "java.base/java.lang", "java.base/java.lang.invoke",
        "java.base/java.lang.reflect", "java.base/java.io",
        "java.base/java.net", "java.base/java.nio",
        "java.base/java.util", "java.base/java.util.concurrent",
        "java.base/java.util.concurrent.atomic",
        "java.base/sun.nio.ch", "java.base/sun.nio.cs",
        "java.base/sun.security.action", "java.base/sun.util.calendar")
        .map(p => s"--add-opens=$p=ALL-UNNAMED")
      val cmd = Seq(javaBin, "-cp", System.getProperty("java.class.path")) ++
        addOpens ++ Seq(
          s"-Xmx${sys.env.getOrElse("SPARK_DRIVER_MEM", "8g")}",
          "-Dspark.ui.enabled=false",
          "-Dspark.sql.session.timeZone=UTC",
          "graft.Bench")
      val pb = new ProcessBuilder(cmd.asJava)
      val env = pb.environment()
      env.put("SPARK_GRAFT_SF_DIR", sfDir)
      env.put("SPARK_GRAFT_CPUS", cpus.toString)
      env.put("SPARK_GRAFT_BENCH_KEYS", keys.mkString(","))
      env.put("SPARK_GRAFT_BENCH_OUT", out.toString)
      pb.redirectOutput(log.toFile).redirectErrorStream(true)
      val rc = pb.start().waitFor()
      if (rc != 0) {
        System.err.println(s"[bench] chunk JVM exited $rc (log: $log)")
        return None
      }
      val lines = java.nio.file.Files.readAllLines(out)
      val parsed = lines.asScala.toSeq.filter(_.nonEmpty).map { l =>
        val f = l.split('\t')
        (f(0), f(1).toDouble, f(2).toDouble, f(3).toDouble)
      }
      if (parsed.map(_._1) == keys) Some(parsed) else {
        System.err.println(s"[bench] chunk output incomplete (log: $log)")
        None
      }
    } catch {
      case e: Throwable =>
        System.err.println(s"[bench] chunk spawn failed: ${e.getMessage}")
        None
    }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = Sessions.cpus
    (sys.env.get("SPARK_GRAFT_BENCH_KEYS"), sys.env.get("SPARK_GRAFT_BENCH_OUT")) match {
      case (Some(keys), Some(out)) => childMain(sfDir, cpus, keys, out); return
      case _ =>
    }
    val chunkSize = chunkFrom(sys.env)
    // optional args = key filter (targeted benching, like Verify's)
    val allKeys = {
      val keys = SparkEntry.queries.keys.toSeq.sorted
      if (args.isEmpty) keys
      else {
        val want = args.toSet
        val unknown = want -- keys.toSet
        require(unknown.isEmpty, s"unknown query keys: ${unknown.mkString(", ")}")
        keys.filter(want)
      }
    }
    val results: Seq[Result] =
      if (chunkSize == 0) {
        val spark = Sessions.create(cpus)
        try runKeys(spark, sfDir, allKeys) finally spark.stop()
      } else {
        allKeys.grouped(chunkSize).toSeq.flatMap { chunk =>
          runChunkInChild(sfDir, cpus, chunk).getOrElse {
            // degraded but correct: run the chunk inline in this JVM
            val spark = Sessions.create(cpus)
            try runKeys(spark, sfDir, chunk) finally spark.stop()
          }
        }
      }
    // a reader may keep only the last ~2000 chars of stdout, and 351 key
    // names alone are ~4.7 KB: the full dicts go to the detail file, and
    // stdout ends with the one compact metric line
    val detailPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_JSON",
      s"bench_out/bench_full_${cpus}cpu.json")
    val detail = (detailLine(results, sfDir) + "\n").getBytes("UTF-8")
    val wrote = try {
      val p = java.nio.file.Paths.get(detailPath)
      if (p.getParent != null) java.nio.file.Files.createDirectories(p.getParent)
      java.nio.file.Files.write(p, detail)
      detailPath
    } catch { case _: Throwable =>
      try {
        val p = java.nio.file.Paths.get(s"/tmp/graft_bench_full_${cpus}cpu.json")
        java.nio.file.Files.write(p, detail)
        p.toString
      } catch { case _: Throwable => "unwritable" }
    }
    println(metricLine(results, sfDir, wrote))
  }

  /** (key, cold, warm, warm GC) seconds of one benched key. */
  type Result = (String, Double, Double, Double)

  /** Chunk size (`SPARK_GRAFT_BENCH_CHUNK`, default 90); 0 runs every
    * key inline in this JVM. */
  def chunkFrom(env: Map[String, String]): Int =
    Sessions.knob(env, "SPARK_GRAFT_BENCH_CHUNK", 90, min = 0).min(Int.MaxValue).toInt

  /** The detail file's line: totals plus every key's cold, warm and GC
    * seconds. */
  private[graft] def detailLine(results: Seq[Result], sfDir: String): String = {
    def dict(f: Result => Double) = Jsonl.obj(results.map(r => r._1 -> f(r)): _*)
    Jsonl.line("metric" -> "total", "value" -> results.map(_._2).sum, "unit" -> "sec",
      "queries" -> dict(_._2), "warm" -> dict(_._3), "gc" -> dict(_._4),
      "warm_total" -> results.map(_._3).sum, "sf" -> sfDir)
  }

  /** The stdout metric line: exact totals plus the cold and warm seconds
    * (to 0.01 s) of the most keys, slowest warm first, that keep the line
    * within 1800 chars. */
  private[graft] def metricLine(results: Seq[Result], sfDir: String, detail: String): String = {
    val byWarm = results.sortBy(r => (-r._3, r._1))
    def line(n: Int): String = {
      val top = byWarm.take(n).sortBy(_._1)
      def dict(f: Result => Double) =
        Jsonl.obj(top.map(r => r._1 -> math.rint(f(r) * 100) / 100): _*)
      Jsonl.line("metric" -> "total", "value" -> results.map(_._2).sum, "unit" -> "sec",
        "queries" -> dict(_._2), "warm" -> dict(_._3),
        "warm_total" -> results.map(_._3).sum, "n_queries" -> results.size,
        "n_shown" -> top.size, "note" -> s"top-$n by warm; full dicts in detail file",
        "detail" -> detail, "sf" -> sfDir)
    }
    (results.size to 0 by -1).iterator.map(line).find(_.length <= 1800).getOrElse(line(0))
  }
}
