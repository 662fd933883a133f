package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{Broadcasting, Fanout}
import graft.streaming.EventStream

/** Runner-session guards. Knob parsing is checked through the pure
  * `Map`-taking parsers, so no process env is set and no second session
  * is built (`getOrCreate` in this JVM would hand back, and reconfigure,
  * the shared test session). */
class SessionsSpec extends AnyFunSuite {
  private val parsers: Seq[(String, Map[String, String] => Long, Long)] = Seq(
    ("SPARK_GRAFT_CPUS", env => Sessions.cpusFrom(env).toLong,
      Runtime.getRuntime.availableProcessors.toLong),
    ("SPARK_GRAFT_BROADCAST_CAP", Broadcasting.capFrom, 64L * 1024 * 1024),
    ("SPARK_GRAFT_FANOUT_CAP", Fanout.capFrom, 1024L * 1024 * 1024),
    ("SPARK_GRAFT_STATE_PARTITIONS", env => EventStream.statePartitionsFrom(env, 3L), 3L),
    ("SPARK_GRAFT_BENCH_CHUNK", env => Bench.chunkFrom(env).toLong, 90L))

  for ((name, parse, default) <- parsers) {
    test(s"$name: missing takes the default, a number parses") {
      assert(parse(Map.empty) == default)
      assert(parse(Map("OTHER_VAR" -> "7")) == default)
      assert(parse(Map(name -> "12")) == 12L)
      assert(parse(Map(name -> " 3 ")) == 3L)
    }

    test(s"$name: a bad value fails with IllegalArgumentException naming it") {
      for (bad <- Seq("", "abc", "64MB", "1.5", "99999999999999999999")) {
        val e = intercept[IllegalArgumentException](parse(Map(name -> bad)))
        assert(e.getMessage.contains(name), e.getMessage)
        assert(e.getMessage.contains(s"'$bad'"), e.getMessage)
      }
    }
  }

  test("SPARK_GRAFT_CPUS must be positive; caps keep accepting any integer") {
    for (bad <- Seq("0", "-4")) {
      val e = intercept[IllegalArgumentException](
        Sessions.cpusFrom(Map("SPARK_GRAFT_CPUS" -> bad)))
      assert(e.getMessage.contains("SPARK_GRAFT_CPUS"), e.getMessage)
    }
    assert(Broadcasting.capFrom(Map("SPARK_GRAFT_BROADCAST_CAP" -> "-1")) == -1L)
    assert(Fanout.capFrom(Map("SPARK_GRAFT_FANOUT_CAP" -> "0")) == 0L)
  }

  test("SparkSession.builder appears in exactly one main source file") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the repo root (cwd: ${Paths.get("").toAbsolutePath})")
    val hits = Files.walk(root).iterator.asScala
      .filter(p => Files.isRegularFile(p) && p.toString.endsWith(".scala"))
      .filter(p => Files.readString(p).contains("SparkSession.builder"))
      .map(root.relativize(_).toString).toSeq
    assert(hits == Seq("graft/Tables.scala"),
      s"build runner sessions through Sessions.create, not a copied builder: $hits")
  }
}
