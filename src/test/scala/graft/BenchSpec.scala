package graft

import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite
import graft.registries.Jsonl

/** Bench's stdout contract: a reader that keeps only the last 2000
  * chars of stdout still gets one whole, parseable metric line. */
class BenchSpec extends AnyFunSuite {
  // 351 keys with names as long as the registry's (≈13 chars)
  private val results: Seq[Bench.Result] = (1 to 351).map { i =>
    (f"family_key_$i%03d", 0.1 + i * 0.013, 0.05 + (i * 7 % 351) * 0.011, 0.001 * (i % 5))
  }

  test("the metric line of a 351-key result survives a 2000-char stdout tail") {
    val line = Bench.metricLine(results, "/data/sf0.1", "bench_out/bench_full_8cpu.json")
    val stdout = (1 to 40).map(i => s"[bench] log line $i\n").mkString + line + "\n"
    val last = stdout.takeRight(2000).split('\n').last
    val o = Jsonl.readObject(last).getOrElse(fail(s"not one JSON object: $last"))
    assert(o.get("metric").textValue == "total")
    assert(math.abs(o.get("value").doubleValue - results.map(_._2).sum) < 1e-9)
    assert(math.abs(o.get("warm_total").doubleValue - results.map(_._3).sum) < 1e-9)
    assert(o.get("n_queries").intValue == 351)
    // the shown keys are the slowest warm ones
    val shown = o.get("n_shown").intValue
    assert(shown > 0)
    assert(o.get("warm").fieldNames.asScala.toSet ==
      results.sortBy(-_._3).take(shown).map(_._1).toSet)
  }

  test("the detail line carries every key's cold, warm and gc seconds") {
    val o = Jsonl.readObject(Bench.detailLine(results, "/data/sf0.1")).get
    for (f <- Seq("queries", "warm", "gc")) assert(o.get(f).size == 351, f)
    assert(o.get("warm").get("family_key_007").doubleValue == results(6)._3)
  }
}
