package graft

import org.apache.spark.sql.Observation
import org.apache.spark.sql.functions.{count, lit}

/** Every registered query key must execute end-to-end at sf0.001 and
  * produce a sane row count — the same surface the driver exercises.
  * Each result is written in full to the `noop` sink, with its row count
  * observed on the way through: `count()` would let the optimizer drop
  * the final sort and every column the count does not need, so a
  * runtime error in a pruned column would pass here unseen.
  */
class QueriesSmokeSpec extends SparkTestBase {

  // dedup_simhash left this set in r8: its planted tail-edit twins
  // guarantee pairs at any SF
  private val expectEmptyOk = Set("dedup_minhash")

  test("entry produces rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every oracle key has a registered query") {
    assert(SparkEntry.oracleSql.keySet.subsetOf(SparkEntry.queries.keySet))
  }

  SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
    test(s"query $name runs at sf0.001") {
      val obs = new Observation()
      fn(spark, sfDir).observe(obs, count(lit(1)).as("n"))
        .write.format("noop").mode("overwrite").save()
      val n = obs.get("n").asInstanceOf[Long]
      if (!expectEmptyOk(name)) assert(n > 0, s"$name returned no rows")
      else assert(n >= 0)
    }
  }

  test("q13Approx: sketch rank-bound verdicts pass and exact columns match q13Percentile") {
    import org.apache.spark.sql.functions._
    val rows = graft.queries.Relational.q13Approx(spark, sfDir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getLong(4) == 1L, s"median sketch out of rank bound: $r")
      assert(r.getLong(5) == 1L, s"q75 sketch out of rank bound: $r")
    }
    // the exact gate-face columns are the same expressions q13Percentile
    // publishes — cross-check the two queries agree
    val ex = graft.queries.Relational.q13Percentile(spark, sfDir)
      .select(col("l_returnflag"), col("median_qty"), col("q75_price"))
      .collect().map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    rows.foreach { r =>
      val (m, q) = ex(r.getString(0))
      assert(r.getDouble(2) == m && r.getDouble(3) == q)
    }
  }
}
