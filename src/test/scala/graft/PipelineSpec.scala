package graft

import org.apache.spark.sql.functions._
import graft.plans.{OpRegistry, Pipeline}
import graft.registries.{LineageRegistry, WorkflowRegistry}

class PipelineSpec extends SparkTestBase {

  private def steps = Seq(
    Pipeline.Step("filtered", Seq("lineitem"),
      in => in("lineitem").filter(col("l_quantity") > 40)),
    Pipeline.Step("agg", Seq("filtered"),
      in => in("filtered").groupBy("l_returnflag").agg(count(lit(1)).as("n"))))

  test("3-step pipeline executes topologically with lineage") {
    val li = Tables.t(spark, sfDir, "lineitem")
    val res = Pipeline.run(steps, Map("lineitem" -> li))
    assert(res("agg").collect().map(_.getLong(1)).sum > 0)
    assert(res.lineage.map(_.step) == Seq("filtered", "agg"))
    assert(res.lineage.last.inputs == Seq("filtered"))
  }

  test("out-of-order step declaration still resolves") {
    val li = Tables.t(spark, sfDir, "lineitem")
    val res = Pipeline.run(steps.reverse, Map("lineitem" -> li))
    assert(res.lineage.map(_.step) == Seq("filtered", "agg"))
  }

  test("unknown input fails fast with the missing name") {
    val ex = intercept[IllegalArgumentException] {
      Pipeline.run(Seq(Pipeline.Step("s", Seq("nope"), in => in("nope"))), Map.empty)
    }
    assert(ex.getMessage.contains("nope"))
  }

  test("cycle detection") {
    val cyc = Seq(
      Pipeline.Step("a", Seq("b"), in => in("b")),
      Pipeline.Step("b", Seq("a"), in => in("a")))
    intercept[IllegalArgumentException] { Pipeline.run(cyc, Map.empty) }
  }

  test("workflow registry re-runs a named pipeline and records lineage") {
    val root = graft.sources.Export.tempDir("graft_wf_").toString
    val lin = new LineageRegistry(root)
    val wf = new WorkflowRegistry(root, lin)
    wf.register("counts", steps)
    val res = wf.run("counts", "run-1", Map("lineitem" -> Tables.t(spark, sfDir, "lineitem")))
    assert(res("agg").count() > 0)
    assert(lin.lines.size == 2)
    assert(lin.lines.head.contains("\"run\":\"run-1\""))
  }

  test("persisted workflow survives a fresh registry on the same root") {
    val root = graft.sources.Export.tempDir("graft_wfp_").toString
    val lin = new LineageRegistry(root)
    val wf = new WorkflowRegistry(root, lin)
    OpRegistry.register("wf_filter_heavy", df => df.filter(col("l_quantity") > 40))
    OpRegistry.register("wf_count_flag",
      df => df.groupBy("l_returnflag").agg(count(lit(1)).as("n")))
    wf.registerOps("heavy_counts", Seq(
      WorkflowRegistry.OpStep("filtered", "wf_filter_heavy", "lineitem"),
      WorkflowRegistry.OpStep("agg", "wf_count_flag", "filtered")))
    // a brand-new registry instance on the same root (fresh-JVM analogue;
    // ops re-resolve by name at run time) sees and runs the workflow
    val wf2 = new WorkflowRegistry(root, new LineageRegistry(root))
    assert(wf2.list.contains("heavy_counts"))
    val res = wf2.run("heavy_counts", "run-2",
      Map("lineitem" -> Tables.t(spark, sfDir, "lineitem")))
    assert(res("agg").count() > 0)
    intercept[IllegalArgumentException] {
      wf2.registerOps("bad name!", Seq(WorkflowRegistry.OpStep("a", "b", "c")))
    }
  }

  test("binary operations: registry arity, persisted two-input workflow, '+' wiring") {
    graft.plans.Builtins.ensureRegistered()
    assert(OpRegistry.arity("table2.join") == 2)
    assert(OpRegistry.info("table2.join").inputType == "table+table")
    // arity mismatches are refused with direction
    val e1 = intercept[IllegalArgumentException](OpRegistry.get("table2.join"))
    assert(e1.getMessage.contains("two inputs"))
    val e2 = intercept[IllegalArgumentException](OpRegistry.get2("text.token_count"))
    assert(e2.getMessage.contains("one input"))
    val e3 = intercept[IllegalArgumentException](
      OpRegistry.step("s", "table2.join", "only_one"))
    assert(e3.getMessage.contains("two inputs"))
    // a persisted workflow with a binary join step survives a fresh
    // registry and runs (kiara connect_steps wiring, '+'-encoded)
    val root = graft.sources.Export.tempDir("graft_wf2in_").toString
    val wf = new WorkflowRegistry(root, new LineageRegistry(root))
    OpRegistry.register("wf2_orders_oct",
      df => df.filter(col("o_orderdate") >= "1995-01-01"))
    wf.registerOps("enriched", Seq(
      WorkflowRegistry.OpStep("recent", "wf2_orders_oct", "orders"),
      WorkflowRegistry.OpStep("joined", "table2.join", "recent+customer")))
    val wf2 = new WorkflowRegistry(root, new LineageRegistry(root))
    val res = wf2.run("enriched", "run-2in", Map(
      "orders" -> Tables.t(spark, sfDir, "orders")
        .select(col("o_orderkey"), col("o_orderdate"),
          col("o_custkey").as("c_custkey")),
      "customer" -> Tables.t(spark, sfDir, "customer")
        .select(col("c_custkey"), col("c_name"))))
    val out = res("joined")
    assert(out.columns.contains("c_name") && out.count() > 0)
    // union + except builtins compose
    import spark.implicits._
    val a = Seq((1L, "x"), (2L, "y")).toDF("id", "s")
    val b = Seq((2L, "y"), (3L, "z")).toDF("id", "s")
    assert(OpRegistry.get2("table2.union")(a, b).count() == 4)
    assert(OpRegistry.get2("table2.except")(a, b).collect()
      .map(_.getLong(0)).toSeq == Seq(1L))
  }

  test("op registry registers and resolves custom operators") {
    OpRegistry.register("double_qty",
      df => df.withColumn("l_quantity", col("l_quantity") * 2))
    assert(OpRegistry.contains("double_qty"))
    val li = Tables.t(spark, sfDir, "lineitem").limit(5)
    val doubled = OpRegistry.get("double_qty")(li)
    val a = li.select(sum("l_quantity")).head().getDouble(0)
    val b = doubled.select(sum("l_quantity")).head().getDouble(0)
    assert(math.abs(b - 2 * a) < 1e-9)
    intercept[NoSuchElementException] { OpRegistry.get("missing_op") }
  }

  test("builtin catalog registers with info records and filtered lookup") {
    graft.plans.Builtins.ensureRegistered()
    assert(OpRegistry.contains("text.langid") && OpRegistry.contains("dedup.simhash"))
    val info = OpRegistry.info("text.token_count")
    assert(info.doc.contains("token count") && info.inputType == "table")
    // every filter term must match (id or doc, case-insensitive)
    assert(OpRegistry.find("dedup").forall(_.startsWith("dedup.")))
    assert(OpRegistry.find("MINHASH") == Seq("dedup.minhash_pairs"))
    assert(OpRegistry.find("no_such_term").isEmpty)
    // builtins are runnable: token count over real docs
    val docs = Tables.t(spark, sfDir, "documents").limit(10)
    val out = OpRegistry.get("text.token_count")(docs)
    assert(out.columns.contains("n_tokens") && out.count() == 10)
    intercept[NoSuchElementException] { OpRegistry.info("missing_op") }
  }

  test("mock module: a 3-step pipeline runs before the real operators exist") {
    import graft.plans.Mock
    // a mock corpus source and a mock scorer stand in for unbuilt steps
    // (kiara mock.py:75 MockKiaraModule: configurable literal outputs);
    // the real text.token_count runs between them
    Mock.register(spark, "mock.corpus",
      Seq("doc_id" -> "integer", "text" -> "string"),
      Seq(Seq("1", "alpha beta"), Seq("2", "gamma")))
    Mock.register(spark, "mock.score",
      Seq("doc_id" -> "integer", "score" -> "float"),
      Seq(Seq("1", "0.5"), Seq("2", "0.25")))
    val steps = Seq(
      Pipeline.Step("corpus", Seq.empty,
        _ => OpRegistry.get("mock.corpus")(spark.emptyDataFrame)),
      Pipeline.Step("counted", Seq("corpus"),
        in => OpRegistry.get("text.token_count")(in("corpus"))),
      Pipeline.Step("scored", Seq("counted"),
        in => in("counted").join(OpRegistry.get("mock.score")(spark.emptyDataFrame), "doc_id")))
    val res = Pipeline.run(steps, Map.empty)
    assert(res.lineage.map(_.step) == Seq("corpus", "counted", "scored"))
    val rows = res("scored").orderBy("doc_id").collect()
    assert(rows.length == 2)
    assert(rows.map(_.getAs[Long]("n_tokens")).toSeq == Seq(2L, 1L)) // real op over mock data
    assert(rows.map(_.getAs[Double]("score")).toSeq == Seq(0.5, 0.25)) // mock literals, typed
    // catalog: mock ops belong to the 'mock' module type with a doc
    assert(OpRegistry.info("mock.corpus").module == "mock")
    assert(OpRegistry.moduleTypeNames.contains("mock"))
    assert(OpRegistry.info("mock.score").doc.contains("mock operation"))
    // idempotent and input-agnostic, like the reference characteristics
    val li = Tables.t(spark, sfDir, "lineitem")
    assert(OpRegistry.get("mock.corpus")(li).count() == 2)
    // configure-time validation: unknown type fails fast with the options
    val e = intercept[IllegalArgumentException] {
      Mock.register(spark, "mock.bad", Seq("x" -> "nope"), Seq(Seq("1")))
    }
    assert(e.getMessage.contains("unknown type") && e.getMessage.contains("integer"))
    val e2 = intercept[IllegalArgumentException] {
      Mock.register(spark, "mock.bad2", Seq("x" -> "integer"), Seq(Seq("1", "2")))
    }
    assert(e2.getMessage.contains("row arity"))
  }
}
