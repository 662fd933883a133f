package graft.plans

import org.apache.spark.sql.functions._
import graft.operators.{Dedup, Multimodal, Profile, TextOps}

/** Built-in operation catalog — the analogue of kiara's shipped module
  * types (reference modules/included_core_modules/,
  * operations/included_core_operations/): default-configured, unary
  * table→table forms of the engine's operators, registered by name so
  * `listOperationIds` is populated out of the box and persisted
  * workflows can be authored against a stable vocabulary. Parameterized
  * use goes through the operator objects directly; these defaults cover
  * the common pipeline steps.
  */
object Builtins {

  @volatile private var registered = false

  /** Idempotent: registers the builtin catalog once per JVM. */
  def ensureRegistered(): Unit = synchronized {
    if (registered) return
    registered = true
    // module types: the implementing class behind each operation family
    // (kiara `module list` vocabulary; reference modules/included_core_modules/)
    OpRegistry.registerModuleType("text",
      "text cleaning, scoring, tokenization and language analysis",
      "graft.operators.TextOps")
    OpRegistry.registerModuleType("dedup",
      "corpus deduplication: exact, MinHash-LSH, SimHash, line-level",
      "graft.operators.Dedup")
    OpRegistry.registerModuleType("mm",
      "multimodal binary-payload handling (image header decode)",
      "graft.operators.Multimodal")
    OpRegistry.registerModuleType("profile",
      "table and column profiling",
      "graft.operators.Profile")
    OpRegistry.registerModuleType("mock",
      "configurable fake outputs for pipeline prototyping before real operators exist",
      "graft.plans.Mock")
    OpRegistry.register("text.clean",
      df => df.withColumn("ctext", TextOps.clean(col("text"))),
      doc = "scrub urls/emails/control chars from `text` into `ctext`")
    OpRegistry.register("text.token_count",
      df => df.withColumn("n_tokens", TextOps.tokenCount(col("text"))),
      doc = "whitespace/punct token count of `text` as `n_tokens`")
    OpRegistry.register("text.quality",
      df => TextOps.qualityScores(df),
      doc = "per-doc quality signals: token count, token length, punct and stopword ratios")
    OpRegistry.register("text.langid",
      df => TextOps.langId(df),
      doc = "n-gram/stopword heuristic language id of `text` as `pred_lang`")
    OpRegistry.register("text.nfc",
      df => df.withColumn("text", TextOps.nfc(col("text"))),
      doc = "unicode NFC canonicalization of `text` (native codegen expression)")
    OpRegistry.register("dedup.exact_groups",
      df => Dedup.exactGroups(df),
      doc = "group exact duplicates of normalized `text` by md5 fingerprint")
    OpRegistry.register("dedup.minhash_pairs",
      df => Dedup.minhashPairs(df, threshold = 0.7),
      doc = "MinHash-LSH near-duplicate pairs at estimated jaccard >= 0.7")
    OpRegistry.register("dedup.simhash",
      df => Dedup.simhash(df),
      doc = "64-bit simhash of `text` tokens as `simhash` (row-local, no shuffle)")
    OpRegistry.register("dedup.line",
      df => Dedup.lineDedup(df),
      doc = "drop lines duplicated across >= 2 distinct docs, keep order + drop stats")
    OpRegistry.register("mm.decode_meta",
      df => Multimodal.decodeMeta(df).toDF(),
      doc = "image geometry metadata (png/jpeg/gif/bmp header parse) from `payload`")
    OpRegistry.register("profile.schema",
      df => Profile.schemaOf(df),
      doc = "schema of the input as (col_name, data_type, nullable) rows")
    // binary DAG steps (kiara multi-input pipeline steps / connect_steps
    // wiring): the two-table vocabulary pipelines join and stack with
    OpRegistry.registerModuleType("table2",
      "two-input table combinators for multi-input pipeline steps",
      "graft.plans.Builtins")
    OpRegistry.register2("table2.union",
      (a, b) => a.unionByName(b),
      doc = "stack two tables with identical columns (by name)")
    OpRegistry.register2("table2.join",
      (a, b) => {
        val common = a.columns.toSeq.intersect(b.columns.toSeq)
        require(common.nonEmpty,
          s"table2.join: no shared columns between (${a.columns.mkString(",")}) " +
            s"and (${b.columns.mkString(",")})")
        a.join(b, common, "inner")
      },
      doc = "inner natural join on all shared column names")
    OpRegistry.register2("table2.except",
      (a, b) => a.exceptAll(b),
      doc = "rows of the first table not present in the second (bag semantics)")
    // configurable module types (kiara's Manifest seam, base_api.py:711
    // create_operation: module type + module_config → operation
    // instance). Factories validate their config EAGERLY so a bad
    // manifest fails at create_operation, not on the first action.
    OpRegistry.registerFactory("table.filter",
      "filter rows by a configured SQL predicate", Seq("where"), cfg => {
        val where = cfg.getOrElse("where",
          throw new IllegalArgumentException("table.filter needs config key 'where'"))
        // parse NOW (functions.expr defers to resolution in Spark 4) —
        // a malformed predicate must fail at create_operation time
        org.apache.spark.sql.SparkSession.active
          .sessionState.sqlParser.parseExpression(where)
        df => df.filter(expr(where))
      })
    OpRegistry.registerFactory("table.select",
      "project the configured comma-separated columns", Seq("columns"), cfg => {
        val cols = cfg.getOrElse("columns",
          throw new IllegalArgumentException("table.select needs config key 'columns'"))
          .split(",").map(_.trim).filter(_.nonEmpty).toSeq
        require(cols.nonEmpty, "table.select: 'columns' must name >= 1 column")
        df => df.select(cols.map(col): _*)
      })
    OpRegistry.registerFactory("table.head",
      "keep the first n rows (configured 'n') under the table's current order",
      Seq("n"), cfg => {
        val n = cfg.getOrElse("n",
          throw new IllegalArgumentException("table.head needs config key 'n'")).toInt
        require(n > 0, s"table.head: n must be positive, got $n")
        df => df.limit(n)
      })
    OpRegistry.registerFactory("table.sample",
      "deterministic row sample (configured 'fraction', optional 'seed')",
      Seq("fraction", "seed"), cfg => {
        val f = cfg.getOrElse("fraction",
          throw new IllegalArgumentException("table.sample needs config key 'fraction'")).toDouble
        require(f > 0 && f <= 1, s"table.sample: fraction must be in (0,1], got $f")
        val seed = cfg.getOrElse("seed", "42").toLong
        df => df.sample(withReplacement = false, f, seed)
      })
    OpRegistry.registerFactory("dedup.minhash",
      "MinHash-LSH near-duplicate pairs at a configured jaccard threshold",
      Seq("threshold"), cfg => {
        val t = cfg.getOrElse("threshold",
          throw new IllegalArgumentException("dedup.minhash needs config key 'threshold'")).toDouble
        require(t > 0 && t <= 1, s"dedup.minhash: threshold must be in (0,1], got $t")
        df => Dedup.minhashPairs(df, threshold = t)
      })
    // built-in value→value renderers (kiara render_value.py operation
    // type): render a table value AS another value type through the
    // registered-operation seam — new renderers are registrations
    graft.operators.Render.ValueRenderOps.register("table", "schema",
      df => Profile.schemaOf(df),
      doc = "render a table value as its schema table")
    graft.operators.Render.ValueRenderOps.register("table", "profile",
      df => {
        val numeric = df.schema.fields.collect {
          case f if f.dataType.isInstanceOf[org.apache.spark.sql.types.NumericType] => f.name
        }.toSeq
        require(numeric.nonEmpty, "render table->profile: no numeric columns")
        Profile.profile(df, numeric)
      },
      doc = "render a table value as a one-pass numeric-column profile table")
    // pretty_print as a value→value OPERATION (kiara's pretty_print
    // operation type, distinct from render_value): the rendered value is
    // a (line_no, line) table, so the op can terminate a pipeline
    graft.operators.Render.PrettyPrintOps.register("table", "string",
      df => graft.operators.Render.prettyLines(df),
      doc = "pretty-print a table value as a (line_no, line) text table")
  }
}
