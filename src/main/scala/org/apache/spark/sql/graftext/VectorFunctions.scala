/** Lives under org.apache.spark.sql so it can use the private[sql]
  * Expression/Column bridge (ExpressionUtils) — the standard pattern for
  * native Catalyst extensions shipped outside Spark itself.
  */
package org.apache.spark.sql.graftext

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.types._

/** Native Catalyst expression for the embedding hot path: a fused
  * dot-product over float/double array columns with whole-stage codegen.
  *
  * The builtin alternative (`aggregate(zip_with(...))`) allocates an
  * intermediate product array per row and runs in the interpreted
  * higher-order-function machinery — at 100 TB (billions of candidate
  * pairs out of the LSH bucket join) that interpreter overhead dominates.
  * This compiles to a tight primitive loop inside the generated stage:
  * no allocation, no virtual calls.
  *
  * Numerics: each element is widened to double and accumulated
  * sequentially (left to right) — bit-identical to the
  * cast-to-double + zip_with + aggregate formulation it replaces, so the
  * DuckDB oracle comparison is unaffected.
  */
case class DotProduct(left: Expression, right: Expression) extends BinaryExpression {

  private def elemTypeOk(e: Expression): Boolean = e.dataType match {
    case ArrayType(FloatType, _) | ArrayType(DoubleType, _) | ArrayType(ByteType, _) => true
    case _ => false
  }

  override def checkInputDataTypes(): TypeCheckResult =
    if (elemTypeOk(left) && elemTypeOk(right)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_dot expects array<float>/array<double>/array<tinyint> inputs, got " +
        s"${left.dataType.simpleString} and ${right.dataType.simpleString}")

  override def dataType: DataType = DoubleType

  private def elemType(e: Expression): DataType =
    e.dataType.asInstanceOf[ArrayType].elementType

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = DotProduct.checkedLength(x.numElements(), y.numElements())
    def get(d: ArrayData, t: DataType, i: Int): Double = t match {
      case FloatType => d.getFloat(i).toDouble
      case ByteType  => d.getByte(i).toDouble
      case _         => d.getDouble(i)
    }
    val (tl, tr) = (elemType(left), elemType(right))
    var acc = 0.0
    var i = 0
    while (i < n) {
      acc += get(x, tl, i) * get(y, tr, i)
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    def get(e: Expression, v: String, i: String): String = elemType(e) match {
      case FloatType => s"(double)$v.getFloat($i)"
      case ByteType  => s"(double)$v.getByte($i)"
      case _         => s"$v.getDouble($i)"
    }
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      s"""
         |int $n = org.apache.spark.sql.graftext.DotProduct.checkedLength(
         |  $a.numElements(), $b.numElements());
         |double $acc = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $acc += ${get(left, a, i)} * ${get(right, b, i)};
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })
  }

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "graft_dot"
}

object DotProduct {
  /** Dimension check shared by eval and codegen: a length mismatch is an
    * upstream bug (mixed embedding spaces), not something to silently
    * truncate — DuckDB's list_inner_product errors the same way. */
  def checkedLength(a: Int, b: Int): Int = {
    if (a != b) throw new IllegalArgumentException(
      s"graft_dot: array length mismatch ($a vs $b) — inputs must come from the same embedding space")
    a
  }
}

/** Canonical LSH collision slot of a candidate pair: the smallest
  * t·(numBits+2)+armRank over tables t where the two bucket vectors
  * collide (armRank 0 = same bucket, j+1 = query probe arm flipping bit
  * j), or [[LshCanon.NoSlot]] when they collide nowhere. The row-local
  * dedup key of Similarity.candidatePairs: a pair colliding in several
  * (table, arm) slots is emitted only by its canonical slot.
  *
  * Exists as a NATIVE expression because the unrolled Column formulation
  * (8 tables × a 4-branch CASE each, every branch re-deriving
  * element_at(q)^element_at(n)) became a several-hundred-node join
  * condition that fell out of whole-stage codegen and ran interpreted —
  * 24× slower end-to-end on dedup_embedding. This is one static-helper
  * call per row inside the generated join stage. */
case class LshCanon(left: Expression, right: Expression,
    numBits: Int, multiProbe: Boolean) extends BinaryExpression {

  private def intArray(e: Expression): Boolean = e.dataType match {
    case ArrayType(IntegerType, _) => true
    case _ => false
  }

  override def checkInputDataTypes(): TypeCheckResult =
    if (intArray(left) && intArray(right)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_lsh_canon expects array<int> bucket vectors, got " +
        s"${left.dataType.simpleString} and ${right.dataType.simpleString}")

  override def dataType: DataType = IntegerType

  override def nullSafeEval(a: Any, b: Any): Any =
    LshCanon.compute(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData],
      numBits, multiProbe)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (q, n) =>
      s"org.apache.spark.sql.graftext.LshCanon.compute($q, $n, $numBits, $multiProbe)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "graft_lsh_canon"
}

object LshCanon {
  /** Sentinel for "no collision" — larger than any real slot key
    * (max = (tables−1)·span + numBits+1 < tables·span ≤ 8·22). */
  val NoSlot: Int = Int.MaxValue

  /** Shared eval/codegen kernel: one pass over the table dimension. Per
    * table the diff is 0 (self-arm collision), a single probe bit
    * (arm collision, multiProbe only), or no collision; the first
    * colliding t wins, and within a t at most one arm can collide, so
    * the scan returns at the first hit. */
  def compute(q: ArrayData, n: ArrayData, numBits: Int, multiProbe: Boolean): Int = {
    val span = numBits + 2
    val tables = DotProduct.checkedLength(q.numElements(), n.numElements())
    var t = 0
    while (t < tables) {
      val d = q.getInt(t) ^ n.getInt(t)
      if (d == 0) return t * span
      if (multiProbe && (d & (d - 1)) == 0 && d < (1 << numBits))
        return t * span + 1 + java.lang.Integer.numberOfTrailingZeros(d)
      t += 1
    }
    NoSlot
  }
}

object VectorFunctions {
  /** Column-API wrapper: dot(a, b) as a codegen'd native expression. */
  def dot(a: Column, b: Column): Column =
    ExpressionUtils.column(DotProduct(
      ExpressionUtils.expression(a), ExpressionUtils.expression(b)))

  /** Column-API wrapper: canonical LSH collision slot of a pair. */
  def lshCanon(q: Column, n: Column, numBits: Int, multiProbe: Boolean): Column =
    ExpressionUtils.column(LshCanon(
      ExpressionUtils.expression(q), ExpressionUtils.expression(n),
      numBits, multiProbe))

  /** Make graft_dot callable from SQL text in an existing session. */
  def register(spark: org.apache.spark.sql.SparkSession): Unit =
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "graft_dot", exprs => DotProduct(exprs(0), exprs(1)), "scala_udf")

  // ---- the SQL kernel catalog (r15) ---------------------------------
  // kiara's operation catalog makes every module callable BY NAME; the
  // graft twin for the native kernel family is one SQL function per
  // kernel, so spark.sql users reach the engine's dedup/text/vector
  // primitives without Scala. Static parameters (gram size, hash count)
  // arrive as SQL literals — they parameterize generated code, so they
  // must fold at plan time.

  private def litInt(fn: String, arg: String, e: Expression): Int = e match {
    case Literal(v: Int, IntegerType) => v
    case Literal(v: Long, LongType) => v.toInt
    case _ => throw new IllegalArgumentException(
      s"$fn: $arg must be an integer literal, got $e")
  }
  private def litBool(fn: String, arg: String, e: Expression): Boolean = e match {
    case Literal(v: Boolean, BooleanType) => v
    case _ => throw new IllegalArgumentException(
      s"$fn: $arg must be a boolean literal, got $e")
  }
  private def litLong(fn: String, arg: String, e: Expression): Long = e match {
    case Literal(v: Int, IntegerType) => v.toLong
    case Literal(v: Long, LongType) => v
    case _ => throw new IllegalArgumentException(
      s"$fn: $arg must be an integer literal, got $e")
  }
  private def nArgs(fn: String, exprs: Seq[Expression], n: Int): Unit =
    if (exprs.length != n) throw new IllegalArgumentException(
      s"$fn expects $n arguments, got ${exprs.length}")

  /** name → builder, shared by [[GraftExtensions]] (injectFunction) and
    * [[registerAll]] (temp functions on an existing session). Aggregate
    * kernels return the bare AggregateFunction — the analyzer wraps it,
    * exactly like Spark's own builtin aggregate builders. */
  val sqlKernels: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "graft_dot" -> { exprs =>
      nArgs("graft_dot", exprs, 2); DotProduct(exprs(0), exprs(1)) },
    "graft_lsh_canon" -> { exprs =>
      nArgs("graft_lsh_canon", exprs, 4)
      LshCanon(exprs(0), exprs(1),
        litInt("graft_lsh_canon", "numBits", exprs(2)),
        litBool("graft_lsh_canon", "multiProbe", exprs(3))) },
    "graft_gram_hashes" -> { exprs =>
      nArgs("graft_gram_hashes", exprs, 2)
      GramHashes(exprs(0), litInt("graft_gram_hashes", "k", exprs(1))) },
    "graft_minhash_sig" -> { exprs =>
      nArgs("graft_minhash_sig", exprs, 3)
      MinHashSig(exprs(0), litInt("graft_minhash_sig", "k", exprs(1)),
        litInt("graft_minhash_sig", "numHashes", exprs(2))) },
    "graft_winnow_fps" -> { exprs =>
      nArgs("graft_winnow_fps", exprs, 3)
      WinnowFps(exprs(0), litInt("graft_winnow_fps", "k", exprs(1)),
        litInt("graft_winnow_fps", "w", exprs(2))) },
    "graft_simhash" -> { exprs =>
      nArgs("graft_simhash", exprs, 1); SimHash(exprs(0)) },
    "graft_nfc" -> { exprs =>
      nArgs("graft_nfc", exprs, 1); NfcNormalize(exprs(0)) },
    "graft_int8_quantize" -> { exprs =>
      nArgs("graft_int8_quantize", exprs, 1); Int8Quantize(exprs(0)) },
    // aggregates: the exploded-token simhash, the sketch family, and the
    // bloom pair (Spark ships the bloom expressions but registers no SQL
    // names for them)
    "graft_simhash_agg" -> { exprs =>
      nArgs("graft_simhash_agg", exprs, 1); SimHashAgg(exprs(0)) },
    "graft_theta" -> { exprs =>
      nArgs("graft_theta", exprs, 1); ThetaSketchAgg(exprs(0)) },
    "graft_kll" -> { exprs =>
      nArgs("graft_kll", exprs, 1); KllSketchAgg(exprs(0)) },
    "graft_frequent" -> { exprs =>
      nArgs("graft_frequent", exprs, 2)
      FrequentAgg(exprs(0), litInt("graft_frequent", "capacity", exprs(1))) },
    "graft_bloom_agg" -> { exprs =>
      nArgs("graft_bloom_agg", exprs, 2)
      val items = math.max(litLong("graft_bloom_agg", "expectedItems", exprs(1)), 1L)
      val bits = math.min(math.max(items * 10L, 1024L), 1L << 27)
      new org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate(
        exprs(0), Literal(items), Literal(bits)) },
    "graft_might_contain" -> { exprs =>
      nArgs("graft_might_contain", exprs, 2)
      BloomFilterMightContain(exprs(0), exprs(1)) })

  /** Each kernel's own expression class, for DESCRIBE FUNCTION /
    * ExpressionInfo (registering them all under classOf[DotProduct]
    * made DESCRIBE report the wrong class for 14 of 15 kernels). */
  private[graftext] val kernelClass: Map[String, Class[_]] = Map(
    "graft_dot" -> classOf[DotProduct],
    "graft_lsh_canon" -> classOf[LshCanon],
    "graft_gram_hashes" -> classOf[GramHashes],
    "graft_minhash_sig" -> classOf[MinHashSig],
    "graft_winnow_fps" -> classOf[WinnowFps],
    "graft_simhash" -> classOf[SimHash],
    "graft_nfc" -> classOf[NfcNormalize],
    "graft_int8_quantize" -> classOf[Int8Quantize],
    "graft_simhash_agg" -> classOf[SimHashAgg],
    "graft_theta" -> classOf[ThetaSketchAgg],
    "graft_kll" -> classOf[KllSketchAgg],
    "graft_frequent" -> classOf[FrequentAgg],
    "graft_bloom_agg" ->
      classOf[org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate],
    "graft_might_contain" -> classOf[BloomFilterMightContain])

  /** Register every kernel as a temp function on an existing session —
    * the front door for sessions not built with GraftExtensions. */
  def registerAll(spark: org.apache.spark.sql.SparkSession): Unit =
    sqlKernels.foreach { case (name, builder) =>
      spark.sessionState.functionRegistry
        .createOrReplaceTempFunction(name, builder, "scala_udf")
    }
}

/** SparkSessionExtensions injector for spark-submit / config-based use:
  * `--conf spark.sql.extensions=org.apache.spark.sql.graftext.GraftExtensions`
  * exposes graft_dot to pure-SQL workloads on any cluster and installs
  * the [[RewriteHofDot]] optimizer rule (interpreted HOF dot-product
  * idiom → native codegen'd expression) and the [[GroupTopKStrategy]]
  * and [[SmallSort]] planner strategies.
  */
class GraftExtensions extends (org.apache.spark.sql.SparkSessionExtensions => Unit) {
  override def apply(ext: org.apache.spark.sql.SparkSessionExtensions): Unit = {
    import org.apache.spark.sql.catalyst.FunctionIdentifier
    import org.apache.spark.sql.catalyst.expressions.ExpressionInfo
    VectorFunctions.sqlKernels.foreach { case (name, builder) =>
      ext.injectFunction((
        FunctionIdentifier(name),
        new ExpressionInfo(
          VectorFunctions.kernelClass.getOrElse(name, classOf[DotProduct]).getName,
          name),
        builder))
    }
    ext.injectOptimizerRule(_ => RewriteHofDot)
    ext.injectPlannerStrategy(_ => GroupTopKStrategy)
    ext.injectPlannerStrategy(_ => SmallSort)
  }
}

object GraftExtensions {
  /** Put `strategy` on `spark`'s planner, once — the front door for
    * sessions not built with [[GraftExtensions]] (the Pathling `setup`
    * pattern: idempotent, so callers need no session configuration). */
  def installStrategy(spark: org.apache.spark.sql.SparkSession,
      strategy: org.apache.spark.sql.execution.SparkStrategy): Unit =
    if (!spark.experimental.extraStrategies.contains(strategy)) {
      spark.experimental.extraStrategies = strategy +: spark.experimental.extraStrategies
    }
}
