/** Lives under org.apache.spark.sql so it can use the private[sql]
  * Expression/Column bridge (ExpressionUtils) — same pattern as
  * [[SimHash]].
  */
package org.apache.spark.sql.graftext

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** Row-local 64-bit difference hash (dHash) over a string's UTF-8
  * bytes, as a 64-char '0'/'1' string. An 8×9 grid of "pixels" is
  * sampled at 72 strided byte offsets: pixel `i` is the unsigned byte
  * at `((nb - 1) * i) div 71`, where `nb` is the byte length. Bit
  * `8r + c` is set iff pixel `9r + c` is greater than pixel
  * `9r + c + 1`, so each grid row yields 8 bits.
  *
  * One static kernel serves eval and codegen (the [[SimHash]] shape):
  * one call per row, no per-cell expression tree for Spark to
  * analyse, optimize and compile on every plan.
  */
case class DHash(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case _: StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"graft_dhash expects a string, got ${other.simpleString}")
  }

  override def dataType: DataType = StringType

  // never null (see [[DHash.compute]]), so a join on the hash's bands
  // infers no isnotnull filter
  override def nullable: Boolean = false

  override def eval(input: InternalRow): Any =
    DHash.compute(child.eval(input).asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    ev.copy(code = code"""
      ${c.code}
      UTF8String ${ev.value} =
        org.apache.spark.sql.graftext.DHash.compute(${c.isNull} ? null : ${c.value});""",
      isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)

  override def prettyName: String = "graft_dhash"
}

object DHash {

  /** Shared eval/codegen kernel: reads the 72 sampled bytes in place
    * (no copy of the text) and allocates only the 64-byte result. A
    * NULL or empty text has no pixels and hashes to 64 '0's, as the
    * hex/conv column formula this kernel replaced did. */
  def compute(s: UTF8String): UTF8String = {
    val bits = new Array[Byte](64)
    java.util.Arrays.fill(bits, '0'.toByte)
    val nb = if (s == null) 0L else s.numBytes().toLong
    if (nb > 0) {
      val base = s.getBaseObject
      val off = s.getBaseOffset
      val px = new Array[Int](72)
      var i = 0
      while (i < 72) {
        px(i) = Platform.getByte(base, off + (nb - 1) * i / 71) & 0xff
        i += 1
      }
      var r = 0
      while (r < 8) {
        var c = 0
        while (c < 8) {
          if (px(9 * r + c) > px(9 * r + c + 1)) bits(8 * r + c) = '1'.toByte
          c += 1
        }
        r += 1
      }
    }
    UTF8String.fromBytes(bits)
  }

  /** Column-API wrapper: dHash over a string column. */
  def dhash(text: Column): Column =
    ExpressionUtils.column(DHash(ExpressionUtils.expression(text)))
}
