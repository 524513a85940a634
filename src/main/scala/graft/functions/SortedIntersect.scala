package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftbridge
import org.apache.spark.sql.types._

object SortedIntersectImpl {
  /** |a ∩ b| for two SORTED distinct arrays — linear merge, no hashing.
    * ShingleHashes/ContentAnchors emit sorted arrays precisely so this path
    * replaces array_intersect's hash-set build in the verify hot loop.
    */
  def size(a: ArrayData, b: ArrayData, intElems: Boolean): Int = {
    val na = a.numElements()
    val nb = b.numElements()
    var i = 0
    var j = 0
    var c = 0
    while (i < na && j < nb) {
      val x = if (intElems) a.getInt(i).toLong else a.getLong(i)
      val y = if (intElems) b.getInt(j).toLong else b.getLong(j)
      if (x == y) { c += 1; i += 1; j += 1 }
      else if (x < y) i += 1
      else j += 1
    }
    c
  }
}

/** `sorted_intersect_size(array<int>, array<int>)` or `(array<bigint>, array<bigint>)` -> int */
case class SortedIntersectSize(left: Expression, right: Expression) extends BinaryExpression {
  override def dataType: DataType = IntegerType

  override def checkInputDataTypes(): TypeCheckResult =
    SigKernelsImpl.requireInputs("sorted_intersect_size", Seq(left.dataType, right.dataType), SigKernelsImpl.HashArrays, alike = true)

  private def intElems: Boolean = left.dataType match {
    case ArrayType(IntegerType, _) => true
    case _                         => false
  }

  override def nullSafeEval(a: Any, b: Any): Any =
    SortedIntersectImpl.size(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData], intElems)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(
      ctx,
      ev,
      (a, b) => s"${ev.value} = graft.functions.SortedIntersectImpl.size($a, $b, $intElems);"
    )

  override protected def withNewChildrenInternal(l: Expression, r: Expression): SortedIntersectSize =
    copy(left = l, right = r)
}

object SortedIntersectSize {
  def apply(a: Column, b: Column): Column =
    graftbridge.column(SortedIntersectSize(graftbridge.expression(a), graftbridge.expression(b)))
}
