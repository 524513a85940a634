package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftbridge
import org.apache.spark.sql.types._

/** Static kernel shared by interpreted eval and generated code. Null and
  * ordering semantics replicate the higher-order-function composition this
  * replaces (see [[CosineSim]]) EXACTLY, including IEEE summation order, so
  * the cross-engine oracles that re-derive cosines stay bit-identical.
  */
object CosineSimImpl {
  final val ElemLong = 0
  final val ElemDouble = 1
  final val ElemFloat = 2
  final val ElemInt = 3

  private def get(a: ArrayData, i: Int, t: Int): Double = t match {
    case ElemLong   => a.getLong(i).toDouble
    case ElemDouble => a.getDouble(i)
    case ElemFloat  => a.getFloat(i).toDouble
    case ElemInt    => a.getInt(i).toDouble
  }

  /** Left fold of x*x in ascending element order from 0.0 — the same IEEE
    * rounding as `aggregate(transform(a, x => x*x), 0.0, _+_)`. Null if any
    * element is null (the HOF fold null-propagates).
    */
  private def selfDot(a: ArrayData, t: Int): java.lang.Double = {
    val n = a.numElements()
    var s = 0.0
    var i = 0
    while (i < n) {
      if (a.isNullAt(i)) return null
      val x = get(a, i, t)
      s += x * x
      i += 1
    }
    java.lang.Double.valueOf(s)
  }

  /** Cosine of two arrays, boxed so null can signal the HOF composition's
    * null outcomes: the `when(na === 0 || nb === 0, 0.0)` zero-norm branch
    * fires FIRST (on a well-defined norm), then any null element or a length
    * mismatch nulls the dot product — `zip_with` pads the shorter side with
    * nulls — and therefore the result.
    */
  def cos(a: ArrayData, b: ArrayData, ta: Int, tb: Int): java.lang.Double = {
    val na = selfDot(a, ta)
    val nb = selfDot(b, tb)
    // when(na === 0 || nb === 0, 0.0): a null norm makes the comparison
    // unknown, so the branch is skipped and the result is null below
    if ((na != null && na.doubleValue() == 0.0) || (nb != null && nb.doubleValue() == 0.0))
      return java.lang.Double.valueOf(0.0)
    if (na == null || nb == null) return null
    if (a.numElements() != b.numElements()) return null
    val n = a.numElements()
    var dot = 0.0
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      dot += get(a, i, ta) * get(b, i, tb)
      i += 1
    }
    java.lang.Double.valueOf(dot / (math.sqrt(na.doubleValue()) * math.sqrt(nb.doubleValue())))
  }
}

/** `cosine_sim(array<int|bigint|float|double>, array<...>) -> double` — cosine similarity
  * as a native codegen'd expression. Replaces the
  * `aggregate(zip_with(a, b, _*_), 0.0, _+_)` / self-dot HOF composition in
  * Ann.cosine: higher-order functions evaluate their lambda interpreted per
  * ELEMENT and fall off whole-stage codegen, which made the brute-force
  * cosine top-k paths (a05, bruteForceTopK, IvfIndex.topK's scoring) pay ~6 s per
  * million pairs at dim 16. Semantics, including the zero-norm -> 0.0
  * definition (ANSI DIVIDE_BY_ZERO guard) and IEEE left-fold summation
  * order, are bit-identical to the HOF composition — pinned by FunctionsSpec
  * against the original column expression and by the cross-engine a02-a07
  * oracles, whose DuckDB arithmetic re-derives every emitted cosine.
  */
case class CosineSim(left: Expression, right: Expression) extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult =
    SigKernelsImpl.requireInputs("cosine_sim", Seq(left.dataType, right.dataType), SigKernelsImpl.NumericArrays)

  /** The kernel's element code; analysis admits no other element type. */
  private def elemTypeOf(e: Expression): Int = e.dataType match {
    case ArrayType(IntegerType, _) => CosineSimImpl.ElemInt
    case ArrayType(LongType, _)    => CosineSimImpl.ElemLong
    case ArrayType(FloatType, _)   => CosineSimImpl.ElemFloat
    case ArrayType(DoubleType, _)  => CosineSimImpl.ElemDouble
  }

  override def nullSafeEval(a: Any, b: Any): Any =
    CosineSimImpl.cos(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData],
      elemTypeOf(left), elemTypeOf(right))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val (ta, tb) = (elemTypeOf(left), elemTypeOf(right))
    nullSafeCodeGen(ctx, ev, (a, b) => s"""
      java.lang.Double ${ev.value}_r = graft.functions.CosineSimImpl.cos($a, $b, $ta, $tb);
      if (${ev.value}_r == null) { ${ev.isNull} = true; }
      else { ${ev.value} = ${ev.value}_r.doubleValue(); }
    """)
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CosineSim =
    copy(left = newLeft, right = newRight)
}

object CosineSim {
  def apply(a: Column, b: Column): Column =
    graftbridge.column(CosineSim(graftbridge.expression(a), graftbridge.expression(b)))
}
