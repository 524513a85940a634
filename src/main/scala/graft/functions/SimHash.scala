package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftbridge
import org.apache.spark.sql.types._

object SimHashImpl {
  /** Charikar SimHash over token hashes (multiplicity = weight): each of the
    * 64 bit-planes accumulates +1/-1 per token, sign gives the fingerprint
    * bit. 32-bit inputs are re-mixed to spread over all 64 planes.
    *
    * Bit-sliced: bit b of `c(l)` is bit l of plane b's count of set bits, so
    * one token is a ripple-carry add of its 64 bits into all 64 counters at
    * once. Plane b's +1/-1 sum is `2*count_b - n`; its bit is set iff that
    * is > 0 (a tie gives 0), as in the per-plane formulation.
    */
  def simhash64(tokenHashes: ArrayData, intElems: Boolean): Long = {
    val c = new Array[Long](32) // counts < 2^31: numElements is an Int
    var levels = 0 // counters in use
    val n = tokenHashes.numElements()
    var j = 0
    while (j < n) {
      var carry =
        if (intElems) MinHashImpl.mix64(tokenHashes.getInt(j).toLong)
        else tokenHashes.getLong(j)
      var l = 0
      while (carry != 0L) {
        val t = c(l) & carry
        c(l) ^= carry
        carry = t
        l += 1
      }
      if (l > levels) levels = l
      j += 1
    }
    var out = 0L
    var b = 0
    while (b < 64) {
      var count = 0L
      var l = 0
      while (l < levels) {
        count |= ((c(l) >>> b) & 1L) << l
        l += 1
      }
      if (2 * count > n) out |= (1L << b)
      b += 1
    }
    out
  }
}

/** `simhash64(array<int|bigint>) -> long` — 64-bit SimHash fingerprint from token
  * hashes (with multiplicity). Hamming-ball retrieval pairs with 16-bit chunk
  * banding (4 chunks find all pairs at Hamming distance <= 3 by pigeonhole).
  */
case class SimHash64(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType

  override def checkInputDataTypes(): TypeCheckResult =
    SigKernelsImpl.requireInputs("simhash64", Seq(child.dataType), SigKernelsImpl.HashArrays)

  private def intElems: Boolean = child.dataType match {
    case ArrayType(IntegerType, _) => true
    case _                         => false
  }

  override def nullSafeEval(input: Any): Any =
    SimHashImpl.simhash64(input.asInstanceOf[ArrayData], intElems)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = graft.functions.SimHashImpl.simhash64($c, $intElems);")

  override protected def withNewChildInternal(newChild: Expression): SimHash64 =
    copy(child = newChild)
}

object SimHash64 {
  def apply(c: Column): Column = graftbridge.column(SimHash64(graftbridge.expression(c)))
}
