package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftbridge
import org.apache.spark.sql.types._

/** Static kernel shared by interpreted eval and generated code, so the
  * expression stays inside whole-stage codegen (the generated Java calls
  * straight into these methods; no virtual Expression.eval in the hot loop).
  */
object MinHashImpl {
  /** Mersenne prime 2^31-1: `(a*x+b) mod P` with a,x < 2^31 stays in a Long. */
  final val P: Long = 2147483647L

  /** SplitMix64 — deterministic stream used for permutation coefficients. */
  def mix64(z0: Long): Long = {
    var z = z0 + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  /** 2*numPerms coefficients: a_i in [1,P), b_i in [0,P). */
  def coeffs(numPerms: Int, seed: Long): Array[Long] = {
    val out = new Array[Long](2 * numPerms)
    var i = 0
    while (i < numPerms) {
      out(2 * i) = java.lang.Long.remainderUnsigned(mix64(seed * 1000003L + i), P - 1) + 1
      out(2 * i + 1) = java.lang.Long.remainderUnsigned(mix64(seed * 999983L - i), P)
      i += 1
    }
    out
  }

  /** `v mod P` for `0 <= v < 2^62 + 2^31` (every `a*x+b` with a, b < P and
    * x <= P) by Mersenne folding: 2^31 = 1 (mod P), so adding the high bits
    * to the low 31 keeps the residue. Two folds bring v below P + 2, one
    * subtraction below P. Bit-identical to `v % P` on that range, without the
    * 64-bit division.
    */
  @inline def mod(v: Long): Long = {
    var h = (v & P) + (v >>> 31)
    h = (h & P) + (h >>> 31)
    if (h >= P) h - P else h
  }

  /** Signature over a set of shingle hashes (32- or 64-bit elements).
    * Empty set -> all Int.MaxValue (two empty docs still collide, handled at
    * verify).
    */
  def signature(shingles: ArrayData, coeffs: Array[Long], intElems: Boolean): ArrayData = {
    val nPerm = coeffs.length / 2
    val sig = new Array[Int](nPerm)
    java.util.Arrays.fill(sig, Int.MaxValue)
    val n = shingles.numElements()
    var j = 0
    while (j < n) {
      val x64 = if (intElems) shingles.getInt(j).toLong else shingles.getLong(j)
      val x = ((x64 ^ (x64 >>> 32)) & 0x7fffffffL) // fold to 31 bits
      var i = 0
      while (i < nPerm) {
        val h = mod(coeffs(2 * i) * x + coeffs(2 * i + 1))
        if (h < sig(i)) sig(i) = h.toInt
        i += 1
      }
      j += 1
    }
    new GenericArrayData(sig)
  }
}

/** `minhash_signature(array<int|bigint>) -> array<int>` — batched 128-permutation
  * MinHash as a native Catalyst expression with codegen (reference analogue:
  * the per-pair doc2vec/token-bag similarity features, c_org.py:18-28 and
  * doc2vec.py:44-49, replaced by signatures per SURVEY.md §7).
  */
case class MinHashSignature(child: Expression, numPerms: Int, seed: Long)
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)

  @transient private lazy val cs: Array[Long] = MinHashImpl.coeffs(numPerms, seed)

  override def checkInputDataTypes(): TypeCheckResult =
    SigKernelsImpl.requireInputs("minhash_signature", Seq(child.dataType), SigKernelsImpl.HashArrays)

  private def intElems: Boolean = child.dataType match {
    case ArrayType(IntegerType, _) => true
    case _                         => false
  }

  override def nullSafeEval(input: Any): Any =
    MinHashImpl.signature(input.asInstanceOf[ArrayData], cs, intElems)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("minhashCoeffs", cs, "long[]")
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = graft.functions.MinHashImpl.signature($c, $ref, $intElems);")
  }

  override protected def withNewChildInternal(newChild: Expression): MinHashSignature =
    copy(child = newChild)
}

object MinHashSignature {
  def apply(c: Column, numPerms: Int, seed: Long): Column =
    graftbridge.column(MinHashSignature(graftbridge.expression(c), numPerms, seed))
}
