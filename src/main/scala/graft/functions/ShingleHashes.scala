package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.graftbridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

object ShingleHashesImpl {
  private final val TB = 0x100000001b3L // FNV-ish token base
  private final val GB = 0x9e3779b97f4a7c15L // gram combine base

  /** Fused normalize -> tokenize -> k-gram hash in ONE pass over the chars:
    * lowercase, non-alphanumeric runs delimit tokens, each token folds into a
    * 64-bit hash, a ring buffer of the last k token hashes emits the k-gram
    * hash per position. No intermediate token/shingle strings — this replaced
    * a regexp_replace + slice + concat_ws + xxhash64 built-in chain that was
    * 60x slower than the MinHash stage it feeds.
    * Output: SORTED distinct gram hashes (sorted arrays also enable
    * merge-based intersection downstream). Docs with < k tokens emit one
    * whole-document hash.
    */
  /** Gram hashes are emitted as 32-bit ints (top half of the 64-bit mix):
    * at 10^12-turn scale the shingle arrays are the single largest cached and
    * shuffled payload, and halving their width halves that memory traffic;
    * the cost is ~|A|x|B|/2^32 expected spurious intersections per verified
    * pair (~1e-3 for 2k-shingle docs) — far below any threshold granularity.
    */
  def shingles(s: UTF8String, k: Int): GenericArrayData = {
    val str = s.toString
    val n = str.length
    val ring = new Array[Long](k)
    var out = new Array[Int](math.max(16, n / 4))
    var outN = 0
    var tokHash = TB
    var inTok = false
    var tokCount = 0
    var allHash = GB // whole-doc fallback accumulates every token
    var i = 0
    while (i <= n) {
      val c = if (i < n) str.charAt(i) else ' '
      if (Character.isLetterOrDigit(c)) {
        tokHash = (tokHash ^ Character.toLowerCase(c).toLong) * TB
        inTok = true
      } else if (inTok) {
        // token closed
        val th = MinHashImpl.mix64(tokHash)
        ring(tokCount % k) = th
        tokCount += 1
        allHash = (allHash ^ th) * GB
        if (tokCount >= k) {
          // combine the k hashes ending here, oldest first
          var g = GB
          var j = tokCount - k
          while (j < tokCount) {
            g = (g ^ ring(j % k)) * GB
            j += 1
          }
          if (outN == out.length) out = java.util.Arrays.copyOf(out, out.length * 2)
          out(outN) = (MinHashImpl.mix64(g) >>> 32).toInt
          outN += 1
        }
        tokHash = TB
        inTok = false
      }
      i += 1
    }
    if (tokCount < k) {
      // short doc: single whole-document shingle (empty doc included)
      return new GenericArrayData(Array((MinHashImpl.mix64(allHash) >>> 32).toInt))
    }
    val trimmed = java.util.Arrays.copyOf(out, outN)
    java.util.Arrays.sort(trimmed)
    // in-place dedup of the sorted array
    var w = 0
    var r = 0
    while (r < outN) {
      if (w == 0 || trimmed(r) != trimmed(w - 1)) { trimmed(w) = trimmed(r); w += 1 }
      r += 1
    }
    new GenericArrayData(java.util.Arrays.copyOf(trimmed, w))
  }
}

/** `shingle_hashes(string, k) -> array<int>` — fused normalization +
  * word-k-shingle hashing (the wordlist.py:21-34 tokenize + §7 shingling
  * analogue) as a single codegen'd Catalyst expression.
  */
case class ShingleHashes(child: Expression, k: Int) extends UnaryExpression {
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult =
    SigKernelsImpl.requireInputs("shingle_hashes", Seq(child.dataType), Seq(StringType))

  override def nullSafeEval(input: Any): Any =
    ShingleHashesImpl.shingles(input.asInstanceOf[UTF8String], k)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = graft.functions.ShingleHashesImpl.shingles($c, $k);")

  override protected def withNewChildInternal(newChild: Expression): ShingleHashes =
    copy(child = newChild)
}

object ShingleHashes {
  def apply(c: Column, k: Int): Column =
    graftbridge.column(ShingleHashes(graftbridge.expression(c), k))
}
