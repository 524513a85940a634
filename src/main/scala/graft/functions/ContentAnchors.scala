package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.graftbridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

object ContentAnchorsImpl {
  private final val B = 1000003L // polynomial rolling-hash base

  /** The winnowing pass both kernels share (Schleimer/Wilkerson/Aiken,
    * SIGMOD'03): rolling hashes `hs` of every `width`-char window (UTF-16
    * chars), then the window holding the minimum hash of every `stride`
    * consecutive windows (monotone deque, O(n) total, rightmost-min tie
    * rule; with at most `stride` windows, the first minimum). Returns `hs`
    * and the selected window indices `sel(0 until selN)`, ascending and
    * distinct. Requires `str.length >= width`.
    */
  private def winnow(str: String, width: Int, stride: Int): (Array[Long], Array[Int], Int) = {
    val n = str.length
    val m = n - width + 1 // number of windows
    val hs = new Array[Long](m)
    // precompute B^(width-1) for the rolling update
    var pow = 1L
    var i = 0
    while (i < width - 1) { pow *= B; i += 1 }
    var h = 0L
    i = 0
    while (i < width) { h = h * B + str.charAt(i); i += 1 }
    hs(0) = h
    i = 1
    while (i < m) {
      h = (h - str.charAt(i - 1) * pow) * B + str.charAt(i + width - 1)
      hs(i) = h
      i += 1
    }
    if (m <= stride) {
      var mn = 0
      i = 1
      while (i < m) { if (hs(i) < hs(mn)) mn = i; i += 1 }
      return (hs, Array(mn), 1)
    }
    val sel = new Array[Int](m - stride + 1)
    var selN = 0
    val deque = new Array[Int](m)
    var head = 0; var tail = 0 // [head, tail)
    i = 0
    while (i < m) {
      while (tail > head && hs(deque(tail - 1)) >= hs(i)) tail -= 1
      deque(tail) = i; tail += 1
      while (deque(head) <= i - stride) head += 1
      // consecutive windows usually share their min: record it once
      if (i >= stride - 1 && (selN == 0 || sel(selN - 1) != deque(head))) {
        sel(selN) = deque(head); selN += 1
      }
      i += 1
    }
    (hs, sel, selN)
  }

  /** Winnowing fingerprints: the sorted distinct mixed hashes of the
    * selected windows. Guarantee: two strings sharing any substring of
    * length >= width + stride - 1 share at least one selected fingerprint —
    * anchor positions are content-defined, so alignment never depends on
    * document offsets.
    */
  def anchors(s: UTF8String, width: Int, stride: Int): GenericArrayData = {
    val str = s.toString
    if (str.length < width) return new GenericArrayData(Array.empty[Long])
    val (hs, sel, selN) = winnow(str, width, stride)
    val out = new Array[Long](selN)
    var i = 0
    while (i < selN) { out(i) = mix(hs(sel(i))); i += 1 }
    java.util.Arrays.sort(out)
    var w = 0
    i = 0
    while (i < selN) {
      if (w == 0 || out(i) != out(w - 1)) { out(w) = out(i); w += 1 }
      i += 1
    }
    new GenericArrayData(java.util.Arrays.copyOf(out, w))
  }

  /** finalize raw polynomial hashes so adversarial/low-entropy windows spread */
  private def mix(h: Long): Long = MinHashImpl.mix64(h)

  /** Context-carrying variant for the LCP-extension substring pass: the
    * same winnowing selection, and each selected window carries its BOUNDED
    * context slice (`maxExtend` chars each side) plus the window's offset
    * INSIDE that slice. Slicing happens here, in the same UTF-16 char
    * domain as the rolling hash and the downstream `charAt` extension — a
    * SQL `substring` would count Unicode code points and misalign the
    * offsets as soon as a supplementary character (emoji — ubiquitous in
    * chat transcripts) precedes an anchor. ALL selected occurrences are
    * kept: a w-gram repeating inside one doc has a different context at
    * each occurrence, and the occurrence inside a long shared block is the
    * one whose extension finds it. Returns
    * array<struct<anchor:long, off:int, ctx:string>> sorted by
    * (anchor, window offset).
    */
  def anchorContexts(s: UTF8String, width: Int, stride: Int, maxExtend: Int): GenericArrayData = {
    val str = s.toString
    val n = str.length
    if (n < width) return new GenericArrayData(Array.empty[Any])
    val (hs, sel, selN) = winnow(str, width, stride)
    // stable sort of ascending offsets: (anchor, window offset) order
    val sorted = sel.take(selN).sortBy(p => mix(hs(p)))
    val out = new Array[Any](selN)
    var i = 0
    while (i < selN) {
      val p = sorted(i)
      val start = math.max(0, p - maxExtend)
      val end = math.min(n, p + width + maxExtend)
      out(i) = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
        Array[Any](mix(hs(p)), p - start, UTF8String.fromString(str.substring(start, end))))
      i += 1
    }
    new GenericArrayData(out)
  }
}

/** `content_anchors(string, width, stride) -> array<long>` — content-defined
  * exact-substring fingerprints; the degraded-but-guaranteed replacement for a
  * distributed suffix array (SURVEY §7.5): docs sharing a long exact substring
  * collide on an anchor and become candidate pairs.
  */
case class ContentAnchors(child: Expression, width: Int, stride: Int) extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult =
    SigKernelsImpl.requireInputs("content_anchors", Seq(child.dataType), Seq(StringType))

  override def nullSafeEval(input: Any): Any =
    ContentAnchorsImpl.anchors(input.asInstanceOf[UTF8String], width, stride)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(
      ctx,
      ev,
      c => s"${ev.value} = graft.functions.ContentAnchorsImpl.anchors($c, $width, $stride);"
    )

  override protected def withNewChildInternal(newChild: Expression): ContentAnchors =
    copy(child = newChild)
}

object ContentAnchors {
  def apply(c: Column, width: Int, stride: Int): Column =
    graftbridge.column(ContentAnchors(graftbridge.expression(c), width, stride))
}

/** `anchor_contexts(string, width, stride, maxExtend) ->
  * array<struct<anchor,off,ctx>>` — the winnowing fingerprints feeding the
  * bounded suffix-array substring pass (`ops/SubstringDup`), each carrying
  * its bounded context slice and the window's offset inside it (sliced here
  * in UTF-16 chars, consistent with the downstream `charAt` extension).
  */
case class AnchorContexts(child: Expression, width: Int, stride: Int, maxExtend: Int)
    extends UnaryExpression {
  override def dataType: DataType = ArrayType(
    StructType(Seq(
      StructField("anchor", LongType, nullable = false),
      StructField("off", IntegerType, nullable = false),
      StructField("ctx", StringType, nullable = false))),
    containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult =
    SigKernelsImpl.requireInputs("anchor_contexts", Seq(child.dataType), Seq(StringType))

  override def nullSafeEval(input: Any): Any =
    ContentAnchorsImpl.anchorContexts(input.asInstanceOf[UTF8String], width, stride, maxExtend)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(
      ctx,
      ev,
      c =>
        s"${ev.value} = graft.functions.ContentAnchorsImpl.anchorContexts($c, $width, $stride, $maxExtend);"
    )

  override protected def withNewChildInternal(newChild: Expression): AnchorContexts =
    copy(child = newChild)
}

object AnchorContexts {
  def apply(c: Column, width: Int, stride: Int, maxExtend: Int): Column =
    graftbridge.column(AnchorContexts(graftbridge.expression(c), width, stride, maxExtend))
}
