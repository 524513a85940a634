package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftbridge
import org.apache.spark.sql.types._

/** Static kernels of the two MinHash-signature expressions below, shared by
  * interpreted eval and generated code.
  */
object SigKernelsImpl {
  /** Positions where `a` and `b` agree, or -1 (null) when their lengths
    * differ or a compared element is null: `zip_with` pads the shorter side
    * with nulls, and a null comparison makes the whole `aggregate` null.
    */
  def agreement(a: ArrayData, b: ArrayData): Int = {
    val n = a.numElements()
    if (b.numElements() != n) return -1
    var c = 0
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return -1
      if (a.getInt(i) == b.getInt(i)) c += 1
      i += 1
    }
    c
  }

  /** LSH bucket key of each of `bands` bands of `rows` signature ints: the
    * value of Spark's `xxhash64(slice(sig, b*rows+1, rows), b)`, which folds
    * `XXH64.hashInt` from seed 42 over the band's non-null ints, then over
    * `b`. A short or null `sig` hashes the ints it has (none when null).
    */
  def bandKeys(sig: ArrayData, bands: Int, rows: Int): ArrayData = {
    val n = if (sig == null) 0 else sig.numElements()
    val out = new Array[Long](bands)
    var b = 0
    while (b < bands) {
      var h = 42L
      var i = b * rows
      val end = math.min(n, i + rows)
      while (i < end) {
        if (!sig.isNullAt(i)) h = XXH64.hashInt(sig.getInt(i), h)
        i += 1
      }
      out(b) = XXH64.hashInt(b, h)
      b += 1
    }
    new GenericArrayData(out)
  }

  /** The analysis-time input check of the graft expressions: each argument
    * type must be one of `accepted` (array nullability and string collation
    * ignored) and, with `alike`, all arguments the same type. What a kernel
    * cannot read fails analysis instead of the task that would read it.
    */
  private[functions] def requireInputs(
      name: String, types: Seq[DataType], accepted: Seq[DataType], alike: Boolean = false): TypeCheckResult = {
    def norm(t: DataType): DataType = t match {
      case ArrayType(e, _) => ArrayType(e, containsNull = true)
      case _: StringType   => StringType
      case other           => other
    }
    val got = types.map(norm)
    if (got.forall(accepted.map(norm).contains) && (!alike || got.distinct.size == 1))
      TypeCheckResult.TypeCheckSuccess
    else
      TypeCheckResult.TypeCheckFailure(
        s"$name expects ${if (alike) "arguments of one type, each " else ""}" +
          s"${accepted.map(_.simpleString).mkString(" or ")}, got ${types.map(_.simpleString).mkString(", ")}")
  }

  final val IntArrays: Seq[DataType] = Seq(ArrayType(IntegerType))
  final val HashArrays: Seq[DataType] = Seq(ArrayType(IntegerType), ArrayType(LongType))
  final val NumericArrays: Seq[DataType] =
    Seq(ArrayType(IntegerType), ArrayType(LongType), ArrayType(FloatType), ArrayType(DoubleType))
}

/** Number of positions where two MinHash signatures agree; divided by the
  * signature length it is the Jaccard estimate that gates exact verification.
  * Same value as `aggregate(zip_with(a, b, (x, y) => (x === y).cast("int")),
  * 0, _ + _)`, null included, without interpreting a lambda per element.
  */
case class SignatureAgreement(left: Expression, right: Expression) extends BinaryExpression {
  override def dataType: DataType = IntegerType
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult =
    SigKernelsImpl.requireInputs("signature agreement", Seq(left.dataType, right.dataType), SigKernelsImpl.IntArrays)

  override def nullSafeEval(a: Any, b: Any): Any = {
    val c = SigKernelsImpl.agreement(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
    if (c < 0) null else c
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => s"""
      ${ev.value} = graft.functions.SigKernelsImpl.agreement($a, $b);
      if (${ev.value} < 0) { ${ev.isNull} = true; }
    """)

  override protected def withNewChildrenInternal(l: Expression, r: Expression): SignatureAgreement =
    copy(left = l, right = r)
}

object SignatureAgreement {
  def apply(a: Column, b: Column): Column =
    graftbridge.column(SignatureAgreement(graftbridge.expression(a), graftbridge.expression(b)))
}

/** `bands` LSH bucket keys of a MinHash signature, `rows` ints per band: the
  * `array<bigint>` of `transform(sequence(0, bands-1),
  * b => xxhash64(slice(sig, b*rows+1, rows), b))`, bit for bit. Like that
  * composition it is never null: a null `sig` hashes empty bands.
  */
case class BandKeys(child: Expression, bands: Int, rows: Int) extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = false

  override def checkInputDataTypes(): TypeCheckResult =
    SigKernelsImpl.requireInputs("band keys", Seq(child.dataType), SigKernelsImpl.IntArrays)

  override def eval(input: InternalRow): Any =
    SigKernelsImpl.bandKeys(child.eval(input).asInstanceOf[ArrayData], bands, rows)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    ev.copy(
      code = code"""
        ${c.code}
        ArrayData ${ev.value} =
          graft.functions.SigKernelsImpl.bandKeys(${c.isNull} ? null : ${c.value}, $bands, $rows);
      """,
      isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): BandKeys =
    copy(child = newChild)
}

object BandKeys {
  def apply(sig: Column, bands: Int, rows: Int): Column =
    graftbridge.column(BandKeys(graftbridge.expression(sig), bands, rows))
}
