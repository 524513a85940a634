package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions._

/** The SQL registration surface (GraftExtensions): every registered function
  * must be callable from spark.sql and agree exactly with its Column-API
  * builder on the same input.
  */
class ExtensionsSpec extends AnyFunSuite {
  lazy val spark = Sessions.local(4, "extensions-spec")
  import spark.implicits._

  private def one[T](sql: String): T =
    spark.sql(sql).collect().head.getAs[T](0)

  test("simhash64 / minhash_signature / shingle_hashes agree with the Column API") {
    val df = Seq(("alpha beta gamma delta", Seq("alpha", "beta", "gamma", "delta")))
      .toDF("s", "toks")
    df.createOrReplaceTempView("ext_toks")
    val api = df.select(
      SimHash64(graft.functions.text.tokenHashes($"toks")).as("sh"),
      element_at(MinHashSignature(ShingleHashes($"s", 2), 16, 42L), 1).as("mh"))
      .as[(Long, Long)].head()
    val viaSql = spark.sql(
      """SELECT simhash64(transform(toks, t -> xxhash64(t))) AS sh,
        |  element_at(minhash_signature(shingle_hashes(s, 2), 16, 42L), 1) AS mh
        |FROM ext_toks""".stripMargin).as[(Long, Long)].head()
    assert(viaSql == api)
  }

  test("content_anchors and anchor_contexts are SQL-callable and consistent") {
    val text = "the quick brown fox jumps over the lazy dog again and again"
    val api = Seq(text).toDF("t")
      .select(ContentAnchors($"t", 8, 4).as("a")).as[Seq[Long]].head()
    val viaSql = spark.sql(s"SELECT content_anchors('$text', 8, 4)").as[Seq[Long]].head()
    assert(viaSql == api)
    val ctxRows = spark.sql(
      s"SELECT inline(anchor_contexts('$text', 8, 4, 10))").collect()
    assert(ctxRows.nonEmpty)
    ctxRows.foreach { r =>
      val (off, ctx) = (r.getInt(1), r.getString(2))
      assert(text.contains(ctx) && off >= 0 && off + 8 <= ctx.length)
    }
  }

  test("packed_sign_bits agrees with the Column API on float and double arrays") {
    val vec = Seq(0.5, -1.25, 2.0, 0.125)
    val api = Seq(vec).toDF("v")
      .select(PackedSignBits($"v", 4, 16, 7L).as("b")).as[Long].head()
    val viaSql = one[Long](s"SELECT packed_sign_bits(array(${vec.mkString("D,")}D), 4, 16, 7L)")
    assert(viaSql == api)
  }

  test("sorted_intersect_size is SQL-callable") {
    assert(one[Int]("SELECT sorted_intersect_size(array(1L,2L,5L), array(2L,3L,5L))") == 2)
  }

  test("cosine_sim is SQL-callable and agrees with the Column API") {
    val df = Seq((Seq(1f, 2f, 3f), Seq(3f, 2f, 1f))).toDF("a", "b")
    df.createOrReplaceTempView("ext_cos")
    val api = df.select(CosineSim($"a", $"b")).as[Double].head()
    val sql = one[Double]("SELECT cosine_sim(a, b) FROM ext_cos")
    assert(java.lang.Double.doubleToRawLongBits(api) == java.lang.Double.doubleToRawLongBits(sql))
    assert(one[Double]("SELECT cosine_sim(array(0.0F, 0.0F), array(1.0F, 2.0F))") == 0.0)
  }

  test("cosine_sim rejects element types it cannot read at analysis time") {
    val bad = Seq(
      "SELECT cosine_sim(array(1S, 2S), array(2S, 1S))",
      "SELECT cosine_sim(array(1Y, 2Y), array(2.0D, 1.0D))",
      "SELECT cosine_sim(array(1.5BD, 2.5BD), array(2.5BD, 1.5BD))")
    val tmp = java.nio.file.Files.createTempDirectory("graft-cos-tinyint").toString + "/t"
    Seq((Seq[Byte](1, 2, 3), Seq[Byte](3, 2, 1))).toDF("a", "b").write.parquet(tmp)
    spark.read.parquet(tmp).createOrReplaceTempView("ext_cos_tinyint")
    (bad :+ "SELECT cosine_sim(a, b) FROM ext_cos_tinyint").foreach { q =>
      val e = intercept[org.apache.spark.sql.AnalysisException](spark.sql(q).collect())
      assert(e.getMessage.contains("cosine_sim"), s"$q: ${e.getMessage.take(300)}")
    }
  }

  test("non-literal scalar parameters fail with a clear analysis-time error") {
    val e = intercept[Exception] {
      spark.sql("SELECT content_anchors('abcdefgh', 1 + length('abc'), 4)").collect()
    }
    assert(e.getMessage.contains("integer literal"),
      s"expected the literal-parameter error, got: ${e.getMessage.take(300)}")
  }
}
