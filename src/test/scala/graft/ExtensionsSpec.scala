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

  test("every registered function evaluates or fails analysis on any input type, never a task") {
    // one row of every probe type, read back from parquet so no argument
    // constant-folds at analysis and every kernel sees a real column
    val tmp = java.nio.file.Files.createTempDirectory("graft-sql-totality").toString + "/t"
    spark.sql(
      """SELECT array(1, 2, 3, 4) AS ai, array(1L, 2L, 3L, 4L) AS al,
        |  array(1S, 2S, 3S, 4S) AS asi, array(1Y, 2Y, 3Y, 4Y) AS ati,
        |  array(0.5F, -1.0F, 2.0F, 0.25F) AS af, array(0.5D, -1.0D, 2.0D, 0.25D) AS ad,
        |  array(0.5BD, 1.5BD, 2.5BD, 3.5BD) AS adec, array('a', 'b', 'c', 'd') AS astr,
        |  'the quick brown fox jumps over the lazy dog' AS s, 7 AS i""".stripMargin)
      .write.parquet(tmp)
    spark.read.parquet(tmp).createOrReplaceTempView("ext_probe")
    val cols = Seq("ai", "al", "asi", "ati", "af", "ad", "adec", "astr", "s", "i")
    val numeric = Seq("ai", "al", "af", "ad")
    // (column arguments, literal tail, the column argument lists that must evaluate)
    val calls: Map[String, (Int, String, Set[Seq[String]])] = Map(
      "shingle_hashes" -> ((1, ", 2", Set(Seq("s")))),
      "content_anchors" -> ((1, ", 8, 4", Set(Seq("s")))),
      "anchor_contexts" -> ((1, ", 8, 4, 10", Set(Seq("s")))),
      "simhash64" -> ((1, "", Set(Seq("ai"), Seq("al")))),
      "minhash_signature" -> ((1, ", 16, 42L", Set(Seq("ai"), Seq("al")))),
      "packed_sign_bits" -> ((1, ", 4, 8, 7L", numeric.map(Seq(_)).toSet)),
      "sorted_intersect_size" -> ((2, "", Set(Seq("ai", "ai"), Seq("al", "al")))),
      "cosine_sim" -> ((2, "", (for (a <- numeric; b <- numeric) yield Seq(a, b)).toSet)))
    val registered = spark.catalog.listFunctions().collect()
      .filter(_.className == classOf[GraftExtensions].getName).map(_.name).toSet
    assert(registered == calls.keySet, "every registered function needs a probe row here")
    for ((fn, (nCols, tail, accepted)) <- calls) {
      val argLists = if (nCols == 1) cols.map(Seq(_)) else for (a <- cols; b <- cols) yield Seq(a, b)
      val evaluated = argLists.filter { args =>
        val q = s"SELECT $fn(${args.mkString(", ")}$tail) FROM ext_probe"
        try { spark.sql(q).collect(); true }
        catch { case _: org.apache.spark.sql.AnalysisException => false }
      }.toSet
      assert(evaluated == accepted, s"$fn evaluated on $evaluated, expected $accepted")
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
