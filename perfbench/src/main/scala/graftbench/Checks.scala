package graftbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.pipeline.Eval

/** What a dedup op hands back: (conv_id, component) and verified
  * (id1, id2, jaccard) pairs.
  */
final case class Answer(clusters: DataFrame, pairs: DataFrame)

/** Correctness checks, all run outside the timed section. */
object Checks {

  /** Order-independent hash of an answer: row count and the exact sum of
    * per-row 64-bit hashes, for clusters and for distinct pairs. Two answers
    * with the same rows give the same string under any partitioning.
    */
  def answerHash(a: Answer): String = {
    def h(df: DataFrame, cols: Seq[String]): String = {
      val r = df.agg(count(lit(1)), sum(xxhash64(cols.map(col): _*).cast("decimal(38,0)"))).first()
      s"${r.getLong(0)}:${Option(r.getDecimal(1)).map(_.toPlainString).getOrElse("0")}"
    }
    s"c${h(a.clusters, Seq("conv_id", "component"))}/p${h(pairs(a), Seq("id1", "id2", "jaccard"))}"
  }

  private def pairs(a: Answer): DataFrame = a.pairs.select("id1", "id2", "jaccard").distinct()

  /** Violations of the answer's invariants, empty when it is correct:
    *   - every input conversation appears exactly once in the clusters;
    *   - every verified pair is co-clustered and has jaccard >= threshold.
    */
  def invariants(a: Answer, inputConvs: DataFrame, nConvs: Long, threshold: Double): Seq[String] = {
    val c = a.clusters.agg(count(lit(1)), countDistinct(col("conv_id"))).first()
    val missing = inputConvs.join(a.clusters, Seq("conv_id"), "left_anti").count()
    val label = a.clusters.select(col("conv_id"), col("component"))
    val badPairs = pairs(a)
      .join(label.toDF("id1", "c1"), Seq("id1"), "left")
      .join(label.toDF("id2", "c2"), Seq("id2"), "left")
      .where(col("c1").isNull || col("c2").isNull || col("c1") =!= col("c2") || col("jaccard") < threshold)
      .count()
    Seq(
      (c.getLong(0) != nConvs) -> s"clusters hold ${c.getLong(0)} rows for $nConvs input conversations",
      (c.getLong(1) != nConvs) -> s"clusters hold ${c.getLong(1)} distinct conversations for $nConvs",
      (missing > 0) -> s"$missing input conversations are missing from the clusters",
      (badPairs > 0) -> s"$badPairs verified pairs are split across clusters or below the threshold"
    ).collect { case (true, msg) => msg }
  }

  /** Pairwise precision and recall of the clusters against planted truth. */
  def quality(spark: SparkSession, a: Answer, truthDir: String): Eval.PairwiseScores =
    Eval.pairwise(spark, a.clusters, spark.read.parquet(truthDir))
}
