package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._



/** Pairwise precision / recall / F1 of a predicted clustering against a truth
  * clustering — the reference's evaluation contract (evaluate.py:18-31,
  * 125-128), computed WITHOUT enumerating pairs: for every (truth, pred)
  * contingency cell of n co-assigned items there are C(n,2) agreeing pairs,
  * so TP = Σ_cells C(n,2), truthPairs = Σ_t C(n_t,2), predPairs = Σ_p C(n_p,2).
  * Three hash aggregations; no O(n^2) blow-up at any scale.
  */
object Eval {

  /** Convention: an empty pair set scores 1.0, so a prediction with no
    * pairs has precision 1.0 and a truth with no pairs recall 1.0 (nothing
    * to get wrong, nothing to miss). sklearn's `precision_score` /
    * `recall_score`, which the reference calls, return 0.0 there
    * (`zero_division` warning); the two agree whenever both sets are
    * non-empty.
    */
  final case class PairwiseScores(
      tp: Long,
      truthPairs: Long,
      predPairs: Long
  ) {
    def precision: Double = if (predPairs == 0) 1.0 else tp.toDouble / predPairs
    def recall: Double = if (truthPairs == 0) 1.0 else tp.toDouble / truthPairs
    def f1: Double = {
      val p = precision; val r = recall
      if (p + r == 0) 0.0 else 2 * p * r / (p + r)
    }
  }

  private def sumPairs(counts: DataFrame): Long = {
    import counts.sparkSession.implicits._
    counts
      .agg(expr("sum(n * (n - 1) DIV 2)")) // DIV keeps it integral (no double round-trip)
      .as[Option[Long]]
      .first()
      .getOrElse(0L)
  }

  /** pred: (conv_id, component); truth: (conv_id, cluster_id). */
  def pairwise(spark: SparkSession, pred: DataFrame, truth: DataFrame): PairwiseScores = {
    val joined = pred
      .select(col("conv_id"), col("component"))
      .join(truth.select(col("conv_id"), col("cluster_id")), "conv_id")
    val cells = joined.groupBy(col("component"), col("cluster_id")).agg(count(lit(1)).as("n"))
    val tp = sumPairs(cells)
    val tPairs = sumPairs(truth.groupBy(col("cluster_id")).agg(count(lit(1)).as("n")))
    val pPairs = sumPairs(pred.groupBy(col("component")).agg(count(lit(1)).as("n")))
    PairwiseScores(tp, tPairs, pPairs)
  }

  /** Recall of an explicit pair set: fraction of `oracle` pairs (id1,id2)
    * whose endpoints the prediction co-assigns. Used against the brute-force
    * exact-Jaccard oracle (the north_rule ">=0.99 dup-pair recall" gate).
    */
  def pairRecall(spark: SparkSession, pred: DataFrame, oracle: DataFrame): Double = {
    import spark.implicits._
    val p = pred.select(col("conv_id"), col("component"))
    val joined = oracle
      .join(p.select(col("conv_id").as("id1"), col("component").as("c1")), "id1")
      .join(p.select(col("conv_id").as("id2"), col("component").as("c2")), "id2")
    val (hit, total) = joined
      .agg(sum((col("c1") === col("c2")).cast("long")), count(lit(1)))
      .as[(Option[Long], Long)]
      .first() match { case (h, t) => (h.getOrElse(0L), t) }
    if (total == 0) 1.0 else hit.toDouble / total
  }

  /** Macro (per-block mean) pairwise F1 — evaluate.py:136-152's per-name
    * scoring: P/R/F1 computed within each block independently, then averaged
    * over blocks that contain at least one truth pair. `blocks`:
    * (conv_id, block).
    */
  def pairwiseMacro(
      spark: SparkSession,
      pred: DataFrame,
      truth: DataFrame,
      blocks: DataFrame
  ): Double = {
    import spark.implicits._
    val joined = pred
      .join(truth, "conv_id")
      .join(blocks, "conv_id")
    def pairsPerBlock(df: DataFrame, keyCols: Seq[String]): DataFrame =
      df.groupBy(col("block") +: keyCols.map(col): _*)
        .agg(count(lit(1)).as("n"))
        .groupBy(col("block"))
        .agg(expr("sum(n * (n - 1) DIV 2)").as("p"))
    val tp = pairsPerBlock(joined, Seq("component", "cluster_id")).withColumnRenamed("p", "tp")
    val tr = pairsPerBlock(joined, Seq("cluster_id")).withColumnRenamed("p", "truthp")
    val pr = pairsPerBlock(joined, Seq("component")).withColumnRenamed("p", "predp")
    val per = tr
      .join(tp, Seq("block"), "left_outer")
      .join(pr, Seq("block"), "left_outer")
      .where(col("truthp") > 0)
      .select(
        (coalesce(col("tp"), lit(0L)).cast("double") / col("truthp")).as("r"),
        when(coalesce(col("predp"), lit(0L)) > 0,
          coalesce(col("tp"), lit(0L)).cast("double") / col("predp")).otherwise(lit(1.0)).as("p")
      )
      .select(when(col("p") + col("r") > 0, lit(2.0) * col("p") * col("r") / (col("p") + col("r")))
        .otherwise(lit(0.0)).as("f1"))
    per.agg(avg(col("f1"))).as[Option[Double]].first().getOrElse(1.0)
  }

  /** Per-block prediction accuracy report (check_train_labels.py:10-21,
    * A11): mean (label == prediction) per block, descending — the
    * reference's per-name accuracy ranking used to spot blocks the
    * classifier handles poorly. labeled: (block, label, pred) with any
    * equality-comparable label/pred columns. Output: (block, n, accuracy)
    * ordered worst-last like the reference's `sort_values(ascending=False)`.
    */
  def perBlockAccuracy(
      labeled: DataFrame,
      blockCol: String = "block",
      labelCol: String = "label",
      predCol: String = "pred"
  ): DataFrame =
    labeled
      .groupBy(col(blockCol).as("block"))
      .agg(
        count(lit(1)).as("n"),
        avg((col(labelCol) === col(predCol)).cast("double")).as("accuracy")
      )
      .orderBy(col("accuracy").desc, col("block"))

  /** Brute-force exact-Jaccard oracle pairs at small n (test-only): all pairs
    * of assembled docs with shingle-set Jaccard >= threshold — the reference-
    * semantics ground truth (all-pairs scoring, id_pairs.py:21-23 analogue).
    */
  def bruteForceOracle(shingled: DataFrame, threshold: Double): DataFrame = {
    val a = shingled.select(col("conv_id").as("id1"), col("shingles").as("sh1"))
    val b = shingled.select(col("conv_id").as("id2"), col("shingles").as("sh2"))
    a.crossJoin(b)
      .where(col("id1") < col("id2"))
      .withColumn("jaccard", graft.functions.text.jaccard(col("sh1"), col("sh2")))
      .where(col("jaccard") >= threshold)
      .select(col("id1"), col("id2"), col("jaccard"))
  }
}
