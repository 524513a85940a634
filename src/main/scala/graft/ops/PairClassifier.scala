package graft.ops

import org.apache.spark.ml.classification.{GBTClassifier, RandomForestClassifier}
import org.apache.spark.ml.feature.VectorAssembler
import org.apache.spark.ml.functions.vector_to_array
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.{text => T, SignatureAgreement, SortedIntersectSize}

/** Pair classifier — the reference's supervised scoring stage re-expressed in
  * spark.ml (classifier.py:287-357): RandomForest + gradient-boosted-trees
  * ensemble (XGB analogue: depth 5, 100 rounds, lr 0.1, seed 2018,
  * classifier.py:303-311,57), mean-probability ensemble with threshold 0.5
  * (classifier.py:337-338,353-354). Splits are BLOCK-level, not row-level
  * (classifier.py:220-243 splits names, not pairs), and classes are balanced
  * by downsampling (classifier.py:252-262).
  *
  * Features are keyed columns, not positionally-aligned matrices (SURVEY
  * §1.3): signature-estimate, exact Jaccard, SimHash Hamming distance,
  * size ratios — assembled with VectorAssembler (M1 analogue).
  */
object PairClassifier {

  val featureCols: Seq[String] =
    Seq("est_sim", "jaccard", "hamming", "size_ratio", "turns_ratio")

  /** (id1, id2) x signatures -> feature columns per pair */
  def featurize(pairs: DataFrame, sigs: DataFrame, docs: DataFrame): DataFrame = {
    val side = sigs
      .join(docs.select(col("conv_id"), col("n_turns")), "conv_id")
      .select(col("conv_id"), col("shingles"), col("sig"), col("simhash"), col("n_turns"))
    val est = SignatureAgreement(col("sig1"), col("sig2")).cast("double") / size(col("sig1"))
    val inter = SortedIntersectSize(col("sh1"), col("sh2")).cast("double")
    val uni = (size(col("sh1")) + size(col("sh2"))).cast("double") - inter
    pairs
      .join(side.toDF("id1", "sh1", "sig1", "simhash1", "turns1"), "id1")
      .join(side.toDF("id2", "sh2", "sig2", "simhash2", "turns2"), "id2")
      .withColumn("est_sim", est)
      .withColumn("jaccard", when(uni === 0d, 1.0).otherwise(inter / uni))
      .withColumn("hamming", T.hamming64(col("simhash1"), col("simhash2")).cast("double"))
      .withColumn(
        "size_ratio",
        least(size(col("sh1")), size(col("sh2"))).cast("double") /
          greatest(size(col("sh1")), size(col("sh2"))).cast("double")
      )
      .withColumn(
        "turns_ratio",
        least(col("turns1"), col("turns2")).cast("double") /
          greatest(col("turns1"), col("turns2")).cast("double")
      )
      .select(Seq(col("id1"), col("id2")) ++ featureCols.map(col): _*)
  }

  final case class Models(
      rf: org.apache.spark.ml.classification.RandomForestClassificationModel,
      gbt: org.apache.spark.ml.classification.GBTClassificationModel
  )

  private def assemble(feats: DataFrame): DataFrame =
    new VectorAssembler().setInputCols(featureCols.toArray).setOutputCol("features")
      .transform(feats)

  /** Balanced training (downsample majority class, classifier.py:252-262)
    * with seed 2018 defaults (classifier.py:57).
    */
  def train(
      labeled: DataFrame, // featurize output + label (0/1)
      numTrees: Int = 100,
      gbtIters: Int = 100,
      seed: Long = 2018L
  ): Models = {
    val counts = labeled.groupBy(col("label")).count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    val nPos = counts.getOrElse(1, 0L)
    val nNeg = counts.getOrElse(0, 0L)
    val frac = if (nNeg > nPos) nPos.toDouble / nNeg else 1.0
    val balanced = assemble(
      labeled.stat.sampleBy("label", Map(0 -> frac, 1 -> math.min(1.0, nNeg.toDouble / nPos)), seed)
    ).withColumn("label", col("label").cast("double")).cache()

    val rf = new RandomForestClassifier()
      .setNumTrees(numTrees).setSeed(seed).setLabelCol("label").setFeaturesCol("features")
      .fit(balanced)
    val gbt = new GBTClassifier()
      .setMaxDepth(5).setMaxIter(gbtIters).setStepSize(0.1).setSeed(seed)
      .setLabelCol("label").setFeaturesCol("features")
      .fit(balanced)
    Models(rf, gbt)
  }

  /** Mean-probability ensemble; `dup` = prob >= 0.5 (classifier.py:353-354). */
  def predict(models: Models, feats: DataFrame): DataFrame = {
    val withRf = models.rf.transform(assemble(feats))
      .withColumn("p_rf", vector_to_array(col("probability")).getItem(1))
      .drop("rawPrediction", "probability", "prediction")
    val both = models.gbt.transform(withRf)
      .withColumn("p_gbt", vector_to_array(col("probability")).getItem(1))
      .withColumn("prob", (col("p_rf") + col("p_gbt")) / 2)
      .withColumn("dup", (col("prob") >= 0.5).cast("int"))
    both.select(col("id1"), col("id2"), col("prob"), col("dup"))
  }

  /** Grid-search cross-validation over the RF half of the ensemble
    * (classifier.py:81-140: GridSearchCV + StratifiedShuffleSplit on F1;
    * here ml.tuning.CrossValidator on area-under-PR, the threshold-free
    * analogue). Returns the best model and its grid metrics.
    */
  def tuneRF(
      labeled: DataFrame,
      numTreesGrid: Seq[Int] = Seq(50, 100),
      maxDepthGrid: Seq[Int] = Seq(5, 8),
      folds: Int = 3,
      seed: Long = 2018L
  ): (org.apache.spark.ml.tuning.CrossValidatorModel, Array[Double]) = {
    import org.apache.spark.ml.evaluation.BinaryClassificationEvaluator
    import org.apache.spark.ml.tuning.{CrossValidator, ParamGridBuilder}
    val rf = new RandomForestClassifier()
      .setSeed(seed).setLabelCol("label").setFeaturesCol("features")
    val grid = new ParamGridBuilder()
      .addGrid(rf.numTrees, numTreesGrid)
      .addGrid(rf.maxDepth, maxDepthGrid)
      .build()
    val cv = new CrossValidator()
      .setEstimator(rf)
      .setEvaluator(new BinaryClassificationEvaluator().setMetricName("areaUnderPR"))
      .setEstimatorParamMaps(grid)
      .setNumFolds(folds)
      .setSeed(seed)
    val data = assemble(labeled).withColumn("label", col("label").cast("double"))
    val model = cv.fit(data)
    (model, model.avgMetrics)
  }

  /** Block-level split on a key column (classifier.py:220-231 splits names). */
  def blockSplit(labeled: DataFrame, blockCol: String, trainFrac: Double, seed: Long): (DataFrame, DataFrame) = {
    val blocks = labeled.select(col(blockCol)).distinct()
    val trainBlocks = blocks.sample(withReplacement = false, trainFrac, seed).cache()
    val train = labeled.join(trainBlocks, Seq(blockCol), "left_semi")
    val test = labeled.join(trainBlocks, Seq(blockCol), "left_anti")
    (train, test)
  }

  final case class BalancedSplit(train: DataFrame, test: DataFrame, seed: Long, gap: Double)

  /** Balanced-pos-rate block split (sample_seed.py:26-45: the reference
    * searches 500 seeds for the name-level split whose train/val positive
    * rates are closest, then trains on the winner — classifier.py:220-243
    * consumes the chosen name lists).
    *
    * Scale shape: ONE distributed keyed aggregate reduces the corpus to a
    * per-block (rows, positives) table; the seed search itself runs
    * driver-side over that table — O(nBlocks x nSeeds) integer work, the
    * same driver-sided protocol as the reference, sound because blocks are
    * the UNIT of the experiment design (thousands, not rows) — and the
    * winning block list is applied back with one broadcast semi/anti join.
    * No per-seed Spark jobs: 500 candidate splits cost zero extra actions.
    *
    * Deterministic: candidate k uses `new Random(seed0 + k)` over the
    * block list sorted by key (a null key first), so the winner is
    * reproducible across runs and partitionings. Candidates that land all
    * blocks on one side are skipped (gap undefined), mirroring the
    * reference's implicit guarantee from its fixed 80/20 sizes. A null block
    * key is one block like any other: the split is applied with a null-safe
    * join, so its rows land on the side the search chose.
    */
  def blockSplitBalanced(
      labeled: DataFrame,
      blockCol: String,
      trainFrac: Double = 0.8,
      nSeeds: Int = 500,
      seed0: Long = 2018L
  ): BalancedSplit = {
    require(trainFrac > 0 && trainFrac < 1, s"trainFrac must be in (0,1), got $trainFrac")
    require(nSeeds >= 1, s"nSeeds must be >= 1, got $nSeeds")
    val spark = labeled.sparkSession
    val stats = labeled.groupBy(col(blockCol))
      .agg(count(lit(1)).as("n"), sum(col("label").cast("long")).as("np"))
      .collect()
      .map(r => (r.get(0), r.getLong(1), r.getLong(2)))
      .sortBy(t => Option(t._1).map(_.toString)) // stable order -> deterministic shuffles below
    require(stats.length >= 2, "blockSplitBalanced needs at least 2 blocks")
    val nTrain = math.max(1, math.min(stats.length - 1, math.round(trainFrac * stats.length).toInt))
    def gapOf(train: Array[(Any, Long, Long)], test: Array[(Any, Long, Long)]): Double = {
      val (tn, tp) = (train.map(_._2).sum, train.map(_._3).sum)
      val (vn, vp) = (test.map(_._2).sum, test.map(_._3).sum)
      if (tn == 0 || vn == 0) Double.NaN
      else math.abs(tp.toDouble / tn - vp.toDouble / vn)
    }
    var bestSeed = seed0
    var bestGap = Double.PositiveInfinity
    var bestTrain: Array[(Any, Long, Long)] = null
    var k = 0
    while (k < nSeeds) {
      val s = seed0 + k
      val shuffled = new scala.util.Random(s).shuffle(stats.toSeq).toArray
      val (tr, te) = shuffled.splitAt(nTrain)
      val g = gapOf(tr, te)
      if (!g.isNaN && g < bestGap) { bestGap = g; bestSeed = s; bestTrain = tr }
      k += 1
    }
    require(bestTrain != null, "no candidate split had rows on both sides")
    val blockField = labeled.schema(blockCol)
    val rows = bestTrain.map(t => org.apache.spark.sql.Row(t._1)).toSeq
    val trainBlocks = spark.createDataFrame(
      java.util.Arrays.asList(rows: _*),
      org.apache.spark.sql.types.StructType(Seq(blockField.copy(name = blockCol))))
    val inTrain = labeled(blockCol) <=> trainBlocks(blockCol)
    val train = labeled.join(broadcast(trainBlocks), inTrain, "left_semi")
    val test = labeled.join(broadcast(trainBlocks), inTrain, "left_anti")
    BalancedSplit(train, test, bestSeed, bestGap)
  }
}
