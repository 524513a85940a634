package graft.ops

import org.apache.spark.ml.feature.{Word2Vec, Word2VecModel}
import org.apache.spark.ml.functions.vector_to_array
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Trained document embeddings — the reference's Doc2Vec stage
  * (doc2vec.py:44-120: gensim PV-DM, 50 dims, trained over title+abstract,
  * then per-document vectors feed pair features doc2vec_pair_native.py:94-122).
  * MLlib has no Doc2Vec; the survey's mapping (SURVEY §2.8 M8) is
  * ml.feature.Word2Vec with doc vectors as the average of word vectors —
  * which is exactly what Word2VecModel.transform emits for a token-array
  * column. The resulting (id, vec) frame feeds every ANN entry point
  * (IvfIndex, Ann.lshTopK/nearDupPairs), closing the raw-text -> trained-embedding
  * -> ANN path end-to-end.
  */
object DocEmbed {

  /** Train word vectors over tokenized docs. Defaults mirror the reference
    * (50 dims, seed 2018 — classifier.py:57 pins the same seed). The input
    * is sorted into a single partition before fitting: Word2Vec's SGD
    * consumes sentences in partition order, so a pinned order makes training
    * reproducible run-to-run on the same data (distributed training with
    * numPartitions > 1 trades that for speed, as the reference's workers=8
    * did — callers opt in via `numPartitions`).
    *
    * Convention: `iters` (Word2Vec `maxIter`) defaults to 5, where the
    * reference trains 100 epochs, so default vectors are less converged
    * than the reference's. Pass `iters = 100` for reference parity, at
    * about 20x the SGD cost (one pass over the corpus per iteration).
    */
  def train(
      docs: DataFrame,
      idCol: String = "id",
      tokensCol: String = "tokens",
      dim: Int = 50,
      iters: Int = 5,
      minCount: Int = 1,
      seed: Long = 2018L,
      numPartitions: Int = 1,
      maxSinglePartitionRows: Long = 1000000L
  ): Word2VecModel = {
    val input = docs.select(col(idCol), col(tokensCol))
    // numPartitions > 1 = the distributed-training opt-in: skip the
    // single-partition global sort (it would serialize the whole corpus
    // through one task) and let Word2Vec spread SGD over the partitions.
    // OpsSpec gates that this path preserves downstream ANN recall.
    //
    // Scale guard: the single-partition default is a DETERMINISM PIN for
    // golden-scale corpora, and a scale-killer if inherited silently at
    // real scale — a 100x caller would funnel the whole corpus through one
    // task. Refuse loudly instead: past `maxSinglePartitionRows` the caller
    // must either opt into distributed SGD (numPartitions > 1) or raise the
    // ceiling explicitly, acknowledging the serialization. The probe reads at
    // most one row past the ceiling, not the whole corpus.
    if (numPartitions <= 1) {
      val probe = math.min(maxSinglePartitionRows, Int.MaxValue - 1L).toInt + 1
      val overCeiling = input.limit(probe).count() > maxSinglePartitionRows
      require(!overCeiling,
        s"DocEmbed.train with default numPartitions=1 sorts the corpus into ONE task " +
          s"(reproducibility pin); input has more than maxSinglePartitionRows=$maxSinglePartitionRows rows. " +
          s"Pass numPartitions > 1 (distributed SGD; ANN-recall-gated in OpsSpec) or raise " +
          s"maxSinglePartitionRows to accept single-task training deliberately.")
    }
    val prepared = if (numPartitions <= 1) input.orderBy(col(idCol)).coalesce(1) else input
    new Word2Vec()
      .setInputCol(tokensCol)
      .setOutputCol("docvec")
      .setVectorSize(dim)
      .setMinCount(minCount)
      .setMaxIter(iters)
      .setSeed(seed)
      .setNumPartitions(numPartitions)
      .fit(prepared)
  }

  /** Per-document vectors (mean of word vectors — Word2VecModel.transform's
    * documented semantics), shaped (id, vec array<float>) for the Ann ops.
    *
    * This is ALSO the inferred-vector path for docs OUTSIDE the trained
    * corpus (doc2vec_pair_foreign.py:83-121): transform is purely
    * vocabulary-based — it averages the trained vectors of whichever tokens
    * a document shares with the model's vocabulary, so unseen documents get
    * well-defined vectors as long as they speak the corpus's language
    * (all-OOV docs degrade to the zero vector, whose cosine is defined 0 —
    * Ann.cosine). OpsSpec pins that held-out docs retrieve their planted
    * counterparts through this path.
    */
  def docVectors(
      model: Word2VecModel,
      docs: DataFrame,
      idCol: String = "id",
      tokensCol: String = "tokens"
  ): DataFrame =
    model
      .transform(docs.select(col(idCol), col(tokensCol)))
      .select(col(idCol).as("id"),
        transform(vector_to_array(col("docvec")), x => x.cast("float")).as("vec"))

  /** Per-pair embedding features — the reference's doc2vec pair triple
    * (doc2vec_pair_native.py:104-110, identical math in the foreign/inferred
    * variant doc2vec_pair_foreign.py:83-121): Euclidean distance
    * `||va - vb||`, angle `arccos(clamp(cos, -1, 1))` (clamp because fp dot
    * products stray past +/-1 and arccos would return NaN), and the
    * geometric-mean length `sqrt(||va|| * ||vb||)`. Works identically over
    * native (trained-corpus) and foreign (inferred) vectors — the pairs
    * frame just keys into whichever (id, vec) frame the caller built.
    * One broadcast-or-shuffle equi-join per side, column math after; no
    * UDFs, no per-pair collect.
    */
  def pairFeatures(pairs: DataFrame, vectors: DataFrame): DataFrame = {
    def norm(c: org.apache.spark.sql.Column) =
      sqrt(aggregate(transform(c, x => x.cast("double") * x.cast("double")), lit(0.0), (s, x) => s + x))
    val dist = sqrt(aggregate(
      zip_with(col("v1"), col("v2"), (x, y) => {
        val d = x.cast("double") - y.cast("double"); d * d
      }),
      lit(0.0), (s, x) => s + x))
    val cos = Ann.cosine(col("v1"), col("v2"))
    pairs
      .join(vectors.toDF("id1", "v1"), "id1")
      .join(vectors.toDF("id2", "v2"), "id2")
      .withColumn("d2v_dist", dist)
      .withColumn("d2v_angle", acos(greatest(lit(-1.0), least(lit(1.0), cos))))
      .withColumn("d2v_geo", sqrt(norm(col("v1")) * norm(col("v2"))))
      .select(col("id1"), col("id2"), col("d2v_dist"), col("d2v_angle"), col("d2v_geo"))
  }
}
