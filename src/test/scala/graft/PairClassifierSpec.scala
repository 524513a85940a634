package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.PairClassifier
import graft.pipeline.Dedup
import graft.synth.Synth

/** RF+GBT ensemble pair classifier (classifier.py parity): trained on
  * planted-truth labels over candidate-pair features, block-level split,
  * held-out F1 must beat the trivial all-dup baseline.
  */
class PairClassifierSpec extends AnyFunSuite {
  lazy val spark = Sessions.local(4, "classifier-spec")
  import spark.implicits._

  test("ensemble learns dup vs non-dup pairs; holds up on held-out blocks") {
    val scfg = Synth.Config(nClusters = 250, boilerClusters = 1, boilerSize = 10)
    val cfg = Dedup.Config()
    val transcripts = Synth.transcripts(spark, scfg).toDF
    val truth = Synth.truth(spark, scfg).toDF

    val docs = Dedup.assemble(transcripts).cache()
    val sigs = Dedup.signatures(Dedup.shingle(docs, cfg), cfg).cache()
    // candidates WITHOUT the exact-verify gate: classifier replaces the gate.
    // Use a loosened config so both positives and negatives flow through.
    val loose = cfg.copy(simhashEnabled = false, substringEnabled = false)
    val lsh = Dedup.convIdPairs(Dedup.candidates(sigs, loose), sigs)
    // LSH candidates are nearly all true dups; add hash-shuffled adjacent
    // pairs as background negatives (classifier.py trains on all block pairs,
    // which are overwhelmingly negative)
    val w = org.apache.spark.sql.expressions.Window.orderBy(xxhash64($"conv_id"))
    val negs = sigs.select($"conv_id")
      .withColumn("nxt", lead($"conv_id", 1).over(w))
      .where($"nxt".isNotNull)
      .select(least($"conv_id", $"nxt").as("id1"), greatest($"conv_id", $"nxt").as("id2"))
    val cands = lsh.union(negs).distinct()

    val t1 = truth.select($"conv_id".as("id1"), $"cluster_id".as("c1"))
    val t2 = truth.select($"conv_id".as("id2"), $"cluster_id".as("c2"))
    val labeled = PairClassifier
      .featurize(cands, sigs, docs)
      .join(t1, "id1").join(t2, "id2")
      .withColumn("label", ($"c1" === $"c2").cast("int"))
      .withColumn("block", $"c1") // block-level split on truth cluster
      .cache()
    val nPos = labeled.where($"label" === 1).count()
    val nNeg = labeled.where($"label" === 0).count()
    info(s"pairs: $nPos pos / $nNeg neg")
    assert(nPos > 50 && nNeg > 50, s"need both classes among candidates: $nPos/$nNeg")

    val (train, test) = PairClassifier.blockSplit(labeled, "block", 0.8, seed = 2018L)
    val models = PairClassifier.train(train, numTrees = 30, gbtIters = 15)
    val pred = PairClassifier.predict(models, test.drop("label"))
      .join(test.select($"id1", $"id2", $"label"), Seq("id1", "id2"))
      .cache()

    val tp = pred.where($"dup" === 1 && $"label" === 1).count().toDouble
    val fp = pred.where($"dup" === 1 && $"label" === 0).count().toDouble
    val fn = pred.where($"dup" === 0 && $"label" === 1).count().toDouble
    val p = if (tp + fp == 0) 0 else tp / (tp + fp)
    val r = if (tp + fn == 0) 0 else tp / (tp + fn)
    val f1 = if (p + r == 0) 0 else 2 * p * r / (p + r)
    info(f"held-out: P=$p%.3f R=$r%.3f F1=$f1%.3f")
    assert(f1 >= 0.9, f"ensemble F1 $f1%.3f should be high on separable features")

    // determinism: same seed, same predictions
    val models2 = PairClassifier.train(train, numTrees = 30, gbtIters = 15)
    val pred2 = PairClassifier.predict(models2, test.drop("label"))
    assert(pred.select("id1", "id2", "dup").exceptAll(pred2.select("id1", "id2", "dup")).isEmpty)

    // M7 parity: feature importances are exposed and non-trivial
    val imp = models.rf.featureImportances.toArray
    info(s"feature importances: ${PairClassifier.featureCols.zip(imp).mkString(", ")}")
    assert(imp.sum > 0.999 && imp.count(_ > 0) >= 2)

    // S10 parity: model sink/scan round-trip preserves predictions
    val mdir = java.nio.file.Files.createTempDirectory("graft-model").toString
    models.rf.write.overwrite().save(s"$mdir/rf")
    val reloaded = org.apache.spark.ml.classification.RandomForestClassificationModel.load(s"$mdir/rf")
    assert(reloaded.numTrees == models.rf.numTrees)

    // M5 parity: grid-search CV picks a model with a high PR-area
    val (cvModel, metrics) = PairClassifier.tuneRF(
      train, numTreesGrid = Seq(10), maxDepthGrid = Seq(3, 5), folds = 2)
    info(s"CV avg areaUnderPR per grid point: ${metrics.mkString(", ")}")
    assert(metrics.max > 0.9, metrics.mkString(","))
    assert(cvModel.bestModel.isInstanceOf[org.apache.spark.ml.classification.RandomForestClassificationModel])
  }

  test("balanced-pos-rate seed search beats the single-seed block split on a skewed corpus " +
    "(M2 parity, sample_seed.py:26-45)") {
    // planted skew: half the blocks are all-positive, half all-negative, with
    // wildly varying sizes — a single seeded 50/50 block split routinely lands
    // train/val pos rates far apart; the 500-seed search must find a split
    // whose rates nearly match
    val rnd = new scala.util.Random(11)
    val rows = (0 until 24).flatMap { b =>
      val n = 5 + rnd.nextInt(120) // size skew
      val pos = if (b % 2 == 0) 1 else 0
      (0 until n).map(i => (s"b$b", s"p${b}_$i", pos))
    }
    val labeled = rows.toDF("block", "pair_id", "label")

    def posRate(df: org.apache.spark.sql.DataFrame): Double = {
      val r = df.agg(sum($"label").cast("double") / count(lit(1))).head
      r.getDouble(0)
    }
    // worst single-seed gap over the same candidate seeds the search scans —
    // the search can never do worse than its own best candidate, so compare
    // against the median single-seed outcome instead of a cherry-picked one
    val singleGaps = (0 until 20).map { k =>
      val (tr, te) = PairClassifier.blockSplit(labeled, "block", 0.5, seed = 2018L + k)
      math.abs(posRate(tr) - posRate(te))
    }
    val medianSingle = singleGaps.sorted.apply(singleGaps.size / 2)

    val res = PairClassifier.blockSplitBalanced(labeled, "block", trainFrac = 0.5, nSeeds = 500)
    val measuredGap = math.abs(posRate(res.train) - posRate(res.test))
    info(f"median single-seed gap $medianSingle%.4f; searched gap ${res.gap}%.4f (seed ${res.seed})")
    // the applied split must reproduce the driver-side search's own numbers
    assert(math.abs(measuredGap - res.gap) < 1e-12,
      f"applied split gap $measuredGap%.6f != search gap ${res.gap}%.6f")
    assert(res.gap <= medianSingle,
      f"searched gap ${res.gap}%.4f should not exceed the median single-seed gap $medianSingle%.4f")
    assert(res.gap < 0.02, f"500 seeds over 24 blocks must find a near-balanced split, got ${res.gap}%.4f")
    // block-level split invariants: disjoint, complete, no block straddles
    val tb = res.train.select($"block").distinct().as[String].collect().toSet
    val vb = res.test.select($"block").distinct().as[String].collect().toSet
    assert(tb.intersect(vb).isEmpty && (tb ++ vb).size == 24)
    assert(res.train.count() + res.test.count() == rows.size)
    // determinism: same inputs -> same winner
    val res2 = PairClassifier.blockSplitBalanced(labeled, "block", trainFrac = 0.5, nSeeds = 500)
    assert(res2.seed == res.seed && res2.gap == res.gap)
  }

  test("balanced block split treats a null block key as one block") {
    val rows = (0 until 12).flatMap { b =>
      val block = if (b == 0) null else s"b$b"
      (0 until 3 + b).map(i => (block, s"p${b}_$i", (b + i) % 2))
    }
    val labeled = rows.toDF("block", "pair_id", "label")
    val res = PairClassifier.blockSplitBalanced(labeled, "block", trainFrac = 0.5, nSeeds = 50)
    assert(res.train.count() + res.test.count() == rows.size, "every row lands on one side")
    val nullSides = Seq(res.train, res.test).map(_.where($"block".isNull).count())
    assert(nullSides.sorted == Seq(0L, 3L), s"the null block must land whole on one side: $nullSides")
    def posRate(df: org.apache.spark.sql.DataFrame): Double =
      df.agg(sum($"label").cast("double") / count(lit(1))).head.getDouble(0)
    assert(math.abs(math.abs(posRate(res.train) - posRate(res.test)) - res.gap) < 1e-12,
      "the applied split must reproduce the search's gap")
    val res2 = PairClassifier.blockSplitBalanced(labeled.repartition(5), "block", trainFrac = 0.5, nSeeds = 50)
    assert(res2.seed == res.seed && res2.gap == res.gap)
  }

  test("classifier probs as the pair score: refine beats the raw-jaccard cut end-to-end " +
    "(the reference's classifier -> constrained-Kruskal handoff, classifier.py:389-423)") {
    import graft.pipeline.Eval
    import graft.plans.BlockClustering

    // planted ambiguity the raw similarity CANNOT resolve: per entity,
    // variants a/b share 4 of 6 turns (true dups, jaccard ~0.5) while a short
    // impostor c quotes 3 of the same turns (jaccard ~0.5 to each, but HALF
    // the turns/size). Lexical overlap is symmetric between the two pair
    // kinds by construction; only the size/turns-ratio features separate
    // them — exactly the regime where the reference swaps the raw score for
    // classifier probabilities before the Kruskal cut. Shared turns are
    // ~120 chars, so the substring-anchor pass catches every pair
    // deterministically (no LSH luck at s~0.5).
    val rnd = new scala.util.Random(7)
    def sent() = Seq.fill(20)(s"w${rnd.nextInt(40000)}").mkString(" ")
    val nEnt = 12
    val rows = (0 until nEnt).flatMap { i =>
      val shared = Seq.fill(4)(sent())
      def conv(id: String, ts: Seq[String]) = ts.zipWithIndex.map { case (t, k) => (id, k, t) }
      conv(s"e${i}_a", shared ++ Seq.fill(2)(sent())) ++
        conv(s"e${i}_b", shared ++ Seq.fill(2)(sent())) ++
        conv(s"e${i}_c", shared.take(3))
    }
    val transcripts = rows.toDF("conv_id", "turn_idx", "text")
    val cfg = Dedup.Config(threshold = 0.30, estMargin = 0.25)
    val r = Dedup.run(spark, transcripts, cfg)

    // capture sanity: each entity must land in ONE block with all 3 members
    // (else the comparison below measures candidate recall, not the cut)
    val entityOf = substring_index($"conv_id", "_", 1)
    val blocksPerEntity = r.clusters.groupBy(entityOf.as("ent"))
      .agg(countDistinct($"component").as("nb"), count(lit(1)).as("nm")).collect()
    assert(blocksPerEntity.forall(x => x.getLong(1) == 1 && x.getLong(2) == 3),
      s"every entity must form one 3-member block: ${blocksPerEntity.mkString(", ")}")

    // truth: a+b are one cluster, the impostor is its own
    def clusterOf(c: org.apache.spark.sql.Column) =
      when(c.endsWith("_c"), c).otherwise(substring_index(c, "_", 1))
    val labeled = PairClassifier.featurize(r.pairs.select($"id1", $"id2"), r.sigs, r.docs)
      .withColumn("label", (clusterOf($"id1") === clusterOf($"id2")).cast("int"))

    // block-level split: train on entities 0-6, evaluate on held-out 7-11
    val trainEnts = (0 until 7).map(i => s"e$i")
    val models = PairClassifier.train(
      labeled.where(substring_index($"id1", "_", 1).isin(trainEnts: _*)),
      numTrees = 50, gbtIters = 30)

    // the handoff: ensemble probability REPLACES raw jaccard as the edge sim
    val scored = PairClassifier.predict(models, labeled)
      .select($"id1", $"id2", $"prob".as("jaccard"))
    val rawRefined = BlockClustering.refine(spark, r.clusters, r.pairs)
    val clfRefined = BlockClustering.refine(spark, r.clusters, scored)

    val heldEnts = (7 until nEnt).map(i => s"e$i")
    val truthHeld = rows.map(_._1).distinct
      .map(id => (id, if (id.endsWith("_c")) id else id.split("_")(0)))
      .toDF("conv_id", "cluster_id")
      .where(substring_index($"conv_id", "_", 1).isin(heldEnts: _*))
    def f1(refined: org.apache.spark.sql.DataFrame): Double =
      Eval.pairwise(spark,
        refined.where(substring_index($"conv_id", "_", 1).isin(heldEnts: _*)), truthHeld).f1
    val rawF1 = f1(rawRefined)
    val clfF1 = f1(clfRefined)
    info(f"held-out pairwise F1: raw-jaccard cut $rawF1%.3f, classifier-scored cut $clfF1%.3f")
    assert(clfF1 >= 0.9, f"classifier-scored refine must resolve the planted corpus, F1=$clfF1%.3f")
    assert(clfF1 > rawF1 + 0.3,
      f"classifier score must beat raw jaccard decisively: clf $clfF1%.3f vs raw $rawF1%.3f")
  }
}
