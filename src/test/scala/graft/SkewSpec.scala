package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.pipeline.{CheckpointedDedup, Dedup, Eval}
import graft.synth.Synth

/** Skew handling under a tiny bucket cap: viral/boilerplate buckets larger
  * than the cap must be chunked WITH logged drop metrics (no silent loss) and
  * WITHOUT losing cluster-level recall (hub chaining keeps each bucket
  * connected through verification).
  */
class SkewSpec extends AnyFunSuite {
  lazy val spark = Sessions.local(4, "skew-spec")

  test("oversized buckets: metrics reported, connectivity preserved") {
    val scfg = Synth.Config(nClusters = 80, boilerClusters = 2, boilerSize = 40)
    val cfg = Dedup.Config(bucketCap = 8) // force chunking on 40-member buckets
    val transcripts = Synth.transcripts(spark, scfg).toDF
    val res = Dedup.run(spark, transcripts, cfg)
    val clusters = res.clusters.cache()
    clusters.count() // materialize -> accumulators final

    val cand = res.skew("candidates")
    assert(cand.oversizedBuckets.value > 0, "40-member boilerplate buckets must trip the cap")
    assert(cand.droppedPairs.value > 0, "cap must report dropped cross-chunk pairs")

    // despite dropped pairs, each boilerplate cluster must stay ONE component
    val truth = Synth.truth(spark, scfg).toDF
    val boiler = truth.where(col("variant") === "boilerplate")
    val comps = clusters.join(boiler, "conv_id")
      .groupBy(col("cluster_id")).agg(countDistinct(col("component")).as("c"))
    val split = comps.where(col("c") > 1).count()
    assert(split == 0, "hub chaining must keep capped buckets connected")

    // and overall recall vs the exact-Jaccard oracle still holds
    val oracle = Eval.bruteForceOracle(res.sigs.select(col("conv_id"), col("shingles")), cfg.threshold)
    val recall = Eval.pairRecall(spark, clusters, oracle)
    info(f"recall under cap=8: $recall%.4f")
    assert(recall >= 0.99)

    // the checkpointed path runs the same stage list: same cap counters, same
    // clusters (its candidates stage is a written table, so the counters are
    // final when run returns)
    val wh = java.nio.file.Files.createTempDirectory("graft-skew-wh").toString
    val ck = CheckpointedDedup.run(spark, transcripts, "skew", wh, cfg, verbose = false)
    val ckCand = ck.skew("candidates")
    assert(ckCand.oversizedBuckets.value > 0 && ckCand.droppedPairs.value > 0,
      "the checkpointed path must report the cap's counters")
    assert(ckCand.oversizedBuckets.value == cand.oversizedBuckets.value &&
      ckCand.droppedPairs.value == cand.droppedPairs.value,
      "checkpointed and cached runs must count the same capped buckets and dropped pairs")
    def labels(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(labels(ck.clusters) == labels(clusters), "checkpointed clusters must equal the cached run's")
  }

  test("a resumed checkpointed run reports the skew counters of the run that built candidates") {
    val scfg = Synth.Config(nClusters = 40, boilerClusters = 1, boilerSize = 30)
    val cfg = Dedup.Config(bucketCap = 8)
    val transcripts = Synth.transcripts(spark, scfg).toDF
    val wh = java.nio.file.Files.createTempDirectory("graft-skew-resume").toString
    def counters(r: Dedup.Result) = {
      val m = r.skew("candidates")
      (m.oversizedBuckets.value.longValue, m.droppedPairs.value.longValue)
    }
    val cold = counters(CheckpointedDedup.run(spark, transcripts, "skew", wh, cfg, verbose = false))
    assert(cold._1 > 0 && cold._2 > 0, s"the cold run must trip the cap: $cold")
    val manifest = java.nio.file.Paths.get(wh, "_manifest", "candidates.json")
    val built = java.nio.file.Files.getLastModifiedTime(manifest)
    // every stage is skipped on the rerun, candidates included
    val rerun = counters(CheckpointedDedup.run(spark, transcripts, "skew", wh, cfg, verbose = false))
    assert(java.nio.file.Files.getLastModifiedTime(manifest) == built, "the rerun must skip candidates")
    assert(rerun == cold, s"the all-skip rerun must report the cold run's counters: $rerun vs $cold")
  }

  test("embedding near-dup: one hot sign-LSH bucket stays bounded, recall preserved") {
    import spark.implicits._
    val dim = 8
    // 4000 identical vectors -> every table hashes them to ONE bucket: the
    // uncapped join would enumerate C(4000,2)*6 tables ~ 48M pairs; the capped
    // generator emits O(n*cap)
    val hotN = 4000
    val cap = 64
    val hot = (0 until hotN).map(i => (f"h$i%05d", Seq.fill(dim)(0.5f)))
    // plus genuinely distinct near-dup pairs the cap must not lose
    val base = (0 until 20).map { i =>
      val v = (0 until dim).map(d =>
        (java.lang.Long.remainderUnsigned(
          graft.functions.MinHashImpl.mix64(99L + i * 131L + d), 2000) / 1000.0 - 1.0).toFloat)
      (f"p$i%05d", v)
    }
    val dups = base.map { case (id, v) => (id + "_d", v.map(x => x + 0.003f)) }
    val corpus = (hot ++ base ++ dups).toDF("id", "vec")

    val m = Dedup.skewMetrics(spark, "ann")
    val pairs = graft.ops.Ann.nearDupPairs(
      corpus, dim, threshold = 0.999, bucketCap = cap, metrics = Some(m)).cache()
    val n = pairs.count()

    // bounded explosion: n*cap-ish within-chunk pairs + hub edges, per table,
    // never the ~48M of the quadratic join
    val bound = 6L * (hotN.toLong / cap + 1) * (cap.toLong * (cap - 1) / 2 + 1) + 100000
    assert(n < bound, s"pair count $n exceeds chunked bound $bound")
    assert(m.oversizedBuckets.value > 0, "hot bucket must trip the cap")
    assert(m.droppedPairs.value > 0, "cap must report dropped cross-chunk pairs")

    val found = pairs.select("id1", "id2").collect().map(r => (r.getString(0), r.getString(1))).toSet
    val hit = base.indices.count { i =>
      val p = (f"p$i%05d", f"p$i%05d_d"); found.contains(p) || found.contains(p.swap)
    }
    info(s"planted near-dup pairs found under hot-bucket cap: $hit/20; total pairs $n, " +
      s"oversized=${m.oversizedBuckets.value} dropped=${m.droppedPairs.value}")
    assert(hit >= 19, s"cap must not lose distinct planted pairs: $hit/20")
  }

  test("simhash near-dup pairs: capped hot chunk buckets cannot leak hub edges past the Hamming gate") {
    import spark.implicits._
    import graft.functions.{text => T, SimHash64}
    // The chunk chain's hub edges bypass the in-stream Hamming gate by
    // design (they exist to keep a capped bucket CONNECTED for the
    // clustering pipeline, which re-verifies candidates downstream); the
    // standalone pair operator has no downstream verify, so it must gate
    // them itself. Build the leak shape deliberately: two texts whose
    // fingerprints COLLIDE on one 16-bit chunk yet differ in > 3 bits
    // overall, with enough copies of one to trip the cap.
    val r = new scala.util.Random(13)
    val vocab = (0 until 500).map(i => s"t$i")
    val cand = (0 until 1500).map { i =>
      (i.toLong, Seq.fill(25)(vocab(r.nextInt(vocab.size))).mkString(" "))
    }
    val fps = cand.toDF("doc_id", "text")
      .select($"doc_id", SimHash64(T.tokenHashes(T.tokens($"text"))).as("sh"))
      .collect().map(row => (row.getLong(0), row.getLong(1)))
    def chunk(v: Long, c: Int): Long = (v >>> (c * 16)) & 0xffffL
    val collide = (for {
      (i1, s1) <- fps.iterator
      (i2, s2) <- fps.iterator
      if i1 < i2 && java.lang.Long.bitCount(s1 ^ s2) > 3 &&
        (0 until 4).exists(c => chunk(s1, c) == chunk(s2, c))
    } yield (i1, i2)).take(1).toList
    assert(collide.nonEmpty, "no single-chunk collision among 1500 random docs — widen the search")
    val (xi, yi) = collide.head
    // bucket for the colliding chunk = X + 8 copies of Y; X's id sorts
    // first, so with cap 4 the chain's first hub edge is (X, a Y copy) —
    // exactly the beyond-ball pair that must not reach the output
    val docs = (Seq((0L, cand(xi.toInt)._2)) ++
      (0 until 8).map(i => (1000L + i, cand(yi.toInt)._2))).toDF("doc_id", "text")
    val out = graft.ops.DocNearDup
      .simhashHammingPairs(docs, "doc_id", "text", maxHamming = 3, bucketCap = 4)
      .collect().map(row => (row.getLong(0), row.getLong(1), row.getInt(2)))
    assert(out.forall(_._3 <= 3),
      s"pairs beyond the Hamming ball leaked through a hub edge: ${out.filter(_._3 > 3).mkString(", ")}")
    assert(!out.exists(p => p._1 == 0L || p._2 == 0L),
      "X is beyond hamming 3 of every Y copy and must pair with none of them")
    assert(out.count(p => p._1 >= 1000L && p._2 >= 1000L) > 0,
      "the Y-copy ball itself must survive the gate")
  }
}
