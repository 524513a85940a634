package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.pipeline.{Dedup, Eval}
import graft.synth.Synth

/** End-to-end pipeline correctness on the deterministic synthetic corpus:
  * the north_rule recall gate (>=0.99 dup-pair recall vs the brute-force
  * exact-Jaccard oracle at identical shingle/signature config) plus planted-
  * truth quality — the Spark analogue of evaluate.py vs assignment_*.json.
  */
class DedupPipelineSpec extends AnyFunSuite {
  lazy val spark: SparkSession = Sessions.local(4, "dedup-spec")

  val cfg = Dedup.Config()
  val scfg = Synth.Config(nClusters = 300, boilerClusters = 2, boilerSize = 30)

  lazy val transcripts = Synth.transcripts(spark, scfg).toDF.cache()
  lazy val truth = Synth.truth(spark, scfg).toDF.cache()
  lazy val result = Dedup.run(spark, transcripts, cfg)
  lazy val clusters = result.clusters.cache()

  test("a negative SimHash Hamming bound is refused") {
    // the one SimHash gate passes the payload-0 LSH/anchor rows only under
    // a bound >= 0
    val e = intercept[IllegalArgumentException](Dedup.Config(simhashMaxHamming = -1))
    assert(e.getMessage.contains("simhashMaxHamming"))
    assert(Dedup.Config(simhashMaxHamming = 0).simhashMaxHamming == 0)
  }

  test("synthetic corpus is deterministic and non-trivial") {
    val n = transcripts.count()
    assert(n > 1000, s"expected >1000 turns, got $n")
    val n2 = Synth.transcripts(spark, scfg).toDF.count()
    assert(n == n2)
    // identical content under different partitioning (pure-function generation)
    val h1 = transcripts.agg(bit_xor(xxhash64(col("conv_id"), col("turn_idx"), col("text")))).first().getLong(0)
    val h2 = Synth.transcripts(spark, scfg.copy()).toDF.repartition(13)
      .agg(bit_xor(xxhash64(col("conv_id"), col("turn_idx"), col("text")))).first().getLong(0)
    assert(h1 == h2)
  }

  test("per-turn text equality under stable turn ordering (input_hint invariant)") {
    // assembling from a shuffled row order must give identical docs
    val docs1 = Dedup.assemble(transcripts).select("conv_id", "doc")
    val docs2 = Dedup.assemble(transcripts.repartition(17).sortWithinPartitions(desc("ts")))
      .select("conv_id", "doc")
    assert(docs1.exceptAll(docs2).isEmpty && docs2.exceptAll(docs1).isEmpty)
    // doc contains every turn's text
    val turnsJoined = transcripts
      .join(docs1, "conv_id")
      .where(!col("doc").contains(col("text")))
      .count()
    assert(turnsJoined == 0, "every turn text must appear in its assembled doc")
  }

  test("dup-pair recall >= 0.99 vs brute-force exact-Jaccard oracle (north_rule gate)") {
    val shingled = result.sigs.select("conv_id", "shingles")
    val oracle = Eval.bruteForceOracle(shingled, cfg.threshold).cache()
    val nOracle = oracle.count()
    assert(nOracle > 100, s"oracle should find plenty of dup pairs, got $nOracle")
    val recall = Eval.pairRecall(spark, clusters, oracle)
    info(f"oracle pairs: $nOracle, pipeline dup-pair recall: $recall%.4f")
    assert(recall >= 0.99, f"recall $recall%.4f < 0.99")
  }

  test("planted-truth pairwise precision/recall are high") {
    val s = Eval.pairwise(spark, clusters, truth.select(col("conv_id"), col("cluster_id")))
    info(f"planted truth: P=${s.precision}%.4f R=${s.recall}%.4f F1=${s.f1}%.4f " +
      s"(tp=${s.tp} truthPairs=${s.truthPairs} predPairs=${s.predPairs})")
    assert(s.recall >= 0.95, f"planted recall ${s.recall}%.4f")
    assert(s.precision >= 0.95, f"planted precision ${s.precision}%.4f")
  }

  test("likelihood-cut refinement preserves planted-truth quality") {
    val refined = graft.plans.BlockClustering.refine(spark, clusters, result.pairs)
    assert(refined.count() == clusters.count(), "refinement must keep every conversation")
    val s = Eval.pairwise(spark, refined, truth.select(col("conv_id"), col("cluster_id")))
    info(f"refined: P=${s.precision}%.4f R=${s.recall}%.4f F1=${s.f1}%.4f")
    assert(s.precision >= 0.95 && s.recall >= 0.93, s"refined P=${s.precision} R=${s.recall}")
  }

  test("messy input rows (null conv_id/text/tool, duplicate turn_idx) don't break the pipeline") {
    import spark.implicits._
    val messy = Seq(
      (null.asInstanceOf[String], 0, "user", "orphan text", null.asInstanceOf[String]),
      ("m1", 0, "user", null.asInstanceOf[String], null.asInstanceOf[String]), // null text
      ("m1", 1, "assistant", "hello there world again", "search"),
      ("m1", 1, "assistant", "duplicate index row", null.asInstanceOf[String]), // dup turn_idx
      ("m2", 0, "user", "", null.asInstanceOf[String]) // empty text only
    ).toDF("conv_id", "turn_idx", "role", "text", "tool")
      .withColumn("ts", lit("2026-01-01 00:00:00").cast("timestamp"))
    val res = Dedup.run(spark, messy, cfg)
    val out = res.clusters.collect().map(r => r.getString(0)).toSet
    assert(out == Set("m1", "m2"), s"null conv_id dropped, all others clustered: $out")
  }

  test("shuffle_ws variants are byte-identical after normalization (exact dups)") {
    val ws = truth.where(col("variant") === "shuffle_ws")
      .groupBy(col("cluster_id")).agg(count(lit(1)).as("n")).where(col("n") > 1)
    if (ws.count() > 0) {
      // every shuffle_ws cluster must be perfectly recovered: normalized docs equal
      val ids = truth.where(col("variant") === "shuffle_ws").select("conv_id", "cluster_id")
      val docs = Dedup.assemble(transcripts)
        .join(ids, "conv_id")
        .select(col("cluster_id"), graft.functions.text.normalize(col("doc")).as("norm"))
      val distinctPerCluster = docs.groupBy("cluster_id")
        .agg(countDistinct("norm").as("d")).where(col("d") > 1).count()
      assert(distinctPerCluster == 0)
    }
  }

  test("P6 normalization is FUSED into the shingle pass: case/punctuation variants " +
    "pair at jaccard 1.0 by default (venue_author_preprocess.R:18-39 semantics)") {
    import spark.implicits._
    // two convs identical up to case + punctuation, one unrelated
    def turns(cid: String, f: String => String) = (0 until 5).map { i =>
      (cid, i, f(s"The Quick, Brown Fox! Jumps Over The LAZY Dog; segment $i ends here with flair"))
    }
    val rows = turns("vA", identity) ++
      turns("vB", s => s.toLowerCase.replaceAll("[,!;]", "")) ++
      turns("vC", _ => "completely unrelated content about submarines and citrus farming at dawn")
    val df = rows.toDF("conv_id", "turn_idx", "text")

    val r = Dedup.run(spark, df, cfg)
    // ShingleHashes lowercases and treats non-alphanumeric runs as the token
    // delimiter inside its one fused char pass, so the pipeline needs no
    // separate normalize stage -- the variants' shingle SETS are identical
    val ab = r.pairs.where(col("id1") === "vA" && col("id2") === "vB").collect()
    assert(ab.length == 1 && ab(0).getAs[Double]("jaccard") == 1.0,
      s"case/punct variants must pair at jaccard 1.0 by default, got ${ab.toSeq}")
    // and fused normalization is exactly T.normalize-then-shingle: same sets
    val viaT = Dedup.shingle(
      Dedup.assemble(df).withColumn("doc", graft.functions.text.normalize(col("doc"))), cfg)
      .select(col("conv_id"), col("shingles"))
    val direct = Dedup.shingle(Dedup.assemble(df), cfg).select(col("conv_id"), col("shingles"))
    assert(direct.exceptAll(viaT).count() == 0 && viaT.exceptAll(direct).count() == 0)
    // the unrelated conv stays out of the variants' cluster
    val comps = r.clusters.collect().map(x => x.getString(0) -> x.getString(1)).toMap
    assert(comps("vA") == comps("vB") && comps("vC") != comps("vA"))
  }
}
