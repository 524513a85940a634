package graftbench

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.Sessions
import graft.pipeline.{CheckpointedDedup, Dedup, TableIO}
import graft.synth.Synth

/** The benchmark's traced runs call the dedup stages one by one instead of
  * through `Dedup.run` or `CheckpointedDedup.run`. This pins both of its
  * stage sequences to the answers of those two entry points, so the
  * benchmark cannot drift into measuring a pipeline the program does not run.
  */
class StageSequenceSpec extends AnyFunSuite {

  test("traced stage sequences give the same answer hash as Dedup.run and CheckpointedDedup.run") {
    val spark = Sessions.local(2, "perfbench-spec")
    val dir = Files.createTempDirectory("perfbench-spec").toString
    try {
      // one boilerplate cluster larger than bucketCap, so the skew cap drops pairs
      val synth = Synth.Config(nClusters = 200, boilerClusters = 1, boilerSize = 300)
      Synth.transcripts(spark, synth).write.parquet(s"$dir/turns")
      val turns = spark.read.parquet(s"$dir/turns")
      val fp = TableIO.pathFingerprint(s"$dir/turns")
      val cfg = Dedup.Config()
      val t = new Tracer(spark.sparkContext)

      val ref = Dedup.run(spark, turns, cfg)
      val want = Checks.answerHash(Answer(ref.clusters, ref.pairs))
      val ckpt = CheckpointedDedup.run(spark, turns, fp, s"$dir/wh-ref", cfg, verbose = false)
      assert(Checks.answerHash(Answer(ckpt.clusters, ckpt.pairs)) == want)

      val (staged, _, layers, _) = StageSequence.traced(spark, t, turns, cfg)
      assert(Checks.answerHash(Answer(staged.clusters, staged.pairs)) == want)
      assert(layers("dedup.cluster.edges_in") == ref.pairs.count().toDouble)
      assert(layers("dedup.candidates.dropped_pairs") > 0)

      val (checkpointed, spans) = StageSequence.checkpointed(spark, t, turns, fp, s"$dir/wh-traced", cfg, identity)
      assert(Checks.answerHash(Answer(checkpointed.clusters, checkpointed.pairs)) == want)
      assert(spans.keySet == Set("docs", "sigs", "candidates", "pairs", "clusters"))
    } finally {
      spark.stop()
      Corpus.deleteTree(dir)
    }
  }
}
