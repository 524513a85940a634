package graftbench

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.pipeline.{Dedup, StageRunner, TableIO}
import graft.plans.ConnectedComponents
import graft.synth.Synth

/** One closed-loop op: the calls a workload makes, each starting when the
  * previous one has returned. `spans` are its top-level spans; their walls
  * add up to the op's wall.
  * `sameAs` lists other answers computed inside the op, as (label, hash),
  * that must equal the op's answer. `layers` holds a traced op's per-layer
  * metrics.
  */
final case class Op(
    spans: Seq[Span],
    answer: Answer,
    sameAs: Seq[(String, String)],
    layers: Map[String, Double],
    cleanup: () => Unit) {
  def wallS: Double = spans.map(_.wallS).sum
}

object Workloads {
  val cfg: Dedup.Config = Dedup.Config()

  val all: Seq[Workload] = Seq(BatchPlanted, BatchSkewed)
  def apply(name: String): Workload =
    all.find(_.name == name).getOrElse(sys.error(s"unknown workload '$name' (one of ${all.map(_.name).mkString(", ")})"))

  def noop(df: DataFrame): Unit = df.write.mode("overwrite").format("noop").save()

  private val mb = 1024.0 * 1024.0

  /** The seven per-stage metrics every dedup layer reports. */
  def stageMetrics(layer: String, s: Span, rowsOut: Long): Map[String, Double] = Map(
    s"$layer.wall_s" -> s.wallS,
    s"$layer.cpu_s" -> s.own.cpuS,
    s"$layer.gc_s" -> s.own.gcS,
    s"$layer.shuffle_read_mb" -> s.own.shuffleReadBytes / mb,
    s"$layer.shuffle_write_mb" -> s.own.shuffleWriteBytes / mb,
    s"$layer.spill_mb" -> s.own.spillBytes / mb,
    s"$layer.rows_out" -> rowsOut.toDouble)

  def mbOf(bytes: Long): Double = bytes / mb

  /** Candidate-layer ratios and skew counters. */
  def candidateMetrics(rows: Long, distinct: Long, verified: Long, skew: Dedup.SkewMetrics): Map[String, Double] = Map(
    "dedup.candidates.rows_distinct" -> distinct.toDouble,
    "dedup.candidates.dup_ratio" -> (if (distinct == 0) 0.0 else rows.toDouble / distinct),
    "dedup.candidates.oversized_buckets" -> skew.oversizedBuckets.value.toDouble,
    "dedup.candidates.dropped_pairs" -> skew.droppedPairs.value.toDouble,
    "dedup.verify.yield" -> (if (distinct == 0) 0.0 else verified.toDouble / distinct))
}

import Workloads._

/** A workload: a seeded synthetic corpus through `Dedup.run`, with noop
  * sinks for clusters and pairs. A traced op runs the same stages one by
  * one instead (`StageSequence.traced`).
  */
abstract class Workload {
  def name: String
  def synth(seed: Long): Synth.Config
  /** Nominal wall of one warm op on a 4-vCPU VM; sets how many ops a run times. */
  def opSeconds: Double

  def corpus(spark: SparkSession, root: String, seed: Long): Corpus =
    Corpus.materialize(spark, root, name, synth(seed))

  /** `work` is a scratch dir the op may wipe and fill. */
  def run(spark: SparkSession, t: Tracer, c: Corpus, work: String, traced: Boolean): Op = {
    val turns = spark.read.parquet(c.turns)
    if (!traced) {
      val (r, s) = t.span("batch.run") {
        val r = Dedup.run(spark, turns, cfg)
        noop(r.clusters)
        noop(r.pairs)
        r
      }
      Op(Seq(s), Answer(r.clusters, r.pairs), Nil, Map.empty,
        () => { r.sigs.unpersist(); r.pairs.unpersist() })
    } else {
      val (r, spans, layers, cached) = StageSequence.traced(spark, t, turns, cfg)
      Op(spans, Answer(r.clusters, r.pairs), Nil, layers, () => cached.foreach(_.unpersist()))
    }
  }
}

/** The headline shape: the default Synth mix (70% unique conversations, dup
  * clusters of 2-5, two 60-member boilerplate clusters). Signatures and
  * candidates do most of the work; CC takes the driver union-find path.
  */
object BatchPlanted extends Workload {
  val name = "batch_planted"
  def synth(seed: Long): Synth.Config = Synth.Config(nClusters = 3000, seed = seed)
  val opSeconds = 2.0
}

/** A dup-heavy corpus whose boilerplate clusters are larger than
  * `bucketCap`, so the skew cap drops pairs and verify carries real load.
  *
  * A traced op also runs the checkpointed `--warehouse` path over the same
  * corpus (`StageSequence.checkpointed`, the stage list of
  * `CheckpointedDedup.run`) into a fresh warehouse, then deletes the last
  * two stages' manifests and resumes. Both answers must equal the cached
  * run's. Untraced ops leave the checkpointed path out: each of its stages
  * with a shuffle waits a fixed ~10 s (see README), ~70 s per cold run plus
  * resume, which the run budget cannot carry on every run.
  */
object BatchSkewed extends Workload {
  val name = "batch_skewed"
  def synth(seed: Long): Synth.Config =
    Synth.Config(nClusters = 1000, seed = seed, boilerClusters = 1, boilerSize = 300, uniqueFrac = 0.3)
  val opSeconds = 3.0

  private val stages = Seq("docs", "sigs", "candidates", "pairs", "clusters")
  private val resumed = Seq("pairs", "clusters")

  override def run(spark: SparkSession, t: Tracer, c: Corpus, work: String, traced: Boolean): Op = {
    val op = super.run(spark, t, c, work, traced)
    if (!traced) op
    else {
      val wh = s"$work/warehouse"
      Corpus.deleteTree(wh)
      val turns = spark.read.parquet(c.turns)
      val fp = TableIO.pathFingerprint(c.turns)
      val ((cold, _), sCold) = t.span("checkpoint.cold")(
        StageSequence.checkpointed(spark, t, turns, fp, wh, cfg, s => s"checkpoint.$s"))
      val coldHash = Checks.answerHash(Answer(cold.clusters, cold.pairs))
      val manifests = stages.map(s => new String(Files.readAllBytes(Paths.get(s"$wh/_manifest/$s.json"))))
      def sumOf(field: String): Long =
        manifests.flatMap(m => s""""$field":(\\d+)""".r.findAllMatchIn(m).map(_.group(1).toLong)).sum
      resumed.foreach(s => Files.delete(Paths.get(s"$wh/_manifest/$s.json")))
      val ((res, resumeSpans), sRes) = t.span("checkpoint.resume")(
        StageSequence.checkpointed(spark, t, turns, fp, wh, cfg, s => s"resume.$s"))
      val resHash = Checks.answerHash(Answer(res.clusters, res.pairs))
      op.copy(
        spans = op.spans ++ Seq(sCold, sRes),
        sameAs = Seq("checkpointed cold run" -> coldHash, "resumed checkpointed run" -> resHash),
        layers = op.layers ++ Map(
          "checkpoint.cold_s" -> sCold.wallS,
          "checkpoint.write_s" -> sumOf("wall_ms") / 1e3,
          "checkpoint.write_mb" -> mbOf(sumOf("bytes")),
          "checkpoint.skip_s" -> resumeSpans.collect { case (s, sp) if !resumed.contains(s) => sp.wallS }.sum,
          "checkpoint.resume_s" -> sRes.wallS))
    }
  }
}

/** The bench's stage-by-stage dedup sequence: each `Dedup` stage is cached
  * and counted inside its own span, so every stage's wall and task metrics
  * are its own. StageSequenceSpec pins its answer to `Dedup.run`'s and
  * `CheckpointedDedup.run`'s.
  */
object StageSequence {
  def traced(spark: SparkSession, t: Tracer, turns: DataFrame, cfg: Dedup.Config)
      : (Dedup.Result, Seq[Span], Map[String, Double], Seq[DataFrame]) = {
    def stage(layer: String)(df: => DataFrame): (DataFrame, Span, Long) = {
      val ((d, n), s) = t.span(layer) { val d = df.cache(); (d, d.count()) }
      (d, s, n)
    }
    val (shingled, sSh, nDocs) = stage("dedup.shingle")(Dedup.shingle(Dedup.assemble(turns), cfg))
    val (sigs, sSig, nSigs) = stage("dedup.signatures")(Dedup.signatures(shingled, cfg))
    shingled.unpersist()
    val skew = Dedup.skewMetrics(spark, "candidates")
    val (cands, sCand, nCands) = stage("dedup.candidates")(Dedup.candidates(sigs, cfg, Some(skew)))
    val (pairs, sVer, nPairs) = stage("dedup.verify")(Dedup.verify(cands, sigs, cfg))
    val (clusters, sCl, nCl) = stage("dedup.cluster")(Dedup.cluster(spark, sigs, pairs))
    val (_, sSink) = t.span("dedup.sink") { noop(clusters); noop(pairs) }
    val nDistinct = cands.distinct().count()
    val layers =
      stageMetrics("dedup.shingle", sSh, nDocs) ++ stageMetrics("dedup.signatures", sSig, nSigs) ++
        stageMetrics("dedup.candidates", sCand, nCands) ++ stageMetrics("dedup.verify", sVer, nPairs) ++
        stageMetrics("dedup.cluster", sCl, nCl) ++
        candidateMetrics(nCands, nDistinct, nPairs, skew) ++ Map(
          "dedup.sink.wall_s" -> sSink.wallS,
          "dedup.cluster.edges_in" -> nPairs.toDouble,
          "dedup.cluster.jobs" -> sCl.own.jobs.toDouble)
    (Dedup.Result(shingled, sigs, pairs, clusters, Map("candidates" -> skew)),
      Seq(sSh, sSig, sCand, sVer, sCl, sSink), layers, Seq(sigs, cands, pairs, clusters))
  }

  /** The checkpointed stage list of `CheckpointedDedup.run`, one span per
    * `StageRunner.stage` call; `spanOf` names the span of each stage.
    */
  def checkpointed(
      spark: SparkSession, t: Tracer, turns: DataFrame, inputFp: String, warehouse: String,
      cfg: Dedup.Config, spanOf: String => String): (Dedup.Result, Map[String, Span]) = {
    val r = new StageRunner(spark, warehouse, verbose = false)
    val cfgStr = cfg.toString
    val spans = scala.collection.mutable.LinkedHashMap[String, Span]()
    def stage(name: String, config: String, upstream: Seq[String] = Nil)(build: => DataFrame): DataFrame = {
      val (df, s) = t.span(spanOf(name))(r.stage(name, config, upstream)(build))
      spans(name) = s
      df
    }
    val docs = stage("docs", s"assemble|$cfgStr|$inputFp")(Dedup.assemble(turns))
    val sigs = stage("sigs", s"signatures|$cfgStr", Seq("docs"))(Dedup.signatures(Dedup.shingle(docs, cfg), cfg))
    val cands = stage("candidates", s"candidates|$cfgStr", Seq("sigs"))(Dedup.candidates(sigs, cfg))
    val pairs = stage("pairs", s"verify|$cfgStr", Seq("candidates", "sigs"))(Dedup.verify(cands, sigs, cfg))
    val clusters = stage("clusters", s"cluster|$cfgStr", Seq("pairs", "sigs"))(
      Dedup.cluster(spark, sigs, pairs, ccCheckpointDir = Some(s"$warehouse/_cc_checkpoint")))
    ConnectedComponents.cleanCheckpoints(spark, s"$warehouse/_cc_checkpoint")
    (Dedup.Result(docs, sigs, pairs, clusters), spans.toMap)
  }
}
