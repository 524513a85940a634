package graft

import org.apache.spark.sql.DataFrame

import graft.pipeline.{Dedup, Eval}
import graft.synth.Synth

/** spark-submit entry point for the near-dup pipeline over a transcripts
  * table: reads parquet transcripts (or synthesizes the deterministic corpus
  * with --synth-clusters), runs assemble -> shingle -> MinHash/LSH + SimHash +
  * substring-anchor candidates -> exact-Jaccard verify -> connected
  * components, writes clusters + verified pairs as parquet, prints one JSON
  * metrics line.
  *
  * Usage:
  *   graft.PipelineMain --out DIR [--input transcripts.parquet]
  *     [--synth-clusters N] [--cores N] [--threshold T] [--eval true]
  *     [--warehouse DIR]   checkpointed stages w/ resume (Checkpoint.scala)
  *     [--refine true]     per-block likelihood-cut refinement
  *     [--profile true]    per-stage (docs/sigs/candidates/pairs/clusters) wall/cpu/gc
  *     [--package F.zip]   zip the final clusters as result.json (S9)
  */
object PipelineMain {
  def main(args: Array[String]): Unit = {
    val opts = Args.parse(args)
    val out = opts.getOrElse(
      "out",
      sys.error("--out DIR is required (also: --input PARQUET | --synth-clusters N, " +
        "--cores N, --threshold T, --eval true, --warehouse DIR, --refine true, --profile true)")
    )
    val cores = opts.get("cores").map(_.toInt).getOrElse(sys.env.getOrElse("SPARK_GRAFT_CPUS", "8").toInt)
    val spark = Sessions.local(cores, "graft-pipeline")
    val cfg = Dedup.Config(threshold = opts.get("threshold").map(_.toDouble).getOrElse(0.70))

    val scfg = Synth.Config(nClusters = opts.get("synth-clusters").map(_.toInt).getOrElse(2000))
    val transcripts = opts.get("input") match {
      case Some(path) => spark.read.parquet(path)
      case None       => Synth.transcripts(spark, scfg).toDF
    }

    val profile = opts.get("profile").contains("true")
    val metrics = TaskMetrics.attach(spark)
    def timed[A](name: String)(f: => A): A = {
      val s0 = System.nanoTime()
      val m0 = metrics.totals
      val r = f
      if (profile) {
        val d = metrics.totals - m0
        println(f"[stage] $name%-12s ${(System.nanoTime() - s0) / 1e9}%8.2f s wall  " +
          f"${d.runS}%8.1f task-s  ${d.cpuS}%8.1f cpu-s  ${d.gcS}%6.1f gc-s")
      }
      r
    }

    val t0 = System.nanoTime()
    val nTurns = transcripts.count()
    val res =
      if (opts.contains("warehouse")) {
        val inputFp = opts.get("input") match {
          case Some(p) => graft.pipeline.TableIO.pathFingerprint(p)
          case None    => s"synth:${scfg.toString}"
        }
        graft.pipeline.CheckpointedDedup.run(spark, transcripts, inputFp, opts("warehouse"), cfg)
      } else if (!profile) Dedup.run(spark, transcripts, cfg)
      else
        // cache and count each stage, so each stage's line holds its own work
        Dedup.stages(spark, transcripts, cfg, new Dedup.StageBoundary {
          def stage(name: String, config: String, upstream: Seq[String],
              counters: Seq[org.apache.spark.util.LongAccumulator])(build: => DataFrame): DataFrame =
            timed(name) { val df = build.cache(); df.count(); df }
        })
    // optional likelihood-cut refinement of the CC clustering
    // (MT_Kruskal.R/likelihood.R parity path)
    val finalClusters =
      if (opts.get("refine").contains("true"))
        graft.plans.BlockClustering.refine(spark, res.clusters, res.pairs)
      else res.clusters
    timed("write") {
      finalClusters.write.mode("overwrite").parquet(s"$out/clusters")
      res.pairs.write.mode("overwrite").parquet(s"$out/pairs")
    }
    // optional submission artifact (S9 parity: zip -9 of result.json)
    opts.get("package").foreach { zip =>
      graft.pipeline.TableIO.packageZip(finalClusters, zip)
      println(s"[package] $zip")
    }
    val wall = (System.nanoTime() - t0) / 1e9

    val clusters = spark.read.parquet(s"$out/clusters")
    val nConvs = clusters.count()
    val nDupPairs = spark.read.parquet(s"$out/pairs").count()
    val nComponents = clusters.select("component").distinct().count()

    val evalJson =
      if (opts.get("eval").contains("true") && opts.get("input").isEmpty) {
        val s = Eval.pairwise(spark, clusters, Synth.truth(spark, scfg).toDF)
        f""","planted_precision":${s.precision}%.4f,"planted_recall":${s.recall}%.4f,"planted_f1":${s.f1}%.4f"""
      } else ""

    // skew-cap accounting (accumulators are final once the actions above ran)
    res.skew.foreach { case (pass, m) =>
      if (m.oversizedBuckets.value > 0)
        println(s"[skew] $pass: ${m.oversizedBuckets.value} oversized buckets, " +
          s"${m.droppedPairs.value} cross-chunk pairs dropped (hub-chained)")
    }

    val tm = metrics.totals
    println(
      f"""{"turns":$nTurns,"convs":$nConvs,"dup_pairs":$nDupPairs,"components":$nComponents,""" +
        f""""wall_sec":$wall%.2f,"turns_per_sec":${nTurns / wall}%.1f,""" +
        f""""task_sec":${tm.runS}%.1f,"gc_sec":${tm.gcS}%.1f,"cpu_sec":${tm.cpuS}%.1f,""" +
        f""""n_tasks":${tm.tasks},"busy_frac":${tm.runS / (wall * cores)}%.3f$evalJson}"""
    )
    spark.stop()
  }
}
