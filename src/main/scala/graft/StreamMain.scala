package graft

import org.apache.spark.sql.SparkSession

import graft.Cols._
import graft.pipeline.Dedup
import graft.streaming.IncrementalDedup

/** spark-submit entry point for the INCREMENTAL pipeline — the operational
  * loop of an always-on ingest. Consumes everything currently in the input
  * directory as AvailableNow micro-batches into the persistent
  * shard-partitioned stores (resuming from the stream checkpoint on every
  * invocation), then optionally compacts the stores and refreshes the
  * clustering:
  *
  *   # cron / orchestrator loop:
  *   graft.StreamMain --in transcripts_dir --stores /warehouse/dedup \
  *     [--assemble-gap 1800] [--compact true] [--out clusters_dir]
  *
  * Usage:
  *   graft.StreamMain --in DIR --stores DIR
  *     [--out DIR]           write the refreshed clustering as parquet
  *     [--cores N]           local parallelism (default SPARK_GRAFT_CPUS or 8)
  *     [--threshold T]       exact-Jaccard accept threshold (default 0.70)
  *     [--max-files N]       files per micro-batch (default 4)
  *     [--assemble-gap SEC]  front the pipeline with ConvAssembly: files may
  *                           split conversations; turns buffer in keyed state
  *                           until the watermark proves each conv complete
  *     [--assemble-delay D]  assembly watermark delay (default "1 hour")
  *     [--compact true]      compact the stores after the ingest pass
  *
  * Prints ONE JSON metrics line: accumulated conversations/pairs in the
  * stores, component count of the refreshed clustering, and wall seconds.
  */
object StreamMain {
  def main(args: Array[String]): Unit = {
    val opts = Args.parse(args)
    def req(k: String): String = opts.getOrElse(
      k,
      sys.error(s"--$k is required (usage: --in DIR --stores DIR [--out DIR] " +
        "[--cores N] [--threshold T] [--max-files N] [--assemble-gap SEC] " +
        "[--assemble-delay D] [--compact true])")
    )
    val inDir = req("in")
    val storesDir = req("stores")
    val cores = opts.get("cores").map(_.toInt)
      .getOrElse(sys.env.getOrElse("SPARK_GRAFT_CPUS", "8").toInt)
    val spark = Sessions.local(cores, "graft-stream")
    val cfg = Dedup.Config(threshold = opts.get("threshold").map(_.toDouble).getOrElse(0.70))
    val stores = IncrementalDedup.Stores(s"$storesDir/sigs", s"$storesDir/pairs")

    // smoke/demo seeding: write the deterministic synthetic corpus to an
    // input directory that holds no parquet yet, in 8 files, so one
    // self-contained invocation exercises ingest -> stores -> clustering over
    // two micro-batches (mirrors PipelineMain); a rerun reads what is there.
    // Files are split BY CONVERSATION — the plain ingest contract; a
    // row-shuffled split would feed partial conversations (use
    // --assemble-gap for ingests shaped like that)
    opts.get("synth-clusters").map(_.toInt).filterNot(_ => hasParquet(spark, inDir)).foreach { n =>
      graft.synth.Synth.transcripts(spark, graft.synth.Synth.Config(nClusters = n))
        .toDF()
        .repartition(8, $"conv_id")
        .write.mode("append").parquet(inDir)
    }

    val t0 = System.nanoTime()
    IncrementalDedup.runAvailableNow(
      spark, inDir, stores, cfg,
      maxFilesPerTrigger = opts.get("max-files").map(_.toInt).getOrElse(4),
      assembleIdleGapSec = opts.get("assemble-gap").map(_.toLong),
      assembleWatermarkDelay = opts.getOrElse("assemble-delay", "1 hour")
    )
    if (opts.get("compact").contains("true"))
      IncrementalDedup.compactStores(spark, stores)

    val clusters = IncrementalDedup.clusterNow(spark, stores).cache()
    val nConvs = clusters.count()
    val nComponents = clusters.select($"component").distinct().count()
    val nPairs =
      if (IncrementalDedup.storeExists(spark, stores.pairStore))
        spark.read.parquet(stores.pairStore).select($"id1", $"id2").distinct().count()
      else 0L
    opts.get("out").foreach(o => clusters.write.mode("overwrite").parquet(o))

    val wall = (System.nanoTime() - t0) / 1e9
    println(
      f"""{"convs":$nConvs,"dup_pairs":$nPairs,"components":$nComponents,""" +
        f""""wall_sec":$wall%.2f,"stores":"$storesDir"}"""
    )
    spark.stop()
  }

  private def hasParquet(spark: SparkSession, dir: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    fs.exists(p) && fs.listStatus(p).exists(_.getPath.getName.endsWith(".parquet"))
  }
}
