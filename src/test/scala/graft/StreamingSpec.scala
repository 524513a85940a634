package graft

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.pipeline.{Dedup, Eval}
import graft.streaming.{EventStreams, IncrementalDedup}
import graft.synth.Synth

/** Incremental (Structured Streaming, AvailableNow) pipeline equivalence:
  * streaming the corpus in micro-batches must find the same dup pairs as the
  * batch pipeline, including pairs that SPAN batches.
  */
class StreamingSpec extends AnyFunSuite {
  lazy val spark = Sessions.local(4, "streaming-spec")

  test("AvailableNow incremental dedup matches batch pipeline pairs") {
    val scfg = Synth.Config(nClusters = 100, boilerClusters = 1, boilerSize = 8)
    val cfg = Dedup.Config()
    val transcripts = Synth.transcripts(spark, scfg).toDF.cache()

    // batch reference answer
    val batchPairs = Dedup.run(spark, transcripts, cfg).pairs
      .select(col("id1"), col("id2")).cache()
    val nBatch = batchPairs.count()
    assert(nBatch > 50)

    // write input split into several files so AvailableNow produces multiple
    // micro-batches; split BY CONVERSATION (append-only conv-complete)
    val tmp = Files.createTempDirectory("graft-stream").toString
    val inDir = s"$tmp/in"
    transcripts
      .withColumn("part", pmod(xxhash64(col("conv_id")), lit(8)))
      .repartition(8, col("part"))
      .drop("part")
      .write.parquet(inDir)

    val stores = IncrementalDedup.Stores(s"$tmp/sigs", s"$tmp/pairs")
    IncrementalDedup.runAvailableNow(spark, inDir, stores, cfg, maxFilesPerTrigger = 2)

    val streamPairs = spark.read.parquet(stores.pairStore)
      .select(col("id1"), col("id2")).distinct().cache()
    val nStream = streamPairs.count()
    val missing = batchPairs.exceptAll(streamPairs).count()
    val extra = streamPairs.exceptAll(batchPairs).count()
    info(s"batch pairs: $nBatch, stream pairs: $nStream, missing: $missing, extra: $extra")
    // all three candidate passes (LSH, SimHash, substring anchors) run
    // incrementally against the bucket store: parity must be EXACT — the
    // verify stage is identical, so any delta is a candidate-generation bug
    assert(extra == 0, s"stream must not invent pairs: $extra extra")
    assert(missing == 0, s"missing $missing of $nBatch batch pairs")

    // clustering over accumulated pairs covers all convs
    val clusters = IncrementalDedup.clusterNow(spark, stores)
    assert(clusters.count() == transcripts.select("conv_id").distinct().count())
  }

  test("ConvAssembly: a conversation split across files is released complete, " +
    "exactly once; post-close stragglers are counted and dropped") {
    import spark.implicits._
    val t0 = 1700000000000L
    val h = 3600 * 1000L
    def row(c: String, i: Int, off: Long) =
      (c, i, "user", s"text $c $i", null: String, new java.sql.Timestamp(t0 + off))
    val cols = Seq("conv_id", "turn_idx", "role", "text", "tool", "ts")
    val tmp = Files.createTempDirectory("graft-asm").toString
    val dropped = spark.sparkContext.longAccumulator("dropped_late_turns")
    def runOnce(): Unit = {
      val stream = spark.readStream
        .schema(Seq(row("s", 0, 0)).toDF(cols: _*).schema)
        .option("maxFilesPerTrigger", 1).parquet(s"$tmp/in")
      val q = graft.streaming.ConvAssembly
        .completeConversations(stream, idleGapSec = 300, watermarkDelay = "1 hour",
          droppedLateTurns = Some(dropped))
        .writeStream.format("parquet")
        .option("path", s"$tmp/out").option("checkpointLocation", s"$tmp/ck")
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      q.awaitTermination(120000)
    }
    def write(rows: Seq[(String, Int, String, String, String, java.sql.Timestamp)]): Unit =
      rows.toDF(cols: _*).coalesce(1).write.mode("append").parquet(s"$tmp/in")

    // x's four turns arrive in TWO files; y is single-turn
    write(Seq(row("x", 0, 0), row("x", 1, 60000), row("y", 0, 0)))
    write(Seq(row("x", 2, 120000), row("x", 3, 180000)))
    runOnce()
    // nothing may release before the watermark proves completeness (an
    // uncommitted streaming sink may not even infer a schema yet)
    val preRelease = scala.util.Try(
      spark.read.parquet(s"$tmp/out").where(col("conv_id").isin("x", "y")).count()
    ).getOrElse(0L)
    assert(preRelease == 0, s"released $preRelease rows before the watermark proved completeness")

    write(Seq(row("zz_flush", 0, 100 * h))) // watermark -> t0 + 99h
    runOnce()
    val afterFlush = spark.read.parquet(s"$tmp/out")
      .as[graft.synth.Turn].collect().filter(t => t.conv_id == "x" || t.conv_id == "y")
    assert(afterFlush.count(_.conv_id == "x") == 4 &&
      afterFlush.count(_.conv_id == "y") == 1,
      s"complete release expected, got ${afterFlush.toSeq}")
    assert(afterFlush.filter(_.conv_id == "x").map(t => (t.turn_idx, t.text)).sorted.toSeq ==
      (0 to 3).map(i => (i, s"text x $i")))

    // a straggler INSIDE the watermark horizon but after x closed: dropped +
    // counted, never re-emitted as a duplicate partial conversation
    write(Seq(row("x", 9, (99 * 3600 + 1800) * 1000L)))
    write(Seq(row("zz_flush2", 0, 200 * h)))
    runOnce()
    val finalX = spark.read.parquet(s"$tmp/out").where(col("conv_id") === "x").count()
    assert(finalX == 4, s"straggler must not re-emit x (got $finalX rows)")
    assert(dropped.value == 1, s"dropped-late accumulator: ${dropped.value}")

    // batch parity: a static frame is complete by definition
    val statics = Seq(row("b1", 0, 0), row("b1", 1, 60000), row("b2", 0, 0)).toDF(cols: _*)
    assert(graft.streaming.ConvAssembly.completeConversations(statics).count() == 3)
  }

  test("runAvailableNow with assembly: files split MID-conversation still yield " +
    "batch-identical pairs and one signature per conversation") {
    import spark.implicits._
    val scfg = Synth.Config(nClusters = 60, boilerClusters = 1, boilerSize = 6)
    val cfg = Dedup.Config()
    val t0 = 1700000000000L
    // controlled event times: turns of a conv within minutes of each other
    val transcripts = Synth.transcripts(spark, scfg).toDF
      .withColumn("ts", expr(s"timestamp_millis(${t0}L + turn_idx * 60000L)"))
      .cache()
    val batchPairs = Dedup.run(spark, transcripts, cfg).pairs
      .select(col("id1"), col("id2")).cache()
    assert(batchPairs.count() > 20)

    // chop EVERY conversation across 3 files (by turn index), the layout the
    // plain ingest contract cannot handle
    val tmp = Files.createTempDirectory("graft-asm-e2e").toString
    val inDir = s"$tmp/in"
    transcripts.withColumn("part", col("turn_idx") % 3)
      .repartition(3, col("part")).drop("part")
      .write.parquet(inDir)
    // flusher conversation far in the future drives the watermark past every
    // real conversation's completeness deadline
    Seq(("zz_flush", 0, "user", "flush", null: String,
      new java.sql.Timestamp(t0 + 1000L * 3600 * 1000)))
      .toDF("conv_id", "turn_idx", "role", "text", "tool", "ts")
      .coalesce(1).write.mode("append").parquet(inDir)

    val stores = IncrementalDedup.Stores(s"$tmp/sigs", s"$tmp/pairs")
    IncrementalDedup.runAvailableNow(spark, inDir, stores, cfg,
      maxFilesPerTrigger = 1, assembleIdleGapSec = Some(600))
    // drain: a second run's no-data/timeout batches release anything pending
    IncrementalDedup.runAvailableNow(spark, inDir, stores, cfg,
      maxFilesPerTrigger = 1, assembleIdleGapSec = Some(600))

    val sigRows = spark.read.parquet(stores.sigStore)
      .groupBy(col("conv_id")).count().where(col("count") > 1).count()
    assert(sigRows == 0, s"$sigRows conversations signed more than once")
    val streamPairs = spark.read.parquet(stores.pairStore)
      .select(col("id1"), col("id2")).distinct()
      .where(col("id1") =!= "zz_flush" && col("id2") =!= "zz_flush")
    val missing = batchPairs.exceptAll(streamPairs).count()
    val extra = streamPairs.exceptAll(batchPairs).count()
    info(s"assembled-stream pairs vs batch: missing=$missing extra=$extra")
    assert(missing == 0 && extra == 0,
      s"assembled stream must match batch exactly: missing=$missing extra=$extra")
  }

  test("per-batch shuffle volume stays ~flat while the stores grow (scheme-qualified paths)") {
    val scfg = Synth.Config(nClusters = 160, boilerClusters = 1, boilerSize = 8)
    val cfg = Dedup.Config()
    val transcripts = Synth.transcripts(spark, scfg).toDF
      .withColumn("part", pmod(xxhash64(col("conv_id")), lit(8)))
      .cache()
    transcripts.count()

    // stores addressed through the Hadoop FileSystem API with an explicit
    // scheme — the warehouse-filesystem abstraction the checkpoint layer
    // claims (hdfs://-shaped paths resolve the same way)
    val tmp = Files.createTempDirectory("graft-stream-flat").toString
    val stores = IncrementalDedup.Stores(s"file:$tmp/sigs", s"file:$tmp/pairs")

    val shuffleBytes = new java.util.concurrent.atomic.AtomicLong
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        if (te.taskMetrics != null)
          shuffleBytes.addAndGet(te.taskMetrics.shuffleReadMetrics.totalBytesRead)
    }
    spark.sparkContext.addSparkListener(listener)
    val perBatch = (0 until 8).map { b =>
      val batch = transcripts.where(col("part") === b).drop("part")
      shuffleBytes.set(0)
      IncrementalDedup.processBatch(spark, batch, stores, cfg)
      Thread.sleep(300) // listener bus drains async
      shuffleBytes.get()
    }
    spark.sparkContext.removeSparkListener(listener)
    info(s"per-batch shuffle-read bytes: ${perBatch.mkString(", ")}")
    // batch 2 already joins a store; by batch 8 the store is ~4x larger —
    // shuffle volume must NOT track store size (flat within noise + floor)
    val early = perBatch(2)
    val late = perBatch.last
    assert(late <= math.max(3 * early, early + (5L << 20)),
      s"late-batch shuffle ($late) must not grow with the store (early $early)")
  }

  test("store reads are partition-pruned to the batch's shards; compaction bounds file counts") {
    import spark.implicits._
    val scfg = Synth.Config(nClusters = 160, boilerClusters = 1, boilerSize = 8)
    val cfg = Dedup.Config()
    val transcripts = Synth.transcripts(spark, scfg).toDF
      .withColumn("part", pmod(xxhash64(col("conv_id")), lit(8)))
      .cache()
    val tmp = Files.createTempDirectory("graft-prune").toString
    // high shard count so a trickle batch's key set hits a small shard subset
    val stores = IncrementalDedup.Stores(
      s"$tmp/sigs", s"$tmp/pairs", bucketShards = 256, sigShards = 256)
    (0 until 6).foreach { b =>
      IncrementalDedup.processBatch(
        spark, transcripts.where(col("part") === b).drop("part"), stores, cfg)
    }

    def storeFilesBytes(path: String): (Long, Long) = {
      val p = new org.apache.hadoop.fs.Path(path)
      val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
      val it = fs.listFiles(p, true)
      var files = 0L; var bytes = 0L
      while (it.hasNext) {
        val f = it.next()
        if (f.getPath.getName.endsWith(".parquet")) { files += 1; bytes += f.getLen }
      }
      (files, bytes)
    }

    // compaction first: append-mode batches leave one tiny footer-dominated
    // file per (batch x shard); fold to one file per shard dir, preserving
    // rows, so the scan measurement below isn't footer noise
    val (bFiles0, _) = storeFilesBytes(stores.bucketStore)
    val rowsBefore = spark.read.parquet(stores.bucketStore).count()
    val pairsBefore = spark.read.parquet(stores.pairStore).count()
    IncrementalDedup.compactStores(spark, stores)
    val (bFiles, bBytes) = storeFilesBytes(stores.bucketStore)
    val (sFiles, sBytes) = storeFilesBytes(stores.sigStore)
    val shardDirs = {
      val p = new org.apache.hadoop.fs.Path(stores.bucketStore)
      val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
      fs.listStatus(p).count(s => s.isDirectory && s.getPath.getName.startsWith("shard="))
    }
    assert(bFiles <= shardDirs, s"compacted to $bFiles files over $shardDirs shard dirs")
    assert(bFiles < bFiles0, s"compaction must shrink file count ($bFiles0 -> $bFiles)")
    assert(spark.read.parquet(stores.bucketStore).count() == rowsBefore)
    assert(spark.read.parquet(stores.pairStore).count() == pairsBefore)

    // trickle batch: ONE conversation — per-batch scan IO must track the
    // batch's shard hits, not the accumulated store
    val oneConv = transcripts.select("conv_id").distinct().where(col("part") === 7)
      .limit(1).collect()(0).getString(0)
    // materialize the trickle batch as a LOCAL relation so the listener's
    // bytesRead measures only the store reads, not a cached-table rescan
    val tinyBatch = {
      val rows = transcripts.where(col("conv_id") === oneConv).drop("part").collect().toSeq
      spark.createDataFrame(
        spark.sparkContext.parallelize(rows, 1), transcripts.drop("part").schema)
    }
    val bytesRead = new java.util.concurrent.atomic.AtomicLong
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        if (te.taskMetrics != null)
          bytesRead.addAndGet(te.taskMetrics.inputMetrics.bytesRead)
    }
    spark.sparkContext.addSparkListener(listener)
    IncrementalDedup.processBatch(spark, tinyBatch, stores, cfg)
    Thread.sleep(500) // listener bus drains async
    spark.sparkContext.removeSparkListener(listener)
    info(s"trickle-batch bytesRead=${bytesRead.get}, store bytes=${bBytes + sBytes} " +
      s"($bFiles + $sFiles files)")
    // one conv hits ~80 of 256 bucket shards; without pruning the batch
    // would re-read the whole bucket store + sig store
    assert(bytesRead.get < (bBytes + sBytes) / 2,
      s"trickle batch read ${bytesRead.get} B — not pruned vs store ${bBytes + sBytes} B")

    // the pruned read plans directory-level PartitionFilters, and its
    // executed scan touches a strict subset of the store's files
    val pruned = IncrementalDedup.prunedRead(
      spark, stores.bucketStore, "shard", Seq(0L, 1L, 2L, 3L), stores.bucketShards)
    pruned.collect()
    val scan = pruned.queryExecution.executedPlan.collectFirst {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }.getOrElse(fail("no FileSourceScanExec in pruned read plan"))
    assert("""PartitionFilters: \[[^\]]*shard""".r.findFirstIn(scan.toString).isDefined,
      s"expected a shard partition filter in:\n${scan.toString.take(800)}")
    val numFiles = scan.metrics("numFiles").value
    val (bFilesNow, _) = storeFilesBytes(stores.bucketStore)
    assert(numFiles > 0 && numFiles < bFilesNow / 8,
      s"pruned scan read $numFiles of $bFilesNow bucket-store files")

    // ingest + clustering still green on the compacted + appended store
    // (part 6 is deliberately never ingested — the expected universe is the
    // 7 ingested shards: history 0-5, trickle + remainder of 7)
    IncrementalDedup.processBatch(
      spark,
      transcripts.where(col("part") === 7 && col("conv_id") =!= oneConv).drop("part"),
      stores, cfg)
    assert(IncrementalDedup.clusterNow(spark, stores).count() ==
      transcripts.where(col("part") =!= 6).select("conv_id").distinct().count())
  }

  test("clusterNow is total over fresh-deployment store states (nothing / no dup pairs yet)") {
    import spark.implicits._
    val tmp = Files.createTempDirectory("graft-fresh").toString
    val stores = IncrementalDedup.Stores(s"$tmp/sigs", s"$tmp/pairs")

    // state 1: nothing ingested — no store paths exist at all
    val empty = IncrementalDedup.clusterNow(spark, stores)
    assert(empty.columns.toSeq == Seq("conv_id", "component") && empty.count() == 0)

    // state 2: conversations ingested but zero dup pairs found — the pair
    // store was never created (empty batches are skipped by design) and
    // every conversation must come back as its own singleton component
    val turns = (0 until 6).flatMap { c =>
      (0 until 3).map(t => graft.synth.Turn(s"c$c", t, "user",
        s"unique text $c $t " + Seq.tabulate(30)(i => s"tok${c * 100 + t * 31 + i}").mkString(" "),
        "", new java.sql.Timestamp(1700000000000L + c * 10000 + t)))
    }
    val (n, p) = IncrementalDedup.processBatch(spark, turns.toDF(), stores, Dedup.Config())
    assert(n == 6 && p == 0, s"corpus is duplicate-free by construction: $n convs, $p pairs")
    assert(!IncrementalDedup.storeExists(spark, stores.pairStore),
      "a zero-pair batch must not create the pair store")
    val singletons = IncrementalDedup.clusterNow(spark, stores)
    assert(singletons.count() == 6 &&
      singletons.where($"conv_id" === $"component").count() == 6)
  }

  test("incremental clustering refresh (prior labels as star edges) == full re-cluster") {
    import spark.implicits._
    val scfg = Synth.Config(nClusters = 120, boilerClusters = 1, boilerSize = 8)
    val cfg = Dedup.Config()
    val transcripts = Synth.transcripts(spark, scfg).toDF
      .withColumn("part", pmod(xxhash64(col("conv_id")), lit(4)))
      .cache()
    val tmp = Files.createTempDirectory("graft-refresh").toString
    val stores = IncrementalDedup.Stores(s"$tmp/sigs", s"$tmp/pairs")

    def batch(b: Int) = transcripts.where(col("part") === b).drop("part")
    (0 to 1).foreach(b => IncrementalDedup.processBatch(spark, batch(b), stores, cfg, batchSeq = b))
    val (labels0, seen0) = IncrementalDedup.refreshClusters(spark, stores, None)
    val pinned = (labels0.cache(), seen0)
    assert(seen0 == 1L)

    (2 to 3).foreach(b => IncrementalDedup.processBatch(spark, batch(b), stores, cfg, batchSeq = b))
    val (incr, seen1) = IncrementalDedup.refreshClusters(spark, stores, Some(pinned))
    assert(seen1 == 3L)
    val full = IncrementalDedup.clusterNow(spark, stores)
    val diff = incr.exceptAll(full).count() + full.exceptAll(incr).count()
    assert(diff == 0, s"incremental refresh labels differ from full re-cluster on $diff rows")
    // and the incremental CC input really was smaller than the full pair store
    val allPairs = spark.read.parquet(stores.pairStore).count()
    val newPairs = spark.read.parquet(stores.pairStore).where(col("ingest_seq") > seen0).count()
    info(s"full store $allPairs pairs; incremental saw $newPairs new + star edges")
    assert(newPairs < allPairs)
  }

  test("ingest-stamp clamp: a restarted batch sequence cannot hide new pairs from a refresh") {
    // regression: toggling the assembly stage switches to a fresh streaming
    // checkpoint whose batchId restarts at 0 (and the processBatch default
    // is wall-clock ~1.7e12) — before the persisted high-water clamp, pairs
    // stamped in the restarted domain landed BELOW a refresh high-water
    // already handed out and were excluded from every incremental refresh
    // forever (only a full re-cluster would find them)
    import spark.implicits._
    val scfg = Synth.Config(nClusters = 100, boilerClusters = 1, boilerSize = 6)
    val cfg = Dedup.Config()
    val transcripts = Synth.transcripts(spark, scfg).toDF
      .withColumn("part", pmod(xxhash64(col("conv_id")), lit(2)))
      .cache()
    val tmp = Files.createTempDirectory("graft-seqclamp").toString
    val stores = IncrementalDedup.Stores(s"$tmp/sigs", s"$tmp/pairs")

    // first run stamps in a HIGH domain (a long-lived checkpoint's batchIds
    // or the wall-clock default)
    IncrementalDedup.processBatch(
      spark, transcripts.where(col("part") === 0).drop("part"), stores, cfg, batchSeq = 1000L)
    val (labels0, seen0) = IncrementalDedup.refreshClusters(spark, stores, None)
    assert(seen0 >= 1000L)

    // second run arrives in a RESTARTED domain (fresh checkpoint: batchId 0)
    val (_, p1) = IncrementalDedup.processBatch(
      spark, transcripts.where(col("part") === 1).drop("part"), stores, cfg, batchSeq = 0L)
    assert(p1 > 0, "the planted corpus must produce cross-batch pairs")
    assert(spark.read.parquet(stores.pairStore).agg(max(col("ingest_seq")))
      .first().getLong(0) > seen0,
      "the clamp must stamp restarted-domain pairs above the store's high-water")

    val (incr, _) = IncrementalDedup.refreshClusters(spark, stores, Some((labels0.cache(), seen0)))
    val full = IncrementalDedup.clusterNow(spark, stores)
    val diff = incr.exceptAll(full).count() + full.exceptAll(incr).count()
    assert(diff == 0,
      s"refresh after a sequence restart must equal the full re-cluster ($diff rows differ)")
  }

  test("a stamp burned by a crashed batch is never reused") {
    // crash contract: processBatch BURNS the stamp before appending pairs, so
    // a crash between burn and append leaves a stamp with no pairs. A later,
    // different batch must not reuse it — refreshClusters' `seen` comes from
    // the store's max ingest_seq, which never saw the burned stamp, so reuse
    // would hide the new batch's pairs below an already-handed-out high-water.
    import spark.implicits._
    val scfg = Synth.Config(nClusters = 80, boilerClusters = 1, boilerSize = 6)
    val cfg = Dedup.Config()
    val transcripts = Synth.transcripts(spark, scfg).toDF
      .withColumn("part", pmod(xxhash64(col("conv_id")), lit(2)))
      .cache()
    val tmp = Files.createTempDirectory("graft-seqburn").toString
    val stores = IncrementalDedup.Stores(s"$tmp/sigs", s"$tmp/pairs")

    IncrementalDedup.processBatch(
      spark, transcripts.where(col("part") === 0).drop("part"), stores, cfg, batchSeq = 5L)
    val (labels0, seen0) = IncrementalDedup.refreshClusters(spark, stores, None)
    assert(seen0 == 5L)
    // simulate the crash window: a batch burned 6 and died before its append
    IncrementalDedup.burnSeqHighWater(spark, stores, 6L)
    assert(IncrementalDedup.seqHighWater(spark, stores) == 6L)

    val (_, p1) = IncrementalDedup.processBatch(
      spark, transcripts.where(col("part") === 1).drop("part"), stores, cfg, batchSeq = 0L)
    assert(p1 > 0)
    val maxSeq = spark.read.parquet(stores.pairStore).agg(max(col("ingest_seq"))).first().getLong(0)
    assert(maxSeq == 7L, s"the burned stamp 6 must not be reused (got $maxSeq)")
    val (incr, _) = IncrementalDedup.refreshClusters(spark, stores, Some((labels0.cache(), seen0)))
    val full = IncrementalDedup.clusterNow(spark, stores)
    assert(incr.exceptAll(full).count() + full.exceptAll(incr).count() == 0)
  }

  test("a meta written before any store data does not pin the layout (first-run crash retry)") {
    // regression: the first-ever run writes its layout meta, then crashes
    // before any store write; a retry with different shard counts used to
    // fail 'cannot change without a rebuild' even though both stores were
    // empty — rebuilding a layout that holds no data is free
    val tmp = Files.createTempDirectory("graft-metafresh").toString
    val stores = IncrementalDedup.Stores(s"$tmp/sigs", s"$tmp/pairs")
    IncrementalDedup.validateOrWriteMeta(spark, stores) // default 64/64, no data yet
    val relaid = stores.copy(bucketShards = 16, sigShards = 8)
    IncrementalDedup.validateOrWriteMeta(spark, relaid) // free relayout
    val transcripts =
      Synth.transcripts(spark, Synth.Config(nClusters = 20, boilerClusters = 1, boilerSize = 4)).toDF
    IncrementalDedup.processBatch(spark, transcripts, relaid, Dedup.Config())
    // data exists in the 16/8 layout now: other counts are a real mismatch
    val e = intercept[IllegalArgumentException] {
      IncrementalDedup.validateOrWriteMeta(spark, stores)
    }
    assert(e.getMessage.contains("shard counts"), e.getMessage)
    // and the pinned layout still opens fine
    IncrementalDedup.validateOrWriteMeta(spark, relaid)
  }

  test("re-ingesting stored conversations is a per-conv no-op (replay / backfill overlap)") {
    val scfg = Synth.Config(nClusters = 60, boilerClusters = 1, boilerSize = 6)
    val cfg = Dedup.Config()
    val transcripts = Synth.transcripts(spark, scfg).toDF
      .withColumn("part", pmod(xxhash64(col("conv_id")), lit(2))).cache()
    val tmp = Files.createTempDirectory("graft-idem").toString
    val stores = IncrementalDedup.Stores(s"$tmp/sigs", s"$tmp/pairs")
    val b0 = transcripts.where(col("part") === 0).drop("part")
    val b1 = transcripts.where(col("part") === 1).drop("part")
    val (n0, _) = IncrementalDedup.processBatch(spark, b0, stores, cfg, batchSeq = 0)
    assert(n0 > 0)
    val sigs0 = spark.read.parquet(stores.sigStore).count()
    val pairs0 = spark.read.parquet(stores.pairStore).count()
    // exact replay (checkpoint reset / re-delivered file): nothing re-signs
    val (nr, pr) = IncrementalDedup.processBatch(spark, b0, stores, cfg, batchSeq = 1)
    assert(nr == 0 && pr == 0, s"replay must be a no-op, got ($nr, $pr)")
    assert(spark.read.parquet(stores.sigStore).count() == sigs0)
    assert(spark.read.parquet(stores.pairStore).count() == pairs0)
    // overlapping backfill (old half ∪ new half): only the new convs sign
    val (n1, _) =
      IncrementalDedup.processBatch(spark, transcripts.drop("part"), stores, cfg, batchSeq = 2)
    assert(n1 == b1.select("conv_id").distinct().count())
    val multi = spark.read.parquet(stores.sigStore)
      .groupBy(col("conv_id")).count().where(col("count") > 1).count()
    assert(multi == 0, s"$multi conversations signed more than once")
    // dedup result unharmed by the replays: pair set == batch pipeline's
    val batchPairs = Dedup.run(spark, transcripts.drop("part"), cfg).pairs
      .select(col("id1"), col("id2"))
    val streamPairs = spark.read.parquet(stores.pairStore)
      .select(col("id1"), col("id2")).distinct()
    assert(batchPairs.exceptAll(streamPairs).count() == 0 &&
      streamPairs.exceptAll(batchPairs).count() == 0)
  }

  test("store layout meta: shard-count mismatch and missing meta fail loudly") {
    val cfg = Dedup.Config()
    val transcripts =
      Synth.transcripts(spark, Synth.Config(nClusters = 20, boilerClusters = 1, boilerSize = 4)).toDF
    val tmp = Files.createTempDirectory("graft-meta").toString
    val stores = IncrementalDedup.Stores(s"$tmp/sigs", s"$tmp/pairs")
    IncrementalDedup.processBatch(spark, transcripts, stores, cfg)
    // identical counts reopen fine
    IncrementalDedup.validateOrWriteMeta(spark, stores)
    // different counts would hash keys into shard dirs the pruned reads skip
    val e = intercept[IllegalArgumentException] {
      IncrementalDedup.validateOrWriteMeta(spark, stores.copy(bucketShards = 32))
    }
    assert(e.getMessage.contains("shard counts"), e.getMessage)
    // pre-sharding stores (no meta) are refused, not silently mis-read
    val mp = new org.apache.hadoop.fs.Path(s"$tmp/sigs__meta")
    val fs = mp.getFileSystem(spark.sessionState.newHadoopConf())
    assert(fs.delete(mp, false))
    val e2 = intercept[RuntimeException] {
      IncrementalDedup.validateOrWriteMeta(spark, stores)
    }
    assert(e2.getMessage.contains("rebuild the stores"), e2.getMessage)
  }

  test("stores in an older format are refused before anything is read or written") {
    val cfg = Dedup.Config()
    val scfg = Synth.Config(nClusters = 40, boilerClusters = 1, boilerSize = 4)
    val transcripts = Synth.transcripts(spark, scfg).toDF
      .withColumn("part", pmod(xxhash64(col("conv_id")), lit(2))).cache()
    val tmp = Files.createTempDirectory("graft-oldformat").toString
    val stores = IncrementalDedup.Stores(s"$tmp/sigs", s"$tmp/pairs")
    val (_, p0) = IncrementalDedup.processBatch(
      spark, transcripts.where(col("part") === 0).drop("part"), stores, cfg, batchSeq = 0L)
    assert(p0 > 0, "test setup: the first batch must write every store")
    // the unversioned meta of the earlier layout (data files are unchanged)
    val mp = new org.apache.hadoop.fs.Path(s"$tmp/sigs__meta")
    val fs = mp.getFileSystem(spark.sessionState.newHadoopConf())
    val out = fs.create(mp, true)
    out.write("""{"bucketShards":64,"sigShards":64}""".getBytes("UTF-8")); out.close()
    def snapshot(): Map[String, Seq[Byte]] = {
      val root = java.nio.file.Paths.get(tmp)
      val walk = Files.walk(root)
      try walk.iterator().asScala.filter(Files.isRegularFile(_))
        .map(f => root.relativize(f).toString -> Files.readAllBytes(f).toSeq).toMap
      finally walk.close()
    }
    val before = snapshot()
    val e = intercept[RuntimeException] {
      IncrementalDedup.processBatch(
        spark, transcripts.where(col("part") === 1).drop("part"), stores, cfg, batchSeq = 1L)
    }
    assert(e.getMessage.contains("rebuild the stores"), e.getMessage)
    // the streaming driver refuses before its checkpoint is created
    val inDir = s"${Files.createTempDirectory("graft-oldformat-in")}/in"
    transcripts.where(col("part") === 1).drop("part").write.parquet(inDir)
    val e2 = intercept[RuntimeException](IncrementalDedup.runAvailableNow(spark, inDir, stores, cfg))
    assert(e2.getMessage.contains("rebuild the stores"), e2.getMessage)
    val after = snapshot()
    assert(after.keySet == before.keySet, s"files added or removed: ${after.keySet diff before.keySet}")
    assert(before.forall { case (f, bytes) => after(f) == bytes }, "a store file changed")
  }

  test("compaction crash between renames is recovered; stale asides are cleaned") {
    val cfg = Dedup.Config()
    val transcripts =
      Synth.transcripts(spark, Synth.Config(nClusters = 40, boilerClusters = 1, boilerSize = 4)).toDF
    val tmp = Files.createTempDirectory("graft-crash").toString
    val stores = IncrementalDedup.Stores(s"$tmp/sigs", s"$tmp/pairs")
    IncrementalDedup.processBatch(spark, transcripts, stores, cfg)
    val pairs0 = spark.read.parquet(stores.pairStore).count()
    assert(pairs0 > 0)
    val p = new org.apache.hadoop.fs.Path(stores.pairStore)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    val aside = new org.apache.hadoop.fs.Path(stores.pairStore + "__compact_old")
    // simulate a compaction killed between its two renames: the only copy of
    // the store lives at the aside path
    assert(fs.rename(p, aside))
    assert(IncrementalDedup.storeExists(spark, stores.pairStore),
      "recovery must restore the aside copy before anyone reads the gap as 'no store'")
    assert(!fs.exists(aside))
    assert(spark.read.parquet(stores.pairStore).count() == pairs0)
    // a stale aside NEXT TO a healthy store (crash after the swap, before the
    // aside delete) is removed by the next compaction, never swapped back in
    assert(fs.mkdirs(aside))
    IncrementalDedup.compactStores(spark, stores)
    assert(!fs.exists(aside))
    assert(spark.read.parquet(stores.pairStore).count() == pairs0)
  }

  test("assembly drops null-ts / null-conv_id rows instead of poisoning the checkpoint") {
    import spark.implicits._
    val t0 = 1700000000000L
    def ts(off: Long) = new java.sql.Timestamp(t0 + off)
    val cols = Seq("conv_id", "turn_idx", "role", "text", "tool", "ts")
    val df = Seq(
      ("good", 0, "user", "hello", null: String, ts(0)),
      ("good", 1, "assistant", "hi", null: String, ts(60000)),
      (null: String, 0, "user", "orphan", null: String, ts(0)),
      ("noclock", 0, "user", "unplaceable", null: String, null: java.sql.Timestamp)
    ).toDF(cols: _*)
    // batch parity: malformed rows dropped, the good conversation is complete
    val batchOut = graft.streaming.ConvAssembly.completeConversations(df).collect()
    assert(batchOut.length == 2 && batchOut.forall(_.conv_id == "good"),
      s"batch assembly must keep exactly the good rows: ${batchOut.toSeq}")

    // streaming: the malformed rows must not crash the keyed state pass or
    // wedge the checkpoint on replay — the good conversation still releases
    val tmp = Files.createTempDirectory("graft-nulls").toString
    df.coalesce(1).write.parquet(s"$tmp/in")
    Seq(("zz_flush", 0, "user", "flush", null: String, ts(1000L * 3600 * 1000)))
      .toDF(cols: _*).coalesce(1).write.mode("append").parquet(s"$tmp/in")
    def runOnce(): Unit = {
      val stream = spark.readStream.schema(df.schema)
        .option("maxFilesPerTrigger", 1).parquet(s"$tmp/in")
      val q = graft.streaming.ConvAssembly.completeConversations(stream, idleGapSec = 300)
        .writeStream.format("parquet")
        .option("path", s"$tmp/out").option("checkpointLocation", s"$tmp/ck")
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      q.awaitTermination(120000)
    }
    runOnce(); runOnce() // the second run's no-data batch fires pending timeouts
    val streamed = spark.read.parquet(s"$tmp/out").as[graft.synth.Turn].collect()
      .filter(_.conv_id != "zz_flush")
    assert(streamed.length == 2 && streamed.forall(_.conv_id == "good"),
      s"streamed release wrong: ${streamed.toSeq}")
  }

  // deterministic event corpus for the §2.10 window/state operators:
  // per-user cumulative random steps (0..60 min) guarantee plenty of
  // >=30-min session gaps; one far-future sentinel per user closes every
  // real session in both modes
  private def eventCorpus(): (Seq[(String, java.sql.Timestamp, String, Long)], Long) = {
    val r = new scala.util.Random(7)
    val base = 1700000000000L
    var maxTs = 0L
    val rows = (0 until 15).flatMap { u =>
      var t = base + r.nextInt(600000)
      (0 until 25).map { e =>
        t += r.nextInt(3600) * 1000L
        maxTs = math.max(maxTs, t)
        (s"u$u", new java.sql.Timestamp(t), if (r.nextBoolean()) "click" else "view", e.toLong)
      }
    }
    (rows, maxTs)
  }

  test("watermarked sliding-window counts: streaming matches batch on the same input") {
    import spark.implicits._
    val (rows, _) = eventCorpus()
    val df = rows.toDF("user_id", "ts", "event_type", "event_id")
    val batch = EventStreams.windowedTypeCounts(df)
      .orderBy("win_start", "event_type").collect().map(_.toString).toSeq

    val tmp = Files.createTempDirectory("graft-winstream").toString
    df.repartition(6).write.parquet(s"$tmp/in")
    val stream = spark.readStream.schema(df.schema).option("maxFilesPerTrigger", 2).parquet(s"$tmp/in")
    val q = EventStreams.windowedTypeCounts(stream)
      .writeStream.format("memory").queryName("win_counts").outputMode("complete")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    val streamed = spark.table("win_counts")
      .orderBy("win_start", "event_type").collect().map(_.toString).toSeq
    assert(streamed == batch, s"stream (${streamed.size} rows) must equal batch (${batch.size})")
  }

  test("stateful gap sessionization: streaming matches batch, counts match the q23 lag logic") {
    import spark.implicits._
    val (rows, maxTs) = eventCorpus()
    // sentinel events close every real trailing session (their own sessions
    // stay open past the final watermark in both modes and never emit)
    val sentinels = rows.map(_._1).distinct.map(u =>
      (u, new java.sql.Timestamp(maxTs + 3 * 3600 * 1000L), "sentinel", 999L))
    val df = (rows ++ sentinels).toDF("user_id", "ts", "event_type", "event_id")

    // a LARGE watermark delay keeps the main run free of late-drops
    // (micro-batch file order is arbitrary, so a tight watermark could race
    // ahead of an unprocessed user's events); sessions only emit once the
    // watermark passes them, so a second run appends a far-future flusher
    // event that drives the final watermark past every real session
    val batch = EventStreams.sessionize(df, watermarkDelay = "100 hours").collect()
      .map(s => (s.user_id, s.session_start.getTime, s.session_end.getTime, s.n_events)).toSet

    val tmp = Files.createTempDirectory("graft-sessstream").toString
    df.repartition(5, col("user_id")).write.parquet(s"$tmp/in")
    def runOnce(): Unit = {
      val stream = spark.readStream.schema(df.schema)
        .option("maxFilesPerTrigger", 1).parquet(s"$tmp/in")
      val q = EventStreams.sessionize(stream, watermarkDelay = "100 hours")
        .writeStream.format("parquet")
        .option("path", s"$tmp/out").option("checkpointLocation", s"$tmp/ck")
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      q.awaitTermination(120000)
    }
    runOnce()
    val flushTs = maxTs + 300L * 3600 * 1000
    Seq(("zz_flush", new java.sql.Timestamp(flushTs), "flush", 0L))
      .toDF("user_id", "ts", "event_type", "event_id")
      .coalesce(1).write.mode("append").parquet(s"$tmp/in")
    runOnce()
    // the flusher run's final watermark (flushTs - 100 h) passes every real
    // AND sentinel session, so timeouts emit them all; exclude the
    // sentinel-only sessions (start >= maxTs + 3 h) and the flusher's own
    val streamed = spark.read.parquet(s"$tmp/out").as[EventStreams.Session].collect()
      .filter(s => s.user_id != "zz_flush" && s.session_start.getTime < maxTs + 3 * 3600 * 1000L)
      .map(s => (s.user_id, s.session_start.getTime, s.session_end.getTime, s.n_events)).toSet
    assert(streamed == batch,
      s"stream sessions (${streamed.size}) must equal batch (${batch.size}); " +
        s"missing=${(batch -- streamed).take(3)} extra=${(streamed -- batch).take(3)}")

    // independent correctness pin: per-user closed-session counts must match
    // the q23 lag/brk formulation over the same (non-sentinel) events
    val brk = rows.groupBy(_._1).map { case (u, es) =>
      val ts = es.map(_._2.getTime).sorted
      u -> (1 + ts.sliding(2).count(w => w.length == 2 && w(1) - w(0) >= 1800 * 1000))
    }
    val perUser = batch.groupBy(_._1).map { case (u, ss) => u -> ss.size }
    assert(perUser == brk, s"session counts must match the lag/brk oracle")
  }

  test("watermark drops late events from streamed window counts; batch counts everything") {
    import spark.implicits._
    val h = 3600 * 1000L
    val t0 = 1700000000000L - (1700000000000L % (2 * h)) // window-aligned base
    def ev(offMin: Long) = new java.sql.Timestamp(t0 + offMin * 60000)
    // file A establishes the watermark at A's max - 30 min; file B carries
    // one event late enough that BOTH its hour windows END before that
    // watermark (drop requires window.end <= wm, not mere event lateness),
    // plus a far-future flusher that pushes the final watermark past every
    // on-time window so append mode emits them
    val fileA = Seq(("u1", ev(0), "click", 0L), ("u1", ev(5), "click", 1L))
    val fileB = Seq(("u1", ev(-200), "click", 2L), ("u1", ev(240), "view", 3L))
    val all = (fileA ++ fileB).toDF("user_id", "ts", "event_type", "event_id")

    val tmp = Files.createTempDirectory("graft-late").toString
    // two AvailableNow RUNS over one checkpoint: the watermark is committed
    // state, so run 2 starts at run 1's watermark (t0 - 25 min) no matter how
    // its files batch — deterministic late-drop, and a restart-persistence
    // check for free. The parquet sink (fault-tolerant, accumulates across
    // runs) collects whatever append mode emits.
    def runOnce(): Unit = {
      val stream = spark.readStream.schema(all.schema).parquet(s"$tmp/in")
      val q = EventStreams.windowedTypeCounts(stream, watermarkDelay = "30 minutes")
        .writeStream.format("parquet")
        .option("path", s"$tmp/out").option("checkpointLocation", s"$tmp/ck")
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      q.awaitTermination(120000)
    }
    fileA.toDF("user_id", "ts", "event_type", "event_id")
      .coalesce(1).write.parquet(s"$tmp/in")
    runOnce()
    fileB.toDF("user_id", "ts", "event_type", "event_id")
      .coalesce(1).write.mode("append").parquet(s"$tmp/in")
    runOnce()
    def winCounts(rows: Array[org.apache.spark.sql.Row]) =
      rows.map(r => (r.getTimestamp(0).getTime, r.getString(2)) -> r.getLong(3)).toMap
    val streamed = winCounts(spark.read.parquet(s"$tmp/out").collect())
    val batch = winCounts(EventStreams.windowedTypeCounts(all, watermarkDelay = "30 minutes").collect())

    // batch counts the late event in both its hour windows
    assert(batch((t0 - 210 * 60000, "click")) == 1L, "batch must count the late event")
    assert(batch((t0 - 240 * 60000, "click")) == 1L)
    assert(batch((t0, "click")) == 2L && batch((t0 - h / 2, "click")) == 2L)
    // the stream emits EXACTLY file A's two closed windows: the late event's
    // windows (both ended before the run-1 watermark t0-25m) are dropped,
    // and the flusher's own window is still open at termination
    assert(streamed == Map((t0 - h / 2, "click") -> 2L, (t0, "click") -> 2L),
      s"stream must drop the late event and emit only closed on-time windows: $streamed")
  }

  test("event-time timeout closes an idle user's trailing session without another event") {
    import spark.implicits._
    val t0 = 1700000000000L
    val df = Seq(
      ("idle", new java.sql.Timestamp(t0), "click", 0L),
      ("idle", new java.sql.Timestamp(t0 + 5 * 60000), "view", 1L),
      ("other", new java.sql.Timestamp(t0 + 10 * 3600 * 1000L), "click", 2L)
    ).toDF("user_id", "ts", "event_type", "event_id")
    val tmp = Files.createTempDirectory("graft-timeout").toString
    df.coalesce(1).write.parquet(s"$tmp/in") // ONE file = one data batch: the
    // watermark advances after it, and the engine runs an extra no-data batch
    // that fires the parked event-time timeout
    val stream = spark.readStream.schema(df.schema).parquet(s"$tmp/in")
    val q = EventStreams.sessionize(stream, watermarkDelay = "30 minutes")
      .writeStream.format("memory").queryName("timeout_sessions").outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    val got = spark.table("timeout_sessions").as[EventStreams.Session].collect()
      .map(s => (s.user_id, s.n_events)).toSet
    // "idle" has no later event of its own: only the watermark (driven by
    // "other") can close its 2-event session — batch execution would emit
    // NOTHING here, this is the capability q23's window form cannot express
    assert(got.contains(("idle", 2L)), s"timeout must close the idle session, got $got")
  }

  test("cross-batch out-of-order events: in-gap stragglers extend session_start, " +
    "gap-separated earlier events form their own session") {
    import spark.implicits._
    val t0 = 1700000000000L
    val min = 60000L
    def ev(u: String, off: Long) = (u, new java.sql.Timestamp(t0 + off), "e", 0L)
    // batch 1 carries the LATER events; batch 2 delivers event-time-EARLIER
    // stragglers (still above the 100 h watermark). The old eager
    // open-session fold got both wrong: the in-gap straggler was merged with
    // session_start left at the later event, and the gap-separated one was
    // folded into the open session because t - last was negative.
    val fileA = Seq(ev("ingap", 10 * min), ev("sep", 120 * min))
    val fileB = Seq(ev("ingap", 0), ev("sep", 0))
    val schema = fileA.toDF("user_id", "ts", "event_type", "event_id").schema
    val tmp = Files.createTempDirectory("graft-ooo").toString
    def runOnce(): Unit = {
      val stream = spark.readStream.schema(schema).parquet(s"$tmp/in")
      val q = EventStreams.sessionize(stream, watermarkDelay = "100 hours")
        .writeStream.format("parquet")
        .option("path", s"$tmp/out").option("checkpointLocation", s"$tmp/ck")
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      q.awaitTermination(120000)
    }
    fileA.toDF("user_id", "ts", "event_type", "event_id").coalesce(1).write.parquet(s"$tmp/in")
    runOnce()
    fileB.toDF("user_id", "ts", "event_type", "event_id")
      .coalesce(1).write.mode("append").parquet(s"$tmp/in")
    runOnce()
    Seq(ev("zz_flush", 400L * 60 * min)).toDF("user_id", "ts", "event_type", "event_id")
      .coalesce(1).write.mode("append").parquet(s"$tmp/in")
    runOnce()
    val got = spark.read.parquet(s"$tmp/out").as[EventStreams.Session].collect()
      .filter(_.user_id != "zz_flush")
      .map(s => (s.user_id, s.session_start.getTime - t0, s.session_end.getTime - t0, s.n_events))
      .toSet
    assert(got == Set(
      ("ingap", 0L, 10 * min, 2L),      // straggler extends the session backwards
      ("sep", 0L, 0L, 1L),              // its own earlier session, NOT merged
      ("sep", 120 * min, 120 * min, 1L)
    ), s"out-of-order sessions wrong: $got")
  }

  test("insertEvent folds arbitrary arrival orders to the sorted-fold sessions") {
    import scala.collection.mutable.ArrayBuffer
    val gap = 10L
    val r = new scala.util.Random(11)
    (0 until 200).foreach { _ =>
      val ts = Array.fill(1 + r.nextInt(12))(r.nextInt(80).toLong)
      // oracle: sort, fold with the batch gap rule
      val sorted = ts.sorted
      val expect = ArrayBuffer[(Long, Long, Long)]()
      sorted.foreach { t =>
        if (expect.nonEmpty && t - expect.last._2 < gap) {
          val (s, l, n) = expect.remove(expect.length - 1)
          expect += ((s, math.max(l, t), n + 1))
        } else expect += ((t, t, 1L))
      }
      // shuffle arrival order, insert one by one
      val buf = ArrayBuffer[EventStreams.SessState]()
      r.shuffle(ts.toSeq).foreach(t => EventStreams.insertEvent(buf, t, gap))
      val got = buf.map(s => (s.start, s.last, s.n)).toSeq
      assert(got == expect.toSeq, s"order-independence broken for ${ts.mkString(",")}: $got vs $expect")
    }
  }

  test("crash between bucket and sig appends: replay converges to one bucket copy") {
    import spark.implicits._
    val cfg = Dedup.Config()
    val tmp = Files.createTempDirectory("graft-intent").toString
    val stores = IncrementalDedup.Stores(s"$tmp/sigs", s"$tmp/pairs")
    val all = Synth.transcripts(spark, Synth.Config(nClusters = 30)).toDF.cache()
    val convs = all.select("conv_id").distinct().as[String].collect().sorted
    val (aSet, bSet) = convs.splitAt(convs.length / 2)
    val batchA = all.where(col("conv_id").isin(aSet: _*))
    val batchB = all.where(col("conv_id").isin(bSet: _*))
    IncrementalDedup.processBatch(spark, batchA, stores, cfg, batchSeq = 0L)
    // simulate batch B dying BETWEEN its two appends: intent marker burned
    // and bucket entries written, but the sig append never happened — the
    // exact state the streaming replay then observes
    val sigsB = Dedup.signatures(Dedup.shingle(Dedup.assemble(batchB), cfg), cfg)
    IncrementalDedup.burnIntent(spark, stores, 1L)
    IncrementalDedup.bucketEntriesWithShard(sigsB, cfg, stores.bucketShards)
      .write.partitionBy("shard").mode("append").parquet(stores.bucketStore)
    assert(IncrementalDedup.intentPending(spark, stores))
    // REPLAY of batch B (structured streaming re-runs the failed batch;
    // pre-fix this appended a SECOND copy of every entry — double-counting
    // the hot-bucket window and hash-thinning genuine members forever)
    IncrementalDedup.processBatch(spark, batchB, stores, cfg, batchSeq = 1L)
    assert(!IncrementalDedup.intentPending(spark, stores), "marker must clear on success")
    val post = spark.read.parquet(stores.bucketStore)
    val dupes = post.groupBy($"pass", $"bucket", $"id").count().where($"count" > 1).count()
    assert(dupes == 0, s"$dupes duplicated bucket entries survived the replay")
    // every conv of both batches is present exactly as a clean A-then-B run
    val expect = IncrementalDedup.bucketEntriesWithShard(
      Dedup.signatures(Dedup.shingle(Dedup.assemble(all), cfg), cfg), cfg, stores.bucketShards)
    assert(post.count() == expect.count(), "store must equal a crash-free ingest")
    val clusters = IncrementalDedup.clusterNow(spark, stores)
    assert(clusters.count() == convs.length.toLong)
  }

  test("first-ever batch crash before its sig append: sweep resets the bucket store") {
    import spark.implicits._
    val cfg = Dedup.Config()
    val tmp = Files.createTempDirectory("graft-intent0").toString
    val stores = IncrementalDedup.Stores(s"$tmp/sigs", s"$tmp/pairs")
    val batch = Synth.transcripts(spark, Synth.Config(nClusters = 10)).toDF
    val sigs = Dedup.signatures(Dedup.shingle(Dedup.assemble(batch), cfg), cfg)
    // crashed first-ever batch: meta written (the real batch writes it
    // before any append), bucket store exists, sig store never did
    IncrementalDedup.validateOrWriteMeta(spark, stores)
    IncrementalDedup.burnIntent(spark, stores, 0L)
    IncrementalDedup.bucketEntriesWithShard(sigs, cfg, stores.bucketShards)
      .write.partitionBy("shard").mode("append").parquet(stores.bucketStore)
    IncrementalDedup.processBatch(spark, batch, stores, cfg, batchSeq = 0L)
    assert(!IncrementalDedup.intentPending(spark, stores))
    val post = spark.read.parquet(stores.bucketStore)
    assert(post.groupBy($"pass", $"bucket", $"id").count().where($"count" > 1).count() == 0,
      "orphans of the crashed first batch must not duplicate on replay")
  }

  test("old-side hot-bucket thinning keeps the window formulation's members and counts them") {
    import spark.implicits._
    // one LSH band over 4 permutations and no other pass: identical docs
    // share exactly one (pass, bucket)
    val cfg = Dedup.Config(numPerms = 4, bands = 1, bucketCap = 8,
      simhashEnabled = false, substringEnabled = false)
    val tmp = Files.createTempDirectory("graft-oldcap").toString
    val stores = IncrementalDedup.Stores(s"$tmp/sigs", s"$tmp/pairs")
    val text = "the same canned assistant reply repeated verbatim across many conversations of this store"
    def turns(ids: Seq[String]) = ids.map(c => (c, 0, text)).toDF("conv_id", "turn_idx", "text")
    val old = (0 until 40).map(i => f"old$i%02d")
    IncrementalDedup.processBatch(spark, turns(old), stores, cfg, batchSeq = 0L)
    val hot = spark.read.parquet(stores.bucketStore)
    assert(hot.select($"pass", $"bucket").distinct().count() == 1 && hot.count() == old.size)
    // the window formulation the old side was first written with: count the
    // members of each (pass, bucket) over the narrowed store rows, keep a
    // member of an oversized bucket iff pmod(xxhash64(id, bucket), bsz) < cap
    val expectKept = hot
      .withColumn("bsz", count(lit(1)).over(Window.partitionBy($"pass", $"bucket")))
      .where($"bsz" <= cfg.bucketCap || pmod(xxhash64($"id", $"bucket"), $"bsz") < cfg.bucketCap)
      .select($"id").as[String].collect().toSet
    assert(expectKept.nonEmpty && expectKept.size < old.size, s"thinning must bite: $expectKept")

    val sk = IncrementalDedup.batchSkew(spark)
    IncrementalDedup.processBatch(spark, turns(Seq("new")), stores, cfg, batchSeq = 1L, skew = Some(sk))
    // the new doc equals every old one, so each kept old member verifies
    // as a pair with it and each thinned one yields none
    val paired = spark.read.parquet(stores.pairStore).where($"ingest_seq" === 1L)
      .select(when($"id1" === "new", $"id2").otherwise($"id1")).as[String].collect().toSet
    assert(paired == expectKept)
    assert(sk.oldOversizedBuckets.value == 1L)
    assert(sk.oldThinnedMembers.value == (old.size - cfg.bucketCap).toLong)
    assert(sk.newNew.oversizedBuckets.value == 0L && sk.newNew.droppedPairs.value == 0L)
  }
}
