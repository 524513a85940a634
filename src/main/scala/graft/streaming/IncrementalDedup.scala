package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.Cols._
import graft.pipeline.{Dedup, TableIO}

/** Structured-Streaming extension of the batch pipeline (the reference is
  * pure batch — SURVEY §2.10; this is the documented `Trigger.AvailableNow`
  * incremental path over an append-only transcripts table):
  *
  *   - `readStream` over the transcripts directory; per micro-batch,
  *     complete conversations are assembled and signed exactly like batch
  *     (same ShingleHashes/MinHash/SimHash/anchor expressions). Ingests
  *     whose files chop a conversation across micro-batches front the
  *     pipeline with [[ConvAssembly.completeConversations]] (see
  *     [[runAvailableNow]]'s `assembleIdleGapSec`), which buffers turns in
  *     keyed state until the watermark proves the conversation complete —
  *     signing a PREFIX of a conversation would poison the append-once
  *     signature store;
  *   - a persistent BUCKET store (pass, bucket, conv_id, payload),
  *     hash-shard-partitioned on disk so per-batch reads prune to the
  *     directories the batch's keys hash into, accumulates
  *     every LSH band / SimHash chunk / substring anchor ever emitted; each
  *     batch generates (a) new x new candidates with the batch chunk/cap
  *     generator over just the new signatures and (b) new x old candidates by
  *     equi-joining the new bucket entries against the store — so per-batch
  *     candidate WORK is O(new buckets + matching store rows), not
  *     O(accumulated corpus) as re-bucketing the whole signature store each
  *     batch would be. All three candidate passes run incrementally,
  *     including the substring-anchor pass (anchors ride the store);
  *   - the old side of a hot bucket is hash-thinned to `bucketCap` members
  *     (same discipline as the batch chunk cap / ANN probe cap);
  *   - exact verification joins candidate ids against the signature store
  *     (also shard-partitioned, read-pruned to the candidate ids' shards);
  *   - clustering stays a batch job over the accumulated pairs table
  *     (connected components is not incrementally maintainable without
  *     rewriting history — re-run `Dedup.cluster` on demand).
  *
  * Assumption (documented): a conversation's turns arrive within one batch
  * (append-only conv-complete ingestion). Cross-batch turn splits would need
  * flatMapGroupsWithState turn buffering — out of scope for parity.
  */
object IncrementalDedup {

  final case class Stores(
      sigStore: String,
      pairStore: String,
      bucketShards: Int = 64,
      sigShards: Int = 64) {
    def bucketStore: String = s"${sigStore}_buckets"
  }

  /** Row-count guard on the key sets processBatch force-broadcasts in the
    * trickle regime: a bulk/backfill micro-batch can carry tens of millions
    * of bucket keys / candidate ids, and an unconditional broadcast() of
    * those would OOM the driver or trip Spark's 8 GB broadcast hard limit.
    * Above the cap the semi joins fall back to shuffles — the correct plan
    * at that size (4M keys x ~40 B ≈ 160 MB is the most a forced broadcast
    * should ever pin per executor).
    */
  private[graft] val BroadcastKeyCap = 4L * 1000 * 1000

  /** Read a shard-partitioned store pruned to the given shard set: the
    * literal IN on the partition column is directory-level pruning, so scan
    * IO is O(shards the batch's keys hash into), not O(accumulated store).
    * With uniformly-hashed keys the win is the TRICKLE regime (batch keys
    * << shard count — the steady state of an always-on ingest); a bulk
    * backfill batch touches every shard and correctly falls back to a full
    * read. True O(batch) lookups over a growing store need point-lookup
    * state, which scan-based parquet cannot express — the shard layout is
    * the Spark-native best and also what compaction needs to keep file
    * counts bounded.
    */
  private[graft] def prunedRead(
      spark: SparkSession, path: String, shardCol: String, shards: Seq[Long], nShards: Int
  ): DataFrame = {
    val df = spark.read.parquet(path)
    // match the literals to the INFERRED partition-column type: directory
    // values parse back as int, and isin over mismatched literals inserts a
    // CAST on the partition attribute, which silently defeats directory
    // pruning (the scan falls back to reading every shard)
    val vals: Seq[Any] = df.schema(shardCol).dataType match {
      case org.apache.spark.sql.types.IntegerType => shards.map(_.toInt)
      case org.apache.spark.sql.types.LongType    => shards
      case _                                      => shards.map(_.toString)
    }
    if (shards.size < nShards) df.where(col(shardCol).isin(vals: _*)) else df
  }

  /** Store existence through the Hadoop FileSystem API — the stores live
    * wherever the warehouse lives (hdfs://, s3a://, file:/), so a java.io
    * local-path check would be wrong everywhere but a single machine.
    *
    * Doubles as [[compact]]'s crash recovery point: a compaction killed
    * between its two renames leaves the store at `<path>__compact_old` and
    * nothing at `<path>` — treating that as "no store" would silently
    * restart dedup history (and the next compaction would DELETE the only
    * surviving copy). Every store access funnels through here, so the
    * aside copy is restored before anyone can misread the gap.
    */
  private[graft] def storeExists(spark: SparkSession, path: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    val aside = new org.apache.hadoop.fs.Path(path + "__compact_old")
    if (!fs.exists(p) && fs.exists(aside)) {
      require(fs.rename(aside, p), s"compact-crash recovery: cannot restore $aside to $p")
    }
    fs.exists(p)
  }

  /** Persisted store layout contract (`<sigStore>__meta`, one JSON line
    * `{"format":1,"bucketShards":B,"sigShards":S}`).
    *
    * Format policy: the stores hold dedup HISTORY (which conversations were
    * ingested, which pairs carry which ingest stamp) that no rerun over the
    * current input can recreate, so a store is never migrated in place. A
    * store whose meta is missing or names another format than
    * [[StoreFormat]] is refused before anything is read or written; the
    * only remedy is to rebuild the stores. (Checkpoint tables are derived
    * data instead: a checkpoint in another layout is rebuilt, see
    * `Dedup`'s `StageFormat`.)
    *
    * Shard counts are baked into the directory layout at first write, so a
    * later run opening the stores with DIFFERENT counts would hash keys into
    * shards the pruned reads never visit, silently losing candidates: that
    * mismatch is refused too. A meta with NO store data beside it pins
    * nothing (the first-ever run wrote its meta and crashed before any store
    * write), so a retry with other counts, or over an older meta, rewrites
    * it for free.
    */
  private[graft] val StoreFormat = 1

  private def metaPath(stores: Stores) = new org.apache.hadoop.fs.Path(stores.sigStore + "__meta")

  private[graft] def validateOrWriteMeta(spark: SparkSession, stores: Stores): Unit = {
    val mp = metaPath(stores)
    val conf = spark.sessionState.newHadoopConf()
    val meta = TableIO.readText(mp, conf).map(_.trim)
    def hasData = storeExists(spark, stores.sigStore) || storeExists(spark, stores.bucketStore)
    val layout =
      s"""{"format":$StoreFormat,"bucketShards":${stores.bucketShards},"sigShards":${stores.sigShards}}"""
    val m = """"format":(\d+),"bucketShards":(\d+),"sigShards":(\d+)""".r.unanchored
    meta match {
      case Some(`layout`)   => ()
      case _ if !hasData    => TableIO.writeAtomic(mp, layout, conf)
      case Some(m(f, b, s)) if f.toInt == StoreFormat =>
        throw new IllegalArgumentException(
          s"store at ${stores.sigStore} was laid out with bucketShards=$b/sigShards=$s; " +
            s"this run configured ${stores.bucketShards}/${stores.sigShards} — shard counts are " +
            "part of the on-disk layout and cannot change without a rebuild")
      case _ =>
        sys.error(s"stores at ${stores.sigStore} are not in store format $StoreFormat (layout meta $mp: " +
          s"${meta.getOrElse("missing")}): written by an incompatible version; rebuild the stores")
    }
  }

  /** Pair-store ingest-stamp high-water, persisted beside the store. The
    * stamp written with each batch's pairs is `max(batchSeq, highWater + 1)`,
    * so ingest_seq stays strictly monotone over the STORE's lifetime even
    * when the caller's sequence domain restarts — a checkpoint switch
    * (toggling `assembleIdleGapSec` re-keys the checkpoint and batchId
    * restarts at 0) or mixing the wall-clock default with later
    * batchId-stamped runs would otherwise stamp genuinely NEW pairs below
    * [[refreshClusters]]' `seen` high-water and exclude them from every
    * incremental refresh forever.
    *
    * Crash-safety, in both directions:
    *   - the stamp is BURNED (persisted) before the pair append
    *     ([[processBatch]]): a crash between burn and append merely wastes
    *     a stamp; the reverse order would let a later, different batch
    *     reuse a stamp that already-refreshed pairs carry — hiding its
    *     pairs below a `seen` high-water a caller was already handed;
    *   - persistence is a DIRECTORY of empty marker files
    *     (`<pairStore>__seq.d/v<stamp>`, the name IS the value, reader
    *     takes the max): file CONTENT can be truncated by a crash and a
    *     delete-then-rename swap has a window with no file at all, but a
    *     marker name is atomic — older markers are pruned best-effort
    *     after the new one is durable, and leftovers only waste bytes.
    * Invariant: in a format-[[StoreFormat]] store a pair store never exists
    * without its marker directory, because the first pair append follows a
    * burn and pruning always keeps the newest marker. So the markers alone
    * are the high-water; no marker directory means no stamp yet.
    */
  private def seqDir(stores: Stores) = new org.apache.hadoop.fs.Path(stores.pairStore + "__seq.d")

  private[graft] def seqHighWater(spark: SparkSession, stores: Stores): Long = {
    val dir = seqDir(stores)
    val fs = dir.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(dir)) Long.MinValue
    else fs.listStatus(dir).iterator.map(_.getPath.getName).collect {
      case n if n.startsWith("v") => n.drop(1).toLong
    }.foldLeft(Long.MinValue)(math.max)
  }

  /** Persist `v` as the new high-water (see [[seqHighWater]] for the crash
    * contract). Marker creation is the durability point; pruning older
    * markers afterwards is best-effort cleanup.
    */
  private[graft] def burnSeqHighWater(spark: SparkSession, stores: Stores, v: Long): Unit = {
    val dir = seqDir(stores)
    val fs = dir.getFileSystem(spark.sessionState.newHadoopConf())
    fs.mkdirs(dir)
    fs.create(new org.apache.hadoop.fs.Path(dir, s"v$v"), true).close()
    fs.listStatus(dir).foreach { st =>
      val n = st.getPath.getName
      if (n.startsWith("v") && n.drop(1).toLong < v) fs.delete(st.getPath, false)
    }
  }

  /** Per-batch cap visibility — the incremental analogue of the batch
    * pipeline's "no silent caps" contract (SURVEY §4): `newNew` carries the
    * chunk-cap accumulators through [[Dedup.candidates]] for the new x new
    * generator (rides the batch's own tasks, zero extra cost), and the
    * old-side hot-bucket thinning reports through the two old*
    * accumulators (one small aggregate over the cached narrowed store
    * read — the only extra job, paid only when metrics are requested).
    * `oldThinnedMembers` counts store rows the thinning removes in
    * expectation; each represents up to one lost new x old candidate per
    * matching new id in that bucket.
    */
  final case class BatchSkew(
      newNew: Dedup.SkewMetrics,
      oldOversizedBuckets: org.apache.spark.util.LongAccumulator,
      oldThinnedMembers: org.apache.spark.util.LongAccumulator
  )

  def batchSkew(spark: SparkSession): BatchSkew = BatchSkew(
    Dedup.skewMetrics(spark, "inc.newnew"),
    spark.sparkContext.longAccumulator("graft.inc.old.oversized_buckets"),
    spark.sparkContext.longAccumulator("graft.inc.old.thinned_members")
  )

  /** Bucket-append intent markers (`<bucketStore>__intent/`): created
    * before a batch's bucket append, deleted only after its sig append
    * commits — so a surviving marker means exactly "the bucket store may
    * hold rows for conversations the sig store never recorded" (a crash
    * landed between the two appends). Those orphan rows are the replay
    * hazard: the batch's re-run still sees its convs as new (the sig-store
    * anti-join gate) and would append a SECOND copy of bucket entries the
    * first attempt already wrote — duplicates the compaction's plain
    * rewrite never removes, which double-count the hot-bucket window and
    * silently hash-thin genuine members out of candidate generation.
    *
    * Recovery is state-keyed, not batch-keyed: when a marker is present at
    * batch start, [[sweepOrphanBucketRows]] rewrites the bucket store
    * keeping only rows whose conv exists in the sig store (compact's
    * atomic aside-rename swap), then clears the markers — any replay,
    * under ANY batching (including a checkpoint-topology switch that
    * regroups the input into different batches), now appends each
    * surviving conv's entries exactly once. Steady-state cost is two
    * filesystem ops per batch; the full-store rewrite is paid only on
    * crash recovery.
    */
  private[graft] def intentDir(stores: Stores) =
    new org.apache.hadoop.fs.Path(stores.bucketStore + "__intent")

  private[graft] def intentPending(spark: SparkSession, stores: Stores): Boolean = {
    val d = intentDir(stores)
    val fs = d.getFileSystem(spark.sessionState.newHadoopConf())
    fs.exists(d) && fs.listStatus(d).nonEmpty
  }

  private[graft] def burnIntent(spark: SparkSession, stores: Stores, batchSeq: Long): Unit = {
    val d = intentDir(stores)
    val fs = d.getFileSystem(spark.sessionState.newHadoopConf())
    fs.mkdirs(d)
    fs.create(new org.apache.hadoop.fs.Path(d, s"b$batchSeq"), true).close()
  }

  private[graft] def clearIntent(spark: SparkSession, stores: Stores): Unit = {
    val d = intentDir(stores)
    val fs = d.getFileSystem(spark.sessionState.newHadoopConf())
    if (fs.exists(d)) fs.listStatus(d).foreach(st => fs.delete(st.getPath, false))
  }

  /** All bucket entries of a signature frame, tagged by pass, plus their
    * store shard (hash of the full bucket key). The store is keyed by
    * `conv_id`: a batch's `uid`s mean nothing to the next batch.
    */
  private[graft] def bucketEntriesWithShard(sigs: DataFrame, cfg: Dedup.Config, nShards: Int): DataFrame =
    Dedup.bucketPasses(sigs, cfg, $"conv_id")
      .map { case (pass, b) => b.select(lit(pass).as("pass"), $"bucket", $"id", $"payload") }
      .reduce(_ unionByName _)
      .withColumn("shard", pmod(xxhash64($"pass", $"bucket"), lit(nShards)))

  /** Process one micro-batch of transcript rows. Returns (newConvs, newPairs).
    * `batchSeq` seeds the ingest stamp written with the batch's pairs so
    * [[refreshClusters]] can identify "pairs since the last refresh"; the
    * store clamps the actual stamp to `max(batchSeq, highWater + 1)` (see
    * [[seqHighWater]]), so the caller's sequence does NOT have to be
    * globally monotone — checkpoint resets, topology switches, and mixed
    * wall-clock/batchId domains all stay safe. Ties are harmless (duplicate
    * edges are CC-idempotent).
    */
  def processBatch(
      spark: SparkSession,
      batch: DataFrame,
      stores: Stores,
      cfg: Dedup.Config,
      batchSeq: Long = System.currentTimeMillis(),
      skew: Option[BatchSkew] = None
  ): (Long, Long) = {
    // an upstream assembly stage can hold EVERY turn back while watermarks
    // catch up: appending row-less frames would leave schema-less store
    // directories (only _SUCCESS) that break the next batch's read
    if (batch.isEmpty) return (0L, 0L)
    validateOrWriteMeta(spark, stores)
    // a surviving intent marker means an earlier attempt died between its
    // bucket and sig appends — sweep its orphan bucket rows BEFORE reading
    // the stores, so this batch's candidate generation and its own appends
    // both see a consistent store (see intentDir for the full contract)
    if (intentPending(spark, stores)) sweepOrphanBucketRows(spark, stores)
    // cached: the idempotence branch below reads it twice (shard-set
    // collect + anti-join into signatures) — uncached, the assemble
    // groupBy shuffle would run twice per batch
    val assembled = Dedup.assemble(batch).cache()
    // idempotent ingest: drop conversations the signature store already
    // holds (replayed files after a checkpoint reset, backfill overlap, a
    // post-TTL assembly straggler re-opening a closed conv) — the store is
    // append-once per conv_id BY CONSTRUCTION, not by delivery discipline.
    // The check reads only the batch's shard directories (pruned), like the
    // verify path below.
    val docs =
      if (!storeExists(spark, stores.sigStore)) assembled
      else {
        val shards = assembled
          .select(pmod(xxhash64($"conv_id"), lit(stores.sigShards)).as("s"))
          .distinct().collect().map(_.getLong(0)).toSeq
        assembled.join(
          prunedRead(spark, stores.sigStore, "sshard", shards, stores.sigShards)
            .select($"conv_id"),
          Seq("conv_id"),
          "left_anti")
      }
    val newSigs = Dedup.signatures(Dedup.shingle(docs, cfg), cfg).cache()
    val nNew = newSigs.count() // newSigs now materialized; assembled no longer needed
    assembled.unpersist()
    if (nNew == 0) { newSigs.unpersist(); return (0L, 0L) } // batch already ingested

    // (a) new x new — the batch generator over just this batch's signatures
    // (identical chunk-cap semantics to the batch pipeline, one shuffle);
    // the chunk-cap accumulators ride the same tasks when metrics are on.
    // Its pairs are of the batch's uids: map them to conv_ids
    var cands = Dedup.convIdPairs(Dedup.candidates(newSigs, cfg, skew.map(_.newNew)), newSigs)

    // (b) new x old — join new bucket entries against the persisted store;
    // old side of oversized buckets hash-thinned to bucketCap
    val newB = bucketEntriesWithShard(newSigs, cfg, stores.bucketShards).cache()
    val nNewB = newB.count() // materializes the cache; also the broadcast-size bound
    var oldCache: Option[DataFrame] = None
    if (storeExists(spark, stores.bucketStore)) {
      // two-level narrowing: the store READ is pruned to the shard
      // directories the batch's bucket keys hash into (scan IO), then
      // SEMI-JOINED down to the exact bucket keys so the hot-bucket size
      // count and the candidate join aggregate/shuffle only matching store
      // rows — per-batch shuffle tracks the batch, not the accumulated
      // corpus (StreamingSpec asserts both levels)
      val batchShards = newB.select($"shard").distinct().collect().map(_.getLong(0)).toSeq
      val batchBuckets = newB.select($"pass", $"bucket").distinct()
      // broadcast the key set only when the TRICKLE regime guarantees it
      // small (nNewB bounds the distinct bucket-key count from above): a
      // bulk/backfill micro-batch can carry tens of millions of keys, and a
      // forced broadcast of those would OOM the driver or trip the 8 GB
      // broadcast hard limit — at that size the shuffled semi-join is the
      // right plan and AQE keeps the option to demote it back
      val smallKeys = nNewB <= BroadcastKeyCap
      val bucketKeys = if (smallKeys) broadcast(batchBuckets) else batchBuckets
      // cached: the thinning reads it twice (hot-key count + join), the
      // counters a third time, and the pruned store scan runs once per batch.
      // NOT Dataset.observe for the counters: a CollectMetrics readback
      // deadlocks inside foreachBatch — the listener only fires for
      // top-level executions, and a micro-batch's nested actions never are.
      val key = Seq("pass", "bucket")
      val old = prunedRead(spark, stores.bucketStore, "shard", batchShards, stores.bucketShards)
        .drop("shard")
        .join(bucketKeys, key, "left_semi")
        .cache()
      oldCache = Some(old)
      for (sk <- skew) {
        val (oversized, thinned) = Dedup.thinCounts(old, key, cfg.bucketCap)
        sk.oldOversizedBuckets.add(oversized)
        sk.oldThinnedMembers.add(thinned)
      }
      // the hot keys are a subset of the batch's bucket keys, so they
      // broadcast under the same size guard
      val oldCapped = Dedup.thinHotKeys(old, key, xxhash64($"id", $"bucket"), cfg.bucketCap, smallKeys)
      val joined = newB.select($"pass", $"bucket", $"id".as("nid"), $"payload".as("np"))
        .join(oldCapped.select($"pass", $"bucket", $"id".as("oid"), $"payload".as("op")), key)
        .where($"nid" =!= $"oid")
        .where(Dedup.simhashGateCol(cfg)($"np", $"op"))
        .select(least($"nid", $"oid").as("id1"), greatest($"nid", $"oid").as("id2"))
      cands = cands.union(joined)
    }

    // exact verification: the candidate id set is small (bounded by this
    // batch's bucket matches), so the signature store is SEMI-JOINED down to
    // candidate endpoints before the verify joins — per-batch verify work is
    // O(candidates), not O(accumulated corpus); in the trickle regime the
    // semi join broadcasts the candidate ids, so the growing store is
    // scanned but never re-shuffled (cands is cached: it feeds both the id
    // set and the verify join). The new x old join repeats a pair once per
    // bucket the two share, so de-duplicate before verifying
    val candKeys = cands.select($"id1", $"id2").distinct().cache()
    val nCandKeys = candKeys.count() // materializes the cache; bounds the id-set size
    val candIds = candKeys.select($"id1".as("conv_id")).union(candKeys.select($"id2".as("conv_id")))
      .distinct()
    val sigCols = Seq($"conv_id", $"shingles", $"sig", $"simhash")
    val oldSigs =
      if (storeExists(spark, stores.sigStore)) {
        // same two-level narrowing as the bucket store: prune the READ to
        // the candidate ids' shard directories, then semi-join the exact
        // ids — broadcast only under the same size guard as the bucket-key
        // set (2 * candKeys bounds the distinct-id count from above)
        val candShards = candIds
          .select(pmod(xxhash64($"conv_id"), lit(stores.sigShards)).as("s"))
          .distinct().collect().map(_.getLong(0)).toSeq
        val idKeys = if (2 * nCandKeys <= BroadcastKeyCap) broadcast(candIds) else candIds
        prunedRead(spark, stores.sigStore, "sshard", candShards, stores.sigShards)
          .join(idKeys, Seq("conv_id"), "left_semi")
      } else newSigs.select(sigCols: _*).limit(0)
    val all = oldSigs.select(sigCols: _*).union(newSigs.select(sigCols: _*))
    val pairs = Dedup.verifyOn("conv_id", candKeys, all, cfg).cache()
    val nPairs = pairs.count()

    // skip the write when the batch found no pairs: an all-empty-partition
    // write can leave a data-file-less directory that breaks the next read,
    // and the high-water mark only needs to advance when edges were added.
    // The stamp is clamped above the store's persisted high-water (see
    // seqHighWater) so a restarting caller sequence can never mark new
    // pairs as already-refreshed — and it is BURNED before the append: a
    // crash between burn and append wastes a stamp harmlessly, while the
    // reverse order would let the next batch reuse a stamp whose pairs a
    // refresh already folded, hiding the new pairs from every refresh.
    if (nPairs > 0) {
      val stamp = seqHighWater(spark, stores) match {
        case Long.MinValue => batchSeq
        case hw            => math.max(batchSeq, hw + 1)
      }
      burnSeqHighWater(spark, stores, stamp)
      pairs.withColumn("ingest_seq", lit(stamp)).write.mode("append").parquet(stores.pairStore)
    }
    // intent marker brackets the two store appends (see intentDir): burned
    // before the bucket append, cleared only after the sig append commits —
    // a crash in between leaves the marker for the next run's orphan sweep
    burnIntent(spark, stores, batchSeq)
    newB.write.partitionBy("shard").mode("append").parquet(stores.bucketStore)
    newSigs.select(sigCols: _*)
      .withColumn("sshard", pmod(xxhash64($"conv_id"), lit(stores.sigShards)))
      .write.partitionBy("sshard").mode("append").parquet(stores.sigStore)
    clearIntent(spark, stores)
    oldCache.foreach(_.unpersist())
    newSigs.unpersist()
    newB.unpersist()
    candKeys.unpersist()
    pairs.unpersist()
    (nNew, nPairs)
  }

  /** Drive the incremental pipeline over everything currently in `inputDir`
    * (AvailableNow: consume the backlog as micro-batches, then stop).
    *
    * `assembleIdleGapSec`: when set, a [[ConvAssembly.completeConversations]]
    * stage buffers turns in keyed state and releases each conversation only
    * once the watermark proves it complete — lifting processBatch's
    * whole-conversations-per-file contract for ingests that chop a
    * conversation across files. Trailing conversations stay in the state
    * checkpoint until a later run's watermark passes them (AvailableNow
    * drains the backlog, not the horizon).
    */
  def runAvailableNow(
      spark: SparkSession,
      inputDir: String,
      stores: Stores,
      cfg: Dedup.Config = Dedup.Config(),
      maxFilesPerTrigger: Int = 4,
      assembleIdleGapSec: Option[Long] = None,
      assembleWatermarkDelay: String = "1 hour"
  ): Unit = {
    // refuse stores in another format before the stream writes its checkpoint
    validateOrWriteMeta(spark, stores)
    val schema = spark.read.parquet(inputDir).schema
    val stream = spark.readStream
      .schema(schema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .parquet(inputDir)
    val source = assembleIdleGapSec match {
      case Some(gap) =>
        ConvAssembly.completeConversations(stream, gap, assembleWatermarkDelay).toDF()
      case None => stream
    }
    val q = source.writeStream
      .trigger(Trigger.AvailableNow())
      // the checkpoint is keyed by query TOPOLOGY: toggling the assembly
      // stage changes the stateful-operator layout, and Spark refuses to
      // restore a checkpoint across that change. A separate checkpoint per
      // topology replays the input instead — safe, because processBatch's
      // sig-store anti-join makes re-ingestion a no-op per conversation.
      .option("checkpointLocation",
        if (assembleIdleGapSec.isDefined) s"${stores.pairStore}_ckpt_assembled"
        else s"${stores.pairStore}_ckpt")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        // batchId as the ingest-stamp SEED: monotone within one checkpoint;
        // across a checkpoint/topology switch it restarts at 0, which the
        // store's persisted high-water clamp absorbs (processBatch stamps
        // max(batchId, highWater + 1) — new pairs can never land below a
        // refreshClusters high-water already handed to a caller)
        val sk = batchSkew(spark)
        val (n, p) = processBatch(spark, batch, stores, cfg, batchSeq = batchId, skew = Some(sk))
        // "no silent caps": per-batch drop accounting, same contract as the
        // batch pipeline's skew log (accumulators are fresh per batch)
        println(s"[stream] batch $batchId: $n convs, $p new pairs" +
          s", capped buckets new=${sk.newNew.oversizedBuckets.value}" +
          s" old=${sk.oldOversizedBuckets.value}" +
          s", dropped newXnew pairs=${sk.newNew.droppedPairs.value}" +
          s", thinned old members=${sk.oldThinnedMembers.value}")
      }
      .start()
    q.awaitTermination()
  }

  /** Batch clustering over the accumulated pair store. Total over store
    * states a fresh deployment can be in: nothing ingested yet -> empty
    * labeling; conversations but no dup pairs yet -> every conv its own
    * singleton component (an unguarded read of a never-created store path
    * throws, and an always-on ingest loop legitimately reaches both states).
    */
  def clusterNow(spark: SparkSession, stores: Stores): DataFrame = storeLabels(spark, stores, identity)._1

  /** Incremental clustering refresh. The previous labeling is folded in as
    * STAR EDGES (conv_id -> its component label): a component label is the
    * min reachable id — itself a member conv_id — so the stars reproduce the
    * old graph's connectivity exactly and CC over (stars UNION pairs newer
    * than `prev`'s ingest_seq) yields the identical labeling to a full
    * re-cluster over every pair ever stored, while the CC input is
    * O(nodes + new pairs) instead of O(all pairs). Returns the labels plus
    * the ingest_seq high-water mark to pass as `prev` next time; `prev =
    * None` (or an empty pair store) degrades to the full batch job.
    */
  def refreshClusters(
      spark: SparkSession,
      stores: Stores,
      prev: Option[(DataFrame, Long)] = None
  ): (DataFrame, Long) = {
    val (labels, pairs) = storeLabels(spark, stores, all => prev match {
      case None => all
      case Some((prevLabels, seen)) =>
        val stars = prevLabels.where($"conv_id" =!= $"component")
          .select($"conv_id".as("id1"), $"component".as("id2"))
        all.where($"ingest_seq" > seen).select($"id1", $"id2").unionByName(stars)
    })
    // the same read of the pair store, so the same file listing, as the labels
    val upTo = pairs.map(_.agg(max($"ingest_seq")).first()).filter(!_.isNullAt(0))
    (labels, upTo.fold(Long.MinValue)(_.getLong(0)))
  }

  /** The labeling over the stores' current state, plus the pair store read
    * it clustered, if any: empty before any ingest, singletons before the
    * first pair, else connected components over `edges(pair store)`.
    */
  private def storeLabels(
      spark: SparkSession, stores: Stores, edges: DataFrame => DataFrame): (DataFrame, Option[DataFrame]) =
    if (!storeExists(spark, stores.sigStore))
      (spark.createDataFrame(Seq.empty[(String, String)]).toDF("conv_id", "component"), None)
    else {
      val nodes = spark.read.parquet(stores.sigStore).select($"conv_id")
      if (!storeExists(spark, stores.pairStore)) (nodes.select($"conv_id", $"conv_id".as("component")), None)
      else {
        val pairs = spark.read.parquet(stores.pairStore)
        (Dedup.cluster(spark, nodes, edges(pairs)), Some(pairs))
      }
    }

  /** Rewrite one store with bounded file counts: append-mode micro-batches
    * leave one file per (batch x shard); compaction folds them to one file
    * per shard directory via an atomic aside-rename swap (Hadoop FS, so it
    * holds on hdfs:// too; s3a renames are copies but stay atomic per the
    * committer's contract). Must run between batches — no concurrent writer.
    */
  private def compact(
      spark: SparkSession, path: String, partCol: Option[String], n: Int,
      transform: DataFrame => DataFrame = identity): Unit = {
    // storeExists FIRST: it also recovers a compaction that crashed between
    // the two renames below (restoring <path>__compact_old to <path>), so
    // the aside deletion here can only ever remove a STALE copy left by a
    // fully completed prior swap — never the lone surviving store
    if (!storeExists(spark, path)) return
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    val tmp = new org.apache.hadoop.fs.Path(path + "__compact_tmp")
    val aside = new org.apache.hadoop.fs.Path(path + "__compact_old")
    fs.delete(tmp, true)
    fs.delete(aside, true)
    val df = transform(spark.read.parquet(path))
    partCol match {
      // hash-repartition ON the partition column: every shard lands in
      // exactly one task, so each directory comes out as one file
      case Some(c) => df.repartition(n, col(c)).write.partitionBy(c).parquet(tmp.toString)
      case None    => df.repartition(n).write.parquet(tmp.toString)
    }
    // a transform can filter the store to nothing (the orphan sweep over a
    // store whose every conv was orphaned): swapping in zero rows would
    // leave a data-file-less directory that breaks the next read — absent
    // IS the legal empty-store state (every reader guards via storeExists).
    // Detect emptiness from the WRITTEN tmp (no data files under a
    // partitioned write; one schema-only file under a plain write — cheap
    // to re-read), not from an `isEmpty` pre-probe on `df`, which would
    // execute the transform's store scan + semi-join a second time.
    val it = fs.listFiles(tmp, true)
    var hasData = false
    while (!hasData && it.hasNext) hasData = it.next().getPath.getName.endsWith(".parquet")
    // dynamic-partition writers create part files lazily on the first row,
    // so under partitionBy a data file PROVES >= 1 row — only the plain
    // (pairStore) write can emit an eagerly-created 0-row file and needs
    // the confirming read of the (small, plain) tmp output
    if (!hasData || (partCol.isEmpty && spark.read.parquet(tmp.toString).isEmpty)) {
      fs.delete(tmp, true)
      fs.delete(p, true)
      return
    }
    require(fs.rename(p, aside), s"compact: cannot move $path aside")
    require(fs.rename(tmp, p), s"compact: cannot swap in compacted $path")
    fs.delete(aside, true)
  }

  /** Crash recovery for a surviving bucket-append intent marker (see
    * [[intentDir]]): drop every bucket row whose conversation the sig store
    * never recorded — the partial writes of a batch that died between its
    * two store appends. Afterwards any replay appends each surviving conv's
    * entries exactly once, regardless of how the replay re-batches the
    * input. The rewrite rides [[compact]]'s atomic swap, so a crash DURING
    * recovery is itself recoverable (markers are cleared only at the end).
    */
  private[graft] def sweepOrphanBucketRows(spark: SparkSession, stores: Stores): Unit = {
    if (storeExists(spark, stores.bucketStore)) {
      if (!storeExists(spark, stores.sigStore)) {
        // no sig store: every bucket row is an orphan (first-ever batch
        // crashed between appends) — the store reverts to absent
        val p = new org.apache.hadoop.fs.Path(stores.bucketStore)
        p.getFileSystem(spark.sessionState.newHadoopConf()).delete(p, true)
      } else {
        val sigIds = spark.read.parquet(stores.sigStore).select($"conv_id".as("id"))
        compact(spark, stores.bucketStore, Some("shard"), stores.bucketShards,
          _.join(sigIds, Seq("id"), "left_semi"))
      }
    }
    clearIntent(spark, stores)
  }

  /** Compact all three stores (see [[compact]]); call periodically from the
    * ingest driver (e.g. every k batches) or on demand.
    */
  def compactStores(spark: SparkSession, stores: Stores, pairFiles: Int = 8): Unit = {
    compact(spark, stores.bucketStore, Some("shard"), stores.bucketShards)
    compact(spark, stores.sigStore, Some("sshard"), stores.sigShards)
    compact(spark, stores.pairStore, None, pairFiles)
  }
}
