package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.util.LongAccumulator

import graft.Cols._
import graft.functions.{text => T, BandKeys, MinHashSignature, SignatureAgreement, SimHash64, SortedIntersectSize}
import graft.plans.ConnectedComponents

/** End-to-end near-duplicate detection + clustering over transcripts
  * (conv_id, turn_idx, role, text, tool, ts) — the Spark-native re-expression
  * of the reference's blocking → pairwise-scoring → clustering flow
  * (Makefile:8-12 blocking; id_pairs.py:21-23 pair enumeration;
  * c_org.py:18-28 similarity; MT_Kruskal.R + likelihood.R clustering).
  *
  * Stages (each returns a DataFrame so the checkpoint runner can materialize
  * any prefix):
  *   assemble -> shingle -> signatures -> candidates (LSH ∪ SimHash ∪
  *   substring-anchor) -> verify (exact Jaccard) -> cluster (CC) -> clusters
  *
  * `assemble` gives every conversation a `uid: Long` whose order is the
  * `conv_id` string order. The bucket rows, the pair emitter and the
  * candidate pairs carry only `uid`s; `verify` maps them back to `conv_id`
  * from the signature rows it joins, so pairs and clusters are keyed by
  * `conv_id`.
  */
object Dedup {

  final case class Config(
      shingleK: Int = 5, // word shingles
      numPerms: Int = 128, // MinHash permutations
      bands: Int = 32, // 32 bands x 4 rows: ~0.9998 detection at s=0.70
      threshold: Double = 0.70, // exact-Jaccard accept threshold
      estMargin: Double = 0.20, // signature pre-filter slack below threshold
      bucketCap: Int = 256, // max ids per LSH bucket chunk (skew cap)
      seed: Long = 42L,
      simhashEnabled: Boolean = true,
      simhashMaxHamming: Int = 3, // 4x16-bit chunks guarantee d<=3 retrieval
      substringEnabled: Boolean = true,
      substringWindow: Int = 64, // chars; catches common substrings >= 95 chars
      substringStride: Int = 32
  ) {
    require(numPerms % bands == 0, "bands must divide numPerms")
    // payload-0 LSH/anchor rows pass the one SimHash gate only under a bound >= 0
    require(simhashMaxHamming >= 0, "simhashMaxHamming must be >= 0")
    def rows: Int = numPerms / bands
  }

  /** Per-conversation document assembly under stable turn ordering.
    * `array_sort` over struct(turn_idx, ...) makes the reference's implicit
    * positional ordering (SURVEY §1.3) explicit — collect_list order is
    * nondeterministic, the sort key is not. The assembly shuffle is a range
    * partitioning on `conv_id`, which also numbers the conversations (see
    * [[numberRanged]]: materialize the result before two consumers join on
    * `uid`). Output: (conv_id, doc, n_turns, uid)
    */
  def assemble(transcripts: DataFrame): DataFrame =
    numberRanged(
      transcripts
        .where($"conv_id".isNotNull) // a rowless key cannot cluster; drop, don't NPE
        .repartitionByRange($"conv_id")
        .groupBy($"conv_id")
        .agg(
          concat_ws(
            "\n",
            transform(
              array_sort(collect_list(struct($"turn_idx", $"text"))),
              s => s.getField("text")
            )
          ).as("doc"),
          count(lit(1)).as("n_turns")
        ),
      $"conv_id")

  /** Adds `uid: Long`, unique per row and ordered as `id` is, to a frame
    * already range-partitioned by `id`: partition i holds only ids below
    * those of partition i+1 (AQE coalescing merges adjacent partitions
    * only), and `monotonically_increasing_id` numbers each partition's rows
    * in its sort order. The pair emitter chunks oversized buckets in id
    * order, so numbering in the id's own Spark order keeps the same chunks,
    * dropped pairs and `id1 < id2` orientation as emitting on `id` itself.
    * Costs the range partitioner's sampling job, not a count.
    *
    * The numbering is fixed per evaluation, not per input: the range
    * partitioner samples with a per-run seed. So the emitter's pairs and the
    * rows that map them back must come from one materialized copy (a cached
    * or written `sigs`, as every stage boundary of [[stages]] provides).
    */
  private def numberRanged(ranged: DataFrame, id: Column): DataFrame =
    ranged.sortWithinPartitions(id).withColumn("uid", monotonically_increasing_id())

  /** [[numberRanged]] for a frame with any layout: one range shuffle. The
    * result is a lazy local checkpoint, so every branch of a query that
    * reads it sees the same numbering.
    */
  private[graft] def withUid(df: DataFrame, id: Column): DataFrame =
    numberRanged(df.repartitionByRange(id), id).localCheckpoint(eager = false)

  /** (conv_id, uid, doc, n_turns, shingles array<int> sorted distinct).
    * The reference's pre-tokenization normalization (P6,
    * venue_author_preprocess.R:18-39: lowercase, punctuation -> delimiter)
    * is FUSED inside ShingleHashes' single char pass — always on, map-side,
    * zero extra cost — so case/punctuation-variant near-dups cluster by
    * default (DedupPipelineSpec pins jaccard 1.0 for such variants). The
    * substring-anchor pass runs over the SAME normalized text (see
    * functions/text.scala windowAnchors: exact NORMALIZED-substring
    * semantics — case/punctuation variants of a long block still collide).
    */
  def shingle(docs: DataFrame, cfg: Config): DataFrame =
    docs.select(
      $"conv_id",
      $"uid",
      $"doc",
      $"n_turns",
      graft.functions.ShingleHashes($"doc", cfg.shingleK).as("shingles")
    )

  /** + (sig array<int>, simhash long, anchors array<long>) — winnowing
    * anchors are computed here, in the same map-side pass over the assembled
    * text, so the substring candidate pass never re-reads (or caches) the
    * full documents: downstream stages carry only hashes.
    */
  def signatures(shingled: DataFrame, cfg: Config): DataFrame =
    shingled.select(
      $"conv_id",
      $"uid",
      $"shingles",
      MinHashSignature($"shingles", cfg.numPerms, cfg.seed).as("sig"),
      SimHash64($"shingles").as("simhash"),
      (if (cfg.substringEnabled)
         T.windowAnchors($"doc", cfg.substringWindow, cfg.substringStride)
       else array().cast("array<bigint>")).as("anchors")
    )

  /** Skew metrics for one candidate pass — "no silent caps" (SURVEY §4):
    * oversized buckets and the pair count the chunk cap dropped (beyond the
    * hub chain that preserves connectivity) are counted via accumulators and
    * must be logged by the caller.
    */
  final case class SkewMetrics(oversizedBuckets: LongAccumulator, droppedPairs: LongAccumulator)

  def skewMetrics(spark: SparkSession, pass: String): SkewMetrics = SkewMetrics(
    spark.sparkContext.longAccumulator(s"graft.$pass.oversized_buckets"),
    spark.sparkContext.longAccumulator(s"graft.$pass.dropped_pairs")
  )

  /** Shared candidate-pair generator over (bucket, id, payload) rows — ONE
    * shuffle (hash partition by bucket), then streaming bounded-memory pair
    * emission per bucket via `flatMapSortedGroups`:
    *   - buckets of n <= cap emit all C(n,2) pairs (J1 analogue: the
    *     reference's block-local pair enumeration, id_pairs.py:21-23);
    *   - oversized (skewed) buckets are chunked to `cap` ids; pairs are
    *     exhaustive within a chunk and chunks are chained through their first
    *     ids, preserving bucket connectivity (cluster recall) while bounding
    *     the explosion to O(n*cap) instead of O(n^2). The reference is
    *     skew-blind (one process per block, SURVEY §4); this is the explicit
    *     skew handling the north_rule requires. Sorted groups keep the output
    *     deterministic under any shuffle arrival order.
    * `pairFilter` (e.g. the SimHash Hamming gate) prunes pairs in-stream.
    *
    * Shared beyond text: the embedding near-dup path (ops/Ann.nearDupPairs)
    * routes its sign-LSH buckets through here with a packed-sign-bit payload,
    * so one dense Hamming bucket can never go quadratic — hence the
    * package-private visibility.
    */
  private[graft] def bucketPairs(
      bucketed: DataFrame, // (bucket long, id long, payload long)
      cap: Int,
      pairFilter: (Long, Long) => Boolean = (_, _) => true,
      metrics: Option[SkewMetrics] = None
  ): DataFrame = {
    val spark = bucketed.sparkSession
    import spark.implicits._
    bucketed
      .as[(Long, Long, Long)]
      .groupByKey(_._1)
      .flatMapSortedGroups(col("id")) { (_, it) =>
        // almost all buckets are singletons (unique anchors/bands): bail out
        // before any allocation, or the per-group garbage dominates the stage
        val first = it.next()
        if (!it.hasNext) Iterator.empty
        else new Dedup.ChunkPairIterator(first, it, cap, pairFilter, metrics)
      }
      .toDF("id1", "id2")
  }

  /** Streaming bounded-memory pair emitter for one bucket (see bucketPairs).
    * Chunk buffers are thread-local (one Spark task per thread), so the
    * millions of small buckets share two arrays per core instead of
    * allocating per group.
    */
  private final class ChunkPairIterator(
      first: (Long, Long, Long),
      it: Iterator[(Long, Long, Long)],
      cap: Int,
      pairFilter: (Long, Long) => Boolean,
      metrics: Option[SkewMetrics]
  ) extends Iterator[(Long, Long)] {
    private val (ids, pls) = Dedup.buffers(cap)
    private var n = 0
    private var i = 0 // pair cursor within chunk
    private var j = 1
    private var pendingFirst = true
    private var prevHub = 0L
    private var hubPending = false // (prevHub, ids(0)) not yet emitted
    private var seen = 0L // total ids consumed (for dropped-pair accounting)
    private var more = false // (na, nb) holds the next pair
    private var na = 0L
    private var nb = 0L

    private def refill(): Unit = {
      val prevSeen = seen
      val hub = ids(0) // the previous chunk's first id, if prevSeen > 0
      n = 0; i = 0; j = 1
      if (pendingFirst) { ids(0) = first._2; pls(0) = first._3; n = 1; pendingFirst = false }
      while (n < cap && it.hasNext) {
        val t = it.next(); ids(n) = t._2; pls(n) = t._3; n += 1
      }
      seen += n
      if (prevSeen > 0 && n > 0) {
        // a bucket spilled into another chunk: count it once, and count the
        // cross-chunk pairs the cap dropped (minus the 1 hub edge kept)
        if (prevSeen == cap.toLong) metrics.foreach(_.oversizedBuckets.add(1))
        metrics.foreach(_.droppedPairs.add(prevSeen * n - 1))
        prevHub = hub; hubPending = true
      }
    }

    private def advance(): Boolean = {
      while (true) {
        if (hubPending) { hubPending = false; na = prevHub; nb = ids(0); return true }
        while (j < n) {
          val (a, b) = (i, j)
          j += 1
          if (j == n) { i += 1; j = i + 1 }
          if (pairFilter(pls(a), pls(b))) { na = ids(a); nb = ids(b); return true }
        }
        if (!it.hasNext) return false
        refill()
      }
      false
    }

    refill()
    more = advance()
    override def hasNext: Boolean = more
    override def next(): (Long, Long) = { val r = (na, nb); more = advance(); r }
  }

  private val tlBuffers = new ThreadLocal[(Array[Long], Array[Long])]
  private def buffers(cap: Int): (Array[Long], Array[Long]) = {
    var b = tlBuffers.get()
    if (b == null || b._1.length < cap) {
      b = (new Array[Long](cap), new Array[Long](cap))
      tlBuffers.set(b)
    }
    b
  }

  /** (bucket, id, payload) rows of the MinHash LSH banding pass — shared by
    * the batch candidate generator (`id` = `uid`) and the incremental bucket
    * store (`id` = `conv_id`, stable across batches).
    */
  private[graft] def lshBuckets(sigs: DataFrame, cfg: Config, id: Column): DataFrame =
    sigs.select(
      explode(BandKeys($"sig", cfg.bands, cfg.rows)).as("bucket"),
      id.as("id"),
      lit(0L).as("payload")
    )

  /** (bucket, id, payload=simhash) rows of the SimHash chunk pass: every
    * pair within Hamming distance 3 shares a 16-bit chunk (pigeonhole).
    */
  private[graft] def simhashBuckets(sigs: DataFrame, cfg: Config, id: Column): DataFrame =
    sigs.select(
      explode(
        array((0 until 4).map(i =>
          xxhash64(shiftrightunsigned($"simhash", i * 16).bitwiseAND(lit(0xffffL)), lit(i))
        ): _*)
      ).as("bucket"),
      id.as("id"),
      $"simhash".as("payload")
    )

  /** (bucket, id, payload) rows of the winnowing-anchor substring pass. */
  private[graft] def anchorBuckets(sigs: DataFrame, cfg: Config, id: Column): DataFrame =
    sigs.select(
      explode($"anchors").as("bucket"),
      id.as("id"),
      lit(0L).as("payload")
    )

  /** The bucket passes `cfg` enables, under their store names. Only SimHash
    * rows carry a non-zero payload.
    */
  private[graft] def bucketPasses(sigs: DataFrame, cfg: Config, id: Column = col("uid")): Seq[(String, DataFrame)] =
    Seq("lsh" -> lshBuckets(sigs, cfg, id)) ++
      (if (cfg.simhashEnabled) Seq("sim" -> simhashBuckets(sigs, cfg, id)) else Nil) ++
      (if (cfg.substringEnabled) Seq("sub" -> anchorBuckets(sigs, cfg, id)) else Nil)

  /** The SimHash gate: a pair passes iff its payloads differ in at most
    * `simhashMaxHamming` bits, so payload-0 rows always pass. The emitter
    * applies it as a function, a join as [[simhashGateCol]].
    */
  private[graft] def simhashGate(cfg: Config): (Long, Long) => Boolean = {
    val maxD = cfg.simhashMaxHamming
    (a, b) => java.lang.Long.bitCount(a ^ b) <= maxD
  }

  private[graft] def simhashGateCol(cfg: Config)(a: Column, b: Column): Column =
    bit_count(a.bitwiseXOR(b)) <= cfg.simhashMaxHamming

  /** The hash-thinning cap: a `key` with more than `cap` member rows keeps
    * a member iff `pmod(salt, members) < cap` — a deterministic
    * Bernoulli(cap/members) thinning, no sort and no per-key window (which
    * would serialize the hot key onto one task); the count aggregate
    * combines map-side. `broadcastHot` broadcasts the oversized-key set:
    * only where that set is known small.
    */
  private[graft] def thinHotKeys(
      rows: DataFrame, key: Seq[String], salt: Column, cap: Int, broadcastHot: Boolean): DataFrame = {
    val hot = hotKeys(rows, key, cap)
    rows
      .join(if (broadcastHot) broadcast(hot) else hot, key, "left_outer")
      .where(col("bsz").isNull || pmod(salt, col("bsz")) < cap)
      .select(rows.columns.map(col): _*)
  }

  /** The two counters of [[thinHotKeys]] over the same `rows`: (oversized
    * keys, members thinned in expectation). One aggregate job.
    */
  private[graft] def thinCounts(rows: DataFrame, key: Seq[String], cap: Int): (Long, Long) = {
    val r = hotKeys(rows, key, cap).agg(count(lit(1)), coalesce(sum(col("bsz") - cap), lit(0L))).first()
    (r.getLong(0), r.getLong(1))
  }

  /** (key..., bsz) for each key with more than `cap` members. */
  private def hotKeys(rows: DataFrame, key: Seq[String], cap: Int): DataFrame =
    rows.groupBy(key.map(col): _*).agg(count(lit(1)).as("bsz")).where(col("bsz") > cap)

  /** ALL enabled candidate passes in ONE shuffle: the three bucket frames
    * (disjoint 64-bit key spaces) union before the single hash-partition +
    * sorted-group pair emission, so the full candidate generation costs one
    * shuffle of the combined entries instead of three separate
    * groupBy-shuffles over the same cached signatures (each with its own job
    * scheduling + codegen floor — measurable at any scale, dominant at
    * bench scale). Pair semantics are identical to the three separate
    * passes: buckets never merge across passes, so chunking/caps behave the
    * same, and the SimHash gate passes every pair of payload-0 LSH/anchor
    * rows (a genuine simhash of 0 — an empty doc — passes the gate and is
    * caught by exact verification like any other candidate).
    *
    * A pair shares a bucket in many bands and passes, so the emitter repeats
    * it dozens of times; the pairs are de-duplicated here, map-side first,
    * on the two `uid`s. Output: distinct (id1, id2) `uid` pairs, id1 < id2.
    */
  def candidates(sigs: DataFrame, cfg: Config, metrics: Option[SkewMetrics] = None): DataFrame =
    bucketPairs(bucketPasses(sigs, cfg).map(_._2).reduce(_ union _), cfg.bucketCap, simhashGate(cfg), metrics)
      .distinct()

  /** (id1, id2) `uid` pairs mapped to (id1, id2) `conv_id` pairs through the
    * (uid, conv_id) columns of `sigs`.
    */
  def convIdPairs(pairs: DataFrame, sigs: DataFrame): DataFrame = {
    val ids = sigs.select($"uid", $"conv_id")
    pairs
      .join(ids.toDF("id1", "c1"), "id1")
      .join(ids.toDF("id2", "c2"), "id2")
      .select($"c1".as("id1"), $"c2".as("id2"))
  }

  /** Verification of distinct candidate pairs against exact shingle-set
    * Jaccard (c_org.py:18-28 analogue, keyed joins instead of positional
    * alignment). One fused join pass: pairs pick up (conv_id, sig, shingles)
    * for each side in two shuffles total; the cheap 128-int signature
    * estimate gates the merge-intersection of the full shingle arrays
    * row-locally. ShingleHashes emits sorted arrays, so exact |∩| is a linear
    * merge (SortedIntersectSize), not a hash build. `cands` are the distinct
    * `uid` pairs of [[candidates]]. Output: (id1, id2, jaccard) with
    * `conv_id`s.
    */
  def verify(cands: DataFrame, sigs: DataFrame, cfg: Config): DataFrame = verifyOn("uid", cands, sigs, cfg)

  /** [[verify]] over distinct candidate pairs of the `sigs` column `key`:
    * `uid` for the batch pipeline, `conv_id` for the incremental one, whose
    * stores know no `uid`.
    */
  private[graft] def verifyOn(key: String, cands: DataFrame, sigs: DataFrame, cfg: Config): DataFrame = {
    def side(i: Int) =
      sigs.select(col(key).as(s"id$i"), $"conv_id".as(s"c$i"), $"sig".as(s"sig$i"), $"shingles".as(s"sh$i"))
    val est = SignatureAgreement($"sig1", $"sig2").cast("double") / cfg.numPerms
    val inter = SortedIntersectSize($"sh1", $"sh2").cast("double")
    val uni = (size($"sh1") + size($"sh2")).cast("double") - inter
    cands
      .join(side(1), "id1")
      .join(side(2), "id2")
      .where(est >= cfg.threshold - cfg.estMargin)
      .withColumn("jaccard", when(uni === 0d, lit(1.0)).otherwise(inter / uni))
      .where($"jaccard" >= cfg.threshold)
      .select($"c1".as("id1"), $"c2".as("id2"), $"jaccard")
  }

  /** Cluster verified pairs; every conversation gets a row (singletons map to
    * themselves). `ccCheckpointDir` switches the CC loop to reliable
    * checkpointing (fault-tolerant on a real cluster); the checkpointed
    * runner always passes its warehouse dir. Output: (conv_id, component)
    */
  def cluster(
      spark: SparkSession,
      allIds: DataFrame,
      edges: DataFrame,
      ccCheckpointDir: Option[String] = None
  ): DataFrame = {
    val comps = ConnectedComponents.run(
      spark,
      edges.select($"id1".as("src"), $"id2".as("dst")),
      checkpointDir = ccCheckpointDir
    )
    allIds
      .select($"conv_id")
      .join(comps.withColumnRenamed("id", "conv_id"), Seq("conv_id"), "left_outer")
      .select($"conv_id", coalesce($"component", $"conv_id").as("component"))
  }

  final case class Result(
      docs: DataFrame, // (conv_id, doc, n_turns, uid)
      sigs: DataFrame, // (conv_id, uid, shingles, sig, simhash, anchors)
      pairs: DataFrame, // (id1, id2, jaccard) verified
      clusters: DataFrame, // (conv_id, component)
      skew: Map[String, SkewMetrics] = Map.empty // per-pass cap metrics
  )

  /** One stage boundary, with `StageRunner.stage`'s shape: materializes (or
    * leaves lazy) the stage `name`, whose fingerprint is `config` plus the
    * fingerprints of its `upstream` stages, from `build`. `counters` are the
    * accumulators `build` adds to; a boundary that skips `build` must
    * restore their values.
    */
  trait StageBoundary {
    def stage(name: String, config: String, upstream: Seq[String], counters: Seq[LongAccumulator] = Nil)(
        build: => DataFrame): DataFrame
  }

  /** Layout of the stage tables, part of the docs stage's fingerprint (and so,
    * chained, of every stage's): a checkpoint written in another layout is
    * rebuilt, never read. `uid1`: docs, sigs and candidates carry `uid`.
    */
  private val StageFormat = "uid1"

  /** The dedup stage list, declared once: docs -> sigs -> candidates ->
    * pairs -> clusters, each passed through `boundary`, which decides how
    * the stage is materialized: `run` caches the reused ones, the
    * checkpointed runner writes tables, `PipelineMain --profile` caches and
    * times each stage. Tables: docs (conv_id, doc, n_turns, uid), sigs (see
    * [[Result]]), candidates (distinct (id1, id2) `uid` pairs), pairs
    * (id1, id2, jaccard) and clusters (conv_id, component), keyed by
    * `conv_id`. The candidates skew counters are final once the pairs stage
    * has been computed. `inputFingerprint` feeds the docs stage's
    * fingerprint; `ccCheckpointDir` goes to `cluster`.
    */
  def stages(
      spark: SparkSession,
      transcripts: DataFrame,
      cfg: Config,
      boundary: StageBoundary,
      inputFingerprint: String = "",
      ccCheckpointDir: Option[String] = None
  ): Result = {
    val c = cfg.toString
    val skew = skewMetrics(spark, "candidates")
    val docs = boundary.stage("docs", s"assemble|$StageFormat|$c|$inputFingerprint", Nil)(assemble(transcripts))
    val sigs = boundary.stage("sigs", s"signatures|$c", Seq("docs"))(signatures(shingle(docs, cfg), cfg))
    val cands = boundary.stage("candidates", s"candidates|$c", Seq("sigs"),
      Seq(skew.oversizedBuckets, skew.droppedPairs))(candidates(sigs, cfg, Some(skew)))
    val pairs = boundary.stage("pairs", s"verify|$c", Seq("candidates", "sigs"))(verify(cands, sigs, cfg))
    val clusters = boundary.stage("clusters", s"cluster|$c", Seq("pairs", "sigs"))(
      cluster(spark, sigs, pairs, ccCheckpointDir))
    Result(docs, sigs, pairs, clusters, Map("candidates" -> skew))
  }

  /** Full pipeline. Reused intermediates are cached (MEMORY_AND_DISK) — the
    * local analogue of the per-stage checkpoint tables the Checkpointed
    * runner writes at cluster scale; without it every downstream consumer
    * re-executes the assemble/shingle/verify chain. `sigs` feeds candidates,
    * verify and cluster; `pairs` feeds cluster and the caller's sink; docs,
    * candidates and clusters have one consumer each and stay lazy.
    */
  def run(spark: SparkSession, transcripts: DataFrame, cfg: Config = Config()): Result =
    stages(spark, transcripts, cfg, new StageBoundary {
      def stage(name: String, config: String, upstream: Seq[String], counters: Seq[LongAccumulator])(
          build: => DataFrame): DataFrame =
        if (name == "sigs" || name == "pairs") build.cache() else build
    })
}
