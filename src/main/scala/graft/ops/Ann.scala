package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.MinHashImpl
import graft.pipeline.Dedup

/** Approximate-nearest-neighbor search over an embedding column
  * (`array<float>`): brute-force cosine top-k as the exact baseline, and a
  * random-hyperplane (sign-LSH) bucketed variant as the scale path — at 10^9+
  * vectors the bucketed candidate join replaces the full cross product, the
  * same blocking idea the dedup pipeline applies to text. The IVF layout
  * (trained inverted lists) lives in [[IvfIndex]].
  */
object Ann {

  /** cosine similarity of two float-array columns, computed in double.
    * A zero vector has no direction: its similarity to anything is defined
    * as 0.0 rather than 0/0 — under ANSI mode (Spark 4 default) the bare
    * division is a DIVIDE_BY_ZERO task failure, not a NaN.
    *
    * Round 5: now the codegen'd [[graft.functions.CosineSim]] expression.
    * The original HOF composition (`aggregate(zip_with(...))` dot + self
    * dots) evaluated its lambdas interpreted PER ELEMENT and fell off
    * whole-stage codegen — ~6 s per million pairs at dim 16 in the
    * brute-force top-k paths. Bit-identical by construction (same IEEE
    * left-fold order, same zero-norm/null semantics; FunctionsSpec pins the
    * equivalence against the HOF composition, the a02-a07 oracles pin the
    * values cross-engine).
    */
  def cosine(a: Column, b: Column): Column = graft.functions.CosineSim(a, b)

  /** Rows whose `vecCol` is a well-formed point of the dim-dimensional
    * space: non-null, exactly `dim` components, all finite. A corpus-scale
    * embedding table carries nulls, short rows, and NaN/Inf payloads from
    * bad upstream encoder batches, and each is a TASK FAILURE somewhere
    * downstream, not a wrong number: NaN overflows the ANSI milli-quant
    * cast, a null vec violates the pair generator's typed encoder, a
    * wrong-dimension row breaks the dim-indexed codegen'd sign/centroid
    * expressions. Every public ANN entry point applies this filter; zero
    * vectors are KEPT (valid points with undefined direction — `cosine`
    * defines their similarity as 0).
    */
  def finiteVecs(df: DataFrame, vecCol: String, dim: Int): DataFrame =
    df.where(col(vecCol).isNotNull && size(col(vecCol)) === dim &&
      !exists(col(vecCol), v => isnan(v) || abs(v.cast("double")) > lit(Float.MaxValue.toDouble)))

  /** Exact brute-force top-k neighbors for every query vector. Queries should
    * be small (broadcast side); the corpus side streams. O(|Q| * |C|) — the
    * correctness baseline and the right choice when |Q| is small.
    * Input frames: (id, vec). Output: (query_id, neighbor_id, cos, rank).
    */
  def bruteForceTopK(queries: DataFrame, corpus: DataFrame, k: Int): DataFrame = {
    val q = queries.select(col("id").as("query_id"), col("vec").as("qv"))
    val c = corpus.select(col("id").as("neighbor_id"), col("vec").as("nv"))
    val scored = broadcast(q)
      .crossJoin(c)
      .where(col("query_id") =!= col("neighbor_id"))
      .withColumn("cos", cosine(col("qv"), col("nv")))
    val w = Window.partitionBy(col("query_id")).orderBy(col("cos").desc, col("neighbor_id"))
    scored
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("cos"), col("rank"))
  }

  /** sign-LSH bucket id per vector: nBits hyperplane signs packed to long.
    * A native codegen'd expression (PackedSignBits) — the per-plane
    * `aggregate(zip_with(...))` HOF composition it replaces fell off
    * whole-stage codegen and re-ran 64-148 interpreted lambda folds per row
    * (measured: a03 12.3 s -> 3.1 s, a02 4.3 s -> 2.0 s at sf0.1; the
    * remainder is multi-shuffle job overhead at that scale). Planes and
    * fold order are identical, so bucket ids are bit-identical to the
    * previous shape.
    */
  def signBucket(vec: Column, dim: Int, nBits: Int, seed: Long): Column =
    graft.functions.PackedSignBits(vec, dim, nBits, seed)

  /** Bucketed ANN: candidates = corpus vectors sharing the query's sign
    * bucket in ANY of `nTables` independent hash tables (multi-table sign-LSH
    * — standard recall amplification), then exact cosine + top-k over the
    * candidate set only. Approximate: recall measured against
    * bruteForceTopK in the spec.
    *
    * Skew discipline: a hot bucket (e.g. millions of padded or near-zero
    * vectors landing in one sign pattern) would make the candidate join
    * O(|bucket|) PER QUERY probing it. `bucketCap` bounds the inverted-list
    * length: oversized (table, bucket) lists keep a deterministic
    * hash-sampled ~cap members (the probe-list bound every production ANN
    * index applies — FAISS caps scanned codes per probe the same way). The
    * cap trades bounded recall on degenerate buckets for a hard upper bound
    * on join width; counts are exposed via the `capStats` companion so the
    * caller can log what was truncated (no silent loss).
    */
  def lshTopK(
      queries: DataFrame,
      corpus: DataFrame,
      dim: Int,
      k: Int,
      nBits: Int = 12,
      nTables: Int = 8,
      seed: Long = 42L,
      bucketCap: Int = 1024
  ): DataFrame = {
    val qb = signTables(queries, dim, nBits, nTables, seed).toDF("query_id", "qv", "table", "bucket")
    val nb = signTables(corpus, dim, nBits, nTables, seed).toDF("neighbor_id", "nv", "table", "bucket")
    val cb = Dedup.thinHotKeys(nb, Seq("table", "bucket"),
      xxhash64(col("neighbor_id"), col("table"), col("bucket")), bucketCap, broadcastHot = true)
    val cands = qb
      .join(cb, Seq("table", "bucket"))
      .where(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("qv"), col("neighbor_id"), col("nv"))
      .dropDuplicates("query_id", "neighbor_id")
    val w = Window.partitionBy(col("query_id")).orderBy(col("cos").desc, col("neighbor_id"))
    cands
      .withColumn("cos", cosine(col("qv"), col("nv")))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("cos"), col("rank"))
  }

  /** (id, vec, table, bucket): the sign bucket of each well-formed vector
    * in each of `nTables` tables — the rows lshTopK probes and capStats
    * counts.
    */
  private def signTables(df: DataFrame, dim: Int, nBits: Int, nTables: Int, seed: Long): DataFrame =
    finiteVecs(df, "vec", dim).select(
      col("id"),
      col("vec"),
      explode(array((0 until nTables).map(t =>
        struct(lit(t).as("table"), signBucket(col("vec"), dim, nBits, seed + t * 1000003L).as("bucket"))
      ): _*)).as("tb")
    ).select(col("id"), col("vec"), col("tb.table"), col("tb.bucket"))

  /** Truncation visibility for lshTopK's probe cap: (oversized list count,
    * total members dropped in expectation), counted over the same
    * finite-filtered table rows the cap sees (a NaN/Inf row never reaches
    * lshTopK's buckets, so it must not inflate these stats either — all-NaN
    * rows would otherwise pile into one phantom oversized bucket per
    * table). Call it when logging an index build, not per query.
    */
  def capStats(corpus: DataFrame, dim: Int, nBits: Int, nTables: Int, seed: Long, bucketCap: Int): (Long, Long) =
    Dedup.thinCounts(signTables(corpus, dim, nBits, nTables, seed), Seq("table", "bucket"), bucketCap)

  /** Embedding-cosine near-duplicate pairs over one corpus, through the SAME
    * capped chunked pair generator as text dedup (Dedup.bucketPairs): sign-LSH
    * buckets are pair-enumerated with a per-bucket cap (oversized buckets
    * chunk with hub chaining — O(n*cap) pairs, never O(n^2), with
    * accumulator-logged drops), a packed 64-bit sign signature rides along as
    * the payload so an in-stream Hamming gate prunes far pairs before any
    * vector is touched, and survivors pick their ids and vectors back up by
    * `uid` for the exact cosine test. The `uid`s follow the `id` order
    * (Dedup.withUid), so chunks and pair orientation are those of `id`.
    * Output: (id1, id2, cos).
    */
  def nearDupPairs(
      corpus: DataFrame,
      dim: Int,
      threshold: Double,
      nBits: Int = 14,
      nTables: Int = 6,
      seed: Long = 42L,
      bucketCap: Int = 256,
      metrics: Option[Dedup.SkewMetrics] = None
  ): DataFrame = {
    val gateBits = 64
    // sign-LSH theory: P[bit differs] = angle/pi; gate at E + 4 sigma keeps
    // essentially all pairs at `threshold` while pruning clearly-far ones
    val f = math.acos(math.min(1.0, math.max(-1.0, threshold))) / math.Pi
    val maxHam = math.min(
      gateBits,
      math.ceil(gateBits * f + 4 * math.sqrt(gateBits * f * (1 - f))).toInt
    )
    // a null id can never be joined back to its pairs: drop it up front
    val corpus0 = Dedup.withUid(finiteVecs(corpus, "vec", dim).where(col("id").isNotNull), col("id"))
    val bucketed = corpus0.select(
      explode(array((0 until nTables).map(t =>
        xxhash64(lit(t), signBucket(col("vec"), dim, nBits, seed + t * 1000003L))
      ): _*)).as("bucket"),
      col("uid").as("id"),
      signBucket(col("vec"), dim, gateBits, MinHashImpl.mix64(seed) | 1L).as("payload")
    )
    val cand = Dedup.bucketPairs(
      bucketed,
      bucketCap,
      (a, b) => java.lang.Long.bitCount(a ^ b) <= maxHam,
      metrics
    )
    val v = corpus0.select(col("uid"), col("id"), col("vec"))
    cand
      .dropDuplicates("id1", "id2")
      .join(v.toDF("id1", "k1", "v1"), "id1")
      .join(v.toDF("id2", "k2", "v2"), "id2")
      .withColumn("cos", cosine(col("v1"), col("v2")))
      .where(col("cos") >= threshold)
      .select(col("k1").as("id1"), col("k2").as("id2"), col("cos"))
  }
}
