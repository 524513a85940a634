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
  * same blocking idea the dedup pipeline applies to text.
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

  /** IVF-style ANN (IVF-Flat, the standard billion-scale layout): a coarse
    * quantizer partitions the corpus into nCells inverted lists; each query
    * probes its nProbe nearest centroids and brute-forces only those lists.
    *
    * The quantizer is a purpose-built deterministic Lloyd's k-means, NOT
    * ml.KMeans: vectors are quantized to integer millis so every centroid is
    * a ratio of order-independent long sums — the trained index and therefore
    * the query results are bit-identical at ANY partitioning/parallelism
    * (ml.KMeans' k-means|| init and double summation are partition-order
    * sensitive). Training runs on a deterministic hash sample (`sampleCap`),
    * the standard IVF practice; assignment and probing are pure map-side
    * literal-centroid expressions (no join, no window), so the only shuffles
    * in the query path are the probe join and the final top-k.
    * Returns (query_id, neighbor_id, cos, rank).
    */
  def ivfTopK(
      queries: DataFrame,
      corpus: DataFrame,
      k: Int,
      nCells: Int = 16,
      nProbe: Int = 3,
      seed: Long = 42L,
      iters: Int = 5,
      sampleCap: Int = 100000,
      listCap: Int = 100000
  ): DataFrame = {
    val centroids = trainCentroids(corpus, nCells, seed, iters, sampleCap)
    probeIvf(queries, centroids, buildLists(corpus, centroids, listCap), k, nProbe)
  }

  /** integer-milli quantization of the `vec` column (order-independent long
    * arithmetic downstream — the determinism backbone of the IVF path).
    *
    * TOTAL by construction, not by the upstream finiteVecs filter: under
    * ANSI mode the bare cast THROWS on NaN/Inf, and Catalyst may evaluate
    * this expression as a PREDICATE reordered relative to the guard filter
    * (measured: runtime bloom-filter injection on the IVF cell join key
    * evaluated the cast below the finiteVecs filter and failed the task on
    * a row the filter excludes). NaN and any magnitude the milli-space
    * cannot represent in a BIGINT (|x| > 9e15 — unit-norm embeddings live
    * twelve orders of magnitude below) quantize to 0; rows that reach
    * downstream semantics are still finiteVecs-clean.
    */
  private[ops] def quantExpr: Column =
    transform(col("vec"), x => {
      val d = x.cast("double")
      when(isnan(d) || abs(d) > lit(9.0e15), lit(0L))
        .otherwise(round(d * 1000).cast("long"))
    })

  /** Deterministic Lloyd quantizer over a hash sample of the corpus (see
    * ivfTopK doc): returns the trained centroids in quantized-milli space.
    * Bit-identical at any partitioning/parallelism.
    */
  def trainCentroids(
      corpus: DataFrame,
      nCells: Int,
      seed: Long = 42L,
      iters: Int = 5,
      sampleCap: Int = 100000
  ): Array[Array[Double]] = {
    val quant = quantExpr

    // the corpus dim is the modal WELL-FORMED vector size (one tiny
    // map-side-combined aggregate; ties break to the smaller size,
    // deterministically). The mode is taken over vectors that would
    // survive finiteVecs — counting merely non-null rows would let a
    // majority class of garbage (e.g. one bad encoder batch of all-NaN
    // dim-64 rows) pick a size whose finiteVecs pass is then EMPTY,
    // silently disabling the index while valid vectors of another size
    // exist. An all-degenerate corpus trains no centroids.
    val dimRow = corpus
      .where(col("vec").isNotNull &&
        !exists(col("vec"), v =>
          v.isNull || isnan(v) || abs(v.cast("double")) > lit(Float.MaxValue.toDouble)))
      .groupBy(size(col("vec")).as("sz")).agg(count(lit(1)).as("cnt"))
      .where(col("sz") >= 1)
      .orderBy(col("cnt").desc, col("sz").asc)
      .limit(1).collect()
    if (dimRow.isEmpty) return Array.empty
    val wf = finiteVecs(corpus, "vec", dimRow(0).getAs[Int]("sz"))

    // deterministic training sample of ~sampleCap rows
    val n = wf.count()
    if (n == 0) return Array.empty
    val keepPerM = if (n <= sampleCap) 1000000L else math.max(1L, sampleCap * 1000000L / n)
    val sample = wf
      .where(pmod(xxhash64(col("id"), lit(seed)), lit(1000000L)) < keepPerM)
      .select(col("id"), quant.as("qv"))
      .cache()

    // init: the nCells sample vectors with smallest hash rank
    var centroids: Array[Array[Double]] = sample
      .orderBy(xxhash64(col("id"), lit(seed + 1)), col("id"))
      .limit(nCells)
      .select(col("qv"))
      .collect()
      .map(_.getSeq[Long](0).map(_.toDouble).toArray)

    // Lloyd iterations: per-dim LONG sums (order-independent) -> new
    // centroids. Assignment inside the loop joins a tiny broadcast centroid
    // table instead of baking centroids into literal expressions: the plan
    // SHAPE stays constant across iterations, so analysis + whole-stage
    // codegen are cached after round one (literal centroids would recompile
    // a nCells x dim expression every iteration — measured as the dominant
    // cost of the whole index build). Argmin = min(struct(dist, cell)):
    // value-based, ties to the lowest cell, partition-order independent.
    val spark = corpus.sparkSession
    import spark.implicits._
    var it = 0
    while (it < iters) {
      val centDf = centroids.zipWithIndex.map { case (c, i) => (i, c.toSeq) }.toSeq
        .toDF("cell", "centroid")
      val dist = aggregate(
        zip_with(col("qv"), col("centroid"), (x, cc) => (x.cast("double") - cc) * (x.cast("double") - cc)),
        lit(0.0),
        (s, x) => s + x
      )
      val sums = sample
        .crossJoin(broadcast(centDf))
        .select(col("id"), col("qv"), struct(dist.as("dist"), col("cell").as("cell")).as("dc"))
        .groupBy(col("id"))
        .agg(min(col("dc")).as("m"), first(col("qv")).as("v")) // one qv per id: first is exact
        .select(col("m.cell").as("cell"), posexplode(col("v")).as(Seq("d", "v")))
        .groupBy(col("cell"), col("d"))
        .agg(sum(col("v")).as("s"), count(lit(1)).as("c"))
        .collect()
      val next = centroids.map(_.clone())
      sums.foreach { r =>
        next(r.getAs[Int]("cell"))(r.getAs[Int]("d")) =
          r.getAs[Long]("s").toDouble / r.getAs[Long]("c")
      }
      centroids = next // empty cells keep their previous centroid
      it += 1
    }
    sample.unpersist()
    centroids
  }

  /** native codegen'd distance row (bit-identical fold order to the HOF
    * composition it replaces — see CentroidSqDistances)
    */
  private[ops] def distArray(centroids: Array[Array[Double]])(vecCol: Column): Column =
    graft.functions.CentroidSqDistances(vecCol, centroids)

  /** argmin by value: ties resolve to the FIRST (lowest) cell — value-based,
    * so deterministic at any partitioning
    */
  private[ops] def assignExpr(centroids: Array[Array[Double]])(vecCol: Column): Column = {
    val d = distArray(centroids)(vecCol)
    (array_position(d, array_min(d)) - 1).cast("int")
  }

  /** IVF inverted lists for a trained quantizer: map-side cell assignment,
    * hot cells bounded like lshTopK. Output (neighbor_id, nv, cell) — the
    * frame `IvfIndex.save` persists partitioned by cell.
    */
  def buildLists(corpus: DataFrame, centroids: Array[Array[Double]], listCap: Int = 100000): DataFrame =
    // degenerate rows can't be quantized against the trained space (see
    // finiteVecs); an untrained quantizer (all-degenerate corpus) indexes
    // nothing
    if (centroids.isEmpty)
      corpus.select(col("id").as("neighbor_id"), col("vec").as("nv"), lit(0).as("cell")).limit(0)
    else
      Dedup.thinHotKeys(
        finiteVecs(corpus, "vec", centroids(0).length)
          .select(col("id").as("neighbor_id"), col("vec").as("nv"), assignExpr(centroids)(quantExpr).as("cell")),
        Seq("cell"), xxhash64(col("neighbor_id"), lit(0), col("cell")), listCap, broadcastHot = true)

  /** Probe path over trained centroids + inverted lists (fresh-built or
    * loaded from a persisted index): nProbe nearest centroids per query,
    * map-side — keep cells whose distance is within the nProbe-th smallest
    * (value-based: ties may probe one extra list, deterministically). nProbe
    * is clamped to the TRAINED centroid count: a tiny corpus can yield fewer
    * than nCells centroids and element_at past the end errors under ANSI
    * mode (Spark 4 default).
    */
  def probeIvf(
      queries: DataFrame,
      centroids: Array[Array[Double]],
      lists: DataFrame,
      k: Int,
      nProbe: Int = 3
  ): DataFrame = {
    if (centroids.isEmpty)
      return queries.select(col("id").as("query_id"), col("id").as("neighbor_id"),
        lit(0.0).as("cos"), lit(0).as("rank")).limit(0)
    val quant = quantExpr
    val kthIdx = math.min(nProbe, centroids.length)
    val probes = finiteVecs(queries, "vec", centroids(0).length)
      .select(col("id").as("query_id"), col("vec").as("qv"), distArray(centroids)(quant).as("ds"),
        element_at(array_sort(distArray(centroids)(quant)), kthIdx).as("kth"))
      .select(col("query_id"), col("qv"), col("kth"), posexplode(col("ds")).as(Seq("cell", "dist")))
      .where(col("dist") <= col("kth"))
      .select(col("query_id"), col("qv"), col("cell"))

    val w = Window.partitionBy(col("query_id")).orderBy(col("cos").desc, col("neighbor_id"))
    probes
      .join(lists, Seq("cell"))
      .where(col("query_id") =!= col("neighbor_id"))
      .withColumn("cos", cosine(col("qv"), col("nv")))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("cos"), col("rank"))
  }

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
