package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.CentroidSqDistances
import graft.pipeline.Dedup

/** IVF-Flat ANN, the standard billion-scale layout, in one module: a coarse
  * quantizer partitions the corpus into nCells inverted lists, and each
  * query brute-forces only the lists of its nProbe nearest centroids.
  * `assignExpr` is the one nearest-centroid rule and `topK` the one probe
  * rule, for built and loaded indexes alike.
  *
  * The quantizer is a purpose-built deterministic Lloyd's k-means, NOT
  * ml.KMeans: vectors are quantized to integer millis so every centroid is
  * a ratio of order-independent long sums, and the trained index and the
  * query results are bit-identical at ANY partitioning/parallelism
  * (ml.KMeans' k-means|| init and double summation are not). Training runs
  * on a deterministic hash sample (`sampleCap`); assignment and probing are
  * map-side codegen'd expressions, so the only shuffles in the query path
  * are the probe join and the final top-k.
  *
  * Build once, probe many times: `save` writes `path/centroids/` (cell,
  * centroid) and `path/lists/`, parquet PARTITIONED BY cell, one directory
  * per inverted list, through DataFrame writers (any Hadoop filesystem).
  * Probing a loaded index collects the probed cell set (<= nCells) into a
  * literal IN filter that Spark turns into partition pruning, so probe IO
  * is O(probed lists), not O(corpus).
  */
object IvfIndex {

  final case class Handle(centroids: Array[Array[Double]], lists: DataFrame)

  /** Train the deterministic quantizer and materialize the inverted lists;
    * probing a built or saved+loaded handle returns bit-identical results.
    */
  def build(
      corpus: DataFrame,
      nCells: Int = 16,
      seed: Long = 42L,
      iters: Int = 5,
      sampleCap: Int = 100000,
      listCap: Int = 100000
  ): Handle = {
    val centroids = trainCentroids(corpus, nCells, seed, iters, sampleCap)
    Handle(centroids, buildLists(corpus, centroids, listCap))
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
  private def quantExpr: Column =
    transform(col("vec"), x => {
      val d = x.cast("double")
      when(isnan(d) || abs(d) > lit(9.0e15), lit(0L))
        .otherwise(round(d * 1000).cast("long"))
    })

  /** Deterministic Lloyd quantizer over a hash sample of the corpus:
    * returns the trained centroids in quantized-milli space. Bit-identical
    * at any partitioning/parallelism. Ids are expected to be unique: the
    * sample is drawn by id hash and every sampled row counts once.
    */
  def trainCentroids(
      corpus: DataFrame,
      nCells: Int,
      seed: Long = 42L,
      iters: Int = 5,
      sampleCap: Int = 100000
  ): Array[Array[Double]] = {
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
    val wf = Ann.finiteVecs(corpus, "vec", dimRow(0).getAs[Int]("sz"))

    // deterministic training sample of ~sampleCap rows
    val n = wf.count()
    if (n == 0) return Array.empty
    val keepPerM = if (n <= sampleCap) 1000000L else math.max(1L, sampleCap * 1000000L / n)
    val sample = wf
      .where(pmod(xxhash64(col("id"), lit(seed)), lit(1000000L)) < keepPerM)
      .select(col("id"), quantExpr.as("qv"))
      .cache()

    // init: the nCells sample vectors with smallest hash rank
    var centroids: Array[Array[Double]] = sample
      .orderBy(xxhash64(col("id"), lit(seed + 1)), col("id"))
      .limit(nCells)
      .select(col("qv"))
      .collect()
      .map(_.getSeq[Long](0).map(_.toDouble).toArray)

    // Lloyd iterations: assign each sample row with `assignExpr`, then
    // per-dim LONG sums (order-independent) -> new centroids, one shuffle
    // per iteration. The cell is assigned in its own select BEFORE the
    // explode, so the distance row is evaluated once per row, not once per
    // exploded element. The centroids reach the generated code as a
    // reference object, so every iteration reuses the same compiled code.
    for (_ <- 0 until iters) {
      val sums = sample
        .select(assignExpr(centroids)(col("qv")).as("cell"), col("qv"))
        .select(col("cell"), posexplode(col("qv")).as(Seq("d", "v")))
        .groupBy(col("cell"), col("d"))
        .agg(sum(col("v")).as("s"), count(lit(1)).as("c"))
        .collect()
      val next = centroids.map(_.clone())
      sums.foreach { r =>
        next(r.getAs[Int]("cell"))(r.getAs[Int]("d")) =
          r.getAs[Long]("s").toDouble / r.getAs[Long]("c")
      }
      centroids = next // empty cells keep their previous centroid
    }
    sample.unpersist()
    centroids
  }

  /** The nearest-centroid rule: argmin by value, ties resolve to the FIRST
    * (lowest) cell — value-based, so deterministic at any partitioning.
    */
  private def assignExpr(centroids: Array[Array[Double]])(vecCol: Column): Column = {
    val d = CentroidSqDistances(vecCol, centroids)
    (array_position(d, array_min(d)) - 1).cast("int")
  }

  /** IVF inverted lists for a trained quantizer: map-side cell assignment,
    * hot cells bounded like `Ann.lshTopK`. Output (neighbor_id, nv, cell) —
    * the frame `save` persists partitioned by cell.
    */
  def buildLists(corpus: DataFrame, centroids: Array[Array[Double]], listCap: Int = 100000): DataFrame =
    // degenerate rows can't be quantized against the trained space (see
    // finiteVecs); an untrained quantizer (all-degenerate corpus) indexes
    // nothing
    if (centroids.isEmpty)
      corpus.select(col("id").as("neighbor_id"), col("vec").as("nv"), lit(0).as("cell")).limit(0)
    else
      Dedup.thinHotKeys(
        Ann.finiteVecs(corpus, "vec", centroids(0).length)
          .select(col("id").as("neighbor_id"), col("vec").as("nv"), assignExpr(centroids)(quantExpr).as("cell")),
        Seq("cell"), xxhash64(col("neighbor_id"), lit(0), col("cell")), listCap, broadcastHot = true)

  def save(spark: SparkSession, h: Handle, path: String): Unit = {
    import spark.implicits._
    h.centroids.zipWithIndex
      .map { case (c, i) => (i, c.toSeq) }
      .toSeq
      .toDF("cell", "centroid")
      .coalesce(1) // nCells rows of metadata — one file
      .write.mode("overwrite").parquet(s"$path/centroids")
    // ALWAYS the partitioned layout — one lineage execution, no emptiness
    // probe (an `isEmpty` pre-check would run the full buildLists shuffle a
    // second time just to pick a branch). A DEGENERATE index (empty lists)
    // writes no data files at all under partitionBy, which schema inference
    // cannot read — so load() reads the lists through the sidecar below.
    h.lists.write.mode("overwrite").partitionBy("cell").parquet(s"$path/lists")
    // 0-row unpartitioned sidecar pinning the lists schema (limit(0) folds
    // to an empty relation — no lineage execution; the write emits one
    // schema-bearing file): every index loads back with the EXACT
    // id/vector/cell types it was built with
    h.lists.limit(0).coalesce(1).write.mode("overwrite").parquet(s"$path/lists_schema")
  }

  /** Add vectors to a SAVED index without retraining: the new rows are
    * quantized against the index's OWN centroids and appended to their
    * cells' partition directories. Frozen centroids are the IVF maintenance
    * contract at serving scale (train once, add forever, rebuild on
    * distribution drift): the union of an initial build's lists and any
    * sequence of adds is EXACTLY the lists of one monolithic build over the
    * union corpus with the same centroids (OpsSpec pins probe bit-equality),
    * because cell assignment is a pure function of (vector, centroids).
    * `listCap` hash-thins per CALL — a cap that must bind globally needs a
    * rebuild, which is also when retraining is due.
    */
  def add(spark: SparkSession, path: String, vectors: DataFrame, listCap: Int = 100000): Unit = {
    val h = load(spark, path)
    // one write, one lineage execution: nothing-to-add (all rows degenerate,
    // or an untrained index whose frozen-centroid contract says rebuild, not
    // append) appends zero rows — which creates no data files and changes
    // nothing; probing an `isEmpty` first would run the whole quantization
    // shuffle twice
    buildLists(vectors, h.centroids, listCap)
      .write.mode("append").partitionBy("cell").parquet(s"$path/lists")
  }

  /** Load a saved index. An index without the `lists_schema` sidecar was
    * saved by an earlier layout and is refused: rebuild it with `build` +
    * `save` (there is one reader, no in-place migration).
    */
  def load(spark: SparkSession, path: String): Handle = {
    val sc = new org.apache.hadoop.fs.Path(s"$path/lists_schema")
    require(sc.getFileSystem(spark.sessionState.newHadoopConf()).exists(sc),
      s"IVF index at $path has no lists_schema sidecar: saved by an earlier layout; rebuild the index")
    val centroids = spark.read.parquet(s"$path/centroids")
      .orderBy("cell")
      .collect()
      .map(_.getSeq[Double](1).toArray)
    // one read path for empty and non-empty lists: the sidecar's schema
    // types the data columns and the `cell` partition column exactly as
    // built, and a file-less (degenerate) directory reads as empty
    val lists = spark.read.schema(spark.read.parquet(sc.toString).schema).parquet(s"$path/lists")
    Handle(centroids, lists)
  }

  /** Probe a handle: each well-formed query probes the cells within its
    * nProbe-th smallest centroid distance (value-based: ties may probe one
    * extra list, deterministically); nProbe is clamped to the TRAINED
    * centroid count, as element_at past the end errors under ANSI mode.
    * Lists read from a layout partitioned by `cell` (a loaded index) are
    * filtered to the probed cells; in-memory lists join as they are.
    * Returns (query_id, neighbor_id, cos, rank).
    */
  def topK(queries: DataFrame, h: Handle, k: Int, nProbe: Int = 3): DataFrame = {
    if (h.centroids.isEmpty)
      return queries.select(col("id").as("query_id"), col("id").as("neighbor_id"),
        lit(0.0).as("cos"), lit(0).as("rank")).limit(0)
    val dists = CentroidSqDistances(quantExpr, h.centroids)
    val kthIdx = math.min(nProbe, h.centroids.length)
    val probes = Ann.finiteVecs(queries, "vec", h.centroids(0).length)
      .select(col("id").as("query_id"), col("vec").as("qv"), dists.as("ds"),
        element_at(array_sort(dists), kthIdx).as("kth"))
      .select(col("query_id"), col("qv"), col("kth"), posexplode(col("ds")).as(Seq("cell", "dist")))
      .where(col("dist") <= col("kth"))
      .select(col("query_id"), col("qv"), col("cell"))
    val lists =
      if (!partitionedByCell(h.lists)) h.lists
      else h.lists.where(col("cell").isin(
        probes.select("cell").distinct().collect().map(_.getInt(0)).toSeq: _*))

    val w = Window.partitionBy(col("query_id")).orderBy(col("cos").desc, col("neighbor_id"))
    probes
      .join(lists, Seq("cell"))
      .where(col("query_id") =!= col("neighbor_id"))
      .withColumn("cos", Ann.cosine(col("qv"), col("nv")))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("cos"), col("rank"))
  }

  /** Whether `lists` reads a file layout partitioned by `cell`, the one
    * `save` writes, where a cell filter skips whole directories.
    */
  private def partitionedByCell(lists: DataFrame): Boolean =
    lists.queryExecution.analyzed.collectLeaves().exists {
      case l: LogicalRelation => l.relation match {
        case r: HadoopFsRelation => r.partitionSchema.fieldNames.contains("cell")
        case _                   => false
      }
      case _ => false
    }
}
