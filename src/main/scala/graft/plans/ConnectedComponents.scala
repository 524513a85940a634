package graft.plans

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Iterative large-star / small-star connected components over DataFrames
  * (Kiveris et al., "Connected Components in MapReduce and Beyond", SoCC'14)
  * — the scalable replacement for the reference's per-block igraph
  * `components()` calls (coauthor_glue.R:44-47, uni_glue_baseline.R:49-115)
  * and MST clustering (MT_Kruskal.R:153-158). Converges in O(log n) rounds
  * even on chain graphs; every round is two shuffles (groupBy min + join),
  * both AQE-managed, so it survives a 1000-executor scale-up.
  *
  * Node ids are strings — the algorithm only needs a total order, and string
  * ids avoid a 64-bit-hash collision risk at 10^12 nodes.
  */
object ConnectedComponents {

  /** edges: DataFrame(src, dst) undirected, any orientation, self-loops ok.
    * Returns DataFrame(id, component) covering every node present in edges;
    * component = min node id of the component.
    *
    * Adaptive execution, same spirit as Spark's broadcast-join cutoff: an
    * edge set at or under `localThreshold` rows is collected and solved with
    * driver-side union-find — one job plus a parallelize, versus the
    * iterative loop's ~8 barrier jobs whose fixed scheduling floor dwarfs the
    * actual work on small graphs (a 2M-edge set is ~64 MB on a driver that
    * Spark sizes in GB; the near-dup pair graph is a vanishing fraction of
    * corpus size — 100 TB of transcripts yields millions, not billions, of
    * verified pairs unless the corpus is mostly duplicates). Larger edge
    * sets take the distributed large-star/small-star loop unchanged. Both
    * paths produce the identical (id, min-node-id) labeling —
    * PropertiesSpec pins them against each other.
    *
    * Iteration state in the distributed loop is pinned per round. With
    * `checkpointDir` set the pin is a RELIABLE `checkpoint()` into that
    * directory — on a real cluster a lost executor recomputes from the
    * checkpoint files, whereas `localCheckpoint`'s executor-local blocks
    * would abort the whole job (unrecomputable lineage). Without a dir
    * (tests/ad-hoc local runs) it falls back to localCheckpoint for speed.
    * The production path (CheckpointedDedup) always passes its warehouse
    * checkpoint dir.
    *
    * Exiting via maxIter without reaching the edge-set fixpoint would return
    * a possibly-inconsistent labeling, so it throws instead; 50 doubled star
    * rounds cover any graph this universe stores (rounds needed ~ log n).
    */
  def run(
      spark: SparkSession,
      edges: DataFrame,
      maxIter: Int = 50,
      checkpointDir: Option[String] = None,
      localThreshold: Long = 1000000L
  ): DataFrame = {
    import spark.implicits._

    if (localThreshold > 0) {
      // ONE probe job collects up to threshold+1 rows (limit short-circuits
      // partition scans): if the limit comes back unsaturated we already
      // hold the whole edge set and reuse it directly — the previous
      // probe-count-then-collect shape executed the edges lineage twice in
      // the local case (for refreshClusters that lineage includes the prior
      // labeling plan end-to-end). Over-threshold graphs pay one bounded
      // driver transfer and proceed distributed. The limit argument is
      // clamped below Int.MaxValue: a caller-tuned threshold >= 2^31 would
      // otherwise wrap negative (limit throws) or, between 2^31 and 2^32,
      // truncate the probe and route an arbitrarily large graph into the
      // driver collect — above the clamp the distributed path is the only
      // sane answer anyway.
      val probeLimit = (math.min(localThreshold, Int.MaxValue - 2L) + 1L).toInt
      val probe = edges.select($"src".cast("string"), $"dst".cast("string"))
        .as[(String, String)].limit(probeLimit).collect()
      if (probe.length < probeLimit) return localUnionFind(spark, probe)
    }

    // reliable checkpoints are NOT reference-tracked by Spark (the
    // cleaner's cleanCheckpoints default is off, and it never covers the
    // non-final ones): left alone, every doubled round leaks one full edge
    // copy into checkpointDir forever. Each round checkpoints into its own
    // subdirectory and the PREVIOUS round's is deleted as soon as the new
    // pin has eagerly materialized (nothing references the superseded
    // round after that). The FINAL round's files back the returned
    // DataFrame's lineage, so they must outlive this call — callers delete
    // them via [[cleanCheckpoints]] once the result is persisted
    // (CheckpointedDedup does, right after its clusters stage lands).
    val runDir = checkpointDir.map(d => s"$d/run_${java.util.UUID.randomUUID()}")
    var round = 0
    var prevRoundDir: Option[String] = None
    def pin(d: DataFrame): DataFrame = runDir match {
      case Some(rd) =>
        val cur = s"$rd/r$round"
        // checkpointDir is CONTEXT-global: without the lock, two runs
        // sharing one SparkContext interleave — this run's files land under
        // the other run's round dir (the dir is captured when checkpoint()
        // registers, inside Dataset.checkpoint) and the other run's
        // next-round cleanup DELETES them. Serializing set-dir +
        // materialization is the price of reliable checkpoints; only the
        // rare above-cutoff concurrent runs ever contend here.
        val out = ConnectedComponents.checkpointDirLock.synchronized {
          spark.sparkContext.setCheckpointDir(cur)
          d.checkpoint(true) // eager: materialized before we return
        }
        // own files only — safe outside the lock
        prevRoundDir.foreach { old =>
          val p = new org.apache.hadoop.fs.Path(old)
          p.getFileSystem(spark.sessionState.newHadoopConf()).delete(p, true)
        }
        prevRoundDir = Some(cur)
        round += 1
        out
      case None => d.localCheckpoint(true)
    }

    // canonical directed-to-smaller representation: (hi > lo)
    def canon(e: DataFrame): DataFrame = e
      .select(
        greatest($"src", $"dst").as("hi"),
        least($"src", $"dst").as("lo")
      )
      .filter($"hi" =!= $"lo")
      .distinct()

    def sig(d: DataFrame): (Long, Option[Long]) =
      d.agg(count(lit(1)), bit_xor(xxhash64($"hi", $"lo"))).as[(Long, Option[Long])].first()

    // one large-star + small-star phase, declared lazily (no materialization)
    def starRound(in: DataFrame): DataFrame = {
      // --- large-star: for each node u, link every strictly-larger neighbor
      // to the minimum of u's closed neighborhood.
      val sym = in.select($"hi".as("u"), $"lo".as("v"))
        .union(in.select($"lo".as("u"), $"hi".as("v")))
      val mins = sym.groupBy($"u").agg(min($"v").as("mn"))
      val ls = sym
        .join(mins, "u")
        .select($"v".as("src"), least($"mn", $"u").as("dst"))
        .where($"src" > $"dst")
      val afterLs = canon(ls)

      // --- small-star: each node links its smaller-or-equal neighborhood
      // (including itself) to that neighborhood's minimum.
      val mins2 = afterLs.groupBy($"hi").agg(min($"lo").as("mn"))
      val ss = afterLs
        .join(mins2, "hi")
        .select($"lo".as("src"), $"mn".as("dst"))
        .union(mins2.select($"hi".as("src"), $"mn".as("dst")))
      canon(ss)
    }

    var cur = pin(canon(edges))
    var curSig = sig(cur)
    var converged = false
    var iter = 0
    while (!converged && iter < maxIter) {
      // two star phases per materialization: halves the checkpoint/agg job
      // rounds (the driver-side latency floor of the loop) without changing
      // the fixpoint
      val next = pin(starRound(starRound(cur)))

      // convergence: edge set unchanged (count + order-independent XOR
      // checksum); previous iteration's signature is reused, one agg job per
      // round
      val nextSig = sig(next)
      converged = curSig == nextSig
      cur = next
      curSig = nextSig
      iter += 1
    }
    if (!converged)
      throw new IllegalStateException(
        s"connected components did not reach its edge-set fixpoint in $maxIter doubled star rounds")

    // at convergence every edge is (node -> component root); roots map to themselves
    cur
      .select($"hi".as("id"), $"lo".as("component"))
      .union(cur.select($"lo".as("id"), $"lo".as("component")))
      .groupBy($"id")
      .agg(min($"component").as("component"))
  }

  /** Serializes the context-global `setCheckpointDir` + eager checkpoint
    * pair across concurrent [[run]]s in one JVM (see the pin() note).
    */
  private[plans] val checkpointDirLock = new Object

  /** Delete every `run_*` checkpoint tree under `dir`. Call ONLY once no
    * DataFrame returned by [[run]] with this `checkpointDir` is still
    * pending materialization — the final round's files back the result's
    * lineage (see the per-round cleanup note in [[run]]); after the result
    * is persisted (e.g. the checkpointed runner's clusters stage) they are
    * dead weight at one full edge-set copy per historical run. The same
    * rule extends across sessions: `dir` must not be a checkpoint root
    * SHARED with a pipeline that is still running, or its live final round
    * is collateral — give each pipeline its own warehouse (the
    * checkpointed runner does).
    */
  def cleanCheckpoints(spark: SparkSession, dir: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    if (fs.exists(p))
      fs.listStatus(p).foreach { st =>
        if (st.isDirectory && st.getPath.getName.startsWith("run_"))
          fs.delete(st.getPath, true)
      }
  }

  /** Driver-side union-find with path halving; representative = min node id
    * of each set (matching the distributed loop's labeling exactly,
    * independent of edge order).
    */
  private def localUnionFind(spark: SparkSession, edges: Array[(String, String)]): DataFrame = {
    import spark.implicits._
    // self-loops are dropped exactly like the distributed canon() — a node
    // appearing only in self-loops is absent from both labelings (callers
    // map uncovered nodes to themselves, Dedup.cluster:coalesce)
    val real = edges.filter(e => e._1 != e._2)
    val idx = scala.collection.mutable.HashMap[String, Int]()
    real.foreach { case (a, b) =>
      idx.getOrElseUpdate(a, idx.size); idx.getOrElseUpdate(b, idx.size)
    }
    val parent = Array.tabulate(idx.size)(identity)
    def find(x0: Int): Int = {
      var x = x0
      while (parent(x) != x) { parent(x) = parent(parent(x)); x = parent(x) }
      x
    }
    real.foreach { case (a, b) =>
      val (ra, rb) = (find(idx(a)), find(idx(b)))
      if (ra != rb) parent(ra) = rb
    }
    val names = new Array[String](idx.size)
    idx.foreach { case (name, i) => names(i) = name }
    // min node id per set
    val minOf = scala.collection.mutable.HashMap[Int, String]()
    var i = 0
    while (i < names.length) {
      val r = find(i)
      val cur = minOf.get(r)
      if (cur.isEmpty || names(i) < cur.get) minOf(r) = names(i)
      i += 1
    }
    val out = new Array[(String, String)](names.length)
    i = 0
    while (i < names.length) { out(i) = (names(i), minOf(find(i))); i += 1 }
    // slice so each task binary stays well under the 1 MiB scheduler warning:
    // a local collection is serialized INTO the task closures, so the slice
    // count — not defaultParallelism — bounds per-task payload (~20k labels
    // of ~50 bytes ≈ 1 MB total per slice at worst)
    val slices = math.max(spark.sparkContext.defaultParallelism, 1 + out.length / 20000)
    spark.createDataset(spark.sparkContext.parallelize(out.toIndexedSeq, slices)).toDF("id", "component")
  }
}
