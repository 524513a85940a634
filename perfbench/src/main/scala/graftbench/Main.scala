package graftbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession

import graft.Sessions
import graft.pipeline.Eval

/** Benchmark entry point; `perfbench/run.py` builds the classpath and calls
  * it. Runs one workload at local[nproc]:
  *
  *   - generates the seeded corpus once (untimed, cached on disk);
  *   - sets up (session, warm-up pass: one untraced op over the input,
  *     first read of the input) and runs `warmOps` untimed ops;
  *   - untraced: runs `opsFor(seconds)` timed closed-loop ops in three
  *     blocks, each after a set-up of its own, checking each op's answer
  *     outside the timed section, and prints the end-to-end metrics;
  *   - traced: runs traced ops and prints the per-layer metrics.
  *
  * The last stdout line is the result object. Spans and raw per-op numbers
  * go to `<root>/results/`.
  */
object Main {

  final case class Args(
      workload: String, seed: Long, seconds: Double, trace: Boolean, root: String,
      expectHash: Option[String])

  def parse(argv: Array[String]): Args = {
    require(argv.length % 2 == 0, s"arguments must be --key value pairs: ${argv.mkString(" ")}")
    val m = argv.grouped(2).map { case Array(k, v) =>
      require(k.startsWith("--"), s"expected --key, got '$k'"); k.drop(2) -> v
    }.toMap
    def req(k: String) = m.getOrElse(k, sys.error(s"--$k is required"))
    Args(req("workload"), req("seed").toLong, req("seconds").toDouble, req("trace") == "1", req("root"),
      m.get("expect-hash"))
  }

  /** Ops one run times: `seconds` at the workload's nominal op wall, at
    * least one. A fixed count, not a time limit, so that every run times
    * the same ops at the same positions.
    */
  def opsFor(w: Workload, seconds: Double): Int = math.max(1, math.round(seconds / w.opSeconds).toInt)

  /** Untimed ops between the first set-up and the first timed op. Op walls
    * fall by about 40% over the first ten ops of a JVM as the JIT warms, so
    * that the first timed ops are not the slowest ones.
    */
  val warmOps = 1

  /** NaN for no values; a run whose ops all failed is reported as incorrect. */
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Every per-layer metric a traced run reports. A layer the workload does
    * not call reports 0.
    */
  val layerNames: Seq[String] = {
    val stageKeys = Seq("wall_s", "cpu_s", "gc_s", "shuffle_read_mb", "shuffle_write_mb", "spill_mb", "rows_out")
    Seq("shingle", "signatures", "candidates", "verify", "cluster").flatMap(l => stageKeys.map(k => s"dedup.$l.$k")) ++
      Seq(
        "dedup.sink.wall_s",
        "dedup.candidates.rows_distinct", "dedup.candidates.dup_ratio",
        "dedup.candidates.oversized_buckets", "dedup.candidates.dropped_pairs",
        "dedup.verify.yield", "dedup.cluster.edges_in", "dedup.cluster.jobs",
        "checkpoint.cold_s", "checkpoint.write_s", "checkpoint.write_mb", "checkpoint.skip_s", "checkpoint.resume_s",
        "scaling.eff_1_4", "scaling.cpu_inflation_1_4",
        "trace.overhead_s")
  }

  val units: Map[String, String] = layerNames.map { n =>
    n -> (n.split('.').last match {
      case k if k.endsWith("_s") => "s"
      case k if k.endsWith("_mb") => "MB"
      case "dup_ratio" | "yield" | "eff_1_4" | "cpu_inflation_1_4" => "ratio"
      case _ => "count"
    })
  }.toMap

  /** An answer checked in full; every op must reproduce its hash.
    * `violations` is empty when it passed.
    */
  final case class Reference(hash: String, violations: Seq[String], quality: Eval.PairwiseScores)

  /** Per-op numbers kept for the results file and the metrics. */
  final case class OpStats(wallS: Double, cpuS: Double, peakMb: Double, hash: String, violations: Seq[String])

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val w = Workloads(a.workload)
    val cores = Runtime.getRuntime.availableProcessors()
    val work = s"${a.root}/work/${w.name}"
    val setups = if (a.trace) 1 else 3
    /** Progress on stderr, at JVM uptime, so a run's time can be accounted for. */
    def phase(what: String): Unit =
      System.err.println(f"[perfbench] ${java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1e3}%7.1f s  $what")

    var spark: SparkSession = null
    var tracer: Tracer = null
    val spans = ArrayBuffer[Span]()
    /** Starts a session; the previous session's spans are kept. */
    def start(cores: Int, shufflePartitions: Option[Int] = None): Unit = {
      if (spark != null) { spans ++= tracer.spans; spark.stop() }
      spark = Sessions.local(cores, "perfbench", shufflePartitions)
      tracer = new Tracer(spark.sparkContext)
    }
    var corpus: Corpus = null
    var nTurns = 0L
    /** One set-up: a new session, one untraced warm-up op over the input
      * (answer discarded) and a first read of the input. Returns its wall.
      */
    def setUp(): Double = {
      val t0 = System.nanoTime()
      start(cores)
      // corpus generation is cached by seed and config, and is not set-up
      val g0 = System.nanoTime()
      if (corpus == null) corpus = w.corpus(spark, a.root, a.seed)
      val genNs = System.nanoTime() - g0
      tracer.span("setup.warmup")(w.run(spark, tracer, corpus, work, traced = false).cleanup())
      nTurns = spark.read.parquet(corpus.turns).count()
      (System.nanoTime() - t0 - genNs) / 1e9
    }
    val setupS = ArrayBuffer(setUp())
    for (_ <- 1 to warmOps)
      tracer.span("warmup")(w.run(spark, tracer, corpus, work, traced = false).cleanup())
    phase(f"set-up done (${setupS.head}%.2f s) and $warmOps warm-up ops")

    var reference: Option[Reference] = None
    /** Full check of one answer: the invariants, the recorded hash, quality. */
    def checkReference(op: Op, hash: String): Reference = {
      val inputConvs = spark.read.parquet(corpus.turns).select("conv_id").distinct()
      val v = Checks.invariants(op.answer, inputConvs, inputConvs.count(), Workloads.cfg.threshold) ++
        a.expectHash.filter(_ != hash).map(h => s"answer hash $hash differs from the recorded $h")
      Reference(hash, v, Checks.quality(spark, op.answer, corpus.truth))
    }

    var failed = 0
    var attempted = 0
    val ops = ArrayBuffer[OpStats]()
    val layerRuns = ArrayBuffer[Map[String, Double]]()

    /** Closed loop: `n` ops back to back. Every op's answer must hash like
      * the run's reference answer. The reference is the last op of the
      * run's first loop, checked in full after that loop, so no check query
      * runs between timed ops.
      */
    def loop(traced: Boolean, n: Int): Seq[OpStats] = {
      val done = ArrayBuffer[(Op, String)]()
      var errors = 0
      for (i <- 1 to n) {
        attempted += 1
        try {
          val op = w.run(spark, tracer, corpus, work, traced)
          val hash = Checks.answerHash(op.answer)
          // the last op keeps its cached data until the reference check
          if (i < n || reference.nonEmpty) op.cleanup()
          done += op -> hash
        } catch {
          case e: Exception =>
            System.err.println(s"[perfbench] op failed: $e")
            errors += 1
        }
      }
      phase(s"$n ${if (traced) "traced" else "untraced"} ops done")
      if (reference.isEmpty && done.nonEmpty) {
        val (last, hash) = done.last
        reference = Some(checkReference(last, hash))
        last.cleanup()
        phase("reference answer checked")
      }
      failed += errors
      val stats = done.toSeq.map { case (op, hash) =>
        val violations = reference.toSeq.flatMap { r =>
          r.violations ++ (if (hash == r.hash) Nil else Seq(s"answer hash $hash differs from the reference ${r.hash}"))
        } ++ op.sameAs.collect { case (l, h) if h != hash => s"answer differs from the $l ($h)" }
        violations.foreach(v => System.err.println(s"[perfbench] ${w.name} seed ${a.seed}: $v"))
        if (violations.nonEmpty) failed += 1
        if (traced) layerRuns += op.layers
        val totals = op.spans.map(tracer.total).reduce(_ + _)
        OpStats(op.wallS, totals.cpuS, Workloads.mbOf(totals.peakMemBytes), hash, violations)
      }
      ops ++= stats
      stats
    }

    val metrics: Seq[(String, Double, String)] =
      if (!a.trace) {
        // the timed ops run in `setups` blocks, each after a set-up, so that
        // a burst of load from other tenants of the host, which can last
        // tens of seconds, reaches only some of them
        val n = opsFor(w, a.seconds)
        val good = (0 until setups).flatMap { i =>
          if (i > 0) setupS += setUp()
          loop(traced = false, n / setups + (if (i < n % setups) 1 else 0))
        }.filter(_.violations.isEmpty)
        phase(s"set-ups took ${setupS.map(x => f"$x%.2f").mkString(", ")} s")
        val q = reference.get.quality
        if (good.isEmpty) Nil
        else Seq(
          ("setup_s", median(setupS.toSeq), "s"),
          ("turns_per_s", nTurns / median(good.map(_.wallS)), "turns/s"),
          ("cpu_s", median(good.map(_.cpuS)), "s"),
          ("peak_task_mem_mb", median(good.map(_.peakMb)), "MB"),
          ("pair_recall", q.recall, "ratio"),
          ("pair_precision", q.precision, "ratio"))
      } else {
        // batch_planted also runs one untraced op, the baseline of the
        // tracing overhead and of the one-core scaling pass; batch_skewed's
        // traced op adds a checkpointed pass and has no untraced twin
        val baseline = if (w eq BatchPlanted) loop(traced = false, 1).headOption else None
        val tracedOps = loop(traced = true, if (w eq BatchPlanted) math.max(1, opsFor(w, a.seconds) / 2) else 1)
        val extra = baseline.map { base =>
          // same logical work at one core: shuffle partitions pinned to the
          // count the nproc session uses
          start(1, Some(cores))
          val scaling = loop(traced = false, 1).headOption.map { one =>
            Map(
              "scaling.eff_1_4" -> one.wallS / (cores * base.wallS),
              "scaling.cpu_inflation_1_4" -> base.cpuS / one.cpuS)
          }
          scaling.getOrElse(Map.empty) + ("trace.overhead_s" -> (median(tracedOps.map(_.wallS)) - base.wallS))
        }.getOrElse(Map.empty)
        layerNames.map { n =>
          (n, extra.getOrElse(n, median(layerRuns.map(_.getOrElse(n, 0.0)).toSeq)), units(n))
        }
      }

    writeResults(a, setupS.toSeq, ops.toSeq, metrics, (spans ++ tracer.spans).toSeq)
    reference.foreach(r => System.err.println(s"[perfbench] answer_hash ${w.name} ${a.seed} ${r.hash}"))
    spark.stop()
    phase("session stopped")

    val correct = failed == 0 && metrics.nonEmpty
    val body = metrics.map { case (n, v, u) => s""""$n": {"value": ${num(v)}, "unit": "$u"}""" }.mkString(", ")
    println(s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": {$body}}""")
  }

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString

  private def q(s: String): String = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""

  /** Spans and raw per-op numbers of this run, written once at its end. */
  private def writeResults(a: Args, setupS: Seq[Double], ops: Seq[OpStats],
      metrics: Seq[(String, Double, String)], spans: Seq[Span]): Unit = {
    val dir = Paths.get(a.root, "results")
    Files.createDirectories(dir)
    val opsJson = ops.map { o =>
      s"""{"wall_s": ${num(o.wallS)}, "cpu_s": ${num(o.cpuS)}, """ +
        s""""peak_mb": ${num(o.peakMb)}, "hash": ${q(o.hash)}, "violations": ${o.violations.map(q).mkString("[", ", ", "]")}}"""
    }
    val spansJson = spans.map { s =>
      val c = s.own
      s"""{"id": ${q(s.id)}, "name": ${q(s.name)}, "parent": ${s.parent.map(q).getOrElse("null")}, """ +
        s""""start_ns": ${s.startNs}, "end_ns": ${s.endNs}, "jobs": ${c.jobs}, "tasks": ${c.tasks}, """ +
        s""""cpu_ns": ${c.cpuNs}, "gc_ms": ${c.gcMs}, "shuffle_read_bytes": ${c.shuffleReadBytes}, """ +
        s""""shuffle_write_bytes": ${c.shuffleWriteBytes}, "spill_bytes": ${c.spillBytes}, "peak_mem_bytes": ${c.peakMemBytes}}"""
    }
    val json =
      s"""{"workload": ${q(a.workload)}, "seed": ${a.seed}, "trace": ${a.trace}, """ +
        s""""setup_s": ${setupS.map(num).mkString("[", ", ", "]")}, """ +
        s""""metrics": {${metrics.map { case (n, v, _) => s"${q(n)}: ${num(v)}" }.mkString(", ")}}, """ +
        s""""ops": ${opsJson.mkString("[\n", ",\n", "]")}, "spans": ${spansJson.mkString("[\n", ",\n", "]")}}"""
    Files.writeString(dir.resolve(s"${a.workload}-seed${a.seed}-trace${if (a.trace) 1 else 0}.json"), json)
  }
}
