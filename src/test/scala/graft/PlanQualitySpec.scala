package graft

import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan quality gates — the "would this survive a 100x scale-up"
  * checks: predicate pushdown reaches the parquet scan, column pruning keeps
  * ReadSchema minimal, small dimensions broadcast, hot expressions stay
  * inside whole-stage codegen.
  */
class PlanQualitySpec extends AnyFunSuite {
  lazy val spark = Sessions.local(4, "plan-spec")
  val sf = "/root/testdata/sf0.001"

  private def formatted(df: org.apache.spark.sql.DataFrame): String = {
    val plan = df.queryExecution.executedPlan
    plan.toString + "\n" + df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
  }

  test("filter + projection are pushed into the parquet scan") {
    val df = SparkEntry.queries("q02_filter_project")(spark, sf)
    val s = formatted(df)
    assert(s.contains("PushedFilters:") && s.contains("l_quantity"), s.take(2000))
    assert(s.contains("GreaterThan(l_quantity,45.0)"), "quantity filter must reach the scan")
    // pruned schema: only 4 referenced columns read, not all 11
    val readSchema = "ReadSchema:.*".r.findFirstIn(s).getOrElse("")
    assert(readSchema.contains("l_orderkey") && !readSchema.contains("l_extendedprice"),
      s"scan must prune unused columns: $readSchema")
  }

  test("small dimension tables broadcast in the join query") {
    val df = SparkEntry.queries("q03_join_agg")(spark, sf)
    val s = df.queryExecution.executedPlan.toString
    assert(s.contains("BroadcastHashJoin"), s.take(3000))
  }

  test("semi/anti joins use join strategies, not subquery re-scans") {
    val anti = SparkEntry.queries("q05_anti")(spark, sf).queryExecution.executedPlan.toString
    assert(anti.contains("LeftAnti"), anti.take(2000))
    val semi = SparkEntry.queries("q06_semi")(spark, sf).queryExecution.executedPlan.toString
    assert(semi.contains("LeftSemi"), semi.take(2000))
  }

  test("assemble->signatures is a single shuffle with map-side signature compute") {
    val t = graft.synth.Synth.transcripts(spark, graft.synth.Synth.Config(nClusters = 10)).toDF
    val sigs = graft.pipeline.Dedup.signatures(
      graft.pipeline.Dedup.shingle(graft.pipeline.Dedup.assemble(t), graft.pipeline.Dedup.Config()),
      graft.pipeline.Dedup.Config())
    val s = sigs.queryExecution.executedPlan.toString
    // exactly ONE exchange: the groupBy(conv_id) assembly shuffle; shingling +
    // minhash + simhash are computed directly above it, no extra shuffle
    assert("Exchange".r.findAllIn(s).size == 1, s.take(3000))
    // shinglehashes collapses into the aggregate's result projection (it is
    // not printed); the signature expressions sit in the project right above
    assert(s.contains("minhashsignature") && s.contains("simhash64"))
    // custom expressions themselves are WSCG-capable (proven over a codegen
    // source in FunctionsSpec); the span break here is collect_list's object
    // aggregate, which is inherent to the assembly shape
  }

  test("candidates and verify evaluate no expression interpreted (no HOF, no CodegenFallback)") {
    import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    val cfg = graft.pipeline.Dedup.Config()
    val t = graft.synth.Synth.transcripts(spark, graft.synth.Synth.Config(nClusters = 10)).toDF
    val sigs = graft.pipeline.Dedup.signatures(
      graft.pipeline.Dedup.shingle(graft.pipeline.Dedup.assemble(t), cfg), cfg).cache()
    val cands = graft.pipeline.Dedup.candidates(sigs, cfg) // not cached: verify's plan must show it
    val pairs = graft.pipeline.Dedup.verify(cands, sigs, cfg)
    val helper = new AdaptiveSparkPlanHelper {}
    for ((name, df) <- Seq("candidates" -> cands, "verify" -> pairs)) {
      df.collect() // the final adaptive plan is the one that ran
      val plan = df.queryExecution.executedPlan
      // the hot-path fallbacks this pins out: ZipWith, ArrayAggregate,
      // ArrayTransform (every higher-order function is a CodegenFallback)
      val interpreted = helper.flatMap(plan)(_.expressions.flatMap(_.collect {
        case e: CodegenFallback => e.prettyName
      }))
      assert(interpreted.isEmpty, s"$name evaluates ${interpreted.distinct.mkString(", ")} interpreted:\n$plan")
    }
    sigs.unpersist()
  }

  test("aggregations use partial (map-side) aggregation") {
    val df = SparkEntry.queries("q01_agg")(spark, sf)
    val s = df.queryExecution.executedPlan.toString
    // two HashAggregate nodes (partial + final) around the exchange
    assert("HashAggregate".r.findAllIn(s).size >= 2, s.take(2000))
  }

  test("capped ANN paths never plan a cartesian product") {
    import spark.implicits._
    val vecs = (0 until 64).map(i => (s"v$i", Seq.fill(8)((i % 7).toFloat + 0.5f))).toDF("id", "vec")
    val q = vecs.limit(4)
    // e01-style brute force is the DELIBERATE cartesian baseline; the scale
    // paths below must all be bucket/cell-keyed joins instead
    val plans = Seq(
      "lshTopK" -> graft.ops.Ann.lshTopK(q, vecs, dim = 8, k = 2),
      "nearDupPairs" -> graft.ops.Ann.nearDupPairs(vecs, dim = 8, threshold = 0.9)
    )
    plans.foreach { case (name, df) =>
      val s = df.queryExecution.executedPlan.toString
      assert(!s.contains("CartesianProduct"), s"$name plans a cartesian product:\n${s.take(2000)}")
    }
  }

  test("substring pass is one keyed shuffle + one aggregation, no cartesian") {
    val df = SparkEntry.queries("d07_substring_dup")(spark, sf)
    val s = df.queryExecution.executedPlan.toString
    assert(!s.contains("CartesianProduct") && !s.contains("BroadcastNestedLoopJoin"),
      s"d07 must stay keyed:\n${s.take(2000)}")
    // group-by-anchor shuffle + pair-max aggregation exchange + the tiny
    // partial-aggregated hot-anchor count branch (whose result broadcasts
    // back); anything more means the anchors/context computation stopped
    // being map-side
    assert("Exchange hashpartitioning".r.findAllIn(s).size <= 3, s.take(3000))
    assert(s.contains("BroadcastHashJoin") || s.contains("BroadcastExchange"),
      "hot-anchor thinning must broadcast, not shuffle the anchor stream again")
  }

  test("keyword classification is a single map-side scan (no join, no shuffle before explode)") {
    val df = SparkEntry.queries("q25_keyword_classify")(spark, sf)
    val s = df.queryExecution.executedPlan.toString
    assert(!s.contains("Exchange") && !s.contains("Join"),
      s"q25 must be generate-over-scan only:\n${s.take(2000)}")
  }

  test("sliding-window counts: one keyed shuffle, partial aggregation, map-side window explode") {
    val df = SparkEntry.queries("q27_sliding_window")(spark, sf)
    val s = df.queryExecution.executedPlan.toString
    assert("Exchange hashpartitioning".r.findAllIn(s).size == 1,
      s"q27 must shuffle once on (window, type):\n${s.take(3000)}")
    assert("HashAggregate".r.findAllIn(s).size >= 2, "window counts must partial-aggregate")
  }

  test("batch sessionizer: one keyed shuffle into the per-user state pass") {
    val df = SparkEntry.queries("q26_sessions")(spark, sf)
    val s = df.queryExecution.executedPlan.toString
    assert("Exchange hashpartitioning".r.findAllIn(s).size == 1,
      s"q26 must shuffle once on user_id:\n${s.take(3000)}")
    // the grouped-state pass needs only a LOCAL per-partition sort on the
    // grouping key; a range-partitioned (global) sort would be a second,
    // all-data shuffle
    assert(!s.contains("Exchange rangepartitioning") && !s.contains("CartesianProduct"),
      s"q26 must not globally sort:\n${s.take(2000)}")
  }

  test("decontamination is an inverted-index broadcast join, never a cartesian") {
    val df = SparkEntry.queries("d08_decontaminate")(spark, sf)
    val s = df.queryExecution.executedPlan.toString
    // the eval suite is small by contract: its exploded grams BROADCAST into
    // a hash join keyed on the gram — only gram hits flow; a nested-loop or
    // cartesian pairing of whole documents is the per-pair re-evaluation trap
    assert(s.contains("BroadcastHashJoin"), s"d08 must hash-join on gram:\n${s.take(3000)}")
    assert(!s.contains("CartesianProduct") && !s.contains("BroadcastNestedLoopJoin"),
      s"d08 must stay keyed:\n${s.take(2000)}")
    // two keyed shuffles: the (train, eval) match count + the argmax window
    assert("Exchange hashpartitioning".r.findAllIn(s).size <= 2,
      s"d08 must shuffle at most twice:\n${s.take(3000)}")
    assert("HashAggregate".r.findAllIn(s).size >= 2, "match counting must partial-aggregate")
  }

  test("sketch near-dup paths are bucket-keyed: no cartesian, bounded shuffles") {
    for (q <- Seq("d10_lsh_neardup", "d11_simhash_neardup")) {
      val df = SparkEntry.queries(q)(spark, sf)
      val s = df.queryExecution.executedPlan.toString
      // the whole point of the sketch index: pair enumeration is a keyed
      // bucket join (one hash shuffle into the sorted-group pair emitter),
      // NEVER an all-pairs product like the e01/d02 exact baselines
      assert(!s.contains("CartesianProduct") && !s.contains("BroadcastNestedLoopJoin"),
        s"$q must stay bucket-keyed:\n${s.take(2000)}")
      // bucket pass + candidate distinct + the two verify-side joins
      assert("Exchange hashpartitioning".r.findAllIn(s).size <= 5,
        s"$q shuffles too much:\n${s.take(3000)}")
    }
  }

  test("cluster retention plans a keyed join + one window, no cartesian") {
    // the pair graph inside c01 is the d10 path (gated above); this pins the
    // retention stage itself: label join + per-cluster window, nothing quadratic
    val df = SparkEntry.queries("c01_cluster_keep_best")(spark, sf)
    val s = df.queryExecution.executedPlan.toString
    assert(!s.contains("CartesianProduct") && !s.contains("BroadcastNestedLoopJoin"),
      s"c01 must stay keyed:\n${s.take(2000)}")
    assert(s.contains("Window"), s"c01 keeps per-cluster argmax as a window:\n${s.take(2000)}")
  }

  test("curation composition plans keyed joins + per-source window, no cartesian") {
    // the retention subplan inside c03 is the gated d10+CC path; this pins
    // the composition: semi join on keepers, one packing window, no blowup
    val df = SparkEntry.queries("c03_curation_pipeline")(spark, sf)
    val s = df.queryExecution.executedPlan.toString
    assert(!s.contains("CartesianProduct") && !s.contains("BroadcastNestedLoopJoin"),
      s"c03 must stay keyed:\n${s.take(2000)}")
    assert(s.contains("Window"), s"c03 packs via a window:\n${s.take(2000)}")
  }

  test("PII scrub is a pure map-side projection (no shuffle, no join)") {
    val df = SparkEntry.queries("c02_pii_scrub")(spark, sf)
    val s = df.queryExecution.executedPlan.toString
    assert(!s.contains("Exchange") && !s.contains("Join"),
      s"c02 must be project-over-scan only:\n${s.take(2000)}")
  }

  test("stratified sampling is a pure map-side filter (no shuffle, no join)") {
    val df = SparkEntry.queries("d09_sample_stratified")(spark, sf)
    val s = df.queryExecution.executedPlan.toString
    assert(!s.contains("Exchange") && !s.contains("Join"),
      s"d09 must be filter-over-scan only:\n${s.take(2000)}")
  }

  test("token packing: one keyed shuffle per source, local sort only") {
    val df = SparkEntry.queries("t03_token_packing")(spark, sf)
    val s = df.queryExecution.executedPlan.toString
    assert("Exchange hashpartitioning".r.findAllIn(s).size == 1,
      s"t03 must shuffle once on source:\n${s.take(3000)}")
    assert(!s.contains("Exchange rangepartitioning") && !s.contains("CartesianProduct"),
      s"t03 must not globally sort:\n${s.take(2000)}")
  }

  test("mixture sampling: one keyed shuffle per source, local sort only") {
    val df = SparkEntry.queries("c04_mixture_sample")(spark, sf)
    val s = df.queryExecution.executedPlan.toString
    assert("Exchange hashpartitioning".r.findAllIn(s).size == 1,
      s"c04 must shuffle once on source:\n${s.take(3000)}")
    assert(!s.contains("Exchange rangepartitioning") && !s.contains("Join") &&
      !s.contains("CartesianProduct"),
      s"c04 must not globally sort or join:\n${s.take(2000)}")
  }

  test("boilerplate removal: keyed chunk-df aggregate + one join back, no cartesian, no global sort") {
    val df = SparkEntry.queries("c05_boilerplate")(spark, sf)
    val s = formatted(df)
    // chunk-df count-distinct (2 exchanges: partial+final on chunk), the join
    // back on chunk, and the per-doc reassembly aggregate — bounded keyed
    // shuffles only; a regression to per-pair comparison would show a
    // cartesian or a range sort
    assert(!s.contains("CartesianProduct") && !s.contains("BroadcastNestedLoopJoin"),
      s"c05 must never plan a cartesian:\n${s.take(2000)}")
    assert(!s.contains("Exchange rangepartitioning"),
      s"c05 must not globally sort:\n${s.take(2000)}")
    assert("Exchange hashpartitioning".r.findAllIn(s).size <= 5,
      s"c05 must stay a bounded keyed-shuffle plan:\n${s.take(3000)}")
  }

  test("repetition metrics: ONE corpus scan, two keyed aggregate shuffles, no cartesian") {
    val df = SparkEntry.queries("t04_repetition")(spark, sf)
    val s = formatted(df)
    // gram-occurrence count on (id, n, gram) + roll-up on (id, n); nothing else
    assert("Exchange hashpartitioning".r.findAllIn(s).size <= 2,
      s"t04 must be explode -> two keyed aggregates:\n${s.take(3000)}")
    assert(!s.contains("CartesianProduct") && !s.contains("Join"), s.take(2000))
    assert(s.contains("partial_count") || s.contains("HashAggregate"),
      "occurrence counting must partial-aggregate map-side")
    // all gram orders come out of one tagged pass — a per-order union would
    // read the whole corpus once per n (count in ONE plan rendering; the
    // formatted() helper concatenates two)
    val exec = df.queryExecution.executedPlan.toString
    assert("FileScan parquet".r.findAllIn(exec).size == 1,
      s"t04 must scan the corpus exactly once:\n${exec.take(3000)}")
  }

  test("as-of join plans as ONE keyed window pass — no join operator at all") {
    val df = SparkEntry.queries("q28_asof_join")(spark, sf)
    val s = df.queryExecution.executedPlan.toString
    assert(!s.contains("Join") && !s.contains("CartesianProduct"),
      s"q28 must not plan any join node:\n${s.take(3000)}")
    assert("Exchange hashpartitioning".r.findAllIn(s).size == 1,
      s"q28 must shuffle once on the key:\n${s.take(3000)}")
    assert(s.contains("Window"), "the carry must be a window, not a collect")
  }

  test("vocab coverage: the k-row vocabulary broadcasts; top-k never globally sorts the token space") {
    val df = SparkEntry.queries("t05_vocab_oov")(spark, sf)
    val s = df.queryExecution.executedPlan.toString
    assert(s.contains("BroadcastHashJoin"), s.take(3000))
    assert(s.contains("TakeOrderedAndProject"),
      s"vocab cut must be top-k, not sort+limit:\n${s.take(3000)}")
    assert(!s.contains("CartesianProduct") && !s.contains("Exchange rangepartitioning"),
      s.take(2000))
  }

  test("conversation assembly: one keyed shuffle into the per-conv state pass") {
    import spark.implicits._
    val turns = graft.synth.Synth
      .transcripts(spark, graft.synth.Synth.Config(nClusters = 20)).toDF()
    val df = graft.streaming.ConvAssembly.completeConversations(turns).toDF()
    val s = df.queryExecution.executedPlan.toString
    assert("Exchange hashpartitioning".r.findAllIn(s).size == 1,
      s"assembly must shuffle once on conv_id:\n${s.take(3000)}")
    assert(!s.contains("Exchange rangepartitioning") && !s.contains("CartesianProduct"),
      s"assembly must not globally sort:\n${s.take(2000)}")
  }
}
