package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.aggregate.HashAggregateExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.types.StringType
import org.scalatest.funsuite.AnyFunSuite

import graft.pipeline.Dedup
import graft.synth.Synth

/** The `uid: Long` that `Dedup.assemble` gives each conversation: unique,
  * ordered exactly as Spark orders the `conv_id` strings (UTF-8 bytes, not
  * Java's UTF-16 `compareTo`) under any shuffle layout, and carried alone
  * through the pair emitter, whose capped chunks therefore hold the same
  * conversations as when it sorted `conv_id`s.
  */
class UidSpec extends AnyFunSuite {
  lazy val spark: SparkSession = Sessions.local(4, "uid-spec")

  // ten copies of one text share every bucket; sorted, their ids differ from
  // Java's order at U+FFFD vs the surrogate pairs, and share prefixes
  private val hot = Seq("dup", "dup-1", "dup-10", "dup-9", "dup-Z", "dup-a", "dup-é", "dup-�",
    "dup-𝕊", "dup-😀")
  private val boiler =
    "please read the terms of service carefully before you continue with this support conversation today"
  private val printer =
    "the printer on floor three keeps jamming whenever someone sends a duplex job from the shared laptop"

  private def corpus(s: SparkSession): DataFrame = {
    import s.implicits._
    (hot.map(id => (id, 0, boiler)) ++ Seq(
      ("near-b", 0, printer),
      ("near-a", 0, printer + " again"),
      ("solo-1", 0, "how do i reset my password after the account was locked for too many failed attempts"),
      ("solo-2", 0, "what is the refund policy for annual plans cancelled within the first thirty days")
    )).toDF("conv_id", "turn_idx", "text")
  }

  private def checkOrder(s: SparkSession): Unit = {
    import s.implicits._
    val synth = Synth.transcripts(s, Synth.Config(nClusters = 150)).toDF.select("conv_id", "turn_idx", "text")
    val docs = Dedup.assemble(synth.unionByName(corpus(s))).select("conv_id", "uid").cache()
    try {
      val byUid = docs.orderBy($"uid").as[(String, Long)].collect()
      val uids = byUid.map(_._2)
      assert(uids.distinct.length == uids.length, "uid must be unique")
      val sparkOrder = docs.orderBy($"conv_id").select($"conv_id").as[String].collect().toSeq
      assert(byUid.map(_._1).toSeq == sparkOrder, "ordering by uid must equal Spark's conv_id ordering")
      assert(sparkOrder != sparkOrder.sorted, "the corpus must tell Spark's byte order from String.compareTo")
    } finally docs.unpersist()
  }

  test("uid is unique and ordered as conv_id with AQE on") {
    val s = spark.newSession()
    s.conf.set("spark.sql.adaptive.enabled", "true")
    checkOrder(s)
  }

  test("uid is unique and ordered as conv_id with AQE off and 200 shuffle partitions") {
    val s = spark.newSession()
    s.conf.set("spark.sql.adaptive.enabled", "false")
    s.conf.set("spark.sql.shuffle.partitions", "200")
    checkOrder(s)
  }

  test("capped candidates chunk a bucket in Spark's conv_id order") {
    val cfg = Dedup.Config(bucketCap = 4)
    val sigs = Dedup.signatures(Dedup.shingle(Dedup.assemble(corpus(spark)), cfg), cfg).cache()
    val cands = Dedup.candidates(sigs, cfg)
    val got = Dedup.convIdPairs(cands, sigs).collect().map(r => (r.getString(0), r.getString(1))).toSet
    // chunks of 4 in Spark's conv_id order, each chunk's pairs plus the hub
    // edges (dup, dup-Z) and (dup-Z, dup-𝕊); String.compareTo order would
    // chunk dup-𝕊 and dup-😀 before dup-� and give other pairs
    val pinned = Set(
      ("dup", "dup-1"), ("dup", "dup-10"), ("dup", "dup-9"), ("dup", "dup-Z"),
      ("dup-1", "dup-10"), ("dup-1", "dup-9"), ("dup-10", "dup-9"),
      ("dup-Z", "dup-a"), ("dup-Z", "dup-é"), ("dup-Z", "dup-𝕊"), ("dup-Z", "dup-�"),
      ("dup-a", "dup-é"), ("dup-a", "dup-�"), ("dup-é", "dup-�"),
      ("dup-𝕊", "dup-😀"),
      ("near-a", "near-b"))
    assert(got == pinned, s"missing ${pinned -- got}, extra ${got -- pinned}")
    assert(cands.count() == pinned.size, "candidates must be distinct pairs")
    sigs.unpersist()
  }

  test("the pair emitter's and the pair aggregation's exchanges carry bigint ids, no string") {
    // AQE off: the exchanges are in the executed plan before it runs
    val s = spark.newSession()
    s.conf.set("spark.sql.adaptive.enabled", "false")
    val cfg = Dedup.Config()
    val t = Synth.transcripts(s, Synth.Config(nClusters = 10)).toDF
    val sigs = Dedup.signatures(Dedup.shingle(Dedup.assemble(t), cfg), cfg).cache()
    val cands = Dedup.candidates(sigs, cfg)
    val plan = cands.queryExecution.executedPlan
    val exchanges = plan.collect { case e: ShuffleExchangeExec => e }
    assert(exchanges.size == 2, plan.toString) // bucket shuffle + pair de-duplication
    exchanges.foreach(e => assert(!e.output.exists(_.dataType == StringType), e.toString))
    // verify aggregates nothing more: the candidates' distinct is the one aggregation
    val pairs = Dedup.verify(cands, sigs, cfg).queryExecution.executedPlan
    assert(pairs.collect { case h: HashAggregateExec => h }.size == 2, pairs.toString) // partial + final
    sigs.unpersist()
  }
}
