package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.pipeline.{CheckpointedDedup, Dedup, TableIO}
import graft.synth.Synth

/** Resume semantics (SURVEY §7.6 / north_rule "resumable from checkpoint
  * with per-partition lineage + metrics"): mid-pipeline kill + re-run gives
  * byte-identical output, completed stages are skipped, config changes
  * invalidate fingerprints.
  */
class CheckpointSpec extends AnyFunSuite {
  lazy val spark = Sessions.local(4, "checkpoint-spec")

  val scfg = Synth.Config(nClusters = 120, boilerClusters = 1, boilerSize = 10)
  val cfg = Dedup.Config()

  private def clusterChecksum(dir: String): (Long, Long) = {
    val df = spark.read.parquet(s"$dir/clusters")
    (df.count(), df.agg(bit_xor(xxhash64(col("conv_id"), col("component")))).first().getLong(0))
  }

  private def mtime(wh: String, stage: String): Long =
    Files.getLastModifiedTime(Paths.get(s"$wh/_manifest/$stage.json")).toMillis

  test("kill-and-resume: byte-identical clusters, completed stages skipped") {
    val wh = Files.createTempDirectory("graft-wh").toString
    val transcripts = Synth.transcripts(spark, scfg).toDF
    CheckpointedDedup.run(spark, transcripts, "fp0", wh, cfg, verbose = false)
    val sum1 = clusterChecksum(wh)
    val mDocs = mtime(wh, "docs")
    val mSigs = mtime(wh, "sigs")

    // simulate a kill after 'candidates': later stages lose their manifests
    // (and one loses half-written data — untrusted without manifest)
    Files.delete(Paths.get(s"$wh/_manifest/pairs.json"))
    Files.delete(Paths.get(s"$wh/_manifest/clusters.json"))
    Thread.sleep(20)

    CheckpointedDedup.run(spark, transcripts, "fp0", wh, cfg, verbose = false)
    val sum2 = clusterChecksum(wh)
    assert(sum1 == sum2, "resume must reproduce byte-identical clusters")
    assert(mtime(wh, "docs") == mDocs && mtime(wh, "sigs") == mSigs,
      "completed upstream stages must be skipped on resume")
    assert(mtime(wh, "clusters") > mDocs, "killed stages must be rebuilt")
  }

  test("config change invalidates downstream fingerprints") {
    val wh = Files.createTempDirectory("graft-wh2").toString
    val transcripts = Synth.transcripts(spark, scfg).toDF
    CheckpointedDedup.run(spark, transcripts, "fp0", wh, cfg, verbose = false)
    val mDocs = mtime(wh, "docs")
    Thread.sleep(20)
    CheckpointedDedup.run(spark, transcripts, "fp0", wh, cfg.copy(threshold = 0.8), verbose = false)
    assert(mtime(wh, "docs") > mDocs, "config change must rebuild dependent stages")
  }

  test("manifest records lineage files, rows, and wall time") {
    val wh = Files.createTempDirectory("graft-wh3").toString
    val transcripts = Synth.transcripts(spark, scfg).toDF
    CheckpointedDedup.run(spark, transcripts, "fp0", wh, cfg, verbose = false)
    val m = new String(Files.readAllBytes(Paths.get(s"$wh/_manifest/clusters.json")))
    assert(m.contains("\"rows\":") && m.contains("\"wall_ms\":") && m.contains("\"files\":["))
    assert(m.contains(".parquet"))
    val Some((fp, rows)) = TableIO.readManifest(wh, "clusters")
    assert(rows > 0 && fp.nonEmpty)
    // the manifest's row count must equal the table actually written
    assert(rows == spark.read.parquet(s"$wh/clusters").count(),
      "manifest rows must match written rows")
  }

  test("stage row metric survives concurrent queries on the same session") {
    import graft.pipeline.StageRunner
    import spark.implicits._
    val wh = Files.createTempDirectory("graft-wh4").toString
    val noise = (1 to 500).toDF("x").cache()
    noise.count()
    // run unrelated queries on the same session while the stage writes: the
    // manifest must count only this stage's own table
    @volatile var stop = false
    val t = new Thread(() => while (!stop) { noise.agg(sum(col("x"))).collect(); Thread.sleep(1) })
    t.start()
    try {
      val r = new StageRunner(spark, wh, verbose = false)
      val out = r.stage("concurrent", "cfg")((1 to 1234).toDF("v"))
      assert(out.count() == 1234)
    } finally { stop = true; t.join() }
    val Some((_, rows)) = TableIO.readManifest(wh, "concurrent")
    assert(rows == 1234, s"manifest rows $rows must be the stage's own row count")
  }

  test("zip packaging sink round-trips the result JSON (S9 parity)") {
    import spark.implicits._
    val df = Seq(("c1", "k1"), ("c2", "k1"), ("c3", "k2")).toDF("conv_id", "component")
    val zip = Files.createTempDirectory("graft-zip-out").resolve("result.zip").toString
    TableIO.packageZip(df, zip)
    val zf = new java.util.zip.ZipFile(zip)
    try {
      val entry = zf.entries().nextElement()
      assert(entry.getName == "result.json")
      val lines = scala.io.Source.fromInputStream(zf.getInputStream(entry)).getLines().toSeq
      assert(lines.size == 3 && lines.forall(l => l.startsWith("{") && l.contains("conv_id")))
    } finally zf.close()
  }

  test("CC reliable checkpoint: identical labeling, checkpoint files on disk") {
    import graft.plans.ConnectedComponents
    import spark.implicits._
    val ckpt = Files.createTempDirectory("graft-cc-ckpt").toString
    // chain + triangle + singleton-ish edge: forces a few star rounds
    val edges = ((1 to 40).map(i => (s"n$i", s"n${i + 1}")) ++
      Seq(("t1", "t2"), ("t2", "t3"), ("t1", "t3"), ("z1", "z2"))).toDF("src", "dst")
    def labels(cc: org.apache.spark.sql.DataFrame) =
      cc.collect().map(r => r.getString(0) -> r.getString(1)).toMap
    // localThreshold = 0: the reliable-checkpoint behavior under test lives
    // in the distributed loop
    val local = labels(ConnectedComponents.run(spark, edges, localThreshold = 0L))
    val reliable =
      labels(ConnectedComponents.run(spark, edges, checkpointDir = Some(ckpt), localThreshold = 0L))
    assert(local == reliable, "reliable checkpointing must not change the labeling")
    val written = new java.io.File(ckpt).listFiles()
    assert(written != null && written.nonEmpty, "reliable mode must write checkpoint files")
    // per-round cleanup: only the FINAL round's checkpoint may remain per
    // run (each round deletes its predecessor once the new pin
    // materializes) — without it the loop leaks one full edge copy per
    // round per run, forever
    val runDirs = written.filter(f => f.isDirectory && f.getName.startsWith("run_"))
    assert(runDirs.nonEmpty, "per-run checkpoint subdirectory expected")
    runDirs.foreach { rd =>
      val rounds = rd.listFiles().filter(_.isDirectory)
      assert(rounds.length <= 1,
        s"at most the final round's checkpoint may survive, found ${rounds.length} in $rd")
    }
    // caller-side reclamation once the result is persisted (the
    // checkpointed runner does this after its clusters stage)
    ConnectedComponents.cleanCheckpoints(spark, ckpt)
    val after = new java.io.File(ckpt).listFiles()
    assert(after == null || !after.exists(_.getName.startsWith("run_")),
      "cleanCheckpoints must remove every run_* tree")
  }

  test("CC local-path probe survives thresholds at and beyond Int.MaxValue") {
    import graft.plans.ConnectedComponents
    import spark.implicits._
    val edges = Seq(("a", "b"), ("b", "c"), ("x", "y")).toDF("src", "dst")
    // pre-fix: (threshold + 1).toInt wrapped negative (limit throws) or
    // truncated the probe and routed arbitrarily large graphs into the
    // driver collect; the clamp must keep tiny graphs on the local path
    // and stay total for any threshold
    for (t <- Seq(Int.MaxValue.toLong, Int.MaxValue + 10L, Long.MaxValue)) {
      val labels = ConnectedComponents.run(spark, edges, localThreshold = t)
        .collect().map(r => r.getString(0) -> r.getString(1)).toMap
      assert(labels("a") == labels("c") && labels("x") == labels("y") &&
        labels("a") != labels("x"), s"wrong labeling at threshold $t")
    }
  }
}
