package graft.pipeline

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileContext, FileSystem, Options, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.util.LongAccumulator

/** Per-stage checkpointing with lineage + metrics manifests — the Spark
  * re-expression of the reference's Make checkpoint semantics
  * (Makefile:221-223: `.SECONDARY` keeps intermediates, `.DELETE_ON_ERROR`
  * guarantees no partial outputs are trusted; mtime-based recompute):
  *
  *   - each stage writes `warehouse/<stage>/` as Parquet plus a manifest
  *     `warehouse/_manifest/<stage>.json` recording the stage's input
  *     fingerprint, row count, wall time, the counters its build added to,
  *     and per-partition-file lineage (file, bytes) — the
  *     Iceberg-manifest-shaped metadata layer; the real
  *     Iceberg catalog binding drops into TableIO without touching callers;
  *   - the manifest is written only AFTER a successful Parquet commit, via
  *     atomic rename: a killed run leaves data without manifest, which is
  *     treated as absent and rebuilt (no partial output is ever trusted);
  *   - a stage re-runs iff its manifest is missing or its input fingerprint
  *     (config + upstream fingerprints) changed — Make's mtime dependency
  *     check made content-addressed.
  */
object TableIO {

  final case class Manifest(
      stage: String,
      fingerprint: String,
      rows: Long,
      wallMs: Long,
      files: Seq[(String, Long)], // (file name, bytes) per partition file
      counters: Seq[(String, Long)] // (accumulator name, value added by the build)
  ) {
    def toJson: String = {
      def q(s: String) = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
      val fs = files.map { case (f, b) => s"""{"file":${q(f)},"bytes":$b}""" }.mkString("[", ",", "]")
      val cs = counters.map { case (n, v) => s"${q(n)}:$v" }.mkString("{", ",", "}")
      s"""{"stage":${q(stage)},"fingerprint":${q(fingerprint)},"rows":$rows,"wall_ms":$wallMs,""" +
        s""""counters":$cs,"files":$fs}"""
    }
  }

  /** All metadata IO goes through the Hadoop FileSystem API, so the
    * warehouse can live on any cluster filesystem (hdfs://, s3a://, file:/)
    * — the local-path java.io/java.nio calls this replaces were dead on
    * anything but a single machine. The Hadoop conf comes from the active
    * Spark session (which carries the cluster's fs.* settings).
    */
  private[pipeline] def hadoopConf: Configuration =
    SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)
      .map(_.sessionState.newHadoopConf()).getOrElse(new Configuration())

  private[pipeline] def fsOf(p: Path): FileSystem = p.getFileSystem(hadoopConf)

  private def manifestPath(warehouse: String, stage: String) =
    new Path(s"$warehouse/_manifest/$stage.json")

  private def manifestJson(warehouse: String, stage: String): Option[String] =
    readText(manifestPath(warehouse, stage), hadoopConf)

  /** (fingerprint, rows) of a stage's manifest, if it has one. */
  def readManifest(warehouse: String, stage: String): Option[(String, Long)] =
    manifestJson(warehouse, stage).flatMap { s =>
      val fp = """"fingerprint":"([^"]*)"""".r.findFirstMatchIn(s).map(_.group(1))
      val rows = """"rows":(\d+)""".r.findFirstMatchIn(s).map(_.group(1).toLong)
      for (f <- fp; r <- rows) yield (f, r)
    }

  /** The counters a stage's manifest records, by accumulator name. */
  def readCounters(warehouse: String, stage: String): Map[String, Long] =
    manifestJson(warehouse, stage).flatMap(""""counters":\{([^}]*)\}""".r.findFirstMatchIn(_)).toSeq
      .flatMap(m => """"([^"]*)":(-?\d+)""".r.findAllMatchIn(m.group(1)).map(c => c.group(1) -> c.group(2).toLong))
      .toMap

  def writeManifest(warehouse: String, m: Manifest): Unit =
    writeAtomic(manifestPath(warehouse, m.stage), m.toJson, hadoopConf)

  /** The contents of the small metadata file `p`, if it exists. */
  private[graft] def readText(p: Path, conf: Configuration): Option[String] = {
    val fs = p.getFileSystem(conf)
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      Some(try new String(in.readAllBytes(), StandardCharsets.UTF_8) finally in.close())
    }
  }

  /** Replace the small metadata file `p` with `text` atomically: write a
    * hidden sibling, then FileContext.rename(OVERWRITE), the atomic-replace
    * primitive on HDFS and posix local filesystems (FileSystem.rename has
    * no overwrite mode, and delete-then-rename has a window with no file).
    * A crash leaves either the old file or the new one, never a truncation.
    */
  private[graft] def writeAtomic(p: Path, text: String, conf: Configuration): Unit = {
    val fs = p.getFileSystem(conf)
    fs.mkdirs(p.getParent)
    val tmp = new Path(p.getParent, s".${p.getName}.tmp")
    val out = fs.create(tmp, true)
    try out.write(text.getBytes(StandardCharsets.UTF_8)) finally out.close()
    FileContext.getFileContext(p.toUri, conf).rename(tmp, p, Options.Rename.OVERWRITE)
  }

  /** Zip packaging sink (S9, Makefile:30-32,45-47: `zip -9 result.json` for
    * submission): writes the frame as a single JSON-lines file and wraps it
    * in a deflate-compressed zip — artifact packaging for the final (small)
    * result table, not a data-scale sink. Returns the zip path.
    */
  def packageZip(df: DataFrame, outZip: String, entryName: String = "result.json"): String = {
    val tmp = Files.createTempDirectory("graft-zip").toString
    df.coalesce(1).write.mode("overwrite").json(tmp)
    val part = new java.io.File(tmp).listFiles().filter(_.getName.endsWith(".json")).head
    val zos = new java.util.zip.ZipOutputStream(Files.newOutputStream(Paths.get(outZip)))
    try {
      zos.setLevel(9)
      zos.putNextEntry(new java.util.zip.ZipEntry(entryName))
      Files.copy(part.toPath, zos)
      zos.closeEntry()
    } finally zos.close()
    outZip
  }

  /** content fingerprint of a parquet input path: (name, size) of each file */
  def pathFingerprint(path: String): String = {
    val p = new Path(path)
    val fs = fsOf(p)
    val st = fs.getFileStatus(p)
    val entries =
      if (st.isDirectory)
        fs.listStatus(p).filter(_.isFile).map(x => s"${x.getPath.getName}:${x.getLen}").sorted
      else Array(s"${st.getPath.getName}:${st.getLen}")
    java.lang.Long.toHexString(
      entries.foldLeft(0xcbf29ce484222325L)((h, e) => graft.functions.MinHashImpl.mix64(h ^ e.hashCode.toLong))
    )
  }
}

/** Runs named stages with skip-if-complete semantics. */
final class StageRunner(spark: SparkSession, warehouse: String, verbose: Boolean = true)
    extends Dedup.StageBoundary {
  private val completed = scala.collection.mutable.Map[String, String]() // stage -> fingerprint

  /** Fingerprint of a stage = hash of its own config + upstream stage
    * fingerprints (content-addressed lineage).
    */
  def fingerprintOf(config: String, upstream: Seq[String]): String = {
    val s = (config +: upstream.sorted).mkString("|")
    java.lang.Long.toHexString(
      s.foldLeft(0xcbf29ce484222325L)((h, c) => graft.functions.MinHashImpl.mix64(h ^ c.toLong))
    )
  }

  def fingerprint(stage: String): String = completed.getOrElse(stage, "?")

  /** Execute (or skip) a stage; returns the stage's DataFrame read from its
    * checkpoint table, so downstream plans never re-execute upstream lineage.
    * The manifest's row count is a count of the written table, which reads
    * no column data. The manifest also keeps what the build added to each of
    * `counters` (accumulators created for this run, so at zero before it),
    * and a skipped stage adds those values back.
    */
  def stage(name: String, config: String, upstream: Seq[String] = Nil,
      counters: Seq[LongAccumulator] = Nil)(build: => DataFrame): DataFrame = {
    val fp = fingerprintOf(config, upstream.map(fingerprint))
    val dir = s"$warehouse/$name"
    val keyed = counters.zipWithIndex.map { case (a, i) => (a.name.getOrElse(s"counter$i"), a) }
    TableIO.readManifest(warehouse, name) match {
      case Some((oldFp, rows)) if oldFp == fp =>
        if (verbose) println(s"[checkpoint] skip $name (fingerprint $fp, $rows rows)")
        val stored = TableIO.readCounters(warehouse, name)
        keyed.foreach { case (k, a) => a.add(stored.getOrElse(k, 0L)) }
        completed(name) = fp
        spark.read.parquet(dir)
      case _ =>
        val t0 = System.nanoTime()
        build.write.mode("overwrite").parquet(dir)
        val wallMs = (System.nanoTime() - t0) / 1000000
        val out = spark.read.parquet(dir)
        val rows = out.count()
        val dirPath = new Path(dir)
        val files = TableIO.fsOf(dirPath)
          .listStatus(dirPath)
          .filter(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
          .map(f => (f.getPath.getName, f.getLen))
          .toSeq
          .sortBy(_._1)
        TableIO.writeManifest(warehouse,
          TableIO.Manifest(name, fp, rows, wallMs, files, keyed.map { case (k, a) => k -> a.sum }))
        if (verbose) println(s"[checkpoint] built $name (fingerprint $fp, $rows rows, ${wallMs}ms, ${files.size} files)")
        completed(name) = fp
        out
    }
  }
}

/** The dedup pipeline over checkpointed stages — every stage boundary is a
  * resumable table; a mid-pipeline kill resumes from the last complete stage
  * with byte-identical results (deterministic stages + content-addressed
  * fingerprints). A skipped candidates stage restores its skew counters from
  * its manifest.
  */
object CheckpointedDedup {
  def run(
      spark: SparkSession,
      transcripts: DataFrame,
      inputFingerprint: String,
      warehouse: String,
      cfg: Dedup.Config = Dedup.Config(),
      verbose: Boolean = true
  ): Dedup.Result = {
    val ccDir = s"$warehouse/_cc_checkpoint"
    val res = Dedup.stages(spark, transcripts, cfg, new StageRunner(spark, warehouse, verbose),
      inputFingerprint, Some(ccDir))
    // the clusters stage is PERSISTED parquet at this point, so no live
    // lineage references the CC loop's reliable checkpoints — reclaim them
    // (they total one full edge-set copy per run and are never
    // reference-tracked by Spark's cleaner)
    graft.plans.ConnectedComponents.cleanCheckpoints(spark, ccDir)
    res
  }
}
