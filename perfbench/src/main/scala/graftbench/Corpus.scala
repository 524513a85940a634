package graftbench

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import org.apache.spark.sql.SparkSession

import graft.synth.Synth

/** A generated corpus on disk: the transcripts the program reads and the
  * planted truth only the benchmark reads.
  */
final case class Corpus(dir: String, cfg: Synth.Config) {
  def turns: String = s"$dir/turns"
  def truth: String = s"$dir/truth"
}

object Corpus {

  /** Generates the corpus once per config and reuses it on later runs.
    * Generation goes to a temp dir that is renamed into place, so a killed
    * run never leaves a half-written corpus behind.
    */
  def materialize(spark: SparkSession, root: String, label: String, cfg: Synth.Config): Corpus = {
    val key = java.lang.Integer.toHexString(cfg.toString.hashCode)
    val c = Corpus(s"$root/corpus/$label-s${cfg.seed}-$key", cfg)
    val done = Paths.get(c.dir)
    if (!Files.isDirectory(done)) {
      val tmp = Paths.get(c.dir + ".tmp")
      deleteTree(tmp)
      Synth.transcripts(spark, cfg).write.parquet(s"$tmp/turns")
      Synth.truth(spark, cfg).write.parquet(s"$tmp/truth")
      Files.move(tmp, done, StandardCopyOption.ATOMIC_MOVE)
    }
    c
  }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder()).forEach(x => Files.delete(x))
      finally s.close()
    }

  def deleteTree(p: String): Unit = deleteTree(Paths.get(p))
}
