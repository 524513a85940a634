package graft.synth

import java.sql.Timestamp

import org.apache.spark.sql.{Dataset, SparkSession}

/** One transcript turn — exactly the BASELINE.json input_hint schema. */
case class Turn(conv_id: String, turn_idx: Int, role: String, text: String, tool: String, ts: Timestamp)

/** Planted ground truth: which conversations are true near-duplicates. */
case class TruthRow(conv_id: String, cluster_id: Long, variant: String)

/** Deterministic (seeded, hash-derived — no RNG state) synthetic transcript
  * corpus with planted duplicate clusters, per FIXTURES.md §1. Generation is
  * distributed: `spark.range(nClusters)` fans out and every row is a pure
  * function of (seed, cluster, member, turn), so any partitioning of the range
  * produces the identical corpus. Reference analogue: the golden
  * `assignment_*.json` cluster truth (label.py:18-19) — here we plant it.
  *
  * Cluster taxonomy (drives recall/precision assertions):
  *   - exact:        byte-identical turn texts, fresh conv_id/ts
  *   - token_mutate: ~3% of words substituted
  *   - truncate:     last turn dropped
  *   - shuffle_ws:   whitespace/punctuation-only edits (normalization test)
  *   - boilerplate:  many convs share a long prefix (viral/skew bucket test)
  *   - unique:       background singletons (precision floor)
  */
object Synth {

  final case class Config(
      nClusters: Int = 1000,
      seed: Long = 42L,
      // first `boilerClusters` clusters are viral: `boilerSize` members
      boilerClusters: Int = 2,
      boilerSize: Int = 60,
      vocabSize: Int = 5000,
      uniqueFrac: Double = 0.7
  )

  private def mix(parts: Long*): Long = {
    var h = 0x9e3779b97f4a7c15L
    parts.foreach { p => h = graft.functions.MinHashImpl.mix64(h ^ p) }
    h
  }

  /** non-negative bounded hash draw */
  private def draw(bound: Int, parts: Long*): Int =
    (java.lang.Long.remainderUnsigned(mix(parts: _*), bound.toLong)).toInt

  private def word(cfg: Config, parts: Long*): String = {
    // quadratic skew toward low ids => Zipf-ish shared vocabulary
    val u = draw(cfg.vocabSize, parts: _*).toDouble / cfg.vocabSize
    s"w${(u * u * cfg.vocabSize).toInt}"
  }

  private val roles = Array("user", "assistant", "tool")
  private val tools = Array(null, "search", "calculator", "browser", null, null)

  private val dupVariants = Array("exact", "token_mutate", "truncate", "shuffle_ws")

  private def variantOf(cfg: Config, cluster: Long): String =
    if (cluster < cfg.boilerClusters) "boilerplate"
    else if (draw(1000, cfg.seed, cluster, 7L) < (cfg.uniqueFrac * 1000).toInt) "unique"
    else dupVariants(draw(4, cfg.seed, cluster, 11L))

  private def clusterSize(cfg: Config, cluster: Long, variant: String): Int = variant match {
    case "boilerplate" => cfg.boilerSize
    case "unique"      => 1
    case _             => 2 + draw(4, cfg.seed, cluster, 13L)
  }

  /** Base text of (cluster, turn): list of words, pure function of seed. */
  private def baseWords(cfg: Config, cluster: Long, t: Int): IndexedSeq[String] = {
    val len = 8 + draw(25, cfg.seed, cluster, t.toLong, 17L)
    (0 until len).map(w => word(cfg, cfg.seed, cluster, t.toLong, w.toLong, 19L))
  }

  private def memberTurns(cfg: Config, cluster: Long, member: Int, variant: String): Seq[Turn] = {
    // boilerplate convs are long so the shared prefix dominates (Jaccard ~0.85
    // between members even with unique final turns)
    val nTurnsBase =
      if (variant == "boilerplate") 12 + draw(6, cfg.seed, cluster, 23L)
      else 4 + draw(8, cfg.seed, cluster, 23L)
    val convId = s"c${cluster}_$member"
    val t0 = 1767225600000L + mix(cfg.seed, cluster, member.toLong) % 86400000L // 2026-01-01 + jitter
    val nTurns = variant match {
      case "truncate" if member > 0 => math.max(2, nTurnsBase - 1)
      case _                        => nTurnsBase
    }
    (0 until nTurns).map { t =>
      val words = variant match {
        case "token_mutate" if member > 0 =>
          baseWords(cfg, cluster, t).zipWithIndex.map { case (w, i) =>
            if (draw(100, cfg.seed, cluster, member.toLong, t.toLong, i.toLong, 29L) < 2)
              word(cfg, cfg.seed, cluster, member.toLong, t.toLong, i.toLong, 31L)
            else w
          }
        case "boilerplate" if t == nTurns - 1 =>
          // unique final turn per member; long shared prefix before it
          val len = 8 + draw(25, cfg.seed, cluster, member.toLong, t.toLong, 37L)
          (0 until len).map(w => word(cfg, cfg.seed, cluster, member.toLong, t.toLong, w.toLong, 41L))
        case _ => baseWords(cfg, cluster, t)
      }
      val sep = if (variant == "shuffle_ws" && member > 0) "  " else " "
      val textRaw = words.mkString(sep)
      val text = if (variant == "shuffle_ws" && member > 0) s" $textRaw ;" else textRaw
      val role = roles(if (t % 2 == 0) 0 else 1 + draw(2, cfg.seed, cluster, t.toLong, 43L) % 2)
      val tool = if (role == "tool") tools(1 + draw(3, cfg.seed, cluster, t.toLong, 47L)) else null
      Turn(convId, t, role, text, tool, new Timestamp(t0 + t * 30000L))
    }
  }

  /** Distributed corpus generation. */
  def transcripts(spark: SparkSession, cfg: Config): Dataset[Turn] = {
    import spark.implicits._
    spark
      .range(0, cfg.nClusters, 1, math.max(spark.sparkContext.defaultParallelism, 4))
      .as[Long]
      .flatMap { cluster =>
        val variant = variantOf(cfg, cluster)
        val size = clusterSize(cfg, cluster, variant)
        (0 until size).flatMap(m => memberTurns(cfg, cluster, m, variant))
      }
  }

  /** Planted truth table (singletons included). */
  def truth(spark: SparkSession, cfg: Config): Dataset[TruthRow] = {
    import spark.implicits._
    spark
      .range(0, cfg.nClusters, 1, math.max(spark.sparkContext.defaultParallelism, 4))
      .as[Long]
      .flatMap { cluster =>
        val variant = variantOf(cfg, cluster)
        val size = clusterSize(cfg, cluster, variant)
        (0 until size).map(m => TruthRow(s"c${cluster}_$m", cluster, variant))
      }
  }
}
