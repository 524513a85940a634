package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.{text => T}

/** Text-analysis operators for a large-scale training-data pipeline — all
  * built-in (codegen'd) column expressions, no UDFs: language-ID by stopword
  * n-gram profiles, quality scoring, token counting, document fingerprints.
  */
object TextAnalysis {

  /** tiny per-language stopword profiles (top function words) */
  val profiles: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "a", "of", "and", "to", "in", "is", "that", "it", "for"),
    "de" -> Seq("der", "die", "und", "das", "ist", "nicht", "ein", "mit", "zu", "den"),
    "fr" -> Seq("le", "la", "et", "les", "des", "un", "une", "est", "que", "pour"),
    "es" -> Seq("el", "la", "los", "y", "de", "que", "es", "un", "una", "por")
  )

  /** Let-bind via the shared one-element-`transform` idiom (see
    * `graft.functions.text.let` for why Catalyst needs this: codegen CSE
    * refuses CASE WHEN subtrees, and HOF lambdas re-evaluate argument
    * subtrees per element when interpreted).
    */
  private def bind(v: Column)(body: Column => Column): Column = T.let(v)(body)

  /** per-language hits given an ALREADY-distinct bound token set */
  private def hitsOnDistinct(dt: Column): Seq[(String, Column)] =
    profiles.toSeq.map { case (lang, words) =>
      lang -> size(array_intersect(dt, array(words.map(lit): _*)))
    }

  /** Heuristic language id: the profile with the most stopword hits, "und"
    * (undetermined) when nothing matches. Deterministic tie-break by
    * language code order.
    */
  def langId(text: Column): Column =
    bind(array_distinct(T.tokens(text))) { dt =>
      val hits = hitsOnDistinct(dt).sortBy(_._1)
      val best = hits.tail.foldLeft(struct(hits.head._2.as("n"), lit(hits.head._1).as("lang"))) {
        case (acc, (lang, n)) =>
          when(n > acc.getField("n"), struct(n.as("n"), lit(lang).as("lang"))).otherwise(acc)
      }
      when(best.getField("n") >= 1, best.getField("lang")).otherwise(lit("und"))
    }

  /** Whitespace token count. */
  def tokenCount(text: Column): Column = size(T.tokens(text))

  /** BPE-ish subword count: word-boundary pieces + digit runs + punctuation
    * marks each count as a token (regex segmentation, a public-tokenizer-like
    * upper bound without a vocab file).
    */
  def subwordCount(text: Column): Column =
    size(filter(split(text, "(?<=[\\p{L}])(?=\\p{N})|(?<=\\p{N})(?=\\p{L})|\\s+|(?=[^\\p{L}\\p{N}\\s])"), t => length(t) > 0))

  /** Quality metrics struct: sizes, ratios, repetition — the building blocks
    * of Gopher/C4-style quality filters. The tokenizer output, its distinct
    * set, and the scalar counts are each evaluated ONCE per row via `bind`
    * (see there); the emitted values are identical to the naive form.
    */
  def qualityMetrics(text: Column): Column =
    bind(
      struct(
        T.tokens(text).as("toks"),
        length(text).cast("double").as("nc"),
        length(regexp_replace(text, "[\\p{L}\\p{N}\\s]", "")).cast("double").as("np")
      )
    ) { r =>
      bind(struct(
        size(r.getField("toks")).cast("double").as("nt"),
        array_distinct(r.getField("toks")).as("dt")
      )) { c =>
        val nTok = c.getField("nt")
        val nChar = r.getField("nc")
        val dt = c.getField("dt")
        val stops = hitsOnDistinct(dt).map(_._2).reduce(_ + _).cast("double")
        struct(
          nTok.cast("long").as("n_tokens"),
          nChar.cast("long").as("n_chars"),
          when(nTok > 0, nChar / nTok).otherwise(lit(0.0)).as("mean_token_len"),
          when(nChar > 0, r.getField("np") / nChar).otherwise(lit(0.0)).as("punct_ratio"),
          when(nTok > 0, size(dt).cast("double") / nTok).otherwise(lit(0.0)).as("distinct_ratio"),
          when(nTok > 0, stops / nTok).otherwise(lit(0.0)).as("stopword_ratio")
        )
      }
    }

  /** Scalar quality score in [0,1]: penalize too-short docs, extreme
    * punctuation, heavy repetition (low distinct ratio).
    */
  def qualityScore(text: Column): Column =
    bind(qualityMetrics(text)) { m =>
      val lenScore = least(m.getField("n_tokens").cast("double") / 20.0, lit(1.0))
      val punctScore = greatest(lit(0.0), lit(1.0) - m.getField("punct_ratio") * 4)
      val repScore = m.getField("distinct_ratio")
      round(lenScore * 0.4 + punctScore * 0.3 + repScore * 0.3, 6)
    }

  /** 64-bit document fingerprint of normalized content (rolling-hash based —
    * whitespace/punctuation-insensitive exact-dup key).
    */
  def fingerprint(text: Column): Column = xxhash64(T.normalize(text))

  /** Keyword-set membership classification (define_fields_by_venue.R:13-48,
    * venue_discipline_bag:14-31): literal keyword lists per tag; a row gets
    * EVERY tag whose list overlaps its token set (multi-valued — the
    * reference's `filedlist[pass]`), and no tags when nothing matches.
    * Returns array<string> in taxonomy order (deterministic); callers
    * `explode` for one row per (id, tag) — the reference's long-form
    * fields.csv. Pure `arrays_overlap` against literals: map-side,
    * codegen'd, no join, no UDF — a 100 TB corpus tags in one scan.
    */
  def classifyByKeywords(tokens: Column, taxonomy: Seq[(String, Seq[String])]): Column =
    filter(
      array(taxonomy.map { case (tag, words) =>
        when(arrays_overlap(tokens, array(words.map(lit): _*)), lit(tag))
          .otherwise(lit(null).cast("string"))
      }: _*),
      t => t.isNotNull
    )

  /** Corpus vocabulary coverage — build the top-`k` token vocabulary by
    * corpus frequency (ties at the boundary broken by token ascending, so
    * the cut is total-order deterministic and an independent engine selects
    * the identical set) and score every document's out-of-vocabulary rate
    * against it, in integer ppm. The tokenizer-coverage question every
    * training-data pipeline asks before committing a vocab/tokenizer:
    * which documents fall outside the head of the distribution?
    *
    * Output: (idCol, n_tokens, oov, oov_ppm), one row per document with at
    * least one token (null text has none).
    *
    * Scale shape: inherently two passes — the vocabulary is a GLOBAL
    * aggregate that must complete before any doc can be scored. Pass 1 is
    * one keyed count shuffle reduced to k rows via TakeOrderedAndProject
    * (top-k, never a full global sort of the token space); pass 2
    * re-scans the corpus and broadcast-joins the k-row vocabulary — no
    * shuffle of the corpus beyond the per-doc count aggregation. At
    * 10^12 turns persist pass 1's counts instead of recomputing.
    */
  def vocabCoverage(
      docs: DataFrame,
      k: Int = 200,
      idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    require(k >= 1, s"vocabulary size must be >= 1: $k")
    val toks = docs.select(col(idCol), explode(split(col(textCol), " ")).as("tok"))
    val vocab = toks
      .groupBy(col("tok")).agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("tok"))
      .limit(k)
      .select(col("tok"), lit(1).as("iv"))
    toks
      .join(broadcast(vocab), Seq("tok"), "left")
      .groupBy(col(idCol))
      .agg(
        count(lit(1)).as("n_tokens"),
        coalesce(sum(col("iv")), lit(0)).cast("bigint").as("in_vocab"))
      .select(
        col(idCol),
        col("n_tokens"),
        (col("n_tokens") - col("in_vocab")).as("oov"),
        expr("((n_tokens - in_vocab) * 1000000) div n_tokens").as("oov_ppm"))
  }

  /** Intra-document repetition metrics — the published duplicate-n-gram
    * quality filters (Rae et al. 2021 "Scaling Language Models: ... Gopher",
    * appendix A1.1; reused by MassiveText/RefinedWeb-style curation): per
    * document and n-gram order n, the fraction of n-gram OCCURRENCES that
    * are repeats of an earlier occurrence (`dup_ppm` = (total − distinct) /
    * total) and the most frequent n-gram's share of all occurrences
    * (`top_ppm`), both as integer parts-per-million (`div`, engine-exact).
    * Tokens are the raw whitespace split (the d03/t03 token space) so an
    * independent SQL engine ranks identically.
    *
    * Documents with fewer than n tokens carry no order-n row (no n-gram
    * exists); null text yields no rows. Output:
    * (idCol, n, n_grams, dup_ppm, top_ppm) — long form, one row per
    * (document, n).
    *
    * Scale shape: explode → two-level aggregate. The gram multiset never
    * materializes per row (no per-row quadratic HOF to find the mode);
    * occurrence counting is ONE hash shuffle on (id, n, gram) with map-side
    * partial counts, the roll-up a second shuffle on (id, n) — both keyed,
    * skew-bounded by document length, no cartesian, no collect. At 100 TB
    * this is the same shape as the d08 inverted index: only gram groups
    * flow, and whole-stage codegen covers the gram construction.
    */
  def repetitionStats(
      docs: DataFrame,
      ns: Seq[Int] = Seq(2, 3),
      idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    require(ns.nonEmpty && ns.forall(_ >= 1), s"n-gram orders must be >= 1: $ns")
    // every order's grams come out of ONE pass over the text column (a
    // per-order union would scan the corpus once per n — doubled IO at
    // 100 TB), with the token array LET-BOUND so the split runs once per
    // row — element_at(split(...)) inside a transform lambda re-splits the
    // text per element otherwise (the t01/d06 lesson; measured ~9x here).
    // No per-gram order tag rides the explode: tokens cannot contain the
    // delimiter, so a gram's order IS its space count — orders can never
    // collide as strings, and `n` is recovered AFTER the per-gram
    // aggregation, on the (much smaller) distinct-gram rows. (A
    // struct<n,gram> tag measured ~1.5x slower: one struct allocation per
    // gram occurrence.)
    val allGrams = bind(split(col(textCol), " ")) { toks =>
      val gramArrays = ns.map { n =>
        val grams =
          if (n == 1) toks
          else
            transform(
              sequence(lit(0), size(toks) - n),
              i => concat_ws(" ", (0 until n).map(j => element_at(toks, i + j + 1)): _*))
        // guard BEFORE sequence(): size-n < 0 would generate a DESCENDING
        // sequence, not an empty one (null text: size(null) is null → the
        // otherwise branch's empty array → no rows)
        when(size(toks) >= n, grams).otherwise(array().cast("array<string>"))
      }
      concat(gramArrays: _*)
    }
    docs
      .select(col(idCol), explode(allGrams).as("gram"))
      .groupBy(col(idCol), col("gram"))
      .agg(count(lit(1)).as("c"))
      .withColumn("n", size(split(col("gram"), " ")))
      .groupBy(col(idCol), col("n"))
      .agg(
        sum(col("c")).as("n_grams"),
        count(lit(1)).as("n_distinct"),
        max(col("c")).as("top_c"))
      .select(
        col(idCol),
        col("n"),
        col("n_grams"),
        expr("((n_grams - n_distinct) * 1000000) div n_grams").as("dup_ppm"),
        expr("(top_c * 1000000) div n_grams").as("top_ppm"))
  }

}
