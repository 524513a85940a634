package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The driver's flagship smoke contract: SparkEntry.entry(spark) must return
  * a non-empty DataFrame (the dedup cluster assignment) — plus planted-truth
  * semantics for the curation queries whose DuckDB oracles only prove
  * engine-equality, not intent.
  */
class EntrySpec extends AnyFunSuite {
  lazy val spark = Sessions.local(4, "entry-spec")

  test("driver contract: queries and oracleSql carry exactly the same keys") {
    // the driver's correctness gate needs BOTH maps per operator; a query
    // without an oracle silently downgrades to a rows-only check, and a
    // stale oracle key would make Verify dump SQL for a query that no
    // longer exists
    val noOracle = SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet
    assert(noOracle.isEmpty, s"queries missing an oracleSql entry: ${noOracle.toSeq.sorted}")
    val stale = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(stale.isEmpty, s"oracleSql keys without a query: ${stale.toSeq.sorted}")
  }

  test("mains refuse argv that is not strict --key value pairs") {
    assert(Args.parse(Array("--out", "X", "--cores", "2")) == Map("out" -> "X", "cores" -> "2"))
    val odd = intercept[IllegalArgumentException](Args.parse(Array("--in", "I", "--compact")))
    assert(odd.getMessage.contains("odd argv"), odd.getMessage)
    // a value-less flag would shift every later pair: compact="--out", out dropped
    val shifted = intercept[RuntimeException](Args.parse(Array("--compact", "--out", "X", "true")))
    assert(shifted.getMessage.contains("malformed argument pair '--compact --out'"), shifted.getMessage)
    intercept[IllegalArgumentException](Args.parse(Array("--compact", "--out", "X")))
  }

  test("entry returns non-empty cluster assignment") {
    val df = SparkEntry.entry(spark)
    assert(df.columns.toSet == Set("conv_id", "component"))
    assert(df.count() > 0)
  }

  /** Planted documents table: a copied eval doc, a paraphrase-free train doc,
    * and a doc matching only an eval doc OUTSIDE the sampled suite.
    */
  private lazy val plantedDocs: String = {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft-docs").toString
    val x = "alpha beta gamma delta epsilon zeta eta theta"
    val r = "p q r s t p q r"
    Seq(
      (0L, x, "en", "src0"),                        // eval suite member (0 % 5 == 0)
      (7L, r, "en", "src0"),                        // src0 but NOT sampled (7 % 5 != 0)
      (101L, x, "en", "src1"),                      // exact copy of eval doc 0
      (102L, "z y x w v u t s", "de", "src2"),      // shares no 3-gram with anything
      (104L, r, "en", "src3")                       // copies only the UNSAMPLED eval doc
    ).toDF("doc_id", "text", "lang", "source")
      .withColumn("n_chars", length($"text").cast("long"))
      .write.parquet(s"$tmp/documents.parquet")
    tmp
  }

  /** TOTALITY gate for the whole documents-table query family: a web-scale
    * corpus contains empty, whitespace-only, punctuation-only, null,
    * single-char, supplementary-plane, and megabyte-token documents, and no
    * query may turn one of them into a task failure (the class of bug where
    * wordGrams' unguarded sequence(0, size-k) + slice(toks, 0, k) threw on
    * any document under k tokens — invisible to oracles over well-formed
    * synthetic corpora). Only totality is asserted; value semantics for
    * degenerate rows live with each operator's own spec.
    */
  private lazy val pathologicalDocs: String = {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft-pathological").toString
    val normal = "the quick brown fox jumps over the lazy dog again and again"
    Seq(
      (0L, normal, "en", "src0"),
      (1L, "", "en", "src1"),                        // empty text
      (2L, "   ", "en", "src1"),                     // whitespace only
      (3L, "!!! ??? ... ;;; :::", "und", "src1"),    // punctuation only
      (4L, "a", "en", "src2"),                       // single char
      (5L, normal, "en", "src2"),                    // exact dup of 0 (d01 group)
      (6L, "tok tok tok tok tok tok", "en", "src2"), // one repeated token
      (7L, "x" * 100000, "en", "src3"),              // one huge token
      (8L, "😀😀 𝕊𝕡 😀", "und", "src3"), // supplementary plane
      (9L, "a\tb\nc d", "en", "src3"),               // tabs/newlines inside tokens
      (10L, null.asInstanceOf[String], "en", "src0") // null text
    ).toDF("doc_id", "text", "lang", "source")
      .withColumn("n_chars", length($"text").cast("long"))
      .write.parquet(s"$tmp/documents.parquet")
    tmp
  }

  test("every documents-table query is total over a pathological corpus") {
    val docQueries = Seq(
      "d01_exact_dedup", "d02_ngram_jaccard", "d03_token_stats", "d04_source_stats",
      "d05_langid", "d06_fingerprints", "d07_substring_dup", "d08_decontaminate",
      "d09_sample_stratified", "d10_lsh_neardup", "d11_simhash_neardup",
      "c01_cluster_keep_best", "c02_pii_scrub", "c03_curation_pipeline",
      "c04_mixture_sample", "c05_boilerplate", "d12_source_quantiles", "t01_quality",
      "t02_subword", "t03_token_packing", "t04_repetition", "t05_vocab_oov",
      "q25_keyword_classify")
    for (q <- docQueries) {
      val n =
        try SparkEntry.queries(q)(spark, pathologicalDocs).collect().length
        catch {
          case e: Exception =>
            fail(s"$q threw on the pathological corpus: ${e.getClass.getSimpleName}: " +
              s"${Option(e.getMessage).getOrElse("").linesIterator.take(3).mkString(" | ")}")
        }
      assert(n >= 0) // totality only; per-operator specs own the values
    }
  }

  /** Same totality contract for the embeddings- and events-table families:
    * a corpus-scale embedding column contains nulls, zero vectors, and
    * wrong-dimension rows (a bad upstream encoder batch); an event log
    * contains null timestamps/users. None may become a task failure.
    */
  private lazy val pathologicalVecsAndEvents: String = {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft-pathvec").toString
    val r = new scala.util.Random(3)
    val normal = (0 until 50).map(i =>
      (i.toLong, Array.fill(64)(r.nextFloat() - 0.5f), i % 4))
    val weird = Seq(
      (100L, Array.fill(64)(0.0f), 0),          // zero vector: cosine 0/0
      (101L, null.asInstanceOf[Array[Float]], 0), // null embedding
      (102L, Array(1.0f, 2.0f, 3.0f), 0),       // wrong dimension (3 of 64)
      (103L, Array.fill(64)(Float.NaN), 0)      // NaN payload
    )
    (normal ++ weird).toDF("vec_id", "embedding", "label")
      .write.parquet(s"$tmp/embeddings.parquet")

    val base = 1700000000000L
    def jl(x: Long): java.lang.Long = java.lang.Long.valueOf(x)
    val evs: Seq[(Long, java.sql.Timestamp, java.lang.Long, String, Double, String)] =
      (0 until 40).map(i =>
        (i.toLong, new java.sql.Timestamp(base + i * 60000L), jl(i % 5), s"t${i % 3}", i * 1.0, "p")) ++
        Seq(
          (100L, null.asInstanceOf[java.sql.Timestamp], jl(1), "t0", 1.0, "p"), // null ts
          (101L, new java.sql.Timestamp(base), null.asInstanceOf[java.lang.Long], "t1", 1.0, "p"))
    evs.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.parquet(s"$tmp/events.parquet")
    tmp
  }

  test("embeddings- and events-table queries are total over pathological rows") {
    val failures = Seq("e01_cosine_topk", "a02_ann_lsh", "a03_embedding_neardup", "a04_ann_ivf",
      "q23_event_sessions", "q24_event_window", "q26_sessions", "q27_sliding_window",
      "q28_asof_join").flatMap { q =>
      try { SparkEntry.queries(q)(spark, pathologicalVecsAndEvents).collect(); None }
      catch {
        case e: Exception =>
          Some(s"$q: ${e.getClass.getSimpleName}: " +
            s"${Option(e.getMessage).getOrElse("").linesIterator.take(2).mkString(" | ")}")
      }
    }
    assert(failures.isEmpty,
      s"queries threw on the pathological corpus:\n  ${failures.mkString("\n  ")}")
  }

  test("d08: a train doc copying an eval doc is flagged; misses stay silent") {
    val out = SparkEntry.queries("d08_decontaminate")(spark, plantedDocs)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3)))
    // 101 copies eval doc 0 verbatim: jaccard 1.0 -> 1,000,000 ppm, flagged
    assert(out.toSet == Set((101L, 0L, 1000000L, 1)),
      s"exactly the planted contamination must surface: ${out.toSeq}")
    // 102 (no overlap) and 104 (overlaps only the unsampled eval doc) absent
  }

  test("c01: retention keeps the longest doc per near-dup cluster; ties break to min id; singletons survive") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft-c01").toString
    val base = (1 to 30).map(i => s"w$i").mkString(" ")
    val longer = base + " extra1 extra2"                  // 32 tokens, J=0.93 vs base
    val longest = base + " extra1 extra2 extra3 extra4"   // 34 tokens, the keeper
    val other = (1 to 30).map(i => s"v$i").mkString(" ")  // disjoint vocabulary
    Seq(
      (1L, base, "en", "src0"),
      (2L, longest, "en", "src0"),
      (3L, longer, "en", "src0"),
      (7L, other, "en", "src1"),
      (8L, other, "en", "src1"), // exact dup of 7: n_tokens tie, min id kept
      (9L, "solo doc sharing no gram with anything", "en", "src2") // true singleton
    ).toDF("doc_id", "text", "lang", "source")
      .withColumn("n_chars", length($"text").cast("long"))
      .write.parquet(s"$tmp/documents.parquet")
    val out = SparkEntry.queries("c01_cluster_keep_best")(spark, tmp)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3))).sortBy(_._1)
    assert(out.map(x => (x._1, x._2)).toSeq ==
      Seq((1L, 1L), (2L, 1L), (3L, 1L), (7L, 7L), (8L, 7L), (9L, 9L)),
      "cluster labels must be the numeric min doc_id of each component")
    assert(out.filter(_._4 == 1).map(_._1).toSeq == Seq(2L, 7L, 9L),
      "keepers: longest in {1,2,3} is 2; tie in {7,8} breaks to 7; singleton 9 keeps itself")
  }

  test("c02: PII scrub redacts planted emails/IPs/phones to typed placeholders with exact counts") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft-c02").toString
    Seq(
      (3L, "hello world", "en", "src0"), // %3==0: gets the second planted email
      (4L, "plain text here", "en", "src0")
    ).toDF("doc_id", "text", "lang", "source")
      .withColumn("n_chars", length($"text").cast("long"))
      .write.parquet(s"$tmp/documents.parquet")
    val out = SparkEntry.queries("c02_pii_scrub")(spark, tmp)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2), r.getInt(3), r.getInt(4)))
      .sortBy(_._1)
    assert(out(0) == ((3L, "hello world contact <EMAIL> or <IP> phone <PHONE> alt <EMAIL>", 2, 1, 1)))
    assert(out(1) == ((4L, "plain text here contact <EMAIL> or <IP> phone <PHONE>", 1, 1, 1)))
  }

  test("g02 oracle doubling bound: largest golden component stays under 257 nodes") {
    // the g02 DuckDB oracle re-derives shortest paths by 8 min-plus matrix
    // doublings (paths of <= 2^8 = 256 edges); with positive weights every
    // optimal path is simple, so the bound holds iff no component exceeds
    // 256 nodes. That invariant lives in the DATA (goldenRun's synth
    // config) — this pins it in code so a future synth/seed change cannot
    // silently turn the oracle's COALESCE(...) into a wrong non-minimal cost
    val maxSize = SparkEntry.queries("p01_dedup_clusters")(spark, "/root/testdata/sf0.001")
      .agg(max("size")).collect()(0).getLong(0)
    assert(maxSize <= 256,
      s"largest golden component has $maxSize nodes: raise duckMinPlusDoubling's level count " +
        "(>= ceil(log2(maxSize))) in the g02 oracle or shrink the synth config")
  }

  test("c03: composed curation pipeline — each stage has a dedicated casualty") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft-c03").toString
    val base = (1 to 30).map(i => s"w$i").mkString(" ")
    val other = (1 to 30).map(i => s"v$i").mkString(" ")
    // md5-bucket(id) = 48,66,23,55,95,57 for ids 1,2,3,7,9,10; lang 'de' → keep bucket < 80.
    Seq(
      (1L, base, "de", "src0"),                        // near-dup loser: retention drops it
      (2L, base + " x1 x2 x3 x4", "de", "src0"),       // cluster keeper → survives, 34+6 clean tokens
      (3L, base + " x1 x2", "de", "src0"),             // near-dup loser
      (7L, other, "de", "src1"),                       // singleton → survives, 30+6
      (9L, "solo doc sharing no gram with anything", "de", "src2"), // keeper, gate ok (7+8=15) but bucket 95: SAMPLE drops it
      (10L, "a b", "de", "src3")                       // keeper, bucket 57 ok, but 2+6=8 < 12: GATE drops it
    ).toDF("doc_id", "text", "lang", "source")
      .withColumn("n_chars", length($"text").cast("long"))
      .write.parquet(s"$tmp/documents.parquet")
    val out = SparkEntry.queries("c03_curation_pipeline")(spark, tmp)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getInt(3), r.getLong(4)))
      .sortBy(_._1)
    assert(out.toSeq == Seq(
      (2L, "src0", "de", 40, 0L),
      (7L, "src1", "de", 36, 0L)),
      s"survivors must be exactly the sampled keepers passing the gate; got ${out.toSeq}")
  }

  test("d09: sampling is deterministic, bucket-bounded, and per-stratum") {
    val q = SparkEntry.queries("d09_sample_stratified")(spark, plantedDocs)
    val a = q.collect().map(_.toString).sorted.toSeq
    val b = SparkEntry.queries("d09_sample_stratified")(spark, plantedDocs)
      .collect().map(_.toString).sorted.toSeq
    assert(a == b, "hash-bucket sampling must be reproducible run-over-run")
    val rows = q.collect()
    assert(rows.forall(r => r.getLong(3) >= 0 && r.getLong(3) < 100))
    assert(rows.filter(_.getString(1) == "en").forall(_.getLong(3) < 50),
      "'en' stratum keeps only buckets < 50")
    assert(rows.filter(_.getString(1) != "en").forall(_.getLong(3) < 80),
      "other strata keep buckets < 80")
  }

  /** Planted near-dup corpus shared by d10/d11: 60 random base docs over a
    * small vocabulary, 12 verbatim copies, 12 one-token mutations.
    */
  private lazy val plantedNearDups: (String, Seq[(Long, String)]) = {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft-neardup").toString
    val r = new scala.util.Random(11)
    val vocab = (0 until 80).map(i => s"w$i")
    val base = (0 until 60).map { i =>
      (i.toLong, Seq.fill(40 + r.nextInt(40))(vocab(r.nextInt(vocab.size))).mkString(" "))
    }
    val dups = (0 until 12).map(i => (1000L + i, base(i)._2)) ++
      (0 until 12).map { i =>
        val toks = base(i)._2.split(" ")
        toks(toks.length / 2) = "zz"
        (2000L + i, toks.mkString(" "))
      }
    // Docs shorter than the 3-token gram width: wordGrams' whole-doc sentinel
    // must make the identical pair (3000, 3001) a dup, keep the distinct
    // short docs apart, and never crash (slice(toks, 0, k) throws unguarded).
    val shorts = Seq(
      (3000L, "w1 w2"), (3001L, "w1 w2"),
      (3002L, "w3"), (3003L, ""), (3004L, "w1 w2 zz"))
    val docs = base ++ dups ++ shorts
    docs.toDF("doc_id", "text")
      .withColumn("lang", lit("en"))
      .withColumn("source", lit("src1"))
      .withColumn("n_chars", length($"text").cast("long"))
      .write.parquet(s"$tmp/documents.parquet")
    (tmp, docs)
  }

  test("d10: LSH output equals the brute-force gram-Jaccard join (planted corpus)") {
    val (dir, docs) = plantedNearDups
    def grams(t: String): Set[String] = t.split(" ").sliding(3).map(_.mkString(" ")).toSet
    val brute = (for {
      (i1, t1) <- docs
      (i2, t2) <- docs if i1 < i2
      g1 = grams(t1); g2 = grams(t2)
      inter = (g1 & g2).size; uni = (g1 | g2).size
      if inter * 10 >= uni * 7
    } yield (i1, i2, inter, uni)).toSet
    val out = SparkEntry.queries("d10_lsh_neardup")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getInt(3))).toSet
    assert(brute.size >= 24, s"the planted copies/mutations must qualify: ${brute.size}")
    assert(out == brute,
      s"LSH+verify must equal brute force: missing=${brute -- out}, extra=${out -- brute}")
  }

  test("d11: chunk-banded retrieval is exhaustive for the Hamming ball (planted corpus)") {
    val (dir, _) = plantedNearDups
    import spark.implicits._
    // independent ground truth: the same public fingerprint expression, but
    // a driver-side all-pairs scan instead of the banding machinery
    val fps = spark.read.parquet(s"$dir/documents.parquet")
      .select($"doc_id", graft.functions.SimHash64(
        graft.functions.text.tokenHashes(graft.functions.text.tokens($"text"))).as("sh"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val brute = (for {
      (i1, s1) <- fps
      (i2, s2) <- fps if i1 < i2
      h = java.lang.Long.bitCount(s1 ^ s2) if h <= 3
    } yield (i1, i2, h)).toSet
    val out = SparkEntry.queries("d11_simhash_neardup")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(brute.size >= 12, s"verbatim copies must land in the Hamming ball: ${brute.size}")
    assert(out == brute, s"missing=${brute -- out}, extra=${out -- brute}")
  }

  test("t03: shards are contiguous per source and never exceed budget + one doc") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft-pack").toString
    val r = new scala.util.Random(5)
    (0 until 400).map { i =>
      val words = Seq.fill(10 + r.nextInt(120))("w").mkString(" ")
      (i.toLong, words, "en", s"src${i % 4}")
    }.toDF("doc_id", "text", "lang", "source")
      .withColumn("n_chars", length($"text").cast("long"))
      .write.parquet(s"$tmp/documents.parquet")
    val rows = SparkEntry.queries("t03_token_packing")(spark, tmp)
      .collect().map(r => (r.getString(1), r.getLong(0), r.getInt(2), r.getLong(3)))
    rows.groupBy(_._1).foreach { case (src, docs) =>
      val byId = docs.sortBy(_._2)
      // greedy prefix packing: shard ids nondecreasing in doc order, no gaps
      val shards = byId.map(_._4)
      assert(shards.zip(shards.tail).forall { case (a, b) => b == a || b == a + 1 || b > a },
        s"$src shards must be nondecreasing: ${shards.toSeq}")
      assert(shards.distinct.sorted.toSeq == (0L to shards.max).toSeq,
        s"$src shard ids must be dense: ${shards.distinct.sorted.toSeq}")
      // a doc is assigned to the shard its tokens START in, so a shard's sum
      // can overrun 512 only by the straddling doc's tail
      byId.groupBy(_._4).foreach { case (sh, ds) =>
        val sum = ds.map(_._3).sum
        assert(sum < 512 + ds.map(_._3).max,
          s"$src shard $sh holds $sum tokens (docs ${ds.map(_._3).toSeq})")
      }
    }
  }
}
