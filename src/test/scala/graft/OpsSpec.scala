package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.{Ann, DocEmbed, IvfIndex, Multimodal, TextAnalysis}

/** Specs for the training-pipeline extras: text analysis, ANN, multimodal. */
class OpsSpec extends AnyFunSuite {
  lazy val spark = Sessions.local(4, "ops-spec")
  import spark.implicits._

  // ---------- TextAnalysis ----------

  test("langId identifies stopword-bearing languages, und otherwise") {
    val df = Seq(
      ("en", "the cat sat on the mat and it is happy"),
      ("de", "der hund ist nicht mit der katze und das ist gut"),
      ("fr", "le chien est dans la maison et les chats pour toujours"),
      ("und", "zzz qqq www xxx yyy")
    ).toDF("expect", "text").withColumn("got", TextAnalysis.langId(col("text")))
    df.collect().foreach(r => assert(r.getString(0) == r.getString(2), r.toString))
  }

  test("quality metrics and score behave directionally") {
    val df = Seq(
      ("good", "the quick brown fox jumps over the lazy dog and then it runs far away home tonight again happily ever after"),
      ("repet", Seq.fill(30)("spam").mkString(" ")),
      ("short", "hi"),
      ("punct", "!!! ??? ;;; ### $$$ %%% @@@ !!!")
    ).toDF("kind", "text").withColumn("score", TextAnalysis.qualityScore(col("text")))
    val m = df.collect().map(r => r.getString(0) -> r.getAs[Double]("score")).toMap
    assert(m("good") > m("repet"), s"$m")
    assert(m("good") > m("short"), s"$m")
    assert(m("good") > m("punct"), s"$m")
  }

  test("token and subword counts") {
    val df = Seq("hello world foo", "don't count2x wrongly!").toDF("text")
      .select(TextAnalysis.tokenCount(col("text")).as("t"), TextAnalysis.subwordCount(col("text")).as("s"))
    val rows = df.collect()
    assert(rows(0).getInt(0) == 3)
    // don | 't | count | 2 | x | wrongly | ! -> 7 subword pieces
    assert(rows(1).getInt(1) == 7, rows(1).toString)
  }

  test("fingerprint is whitespace/punct-insensitive exact-dup key") {
    val df = Seq("Hello,  World!", "hello world", "other doc").toDF("t")
      .select(TextAnalysis.fingerprint(col("t")).as("f"))
    val fs = df.collect().map(_.getLong(0))
    assert(fs(0) == fs(1) && fs(0) != fs(2))
  }

  // ---------- Ann ----------

  private def mkVecs(n: Int, dim: Int, seed: Long): Seq[(String, Seq[Float])] =
    (0 until n).map { i =>
      val v = (0 until dim).map { d =>
        (java.lang.Long.remainderUnsigned(
          graft.functions.MinHashImpl.mix64(seed + i * 131L + d), 2000
        ) / 1000.0 - 1.0).toFloat
      }
      (s"v$i", v)
    }

  test("brute-force cosine top-k: self-similar planted neighbor ranks first") {
    val base = mkVecs(50, 16, 7L)
    val planted = base.take(5).map { case (id, v) =>
      (id + "_dup", v.map(x => x + 0.01f)) // near-identical
    }
    val corpus = (base ++ planted).toDF("id", "vec")
    val queries = base.take(5).toDF("id", "vec")
    val top = Ann.bruteForceTopK(queries, corpus, 3).cache()
    val first = top.where(col("rank") === 1).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    (0 until 5).foreach(i => assert(first(s"v$i") == s"v${i}_dup", first.toString))
  }

  test("sign-LSH top-k reaches high recall@3 vs brute force on clustered embeddings") {
    // realistic regime: corpus has genuine near neighbors (clustered), which
    // is when bucketed ANN is applicable at all — uniform random vectors have
    // no near neighbors and every method degenerates to brute force
    val centers = mkVecs(60, 16, 11L)
    val members = centers.zipWithIndex.flatMap { case ((cid, c), ci) =>
      (0 until 5).map { m =>
        val v = c.zipWithIndex.map { case (x, d) =>
          x + (java.lang.Long.remainderUnsigned(
            graft.functions.MinHashImpl.mix64(977L + ci * 31L + m * 7L + d), 100
          ) / 2000.0f - 0.025f)
        }
        (s"c${ci}m$m", v)
      }
    }
    val corpus = members.toDF("id", "vec").cache()
    val queries = members.filter(_._1.endsWith("m0")).take(20).toDF("id", "vec")
    val exact = Ann.bruteForceTopK(queries, corpus, 3)
      .select(col("query_id"), col("neighbor_id")).collect().map(r => (r.getString(0), r.getString(1))).toSet
    val approx = Ann.lshTopK(queries, corpus, dim = 16, k = 3)
      .select(col("query_id"), col("neighbor_id")).collect().map(r => (r.getString(0), r.getString(1))).toSet
    val recall = (exact intersect approx).size.toDouble / exact.size
    info(f"ANN recall@3 = $recall%.3f")
    assert(recall >= 0.8, f"recall $recall%.3f")
  }

  test("capStats counts only buckets the cap actually sees (NaN rows excluded)") {
    // lshTopK's finite-vector gate drops NaN/Inf rows before bucketing, so
    // they never populate an inverted list — but every all-NaN row hashes
    // to the same bucket per table (s >= 0 is false for every bit), and a
    // capStats over the RAW corpus would report nTables phantom oversized
    // lists that the cap never truncated
    val finite = mkVecs(10, 8, 7L)
    val bad = (0 until 40).map(i => (s"nan$i", Seq.fill(8)(Float.NaN)))
    val corpus = (finite ++ bad).toDF("id", "vec")
    val (oversized, dropped) =
      Ann.capStats(corpus, dim = 8, nBits = 6, nTables = 2, seed = 42L, bucketCap = 8)
    assert(oversized == 0L && dropped == 0L,
      s"phantom truncation reported for rows the cap never sees: ($oversized, $dropped)")
  }

  test("IVF top-k reaches high recall@3 vs brute force on clustered embeddings") {
    val centers = mkVecs(40, 16, 23L)
    val members = centers.zipWithIndex.flatMap { case ((_, c), ci) =>
      (0 until 6).map { m =>
        val v = c.zipWithIndex.map { case (x, d) =>
          x + (java.lang.Long.remainderUnsigned(
            graft.functions.MinHashImpl.mix64(571L + ci * 37L + m * 11L + d), 100
          ) / 2000.0f - 0.025f)
        }
        (s"c${ci}m$m", v)
      }
    }
    val corpus = members.toDF("id", "vec").cache()
    val queries = members.filter(_._1.endsWith("m0")).take(15).toDF("id", "vec")
    val exact = Ann.bruteForceTopK(queries, corpus, 3)
      .select(col("query_id"), col("neighbor_id")).collect().map(r => (r.getString(0), r.getString(1))).toSet
    val approx = IvfIndex.topK(queries, IvfIndex.build(corpus, nCells = 12), k = 3, nProbe = 3)
      .select(col("query_id"), col("neighbor_id")).collect().map(r => (r.getString(0), r.getString(1))).toSet
    val recall = (exact intersect approx).size.toDouble / exact.size
    info(f"IVF recall@3 = $recall%.3f")
    assert(recall >= 0.8, f"recall $recall%.3f")
  }

  test("persisted IVF index probes like the in-memory build, scan pruned") {
    val corpus = mkVecs(240, 16, 41L).toDF("id", "vec").cache()
    val queries = mkVecs(240, 16, 41L).filter(_._1.stripPrefix("v").toInt % 60 == 0).toDF("id", "vec")

    val built = IvfIndex.build(corpus, nCells = 12)
    val inMemory = IvfIndex.topK(queries, built, k = 3, nProbe = 2)
    val direct = inMemory
      .collect().map(r => (r.getString(0), r.getString(1), r.getDouble(2), r.getInt(3))).toSet
    // an in-memory handle has no partition directories to skip: its lists
    // join as they are, with no collected cell filter
    assert(probedCellFilter(inMemory).isEmpty, inMemory.queryExecution.analyzed.toString.take(2000))

    val path = java.nio.file.Files.createTempDirectory("graft-ivf-spec").toString + "/idx"
    IvfIndex.save(spark, built, path)
    val loaded = IvfIndex.load(spark, path)
    val viaIndex = IvfIndex.topK(queries, loaded, k = 3, nProbe = 2)
    val got = viaIndex.collect().map(r => (r.getString(0), r.getString(1), r.getDouble(2), r.getInt(3))).toSet
    assert(got == direct, s"persisted probe must match the in-memory build; diff=${(direct -- got).take(3)} | ${(got -- direct).take(3)}")

    // the probe's literal cell IN-filter must reach the lists scan as a
    // PARTITION filter (not a data filter): on the partitioned-by-cell
    // layout that is directory-level pruning — probe IO is O(probed lists)
    val plan = viaIndex.queryExecution.executedPlan.toString
    assert("""PartitionFilters: \[[^\]]*cell""".r.findFirstIn(plan).isDefined,
      s"expected cell partition filter in:\n${plan.take(2000)}")
  }

  test("IvfIndex.add: build(half) + add(half) probes bit-identical to the monolithic " +
    "build under the same frozen centroids; pruning intact on the appended layout") {
    val corpus = mkVecs(240, 16, 43L).toDF("id", "vec").cache()
    val queries = mkVecs(240, 16, 43L).filter(_._1.stripPrefix("v").toInt % 60 == 0).toDF("id", "vec")
    // centroids trained over the FULL corpus once (the serving contract:
    // train once, add forever); lists arrive in two installments
    val centroids = IvfIndex.trainCentroids(corpus, nCells = 12)
    val half1 = corpus.where(pmod(xxhash64(col("id")), lit(2)) === 0)
    val half2 = corpus.where(pmod(xxhash64(col("id")), lit(2)) === 1)

    val mono = IvfIndex.topK(
      queries, IvfIndex.Handle(centroids, IvfIndex.buildLists(corpus, centroids)), k = 3, nProbe = 2)
      .collect().map(r => (r.getString(0), r.getString(1), r.getDouble(2), r.getInt(3))).toSet

    val path = java.nio.file.Files.createTempDirectory("graft-ivf-add").toString + "/idx"
    IvfIndex.save(spark, IvfIndex.Handle(centroids, IvfIndex.buildLists(half1, centroids)), path)
    IvfIndex.add(spark, path, half2)
    val viaAdd = IvfIndex.topK(queries, IvfIndex.load(spark, path), k = 3, nProbe = 2)
    val got = viaAdd.collect().map(r => (r.getString(0), r.getString(1), r.getDouble(2), r.getInt(3))).toSet
    assert(got == mono,
      s"add-path probe must equal monolithic build; diff=${(mono -- got).take(3)} | ${(got -- mono).take(3)}")
    val plan = viaAdd.queryExecution.executedPlan.toString
    assert("""PartitionFilters: \[[^\]]*cell""".r.findFirstIn(plan).isDefined,
      s"expected cell partition filter on the appended layout:\n${plan.take(2000)}")
  }

  test("IvfIndex: an all-degenerate corpus round-trips save/load/probe/add as empty, not a crash") {
    import spark.implicits._
    // every row fails the finiteVecs gate -> no trainable dimension -> an
    // UNTRAINED index; it must still be persistable (a zero-row partitionBy
    // write creates no data files, and load() reads the file-less
    // directory through the schema sidecar) and probe/add must
    // return/append nothing instead of throwing
    val bad = Seq(
      ("b0", null.asInstanceOf[Seq[Double]]),
      ("b1", Seq(Double.NaN, 1.0)),
      ("b2", Seq(Double.PositiveInfinity, 0.0))
    ).toDF("id", "vec")
    val h = IvfIndex.build(bad, nCells = 4)
    assert(h.centroids.isEmpty)
    val path = java.nio.file.Files.createTempDirectory("graft-ivf-degen").toString + "/idx"
    IvfIndex.save(spark, h, path)
    val loaded = IvfIndex.load(spark, path)
    assert(loaded.centroids.isEmpty)
    val probes = mkVecs(8, 16, 7L).toDF("id", "vec")
    assert(IvfIndex.topK(probes, loaded, k = 3, nProbe = 2).count() == 0)
    // add() against an untrained quantizer indexes nothing (frozen-centroid
    // contract: distribution drift means rebuild, not append)
    IvfIndex.add(spark, path, mkVecs(8, 16, 7L).toDF("id", "vec"))
    assert(IvfIndex.topK(probes, IvfIndex.load(spark, path), k = 3, nProbe = 2).count() == 0)

    // schema sidecar: a degenerate index round-trips the EXACT lists
    // schema (bigint ids here, not a canonical string guess)
    val badLong = Seq((7L, null.asInstanceOf[Seq[Double]])).toDF("id", "vec")
    val hLong = IvfIndex.build(badLong, nCells = 4)
    val pathLong = java.nio.file.Files.createTempDirectory("graft-ivf-degenL").toString + "/idx"
    IvfIndex.save(spark, hLong, pathLong)
    // parquet round trips everything as nullable; names + types must hold
    def shape(df: org.apache.spark.sql.DataFrame) =
      df.schema.map(f => (f.name, f.dataType.simpleString))
    assert(shape(IvfIndex.load(spark, pathLong).lists) == shape(hLong.lists))

    // trained centroids + an EMPTY first installment: the file-less lists
    // directory must load as empty and accept the first real add directly
    // (the layout is ALWAYS partitioned-by-cell; there is no special empty
    // layout to upgrade from)
    val corpus = mkVecs(60, 16, 9L).toDF("id", "vec").cache()
    val centroids = IvfIndex.trainCentroids(corpus, nCells = 4)
    val path2 = java.nio.file.Files.createTempDirectory("graft-ivf-degen2").toString + "/idx"
    IvfIndex.save(spark, IvfIndex.Handle(centroids, IvfIndex.buildLists(corpus.limit(0), centroids)), path2)
    assert(IvfIndex.topK(probes, IvfIndex.load(spark, path2), k = 3, nProbe = 2).count() == 0)
    IvfIndex.add(spark, path2, corpus)
    val mono = IvfIndex.topK(probes, IvfIndex.Handle(centroids, IvfIndex.buildLists(corpus, centroids)),
      k = 3, nProbe = 2)
      .collect().map(r => (r.getString(0), r.getString(1), r.getDouble(2), r.getInt(3))).toSet
    val got = IvfIndex.topK(probes, IvfIndex.load(spark, path2), k = 3, nProbe = 2)
      .collect().map(r => (r.getString(0), r.getString(1), r.getDouble(2), r.getInt(3))).toSet
    assert(got == mono, "an index whose first installment was empty must probe like a " +
      s"monolithic build; diff=${(mono -- got).take(3)} | ${(got -- mono).take(3)}")
  }

  test("IvfIndex: an index saved without the lists_schema sidecar is refused, not migrated") {
    val corpus = mkVecs(60, 16, 9L).toDF("id", "vec").cache()
    val centroids = IvfIndex.trainCentroids(corpus, nCells = 4)
    val path = java.nio.file.Files.createTempDirectory("graft-ivf-nosidecar").toString + "/idx"
    IvfIndex.save(spark, IvfIndex.Handle(centroids, IvfIndex.buildLists(corpus.limit(0), centroids)), path)
    val sc = new org.apache.hadoop.fs.Path(s"$path/lists_schema")
    assert(sc.getFileSystem(spark.sessionState.newHadoopConf()).delete(sc, true))
    val e = intercept[IllegalArgumentException](IvfIndex.load(spark, path))
    assert(e.getMessage.contains("rebuild the index"), e.getMessage)
    intercept[IllegalArgumentException](IvfIndex.add(spark, path, corpus))
  }

  /** The literal cell set `IvfIndex.topK` filtered the lists by, if it
    * filtered them (an `In` over the `cell` column in the analyzed plan).
    */
  private def probedCellFilter(df: org.apache.spark.sql.DataFrame): Option[Set[Int]] = {
    import org.apache.spark.sql.catalyst.expressions.{AttributeReference, In, Literal}
    df.queryExecution.analyzed.flatMap(_.expressions.flatMap(_.collect {
      case In(a: AttributeReference, lits) if a.name == "cell" && lits.forall(_.isInstanceOf[Literal]) =>
        lits.map(_.asInstanceOf[Literal].value.asInstanceOf[Int]).toSet
    })).headOption
  }

  /** The Lloyd loop `IvfIndex.trainCentroids` replaced, kept verbatim as the
    * reference: nearest centroid by a broadcast crossJoin, an
    * `aggregate(zip_with(...))` distance and a `groupBy(id)` argmin.
    */
  private def referenceCentroids(corpus: org.apache.spark.sql.DataFrame, nCells: Int,
      seed: Long = 42L, iters: Int = 5, sampleCap: Int = 100000): Array[Array[Double]] = {
    val quant = transform(col("vec"), x => {
      val d = x.cast("double")
      when(isnan(d) || abs(d) > lit(9.0e15), lit(0L)).otherwise(round(d * 1000).cast("long"))
    })
    val dimRow = corpus
      .where(col("vec").isNotNull &&
        !exists(col("vec"), v => v.isNull || isnan(v) || abs(v.cast("double")) > lit(Float.MaxValue.toDouble)))
      .groupBy(size(col("vec")).as("sz")).agg(count(lit(1)).as("cnt"))
      .where(col("sz") >= 1).orderBy(col("cnt").desc, col("sz").asc).limit(1).collect()
    if (dimRow.isEmpty) return Array.empty
    val wf = Ann.finiteVecs(corpus, "vec", dimRow(0).getAs[Int]("sz"))
    val n = wf.count()
    if (n == 0) return Array.empty
    val keepPerM = if (n <= sampleCap) 1000000L else math.max(1L, sampleCap * 1000000L / n)
    val sample = wf.where(pmod(xxhash64(col("id"), lit(seed)), lit(1000000L)) < keepPerM)
      .select(col("id"), quant.as("qv")).cache()
    var centroids: Array[Array[Double]] = sample
      .orderBy(xxhash64(col("id"), lit(seed + 1)), col("id")).limit(nCells).select(col("qv"))
      .collect().map(_.getSeq[Long](0).map(_.toDouble).toArray)
    for (_ <- 0 until iters) {
      val centDf = centroids.zipWithIndex.map { case (c, i) => (i, c.toSeq) }.toSeq.toDF("cell", "centroid")
      val dist = aggregate(
        zip_with(col("qv"), col("centroid"), (x, cc) => (x.cast("double") - cc) * (x.cast("double") - cc)),
        lit(0.0), (s, x) => s + x)
      val sums = sample.crossJoin(broadcast(centDf))
        .select(col("id"), col("qv"), struct(dist.as("dist"), col("cell").as("cell")).as("dc"))
        .groupBy(col("id")).agg(min(col("dc")).as("m"), first(col("qv")).as("v"))
        .select(col("m.cell").as("cell"), posexplode(col("v")).as(Seq("d", "v")))
        .groupBy(col("cell"), col("d")).agg(sum(col("v")).as("s"), count(lit(1)).as("c"))
        .collect()
      val next = centroids.map(_.clone())
      sums.foreach { r =>
        next(r.getAs[Int]("cell"))(r.getAs[Int]("d")) = r.getAs[Long]("s").toDouble / r.getAs[Long]("c")
      }
      centroids = next
    }
    sample.unpersist()
    centroids
  }

  test("IvfIndex.trainCentroids equals the crossJoin/HOF Lloyd loop to the exact double") {
    def bits(c: Array[Array[Double]]) = c.map(_.map(java.lang.Double.doubleToRawLongBits).toSeq).toSeq
    val centers = mkVecs(10, 16, 61L)
    val clustered = centers.zipWithIndex.flatMap { case ((_, c), ci) =>
      (0 until 12).map { m =>
        (s"c${ci}m$m", c.zipWithIndex.map { case (x, d) =>
          x + (java.lang.Long.remainderUnsigned(
            graft.functions.MinHashImpl.mix64(877L + ci * 37L + m * 11L + d), 100) / 2000.0f - 0.025f)
        })
      }
    }.toDF("id", "vec").cache()
    // repeated vectors under distinct ids: equal centroids and equal
    // distances, so every assignment is a tie the rule must break alike
    val ties = (0 until 60).map(i => (s"t$i", mkVecs(4, 8, 5L)(i % 4)._2)).toDF("id", "vec").cache()
    for ((corpus, nCells, sampleCap) <- Seq((clustered, 4, 100000), (clustered, 12, 100000),
        (clustered, 12, 50), (ties, 2, 100000), (ties, 3, 100000), (ties, 5, 100000))) {
      val got = IvfIndex.trainCentroids(corpus, nCells, sampleCap = sampleCap)
      assert(got.nonEmpty)
      assert(bits(got) == bits(referenceCentroids(corpus, nCells, sampleCap = sampleCap)),
        s"centroids moved at nCells=$nCells sampleCap=$sampleCap")
    }
  }

  test("loaded IvfIndex probe ignores malformed queries: same answers, same pruned cells") {
    val corpus = mkVecs(240, 16, 47L).toDF("id", "vec").cache()
    val good = mkVecs(240, 16, 47L).filter(_._1.stripPrefix("v").toInt % 100 == 0)
    val bad = Seq(
      ("nan", Float.NaN +: Seq.fill(15)(0.9f)),
      ("short", Seq.fill(8)(-0.9f)),
      ("null", null.asInstanceOf[Seq[Float]]))
    val h = IvfIndex.build(corpus, nCells = 12)
    val path = java.nio.file.Files.createTempDirectory("graft-ivf-malformed").toString + "/idx"
    IvfIndex.save(spark, h, path)
    val loaded = IvfIndex.load(spark, path)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getString(0), r.getString(1), r.getDouble(2), r.getInt(3))).toSet
    val clean = IvfIndex.topK(good.toDF("id", "vec"), loaded, k = 3, nProbe = 2)
    val mixed = IvfIndex.topK((good ++ bad).toDF("id", "vec"), loaded, k = 3, nProbe = 2)
    assert(rows(mixed) == rows(clean) && rows(clean).nonEmpty)

    // the cells each well-formed query probes, derived here from the
    // trained centroids: within the nProbe-th smallest squared distance to
    // the milli-quantized vector
    val expected = good.flatMap { case (_, v) =>
      val q = v.map(x => BigDecimal(x.toDouble * 1000).setScale(0, BigDecimal.RoundingMode.HALF_UP).toDouble)
      val ds = h.centroids.map(c => q.zip(c).foldLeft(0.0) { case (s, (a, b)) => s + (a - b) * (a - b) })
      val kth = ds.sorted.apply(1)
      ds.indices.filter(ds(_) <= kth)
    }.toSet
    assert(probedCellFilter(clean).contains(expected))
    assert(probedCellFilter(mixed).contains(expected),
      s"pruned cells ${probedCellFilter(mixed)} must be the well-formed queries' cells $expected")
    val plan = mixed.queryExecution.executedPlan.toString
    assert("""PartitionFilters: \[[^\]]*cell""".r.findFirstIn(plan).isDefined, plan.take(2000))
  }

  test("embedding near-dup pairs finds planted duplicates") {
    val base = mkVecs(100, 16, 13L)
    val dups = base.take(10).map { case (id, v) => (id + "_d", v.map(x => x + 0.005f)) }
    val corpus = (base ++ dups).toDF("id", "vec")
    val pairs = Ann.nearDupPairs(corpus, dim = 16, threshold = 0.999).cache()
    val found = pairs.collect().map(r => (r.getString(0), r.getString(1))).toSet
    val expected = (0 until 10).map(i => (s"v$i", s"v${i}_d")).toSet
    val hit = expected.count(p => found.contains(p) || found.contains(p.swap))
    info(s"planted dup pairs found: $hit/10, total pairs: ${found.size}")
    assert(hit >= 9)
  }

  // ---------- Multimodal ----------

  test("multimodal synth is deterministic; all three modalities really decode") {
    val a = Multimodal.synth(spark, 50)
    val b = Multimodal.synth(spark, 50)
    assert(a.agg(bit_xor(xxhash64(col("asset_id"), col("bytes")))).first().getLong(0) ==
      b.agg(bit_xor(xxhash64(col("asset_id"), col("bytes")))).first().getLong(0))
    val d = Multimodal.decode(a).cache()
    assert(d.where(!col("decoded.ok")).count() == 0, "every payload must decode")
    // image/video dims come from DECODED rasters and must match the metadata
    assert(d.where(col("modality") =!= "audio" && col("decoded.dec_width") =!= col("width")).count() == 0)
    assert(d.where(col("modality") =!= "audio" && col("decoded.dec_height") =!= col("height")).count() == 0)
    // frame/window counts come from the decoded streams (GIF frame walk,
    // PCM sample count / 256) and must match the metadata
    assert(d.where(col("decoded.dec_frames") =!= col("n_frames")).count() == 0)
    // pixel access is real: images AND decoded GIF frames carry a mean
    // luminance in [0,255]; audio has none
    assert(d.where(col("modality") =!= "audio" &&
      (col("decoded.dec_mean_luma") < 0 || col("decoded.dec_mean_luma") > 255)).count() == 0)
    assert(d.where(col("modality") === "audio" && col("decoded.dec_mean_luma") =!= -1).count() == 0)
    // PCM access is real: AudioSystem reads the RIFF stream — the decoded
    // sample rate matches the metadata and the signal carries energy
    assert(d.where(col("modality") === "audio" &&
      col("decoded.dec_sample_rate") =!= col("sample_rate")).count() == 0)
    assert(d.where(col("modality") === "audio" && col("decoded.dec_rms") <= 0).count() == 0)
    assert(d.where(col("modality") =!= "audio" && col("decoded.dec_sample_rate") =!= -1).count() == 0)
  }

  test("a hand-built animated GIF decodes to its exact frame sequence; corrupt bytes fail soft") {
    val gif = Multimodal.gifBytes(5, 4, 3, 99L)
    val assets = Seq(
      Multimodal.Asset("good", "video", 5, 4, 0, 3, gif),
      Multimodal.Asset("corrupt", "video", 5, 4, 0, 3, Array[Byte](3, 1, 4, 1))
    ).toDF
    val got = Multimodal.decode(assets).select(col("asset_id"), col("decoded.*"))
      .collect().map(r => r.getString(0) -> r).toMap
    val g = got("good")
    assert(g.getBoolean(1), "real GIF must decode")
    assert(g.getInt(2) == 5 && g.getInt(3) == 4, s"dims ${g.getInt(2)}x${g.getInt(3)}")
    assert(g.getInt(4) == 3, s"frames ${g.getInt(4)}")
    assert(g.getInt(5) >= 0 && g.getInt(5) <= 255, s"luma ${g.getInt(5)}")
    assert(!got("corrupt").getBoolean(1), "corrupt payload must yield ok=false, not a task failure")
    // sampled frames are standalone decodable PNGs of the GIF's frames
    val frames = Multimodal.sampleFrames(assets, stride = 2).collect()
    assert(frames.count(_.getString(0) == "good") == 2, "frames 0 and 2 at stride 2")
    assert(frames.count(_.getString(0) == "corrupt") == 0, "corrupt video contributes no rows")
    frames.filter(_.getString(0) == "good").foreach { r =>
      val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(r.getAs[Array[Byte]](3)))
      assert(img != null && img.getWidth == 5 && img.getHeight == 4)
    }
  }

  test("a hand-built WAV decodes to its exact samples; corrupt bytes fail soft") {
    // 512 constant-amplitude samples (A=1000) -> RMS exactly 1000, 2 windows
    val wav = Multimodal.wavBytes(512, 8000, 7L)
    java.util.Arrays.fill(wav, 44, wav.length, 0.toByte)
    var i = 0
    while (i < 512) { wav(44 + 2 * i) = (1000 & 0xff).toByte; wav(45 + 2 * i) = (1000 >> 8).toByte; i += 1 }
    val assets = Seq(
      Multimodal.Asset("good", "audio", 0, 0, 8000, 2, wav),
      Multimodal.Asset("short", "audio", 0, 0, 8000, 0, Multimodal.wavBytes(10, 8000, 7L)),
      Multimodal.Asset("corrupt", "audio", 0, 0, 8000, 2, Array[Byte](9, 9, 9, 9))
    ).toDF
    val got = Multimodal.decode(assets).select(col("asset_id"), col("decoded.*"))
      .collect().map(r => r.getString(0) -> r).toMap
    val g = got("good")
    assert(g.getBoolean(1), "real WAV must decode")
    assert(g.getInt(4) == 2, s"windows ${g.getInt(4)}")
    assert(g.getInt(6) == 8000, s"sample rate ${g.getInt(6)}")
    assert(g.getInt(7) == 1000, s"rms ${g.getInt(7)}")
    assert(!got("corrupt").getBoolean(1), "corrupt payload must yield ok=false, not a task failure")
    // fail-soft holds through frame sampling too: decode's `bad` record has
    // dec_frames = 0, and an unguarded sequence(0, -1, stride) is a task
    // failure, not a skipped row; a sub-window WAV likewise yields no rows
    val frames = Multimodal.sampleFrames(assets, stride = 1).collect()
    assert(frames.count(_.getString(0) == "good") == 2, "one frame per full window")
    assert(!frames.exists(r => r.getString(0) == "corrupt" || r.getString(0) == "short"),
      "corrupt / sub-window audio contributes no frames")
  }

  test("a hand-built PNG decodes to its exact pixels; corrupt bytes fail soft") {
    val img = new java.awt.image.BufferedImage(3, 2, java.awt.image.BufferedImage.TYPE_INT_RGB)
    val px = Array(0xff0000, 0x00ff00, 0x0000ff, 0xffffff, 0x000000, 0x808080)
    for (y <- 0 until 2; x <- 0 until 3) img.setRGB(x, y, px(y * 3 + x))
    val baos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", baos)
    val assets = Seq(
      Multimodal.Asset("good", "image", 3, 2, 0, 1, baos.toByteArray),
      Multimodal.Asset("corrupt", "image", 3, 2, 0, 1, Array[Byte](1, 2, 3, 4))
    ).toDF
    val got = Multimodal.decode(assets).select(col("asset_id"), col("decoded.*"))
      .collect().map(r => r.getString(0) -> r).toMap
    val g = got("good")
    assert(g.getBoolean(1) && g.getInt(2) == 3 && g.getInt(3) == 2 && g.getInt(4) == 1, g.toString)
    // per-pixel (r+g+b)/3: 85,85,85,255,0,128 -> sum 638 -> 638/6 = 106
    assert(g.getInt(5) == 106, s"mean luma ${g.getInt(5)}")
    assert(!got("corrupt").getBoolean(1), "corrupt payload must yield ok=false, not a task failure")
    val frames = Multimodal.sampleFrames(assets, stride = 1).collect()
    assert(frames.count(_.getString(0) == "good") == 1, "image contributes its payload as frame 0")
    assert(frames.count(_.getString(0) == "corrupt") == 0, "corrupt image contributes no frames")
  }

  test("frame sampling explodes video/audio into stride-sampled frames") {
    val df = Multimodal.synth(spark, 60)
    val frames = Multimodal.sampleFrames(df, stride = 2).cache()
    assert(frames.count() > 60)
    // frame count per video asset = ceil(n_frames / 2)
    val joined = frames.groupBy("asset_id").agg(count(lit(1)).as("got"))
      .join(df.select(col("asset_id"), col("n_frames"), col("modality")), "asset_id")
      .where(col("modality") === "video")
      .where(col("got") =!= ceil(col("n_frames") / 2.0).cast("long"))
    assert(joined.count() == 0)
    // frames are non-empty and bounded
    assert(frames.where(length(col("frame_bytes")) <= 0).count() == 0)
  }

  test("byte histograms: 16 bins summing to body size") {
    val df = Multimodal.synth(spark, 30)
    val h = Multimodal.histograms(spark, df)
      .join(df.select(col("asset_id"), (length(col("bytes")) - 16).as("body")), "asset_id")
    val bad = h.where(aggregate(col("hist"), lit(0), (a, x) => a + x) =!= col("body")).count()
    assert(bad == 0)
    assert(h.where(size(col("hist")) =!= 16).count() == 0)
  }

  test("classifyByKeywords: multi-valued tags, taxonomy order, no row when no match") {
    val tax = Seq(
      "animals" -> Seq("cat", "dog"),
      "colors" -> Seq("red", "blue"),
      "tools" -> Seq("hammer")
    )
    val df = Seq(
      ("both", "the red cat sat"),
      ("one", "a dog barked"),
      ("none", "nothing matches here")
    ).toDF("id", "text")
      .select(col("id"), TextAnalysis.classifyByKeywords(split(col("text"), " "), tax).as("tags"))
    val m = df.collect().map(r => r.getString(0) -> r.getSeq[String](1)).toMap
    assert(m("both") == Seq("animals", "colors"), m.toString)
    assert(m("one") == Seq("animals"))
    assert(m("none") == Seq.empty)
    // exploded long form drops no-match rows (reference emits nothing for them)
    assert(df.select(col("id"), explode(col("tags"))).where(col("id") === "none").count() == 0)
  }

  test("IVF results are identical under different input partitioning") {
    val members = mkVecs(120, 16, 31L)
    val corpus = members.toDF("id", "vec")
    val queries = members.take(10).toDF("id", "vec")
    def runAt(parts: Int): Set[(String, String, Int)] =
      IvfIndex.topK(queries.repartition(parts), IvfIndex.build(corpus.repartition(parts), nCells = 8), k = 3, nProbe = 2)
        .select(col("query_id"), col("neighbor_id"), col("rank"))
        .collect().map(r => (r.getString(0), r.getString(1), r.getInt(2))).toSet
    assert(runAt(1) == runAt(7), "quantizer/index must be partition-order independent")
  }

  // ---------- DocEmbed (M8 analogue) ----------

  test("Word2Vec doc embeddings: trained vectors rank shared-content docs first") {
    // docs = word sequences; planted pairs share most of their tokens
    val vocab = (0 until 40).map(i => s"w$i")
    def toks(seed: Long, n: Int): Seq[String] =
      (0 until n).map(j => vocab(
        java.lang.Long.remainderUnsigned(graft.functions.MinHashImpl.mix64(seed + j * 17L), vocab.size).toInt))
    val base = (0 until 15).map(i => (f"d$i%02d", toks(i * 1000L, 30)))
    val dups = base.map { case (id, t) => (id + "_dup", t.take(27) ++ toks(id.hashCode.toLong, 3)) }
    val docs = (base ++ dups).toDF("id", "tokens").cache()

    val model = DocEmbed.train(docs, dim = 16, iters = 8)
    val vecs = DocEmbed.docVectors(model, docs).cache()
    assert(vecs.where(size(col("vec")) =!= 16).count() == 0)

    val queries = vecs.where(!col("id").endsWith("_dup"))
    val top = Ann.bruteForceTopK(queries, vecs, k = 1)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    val hit = base.count { case (id, _) => top(id) == s"${id}_dup" }
    info(s"doc2vec-analogue nearest-neighbor hit: $hit/15")
    assert(hit >= 13, s"shared-content docs must be nearest neighbors: $hit/15")
  }

  test("Word2Vec doc embeddings are reproducible across input partitioning") {
    val vocab = (0 until 30).map(i => s"w$i")
    def toks(seed: Long, n: Int): Seq[String] =
      (0 until n).map(j => vocab(
        java.lang.Long.remainderUnsigned(graft.functions.MinHashImpl.mix64(seed + j * 17L), vocab.size).toInt))
    val docs = (0 until 25).map(i => (f"d$i%02d", toks(i * 77L, 20))).toDF("id", "tokens")
    def vecsAt(parts: Int): Map[String, Seq[Float]] = {
      val d = docs.repartition(parts)
      DocEmbed.docVectors(DocEmbed.train(d, dim = 8, iters = 3), d)
        .collect().map(r => r.getString(0) -> r.getSeq[Float](1)).toMap
    }
    assert(vecsAt(1) == vecsAt(5),
      "sorted single-partition training must make vectors partition-independent")
  }

  test("distributed Word2Vec training (numPartitions=4) still passes the ANN recall gate") {
    // vectors may legitimately differ from single-partition training (SGD
    // order changes); what must NOT degrade is the downstream retrieval:
    // planted shared-content dups still rank nearest
    val vocab = (0 until 40).map(i => s"w$i")
    def toks(seed: Long, n: Int): Seq[String] =
      (0 until n).map(j => vocab(
        java.lang.Long.remainderUnsigned(graft.functions.MinHashImpl.mix64(seed + j * 17L), vocab.size).toInt))
    val base = (0 until 15).map(i => (f"d$i%02d", toks(i * 1000L, 30)))
    val dups = base.map { case (id, t) => (id + "_dup", t.take(27) ++ toks(id.hashCode.toLong, 3)) }
    val docs = (base ++ dups).toDF("id", "tokens").repartition(4).cache()
    val model = DocEmbed.train(docs, dim = 16, iters = 8, numPartitions = 4)
    val vecs = DocEmbed.docVectors(model, docs).cache()
    val queries = vecs.where(!col("id").endsWith("_dup"))
    val top = Ann.bruteForceTopK(queries, vecs, k = 1)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    val hit = base.count { case (id, _) => top(id) == s"${id}_dup" }
    info(s"distributed-training nearest-neighbor hit: $hit/15")
    assert(hit >= 13, s"distributed training must preserve retrieval quality: $hit/15")
  }

  test("inferred vectors for docs ABSENT from training retrieve their counterparts " +
    "(doc2vec_pair_foreign.py:83-121 parity) and yield non-degenerate pair features") {
    val vocab = (0 until 40).map(i => s"w$i")
    def toks(seed: Long, n: Int): Seq[String] =
      (0 until n).map(j => vocab(
        java.lang.Long.remainderUnsigned(graft.functions.MinHashImpl.mix64(seed + j * 17L), vocab.size).toInt))
    val base = (0 until 15).map(i => (f"d$i%02d", toks(i * 1000L, 30)))
    // foreign docs: near-copies of the base docs, NOT in the training corpus
    val foreign = base.map { case (id, t) => (id + "_f", t.take(27) ++ toks(id.hashCode.toLong, 3)) }
    val trainDocs = base.toDF("id", "tokens").cache()
    val model = DocEmbed.train(trainDocs, dim = 16, iters = 8)

    // vectors for the held-out docs come from the SAME vocabulary-based
    // transform — the model never saw these ids
    val baseVecs = DocEmbed.docVectors(model, trainDocs).cache()
    val foreignVecs = DocEmbed.docVectors(model, foreign.toDF("id", "tokens")).cache()
    assert(foreignVecs.where(size(col("vec")) =!= 16).count() == 0)
    // non-degenerate: inferred vectors are not the zero vector
    val zeroCount = foreignVecs.where(!exists(col("vec"), v => abs(v) > 1e-9f)).count()
    assert(zeroCount == 0, s"$zeroCount foreign docs inferred as zero vectors")

    val top = Ann.bruteForceTopK(foreignVecs, baseVecs, k = 1)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    val hit = base.count { case (id, _) => top(s"${id}_f") == id }
    info(s"foreign-doc nearest-neighbor hit: $hit/15")
    assert(hit >= 13, s"inferred vectors must retrieve planted counterparts: $hit/15")

    // pair features over MIXED native+foreign vectors (the foreign variant's
    // whole point): planted pair distance beats a mismatched pair's, angle
    // well-formed, geometric length positive
    val allVecs = baseVecs.unionByName(foreignVecs)
    val planted = base.map { case (id, _) => (s"${id}_f", id) }
    val mismatched = base.indices.map(i => (s"${base(i)._1}_f", base((i + 7) % base.size)._1))
    val feats = DocEmbed.pairFeatures(
      (planted ++ mismatched).toDF("id1", "id2"), allVecs).cache()
    val rows = feats.collect().map(r =>
      (r.getString(0), r.getString(1), r.getDouble(2), r.getDouble(3), r.getDouble(4)))
    assert(rows.length == planted.size + mismatched.size)
    assert(rows.forall { case (_, _, d, a, g) => d >= 0 && a >= 0 && a <= math.Pi + 1e-9 && g > 0 })
    val distOf = rows.map { case (i1, i2, d, _, _) => (i1, i2) -> d }.toMap
    val closer = planted.count { case (f, b) =>
      distOf((f, b)) < distOf((f, base((base.indexWhere(_._1 == b) + 7) % base.size)._1))
    }
    info(s"planted pair closer than mismatched: $closer/${planted.size}")
    assert(closer >= 13, s"planted pairs must be closer than mismatched ones: $closer/${planted.size}")
  }

  test("DocEmbed.train scale guard: single-partition default refuses past the row ceiling") {
    val docs = (0 until 20).map(i => (s"d$i", Seq("a", "b", "c"))).toDF("id", "tokens")
    val e = intercept[IllegalArgumentException] {
      DocEmbed.train(docs, dim = 4, iters = 1, maxSinglePartitionRows = 10L)
    }
    assert(e.getMessage.contains("numPartitions"), e.getMessage)
    // distributed opt-in sails past the ceiling
    DocEmbed.train(docs, dim = 4, iters = 1, numPartitions = 2, maxSinglePartitionRows = 10L)
    // explicit ceiling raise accepts single-task training deliberately
    DocEmbed.train(docs, dim = 4, iters = 1, maxSinglePartitionRows = 100L)
    // the ceiling is inclusive: 20 rows pass at 20 and trip at 19
    DocEmbed.train(docs, dim = 4, iters = 1, maxSinglePartitionRows = 20L)
    intercept[IllegalArgumentException](DocEmbed.train(docs, dim = 4, iters = 1, maxSinglePartitionRows = 19L))
    // the guard probes one row past the ceiling instead of counting the corpus
    val read = spark.sparkContext.longAccumulator("docembed.rows_read")
    val seen = udf { (id: String) => read.add(1); true }.asNondeterministic()
    val big = (0 until 5000).map(i => (s"d$i", Seq("a"))).toDF("id", "tokens").coalesce(1).where(seen($"id"))
    intercept[IllegalArgumentException](DocEmbed.train(big, dim = 4, iters = 1, maxSinglePartitionRows = 10L))
    assert(read.value < 100, s"the scale guard read ${read.value} rows to check a ceiling of 10")
  }

  test("text -> Word2Vec -> IVF end-to-end recall vs brute force") {
    val vocab = (0 until 40).map(i => s"w$i")
    def toks(seed: Long, n: Int): Seq[String] =
      (0 until n).map(j => vocab(
        java.lang.Long.remainderUnsigned(graft.functions.MinHashImpl.mix64(seed + j * 17L), vocab.size).toInt))
    val base = (0 until 30).map(i => (f"d$i%02d", toks(i * 1000L, 30)))
    val dups = base.map { case (id, t) => (id + "_dup", t.take(28) ++ toks(id.hashCode.toLong, 2)) }
    val docs = (base ++ dups).toDF("id", "tokens").cache()
    val vecs = DocEmbed.docVectors(DocEmbed.train(docs, dim = 16, iters = 8), docs).cache()
    val queries = vecs.where(!col("id").endsWith("_dup")).limit(10)
    val exact = Ann.bruteForceTopK(queries, vecs, 3)
      .select(col("query_id"), col("neighbor_id")).collect().map(r => (r.getString(0), r.getString(1))).toSet
    val approx = IvfIndex.topK(queries, IvfIndex.build(vecs, nCells = 6), k = 3, nProbe = 3)
      .select(col("query_id"), col("neighbor_id")).collect().map(r => (r.getString(0), r.getString(1))).toSet
    val recall = (exact intersect approx).size.toDouble / exact.size
    info(f"text->embedding->IVF recall@3 = $recall%.3f")
    assert(recall >= 0.8)
  }

  test("Curation.removeBoilerplate: df-flagged chunks removed, order and remainder preserved") {
    import graft.ops.Curation
    def words(tag: String, n: Int) = (0 until n).map(i => s"$tag$i").mkString(" ")
    val boiler = words("b", 10) // one exact 10-token chunk shared by d1/d2/d3
    val docs = Seq(
      // d1: unique chunk + boilerplate chunk + 3-token remainder
      ("d1", words("u", 10) + " " + boiler + " tail x y"),
      // d2: boilerplate chunk FIRST, then a unique chunk
      ("d2", boiler + " " + words("v", 10)),
      // d3: boilerplate only, no remainder -> clean_text empty
      ("d3", boiler),
      // d4: shorter than one chunk -> everything is remainder, kept
      ("d4", "just seven words here nothing more stop"),
      // d5: same chunk TWICE in one doc but in no other doc -> df=1, kept
      ("d5", words("w", 10) + " " + words("w", 10))
    ).toDF("doc_id", "text")
    val out = Curation.removeBoilerplate(docs, chunkTokens = 10, minDf = 2)
      .collect().map(r => r.getString(0) -> ((r.getInt(1), r.getInt(2), r.getString(3)))).toMap
    assert(out("d1") == ((2, 1, words("u", 10) + " tail x y")))
    assert(out("d2") == ((2, 1, words("v", 10))))
    assert(out("d3") == ((1, 1, "")))
    assert(out("d4") == ((0, 0, "just seven words here nothing more stop")))
    assert(out("d5") == ((2, 0, words("w", 10) + " " + words("w", 10))))
  }

  // ---------- Curation (direct library API; driver queries c01-c03 delegate here) ----------

  test("Curation.scrubPii redacts all three pattern families; null stays null") {
    val df = Seq(
      ("a", "mail bob.smith+x@corp.example.co then 192.168.0.1 then 555-1234 done"),
      ("b", "nothing to scrub here"),
      ("c", null.asInstanceOf[String])
    ).toDF("id", "t").select(col("id"), graft.ops.Curation.scrubPii(col("t")).as("s"))
    val got = df.collect().map(r => (r.getString(0), r.getString(1))).toMap
    assert(got("a") == "mail <EMAIL> then <IP> then <PHONE> done")
    assert(got("b") == "nothing to scrub here")
    assert(got("c") == null)
  }

  test("Curation.keepBest labels clusters by min id and keeps the longest doc") {
    val base = (1 to 30).map(i => s"w$i").mkString(" ")
    val docs = Seq(
      (5L, base),
      (6L, base + " y1 y2 y3"), // keeper of {5,6}
      (9L, "unrelated vocabulary entirely different tokens here")
    ).toDF("doc_id", "text")
    val out = graft.ops.Curation.keepBest(spark, docs)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).sortBy(_._1)
    assert(out.toSeq == Seq((5L, 5L, 0), (6L, 5L, 1), (9L, 9L, 1)))
  }

  test("repetitionStats: hand-computed dup/top ppm per n-gram order") {
    val docs = Seq(
      (1L, "a b a b a"), // bigrams: ab,ba,ab,ba; trigrams: aba,bab,aba
      (2L, "p q r s"), // all grams unique
      (3L, "x y"), // bigram only — no trigram row
      (4L, "z"), // too short for both orders
      (5L, null.asInstanceOf[String])
    ).toDF("doc_id", "text")
    val out = TextAnalysis.repetitionStats(docs, ns = Seq(2, 3))
      .collect()
      .map(r => (r.getLong(0), r.getInt(1)) -> (r.getLong(2), r.getLong(3), r.getLong(4)))
      .toMap
    // doc 1: 4 bigrams / 2 distinct / top 2 → dup 500000, top 500000
    assert(out((1L, 2)) == ((4L, 500000L, 500000L)))
    // doc 1: 3 trigrams / 2 distinct / top 2 → dup 333333, top 666666
    assert(out((1L, 3)) == ((3L, 333333L, 666666L)))
    assert(out((2L, 2)) == ((3L, 0L, 333333L)))
    assert(out((2L, 3)) == ((2L, 0L, 500000L)))
    assert(out((3L, 2)) == ((1L, 0L, 1000000L)))
    // no rows for sub-n docs, the trigram of doc 3, or null text
    assert(!out.contains((3L, 3)) && !out.keySet.exists(k => k._1 == 4L || k._1 == 5L))
  }

  test("vocabCoverage: boundary ties cut by token order; per-doc OOV ppm hand-checked") {
    val docs = Seq(
      (1L, "a a a c b"), // freq: a=3, b=1(+1 below)=2, c=1(+1)=2 — tie at k=2 boundary
      (2L, "b c d"), // d freq 1: out of vocab
      (3L, null.asInstanceOf[String])
    ).toDF("doc_id", "text")
    // counts: a=3, b=2, c=2, d=1; k=2 -> {a, b} (b beats c by token asc)
    val out = TextAnalysis.vocabCoverage(docs, k = 2)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(out(1L) == ((5L, 1L, 200000L))) // c is OOV
    assert(out(2L) == ((3L, 2L, 666666L))) // c, d OOV
    assert(!out.contains(3L))
  }

  test("repetitionStats n=1 counts token repetition directly") {
    val docs = Seq((1L, "t t t u")).toDF("doc_id", "text")
    val out = TextAnalysis.repetitionStats(docs, ns = Seq(1)).collect().head
    assert((out.getLong(2), out.getLong(3), out.getLong(4)) == ((4L, 500000L, 750000L)))
  }

  /** reference md5-hex of an id — the mixture/sampling priority contract */
  private def md5hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString

  test("mixtureSample fills each source's token quota greedily in md5 order") {
    // 6 docs of 10 tokens each per source: quota 25 keeps the first 3 in
    // md5-priority order (cum 10,20,30 — the 30 straddles and is kept)
    val text10 = (1 to 10).map(i => s"w$i").mkString(" ")
    val docs = (0L until 6L).flatMap(i =>
      Seq((i, "sa", text10), (i + 100L, "sb", text10))).toDF("doc_id", "source", "text")
    val out = graft.ops.Curation
      .mixtureSample(docs, quotas = Map("sa" -> 25L), defaultQuota = 45L)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    val bySource = out.groupBy(_._2)
    // sa: quota 25 → 3 docs (last straddles); sb: default 45 → 5 docs
    assert(bySource("sa").length == 3 && bySource("sa").map(_._3).sum == 30)
    assert(bySource("sb").length == 5 && bySource("sb").map(_._3).sum == 50)
    // the selected set is exactly the md5-order prefix, cum matches that order
    val expectSa = (0L until 6L).sortBy(i => md5hex(i.toString)).take(3)
    assert(bySource("sa").map(_._1).toSet == expectSa.toSet)
    assert(bySource("sa").sortBy(t => md5hex(t._1.toString)).map(_._4).toSeq == Seq(10L, 20L, 30L))
  }

  test("mixtureSample is layout-invariant and drops null text") {
    val docs = ((1L to 40L).map(i => (i, s"s${i % 3}", s"tok a b c d${i % 7}")) :+
      ((99L, "s0", null.asInstanceOf[String]))).toDF("doc_id", "source", "text")
    val a = graft.ops.Curation.mixtureSample(docs, Map.empty, 60L)
      .collect().map(r => (r.getLong(0), r.getLong(3))).toSet
    val b = graft.ops.Curation.mixtureSample(docs.repartition(7), Map.empty, 60L)
      .collect().map(r => (r.getLong(0), r.getLong(3))).toSet
    assert(a == b && a.nonEmpty && !a.exists(_._1 == 99L))
  }
}
