package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}

import graft.functions.{text => T, BandKeys, MinHashImpl, MinHashSignature, SignatureAgreement, SimHash64,
  SimHashImpl}

/** Unit + property tests for the custom Catalyst expressions and text
  * primitives (SURVEY.md §5 test plan).
  */
class FunctionsSpec extends AnyFunSuite {
  lazy val spark: SparkSession = Sessions.local(4, "functions-spec")
  import spark.implicits._

  test("normalize strips punctuation/whitespace variation") {
    val df = Seq("  Hello,   World!! ", "hello world").toDF("t")
      .select(T.normalize(col("t")).as("n"))
    val vals = df.collect().map(_.getString(0)).distinct
    assert(vals.sameElements(Array("hello world")))
  }

  test("shingleHashes: short docs get whole-doc shingle; k-gram count correct") {
    val df = Seq("a b c d e f g", "a b").toDF("t")
      .select(size(T.shingleHashes(T.tokens(col("t")), 5)).as("n"))
    assert(df.collect().map(_.getInt(0)).toSeq == Seq(3, 1)) // 7-5+1=3, short=1
  }

  test("wordGrams: short docs get the whole-doc sentinel gram; never crash") {
    val df = Seq("a b c d", "a b", "a", "").toDF("t")
      .select(T.wordGrams(col("t"), 3).as("g"))
    val got = df.collect().map(_.getSeq[String](0).toSeq).toSeq
    // 4 tokens -> two 3-grams; <3 tokens -> one whole-doc gram (unguarded,
    // slice(toks, 0, 3) throws: sequence(0, size-3) runs descending)
    assert(got == Seq(Seq("a b c", "b c d"), Seq("a b"), Seq("a"), Seq("")))
  }

  test("minhash estimate converges to exact jaccard (property)") {
    // two synthetic shingle sets with known overlap: |A|=|B|=200, |A∩B|=150
    val inter = (0 until 150).map(i => s"s$i")
    val a = inter ++ (1000 until 1050).map(i => s"s$i")
    val b = inter ++ (2000 until 2050).map(i => s"s$i")
    val exact = 150.0 / 250.0
    val df = Seq(("a", a), ("b", b)).toDF("id", "toks")
      .select(col("id"), transform(col("toks"), t => xxhash64(t)).as("sh"))
      .select(col("id"), MinHashSignature(col("sh"), 1024, 42L).as("sig"))
    val sigs = df.collect().map(r => r.getString(0) -> r.getSeq[Int](1)).toMap
    val est = sigs("a").zip(sigs("b")).count { case (x, y) => x == y } / 1024.0
    assert(math.abs(est - exact) < 0.05, s"est $est vs exact $exact")
  }

  test("minhash signature invariant under shingle order permutation") {
    val toks = (0 until 100).map(i => s"t$i")
    val df = Seq(("fwd", toks), ("rev", toks.reverse)).toDF("id", "toks")
      .select(col("id"), MinHashSignature(transform(col("toks"), t => xxhash64(t)), 128, 7L).as("sig"))
    val m = df.collect().map(r => r.getString(0) -> r.getSeq[Int](1)).toMap
    assert(m("fwd") == m("rev"))
  }

  test("minhash coefficients deterministic and in range") {
    val c1 = MinHashImpl.coeffs(128, 42L)
    val c2 = MinHashImpl.coeffs(128, 42L)
    assert(c1.sameElements(c2))
    assert(c1.zipWithIndex.forall { case (v, i) =>
      if (i % 2 == 0) v >= 1 && v < MinHashImpl.P else v >= 0 && v < MinHashImpl.P
    })
  }

  test("simhash: identical inputs identical; near inputs near in Hamming space") {
    val base = (0 until 300).map(i => s"t$i")
    val near = base.updated(0, "CHANGED").updated(150, "ALSO")
    val far = (1000 until 1300).map(i => s"u$i")
    val df = Seq(("a", base), ("a2", base), ("n", near), ("f", far)).toDF("id", "toks")
      .select(col("id"), SimHash64(transform(col("toks"), t => xxhash64(t))).as("sh"))
    val m = df.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(m("a") == m("a2"))
    val dNear = java.lang.Long.bitCount(m("a") ^ m("n"))
    val dFar = java.lang.Long.bitCount(m("a") ^ m("f"))
    assert(dNear < dFar, s"near=$dNear far=$dFar")
    assert(dNear <= 8, s"2/300 token change should stay within small Hamming ball, got $dNear")
  }

  test("fused ShingleHashes agrees with built-in chain on count and set relations") {
    val docs = Seq(
      "The  quick, brown FOX jumps over the lazy dog again and again!",
      "a b", // short -> whole-doc
      "", // empty -> whole-doc sentinel
      "one two three four five six one two three four five six" // repeated grams dedup
    ).zipWithIndex.map { case (t, i) => (s"d$i", t) }
    val df = docs.toDF("id", "t").select(
      col("id"),
      size(T.shingleHashes(T.tokens(col("t")), 5)).as("n_builtin"),
      size(graft.functions.ShingleHashes(col("t"), 5)).as("n_fused"),
      graft.functions.ShingleHashes(col("t"), 5).as("sh")
    )
    df.collect().foreach { r =>
      assert(r.getInt(1) == r.getInt(2), s"${r.getString(0)}: builtin ${r.getInt(1)} != fused ${r.getInt(2)}")
      val arr = r.getSeq[Int](3)
      assert(arr == arr.sorted && arr.distinct == arr, "fused output must be sorted distinct")
    }
    // normalization-insensitivity: case/punct/whitespace variants -> same shingles
    val v = Seq(("a", "Hello,   World! Great big test here"), ("b", "hello world great BIG test here"))
      .toDF("id", "t").select(col("id"), graft.functions.ShingleHashes(col("t"), 5).as("sh"))
      .collect().map(r => r.getString(0) -> r.getSeq[Int](1)).toMap
    assert(v("a") == v("b"))
  }

  test("jaccard column function: exact values incl. both-empty") {
    val df = Seq(
      (Seq(1L, 2L, 3L), Seq(2L, 3L, 4L)), // 2/4
      (Seq.empty[Long], Seq.empty[Long]), // both empty -> 1.0
      (Seq(1L), Seq.empty[Long]) // 0.0
    ).toDF("a", "b").select(T.jaccard(col("a"), col("b")).as("j"))
    assert(df.collect().map(_.getDouble(0)).toSeq == Seq(0.5, 1.0, 0.0))
  }

  test("winnowing anchors: shared substring >= width+stride-1 guarantees a shared anchor") {
    val shared = ("x" * 5) + (0 until 40).map(i => s"common$i").mkString(" ") // > 95 normalized chars
    val d1 = s"prefix one $shared suffix one"
    val d2 = s"totally different beginning $shared and end"
    val df = Seq(("a", d1), ("b", d2)).toDF("id", "t")
      .select(col("id"), T.windowAnchors(col("t"), 64, 32).as("an"))
    val m = df.collect().map(r => r.getString(0) -> r.getSeq[Long](1).toSet).toMap
    assert(m("a").intersect(m("b")).nonEmpty)
  }

  test("winnowing anchors guarantee (property over many offsets)") {
    val gen = new scala.util.Random(7)
    def rand(n: Int) = (0 until n).map(_ => ('a' + gen.nextInt(26)).toChar).mkString
    val shared = rand(95) // exactly width + stride - 1
    val docs = (0 until 20).map { i => (s"d$i", rand(1 + gen.nextInt(300)) + " " + shared + " " + rand(1 + gen.nextInt(300))) }
    val df = docs.toDF("id", "t").select(col("id"), T.windowAnchors(col("t"), 64, 32).as("an"))
    val sets = df.collect().map(r => r.getSeq[Long](1).toSet)
    val common = sets.reduce(_ intersect _)
    assert(common.nonEmpty, "every pair must share the winnowed anchor of the common substring")
  }

  /** The two winnowing kernels as they stood before they shared one pass,
    * kept verbatim as the reference: each rolls its own hashes and runs its
    * own sliding-minimum deque.
    */
  private object RefAnchors {
    private final val B = 1000003L
    private def mix(h: Long) = MinHashImpl.mix64(h)
    private def hashes(str: String, width: Int): Array[Long] = {
      val m = str.length - width + 1
      val hs = new Array[Long](m)
      var pow = 1L
      var i = 0
      while (i < width - 1) { pow *= B; i += 1 }
      var h = 0L
      i = 0
      while (i < width) { h = h * B + str.charAt(i); i += 1 }
      hs(0) = h
      i = 1
      while (i < m) { h = (h - str.charAt(i - 1) * pow) * B + str.charAt(i + width - 1); hs(i) = h; i += 1 }
      hs
    }
    def anchors(str: String, width: Int, stride: Int): Seq[Long] = {
      if (str.length < width) return Seq.empty
      val hs = hashes(str, width)
      val m = hs.length
      if (m <= stride) return Seq(mix(hs.min))
      val sel = new Array[Long](m - stride + 1)
      var selN = 0
      val deque = new Array[Int](m)
      var head = 0; var tail = 0
      for (i <- 0 until m) {
        while (tail > head && hs(deque(tail - 1)) >= hs(i)) tail -= 1
        deque(tail) = i; tail += 1
        while (deque(head) <= i - stride) head += 1
        if (i >= stride - 1) {
          val v = mix(hs(deque(head)))
          if (selN == 0 || sel(selN - 1) != v) { sel(selN) = v; selN += 1 }
        }
      }
      sel.take(selN).sorted.distinct.toSeq
    }
    def contexts(str: String, width: Int, stride: Int, maxExtend: Int): Seq[(Long, Int, String)] = {
      val n = str.length
      if (n < width) return Seq.empty
      val hs = hashes(str, width)
      val m = hs.length
      val sel = scala.collection.mutable.ArrayBuffer[(Long, Int)]()
      if (m <= stride) {
        var mnIdx = 0
        for (i <- 1 until m) if (hs(i) < hs(mnIdx)) mnIdx = i
        sel += ((mix(hs(mnIdx)), mnIdx))
      } else {
        val deque = new Array[Int](m)
        var head = 0; var tail = 0
        var lastIdx = -1
        for (i <- 0 until m) {
          while (tail > head && hs(deque(tail - 1)) >= hs(i)) tail -= 1
          deque(tail) = i; tail += 1
          while (deque(head) <= i - stride) head += 1
          if (i >= stride - 1 && deque(head) != lastIdx) {
            lastIdx = deque(head)
            sel += ((mix(hs(lastIdx)), lastIdx))
          }
        }
      }
      sel.sortBy(identity).toSeq.map { case (a, p) =>
        val start = math.max(0, p - maxExtend)
        (a, p - start, org.apache.spark.unsafe.types.UTF8String.fromString(
          str.substring(start, math.min(n, p + width + maxExtend))).toString)
      }
    }
  }

  test("shared winnowing pass: anchors and anchorContexts equal the separate kernels") {
    import graft.functions.ContentAnchorsImpl
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.unsafe.types.UTF8String
    val gen = new scala.util.Random(13)
    val alphabet = "abc xyz".toSeq.map(_.toString) ++ Seq("\uD83D\uDE00", "\uD83C\uDF89", "\u00E9")
    def rand(n: Int) = (0 until n).map(_ => alphabet(gen.nextInt(alphabet.size))).mkString
    val (width, stride) = (8, 4)
    val fixed = Seq(
      "", "short", "a" * 7, // n < width
      "abcdefgh", "abcdefghij", "abcdefghijk", // m = 1, 3 and 4 <= stride
      "abcdefghijkl", // m = stride + 1
      "a" * 40, "ab" * 30, "abcabc" * 12, // repeated windows, equal hashes
      "\uD83D\uDE00 emoji \uD83C\uDF89 before an anchor \uD83D\uDE00 and after")
    val cases = fixed ++ (0 until 300).map(_ => rand(gen.nextInt(120)))
    // failure messages name the input with escaped UTF-16 units
    def esc(str: String) = str.flatMap(c => if (c < 128) c.toString else f"\\u${c.toInt}%04x")
    for (str <- cases; (w, st) <- Seq((width, stride), (3, 1), (5, 16))) {
      val u = UTF8String.fromString(str)
      val got = ContentAnchorsImpl.anchors(u, w, st).toLongArray().toSeq
      assert(got == RefAnchors.anchors(str, w, st), s"anchors(${esc(str)}, $w, $st)")
      val ctx = ContentAnchorsImpl.anchorContexts(u, w, st, 10).array.toSeq.map { r =>
        val row = r.asInstanceOf[InternalRow]
        (row.getLong(0), row.getInt(1), row.getUTF8String(2).toString)
      }
      val sameContexts = ctx == RefAnchors.contexts(str, w, st, 10)
      assert(sameContexts, s"anchorContexts(${esc(str)}, $w, $st)")
    }
  }

  test("lastToken: family-name extraction (family_name.R:6-7 parity)") {
    val df = Seq(
      ("a", "jorge luis borges"), // multi-token -> last
      ("b", "plato"),             // single token -> itself
      ("c", "  ada   lovelace  "),// ragged whitespace -> still last real token
      ("d", ""),                  // empty -> empty string
      ("e", "   "),               // whitespace-only -> empty string
      ("f", null)                 // null -> null
    ).toDF("id", "name").select(col("id"), T.lastToken(col("name")).as("fam"))
    val m = df.collect().map(r => r.getString(0) -> Option(r.getString(1))).toMap
    assert(m("a").contains("borges"))
    assert(m("b").contains("plato"))
    assert(m("c").contains("lovelace"))
    assert(m("d").contains(""))
    assert(m("e").contains(""))
    assert(m("f").isEmpty)
  }

  test("cosine_sim expression: bit-identical to the HOF composition it replaces") {
    import graft.functions.CosineSim
    // the reference semantics: the exact column composition Ann.cosine used
    // before round 5 (interpreted HOF lambdas, left-fold double sums)
    def hof(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) = {
      val dot = aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")), lit(0.0), (s, x) => s + x)
      val na = aggregate(transform(a, x => x.cast("double") * x.cast("double")), lit(0.0), (s, x) => s + x)
      val nb = aggregate(transform(b, x => x.cast("double") * x.cast("double")), lit(0.0), (s, x) => s + x)
      when(na === 0d || nb === 0d, lit(0.0)).otherwise(dot / (sqrt(na) * sqrt(nb)))
    }
    val rnd = new scala.util.Random(5)
    val rows: Seq[(Seq[Float], Seq[Float])] =
      (0 until 300).map { _ =>
        val d = 1 + rnd.nextInt(40)
        (Seq.fill(d)(rnd.nextFloat() * 20 - 10), Seq.fill(d)(rnd.nextFloat() * 20 - 10))
      } ++ Seq(
        (Seq.fill(8)(0f), Seq.fill(8)(1f)),   // zero-norm left -> 0.0
        (Seq.fill(8)(1f), Seq.fill(8)(0f)),   // zero-norm right -> 0.0
        (Seq.empty[Float], Seq.empty[Float]), // both empty: norms 0 -> 0.0
        (Seq(1f, 2f), Seq(1f, 2f, 3f))        // length mismatch -> null
      )
    val df = rows.toDF("a", "b")
      .select(hof(col("a"), col("b")).as("h"), CosineSim(col("a"), col("b")).as("c"))
    val vals = df.collect()
    vals.foreach { r =>
      val h = if (r.isNullAt(0)) null else java.lang.Double.valueOf(r.getDouble(0))
      val c = if (r.isNullAt(1)) null else java.lang.Double.valueOf(r.getDouble(1))
      // BIT-identical, not epsilon-close: same IEEE fold order is the contract
      assert(h == c || (h != null && c != null &&
        java.lang.Double.doubleToRawLongBits(h) == java.lang.Double.doubleToRawLongBits(c)),
        s"hof=$h codegen=$c")
    }
    // null-element propagation matches too
    val withNull = Seq((Seq[java.lang.Float](1f, null, 3f), Seq[java.lang.Float](1f, 2f, 3f)))
      .toDF("a", "b")
      .select(hof(col("a"), col("b")).as("h"), CosineSim(col("a"), col("b")).as("c"))
      .head
    assert(withNull.isNullAt(0) && withNull.isNullAt(1))
  }

  test("cosine_sim participates in whole-stage codegen") {
    import graft.functions.CosineSim
    val df = spark.range(4)
      .select(CosineSim(
        array(col("id").cast("float"), lit(2f)),
        array(lit(3f), col("id").cast("float"))).as("c"))
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("*(1) Project"), plan)
  }

  test("minhash expression participates in whole-stage codegen") {
    val df = spark.range(4)
      .select(MinHashSignature(array(col("id"), col("id") * 2), 16, 1L).as("sig"))
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("*(1) Project"), plan) // '*' prefix = inside WholeStageCodegen
  }

  // Each rewritten kernel is compared with the formulation it replaced, kept
  // here as the reference: stores and pinned hashes hold their values, so
  // "close" is not enough.

  /** Runs `check` on `input.select(cols)` evaluated twice: interpreted (the
    * optimizer folds a projection over a local relation into its rows) and
    * through generated code (over a shuffle the projection is planned, and
    * compiled whole-stage or, next to a reference lambda, as an unsafe
    * projection).
    */
  private def bothPaths(input: DataFrame, cols: Column*)(check: DataFrame => Unit): Unit = {
    val folded = input.select(cols: _*)
    check(folded)
    assert(!folded.queryExecution.executedPlan.toString.contains("Project"))
    val generated = input.repartition(2).select(cols: _*)
    check(generated)
    assert(generated.queryExecution.executedPlan.toString.contains("Project"))
  }

  /** MinHash with the 64-bit `% P` the Mersenne fold replaced. */
  private def refMinHash(xs: Seq[Long], cs: Array[Long]): Seq[Int] = {
    val sig = Array.fill(cs.length / 2)(Int.MaxValue)
    xs.foreach { x64 =>
      val x = (x64 ^ (x64 >>> 32)) & 0x7fffffffL
      sig.indices.foreach { i =>
        val h = (cs(2 * i) * x + cs(2 * i + 1)) % MinHashImpl.P
        if (h < sig(i)) sig(i) = h.toInt
      }
    }
    sig.toSeq
  }

  test("minhash Mersenne fold equals % P: edge arithmetic and random shingle arrays") {
    val P = MinHashImpl.P
    val edge = for (a <- Seq(1L, 2L, P - 1); x <- Seq(0L, 1L, P - 1, P); b <- Seq(0L, 1L, P - 1))
      yield a * x + b
    val rnd = new scala.util.Random(11)
    val random = Seq.fill(100000)((1 + rnd.nextLong(P - 1)) * rnd.nextLong(P + 1) + rnd.nextLong(P))
    (edge ++ random ++ Seq(P - 1, P, P + 1, 2 * P - 1, 2 * P)).foreach { v =>
      assert(MinHashImpl.mod(v) == v % P, s"v=$v")
    }
    val cs = MinHashImpl.coeffs(128, 42L)
    val longs: Seq[Seq[Long]] = Seq(Seq.empty[Long], Seq(0L), Seq(-1L, Long.MinValue, Long.MaxValue)) ++
      Seq.fill(40)(Seq.fill(rnd.nextInt(300))(rnd.nextLong()))
    val ints: Seq[Seq[Int]] = Seq(Seq.empty[Int], Seq(0), Seq(-1, Int.MinValue, Int.MaxValue)) ++
      Seq.fill(40)(Seq.fill(rnd.nextInt(300))(rnd.nextInt()))
    bothPaths(longs.toDF("sh"), $"sh", MinHashSignature($"sh", 128, 42L)) { df =>
      df.collect().foreach(r => assert(r.getSeq[Int](1) == refMinHash(r.getSeq[Long](0), cs)))
    }
    bothPaths(ints.toDF("sh"), $"sh", MinHashSignature($"sh", 128, 42L)) { df =>
      df.collect().foreach(r => assert(r.getSeq[Int](1) == refMinHash(r.getSeq[Int](0).map(_.toLong), cs)))
    }
  }

  /** SimHash with the per-plane +1/-1 loop the bit-sliced counters replaced. */
  private def refSimHash(hs: Seq[Long]): Long = {
    val acc = new Array[Int](64)
    hs.foreach(h => (0 until 64).foreach(b => if (((h >>> b) & 1L) == 1L) acc(b) += 1 else acc(b) -= 1))
    (0 until 64).foldLeft(0L)((out, b) => if (acc(b) > 0) out | (1L << b) else out)
  }

  test("simhash bit-sliced counters equal the per-plane loop: n = 0, 1, ties, n > 2^16") {
    val rnd = new scala.util.Random(13)
    val h = rnd.nextLong()
    val longs: Seq[Seq[Long]] = Seq(
      Seq.empty, Seq(h), Seq(-1L), Seq(h, ~h), Seq(h, h, ~h, ~h, 0L, -1L), // every plane ties
      Seq.fill(2)(rnd.nextLong()), // ~half the planes tie
      Seq.fill(70000)(rnd.nextLong()),
      Seq.fill(40000)(h) ++ Seq.fill(40000)(~h), // ties at n > 2^16
      Seq.fill(70001)(h) // every counter level in use
    ) ++ Seq.fill(30)(Seq.fill(rnd.nextInt(500))(rnd.nextLong()))
    val x = rnd.nextInt()
    val ints: Seq[Seq[Int]] = Seq(
      Seq.empty, Seq(x), Seq(x, x), Seq.fill(2)(rnd.nextInt()), Seq.fill(4)(rnd.nextInt()),
      Seq.fill(70000)(rnd.nextInt()), Seq.fill(70000)(x)
    ) ++ Seq.fill(30)(Seq.fill(rnd.nextInt(500))(rnd.nextInt()))
    // direct, including the cases that tie on some plane
    longs.foreach { xs =>
      assert(SimHashImpl.simhash64(new GenericArrayData(xs.toArray), intElems = false) == refSimHash(xs))
    }
    ints.foreach { xs =>
      assert(SimHashImpl.simhash64(new GenericArrayData(xs.toArray), intElems = true) ==
        refSimHash(xs.map(i => MinHashImpl.mix64(i.toLong))))
    }
    assert(refSimHash(Seq(h, ~h)) == 0L && refSimHash(Seq.fill(40000)(h) ++ Seq.fill(40000)(~h)) == 0L)
    // and through Spark
    bothPaths(longs.toDF("t"), $"t", SimHash64($"t")) { df =>
      df.collect().foreach(r => assert(r.getLong(1) == refSimHash(r.getSeq[Long](0))))
    }
    bothPaths(ints.toDF("t"), $"t", SimHash64($"t")) { df =>
      df.collect().foreach(r =>
        assert(r.getLong(1) == refSimHash(r.getSeq[Int](0).map(i => MinHashImpl.mix64(i.toLong)))))
    }
  }

  test("signature agreement equals aggregate(zip_with(...)), null on a length mismatch") {
    val rnd = new scala.util.Random(17)
    val a = Seq.fill(128)(rnd.nextInt())
    val rows: Seq[(Seq[Int], Seq[Int])] = Seq(
      (a, a), // equal: 128
      (a, a.map(_ + 1)), // disjoint: 0
      (Seq.empty, Seq.empty), // empty: 0
      (a, a.take(127)), // different lengths: null
      (Seq.empty, a.take(1)) // null
    ) ++ Seq.fill(50)((a, a.map(x => if (rnd.nextBoolean()) x else rnd.nextInt())))
    val ref = aggregate(zip_with($"s1", $"s2", (x, y) => (x === y).cast("int")), lit(0), (acc, x) => acc + x)
    val input = rows.zipWithIndex.map { case ((s1, s2), i) => (i, s1, s2) }.toDF("i", "s1", "s2")
    bothPaths(input, $"i", ref, SignatureAgreement($"s1", $"s2")) { df =>
      val got = df.collect().sortBy(_.getInt(0)).map(r => (Option(r.get(1)), Option(r.get(2))))
      got.foreach { case (r, g) => assert(r == g) }
      assert(got.take(5).map(_._2).toSeq == Seq(Some(128), Some(0), Some(0), None, None))
    }
    // a null element (readable from parquet) nulls both, as in the lambda fold
    val withNull = Seq((Seq[Integer](1, null, 3), Seq[Integer](1, 2, 3))).toDF("s1", "s2")
      .select(ref.as("ref"), SignatureAgreement($"s1", $"s2").as("got")).head
    assert(withNull.isNullAt(0) && withNull.isNullAt(1))
    val bad = intercept[org.apache.spark.sql.AnalysisException] {
      Seq((Seq(1L), Seq(1L))).toDF("s1", "s2").select(SignatureAgreement($"s1", $"s2")).collect()
    }
    assert(bad.getMessage.contains("array<int>"), bad.getMessage)
  }

  test("band keys equal transform/slice/xxhash64 for 1, 32 and 128 bands of 128 perms") {
    val rnd = new scala.util.Random(19)
    def ref(sig: Column, bands: Int, r: Int): Column =
      transform(sequence(lit(0), lit(bands - 1)), b => xxhash64(slice(sig, b * r + 1, lit(r)), b))
    val sigs = Seq.fill(40)(Seq.fill(rnd.nextInt(400))(rnd.nextLong())).toDF("sh")
      .select(MinHashSignature($"sh", 128, 42L).as("sig"))
      .union(Seq(Seq.empty[Int], Seq(1, 2, 3, 4, 5)).toDF("sig")) // shorter than the bands cover
    for (bands <- Seq(1, 32, 128)) {
      val r = 128 / bands
      bothPaths(sigs, ref($"sig", bands, r), BandKeys($"sig", bands, r)) { df =>
        df.collect().foreach { row =>
          val got = row.getSeq[Long](1)
          assert(got.size == bands && got == row.getSeq[Long](0), s"bands=$bands")
        }
      }
    }
    // a null signature: the composition still yields one key per band
    val nul = Seq(Option.empty[Seq[Int]]).toDF("sig")
      .select(ref($"sig", 4, 2).as("ref"), BandKeys($"sig", 4, 2).as("got")).head
    assert(nul.getSeq[Long](0) == nul.getSeq[Long](1) && nul.getSeq[Long](1).size == 4)
  }

  test("signature kernels participate in whole-stage codegen") {
    val sig = MinHashSignature(array(col("id"), col("id") * 2), 16, 1L)
    val df = spark.range(4).select(SignatureAgreement(sig, sig).as("a"), BandKeys(sig, 4, 4).as("k"))
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("*(1) Project"), plan)
  }
}
