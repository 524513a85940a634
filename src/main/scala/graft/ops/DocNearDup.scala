package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.Cols._
import graft.functions.{text => T, MinHashSignature, SimHash64, SortedIntersectSize}
import graft.pipeline.Dedup

/** Document-table near-duplicate operators: the two sketch-indexed dedup
  * paths — MinHash-LSH banding and SimHash Hamming chunks — as standalone
  * library calls over any (integral id, text) table. Both route their
  * buckets through the transcript pipeline's shared pair generator
  * (`pipeline/Dedup.bucketPairs`: ONE hash shuffle, sorted-group streaming
  * pair emission, chunk-capped skew with accumulator-logged drops), so a hot
  * bucket can never go quadratic — the 100 TB shape, independent of which
  * sketch fills the buckets.
  *
  * Reference analogue: blocking → block-local pair enumeration → pairwise
  * similarity (`Makefile:8-12`, `id_pairs.py:21-23`, `c_org.py:18-28`),
  * re-keyed from the reference's exact blocking attribute to sketch buckets
  * so similarity itself defines the blocks.
  */
object DocNearDup {

  /** MinHash-LSH near-duplicate pairs under EXACT word-3-gram Jaccard.
    *
    * distinct word 3-grams → 64-bit gram hashes → numPerms-permutation
    * MinHash signature → bands×rows banding (bucket = band-salted hash of
    * the signature slice) → bucket-join pair enumeration → exact sorted-merge
    * gram intersection. The accept predicate is pure integer arithmetic
    * (`inter * 10 >= uni * tauTenths`), so an independent SQL engine
    * re-derives the emitted rows exactly — no floating point anywhere.
    *
    * Candidates are verified exactly, so false positives are impossible;
    * banding recall at the default 32×4 over 128 perms is
    * 1-(1-j⁴)³² ≈ 0.9998 at j = 0.7 and →1 as j→1 (the planted-truth spec
    * holds the output EQUAL to the brute-force cross join on a planted
    * corpus). `idCol` must be integral: its values are the pair emitter's
    * `uid`s as they are (rows with a null id are dropped: they can match
    * nothing), and pairs are emitted with id1 < id2 numerically.
    */
  def lshJaccardPairs(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      numPerms: Int = 128,
      bands: Int = 32,
      bucketCap: Int = 256,
      seed: Long = 42L,
      tauTenths: Int = 7
  ): DataFrame = {
    val cfg = Dedup.Config(
      numPerms = numPerms,
      bands = bands,
      bucketCap = bucketCap,
      seed = seed,
      simhashEnabled = false,
      substringEnabled = false
    )
    val sigs = docs
      .select(
        col(idCol).cast("long").as("uid"),
        array_sort(transform(T.wordGrams(col(textCol), 3), g => xxhash64(g))).as("shingles")
      )
      // a null text has no gram set: exclude it up front (it can match
      // nothing, and its null shingles would otherwise band into shared
      // garbage buckets via xxhash64's null-skipping seed hash)
      .where($"uid".isNotNull && $"shingles".isNotNull)
      .select($"uid", $"shingles", MinHashSignature($"shingles", numPerms, seed).as("sig"))
    val side = sigs.select($"uid", $"shingles")
    val inter = SortedIntersectSize($"sh1", $"sh2")
    Dedup
      .candidates(sigs, cfg)
      .join(side.toDF("id1", "sh1"), "id1")
      .join(side.toDF("id2", "sh2"), "id2")
      .select(
        least($"id1", $"id2").as("id1"),
        greatest($"id1", $"id2").as("id2"),
        inter.as("inter"),
        (size($"sh1") + size($"sh2") - inter).as("uni")
      )
      .where($"inter" * 10 >= $"uni" * tauTenths)
  }

  /** SimHash Hamming-ball near-duplicate pairs — EXHAUSTIVE retrieval, not
    * approximate: the 4×16-bit chunk banding guarantees by pigeonhole that
    * any two fingerprints within Hamming distance 3 agree on at least one
    * chunk, so every qualifying pair reaches the in-stream Hamming gate
    * (`pipeline/Dedup.simhashGate`). Output == ALL pairs with
    * hamming(simhash₁, simhash₂) <= maxHamming, modulo bucket-cap drops
    * (accumulator-logged; raise `bucketCap` if the corpus has a hot chunk).
    *
    * Fingerprints are the d06 space — `SimHash64` over per-token hashes of
    * normalized text — so a pinned fingerprint table lets an independent
    * engine re-derive the ENTIRE ball join (`bit_count(xor(a, b)) <= d`).
    * `idCol` must be integral, as in [[lshJaccardPairs]].
    */
  def simhashHammingPairs(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      maxHamming: Int = 3,
      bucketCap: Int = 4096
  ): DataFrame = {
    require(maxHamming <= 3, "4x16-bit chunk banding is exhaustive only for maxHamming <= 3")
    val cfg = Dedup.Config(simhashMaxHamming = maxHamming, bucketCap = bucketCap)
    val fp = docs
      .select(
        col(idCol).cast("long").as("uid"),
        SimHash64(T.tokenHashes(T.tokens(col(textCol)))).as("simhash")
      )
      // a null id or text has no usable key or fingerprint: exclude it up
      // front — a null id or payload would violate the pair generator's
      // typed (bucket, id, payload) encoder (NOT_NULL_ASSERT_VIOLATION), a
      // task failure at corpus scale
      .where($"uid".isNotNull && $"simhash".isNotNull)
    Dedup
      .bucketPairs(Dedup.simhashBuckets(fp, cfg, $"uid"), cfg.bucketCap, Dedup.simhashGate(cfg))
      .distinct()
      .join(fp.toDF("id1", "s1"), "id1")
      .join(fp.toDF("id2", "s2"), "id2")
      .select(
        least($"id1", $"id2").as("id1"),
        greatest($"id1", $"id2").as("id2"),
        bit_count($"s1".bitwiseXOR($"s2")).cast("int").as("hamming")
      )
      // the in-stream Hamming gate filters enumerated pairs, but a CAPPED
      // bucket's chunk-chaining hub edges bypass it by design (they preserve
      // bucket connectivity for the CLUSTERING pipeline, which re-verifies
      // candidates downstream); this operator's contract is the pairs
      // themselves, so gate the hub edges here too
      .where($"hamming" <= maxHamming)
  }
}
