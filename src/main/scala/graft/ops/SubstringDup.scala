package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.{AnchorContexts, MinHashImpl}
import graft.pipeline.Dedup

/** Exact long-substring duplicate pass — the bounded distributed
  * suffix-array variant SURVEY §7.5 step 5 prescribes ("sorted w-gram
  * anchors -> repartition + LCP extension"), completing the north-star's
  * MinHash / SimHash / suffix-array-substring triple. The degraded fallback
  * (anchor-equality candidacy via `content_anchors`) shipped in round 1;
  * this operator reports the actual shared-substring LENGTH per pair.
  *
  * A suffix array clusters suffixes by common prefix and reads match
  * lengths off the LCP array; materializing O(total-chars) suffixes of a
  * 100 TB corpus is the part that does not scale. The bounded equivalent:
  *   1. winnowed anchor occurrences per doc (codegen'd `anchor_contexts`,
  *      density ~2/stride), each carrying a BOUNDED context slice
  *      (`maxExtend + width + maxExtend` UTF-16 chars around the window —
  *      the suffix prefix a real suffix array would compare, truncated;
  *      slicing and the later extension share the UTF-16 char domain, so
  *      supplementary characters cannot misalign offsets) — all map-side;
  *   2. hot anchors (boilerplate w-grams in millions of docs) are thinned
  *      BEFORE the group shuffle: a partial-aggregated per-anchor count
  *      (tiny — only anchors over the cap survive the filter) broadcasts
  *      back and deterministic hash thinning keeps ~`anchorCap` rows per
  *      oversized anchor, so no reducer ever materializes an unbounded
  *      group — the same discipline as the LSH bucket caps and the
  *      incremental store's old-side thinning;
  *   3. one hash shuffle groups equal w-grams (the suffix-array "runs of
  *      equal prefix"); within a group (hard-capped again as a belt), cross-
  *      doc pairs verify the literal w-gram (rolling-hash collision guard)
  *      and LCP-extend left + right inside the contexts;
  *   4. per-pair max over anchors and occurrences, filtered to `minLen`.
  *
  * Guarantees: any two docs sharing a substring of length >=
  * `width + stride - 1` share a winnowed anchor inside it (the winnowing
  * guarantee) — and every occurrence of that anchor is kept, so the
  * occurrence inside the shared block is always among the extended ones
  * (subject only to hot-anchor thinning, which is logged in the cap
  * semantics); the reported length never exceeds the true longest common
  * substring (every reported char was compared), and equals it whenever the
  * true match extends at most `maxExtend` beyond the anchor window on each
  * side. Shuffle volume is O(anchors x context), NOT O(corpus²) — the
  * 100 TB shape is identical to the LSH candidate pass.
  */
object SubstringDup {

  def sharedSubstrings(
      docs: DataFrame, // (id, text)
      width: Int = 24,
      stride: Int = 16,
      maxExtend: Int = 200,
      minLen: Int = 40,
      anchorCap: Int = 64
  ): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._

    val anchored = docs
      .select(col("id").cast("string").as("id"), col("text"))
      .select(col("id"), explode(AnchorContexts(col("text"), width, stride, maxExtend)).as("a"))
      .select($"a.anchor".as("anchor"), $"id", $"a.off".as("off"), $"a.ctx".as("ctx"))

    // map-side hot-anchor thinning: only oversized anchors survive the
    // count filter (a handful of boilerplate w-grams), so the join
    // broadcasts and the expensive group shuffle below never carries an
    // unbounded group
    Dedup
      .thinHotKeys(anchored, Seq("anchor"), xxhash64($"id", $"anchor", $"off"), anchorCap, broadcastHot = true)
      .as[(Long, String, Int, String)]
      .groupByKey(_._1)
      .flatMapGroups { (anchor, it) =>
        // canonical member order (group iterators arrive in partition
        // order); the same doc may appear with several occurrences of the
        // anchor — each has a different context and extension
        val rows = it.toArray.map { case (_, id, off, ctx) => (id, off, ctx) }
          .sortBy(r => (r._1, r._2))
        // hard in-group cap (belt: the hash thinning above keeps ~anchorCap
        // rows in expectation, not exactly)
        val kept =
          if (rows.length <= 2 * anchorCap) rows
          else rows
            .sortBy(r => (MinHashImpl.mix64(anchor ^ r._1.hashCode.toLong) ^ r._2.toLong, r._1))
            .take(2 * anchorCap)
            .sortBy(r => (r._1, r._2))
        val out = scala.collection.mutable.ArrayBuffer[(String, String, Int)]()
        var i = 0
        while (i < kept.length) {
          val (ida, offa, ca) = kept(i)
          var j = i + 1
          while (j < kept.length) {
            val (idb, offb, cb) = kept(j)
            if (ida != idb && ca.regionMatches(offa, cb, offb, width)) {
              var l = 0
              while (offa - l - 1 >= 0 && offb - l - 1 >= 0 &&
                ca.charAt(offa - l - 1) == cb.charAt(offb - l - 1)) l += 1
              var r = 0
              while (offa + width + r < ca.length && offb + width + r < cb.length &&
                ca.charAt(offa + width + r) == cb.charAt(offb + width + r)) r += 1
              val len = l + width + r
              val (x, y) = if (ida < idb) (ida, idb) else (idb, ida)
              out += ((x, y, len))
            }
            j += 1
          }
          i += 1
        }
        out.iterator
      }
      .toDF("id1", "id2", "len")
      .groupBy($"id1", $"id2")
      .agg(max($"len").as("longest_match"))
      .where($"longest_match" >= minLen)
  }
}
