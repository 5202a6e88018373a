package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Capped candidate-pair generation for blocked dedup joins.
  *
  * Blocked self-joins (x02's LSH band buckets, x31's prefix blocks)
  * bound their work at Σ|block|² — which is the scale contract right up
  * until a boilerplate-skewed corpus lands one pathological block:
  * 100k docs sharing a band key (or a 16-char licence-header prefix)
  * turn one block into 5·10⁹ pairs and a straggler task no salt can
  * split, because the pairs are REAL, not a distribution artifact.
  *
  * The cap is the count-then-filter pattern (one count per block key,
  * in the pass that gathers the block anyway):
  *
  *  - blocks ≤ `cap`: all (a < b) pairs, unchanged — Σ|block|² with
  *    |block| bounded by the cap;
  *  - blocks > `cap`: degrade to STAR pairs around the block's min doc
  *    — O(|block|) pairs. A block that oversized is near-identical
  *    boilerplate by construction (its members collide on the blocking
  *    key), the keeper representative still surfaces the cluster, and
  *    downstream transitive clustering (x28's connected components)
  *    recovers full-cluster membership through the star's center.
  *
  * Worst-case pair count per block is therefore max(cap², |block|−1) —
  * linear in the block past the cap, never quadratic. The fixture's
  * blocks are ≤3 docs so the cap never fires at oracle scale and the
  * plain-SQL oracles stay valid; BlockingSpec plants the 10k-doc
  * boilerplate block and pins the linear bound.
  */
object Blocking {

  /** Default per-block cap: 64² = 4096 pairs per block worst case. */
  val DefaultBlockCap = 64

  /** Candidate pairs from LSH band rows (doc_id, band, k1, k2) —
    * [[MinHash.bands]] output — with the per-block cap. Returns
    * DISTINCT (doc_a, doc_b), doc_a < doc_b. One aggregation per block
    * key takes the row count (null and repeated doc ids included) and
    * the sorted members, and the block's pairs are listed in its row,
    * so the band rows cross one exchange, not a new one per route. */
  def cappedBandPairs(bands: DataFrame, cap: Int = DefaultBlockCap): DataFrame = {
    val blocks = bands.groupBy(col("band"), col("k1"), col("k2"))
      .agg(count(lit(1)).as("n"), array_sort(collect_list(col("doc_id"))).as("ids"))
    val ids = col("ids")
    def pair(a: Column, b: Column) = struct(a.as("doc_a"), b.as("doc_b"))
    val all = flatten(transform(ids, (a, i) =>
      transform(slice(ids, i + 2, size(ids)), b => pair(a, b))))
    val star = transform(slice(ids, lit(2), size(ids)), b => pair(ids(0), b))
    blocks
      .select(explode(when(col("n") <= cap, all).otherwise(star)).as("p"))
      .select(col("p.doc_a"), col("p.doc_b"))
      // a repeated doc id pairs with itself; a strict < drops it
      .filter(col("doc_a") < col("doc_b"))
      .distinct()
  }

  /** Candidate pairs for edit-distance dedup from prefix blocking with
    * a LENGTH BUCKET and the per-block cap. `items` carries
    * (doc_id, t); returns (doc_a, doc_b, ta, tb), doc_a < doc_b, both
    * texts attached for the scoring pass.
    *
    * The length bucket is semantically FREE pruning: bucket width =
    * threshold+1, so two docs in non-adjacent buckets differ in length
    * by > threshold — and length delta lower-bounds edit distance, so
    * the pair is already outside the threshold. The left side expands
    * to its ±1 neighbor buckets, so every pair within the threshold
    * meets in exactly one orientation. The bucket also SPLITS a
    * boilerplate prefix block across length cells before the cap is
    * even consulted — same prefix, different tails stop colliding. */
  def cappedPrefixPairs(items: DataFrame, prefixLen: Int, threshold: Int,
                        cap: Int = DefaultBlockCap): DataFrame = {
    val width = threshold + 1
    val keyed = items
      .withColumn("blk", substring(col("t"), 1, prefixLen))
      .withColumn("lb", (length(col("t")) / width).cast("int"))
    val w = Window.partitionBy(col("blk"), col("lb"))
    val sized = keyed
      .withColumn("__bcnt", count(lit(1)).over(w))
      .withColumn("__keeper", min(col("doc_id")).over(w))
    val small = sized.filter(col("__bcnt") <= cap)
    val l = small.select(col("blk"), col("doc_id").as("doc_a"),
        col("t").as("ta"),
        explode(array(col("lb") - 1, col("lb"), col("lb") + 1)).as("jb"))
    val r = small.select(col("blk"), col("lb").as("jb"),
      col("doc_id").as("doc_b"), col("t").as("tb"))
    // Each (a, b) pair meets at most once: b sits in ONE (blk, lb)
    // cell, a's explode visits that cell at most once, and exactly one
    // of the two orientations survives doc_a < doc_b — so no distinct
    // is needed (and none is taken: a distinct here would shuffle the
    // attached texts a second time for nothing).
    val allPairs = l.join(r, Seq("blk", "jb"))
      .filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"), col("ta"), col("tb"))
    val keepers = sized
      .filter(col("__bcnt") > cap && col("doc_id") === col("__keeper"))
      .select(col("blk"), col("lb"), col("doc_id").as("doc_a"),
        col("t").as("ta"))
    val starPairs = sized
      .filter(col("__bcnt") > cap && col("doc_id") =!= col("__keeper"))
      .select(col("blk"), col("lb"), col("doc_id").as("doc_b"),
        col("t").as("tb"))
      .join(keepers, Seq("blk", "lb"))
      .select(col("doc_a"), col("doc_b"), col("ta"), col("tb"))
    // Disjoint by construction: allPairs pairs two under-cap cells,
    // starPairs pairs within one over-cap cell.
    allPairs.unionByName(starPairs)
  }
}
