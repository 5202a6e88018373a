package graft.ops

import org.apache.spark.sql.DataFrame
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
  * The cap is the count-then-filter pattern (one window count over the
  * block key the join shuffles on anyway):
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
    * DISTINCT (doc_a, doc_b), doc_a < doc_b. The window count rides the
    * same (band, k1, k2) hash partitioning the self-join needs, so the
    * cap costs a sort within the existing exchange, not a new shuffle. */
  def cappedBandPairs(bands: DataFrame, cap: Int = DefaultBlockCap): DataFrame = {
    val w = Window.partitionBy(col("band"), col("k1"), col("k2"))
    val sized = bands
      .withColumn("__bcnt", count(lit(1)).over(w))
      .withColumn("__keeper", min(col("doc_id")).over(w))
    val small = sized.filter(col("__bcnt") <= cap)
      .select(col("doc_id"), col("band"), col("k1"), col("k2"))
    val allPairs = small.as("a")
      .join(small.as("b"),
        col("a.band") === col("b.band") && col("a.k1") === col("b.k1") &&
        col("a.k2") === col("b.k2") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
    val star = sized
      .filter(col("__bcnt") > cap && col("doc_id") =!= col("__keeper"))
      .select(col("__keeper").as("doc_a"), col("doc_id").as("doc_b"))
    allPairs.unionByName(star).distinct()
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
