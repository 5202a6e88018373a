package graft.ops

import org.apache.spark.sql.{Column, GraftPlanBridge}
import org.apache.spark.sql.functions._

import graft.functions.{IvfCoarseRank, IvfNative, IvfResidual, VecCosineD}

/** The ONE formulation of IVF coarse assignment shared by the query
  * layer (x12/x75, `queries/Extensions`) and the persisted index
  * ([[AnnIndex]] — build, append, and probe ranking). The staged
  * index answers byte-identically to the self-contained pipeline
  * ONLY because both sides rank through these exact expressions
  * (left-to-right folds, same tie-break, same zero-norm guard), so
  * the kit lives here once instead of being maintained by hand in
  * two files. Any change to a formulation changes BOTH sides
  * together, which is what keeps AnnIndexSpec's staged-vs-direct
  * equivalence pin honest.
  *
  * Expression SHAPE is this kit's history and its contract. The
  * original per-centroid-unrolled cosine subtrees livelocked
  * Catalyst's runtime common-subexpression elimination past ~16
  * lists (quadratic pairwise deep-equals over nLists·dim-sized
  * subtrees — SCALEPROBE round 15); the round-15 interim (one array
  * literal + `transform` lambda) kept the tree O(1) but ran
  * interpreted, linear-in-nLists per row with ‖v‖ re-evaluated per
  * centroid. Both are gone: ranking and residual ride ONE native
  * codegen'd expression node each ([[graft.functions.IvfCoarseRank]]
  * / [[graft.functions.IvfResidual]] — no CSE surface at ANY list
  * count, one compiled loop per row, norms computed once), measured
  * faster than the unrolled forms even at the 4-list registry shapes
  * (x12 1.15→0.84 s, x86 1.45→0.86 s isolated — the unrolled
  * "CSE-shared" folds were still interpreted HOFs per row). The
  * kernels compute the same arithmetic in the same left-to-right
  * fold order as the literal forms always did — byte-identical at
  * any list count, pinned by IvfRouteSpec's exact driver references
  * (zero tolerance, CODEGEN_ONLY) and the unchanged
  * x12/x75/x78/x86 oracles. */
private[graft] object IvfKit {

  /** Cosine similarity between two double-array columns, computed as
    * a left-to-right fold so Spark and DuckDB produce identical
    * doubles — one compiled pass ([[graft.functions.VecCosineD]]; the
    * `aggregate`/`zip_with` formulation this replaces computed the
    * same doubles through three interpreted array walks per pair). A
    * zero vector has no defined cosine: NULL (ranked last downstream)
    * instead of an ANSI divide-by-zero error. */
  def cosine(a: Column, b: Column): Column =
    GraftPlanBridge.col(VecCosineD(
      GraftPlanBridge.expr(a), GraftPlanBridge.expr(b)))

  /** One `Broadcast` of the flat-primitive centroid payload per
    * centroid-set INSTANCE per context (weak identity cache):
    * assign/ranked/residual over the same model share one payload, so
    * a query plan carries O(1) handles instead of re-shipping the
    * nLists×dim doubles inside every stage's task binary — the round-
    * 17 payload fix (the baked form measured ~3.3 s ser+deser PER
    * STAGE at 4096 lists × 1024 dims; SCALEPROBE.md "IVF/PQ kernel
    * payload: baked literal → Broadcast handle (round 17)"). A cache
    * miss (fresh set, or the entry's context was stopped — tests
    * recycle sessions) pays one driver-side flatten + broadcast
    * write; executors fetch once and reuse across stages. Weak keys:
    * the entry lives exactly as long as the caller's centroid Seq. */
  private val bcCache =
    new java.util.WeakHashMap[AnyRef, (org.apache.spark.SparkContext,
      org.apache.spark.broadcast.Broadcast[IvfNative.CentroidPayload])]()

  private[graft] def centroidBc(cents: Seq[(Long, Seq[Double])])
      : org.apache.spark.broadcast.Broadcast[IvfNative.CentroidPayload] =
    bcCache.synchronized {
      val sc = org.apache.spark.sql.SparkSession.active.sparkContext
      val hit = bcCache.get(cents)
      if (hit != null && (hit._1 eq sc) && !sc.isStopped) hit._2
      else {
        val bc = sc.broadcast(IvfNative.centroidPayload(
          cents.map(_._1).toIndexedSeq,
          cents.map(_._2.toIndexedSeq).toIndexedSeq))
        bcCache.put(cents, (sc, bc))
        bc
      }
    }

  /** Centroids ranked per row as a sorted struct array — cosine DESC,
    * centroid id ASC on ties (struct sort on (cos, -id) DESC): a pure
    * narrow map, no corpus×centroids join. `keep` truncates to the
    * top-N (assignment needs 1, probing needs nProbes) — a slice of
    * the same sorted ranking, so truncation changes no surviving
    * bits; at thousands of lists it keeps a per-row kilobyte, not a
    * per-row sorted copy of the whole centroid set, in flight. */
  def ranked(cents: Seq[(Long, Seq[Double])], v: Column,
             keep: Int = Int.MaxValue): Column =
    GraftPlanBridge.col(IvfCoarseRank(GraftPlanBridge.expr(v),
      centroidBc(cents), math.min(keep, cents.size)))

  /** The assigned inverted list: id of the top-ranked centroid —
    * `-ranked(...)[1].nid` with only the winner materialized. */
  def assign(cents: Seq[(Long, Seq[Double])], v: Column): Column =
    -element_at(ranked(cents, v, keep = 1), 1).getField("nid")

  /** Residual v − c(listId): one native O(1)-lookup elementwise
    * subtract. An unknown (or null) list id yields NULL. */
  def residual(cents: Seq[(Long, Seq[Double])], listId: Column,
               v: Column): Column =
    GraftPlanBridge.col(IvfResidual(GraftPlanBridge.expr(v),
      GraftPlanBridge.expr(listId), centroidBc(cents)))
}
