package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.{ConnectedComponents, DimStore}

/** Continuous dedup CLUSTER maintenance — the label side of streaming
  * near-dup detection, closing the pipeline
  * [[StreamingNearDup]] (pairs at ingest) → components → keeper labels
  * that the batch side covers with x02 → x73/x74.
  *
  * Design (the [[QuantileStore]] house pattern — journal at write
  * time, compute at read time): each micro-batch's candidate edges are
  * UPSERTED into a versioned [[DimStore]] edge table keyed by the
  * normalized pair (`"a:b"`, a > b) with the batchId as the LWW
  * version. Nothing is merged or recomputed at write time, so the
  * write path is O(new edges) — and foreachBatch's at-least-once
  * re-delivery is absorbed structurally: a replayed batch overwrites
  * its own rows with identical content (edge identity IS the pk), so
  * the journal after a replay is byte-equal to the journal before it.
  * Labels come from [[ConnectedComponents.starContraction]] over the
  * journal at read time — the same O(log n)-round fixpoint the batch
  * queries grade against the DuckDB oracle, so streamed labels agree
  * with a batch recompute BY CONSTRUCTION of the shared operator
  * (StreamingClustersSpec pins it end-to-end).
  *
  * Scale shape: the journal holds one row per DISTINCT near-dup pair
  * ever observed — the same cardinality the batch pipeline's verified
  * pair table materializes (capped upstream by
  * [[graft.ops.Blocking]]'s per-block pair caps), not per event and
  * not per re-delivery. The read-side contraction is priced per
  * CONSULTATION, not per batch, and [[compactJournal]] periodically
  * folds the labels back in as star edges (x74's history-compaction
  * move), bounding the journal at O(clustered docs) regardless of how
  * many redundant pairs the detector has emitted.
  */
object StreamingClusters {

  /** foreachBatch hook for a [[DupCandidate]] stream
    * (`keeperId`, `dupId`, `band`): journal the batch's distinct
    * normalized edges, replay-idempotently. Empty batches commit
    * nothing (no version churn from quiet micro-batches). */
  def updateBatch(store: String,
                  nBuckets: Int = DimStore.NumBuckets)(
                  batch: DataFrame, batchId: Long): Unit = {
    val edges = batch.select(
        greatest(col("keeperId"), col("dupId")).as("a"),
        least(col("keeperId"), col("dupId")).as("b"))
      .filter(col("a") =!= col("b"))
      .distinct()
      .withColumn("pk", concat_ws(":", col("a"), col("b")))
      .withColumn("ver", lit(batchId))
    // no separate emptiness probe: upsert's own commit-probe gates the
    // empty batch (no touched buckets / zero create rows → no commit,
    // no table creation) — one job instead of two per batch
    DimStore.upsert(batch.sparkSession, store, edges, "pk", "ver",
      nBuckets = nBuckets)
  }

  /** Current (id, rep) keeper labels from the journal — component
    * minima, identical semantics to x28/x73/x74: the driver fold's
    * unpersisted local relation, or past its bound a PERSISTED frame
    * (callers done with it may unpersist). Empty store → empty labels.
    * The contraction's durable checkpoint copy (reliable-checkpoint
    * sessions) is released HERE, after the labels are materialized —
    * the persisted blocks serve the caller, and a consultation cadence
    * must not strand one labels checkpoint per read in
    * spark.checkpoint.dir (the same leak class compactJournal
    * releases). */
  def labels(spark: SparkSession, store: String): DataFrame =
    DimStore.readIfExists(spark, store) match {
      case Some(df) =>
        val (l, release) = ConnectedComponents
          .starContractionReleasable(df.select(col("a"), col("b")))
        release()
        l
      case None =>
        spark.range(0).select(col("id"), col("id").as("rep"))
    }

  // -------------------------------------------------------------------
  // MAINTAINED labels — the x74 incremental move applied streaming-side.
  // The journal+labels-on-read route above prices a full O(log n)-round
  // star contraction over O(clustered docs) edges PER CONSULTATION —
  // the StreamBench `clusters` leg measured exactly that cost. The
  // maintained route moves the contraction to WRITE time and makes it
  // incremental: the label table's own star edges (one (id, rep) row
  // per doc — exactly the connectivity of everything clustered so far,
  // already height-1) are contracted together with ONLY the arriving
  // batch's edges, so rounds are bounded by the NEW structure's depth,
  // and a consultation becomes a snapshot read of the table — no
  // recompute at all. Same fixpoint as the journal route and a full
  // batch recompute BY CONSTRUCTION (star edges preserve components
  // exactly, minima keep original ids) — StreamingClustersSpec pins
  // all three routes to one oracle across multi-batch merges and
  // replays.

  /** foreachBatch hook, maintained-label mode: incrementally fold the
    * batch's candidate edges into the (id, rep) label table at
    * `store`. The batch's edges are first mapped onto the QUOTIENT
    * graph of current components (each endpoint replaced by its
    * serving rep; edges internal to one component vanish), so the
    * contraction runs over a graph of O(batch) nodes — component reps
    * and brand-new docs — never over the full history. This is sound
    * because every existing rep IS its component's minimum: the
    * quotient contraction's minima are the true global minima of the
    * merged components, so maintained labels equal a full-graph
    * recompute exactly (spec-pinned). Writes are O(changed) too: new
    * docs plus the members of components whose rep moved.
    * Replay-idempotent structurally: a redelivered batch's edges all
    * collapse inside existing components — the quotient graph is
    * empty and nothing commits.
    *
    * Routing: the quotient graph is O(micro-batch) BY CONSTRUCTION, so
    * when the batch's distinct edge set fits under
    * `driverFoldMaxEdges` the fold runs driver-side — one
    * [[graft.core.Bounded]] collect, one narrow label-table lookup
    * scan, a path-compressed union-find, one upsert. A larger
    * micro-batch takes the fully distributed quotient-contraction
    * path below — identical fixpoint, spec-pinned on both routes — so
    * nothing breaks when a backfill replays a huge batch. */
  def updateBatchMaintained(store: String,
      driverFoldMaxEdges: Int = 200000,
      nBuckets: Int = DimStore.NumBuckets)(batch: DataFrame,
                                           batchId: Long): Unit = {
    val spark = batch.sparkSession
    // the edge frame may be consumed by several actions below (routing
    // probe, the rep-map joins, the contraction, the upsert), and its
    // lineage is the WHOLE upstream micro-batch topology (parse +
    // MinHash banding + state op on the streaming path) — pin it once
    // or every action re-executes that topology
    val incr = batch.select(
        greatest(col("keeperId"), col("dupId")).as("a"),
        least(col("keeperId"), col("dupId")).as("b"))
      .filter(col("a") =!= col("b"))
      .distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // ONE action both routes the batch and (on the fast path)
      // delivers its edges
      graft.core.Bounded.collect(incr, driverFoldMaxEdges) match {
        case Some(head) => if (head.nonEmpty) foldDriver(spark, store,
          head.map(r => (r.getLong(0), r.getLong(1))), batchId, nBuckets)
        case None => updateBatchMaintainedDistributed(spark, store, incr,
          batchId, nBuckets)
      }
    } finally { incr.unpersist(); () }
  }

  /** Driver fast path: quotient + union-find over a bounded edge set.
    * Semantics identical to the distributed route (component minima
    * over batch edges ∪ history star edges). */
  private def foldDriver(spark: SparkSession, store: String,
      edges: Array[(Long, Long)], batchId: Long, nBuckets: Int): Unit = {
    import spark.implicits._
    val endpoints = edges.iterator
      .flatMap(e => Iterator(e._1, e._2)).toSet
    val old = DimStore.readIfExists(spark, store)
      .map(_.select(col("id"), col("rep")))
    // serving reps for the batch's endpoints: one scan of the label
    // table inner-joined against the broadcast endpoint set, collected
    // at ≤ |endpoints| rows
    val repOf: Map[Long, Long] = old match {
      case Some(l) =>
        l.join(broadcast(endpoints.toSeq.toDF("id")), Seq("id"))
          .collect().iterator
          .map(r => r.getLong(0) -> r.getLong(1)).toMap
      case None => Map.empty
    }
    // quotient: endpoints replaced by their serving reps; edges
    // internal to one existing component vanish
    val quotient = edges.iterator
      .map { case (x, y) => (repOf.getOrElse(x, x), repOf.getOrElse(y, y)) }
      .filter { case (x, y) => x != y }.toArray
    if (quotient.isEmpty) return // replay / already absorbed: no commit
    val label = ConnectedComponents.unionFindMin(quotient)
    // old reps whose component minimum moved → relabel ALL their
    // members (including the rep's own self-row), distributed: the
    // label table is only ever scanned against a broadcast of the
    // moved-rep map
    val oldReps = repOf.valuesIterator.toSet
    val movedReps = label.iterator
      .filter { case (id, rep) => id != rep && oldReps.contains(id) }
      .toSeq
    val changedMembers = old.filter(_ => movedReps.nonEmpty).map { l =>
      l.join(broadcast(movedReps.toDF("__orep", "__nrep")),
          col("rep") === col("__orep"))
        .select(col("id"), col("__nrep").as("rep"))
    }
    // brand-new docs (endpoints absent from the table): every one has
    // at least one surviving quotient edge, so its component minimum
    // is in `label`
    val newRows = endpoints.iterator.filterNot(repOf.contains)
      .map(id => (id, label.getOrElse(id, id))).toSeq
    val delta0 = newRows.toDF("id", "rep")
    val delta = changedMembers.fold(delta0)(_.unionByName(delta0))
    DimStore.upsert(spark, store,
      delta.withColumn("ver", lit(batchId)), pk = "id",
      versionCol = "ver", nBuckets = nBuckets)
  }

  private def updateBatchMaintainedDistributed(spark: SparkSession,
      store: String, incr: DataFrame, batchId: Long,
      nBuckets: Int): Unit = {
    DimStore.readIfExists(spark, store)
      .map(_.select(col("id"), col("rep"))) match {
      case None =>
        val (labels, release) =
          ConnectedComponents.starContractionReleasable(incr)
        try DimStore.upsert(spark, store,
          labels.withColumn("ver", lit(batchId)), pk = "id",
          versionCol = "ver", nBuckets = nBuckets)
        finally { labels.unpersist(); release(); () }
      case Some(old) =>
        // endpoints → serving reps (unseen ids map to themselves). The
        // label table only ever INNER-joins a broadcast of the batch's
        // endpoint ids — one narrow scan per side, never a shuffle of
        // the big table; the resulting endpoint→rep maps are
        // batch-sized and broadcast back onto the batch.
        def repMap(end: String): DataFrame = old
          .join(broadcast(incr.select(col(end)).distinct()),
            col("id") === col(end))
          .select(col(end), col("rep").as(s"__r$end"))
        val quotient = incr
          .join(broadcast(repMap("a")), Seq("a"), "left")
          .join(broadcast(repMap("b")), Seq("b"), "left")
          .select(coalesce(col("__ra"), col("a")).as("a"),
            coalesce(col("__rb"), col("b")).as("b"))
          .filter(col("a") =!= col("b"))
        if (quotient.isEmpty) return // all edges already absorbed: no-op
        val (repLabels, release) =
          ConnectedComponents.starContractionReleasable(quotient)
        try {
          val moved = repLabels.filter(col("id") =!= col("rep"))
          // old reps that merged downhill → relabel ALL their members
          // (including the rep's own self-row)
          val movedReps = moved
            .join(old.select(col("rep").as("id")).distinct(), Seq("id"))
            .select(col("id").as("__orep"), col("rep").as("__nrep"))
          val changedMembers = old
            .join(broadcast(movedReps), col("rep") === col("__orep"))
            .select(col("id"), col("__nrep").as("rep"))
          // brand-new docs: their quotient label IS their final label
          val newNodes = repLabels
            .join(old.select(col("id")), Seq("id"), "left_anti")
            .select(col("id"), col("rep"))
          DimStore.upsert(spark, store,
            changedMembers.unionByName(newNodes)
              .withColumn("ver", lit(batchId)),
            pk = "id", versionCol = "ver", nBuckets = nBuckets)
        } finally { repLabels.unpersist(); release(); () }
    }
  }

  /** Consultation, maintained-label mode: one snapshot read — the
    * serving cost the journal route could not give. Empty store →
    * empty labels. */
  def maintainedLabels(spark: SparkSession, store: String): DataFrame =
    DimStore.readIfExists(spark, store) match {
      case Some(df) => df.select(col("id"), col("rep"))
      case None => spark.range(0).select(col("id"), col("id").as("rep"))
    }

  /** Takedown propagation, JOURNAL route — delete every edge incident
    * to `ids` (one bucket-scoped [[DimStore.deleteWhere]] commit), so
    * the next [[labels]] consultation recomputes WITHOUT the removed
    * nodes: a taken-down document leaves the cluster graph entirely,
    * and components it alone connected SPLIT — exact with respect to
    * the journal's remaining evidence (spec-pinned against a batch
    * contraction over the surviving edges). `ids` is a driver-side
    * list because takedown batches are bounded (the GDPR/PII shape) —
    * the predicate broadcasts as literals, never a join.
    *
    * Semantics note: [[compactJournal]] preserves CONNECTIVITY, not
    * evidence multiplicity — after a compaction the only stored
    * witness for a member is its star edge to the rep, so taking down
    * a REP dissolves its component's indirect claims. That errs
    * toward keeping data (fewer dup claims), never toward falsely
    * grouping. Returns the number of edges removed. Idempotent:
    * redelivery finds nothing incident and commits nothing. A
    * takedown covering every remaining node EMPTIES the journal
    * rather than wedging (allowEmpty — a safety cadence must not
    * throw on the everything-matched case). */
  def deleteNodes(spark: SparkSession, store: String,
                  ids: Seq[Long]): Long = {
    if (ids.isEmpty) return 0L
    import spark.implicits._
    deleteNodes(spark, store, ids.toDF("id"))
  }

  /** Bulk-takedown overload: `ids` as a single-column DataFrame (the
    * 10⁵–10⁶-id PII-sweep shape) — the match runs as broadcast hash
    * anti/semi joins via [[DimStore.deleteKeys]], so the PLAN stays
    * O(1) in |ids| where the Seq route's `isin` would inline every id
    * as a literal. Spec-pinned equal to the Seq route. */
  def deleteNodes(spark: SparkSession, store: String,
                  ids: DataFrame): Long = {
    if (DimStore.readIfExists(spark, store).isEmpty) return 0L
    DimStore.deleteKeys(spark, store, "pk", ids, Seq("a", "b"),
      allowEmpty = true)
  }

  /** Takedown propagation, MAINTAINED route: remove `ids` from the
    * (id, rep) label table; components whose REP was taken down
    * re-elect the minimum surviving member and relabel (O(affected
    * components), one upsert + one bucket-scoped delete commit). The
    * label table holds no pairwise evidence — only the star — so the
    * surviving members KEEP their component under the new rep (the
    * transitive-closure semantics dedup clustering already asserts);
    * a deployment that needs exact post-takedown splits runs the
    * journal route's [[deleteNodes]], which retains the edges.
    *
    * At-least-once safe: a crash between the relabel upsert and the
    * delete commit leaves relabeled survivors (reps not in `ids`), so
    * the redelivered call finds no affected components and just
    * completes the delete — convergent, spec-pinned idempotent. */
  def deleteNodesMaintained(spark: SparkSession, store: String,
                            ids: Seq[Long], batchId: Long): Long = {
    if (ids.isEmpty) return 0L
    import spark.implicits._
    deleteNodesMaintained(spark, store, ids.toDF("id"), batchId)
  }

  /** Bulk-takedown overload of [[deleteNodesMaintained]] — `ids` as a
    * single-column DataFrame, matched by broadcast hash joins so the
    * plan stays O(1) in |ids| (the [[deleteNodes]] overload's
    * rationale). Spec-pinned equal to the Seq route. */
  def deleteNodesMaintained(spark: SparkSession, store: String,
                            ids: DataFrame, batchId: Long): Long = {
    val full = DimStore.readIfExists(spark, store)
      .getOrElse(return 0L)
    val k = ids.toDF("__tid").distinct()
    // surviving members of components whose rep is being deleted
    val affected = full
      .join(broadcast(k), col("rep") === col("__tid"), "left_semi")
      .join(broadcast(k), col("id") === col("__tid"), "left_anti")
      .persist()
    try {
      // the relabel upsert below wins its per-row merge only while
      // batchId beats every stored ver it collides with; a STALE
      // batchId (a takedown redelivered after later batches raised
      // the rows' versions) would silently LOSE the LWW merge — and
      // the delete commit after it would still remove the rep rows,
      // leaving survivors pointing at a deleted rep. Same
      // loud-over-wrong guard as AnnIndex.delete's ver > buildVer.
      // one job answers both "is anything affected" and the stale-
      // batchId guard (they used to be two probes plus a separate
      // relabel emptiness check — three actions over the same cached
      // frame)
      val probe = affected.agg(max(col("ver")), count(lit(1))).head()
      if (probe.getLong(1) > 0L) {
        val maxVer = probe.getLong(0)
        require(batchId > maxVer,
          s"deleteNodesMaintained batchId $batchId does not beat the " +
          s"affected label rows' max version $maxVer — the relabel " +
          "would silently lose the LWW merge and survivors would point " +
          s"at a deleted rep; reissue the takedown at ver ${maxVer + 1}+")
        val newReps = affected.groupBy(col("rep"))
          .agg(min(col("id")).as("__nrep"))
        // every affected row joins its rep's group, so relabel is
        // nonempty by construction — no emptiness probe needed
        val relabel = affected.join(broadcast(newReps), Seq("rep"))
          .select(col("id"), col("__nrep").as("rep"))
          .withColumn("ver", lit(batchId))
        DimStore.upsert(spark, store, relabel, pk = "id",
          versionCol = "ver")
      }
    } finally { affected.unpersist(); () }
    DimStore.deleteKeys(spark, store, "id", ids, Seq("id"),
      allowEmpty = true)
  }

  /** Journal COMPACTION: replace the stored edge set with the star
    * edges of its own components ([[graft.ops.DimStore.rewrite]] — one
    * optimistic commit, re-derived per attempt so a racing
    * `updateBatch` is never dropped). Connectivity-preserving, so
    * [[labels]] before and after agree exactly, while the journal
    * shrinks from O(observed pairs) to O(clustered docs). A batch
    * replayed from BEFORE the compaction re-journals edges the stars
    * already absorb — redundant rows, never wrong labels (adding
    * absorbed edges cannot change components). Star rows carry
    * `ver = -1`: any later journaled edge that collides on the same
    * pair pk wins the LWW merge with identical (a, b) content.
    * Periodic maintenance, like vacuum/compact. */
  def compactJournal(spark: SparkSession, store: String): Unit = {
    if (DimStore.readIfExists(spark, store).isEmpty) return // nothing journaled yet
    // the rewrite fully materializes the star edges into the store, so
    // each attempt's labels — cache AND durable checkpoint copy (the
    // reliable-checkpoint route) — are released afterwards; without
    // the handles a compaction cadence strands one label-set
    // checkpoint per run in spark.checkpoint.dir
    val built =
      scala.collection.mutable.ArrayBuffer.empty[(DataFrame, () => Unit)]
    try DimStore.rewrite(spark, store, "pk") { df =>
      val (l, release) = ConnectedComponents
        .starContractionReleasable(df.select(col("a"), col("b")))
      built += ((l, release))
      l.filter(col("id") =!= col("rep"))
        .select(col("id").as("a"), col("rep").as("b"))
        .withColumn("pk", concat_ws(":", col("a"), col("b")))
        .withColumn("ver", lit(-1L))
    } finally built.foreach { case (f, release) =>
      try { f.unpersist(); release() } catch { case _: Throwable => () }
    }
  }
}
