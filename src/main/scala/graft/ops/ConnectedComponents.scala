package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Connected components by alternating large-star / small-star
  * contraction (Kiveris, Lattanzi, Mirrokni, Rastogi, Vassilvitskii,
  * "Connected Components in MapReduce and Beyond", SoCC 2014): the
  * engine's one connected-components implementation (x28, x73, x74,
  * x96, x97 and [[graft.streaming.StreamingClusters]]). Min-label
  * propagation needs O(graph diameter) rounds, and one boilerplate
  * template shared by a crawl slice can chain tens of thousands of
  * documents into a path-shaped component. Star contraction halves
  * the effective height per round pair regardless of shape (provably
  * O(log² n), empirically ~log n), and each round SHRINKS the edge set
  * it carries (every rewrite points an edge at a component-local
  * minimum, and duplicates collapse in the per-round dedup), so late
  * rounds touch a fraction of the input. Each operation is one keyed
  * aggregation + one keyed join per round.
  *
  * Contract: input is an undirected edge list (any orientation, self
  * loops ignored); output is one row per distinct endpoint,
  * `(id, rep)` with `rep` = the component's minimum node id — exactly
  * what a dedup pass wants (the canonical keeper id per duplicate
  * cluster).
  *
  * Determinism: min() everywhere — no hashing, no randomness; the
  * fixpoint (disjoint stars centered at component minima) is unique,
  * so replays and speculative tasks cannot change the answer.
  */
object ConnectedComponents {

  /** Large-star: for every node u (as the center of its symmetrized
    * neighborhood), connect each STRICTLY LARGER neighbor to
    * m = min(N(u) ∪ {u}). Emitted edges always run strictly downhill
    * (v > u ≥ m), so the output is a directed big→small edge set. */
  private def largeStar(e: DataFrame): DataFrame = {
    val sym = e.select(col("a").as("u"), col("b").as("v"))
      .union(e.select(col("b").as("u"), col("a").as("v")))
    val m = sym.groupBy(col("u")).agg(min(col("v")).as("mn"))
      .select(col("u"), least(col("u"), col("mn")).as("m"))
    sym.join(m, "u").filter(col("v") > col("u"))
      .select(col("v").as("a"), col("m").as("b"))
    // No trailing distinct: the (v, m) duplicates this can emit (two
    // centers pointing the same v at the same m) are absorbed for free
    // by small-star's groupBy combiner and final distinct in the SAME
    // round, so the per-round edge SET is unchanged while each round
    // drops one full exchange (measured: the contraction loop is one
    // of the two shuffles-per-op paths this file pays per round).
  }

  /** Small-star: input edges run big→small (`a > b`, large-star's
    * postcondition). For every large endpoint a, connect each member
    * of {its smaller neighbors} ∪ {a} except the minimum itself to
    * m = min(smaller neighbors). Output again runs big→small. */
  private def smallStar(e: DataFrame): DataFrame = {
    val m = e.groupBy(col("a")).agg(min(col("b")).as("m"))
    val members = e.select(col("a"), col("b"))
      .union(e.select(col("a"), col("a").as("b")))
    members.join(m, "a").filter(col("b") =!= col("m"))
      .select(col("b").as("a"), col("m").as("b"))
      .distinct()
  }

  // The convergence witness — (row count, XOR of a per-edge hash), an
  // order-independent SET checksum — is computed inside [[truncatedW]]'s
  // materializing pass. An equal witness only NOMINATES a fixpoint; the
  // loop confirms it with one real set-difference job before
  // terminating, so checksum quality governs how often the confirm job
  // runs (effectively once), never correctness. XOR-fold is total on
  // the full Long id range (an arithmetic Σ would overflow under ANSI
  // mode on hash-range ids).

  /** Per-round lineage truncation: each round's plan references the
    * previous round's frame SEVERAL times (large-star self-unions,
    * small-star self-joins), so an uncut lineage grows exponentially
    * and Catalyst's canonicalization OOMs the driver around round 8 —
    * checkpointing makes every round a leaf scan of stored blocks.
    * When the session has a reliable `spark.checkpoint.dir`
    * configured, rounds checkpoint THERE (fault-tolerant: an executor
    * loss mid-contraction recovers from durable blocks instead of
    * failing the job — what a multi-hour production run wants);
    * otherwise eager executor-block localCheckpoint, which suffices
    * because the algorithm is deterministic — on executor loss the
    * job fails and a retry recomputes the same fixpoint.
    *
    * Returns the truncated frame AND a release handle that deletes
    * the round's durable copy. Spark never cleans reliable checkpoint
    * files on its own (only the off-by-default
    * `spark.cleaner.referenceTracking.cleanCheckpoints` does, on GC),
    * so without the handle a 30-round contraction would strand ~30
    * full edge-set copies in the checkpoint dir per invocation. The
    * reliable route therefore checkpoints an RDD we hold (public
    * `RDD.checkpoint`/`getCheckpointFile`), persisted around the
    * materializing count so the checkpoint write reads cached blocks
    * instead of recomputing the round.
    *
    * The convergence witness is computed IN the materializing action,
    * one job per round at the ~50 ms job-scheduling floor. It only
    * ever compares round-to-round, so any deterministic
    * order-independent set checksum works; this one is a
    * splitmix-style mix of (a, b) XOR-folded per partition, reduced
    * driver-side.
    *
    * `out` is the session the truncated frame is REBUILT on — the loop
    * passes its private narrowed session ([[starContractionReleasable]]),
    * result frames the caller's. RDD work is context-level either way. */
  private def truncatedW(df: DataFrame, out: SparkSession)
      : (DataFrame, (Long, Long), () => Unit) = {
    val sc = out.sparkContext
    val reliable = sc.getCheckpointDir.isDefined
    val rdd = df.rdd
    rdd.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    if (reliable) rdd.checkpoint() else rdd.localCheckpoint()
    val w = rdd.mapPartitions { it =>
      var c = 0L; var x = 0L
      while (it.hasNext) {
        val r = it.next()
        // getAs[Number]: the previous SQL witness (xxhash64) accepted
        // any integral id type; getLong alone would ClassCastException
        // on IntegerType edge columns at executor runtime
        var h = r.getAs[Number](0).longValue * 0x9E3779B97F4A7C15L
        h ^= (h >>> 32)
        h += r.getAs[Number](1).longValue * 0xC2B2AE3D27D4EB4FL
        h ^= (h >>> 29)
        h *= 0x165667B19E3779F9L
        c += 1; x ^= h
      }
      Iterator((c, x))
    }.fold((0L, 0L))((p, q) => (p._1 + q._1, p._2 ^ q._2))
    val release: () => Unit =
      if (reliable) {
        rdd.unpersist(blocking = false) // later reads hit the durable copy
        () => rdd.getCheckpointFile.foreach { f =>
          val p = new org.apache.hadoop.fs.Path(f)
          p.getFileSystem(sc.hadoopConfiguration).delete(p, true); ()
        }
      } else {
        // localCheckpoint lives in the persisted blocks themselves —
        // releasing here means dropping them when superseded
        () => { rdd.unpersist(blocking = false); () }
      }
    (out.createDataFrame(rdd, df.schema), w, release)
  }

  /** Edge sets at or below this take the bounded-collect driver route
    * in [[starContractionReleasable]] — the same bounded-collect
    * contract [[graft.streaming.StreamingClusters.updateBatchMaintained]]
    * documents for micro-batch folds (200k edges ≈ 3 MB of longs on
    * the driver). Above it the distributed contraction loop runs
    * unchanged, so a 100 TB pair graph never touches the driver. */
  val DriverFoldMaxEdges: Int = 200000

  /** Run alternating rounds to the unique fixpoint and return
    * `(id, rep)` labels. `maxRounds` is a loud failsafe, not a quality
    * knob — contraction provably converges in O(log² n) rounds, so
    * hitting the cap means a broken invariant, and silently returning
    * a half-contracted forest would be WRONG labels. */
  def starContraction(edges: DataFrame, maxRounds: Int = 32): DataFrame =
    starContractionReleasable(edges, maxRounds)._1

  /** Component-minimum labels driver-side: path-halving union-find,
    * smaller id wins the root — the same keep-the-minimum contract as
    * the distributed contraction (one fixpoint, two routes; shared
    * with [[graft.streaming.StreamingClusters]]' quotient fold). */
  private[graft] def unionFindMin(
      edges: Array[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.HashMap.empty[Long, Long]
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent(r)
      var c = x
      while (parent.getOrElse(c, c) != c) {
        val n = parent(c); parent(c) = r; c = n
      }
      r
    }
    edges.foreach { case (a, b) =>
      val ra = find(a); val rb = find(b)
      if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
    }
    val nodes: Set[Long] =
      edges.iterator.flatMap(e => Iterator(e._1, e._2)).toSet
    nodes.iterator.map(n => n -> find(n)).toMap
  }

  /** As [[starContraction]], plus a release handle for the labels'
    * durable checkpoint copy on the reliable-checkpoint route (a
    * no-op on the eager-local route). Spark never deletes reliable
    * checkpoint files on its own, so a long-lived session that
    * contracts per consultation strands one O(nodes) copy per call
    * unless something runs the handle; a caller that materializes or
    * writes the labels elsewhere should call it — after release, the
    * persisted blocks are the only copy (executor loss can then no
    * longer recompute this frame from the durable file). */
  def starContractionReleasable(edges: DataFrame, maxRounds: Int = 32)
      : (DataFrame, () => Unit) =
    starContractionReleasable(edges, maxRounds, DriverFoldMaxEdges)

  /** `driverFoldMaxEdges` is a test hook (specs pass 0 to pin the
    * distributed loop); production callers use the default. */
  private[graft] def starContractionReleasable(edges: DataFrame,
      maxRounds: Int, driverFoldMaxEdges: Int)
      : (DataFrame, () => Unit) = {
    // Scale the loop's shuffle width to the EDGE COUNT, not the session
    // default: every round pays two keyed aggregations and a join whose
    // exchanges inherit spark.sql.shuffle.partitions, and on a
    // fixture-sized graph (hundreds of edges) a 32-wide exchange is
    // pure task-launch overhead repeated per round. Derived from the
    // measured initial count (~100k edges per partition, capped at the
    // caller session's own setting so a 100 TB graph is unaffected).
    // In the small-graph regime the narrowed width (and AQE-off — AQE
    // otherwise splits every round's materialization into one Spark
    // job per exchange, most of a fixture-scale round at the ~50 ms
    // job floor) lives on a PRIVATE cached child session
    // ([[DimStore.commitSession]]): the SHARED session's conf is never
    // mutated, so a concurrently planned query cannot observe the
    // narrow width and overlapping contractions cannot capture each
    // other's values (the r20 ADVICE finding). At session width (the
    // 100 TB regime) the loop simply runs on the caller's session —
    // plans byte-identical to an untouched session, AQE skew handling
    // intact.
    val sess = edges.sparkSession
    // drop self loops, orient big→small once so round 1 can start on
    // small-star's precondition without a wasted symmetrize; truncate
    // per round (see [[truncatedW]]). Planned on the CALLER's session —
    // the width derivation needs the count first, same as before.
    var (e, prev, releaseE) = truncatedW(edges
      .select(greatest(col("a"), col("b")).as("a"), least(col("a"), col("b")).as("b"))
      .filter(col("a") =!= col("b"))
      .distinct(), sess)
    var rounds = 0
    var done = prev._1 == 0L
    if (!done && prev._1 <= driverFoldMaxEdges) {
      // Bounded-collect route: the distinct edge set is micro-batch-
      // sized (the witness pass just counted it, and its blocks are
      // already materialized in the cache), so the fixpoint comes from
      // one driver-side union-find instead of O(log n) distributed
      // rounds each paying two keyed shuffles at the ~50 ms job floor.
      // Same bounded-collect contract as StreamingClusters'
      // updateBatchMaintained fold; identical labels BY CONSTRUCTION
      // (component minima — StarContractionSpec pins the two routes to
      // each other), and a graph past the bound never touches the
      // driver: the distributed loop below runs exactly as before.
      val fields = e.schema.fields
      val pairs = e.collect().map(r =>
        (r.getAs[Number](0).longValue, r.getAs[Number](1).longValue))
      val lbl = unionFindMin(pairs)
      def asCol(v: Long, t: org.apache.spark.sql.types.DataType): Any =
        t match {
          case org.apache.spark.sql.types.IntegerType => v.toInt
          case org.apache.spark.sql.types.ShortType => v.toShort
          case _ => v
        }
      val rows = lbl.toSeq.sortBy(_._1).map { case (id, rep) =>
        org.apache.spark.sql.Row(
          asCol(id, fields(0).dataType), asCol(rep, fields(1).dataType)) }
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField(
          "id", fields(0).dataType, fields(0).nullable),
        org.apache.spark.sql.types.StructField(
          "rep", fields(1).dataType, fields(1).nullable)))
      import scala.jdk.CollectionConverters._
      val labels = sess.createDataFrame(rows.asJava, schema)
      labels.persist()
      labels.count()
      e.unpersist()
      releaseE()
      lastRounds.set(0)
      return (labels, () => ())
    }
    val sessionParts = sess.sessionState.conf.numShufflePartitions
    val loopParts = math.max(1, math.min(
      sessionParts, (prev._1 / 100000L + 1).toInt))
    val loopSess =
      if (loopParts < sessionParts) DimStore.commitSession(sess, loopParts)
      else sess
    if (loopSess ne sess)
      e = org.apache.spark.sql.GraftPlanBridge.ofRows(
        loopSess, e.queryExecution.logical)
    while (!done && rounds < maxRounds) {
      val (next, cur, releaseNext) = truncatedW(smallStar(largeStar(e)), loopSess)
      // equal witness nominates a fixpoint; confirm with a real
      // set-difference before terminating (both frames are distinct()
      // with equal counts, so one-directional exceptAll suffices) —
      // a hash-xor checksum alone can't prove set equality, and a
      // spurious match would return WRONG labels
      done = cur == prev && next.exceptAll(e).isEmpty
      e.unpersist()
      releaseE() // the superseded round's durable copy is now unreferenced
      e = next
      releaseE = releaseNext
      prev = cur
      rounds += 1
    }
    lastRounds.set(rounds)
    if (!done)
      throw new IllegalStateException(
        s"star contraction did not converge in $rounds rounds")
    // fixpoint = disjoint stars: leaves carry their center, centers
    // label themselves. Persist + force BEFORE releasing the fixpoint
    // cache — labels are lazy, and dropping `e` first would send every
    // later consumer back through the whole iterative lineage. The
    // returned frame is persisted (MEMORY_AND_DISK, matching the query
    // layer's cache level so its wrapper persist is a no-op on the
    // same frame); callers that materialize elsewhere may unpersist.
    val labelsRaw = e.select(col("a").as("id"), col("b").as("rep"))
      .union(e.select(col("b").as("id"), col("b").as("rep")).distinct())
    // the RETURNED frame is rebuilt on the CALLER's session either way
    // (labelsRaw lives on the private loop session, which ends here) —
    // callers join/union it with their own frames, and cross-session
    // combination is not a supported Dataset operation
    val (labels, releaseLabels) =
      if (edges.sparkSession.sparkContext.getCheckpointDir.isDefined) {
        // reliable route: land the labels in their OWN durable copy so
        // the final edge round's (much larger) checkpoint can be
        // released too. The labels' copy stays in the dir for the
        // result's lifetime — the price of surviving executor loss
        // after this method returns — and the returned handle is how
        // a caller reclaims it once the labels are materialized
        // elsewhere.
        val (l, _, release) = truncatedW(labelsRaw, sess)
        (l, release)
      } else if (loopSess eq sess) (labelsRaw, () => ())
      else (sess.createDataFrame(labelsRaw.rdd, labelsRaw.schema), () => ())
    labels.persist()
    labels.count()
    e.unpersist()
    releaseE()
    (labels, releaseLabels)
  }

  /** Rounds taken by the LAST `starContraction` on this thread — a test
    * hook (same pattern as DimStore's listing counter), not an API. */
  val lastRounds = new ThreadLocal[Int] { override def initialValue(): Int = -1 }
}
