package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persisted IVFADC index (Jégou/Douze/Schmid, TPAMI 2011 §IV) over
  * a versioned [[DimStore]] table — the retrieval family's DIM-layer:
  * train the coarse quantizer + product-quantization codebooks ONCE
  * per dataset version, materialize every vector's (inverted list, PQ
  * codes) row into a committed table, and serve every later query
  * batch from it — the same keyed-store-built-once, served-many
  * pattern as the reference's dim sink
  * (gmall-realtime/.../app/func/DimSinkFunction.java:13-33). Without
  * it, every query batch re-trains and re-encodes the corpus. A new
  * dataset version is a REBUILD ([[build]] again); takedowns between
  * rebuilds are tombstones ([[delete]], [[purgeTombstones]]).
  *
  * Layout under `path` (both tables ride the full commit-log
  * protocol — optimistic commits, snapshot reads, time travel,
  * vacuum):
  *  - `codes/` — one row per vector: (vec_id, list_id,
  *    pq_code0..m-1), pk `vec_id`, LWW by the caller's batch version;
  *    for d=64 floats this is ~32× smaller than the raw vectors.
  *  - `model/` — the FROZEN model as rows: coarse centroids
  *    (kind='cent') and PQ codebook centroids (kind='pq'), written at
  *    [[build]] and never rewritten between builds. Parquet doubles
  *    round-trip exactly, so a model read back scores bit-identically
  *    to the one trained. Re-training is a REBUILD — a new [[build]]
  *    commit, exactly like a dim-table full rewrite.
  *
  * Determinism: assignment/encode/scoring reuse
  * [[ProductQuantizer]]'s exact-decimal/left-fold contract, and the
  * coarse ranking is the same cosine fold + struct-sort formulation
  * as the query kit (x12/x75), so an index built here answers
  * byte-identically to the self-contained x75 pipeline (pinned by
  * AnnIndexSpec and the shared x78/x75 oracle).
  */
object AnnIndex {

  /** The frozen model: coarse centroids (id → vector) + PQ codebooks,
    * plus the LWW version the build committed at. `buildVer` is the
    * caller's re-floor point: a rebuild commits strictly above every
    * earlier batch, so a [[delete]] after it must use a version above
    * `buildVer`. */
  final case class Model(centroids: Seq[(Long, Seq[Double])],
                         pq: ProductQuantizer.PqModel,
                         buildVer: Long)

  private def codesPath(path: String) = s"$path/codes"
  private def modelPath(path: String) = s"$path/model"
  private def ptrPath(path: String)   = s"$path/ptr"

  /** The index's single PUBLICATION POINT: a one-row commit-log table
    * naming the (model, codes) manifest versions a reader must serve —
    * the cross-table analogue of the dim layer's per-table atomicity
    * (reference: gmall-logger/src/main/java/app/func/
    * TableProcessFunction.java:48-102, where DDL+upsert is atomic to
    * its readers). The model and codes tables are separate commit
    * logs; without the pointer a crash between [[build]]'s two commits
    * served old codes under new codebooks — SILENTLY wrong rankings.
    * With it, every mutation commits its table(s) first and flips the
    * pointer LAST, so readers resolve either the old consistent pair
    * or the new one, never a mix. Writer concurrency is the index's
    * documented single-maintainer contract (one writer per index —
    * same as a streaming dim sink); READERS are what the pointer
    * protects. */
  private final case class Ptr(modelV: Long, codesV: Long,
                               buildVer: Long, seq: Long)

  private def readPtr(spark: SparkSession, path: String): Option[Ptr] =
    DimStore.readIfExists(spark, ptrPath(path)).flatMap { df =>
      df.filter(col("k") === "current")
        .select(col("model_v"), col("codes_v"), col("build_ver"),
          col("__ptr_seq"))
        .collect().headOption
        .map(r => Ptr(r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    }

  private def resolvedPtr(spark: SparkSession, path: String): Ptr =
    readPtr(spark, path).getOrElse(throw new IllegalStateException(
      s"ANN index at $path has no published pointer — not a built index " +
      "(a build that crashed before publication leaves nothing to serve)"))

  /** Flip the pointer — ONE optimistic single-row commit. `__ptr_seq`
    * orders flips for LWW (monotone under the single-maintainer
    * contract). */
  private def bumpPtr(spark: SparkSession, path: String,
                      modelV: Long, codesV: Long, buildVer: Long): Unit = {
    import spark.implicits._
    val seq = readPtr(spark, path).map(_.seq).getOrElse(0L) + 1L
    DimStore.upsert(spark, ptrPath(path),
      Seq(("current", modelV, codesV, buildVer, seq))
        .toDF("k", "model_v", "codes_v", "build_ver", "__ptr_seq"),
      pk = "k", versionCol = "__ptr_seq", nBuckets = 1)
  }

  /** Thrown by the `crashAfter` test hooks — simulates the process
    * dying between two commits of a multi-table mutation. */
  private[graft] final class InjectedCrash(at: String)
    extends RuntimeException(s"injected crash after '$at' commit")

  private def maybeCrash(crashAfter: Option[String], at: String): Unit =
    if (crashAfter.contains(at)) throw new InjectedCrash(at)

  /** Coarse assignment/ranking/residual come from the shared
    * [[IvfKit]] — the SAME expressions the query layer (x12/x75)
    * ranks with, single-sourced so index and query sides stay
    * ulp-identical by construction. Assignment sites rank with
    * `keep = 1` (a slice of the same sorted ranking — no bit
    * changes, no full per-row sorted centroid array in flight). */
  private def ranked(cents: Seq[(Long, Seq[Double])], v: Column,
                     keep: Int = Int.MaxValue): Column =
    IvfKit.ranked(cents, v, keep)
  private def assign(cents: Seq[(Long, Seq[Double])], v: Column): Column =
    IvfKit.assign(cents, v)
  private def residual(cents: Seq[(Long, Seq[Double])], listId: Column,
                       v: Column): Column =
    IvfKit.residual(cents, listId, v)

  /** (vec_id, list_id, pq_code0..m-1) for `df` under the FROZEN
    * model — a pure narrow map (assignment + residual + encode fused
    * in one projection chain), shared verbatim by [[build]] and the
    * full-re-encode spec oracle. */
  def encodeWith(df: DataFrame, idCol: String, vCol: String,
                 model: Model): DataFrame = {
    val assigned = df
      .withColumn("list_id", assign(model.centroids, col(vCol)))
    val withRv = assigned
      .withColumn("__rv", residual(model.centroids, col("list_id"), col(vCol)))
    ProductQuantizer.encode(withRv, "__rv", model.pq)
      .select(col(idCol).as("vec_id") +: col("list_id") +:
        model.pq.codeCols.map(col): _*)
  }

  /** Next LWW version for a (re)build: strictly above every
    * `__batch_ver` already committed to either table, so rebuilt rows
    * dominate ALL earlier build/delete batches. One bounded agg per
    * table (max over a long column), only on the rebuild path. */
  private def nextBuildVer(spark: SparkSession, path: String): Long = {
    def maxVer(p: String): Long =
      DimStore.readIfExists(spark, p) match {
        case Some(df) if df.columns.contains("__batch_ver") =>
          df.agg(max(col("__batch_ver"))).head() match {
            case r if r.isNullAt(0) => 0L
            case r => r.getLong(0)
          }
        case _ => 0L
      }
    math.max(maxVer(modelPath(path)), maxVer(codesPath(path))) + 1L
  }

  /** Commit `df` as the FULL content of `tablePath`: an upsert when
    * the table doesn't exist yet, a whole-content [[DimStore.rewrite]]
    * when it does — a rebuild must REPLACE, not merge: upserting a new
    * model/codes set over an old one at a tied version would LWW-mix
    * old and new rows per key, and vectors dropped from the new corpus
    * would linger searchable. */
  private def commitFull(spark: SparkSession, tablePath: String,
                         df: DataFrame, pk: String, ver: Long,
                         nBuckets: Int): Unit = {
    val versioned = df.withColumn("__batch_ver", lit(ver))
    if (DimStore.currentVersion(tablePath).isDefined)
      DimStore.rewrite(spark, tablePath, pk)(_ => versioned)
    else
      DimStore.upsert(spark, tablePath, versioned,
        pk = pk, versionCol = "__batch_ver", nBuckets = nBuckets)
  }

  /** Train + materialize one index version: coarse centroids are the
    * corpus rows with the given ids (an oracle-tractable override —
    * production trains them, see the `nLists` overload), PQ codebooks
    * train on the residuals via [[ProductQuantizer.train]]'s
    * exact-decimal Lloyd. On a fresh path this commits both tables at
    * version 1; on an EXISTING index (a rebuild) both tables are
    * fully REPLACED at a version above every committed batch.
    * Publication is ATOMIC: model and codes commit first
    * (unreferenced), then ONE pointer commit names both versions — a
    * crash anywhere before the flip leaves readers on the previous
    * index byte-identically (or, on a fresh path, on "no index"),
    * never on a new-model/old-codes mix.
    * [[fsck]] audits the published pair and finds nothing on any
    * crash path; debris versions above the pointer are replaced by
    * the next successful build (which commits strictly above them).
    * Until then [[delete]] and [[purgeTombstones]] refuse the index. */
  def build(spark: SparkSession, path: String, corpus: DataFrame,
            idCol: String, vCol: String, centroidIds: Seq[Long],
            dim: Int, m: Int, k: Int, rounds: Int,
            nBuckets: Int = 16): Model = {
    val cents = corpus.filter(col(idCol).isin(centroidIds: _*))
      .orderBy(col(idCol)).select(col(idCol), col(vCol))
      .collect().toSeq.map(r => r.getLong(0) -> r.getSeq[Double](1))
    require(cents.size == centroidIds.size,
      s"coarse centroid ids ${centroidIds.diff(cents.map(_._1))} missing from corpus")
    buildImpl(spark, path, corpus, idCol, vCol, cents, dim, m, k, rounds,
      nBuckets, crashAfter = None)
  }

  /** As [[build]], but the coarse quantizer is TRAINED — `nLists`
    * centroids by [[KMeans.train]]'s deterministic Lloyd, whose
    * assignment step is the same cosine-ranking expression this index
    * assigns and probes with — instead of caller-picked corpus rows.
    * This is the production default; the `centroidIds` overload stays
    * as the oracle-tractable override (a DuckDB oracle can name rows,
    * not replay k-means). */
  def buildTrained(spark: SparkSession, path: String, corpus: DataFrame,
                   idCol: String, vCol: String, nLists: Int,
                   dim: Int, m: Int, k: Int, rounds: Int,
                   kmRounds: Int = 2, nBuckets: Int = 16): Model = {
    val cents = KMeans.train(corpus.select(col(idCol), col(vCol)),
      idCol, vCol, nLists, kmRounds)
    buildImpl(spark, path, corpus, idCol, vCol, cents, dim, m, k, rounds,
      nBuckets, crashAfter = None)
  }

  /** Crash-injection twin of [[build]] (same commits, dies after the
    * named one: "model" | "codes") — pins the atomic-publication
    * contract in AnnIndexSpec. */
  private[graft] def buildCrashing(spark: SparkSession, path: String,
      corpus: DataFrame, idCol: String, vCol: String,
      centroidIds: Seq[Long], dim: Int, m: Int, k: Int, rounds: Int,
      crashAfter: String, nBuckets: Int = 16): Unit = {
    val cents = corpus.filter(col(idCol).isin(centroidIds: _*))
      .orderBy(col(idCol)).select(col(idCol), col(vCol))
      .collect().toSeq.map(r => r.getLong(0) -> r.getSeq[Double](1))
    buildImpl(spark, path, corpus, idCol, vCol, cents, dim, m, k, rounds,
      nBuckets, crashAfter = Some(crashAfter))
    ()
  }

  /** The frozen model as its persisted row set, the layout
    * [[readModel]] parses back. */
  private def modelRowsDf(spark: SparkSession, model: Model,
                          dim: Int, m: Int, k: Int): DataFrame = {
    import spark.implicits._
    val rows =
      model.centroids.map { case (cid, cv) =>
        ("c" + cid, "cent", cid, 0L, cv) } ++
      (for (mi <- 0 until m; ki <- 0 until k) yield
        (s"p$mi-$ki", "pq", mi.toLong, ki.toLong,
          model.pq.codebooks(mi)(ki).toSeq)) ++
      Seq(("shape", "shape", dim.toLong, m.toLong, Seq(k.toDouble)),
        // the build's LWW version, persisted so [[fsck]] can
        // cross-check the pointer against the model it pins
        ("bver", "bver", model.buildVer, 0L, Seq.empty[Double]))
    rows.toDF("key", "kind", "i1", "i2", "vals")
  }

  private[graft] def buildImpl(spark: SparkSession, path: String,
      corpus: DataFrame, idCol: String, vCol: String,
      cents: Seq[(Long, Seq[Double])], dim: Int, m: Int, k: Int,
      rounds: Int, nBuckets: Int, crashAfter: Option[String]): Model = {
    import spark.implicits._
    val buildVer = nextBuildVer(spark, path)
    val assigned = corpus
      .withColumn("list_id", assign(cents, col(vCol)))
    val lists = assigned.select(col(idCol), col("list_id"),
      residual(cents, col("list_id"), col(vCol)).as("__rv"))
    val pq = ProductQuantizer.train(lists, idCol, "__rv", dim, m, k, rounds)
    val model = Model(cents, pq, buildVer)
    commitFull(spark, modelPath(path),
      modelRowsDf(spark, model, dim, m, k),
      pk = "key", ver = buildVer, nBuckets = 4)
    maybeCrash(crashAfter, "model")
    commitFull(spark, codesPath(path),
      encodeWith(corpus, idCol, vCol, model),
      pk = "vec_id", ver = buildVer, nBuckets = nBuckets)
    maybeCrash(crashAfter, "codes")
    // the publication point: readers see the old index until here
    bumpPtr(spark, path,
      modelV = DimStore.currentVersion(modelPath(path)).get,
      codesV = DimStore.currentVersion(codesPath(path)).get,
      buildVer = buildVer)
    model
  }

  /** What the consistency AUDIT of the published index found. Since
    * publication is atomic (one pointer commit naming both tables'
    * versions), every crash path leaves the audit clean — fsck exists
    * to verify that invariant in production (external mutation, bugs),
    * not to detect an expected crash state. `staleCodes` counts pinned
    * code rows whose LWW version predates the pinned build;
    * `modelMatchesPtr` cross-checks the pinned model's own recorded
    * build version against the pointer; `pinnedReadable` is false when
    * a pinned snapshot cannot be read at all (vacuumed past the
    * pointer — an operational error). */
  final case class Fsck(buildVer: Long, codeRows: Long, staleCodes: Long,
                        modelMatchesPtr: Boolean, pinnedReadable: Boolean,
                        tombstones: Long = 0L) {
    /** `codeRows` counts SERVABLE rows; tombstoned pks ([[delete]])
      * are reported separately — dead weight a rebuild (or a
      * [[purgeTombstones]] pass, for which this count is the trigger)
      * will reclaim, never an inconsistency. */
    def consistent: Boolean =
      staleCodes == 0L && modelMatchesPtr && pinnedReadable
  }

  /** Audit the published (pointer-resolved) index: one bounded agg
    * over the pinned codes snapshot plus a model cross-check. A path
    * with no published pointer is not an index (a fresh build that
    * crashed before publication left nothing to serve) and throws,
    * matching [[readModel]]. */
  def fsck(spark: SparkSession, path: String): Fsck = {
    val ptr = resolvedPtr(spark, path)
    try {
      val bverRow = DimStore.read(spark, modelPath(path), ptr.modelV)
        .filter(col("kind") === "bver")
        .select(col("i1")).collect().headOption.map(_.getLong(0))
      val stats = DimStore.read(spark, codesPath(path), ptr.codesV)
        .agg(sum(when(col("list_id") >= 0, 1L).otherwise(0L)),
          sum(when(col("list_id") >= 0 &&
            col("__batch_ver") < ptr.buildVer, 1L).otherwise(0L)),
          sum(when(col("list_id") < 0, 1L).otherwise(0L)))
        .head()
      def n(i: Int) = if (stats.isNullAt(i)) 0L else stats.getLong(i)
      Fsck(ptr.buildVer, n(0), n(1),
        modelMatchesPtr = bverRow.contains(ptr.buildVer),
        pinnedReadable = true,
        tombstones = n(2))
    } catch {
      case _: IllegalArgumentException | _: IllegalStateException =>
        Fsck(ptr.buildVer, 0L, 0L, modelMatchesPtr = false,
          pinnedReadable = false)
    }
  }

  /** The tombstone sentinel in `list_id`: a real coarse assignment is
    * always ≥ 0 (an argmin over centroid indices), so a negative list
    * both marks the row deleted AND keeps it out of every probed
    * inverted list by construction. */
  private[graft] val TombstoneList = -1

  /** Propagate document DELETIONS (takedowns, PII purges) through the
    * persisted index WITHOUT a rebuild: upsert one LWW tombstone row
    * per deleted id (`list_id = -1`, codes zeroed, version `ver`) into
    * the codes table and flip the pointer. The tombstone wins the
    * pk-LWW merge over the live row, and every serve path reads
    * through [[codes]], which filters `list_id >= 0` — so a deleted
    * vector stops being servable at the flip, at O(touched buckets)
    * cost (the [[DimStore.upsert]] contract: only the buckets holding
    * deleted pks rewrite). Deleting an id the index never held is a
    * harmless no-op row (nothing joins it); PHYSICAL purge happens at
    * the next rebuild (which replaces the codes table wholesale from
    * the caller-owned, already-purged corpus) or — for takedown-heavy
    * indexes that can't wait for one — via the bounded
    * [[purgeTombstones]] pass.
    *
    * Crash window: a death between the codes commit and the pointer
    * flip leaves the tombstones committed but unreferenced — the
    * vector stays servable until the at-least-once redelivery
    * (idempotent: same pk, same LWW outcome) or any later flip
    * publishes the newer codes version (AnnIndexSpec pins both). */
  def delete(spark: SparkSession, path: String, ids: DataFrame,
             idCol: String, ver: Long): Unit =
    deleteImpl(spark, path, ids, idCol, ver, crashAfter = None)

  /** Caller convenience: takedown ids as a driver-side list (the
    * bounded GDPR-batch shape) — same guards and tombstone commit as
    * the DataFrame route, which bulk sweeps should use directly. */
  def delete(spark: SparkSession, path: String, ids: Seq[Long],
             ver: Long): Unit = {
    import spark.implicits._
    delete(spark, path, ids.toDF("vec_id"), idCol = "vec_id", ver = ver)
  }

  /** The guarded tombstone commit — shared by [[delete]] and its
    * crash-injection twin [[deleteCrashing]]. */
  private def deleteImpl(spark: SparkSession, path: String,
      ids: DataFrame, idCol: String, ver: Long,
      crashAfter: Option[String]): Unit = {
    val ptr = resolvedPtr(spark, path)
    requirePublished(path, ptr, "deleting")
    val model = modelAt(spark, path, ptr)
    // strictly greater, not merely different: a STALE version (a
    // takedown redelivered after a full rebuild re-floored the
    // counter) would silently LOSE the pk-LWW merge to the rebuilt
    // row — the vector stays servable while the caller believes the
    // purge landed. Loud-over-wrong on the safety path; redelivery
    // of the same post-build ver still passes (idempotent).
    require(ver > model.buildVer,
      s"delete version $ver does not beat the serving build's version " +
      s"${model.buildVer} — a tombstone at that version loses the LWW " +
      s"merge and the delete silently no-ops; re-floor the ingest " +
      s"counter at ${model.buildVer + 1}")
    // tombstone rows in the codes table's exact shape/types (schema
    // read is metadata-only): pk, sentinel list, zeroed codes
    val live = DimStore.read(spark, codesPath(path), ptr.codesV)
    def typed(name: String, v: Column) =
      v.cast(live.schema(name).dataType).as(name)
    val tomb = ids
      .select(typed("vec_id", col(idCol)) +:
        typed("list_id", lit(TombstoneList)) +:
        model.pq.codeCols.map(c => typed(c, lit(0))): _*)
      .withColumn("__batch_ver", lit(ver))
    DimStore.upsert(spark, codesPath(path), tomb,
      pk = "vec_id", versionCol = "__batch_ver")
    maybeCrash(crashAfter, "codes")
    bumpPtr(spark, path,
      modelV = ptr.modelV,
      codesV = DimStore.currentVersion(codesPath(path)).get,
      buildVer = ptr.buildVer)
  }

  /** Crash-injection twin of [[delete]] (dies after the codes commit,
    * before the pointer flip) — AnnIndexSpec's crash-window pin. */
  private[graft] def deleteCrashing(spark: SparkSession, path: String,
      ids: DataFrame, idCol: String, ver: Long): Unit =
    deleteImpl(spark, path, ids, idCol, ver, crashAfter = Some("codes"))

  /** Physically RECLAIM tombstoned rows ([[delete]]'s `list_id = -1`
    * sentinels) from the codes table WITHOUT waiting for the next
    * rebuild — the between-rebuilds maintenance pass a
    * takedown-heavy corpus (PII purges) needs so long-lived indexes
    * don't carry dead rows for months. Trigger it off
    * [[Fsck.tombstones]] (e.g. when the dead fraction crosses a few
    * percent); one bucket-scoped [[DimStore.deleteWhere]] commit —
    * O(tombstoned buckets) write cost: only buckets holding a
    * tombstone rewrite, every other generation carries forward;
    * finding them is one column-pruned scan, the same price fsck's
    * tombstone count already pays — then the pointer flip.
    *
    * Serve answers are BYTE-IDENTICAL by construction: every serve
    * path reads through [[codes]], which already filters the sentinel
    * rows; the purge removes only what no reader could see. History:
    * pre-purge versions still hold the tombstones until a
    * [[DimStore.vacuum]] prunes them — time travel unaffected.
    *
    * Crash window = [[delete]]'s exactly: deleteWhere's commit is
    * atomic; a death between it and the pointer flip leaves the
    * purged version committed but unreferenced — readers stay on the
    * tombstoned snapshot (answers unchanged) until the purge is
    * re-run, which finds nothing left to delete on the latest version
    * and just completes the flip (idempotent roll-forward, the same
    * redelivery-heals contract as [[delete]]). Returns the number of
    * rows reclaimed. */
  def purgeTombstones(spark: SparkSession, path: String): Long = {
    val ptr = resolvedPtr(spark, path)
    requirePublished(path, ptr, "purging")
    // allowEmpty: a fully-tombstoned index (every remaining vector
    // taken down) must PURGE to an empty-but-readable codes table, not
    // throw
    val purged = DimStore.deleteWhere(spark, codesPath(path),
      pk = "vec_id", pred = col("list_id") < 0, allowEmpty = true)
    val latestCodes = DimStore.currentVersion(codesPath(path)).get
    if (latestCodes != ptr.codesV)
      bumpPtr(spark, path, modelV = ptr.modelV, codesV = latestCodes,
        buildVer = ptr.buildVer)
    purged
  }

  /** Refuse a tombstone commit while the model table's latest version
    * is not the published one: a rebuild crashed before its pointer
    * flip, and the flip after a delete or purge could publish that
    * rebuild's codes under the old model. A successful [[build]]
    * commits above the debris and publishes whole. */
  private def requirePublished(path: String, ptr: Ptr, action: String): Unit = {
    val latestModelV = DimStore.currentVersion(modelPath(path))
    if (!latestModelV.contains(ptr.modelV)) throw new IllegalStateException(
      s"ANN index at $path has an unpublished rebuild commit (model " +
      s"v${latestModelV.getOrElse(-1L)} above published v${ptr.modelV}) — " +
      s"a rebuild crashed before its pointer flip; re-run build before $action")
  }

  /** The frozen model, reconstructed bit-exactly from the PUBLISHED
    * (pointer-pinned) model snapshot — one bounded collect:
    * |centroids| + m·k rows in the [[modelRowsDf]] layout. */
  def readModel(spark: SparkSession, path: String): Model =
    modelAt(spark, path, resolvedPtr(spark, path))

  private def modelAt(spark: SparkSession, path: String, ptr: Ptr): Model = {
    val rows = DimStore.read(spark, modelPath(path), ptr.modelV)
      .select("key", "kind", "i1", "i2", "vals").collect()
    val shape = rows.find(_.getString(1) == "shape")
      .getOrElse(throw new IllegalStateException(
        s"ANN index at $path has no shape row — not a persisted ANN model"))
    val dim = shape.getLong(2).toInt
    val m = shape.getLong(3).toInt
    val k = shape.getSeq[Double](4).head.toInt
    val cents = rows.filter(_.getString(1) == "cent")
      .map(r => r.getLong(2) -> r.getSeq[Double](4))
      .sortBy(_._1).toSeq
    val byMk = rows.filter(_.getString(1) == "pq")
      .map(r => (r.getLong(2).toInt, r.getLong(3).toInt) ->
        r.getSeq[Double](4).toArray).toMap
    val cbs = Array.tabulate(m)(mi => Array.tabulate(k)(ki => byMk((mi, ki))))
    Model(cents, ProductQuantizer.PqModel(dim, m, k, cbs), ptr.buildVer)
  }

  /** The PUBLISHED codes snapshot (pointer-pinned):
    * (vec_id, list_id, pq_code0..m-1). */
  def codes(spark: SparkSession, path: String): DataFrame = {
    val ptr = resolvedPtr(spark, path)
    val df = DimStore.read(spark, codesPath(path), ptr.codesV)
    // tombstoned rows ([[delete]]) are dead to every reader — the
    // filter here covers ALL serve paths (adcTopK, the staged-refine
    // queries) in one place
    df.filter(col("list_id") >= 0)
      .select(df.columns.filterNot(_ == "__batch_ver").toIndexedSeq.map(col): _*)
  }

  /** Probe frame for a query batch: each query's top-`nProbes` lists
    * (ranked through the SAME expression path as assignment, so
    * ordering is ulp-identical), residualized against each probed
    * centroid, carrying the residual's m×k ADC LUT — ready to
    * broadcast against [[codes]] for a single-scan batch ADC. The
    * whole frame is a NARROW MAP over the query frame — rank,
    * residual, and LUT ([[ProductQuantizer.adcLut]], bit-identical to
    * the driver-loop form) all compute executor-side, so nothing
    * query-sized ever collects to the driver and the probe path
    * scales to arbitrarily large query batches; only the JOIN against
    * the codes table broadcasts the (|queries|·nProbes)-row result,
    * which is the broadcast-small-side contract the caller sizes. */
  def queryProbes(queries: DataFrame, idCol: String, vCol: String,
                  model: Model, nProbes: Int): DataFrame =
    queries
      .withColumn("__cs", ranked(model.centroids, col(vCol), keep = nProbes))
      .select(col(idCol).as("query_id"), col(vCol).as("__qv"),
        explode(col("__cs")).as("__ps"))
      .select(col("query_id"), col("__qv"), (-col("__ps.nid")).as("list_id"))
      .withColumn("__rq",
        residual(model.centroids, col("list_id"), col("__qv")))
      .select(col("query_id"), col("list_id"),
        ProductQuantizer.adcLut(col("__rq"), model.pq).as("__lut"))

  /** Batch ADC top-k against the staged codes: ONE scan of the codes
    * table joined with the broadcast probe frame, ranked per query by
    * (adc_ppm asc, vec_id) — the x75 scoring tail served from the
    * index instead of a per-invocation re-encode. */
  def adcTopK(spark: SparkSession, path: String, probes: DataFrame,
              model: Model, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("adc_ppm").asc, col("vec_id"))
    codes(spark, path)
      .join(broadcast(probes), Seq("list_id"))
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("adc_ppm", round(lit(1e6) *
        ProductQuantizer.adcDistanceFromLut(col("__lut"), model.pq))
        .cast("long"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("vec_id"), col("list_id"),
        col("adc_ppm"), col("rank"))
  }
}
