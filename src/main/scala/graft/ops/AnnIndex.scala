package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persisted, incrementally-maintained IVFADC index (Jégou/Douze/
  * Schmid, TPAMI 2011 §IV) over a versioned [[DimStore]] table — the
  * retrieval family's DIM-layer: train the coarse quantizer + product-
  * quantization codebooks ONCE per dataset version, materialize every
  * vector's (inverted list, PQ codes) row into a committed table, and
  * MAINTAIN it per ingest batch by encoding only the new/changed
  * vectors with the frozen model — the same keyed-store-maintained-
  * once, served-many pattern as the reference's dim sink
  * (gmall-realtime/.../app/func/DimSinkFunction.java:13-33) and this
  * repo's incremental cluster labels (x74). Without it, every query
  * batch re-trains and re-encodes the corpus — the one cost a 100 TB
  * embedding store cannot pay per invocation.
  *
  * Layout under `path` (both tables ride the full commit-log
  * protocol — optimistic commits, snapshot reads, time travel,
  * vacuum):
  *  - `codes/` — one row per vector: (vec_id, list_id,
  *    pq_code0..m-1), pk `vec_id`, LWW by the caller's batch version;
  *    for d=64 floats this is ~32× smaller than the raw vectors.
  *  - `model/` — the FROZEN model as rows: coarse centroids
  *    (kind='cent') and PQ codebook centroids (kind='pq'), written at
  *    [[build]] and never rewritten by [[append]]. Parquet doubles
  *    round-trip exactly, so a model read back scores bit-identically
  *    to the one trained. Freezing is what makes maintenance sound:
  *    codes encoded in different batches remain comparable under one
  *    LUT. Re-training (drift) is a REBUILD — a new [[build]] commit,
  *    exactly like a dim-table full rewrite.
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
    * plus the build-time mean quantization error (the model-fit
    * baseline [[append]] monitors drift against) and the LWW version
    * the build committed at. `buildVer` is the caller's re-floor
    * point: a rebuild commits strictly above every earlier batch, so
    * an ingest counter that predates it must resume at
    * `buildVer + 1` or its post-rebuild batches are absorbed as
    * replays (see [[append]]). */
  final case class Model(centroids: Seq[(Long, Seq[Double])],
                         pq: ProductQuantizer.PqModel,
                         baselineErr: Double,
                         buildVer: Long)

  /** What one ingest batch's model fit looked like: its mean residual
    * quantization error vs the build-time baseline. `rebuildRecommended`
    * fires when the ratio exceeds the caller's drift factor — the
    * batch is drawn from a distribution the frozen codebooks no longer
    * cover, and the honest fix is a new [[build]] (re-train + full
    * re-encode as a fresh version), not more appends. `buildVer`
    * echoes the serving model's build version so a streaming caller
    * can notice a rebuild happened underneath it and re-floor its
    * version counter without a separate model read. */
  final case class IngestDrift(batchMeanErr: Double, baselineErr: Double,
                               ratio: Double, rebuildRecommended: Boolean,
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
    * documented single-maintainer contract (one ingest pipeline per
    * index — same as a streaming dim sink); READERS are what the
    * pointer protects. */
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

  /** Mean quantization error below which a zero-baseline model is
    * still "perfect fit" — double-precision noise, not drift. */
  private val ZeroBaselineFloor = 1e-9

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
    * in one projection chain), shared verbatim by [[build]],
    * [[append]], and the full-re-encode spec oracle. */
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
    * dominate ALL earlier build/append batches — including a replayed
    * pre-rebuild append. One bounded agg per table (max over a long
    * column), only on the rebuild path. */
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
    * version 1; on an EXISTING index (the drift-triggered rebuild
    * [[append]] recommends) both tables are fully REPLACED at a
    * version above every committed batch. Publication is ATOMIC:
    * model and codes commit first (unreferenced), then ONE pointer
    * commit names both versions — a crash anywhere before the flip
    * leaves readers on the previous index byte-identically (or, on a
    * fresh path, on "no index"), never on a new-model/old-codes mix.
    * [[fsck]] audits the published pair and finds nothing on any
    * crash path; debris versions above the pointer are replaced by
    * the next successful build (which commits strictly above them)
    * and pruned by [[maintain]]'s vacuum. */
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
        ("err", "stats", 0L, 0L, Seq(model.baselineErr)),
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
    // build-time model fit: corpus mean quantization error — one extra
    // narrow pass (train already scanned the corpus `rounds` times);
    // this is the baseline every later ingest batch's fit is judged
    // against
    val baseline = lists
      .agg(avg(ProductQuantizer.quantizationError(col("__rv"), pq)))
      .head().getDouble(0)
    val model = Model(cents, pq, baseline, buildVer)
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
    * pointer — an operational error, vacuum must go through
    * [[maintain]]). */
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

  /** Per-list occupancy balance of the PUBLISHED codes snapshot. Drift
    * monitoring ([[IngestDrift]]) covers PQ fit — residual error
    * against the frozen codebooks — but says nothing about the COARSE
    * quantizer: a skewed centroid set silently concentrates the corpus
    * into few inverted lists, and probing a hot list degrades toward a
    * partial corpus scan (at 100 TB, the difference between reading
    * nProbes/nLists of the codes table and reading most of it). One
    * O(nLists)-row aggregate over the codes table reports the balance;
    * `maxMeanRatio` is max list size over the mean across ALL trained
    * lists (empty lists drag the mean down — they are skew too: a
    * centroid no vector assigns to is wasted probe vocabulary).
    * `retrainRecommended` fires past the caller's skew factor — the
    * fix is a coarse re-train ([[buildTrained]]), same action as PQ
    * drift, and [[RebuildPolicy]] can close the loop on a cadence. */
  final case class Occupancy(nLists: Int, nonEmptyLists: Int, rows: Long,
                             maxRows: Long, meanRows: Double,
                             maxMeanRatio: Double,
                             retrainRecommended: Boolean)

  /** Audit list balance: one groupBy(list_id) count over the pinned
    * codes snapshot — O(scan) work, O(nLists) result. */
  def occupancy(spark: SparkSession, path: String,
                skewFactor: Double = 4.0): Occupancy = {
    val model = readModel(spark, path)
    val nLists = model.centroids.size
    val counts = codes(spark, path)
      .groupBy(col("list_id")).agg(count(lit(1)).as("__n"))
      .select(col("__n")).collect().map(_.getLong(0))
    val rows = counts.sum
    val mean = if (nLists == 0) 0.0 else rows.toDouble / nLists
    val maxR = if (counts.isEmpty) 0L else counts.max
    val ratio = if (mean > 0.0) maxR / mean else 0.0
    Occupancy(nLists, counts.length, rows, maxR, mean, ratio,
      retrainRecommended = ratio > skewFactor)
  }

  /** Incremental maintenance: encode ONLY this batch under the frozen
    * model and merge it into the codes table — one optimistic commit
    * rewriting O(touched buckets), not a corpus re-encode. LWW by
    * `ver`: a re-ingested vector with a newer version replaces its
    * row; the model tables are untouched.
    *
    * Returns the batch's [[IngestDrift]] — mean residual quantization
    * error vs the build-time baseline, computed in the same pass shape
    * as the encode. Freezing the model is what makes maintenance
    * sound, and drift is its failure mode: when the incoming
    * distribution walks away from what the codebooks were trained on,
    * the errors (and therefore ADC ranking noise) grow without any
    * query failing loudly. `driftFactor` is the ratio past which the
    * report recommends a rebuild; the append itself ALWAYS lands
    * (rows must not be dropped while a rebuild is pending — they are
    * searchable at degraded precision, and the rebuild re-encodes
    * them anyway).
    *
    * Versioning vs rebuilds: a rebuild commits strictly ABOVE every
    * earlier batch, so an append whose `ver` predates the serving
    * model's `buildVer` is absorbed as a replay by LWW — deliberate
    * for redelivered pre-rebuild batches (spec-pinned), but a caller
    * ingesting NEW data must keep its counter above `buildVer`
    * (re-floor from the returned drift report after a recommended
    * rebuild ran). `ver == buildVer` exactly is rejected: a tied
    * version would leave new-vs-rebuilt row survival to the LWW
    * tie-break instead of an ordering. */
  def append(spark: SparkSession, path: String, batch: DataFrame,
             idCol: String, vCol: String, ver: Long,
             driftFactor: Double = 2.0): IngestDrift =
    appendImpl(spark, path, batch, idCol, vCol, ver, driftFactor,
      crashAfter = None)

  /** Crash-injection twin of [[append]] (dies after the codes commit,
    * before the pointer flip): the appended batch is committed but
    * INVISIBLE until redelivery — the at-least-once contract, pinned
    * in AnnIndexSpec. */
  private[graft] def appendCrashing(spark: SparkSession, path: String,
      batch: DataFrame, idCol: String, vCol: String, ver: Long): Unit = {
    appendImpl(spark, path, batch, idCol, vCol, ver, 2.0,
      crashAfter = Some("codes"))
    ()
  }

  private def appendImpl(spark: SparkSession, path: String,
      batch: DataFrame, idCol: String, vCol: String, ver: Long,
      driftFactor: Double, crashAfter: Option[String]): IngestDrift = {
    val ptr = resolvedPtr(spark, path)
    // rebuild-debris guard: a rebuild that crashed between its model
    // commit and its pointer flip leaves NEW-model commits as the
    // tables' latest versions while the pointer pins the OLD build.
    // Appending would merge old-model-encoded rows into the new-model
    // codes (and the pointer advance below would publish the mix) —
    // silently wrong ADC rankings. One commit-log metadata read makes
    // that state loud instead; [[Ingestor]] rolls it forward/back on
    // construction.
    val latestModelV = DimStore.currentVersion(modelPath(path))
    if (!latestModelV.contains(ptr.modelV)) throw new IllegalStateException(
      s"ANN index at $path has an unpublished rebuild commit (model " +
      s"v${latestModelV.getOrElse(-1L)} above published v${ptr.modelV}) — " +
      "a rebuild crashed before its pointer flip; construct an Ingestor " +
      "(which recovers orphaned rebuilds) before appending")
    val model = readModel(spark, path)
    require(ver != model.buildVer,
      s"append version $ver ties the serving build's version — " +
      s"re-floor the ingest counter at ${model.buildVer + 1} " +
      "(a tie makes new-vs-rebuilt survival a hash tie-break, not an ordering)")
    // the ranked+residual projection is the expensive half of the
    // batch; persist it so the drift agg and the encode feeding the
    // upsert share ONE computation instead of running it twice
    val withRv = batch
      .withColumn("list_id", assign(model.centroids, col(vCol)))
      .withColumn("__rv", residual(model.centroids, col("list_id"), col(vCol)))
      .persist()
    try {
      val stats = withRv.agg(
        avg(ProductQuantizer.quantizationError(col("__rv"), model.pq)),
        count(lit(1))).head()
      val batchErr = if (stats.getLong(1) == 0L) Double.NaN else stats.getDouble(0)
      DimStore.upsert(spark, codesPath(path),
        ProductQuantizer.encode(withRv, "__rv", model.pq)
          .select(col(idCol).as("vec_id") +: col("list_id") +:
            model.pq.codeCols.map(col): _*)
          .withColumn("__batch_ver", lit(ver)),
        pk = "vec_id", versionCol = "__batch_ver")
      maybeCrash(crashAfter, "codes")
      // publish the batch: same model, new codes snapshot. A crash
      // between the upsert and this flip leaves the batch committed
      // but unreferenced — invisible to readers until the
      // at-least-once redelivery re-merges it (idempotent LWW) and
      // flips; the NEXT flip of any kind also carries it (the pointer
      // always advances to the latest committed codes version, every
      // version of which was encoded under the same frozen model).
      if (stats.getLong(1) > 0L)
        bumpPtr(spark, path,
          modelV = ptr.modelV,
          codesV = DimStore.currentVersion(codesPath(path)).get,
          buildVer = ptr.buildVer)
      // a baseline of exactly 0.0 (codebooks reproduce every build-time
      // residual — k >= distinct residuals, common on small or tightly
      // clustered corpora) would make ANY nonzero batch error an
      // infinite ratio; below the absolute floor the fit is still
      // double-noise-perfect and no rebuild is warranted
      val ratio =
        if (model.baselineErr > 0.0) batchErr / model.baselineErr
        else if (batchErr <= ZeroBaselineFloor) 1.0
        else Double.PositiveInfinity
      IngestDrift(batchErr, model.baselineErr, ratio,
        rebuildRecommended = !ratio.isNaN && ratio > driftFactor,
        buildVer = model.buildVer)
    } finally { withRv.unpersist(); () }
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
    * the next full/drift rebuild (which replaces the codes table
    * wholesale from the caller-owned, already-purged corpus) or — for
    * takedown-heavy indexes that can't wait for drift — via the
    * bounded [[purgeTombstones]] maintenance pass.
    *
    * Crash window = [[append]]'s exactly: a death between the codes
    * commit and the pointer flip leaves the tombstones committed but
    * unreferenced — the vector stays servable until the at-least-once
    * redelivery (idempotent: same pk, same LWW outcome) or any later
    * flip publishes the newer codes version (AnnIndexSpec pins both). */
  def delete(spark: SparkSession, path: String, ids: DataFrame,
             idCol: String, ver: Long): Unit = {
    val ptr = resolvedPtr(spark, path)
    val latestModelV = DimStore.currentVersion(modelPath(path))
    if (!latestModelV.contains(ptr.modelV)) throw new IllegalStateException(
      s"ANN index at $path has an unpublished rebuild commit — construct " +
      "an Ingestor (which recovers orphaned rebuilds) before deleting")
    val model = readModel(spark, path)
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
    deleteImpl(spark, path, ids, idCol, ver, crashAfter = None)
  }

  /** Caller convenience: takedown ids as a driver-side list (the
    * bounded GDPR-batch shape) — same guards and tombstone commit as
    * the DataFrame route, which bulk sweeps should use directly. */
  def delete(spark: SparkSession, path: String, ids: Seq[Long],
             ver: Long): Unit = {
    import spark.implicits._
    delete(spark, path, ids.toDF("vec_id"), idCol = "vec_id", ver = ver)
  }

  /** The tombstone commit itself — shared by the guarded standalone
    * [[delete]] and [[Ingestor.ingestDelete]] (whose counter version
    * is above the serving build by construction, and whose
    * constructor already recovered any orphaned rebuild). */
  private def deleteImpl(spark: SparkSession, path: String,
      ids: DataFrame, idCol: String, ver: Long,
      crashAfter: Option[String]): Unit = {
    val ptr = resolvedPtr(spark, path)
    val model = readModel(spark, path)
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
    * drift rebuild — the between-rebuilds maintenance pass a
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
    * pre-purge versions still hold the tombstones until
    * [[maintain]]'s vacuum prunes them — time travel unaffected.
    *
    * Crash window = [[delete]]'s exactly: deleteWhere's commit is
    * atomic; a death between it and the pointer flip leaves the
    * purged version committed but unreferenced — readers stay on the
    * tombstoned snapshot (answers unchanged) until the purge is
    * re-run, which finds nothing left to delete on the latest version
    * and just completes the flip (idempotent roll-forward, the same
    * redelivery-heals contract as delete/append). Returns the number
    * of rows reclaimed. */
  def purgeTombstones(spark: SparkSession, path: String): Long = {
    val ptr = resolvedPtr(spark, path)
    val latestModelV = DimStore.currentVersion(modelPath(path))
    if (!latestModelV.contains(ptr.modelV)) throw new IllegalStateException(
      s"ANN index at $path has an unpublished rebuild commit — construct " +
      "an Ingestor (which recovers orphaned rebuilds) before purging")
    // allowEmpty: a fully-tombstoned index (every remaining vector
    // taken down) must PURGE to an empty-but-readable codes table, not
    // wedge the maintenance cadence — maintain()'s docstring promises
    // purgeTombstonesOver never throws mid-stream
    val purged = DimStore.deleteWhere(spark, codesPath(path),
      pk = "vec_id", pred = col("list_id") < 0, allowEmpty = true)
    val latestCodes = DimStore.currentVersion(codesPath(path)).get
    if (latestCodes != ptr.codesV)
      bumpPtr(spark, path, modelV = ptr.modelV, codesV = latestCodes,
        buildVer = ptr.buildVer)
    purged
  }

  /** The frozen model, reconstructed bit-exactly from the PUBLISHED
    * (pointer-pinned) model snapshot — one bounded collect:
    * |centroids| + m·k rows in the [[modelRowsDf]] layout. */
  def readModel(spark: SparkSession, path: String): Model = {
    val ptr = resolvedPtr(spark, path)
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
    val baseline = rows.find(_.getString(1) == "stats")
      .map(_.getSeq[Double](4).head).getOrElse(Double.NaN)
    Model(cents, ProductQuantizer.PqModel(dim, m, k, cbs), baseline,
      ptr.buildVer)
  }

  /** The PUBLISHED codes snapshot (pointer-pinned):
    * (vec_id, list_id, pq_code0..m-1). */
  def codes(spark: SparkSession, path: String): DataFrame = {
    val ptr = resolvedPtr(spark, path)
    val df = DimStore.read(spark, codesPath(path), ptr.codesV)
    // tombstoned rows ([[delete]]) are dead to every reader — the
    // filter here covers ALL serve paths (adcTopK, occupancy, the
    // staged-refine queries) in one place
    df.filter(col("list_id") >= 0)
      .select(df.columns.filterNot(_ == "__batch_ver").toIndexedSeq.map(col): _*)
  }

  /** What one [[maintain]] pass found: the codes table's layout report
    * plus — when the caller opted in — the index-semantic audit layout
    * maintenance can't see, inverted-list balance.
    * `occupancy.exists(_.retrainRecommended)` is the re-train signal
    * (rebucketing moves bytes, not list assignment; only
    * [[buildTrained]] fixes a skewed coarse quantizer). `None` means
    * the audit was not requested, not that balance is fine. */
  final case class Maintenance(codes: DimStore.Maintenance,
                               occupancy: Option[Occupancy],
                               purgedTombstones: Long = 0L)

  /** Layout + history maintenance for the index, riding the dim-store
    * policy: the codes table accretes one commit generation per
    * [[append]] batch — exactly a streaming dim table's growth shape —
    * so it gets the same measured rebucket/compact policy
    * ([[DimStore.maintain]]); with `vacuumKeepLast > 0` both tables'
    * histories are pruned past the grace window too (the model table
    * is tiny and frozen between rebuilds, so history is its only
    * growth). Returns the codes table's maintenance report plus, when
    * `occupancyCheck` is set, the [[occupancy]] balance audit
    * (`occupancySkewFactor` sets its re-train threshold). The audit
    * SCANS the codes table, so it is opt-in — layout-only maintenance
    * stays one scan, mirroring the Ingestor's `occupancyCheckEvery`
    * cadence gating (at a 100 TB codes table an unconditional audit
    * would double every maintain call's read cost). Run it from the
    * same cadence that calls [[append]] (a streaming job's
    * every-N-batches hook, or a maintenance window).
    *
    * `purgeTombstonesOver > 0` adds the tombstone-reclaim policy:
    * when [[fsck]] counts at least that many dead rows,
    * [[purgeTombstones]] runs as part of this pass (BEFORE the layout
    * maintenance, so compaction measures the already-lean table).
    * Opt-in like `occupancyCheck` — the trigger check is one codes
    * scan. Skipped quietly (purgedTombstones = 0) while the index
    * carries an unpublished rebuild commit: the Ingestor's recovery
    * must roll that forward or back first, and a maintenance cadence
    * must not throw mid-stream. */
  def maintain(spark: SparkSession, path: String,
               targetBucketBytes: Long = 256L * 1024 * 1024,
               targetFileBytes: Long = 128L * 1024 * 1024,
               maxFilesPerBucket: Int = 4,
               maxBuckets: Int = 4096,
               apply: Boolean = true,
               vacuumKeepLast: Int = 0,
               vacuumGraceMillis: Long = 24L * 3600 * 1000,
               occupancyCheck: Boolean = false,
               occupancySkewFactor: Double = 4.0,
               purgeTombstonesOver: Long = 0L)
      : Maintenance = {
    val ptr = resolvedPtr(spark, path)
    val purged =
      if (purgeTombstonesOver <= 0L) 0L
      else {
        val published =
          DimStore.currentVersion(modelPath(path)).contains(ptr.modelV)
        if (!published) 0L
        else if (fsck(spark, path).tombstones >= purgeTombstonesOver)
          purgeTombstones(spark, path)
        else 0L
      }
    // a purge flipped the pointer itself — refresh so the advance
    // logic below doesn't re-flip to the same version
    val ptrM = if (purged > 0L) resolvedPtr(spark, path) else ptr
    val m = DimStore.maintain(spark, codesPath(path), "vec_id",
      targetBucketBytes = targetBucketBytes,
      targetFileBytes = targetFileBytes,
      maxFilesPerBucket = maxFilesPerBucket,
      maxBuckets = maxBuckets, apply = apply)
    // rebucket/compact committed content-identical NEW versions of the
    // codes table: advance the pointer to them BEFORE any vacuum, so
    // the pinned snapshot is always inside the retention window. Also
    // re-pins a committed-but-unpublished append left by a crash — but
    // ONLY while the model table's latest version is the published one:
    // a rebuild that crashed before its pointer flip leaves NEW-model
    // codes as the latest version, and advancing to it would publish
    // new-model codes under old codebooks (the Ingestor's recovery
    // rolls that state forward; maintain must not paper over it).
    val latestCodes = DimStore.currentVersion(codesPath(path)).get
    if (latestCodes != ptrM.codesV &&
        DimStore.currentVersion(modelPath(path)).contains(ptrM.modelV))
      bumpPtr(spark, path, ptrM.modelV, latestCodes, ptrM.buildVer)
    if (vacuumKeepLast > 0) {
      // never vacuum the PINNED version out from under the pointer: a
      // crashed rebuild can leave debris versions ABOVE the pinned one
      // (latest ≠ published), so "keep last N" is widened to reach the
      // pinned version — the debris is then pruned by the vacuum that
      // follows the next successful build.
      val cur = readPtr(spark, path).getOrElse(ptrM)
      def keepReaching(p: String, pinned: Long): Int =
        math.max(vacuumKeepLast, DimStore.history(p).count(_ >= pinned))
      DimStore.vacuum(spark, codesPath(path),
        keepReaching(codesPath(path), cur.codesV), vacuumGraceMillis)
      DimStore.vacuum(spark, modelPath(path),
        keepReaching(modelPath(path), cur.modelV), vacuumGraceMillis)
      DimStore.vacuum(spark, ptrPath(path), vacuumKeepLast, vacuumGraceMillis)
    }
    Maintenance(m,
      if (occupancyCheck) Some(occupancy(spark, path, occupancySkewFactor))
      else None,
      purgedTombstones = purged)
  }

  /** What one orchestrated ingest did: the batch's drift report, the
    * model a triggered rebuild published (None when fit was fine or
    * the policy is report-only), and the [[Occupancy]] audit when
    * this ingest was on the policy's check cadence. */
  final case class Ingest(drift: IngestDrift, rebuilt: Option[Model],
                          occupancy: Option[Occupancy] = None)

  /** When and how an [[Ingestor]] rebuilds — the DimRouter
    * [[graft.streaming.DimRouter.MaintenancePolicy]] shape for the
    * index: `applyRebuild = true` runs the rebuild inline in the
    * triggering ingest (the synchronous maintenance window a
    * dim-scale index can afford); `false` only reports, for an
    * external maintenance window to act on.
    *
    * `occupancyCheckEvery = n` (> 0) audits [[occupancy]] every n-th
    * ingest and treats `retrainRecommended` (list balance past
    * `occupancySkewFactor`) as a rebuild trigger too — closing the
    * coarse-quantizer-skew loop the PQ-fit drift monitor can't see.
    * The audit scans the codes table, so keep the cadence coarse. */
  final case class RebuildPolicy(driftFactor: Double = 2.0,
                                 nLists: Int, dim: Int, m: Int, k: Int,
                                 rounds: Int, kmRounds: Int = 2,
                                 nBuckets: Int = 16,
                                 applyRebuild: Boolean = true,
                                 occupancyCheckEvery: Int = 0,
                                 occupancySkewFactor: Double = 4.0)

  /** Orchestrated continuous ingest — the closure of [[append]]'s
    * drift recommendation into an actual maintenance action, so no
    * manual step sits between "the codebooks no longer cover the
    * data" and "the index is rebuilt":
    *
    *  1. each batch appends at the next counter version (floored
    *     above everything committed, so a restarted ingestor resumes
    *     ordering correctly);
    *  2. when the drift report recommends a rebuild — or, on the
    *     policy's cadence, the [[occupancy]] audit flags coarse-
    *     quantizer skew — and the policy applies it, [[buildTrained]]
    *     runs inline over the caller's corpus supplier. The index
    *     stores CODES, not raw vectors, so the corpus authority is the
    *     caller's embedding table. The supplier is invoked ONCE per
    *     rebuild and must return a CONSISTENT snapshot covering every
    *     batch ingested so far (a versioned table read gives this for
    *     free);
    *  3. the counter RE-FLOORS from the rebuild's version ceiling,
    *     so the next batch orders strictly above the rebuild while a
    *     REPLAYED pre-rebuild batch (redelivered at its old version)
    *     stays absorbed by LWW — at-least-once in, exactly-once
    *     effects out, the K2 contract.
    *
    * Single-maintainer per index, like [[build]]/[[append]]: ingest()
    * and ingestDelete() are the index's only committers. */
  final class Ingestor(spark: SparkSession, path: String,
                       idCol: String, vCol: String,
                       policy: RebuildPolicy,
                       corpus: () => DataFrame) {
    private val nextVer = new java.util.concurrent.atomic.AtomicLong(0L)
    private var ingests = 0L

    // restart recovery BEFORE the counter floor: a rebuild that crashed
    // between its commits and its pointer flip must be rolled forward
    // (or its debris neutralized) before anything appends — see
    // [[recoverOrphanedRebuild]]; the floor then sits above whatever
    // recovery committed.
    recoverOrphanedRebuild()
    nextVer.set(nextBuildVer(spark, path))

    /** Test/monitoring hook: the version the next batch will commit
      * at. */
    private[graft] def peekVer: Long = nextVer.get()

    /** Restart recovery: a rebuild that crashed AFTER committing to
      * the model/codes tables but BEFORE its pointer flip leaves the
      * tables' latest versions carrying NEW-model content while the
      * pointer pins the OLD build — [[append]] refuses to run in that
      * state (merging would mix models). Constructing an Ingestor
      * repairs it:
      *
      *  - the codes full-replace landed (a crash after both commits)
      *    → roll forward: flip the pointer to the committed pair;
      *  - only the model commit landed → roll back: the published
      *    model content is re-committed as the new latest (one
      *    tiny-table rewrite), so the codes chain — which was never
      *    touched — is appendable again.
      *
      * On a healthy index recovery is the pointer read plus one
      * commit-log metadata read, and a no-op. */
    private def recoverOrphanedRebuild(): Unit =
      readPtr(spark, path).foreach { ptr =>
        val latestModel = DimStore.currentVersion(modelPath(path))
        if (!latestModel.forall(_ == ptr.modelV)) {
          val bver = DimStore.read(spark, modelPath(path))
            .filter(col("kind") === "bver")
            .select(col("i1")).collect().headOption.map(_.getLong(0))
          val latestCodes = DimStore.currentVersion(codesPath(path))
          val codesMax = DimStore.readIfExists(spark, codesPath(path))
            .map(_.agg(max(col("__batch_ver"))).head())
            .collect { case r if !r.isNullAt(0) => r.getLong(0) }
          (bver, latestCodes) match {
            case (Some(b), Some(cv)) if codesMax.exists(_ >= b) =>
              // both commits landed: finish the flip
              bumpPtr(spark, path, latestModel.get, cv, b)
            case _ =>
              // model-only debris: restore the published content
              val pinned = DimStore.read(spark, modelPath(path), ptr.modelV)
              DimStore.rewrite(spark, modelPath(path), "key")(_ => pinned)
              bumpPtr(spark, path,
                DimStore.currentVersion(modelPath(path)).get,
                ptr.codesV, ptr.buildVer)
          }
        }
      }

    /** Deletion through the continuous path: [[AnnIndex.delete]]'s
      * tombstone commit at the next counter version, so a takedown
      * orders against this Ingestor's appends and rebuilds exactly as
      * an [[ingest]] batch does — O(touched buckets), live at the
      * pointer flip. At-least-once in, exactly-once effects out: a
      * redelivered delete re-tombstones idempotently. */
    def ingestDelete(ids: DataFrame): Unit =
      deleteImpl(spark, path, ids, idCol,
        ver = nextVer.getAndIncrement(), crashAfter = None)

    def ingest(batch: DataFrame): Ingest = {
      val drift = append(spark, path, batch, idCol, vCol,
        ver = nextVer.getAndIncrement(), driftFactor = policy.driftFactor)
      ingests += 1L
      val occ =
        if (policy.occupancyCheckEvery > 0 &&
            ingests % policy.occupancyCheckEvery == 0L)
          Some(occupancy(spark, path, policy.occupancySkewFactor))
        else None
      val wantRebuild =
        drift.rebuildRecommended || occ.exists(_.retrainRecommended)
      if (!policy.applyRebuild || !wantRebuild) Ingest(drift, None, occ)
      else {
        val model = buildTrained(spark, path, corpus(), idCol, vCol,
          policy.nLists, policy.dim, policy.m, policy.k, policy.rounds,
          policy.kmRounds, policy.nBuckets)
        nextVer.set(model.buildVer + 1L)
        Ingest(drift, Some(model), occ)
      }
    }
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
