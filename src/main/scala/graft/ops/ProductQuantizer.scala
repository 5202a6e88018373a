package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Product quantization for nearest-neighbor search (Jégou, Douze,
  * Schmid, TPAMI 2011): split a d-dim vector into `m` subspaces, learn
  * a `k`-centroid codebook per subspace, and store each vector as its
  * per-subspace nearest-centroid indexes — m·log₂k bits instead of 4d
  * bytes. Search is asymmetric distance computation (ADC): the query
  * stays un-quantized, its distances to every codebook centroid become
  * an m×k lookup table, and scoring a stored vector costs m table
  * lookups + adds.
  *
  * Scale shape: the trained model is m·k·(d/m) doubles — kilobytes —
  * broadcast as column literals; training touches each vector once per
  * Lloyd round with an (m·k·d/m)-row shuffle; encoding is one narrow
  * map; an ADC scan reads the codes table (for d=64 floats at k=256,
  * 32× smaller than the raw vectors), which is what makes exhaustive
  * re-rank over 100 TB of embeddings feasible. Compose IVF bucketing
  * ([[graft.queries.Extensions]] x12) in front for the full IVFADC
  * system. Everything stays inside whole-stage codegen: subspace
  * distances are one native compiled kernel per codebook
  * ([[graft.functions.PqSubspaceDist2]]), code assignment is
  * `array_position(d, array_min(d))`, ADC is `element_at` on a literal
  * array — no UDFs, no interpreted higher-order functions.
  *
  * Determinism (the x18/x72 contract): centroid updates are exact
  * DECIMAL(18,8) sums cast to double, distance folds are the same
  * left-to-right (x−y)² everywhere (executor fold and driver LUT), and
  * nearest-centroid ties break to the LOWEST index (`array_position`
  * returns the first minimum), so training, encoding and scoring are
  * bit-reproducible across runs, retries, and engines.
  */
object ProductQuantizer {

  /** A trained model: `codebooks(m)(k)` is the k-th centroid of
    * subspace m, each of length `dim / m`. */
  final case class PqModel(dim: Int, m: Int, k: Int,
                           codebooks: Array[Array[Array[Double]]]) {
    def subDim: Int = dim / m
    def codeCols: Seq[String] = (0 until m).map(i => s"pq_code$i")
  }

  private val SumDec = DecimalType(18, 8)

  /** L2² of `v`'s m-th slice against EVERY centroid of one codebook,
    * as a k-array column — one native codegen'd (x−y)² left-fold per
    * codeword ([[graft.functions.PqSubspaceDist2]]), so assignment
    * and ADC share one compiled kernel. The per-codeword
    * unrolled `slice`+`zip_with` forms this replaces computed the
    * same doubles in the same order (bit-identity pinned by
    * IvfRouteSpec's driver references) but paid interpreted HOF eval
    * per row — measured x75 2.57→1.07 s isolated on the switch — and
    * livelocked Catalyst's runtime CSE setup past k≈16 (SCALEPROBE
    * round 15). */
  /** One `Broadcast` of the flat-primitive codebook payload per
    * codebook CONTENT per context — same round-17 payload policy as
    * [[IvfKit.centroidBc]]: the plan carries an O(1) handle, executors
    * fetch the k×subDim doubles once, and assignment and ADC over the
    * same model share one payload.
    *
    * Keyed by the codebook's bits, not by array instance: a query that
    * trains per run (x72, x75) builds equal codebooks as new arrays
    * each run. The handle's identity hash is part of
    * [[graft.functions.PqSubspaceDist2]]'s semantic hash, and
    * whole-stage CSE orders the equal-height `pq_subspace_dist2`
    * subexpressions of [[nearest]] by that hash, so a fresh handle
    * renumbers the generated variables and Janino compiles the stage
    * again. Bounded to the 64 most recently used codebooks (k×subDim
    * doubles each). */
  private type CbKey = (Int, Vector[Long])
  private type CbEntry = (org.apache.spark.SparkContext,
    org.apache.spark.broadcast.Broadcast[graft.functions.IvfNative.CodebookPayload])
  private val cbCache =
    new java.util.LinkedHashMap[CbKey, CbEntry](16, 0.75f, true) {
      override def removeEldestEntry(e: java.util.Map.Entry[CbKey, CbEntry]): Boolean =
        size() > 64
    }

  private def codebookBc(cb: Array[Array[Double]])
      : org.apache.spark.broadcast.Broadcast[graft.functions.IvfNative.CodebookPayload] =
    cbCache.synchronized {
      val sc = org.apache.spark.sql.SparkSession.active.sparkContext
      val key = (cb.length,
        cb.iterator.flatMap(_.iterator).map(java.lang.Double.doubleToRawLongBits).toVector)
      val hit = cbCache.get(key)
      if (hit != null && (hit._1 eq sc) && !sc.isStopped) hit._2
      else {
        val bc = sc.broadcast(graft.functions.IvfNative.codebookPayload(
          cb.toIndexedSeq.map(_.toIndexedSeq)))
        cbCache.put(key, (sc, bc))
        bc
      }
    }

  private def dist2Arr(v: Column, mi: Int, subDim: Int,
                       cb: Array[Array[Double]]): Column =
    org.apache.spark.sql.GraftPlanBridge.col(
      graft.functions.PqSubspaceDist2(
        org.apache.spark.sql.GraftPlanBridge.expr(v),
        offset = mi * subDim,
        bc = codebookBc(cb)))

  /** 0-based index of the nearest centroid (first minimum on ties). */
  private def nearest(v: Column, mi: Int, subDim: Int,
                      cb: Array[Array[Double]]): Column = {
    val d = dist2Arr(v, mi, subDim, cb)
    (array_position(d, array_min(d)) - 1).cast("int")
  }

  /** Train per-subspace codebooks by `rounds` Lloyd iterations, seeded
    * from the `k` lowest-`idCol` rows' subvectors (deterministic, no
    * RNG — k-means|| seeding would add quality but break the
    * cross-engine reproducibility the oracle gate needs; callers with
    * a real cluster can pre-shuffle ids). `vCol` must be
    * `array<double>` of length `dim`. Driver state per round is one
    * m·k·subDim-row aggregate — never vectors. An emptied cluster
    * keeps its previous centroid. */
  def train(df: DataFrame, idCol: String, vCol: String, dim: Int, m: Int,
            k: Int, rounds: Int): PqModel = {
    require(dim % m == 0, s"dim $dim not divisible into $m subspaces")
    val subDim = dim / m
    val seedRows = df.orderBy(col(idCol)).limit(k)
      .select(col(vCol)).collect().map(_.getSeq[Double](0).toArray)
    require(seedRows.length == k, s"need ≥ $k rows to seed $k centroids")
    var cbs: Array[Array[Array[Double]]] = Array.tabulate(m)(mi =>
      Array.tabulate(k)(ki => java.util.Arrays.copyOfRange(
        seedRows(ki), mi * subDim, (mi + 1) * subDim)))
    for (_ <- 0 until rounds) {
      val stats = lloydStats(df, vCol, m, subDim, cbs).collect()
      cbs = Array.tabulate(m) { mi =>
        val byCluster = stats.filter(_.getInt(0) == mi).groupBy(_.getInt(1))
          .map { case (c, rs) =>
            c -> rs.sortBy(_.getInt(2)).map(r =>
              r.getDecimal(3).doubleValue() / r.getLong(4))
          }
        Array.tabulate(k)(ki => byCluster.getOrElse(ki, cbs(mi)(ki)))
      }
    }
    PqModel(dim, m, k, cbs)
  }

  /** One Lloyd round's sufficient statistics — (m, cluster, pos) →
    * (Σx as DECIMAL, n) — from a SINGLE scan of the corpus: a union of
    * m per-subspace `slice`+`posexplode` branches re-reads (and
    * re-shuffles) the corpus m times after column pruning, so instead
    * the FULL vector is exploded once and `(flat position div subDim,
    * flat position mod subDim)` recovers (subspace, offset)
    * arithmetically. The decimal sums see the same value multiset per
    * group as the branched form, so the resulting centroids are
    * byte-identical (exact decimal addition, no rounding inside the
    * scale). Package-visible so the plan shape — one scan, no Union —
    * stays test-pinned. */
  private[graft] def lloydStats(df: DataFrame, vCol: String, m: Int,
                                subDim: Int,
                                cbs: Array[Array[Array[Double]]]): DataFrame = {
    val assigned = df.select(col(vCol).as("__v") +: (0 until m).map(mi =>
      nearest(col(vCol), mi, subDim, cbs(mi)).as(s"__c$mi")): _*)
    val sub = (col("__p") / subDim).cast("int")
    assigned
      .select(array((0 until m).map(mi => col(s"__c$mi")): _*).as("__cs"),
        posexplode(col("__v")).as(Seq("__p", "__x")))
      .select(sub.as("m"), element_at(col("__cs"), sub + 1).as("cluster"),
        pmod(col("__p"), lit(subDim)).as("pos"), col("__x"))
      .groupBy(col("m"), col("cluster"), col("pos"))
      .agg(sum(col("__x").cast(SumDec)).as("sx"), count(lit(1)).as("n"))
  }

  /** Append `pq_code0..pq_code{m-1}` int columns — the stored index. */
  def encode(df: DataFrame, vCol: String, model: PqModel): DataFrame =
    df.select(df.columns.toIndexedSeq.map(col) ++ (0 until model.m).map(mi =>
      nearest(col(vCol), mi, model.subDim, model.codebooks(mi))
        .as(s"pq_code$mi")): _*)

  /** The m×k ADC lookup table for one query as plain data —
    * `luts(mi)(ki)` is the L2² of q's mi-th subvector to codebook
    * centroid (mi, ki), computed with the same sequential fold as
    * [[dist2Arr]]. Feeds both the literal form ([[adcDistance]]) and the
    * broadcast-frame form ([[adcDistanceFromLut]]), so the two score
    * identically to the last ulp. */
  def adcLutRows(q: Array[Double], model: PqModel): Seq[Seq[Double]] =
    (0 until model.m).map { mi =>
      model.codebooks(mi).toSeq.map { c =>
        var s = 0.0
        var i = 0
        while (i < model.subDim) {
          val d = q(mi * model.subDim + i) - c(i)
          s += d * d
          i += 1
        }
        s
      }
    }

  /** The m×k ADC lookup table as a COLUMN — [[adcLutRows]] computed
    * EXECUTOR-side per row (`array<array<double>>`), through the same
    * [[dist2Arr]] left-fold the driver loop runs, so the two forms are
    * bit-identical (spec-pinned). This is the distributed LUT build
    * for large query batches: the per-query LUT is a pure narrow map
    * over the query frame, so nothing query-sized ever lands on the
    * driver — the driver-side map over collected rows it replaces was
    * the probe path's scale ceiling. */
  def adcLut(v: Column, model: PqModel): Column =
    array((0 until model.m).map { mi =>
      dist2Arr(v, mi, model.subDim, model.codebooks(mi))
    }: _*)

  /** ADC L2² column for one raw query vector over the code columns —
    * the per-query lookup table is computed on the driver and shipped
    * as literals. Right for ONE query; for a batch of queries use
    * [[adcDistanceFromLut]] with a broadcast LUT frame, or the plan
    * grows (and the code table is re-scanned) per query. */
  def adcDistance(q: Array[Double], model: PqModel): Column = {
    val luts = adcLutRows(q, model)
    (0 until model.m).map(mi =>
      element_at(typedlit(luts(mi)), col(s"pq_code$mi") + 1)).reduce(_ + _)
  }

  /** ADC L2² from a LUT COLUMN (`array<array<double>>`, m×k — one
    * [[adcLutRows]] value per query row, joined/broadcast next to the
    * codes): the batch-query scoring shape. ONE scan of the code table
    * serves any number of queries — each scored row does m
    * `element_at` lookups into its joined LUT — and driver plan size
    * stays O(1) in |queries| instead of one unrolled branch per
    * query. Summation order (mi ascending) matches [[adcDistance]],
    * so the two forms are bit-identical. */
  def adcDistanceFromLut(lut: Column, model: PqModel): Column =
    (0 until model.m).map(mi =>
      element_at(element_at(lut, mi + 1), col(s"pq_code$mi") + 1))
      .reduce(_ + _)
}
