package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Deterministic coarse-quantizer training — Lloyd iterations whose
  * ASSIGNMENT step is the exact expression the index serves with
  * ([[IvfKit.ranked]]: cosine desc, centroid-id asc on ties), so the
  * trained quantizer optimizes precisely the metric its inverted lists
  * are probed by, and whose UPDATE step is an exact DECIMAL(18,8) mean
  * (the x18/x39/[[ProductQuantizer]] house contract — bit-reproducible
  * across runs, retries, and engines; no RNG anywhere: seeds are the
  * `k` lowest-id rows, production pre-shuffles ids upstream when the
  * id order is adversarial).
  *
  * Scale shape per round: one narrow assignment map over the corpus +
  * one (k·dim)-row aggregate collected to the driver — centroid STATE
  * is kilobytes regardless of corpus size, the same
  * tiny-state-collect shape as PQ training. An emptied cluster keeps
  * its previous centroid.
  */
object KMeans {

  private val SumDec = DecimalType(18, 8)

  /** Train `k` centroids over `vCol` (`array<double>`) by `rounds`
    * Lloyd iterations; returns (centroid id 0..k-1, vector) in the
    * shape [[AnnIndex.buildTrained]] and [[IvfKit]] consume. `rounds =
    * 0` returns the seeds — exactly the "caller-picked corpus rows"
    * quantizer, which is what makes this a strict generalization of
    * the fixture-id override. */
  def train(df: DataFrame, idCol: String, vCol: String, k: Int,
            rounds: Int): Seq[(Long, Seq[Double])] = {
    val seeds = df.orderBy(col(idCol)).limit(k)
      .select(col(vCol)).collect().map(_.getSeq[Double](0))
    require(seeds.length == k, s"need ≥ $k rows to seed $k centroids")
    var cents: Seq[(Long, Seq[Double])] =
      seeds.toIndexedSeq.zipWithIndex.map { case (v, i) => (i.toLong, v) }
    for (_ <- 0 until rounds) {
      val stats = df
        .withColumn("__list", IvfKit.assign(cents, col(vCol)))
        .select(col("__list"), posexplode(col(vCol)).as(Seq("__p", "__x")))
        .groupBy(col("__list"), col("__p"))
        .agg(sum(col("__x").cast(SumDec)).as("sx"), count(lit(1)).as("n"))
        .collect()
      val byCluster = stats.groupBy(_.getLong(0)).map { case (c, rs) =>
        c -> rs.sortBy(_.getInt(1))
          .map(r => r.getDecimal(2).doubleValue() / r.getLong(3)).toSeq
      }
      cents = cents.map { case (cid, cv) => (cid, byCluster.getOrElse(cid, cv)) }
    }
    cents
  }
}
