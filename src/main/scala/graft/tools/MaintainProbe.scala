package graft.tools

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ops.{ConnectedComponents, DimStore}
import graft.streaming.StreamingClusters

/** Dev-side scale probe for the MAINTAINED streaming cluster labels
  * (NOT part of the driver contract): StreamingClustersSpec pins the
  * distributed quotient-contraction fallback's CORRECTNESS, and the
  * StreamBench `clusters` leg prices the driver fast path at
  * micro-batch scale — this probe prices the route between them: a
  * BACKFILL batch above `driverFoldMaxEdges` folded into a label
  * store that already holds ~1M docs, the shape a replayed topic or a
  * historical re-ingest hands the streaming job.
  *
  * What it measures, per (seed, batch) scenario:
  *  - wall seconds for one `updateBatchMaintained` call on the chosen
  *    route (driver fold vs distributed quotient contraction);
  *  - the distributed route's star-contraction round count, which must
  *    stay bounded by the BATCH's structure depth (the quotient graph
  *    is O(batch) by construction — seed-table size must not leak into
  *    rounds; the batch's deepest chain segment is the depth driver);
  *  - a full-recompute verification: labels after maintenance must
  *    equal `starContraction(seed star edges ∪ batch edges)` exactly
  *    (0 mismatches on a full outer join), the same oracle the spec
  *    pins at test scale.
  *
  * Batch shape: half the edges form chains of `segLen` among brand-new
  * docs (adversarial depth — boilerplate-template shape), half merge
  * random EXISTING components pairwise (rep-move churn — the write
  * amplification case, since every member of a moved component
  * relabels).
  *
  * Prints one JSON line per scenario:
  *   {"seed_labels":…,"batch_edges":…,"route":…,"maintain_sec":…,
  *    "contraction_rounds":…,"seg_len":…,"mismatches":0,"labels":…}
  *
  * Usage: runMain graft.tools.MaintainProbe [seedN] [distEdges] [drvEdges]
  */
object MaintainProbe {
  def main(args: Array[String]): Unit = {
    val seedN = args.lift(0).map(_.toLong).getOrElse(1000000L)
    val distEdges = args.lift(1).map(_.toLong).getOrElse(500000L)
    val drvEdges = args.lift(2).map(_.toLong).getOrElse(150000L)
    val segLen = 32L
    val spark = graft.core.GraftSession.builder("MaintainProbe").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._

    def num(v: Double): String =
      String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))

    // seed components of size 4: rep = id - id%4 (every rep is its
    // component's minimum, the maintained-table invariant)
    def seedLabels(): DataFrame = spark.range(0L, seedN)
      .select(col("id"), (col("id") - pmod(col("id"), lit(4L))).as("rep"))

    /** deterministic batch: chains over new ids + merges of existing
      * components (Knuth multiplicative hash, reproducible). */
    def batch(nEdges: Long): DataFrame = {
      val nChain = nEdges / 2
      val base = 4L * seedN // clear of every seed id
      // integer division: `/` on longs is DOUBLE division in Spark SQL
      val grp = floor(col("id") / segLen).cast("long")
      val off = pmod(col("id"), lit(segLen))
      val chain = spark.range(0L, nChain).select(
        (lit(base) + grp * (segLen + 1L) + off).as("keeperId"),
        (lit(base) + grp * (segLen + 1L) + off + 1L).as("dupId"))
      val nComp = seedN / 4L
      val merge = spark.range(0L, nEdges - nChain).select(
        (pmod(col("id") * 2654435761L, lit(nComp)) * 4L).as("keeperId"),
        (pmod((col("id") + 7919L) * 2246822519L, lit(nComp)) * 4L).as("dupId"))
      chain.unionByName(merge)
    }

    def scenario(name: String, nEdges: Long): Unit = {
      val work = Files.createTempDirectory(s"maintain_probe_$name")
      val store = s"$work/labels"
      DimStore.upsert(spark, store,
        seedLabels().withColumn("ver", lit(0L)), pk = "id",
        versionCol = "ver")
      val b = batch(nEdges)
      ConnectedComponents.lastRounds.remove()
      val t0 = System.nanoTime()
      StreamingClusters.updateBatchMaintained(store)(b, 1L)
      val sec = (System.nanoTime() - t0) / 1e9
      val rounds = ConnectedComponents.lastRounds.get() // -1 on driver route
      // full-recompute oracle: seed star edges ∪ batch edges
      val truthEdges = seedLabels()
        .select(col("id").as("a"), col("rep").as("b"))
        .unionByName(b.select(col("keeperId").as("a"), col("dupId").as("b")))
      val truth = ConnectedComponents.starContraction(truthEdges)
      val got = StreamingClusters.maintainedLabels(spark, store)
      val mism = got.select(col("id"), col("rep").as("__got"))
        .join(truth.select(col("id"), col("rep").as("__want")),
          Seq("id"), "full_outer")
        .filter(not(col("__got") <=> col("__want"))).count()
      val nLabels = got.count()
      truth.unpersist()
      println(s"""{"seed_labels":$seedN,"batch_edges":$nEdges,""" +
        s""""route":"$name","maintain_sec":${num(sec)},""" +
        s""""contraction_rounds":$rounds,"seg_len":$segLen,""" +
        s""""mismatches":$mism,"labels":$nLabels}""")
    }

    scenario("driver", drvEdges)       // under driverFoldMaxEdges
    scenario("distributed", distEdges) // above it: quotient contraction
    spark.stop()
  }
}
