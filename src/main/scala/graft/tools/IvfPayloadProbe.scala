package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ops.IvfKit

/** Dev-side micro-probe (NOT part of the driver contract) for the ONE
  * open 100 TB question round 16 left on the native IVF/PQ kernels:
  * `functions.IvfCoarseRank` bakes the full nLists×dim centroid
  * payload into the expression node (`addReferenceObj` ships it inside
  * every stage's serialized plan, and Catalyst canonicalization /
  * `semanticEquals` walk the `IndexedSeq`s structurally). Measured
  * clean to nLists=64 × dim=64 (~32 KB — the fixtures' shape); a
  * production index at 4k lists × 1k dims is ~33 MB of plan payload
  * per stage. This probe prices exactly the terms that scale with the
  * payload, per (nLists, dim) combo — NOT recall (synthesized
  * centroids are fine for that):
  *
  *  - `ser_mb` / `ser_ms` / `deser_ms`: JavaSerializer round-trip of
  *    the expression node — the task-binary-broadcast proxy (the
  *    driver serializes the plan once per stage; every executor
  *    deserializes it once per task-set);
  *  - `canon_ms`: `expr.canonicalized` — paid once per plan-tree
  *    transform that rewrites the node;
  *  - `semeq_ms`: `semanticEquals` against a structurally-equal twin —
  *    what CSE / exchange-reuse pays PER CANDIDATE PAIR;
  *  - `plan_ms`: analysis+optimization+physical planning of a
  *    `select(ranked(keep=8))` over a real scan — the whole
  *    driver-side path a query pays before any task launches;
  *  - `job1_s` / `job2_s`: first (codegen compile + taskBinary
  *    broadcast) and second (steady-state) executions over `rows`
  *    vectors, and `ns_per_cell`: job2 wall normalized by
  *    rows·nLists·dim — flat ns_per_cell across combos means the
  *    per-row loop dominates and the payload terms stay noise.
  *
  * The decision rule (VERDICT r16 #1): if the payload terms
  * (ser/deser/canon/plan) grow SUPER-linearly in nLists·dim, or grow
  * to a fixed per-job cost that rivals the job itself, the payload
  * re-routes through a real `Broadcast` handle dereferenced in the
  * kernel; if they stay linear-and-small, the baked literal stands.
  *
  * Usage: runMain graft.tools.IvfPayloadProbe [combos]
  *   combos default "64x64,1024x256,1024x1024,4096x256,4096x1024"
  */
object IvfPayloadProbe {
  def main(args: Array[String]): Unit = {
    val combos = args.headOption
      .getOrElse("64x64,1024x256,1024x1024,4096x256,4096x1024")
      .split(",").toSeq.map { s =>
        val Array(nl, d) = s.split("x"); (nl.toInt, d.toInt)
      }
    val spark = graft.core.GraftSession.builder("IvfPayloadProbe").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    def num(v: Double) =
      String.format(java.util.Locale.ROOT, "%.2f", Double.box(v))

    combos.foreach { case (nLists, dim) =>
      // deterministic synthetic centroids — recall is out of scope,
      // payload SIZE is the subject
      val cents: Seq[(Long, Seq[Double])] = (0L until nLists.toLong).map(
        c => c -> Seq.tabulate(dim)(i => math.sin(c.toDouble * (i + 1) + i)))

      // --- driver-side terms on the expression node (round 17: the
      // payload rides a Broadcast handle, so ser/deser/canon/semeq
      // price the HANDLE; bcast_ms prices the one-per-query payload
      // write the handle replaces the per-stage shipping with) ---
      def timeMs[A](f: => A): (A, Double) = {
        val t0 = System.nanoTime(); val a = f
        (a, (System.nanoTime() - t0) / 1e6)
      }
      val (bc, bcastMs) = timeMs(
        spark.sparkContext.broadcast(graft.functions.IvfNative
          .centroidPayload(cents.map(_._1).toIndexedSeq,
            cents.map(_._2.toIndexedSeq).toIndexedSeq)))
      val mkExpr = () => graft.functions.IvfCoarseRank(
        org.apache.spark.sql.catalyst.expressions.BoundReference(0,
          org.apache.spark.sql.types.ArrayType(
            org.apache.spark.sql.types.DoubleType), nullable = true),
        bc, keep = 8)
      val e1 = mkExpr(); val e2 = mkExpr()
      val (bytes, serMs) = timeMs {
        val bo = new java.io.ByteArrayOutputStream()
        val oo = new java.io.ObjectOutputStream(bo)
        oo.writeObject(e1); oo.close(); bo.toByteArray
      }
      val (_, deserMs) = timeMs {
        new java.io.ObjectInputStream(
          new java.io.ByteArrayInputStream(bytes)).readObject()
      }
      val (_, canonMs) = timeMs(e1.canonicalized)
      val (semeq, semeqMs) = timeMs(e1.semanticEquals(e2))
      require(semeq, "same-broadcast kernels must be semanticEquals")

      // --- plan + execution over a real scan ---
      def vecs(n: Long): DataFrame =
        spark.range(n).select(col("id").as("vec_id"),
          transform(sequence(lit(1), lit(dim)),
            i => sin(col("id") * i + i)).as("v"))
      // size rows so job2 does ~2e9 multiply-adds — comparable wall
      // across combos, payload terms left as the visible variable
      val rows = math.max(5000L,
        math.min(200000L, 2000000000L / (nLists.toLong * dim)))
      val q = vecs(rows).select(col("vec_id"),
        element_at(IvfKit.ranked(cents, col("v"), keep = 8), 1)
          .getField("nid").as("top"))
      val (_, planMs) = timeMs(q.queryExecution.executedPlan)
      def runOnce(): Double = {
        val t0 = System.nanoTime()
        q.agg(sum(col("top"))).collect()
        (System.nanoTime() - t0) / 1e9
      }
      val job1 = runOnce()
      val job2 = runOnce()
      val nsPerCell = job2 * 1e9 / (rows.toDouble * nLists * dim)
      println(s"""{"probe":"ivf_payload","n_lists":$nLists,"dim":$dim,""" +
        s""""handle_kb":${num(bytes.length / 1024.0)},""" +
        s""""bcast_ms":${num(bcastMs)},""" +
        s""""ser_ms":${num(serMs)},"deser_ms":${num(deserMs)},""" +
        s""""canon_ms":${num(canonMs)},"semeq_ms":${num(semeqMs)},""" +
        s""""plan_ms":${num(planMs)},"rows":$rows,""" +
        s""""job1_s":${num(job1)},"job2_s":${num(job2)},""" +
        s""""ns_per_cell":${num(nsPerCell)}}""")
    }
    spark.stop()
  }
}
