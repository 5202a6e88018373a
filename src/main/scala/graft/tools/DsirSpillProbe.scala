package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Dev-side probe (NOT part of the shipped library) for x90's one
  * super-linear decade: the round-17 growth curve read 4.2× / 10.2× /
  * 3.8× per 10× docs, with the ×100 step crossing the per-doc feature
  * matrix's MEMORY_AND_DISK spill threshold. This measures the three
  * candidate shapes of that matrix at the spill-binding corpus:
  *
  *  - `mem_disk`  — the shipped shape: matrix persisted
  *                  MEMORY_AND_DISK, read by BOTH consumers (bucket
  *                  ratio train + per-doc scoring);
  *  - `disk_only` — same persist, DISK_ONLY: skips the fill-then-evict
  *                  churn of a cache that cannot fit anyway;
  *  - `two_pass`  — no persist: each consumer recomputes the narrow
  *                  bigram-explode + md5 lineage (the pre-round-17
  *                  "first cut" that lost 1.44× at ×10 — the question
  *                  is whether spill inverts that above the threshold).
  *
  * All three produce bit-identical top-100 selections (asserted on the
  * first pass). Prints one JSON line with per-shape pass times.
  *
  * Usage:
  *   SPARK_GRAFT_SF_DIR=<corpus dir> runMain graft.tools.DsirSpillProbe [passes=2]
  */
object DsirSpillProbe {
  private val B = 4096L

  /** The x90 pipeline with the matrix shape under test — same operator
    * chain as Extensions.x90 (shared DsirGate.bucketCounts featurizer,
    * same exact-integer ratio, same top-K), matrix handling swapped. */
  private def select100(spark: SparkSession, dir: String,
                        shape: String): (Array[String], () => Unit) = {
    val raw = graft.core.Tables.load(spark, dir, "documents")
      .select(col("doc_id"), col("lang"), col("text"))
    val mat0 = graft.streaming.DsirGate.bucketCounts(raw, B)
    val mat = shape match {
      case "mem_disk"  => mat0.persist(StorageLevel.MEMORY_AND_DISK)
      case "disk_only" => mat0.persist(StorageLevel.DISK_ONLY)
      case "two_pass"  => mat0
    }
    val buckets = spark.range(B).select(col("id").as("b"))
      .join(mat.groupBy(col("b")).agg(
        sum(col("cnt")).as("c_r0"),
        sum(when(col("lang") === "en", col("cnt")).otherwise(0L)).as("c_t0")),
        Seq("b"), "left")
      .select(col("b"), coalesce(col("c_r0"), lit(0L)).as("c_r"),
        coalesce(col("c_t0"), lit(0L)).as("c_t"))
    val totals = buckets.agg(sum(col("c_r")).as("n_r"), sum(col("c_t")).as("n_t"))
    val ratio = buckets.crossJoin(broadcast(totals))
      .withColumn("r_ppm", expr(
        s"cast(1000000 as decimal(38,0)) * (c_t + 1) * (n_r + $B) div " +
        s"(cast(c_r + 1 as decimal(38,0)) * (n_t + $B))"))
      .select(col("b"), col("r_ppm"))
    val out = mat.join(broadcast(ratio), Seq("b"))
      .groupBy(col("doc_id"), col("lang"))
      .agg(sum(col("cnt")).as("n_bigrams"),
        expr("sum(cnt * r_ppm) div sum(cnt)").as("score_ppm"))
      .orderBy(col("score_ppm").desc, col("doc_id").asc)
      .limit(100)
      .collect().map(_.toString)
    (out, () => { mat.unpersist(true); () })
  }

  def main(args: Array[String]): Unit = {
    val passes = args.headOption.map(_.toInt).getOrElse(2)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.core.GraftSession.builder("DsirSpillProbe").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val shapes = Seq("registry", "mem_disk", "disk_only", "two_pass")
    def runShape(shape: String): (Seq[String], Double) = {
      val t0 = System.nanoTime()
      val (rows, release) =
        if (shape == "registry") {
          val r = graft.queries.Extensions.x90.run(spark, sfDir)
            .collect().map(_.toString).toSeq
          (r, () => graft.queries.Extensions.clearPersistedIntermediates())
        } else {
          val (r, rel) = select100(spark, sfDir, shape)
          (r.toSeq, rel)
        }
      val dt = (System.nanoTime() - t0) / 1e9
      release()
      (rows, dt)
    }
    // one untimed warmup so JIT/codegen compilation is not billed to
    // whichever shape happens to run first (the pass-1-vs-2 deltas
    // without it were 3x on the leading shape)
    runShape("two_pass")
    var reference: Option[Seq[String]] = None
    // rotate shape order per pass so window drift cannot bias one shape
    val samples = (0 until passes).flatMap { p =>
      val order = shapes.drop(p % shapes.size) ++ shapes.take(p % shapes.size)
      order.map { shape =>
        val (rows, dt) = runShape(shape)
        reference match {
          case None => reference = Some(rows)
          case Some(ref) => require(rows == ref,
            s"shape $shape diverged from reference selection")
        }
        shape -> dt
      }
    }
    val results = shapes.map(s =>
      s -> samples.collect { case (`s`, dt) => dt })
    def num(v: Double) =
      String.format(java.util.Locale.ROOT, "%.2f", Double.box(v))
    val json = results.map { case (shape, ts) =>
      s""""$shape":{"passes":[${ts.map(num).mkString(",")}],"min":${num(ts.min)}}"""
    }.mkString(",")
    println(s"""{"probe":"dsir_spill","sf":"$sfDir","identical":true,$json}""")
    spark.stop()
  }
}
