package graft.tools

import java.nio.file.Files

import org.apache.spark.sql.functions._

/** Dev-side ANN-index maintenance probe (NOT part of the driver
  * contract): prices keeping the persisted IVFADC index fresh per
  * ingest batch against rebuilding it from scratch — the measurement
  * behind ops/AnnIndex's existence. A corpus of N synthetic 64-dim
  * vectors is indexed once (train + full encode + store build); then
  * one batch of B new vectors is appended incrementally (frozen-model
  * encode + O(touched buckets) merge) and, for comparison, the full
  * N+B corpus is rebuilt. Prints one JSON line.
  *
  * Usage: runMain graft.tools.AnnIndexProbe [nRows] [batchRows]
  */
object AnnIndexProbe {
  def main(args: Array[String]): Unit = {
    val n = args.headOption.map(_.toLong).getOrElse(200000L)
    val b = args.lift(1).map(_.toLong).getOrElse(math.max(1L, n / 100))
    val spark = graft.core.GraftSession.builder("AnnIndexProbe").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val work = Files.createTempDirectory("ann_probe_")

    // deterministic synthetic 64-dim vectors — no RNG, reproducible
    def vecs(from: Long, until: Long) =
      spark.range(from, until).select(col("id").as("vec_id"),
        transform(sequence(lit(1), lit(64)),
          i => sin(col("id") * i + i)).as("v"))
    val corpus = vecs(0L, n).persist()
    val batch = vecs(n, n + b).persist()
    corpus.count(); batch.count()

    def timed[A](f: => A): (A, Double) = {
      val t0 = System.nanoTime()
      val a = f
      (a, (System.nanoTime() - t0) / 1e9)
    }
    val cents = Seq(10L, 20L, 30L, 40L)
    val (_, buildSec) = timed {
      graft.ops.AnnIndex.build(spark, s"$work/idx", corpus, "vec_id", "v",
        centroidIds = cents, dim = 64, m = 8, k = 16, rounds = 1,
        nBuckets = 64)
    }
    val (_, appendSec) = timed {
      graft.ops.AnnIndex.append(spark, s"$work/idx", batch, "vec_id", "v",
        ver = 2L)
    }
    val (_, rebuildSec) = timed {
      graft.ops.AnnIndex.build(spark, s"$work/idx_full",
        corpus.unionByName(batch), "vec_id", "v",
        centroidIds = cents, dim = 64, m = 8, k = 16, rounds = 1,
        nBuckets = 64)
    }
    val rows = graft.ops.AnnIndex.codes(spark, s"$work/idx").count()
    def num(v: Double) =
      String.format(java.util.Locale.ROOT, "%.2f", Double.box(v))
    println(s"""{"probe":"ann_index_maint","n":$n,"batch":$b,""" +
      s""""build_sec":${num(buildSec)},"append_sec":${num(appendSec)},""" +
      s""""rebuild_sec":${num(rebuildSec)},"speedup_vs_rebuild":${
        num(rebuildSec / appendSec)},"indexed_rows":$rows}""")
    spark.stop()
  }
}
