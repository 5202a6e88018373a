package graft.tools

/** Dev-side calibration for MANY-SMALL-JOB queries (NOT part of the
  * driver contract). The x32 anchor calibrates DATA-BOUND drift between
  * sessions (one shuffle, wall ∝ rows scanned), but queries like the
  * BPE family (x83/x84/x85) run ~12 tiny Spark jobs whose wall is
  * mostly job-scheduling latency — a per-job overhead shift between
  * sessions moves their floor while leaving the data-bound anchor flat,
  * which is exactly the ambiguity round 16/17 hit adjudicating x85.
  * This probe prices the per-job term directly: `passes` rounds of
  * `jobs` back-to-back trivial actions (a 1e6-range sum — enough work
  * to schedule real tasks on every core, little enough that scheduling
  * dominates), reporting per-job wall. Read x85 drift as
  * (x85 / (x32-normalized data term + jobs × per-job term)) — if
  * per-job moved, the BPE floor moves with it on untouched code.
  *
  * Usage: runMain graft.tools.JobOverheadProbe [jobs] [passes]
  */
object JobOverheadProbe {
  def main(args: Array[String]): Unit = {
    val jobs = args.headOption.map(_.toInt).getOrElse(12)
    val passes = args.lift(1).map(_.toInt).getOrElse(5)
    val spark = graft.core.GraftSession.builder("JobOverheadProbe").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._
    // warm-up: JIT + codegen for the probe shape itself
    (1 to 3).foreach(_ => spark.range(1000000L).as[Long].reduce(_ + _))
    val perPass = (1 to passes).map { _ =>
      val t0 = System.nanoTime()
      (1 to jobs).foreach(_ => spark.range(1000000L).as[Long].reduce(_ + _))
      (System.nanoTime() - t0) / 1e9
    }
    def num(v: Double) =
      String.format(java.util.Locale.ROOT, "%.4f", Double.box(v))
    println(s"""{"probe":"job_overhead","jobs":$jobs,"passes":$passes,""" +
      s""""pass_s":[${perPass.map(num).mkString(",")}],""" +
      s""""per_job_ms_min":${num(perPass.min / jobs * 1000)},""" +
      s""""per_job_ms_median":${num(perPass.sorted.apply(passes / 2) / jobs * 1000)}}""")
    spark.stop()
  }
}
