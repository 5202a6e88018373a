package graft.tools

/** Dev-side isolated re-run of a handful of registry queries (NOT part
  * of the driver contract): the full Bench times 145 queries back to
  * back, so a single query's bimodal passes (x32 in BENCH_r13: 1.53 /
  * 10.78 / 9.19 s) can't be attributed — was it the query's plan, or
  * contention from the 144 neighbors' broadcast/shuffle/GC residue?
  *
  * This main runs ONLY the named queries, each for `passes` timed runs
  * in an otherwise idle JVM (same session config as Bench, same noop
  * materialization, same per-pass persisted-intermediate release), and
  * prints every sample. If the slow mode reproduces here, the query's
  * plan is unstable; if all passes sit at the historical level, the
  * full-bench outliers were neighborhood contention.
  *
  * Prints one JSON line:
  *   {"queries":{"x32":{"passes":[s1,…],"min":…,"max":…}},"sf":…}
  *
  * Usage: runMain graft.tools.IsolatedBench x32[,x30,…] [passes=5]
  */
object IsolatedBench {
  def main(args: Array[String]): Unit = {
    val wanted = args.headOption.getOrElse("x32").split(',').map(_.trim).toSeq
    val passes = args.lift(1).map(_.toInt).getOrElse(5)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.core.GraftSession.builder("IsolatedBench")
      .config("spark.cleaner.periodicGC.interval", "1min")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val qs = graft.queries.Registry.all.filter(q =>
      wanted.exists(w => q.name == w || q.name.startsWith(w + "_")))
    require(qs.nonEmpty, s"no registry query matches ${wanted.mkString(",")}")

    def runOnce(q: graft.queries.Q): Double = {
      val t0 = System.nanoTime()
      q.run(spark, sfDir).write.format("noop").mode("overwrite").save()
      val dt = (System.nanoTime() - t0) / 1e9
      graft.queries.Extensions.clearPersistedIntermediates()
      dt
    }
    def num(v: Double): String =
      String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))

    val out = qs.map { q =>
      runOnce(q) // warm-up, untimed
      val samples = (1 to passes).map { _ => System.gc(); runOnce(q) }
      s""""${q.name.split('_').head}":{"passes":[${samples.map(num).mkString(",")}],""" +
        s""""min":${num(samples.min)},"max":${num(samples.max)}}"""
    }.mkString(",")
    println(s"""{"queries":{$out},"passes":$passes,"sf":"$sfDir"}""")
    spark.stop()
  }
}
