package graft.tools

/** Dev profiler: re-run named queries under the bench harness's exact
  * conditions (forked JVM, noop sink, warm session) and print per-run
  * timings plus the formatted plan. Not part of the driver contract —
  * this is the `.explain`-and-iterate loop the scale notes call for.
  *
  * Usage: runMain graft.tools.Profile <sfDir> <nRuns> <name>[,<name>...]
  *        (pass "all" to profile everything; add "+explain" to dump plans)
  */
object Profile {
  def main(args: Array[String]): Unit = {
    // flags ("+explain", "+nosort") may appear in any position; only the
    // non-flag args are positional, so `Profile dir 3 +explain` works
    val (flags, positional) = args.partition(_.startsWith("+"))
    val sfDir = positional.headOption.getOrElse("/root/testdata/sf0.1")
    val nRuns = positional.lift(1).map(_.toInt).getOrElse(3)
    val names = positional.lift(2).getOrElse("all")
    val explain = flags.contains("+explain")
    val spark = graft.core.GraftSession.builder("Profile").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val selected =
      if (names == "all") graft.queries.Registry.all
      else {
        val want = names.split(',').toSet
        val sel = graft.queries.Registry.all.filter(q => want(q.name))
        val missing = want -- sel.map(_.name).toSet
        if (missing.nonEmpty)
          System.err.println(s"[profile] WARNING: no query named ${missing.mkString(", ")}")
        sel
      }
    // +nosort: A/B-measure the cost of a final global Sort (range
    // sampling re-executes the upstream pipeline) by stripping it.
    val noSort = flags.contains("+nosort")
    def build(q: graft.queries.Q) = {
      val df = q.run(spark, sfDir)
      if (!noSort) df
      else df.queryExecution.logical match {
        case org.apache.spark.sql.catalyst.plans.logical.Sort(_, true, child, _) =>
          org.apache.spark.sql.GraftPlanBridge.ofRows(spark, child)
        case _ => df
      }
    }
    selected.foreach { q =>
      val times = (1 to nRuns).map { _ =>
        val t0 = System.nanoTime()
        build(q).write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }
      println(f"[profile] ${q.name}%-28s ${times.map(t => f"$t%.2f").mkString(" ")}")
      if (explain) build(q).explain("formatted")
    }
    spark.stop()
  }
}
