package graft.tools

/** Dev-side plan-dump helper (NOT driver contract): writes each named
  * query's `.explain("formatted")` output to `<outDir>/<name>_<tag>.txt`
  * under the bench harness's session config — the judge-facing
  * before/after evidence files under plans/rNN/.
  *
  * Usage: runMain graft.tools.PlanDump <outDir> <tag> <name>[,<name>…]
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val outDir = args(0)
    val tag = args(1)
    val names = args(2).split(',').map(_.trim).toSet
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.core.GraftSession.builder("PlanDump").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    val sel = graft.queries.Registry.all.filter(q =>
      names.exists(w => q.name == w || q.name.startsWith(w + "_")))
    sel.foreach { q =>
      val df = q.run(spark, sfDir)
      val plan = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(outDir, s"${q.name}_$tag.txt"), plan)
      println(s"[plandump] ${q.name} -> $outDir/${q.name}_$tag.txt " +
        s"(${plan.linesIterator.size} lines)")
      graft.queries.Extensions.clearPersistedIntermediates()
    }
    spark.stop()
  }
}
