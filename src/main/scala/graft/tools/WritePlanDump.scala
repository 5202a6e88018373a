package graft.tools

import org.apache.spark.scheduler.SparkListener
import org.apache.spark.sql.execution.ui.{SparkListenerSQLAdaptiveExecutionUpdate, SparkListenerSQLExecutionStart}

/** Dev-side WRITE-path plan evidence (NOT driver contract) — the r20
  * VERDICT's item 7: a claim about a writer must be backed by the
  * WRITE JOB's executed plan, not the result frame's (whose `.explain`
  * is a vacuous LocalTableScan of the final probe row). This runs the
  * named queries under a CONTEXT-level SQL listener — so it sees every
  * execution on every session, including the store machinery's private
  * commit sessions — and dumps the physical plan of each WRITE action
  * (parquet generation writes, swap-ins), Exchange nodes and all, to
  * `<outDir>/<name>_writes_<tag>.txt`. AQE plan updates overwrite the
  * initial capture, so adaptive writes show their final shape.
  *
  * Usage: runMain graft.tools.WritePlanDump <outDir> <tag> <name>[,…]
  */
object WritePlanDump {
  def main(args: Array[String]): Unit = {
    val outDir = args(0)
    val tag = args(1)
    val names = args(2).split(',').map(_.trim).toSet
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.core.GraftSession.builder("WritePlanDump").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))

    def isWrite(desc: String): Boolean =
      desc.contains("InsertIntoHadoopFsRelation") ||
        desc.contains("WriteFiles") ||
        desc.contains("SaveIntoDataSourceCommand")

    val plans =
      new java.util.concurrent.ConcurrentSkipListMap[Long, String]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onOtherEvent(
          event: org.apache.spark.scheduler.SparkListenerEvent): Unit =
        event match {
          case s: SparkListenerSQLExecutionStart
              if isWrite(s.physicalPlanDescription) =>
            plans.put(s.executionId, s.physicalPlanDescription); ()
          case u: SparkListenerSQLAdaptiveExecutionUpdate
              if plans.containsKey(u.executionId) =>
            plans.put(u.executionId, u.physicalPlanDescription); ()
          case _ => ()
        }
    })

    val sel = graft.queries.Registry.all.filter(q =>
      names.exists(w => q.name == w || q.name.startsWith(w + "_")))
    sel.foreach { q =>
      plans.clear()
      q.run(spark, sfDir).write.format("noop").mode("overwrite").save()
      // listener events are async; a short settle beats reaching into
      // the private bus API for a dev tool
      Thread.sleep(500)
      import scala.jdk.CollectionConverters._
      val body = plans.asScala.map { case (id, p) =>
        s"=== write execution $id ===\n$p\n"
      }.mkString("\n")
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(outDir, s"${q.name}_writes_$tag.txt"),
        if (body.nonEmpty) body else "(no write actions captured)\n")
      println(s"[writeplandump] ${q.name}: ${plans.size} write plans " +
        s"-> $outDir/${q.name}_writes_$tag.txt")
      graft.queries.Extensions.clearPersistedIntermediates()
    }
    spark.stop()
  }
}
