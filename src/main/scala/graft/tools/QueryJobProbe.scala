package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}

/** Dev-side per-job breakdown of ANY registry query (NOT part of the
  * driver contract): runs the named queries under the bench harness's
  * session config and prints every Spark job's wall + call site for the
  * LAST (warm) pass — the direct "where do the ~50 ms-floor jobs come
  * from" view LifecycleProbe gives the lifecycle family.
  *
  * Usage: runMain graft.tools.QueryJobProbe <name>[,<name>…] [passes=2]
  */
object QueryJobProbe {
  def main(args: Array[String]): Unit = {
    val wanted = args.headOption.getOrElse("x85").split(',').map(_.trim).toSeq
    val passes = args.lift(1).map(_.toInt).getOrElse(2)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.core.GraftSession.builder("QueryJobProbe").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    @volatile var verbose = false
    @volatile var lastEnd = 0L
    val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String)]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        if (verbose) {
          val gap = if (lastEnd == 0) 0.0 else (System.nanoTime() - lastEnd) / 1e6
          val site = j.stageInfos.lastOption.map(_.name).getOrElse("?")
          jobStart.put(j.jobId, (System.nanoTime(), f"gap=$gap%7.1f ms  $site"))
        }
        ()
      }
      override def onJobEnd(j: SparkListenerJobEnd): Unit = {
        if (verbose) {
          lastEnd = System.nanoTime()
          Option(jobStart.remove(j.jobId)).foreach { case (t0, d) =>
            println(f"[job] ${j.jobId}%4d ${(System.nanoTime() - t0) / 1e6}%8.1f ms  $d")
          }
        }
        ()
      }
    })

    val qs = graft.queries.Registry.all.filter(q =>
      wanted.exists(w => q.name == w || q.name.startsWith(w + "_")))
    require(qs.nonEmpty, s"no registry query matches ${wanted.mkString(",")}")

    qs.foreach { q =>
      (1 to passes).foreach { p =>
        verbose = p == passes
        if (verbose) println(s"=== ${q.name} pass $p (verbose) ===")
        val t0 = System.nanoTime()
        q.run(spark, sfDir).write.format("noop").mode("overwrite").save()
        println(f"[query] ${q.name} pass $p  ${(System.nanoTime() - t0) / 1e9}%.3f s")
        graft.queries.Extensions.clearPersistedIntermediates()
      }
    }
    spark.stop()
  }
}
