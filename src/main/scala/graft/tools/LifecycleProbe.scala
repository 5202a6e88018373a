package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}

/** Dev-side phase profiler for the three lifecycle-replay queries
  * (x95/x96/x97) — NOT part of the driver contract. They dominate the
  * r20 bench tail (x95 28.7 s / x96 9.2 s / x97 8.2 s in the opt-round
  * baseline window, 46 s of 200), and the full Bench cannot say which
  * PHASE pays: the ingest-prep collect, the streaming replay's
  * per-micro-batch floor, the DimStore upsert/delete commits, or the
  * read-side contraction. This main runs each query's phases under a
  * job-counting listener and prints per-phase wall + Spark job count.
  *
  * Usage: runMain graft.tools.LifecycleProbe [x95|x96|x97|all] [passes]
  */
object LifecycleProbe {
  def main(args: Array[String]): Unit = {
    val which = args.headOption.getOrElse("all")
    val passes = args.lift(1).map(_.toInt).getOrElse(2)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.core.GraftSession.builder("LifecycleProbe").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import org.apache.spark.sql.functions._

    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val verbose = sys.env.contains("SPARK_GRAFT_PROBE_VERBOSE")
    val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String)]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        jobs.incrementAndGet()
        if (verbose) jobStart.put(j.jobId, (System.nanoTime(),
          Option(j.properties.getProperty("spark.job.description"))
            .orElse(Option(j.properties.getProperty("callSite.short")))
            .getOrElse("?")))
        ()
      }
      override def onJobEnd(j: SparkListenerJobEnd): Unit = {
        if (verbose) Option(jobStart.remove(j.jobId)).foreach { case (t0, d) =>
          println(f"[job] ${j.jobId}%4d ${(System.nanoTime() - t0) / 1e3 / 1e3}%8.1f ms  $d")
        }
        ()
      }
    })
    def phase[A](name: String)(body: => A): A = {
      val j0 = jobs.get(); val t0 = System.nanoTime()
      val r = body
      val dt = (System.nanoTime() - t0) / 1e9
      println(f"[probe] $name%-28s ${dt}%8.3f s  jobs=${jobs.get() - j0}")
      r
    }
    def noop(df: org.apache.spark.sql.DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()

    val runsCtr = new java.util.concurrent.atomic.AtomicInteger(0)

    (1 to passes).foreach { p =>
      println(s"=== pass $p ===")
      if (which == "all" || which == "x95") {
        import spark.implicits._
        val nd = graft.core.Tables.load(spark, sfDir, "documents").count()
        val ingRows = phase("x95 prep collect") {
          graft.core.Tables.load(spark, sfDir, "events")
            .filter(col("event_id") % 13L === 0)
            .select((col("event_id") % nd).as("doc_id"),
              date_trunc("day", col("ts")).as("day"), col("ts"))
            .groupBy(col("doc_id"), col("day"))
            .agg(max(col("ts")).as("eventTime"))
            .join(graft.core.Tables.load(spark, sfDir, "documents")
              .select(col("doc_id"), col("text")), "doc_id")
            .select(col("day"), col("doc_id"), col("text"), col("eventTime"))
            .collect()
        }
        val batches = ingRows.groupBy(_.getTimestamp(0)).toSeq
          .sortBy(_._1.getTime)
          .map { case (_, rows) => rows.toSeq.map(r =>
            graft.streaming.IngestDoc(
              r.getLong(1), r.getString(2), r.getTimestamp(3))) }
        println(s"[probe] x95 batches=${batches.size} rows=${ingRows.length}")
        val parts = sys.env.get("SPARK_GRAFT_X95_PARTS").map(_.toInt)
        println(s"[probe] x95 statePartitions=$parts")
        val sink = phase("x95 replayWithTtl") {
          graft.streaming.StreamingNearDup.replayWithTtl(spark, batches,
            java.time.Duration.ofDays(5),
            sinkName = s"probe_x95_${runsCtr.incrementAndGet()}",
            statePartitions = parts)
        }
        phase("x95 sink distinct+sort") {
          noop(sink.select(col("keeperId"), col("dupId"), col("band"))
            .distinct().orderBy("keeperId", "dupId", "band"))
        }
      }
      if (which == "all" || which == "x96") {
        import spark.implicits._
        val pairs = phase("x96 pairs build") {
          val p = graft.queries.Extensions
            .neardupPairsProbe(spark, sfDir)
            .select(col("doc_a").as("keeperId"), col("doc_b").as("dupId"))
          p.count(); p
        }
        val store = java.nio.file.Files
          .createTempDirectory("probe_x96").toString + "/edges"
        phase("x96 updateBatch")(
          graft.streaming.StreamingClusters.updateBatch(store,
            nBuckets = graft.ops.DimStore.bucketsFor(pairs.count()))(
            pairs.toDF(), 0L))
        val ids = graft.core.Tables.load(spark, sfDir, "documents")
          .filter(col("doc_id") % 7 === 0).select(col("doc_id").as("id"))
        phase("x96 deleteNodes")(
          graft.streaming.StreamingClusters.deleteNodes(spark, store, ids))
        phase("x96 labels read") {
          noop(graft.streaming.StreamingClusters.labels(spark, store)
            .select(col("id").as("doc_id"), col("rep").as("cluster_rep"))
            .orderBy("doc_id"))
        }
        println(s"[probe] x96 contraction rounds=" +
          graft.ops.ConnectedComponents.lastRounds.get)
      }
      if (which == "all" || which == "x97") {
        import spark.implicits._
        val pairs = phase("x97 pairs build") {
          val p = graft.queries.Extensions
            .neardupPairsProbe(spark, sfDir)
            .select(col("doc_a").as("keeperId"), col("doc_b").as("dupId"))
          p.count(); p
        }
        val store = java.nio.file.Files
          .createTempDirectory("probe_x97").toString + "/labels"
        phase("x97 updateBatchMaintained")(
          graft.streaming.StreamingClusters.updateBatchMaintained(store,
            nBuckets = graft.ops.DimStore.bucketsFor(pairs.count()))(
            pairs.toDF(), 0L))
        val ids = graft.core.Tables.load(spark, sfDir, "documents")
          .filter(col("doc_id") % 7 === 0).select(col("doc_id").as("id"))
        phase("x97 deleteNodesMaintained")(
          graft.streaming.StreamingClusters.deleteNodesMaintained(
            spark, store, ids, batchId = 1L))
        phase("x97 maintainedLabels") {
          noop(graft.streaming.StreamingClusters.maintainedLabels(spark, store)
            .select(col("id").as("doc_id"), col("rep").as("cluster_rep"))
            .orderBy("doc_id"))
        }
      }
      graft.queries.Extensions.clearPersistedIntermediates()
    }
    spark.stop()
  }
}
