package graft.tools

import java.nio.file.{Files, Path}

import org.apache.spark.sql.{DataFrame, Dataset, Row}
import org.apache.spark.sql.functions._

import graft.streaming.{FileTopic, StreamingClusters, StreamingNearDup}

/** Dev-side adjudication probe for the streaming dedup-cluster label
  * routes (NOT part of the driver contract): the StreamBench
  * `clusters` leg runs ~10 micro-batches and ONE end-of-stream labels
  * consultation — a shape that prices the MAINTAINED route's per-batch
  * quotient contraction against a single read-time contraction of the
  * JOURNAL route, i.e. the one workload where journal-at-write /
  * contract-at-read should look best. The maintained route's actual
  * argument is read-heavy serving: every consultation of the journal
  * route re-runs a full O(history) star contraction, while a
  * maintained consultation is a snapshot read. This probe measures the
  * crossover directly.
  *
  * Same corpus, same transport, same LSH pipeline as the StreamBench
  * clusters leg (shared [[graft.StreamBench.pageLogLines]] input, same
  * FileTopic replay, same StreamingNearDup banding), with R label
  * consultations INSIDE every micro-batch (the dashboard /
  * downstream-join shape — labels are consumed as they form, not once
  * at drain end). Per (route, R): wall seconds, events/sec, and the
  * distinct-components witness, which must agree across routes or the
  * comparison measured different answers.
  *
  * Usage: runMain graft.tools.ClustersReadBench [readsPerBatchCsv]
  *   e.g. runMain graft.tools.ClustersReadBench 0,1,4
  */
object ClustersReadBench {
  def main(args: Array[String]): Unit = {
    val readsList = args.headOption.getOrElse("0,1,4")
      .split(',').map(_.trim.toInt).toSeq
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.core.GraftSession.builder("ClustersReadBench")
      .config("spark.cleaner.periodicGC.interval", "1min")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._

    val work = Files.createTempDirectory("clusters_read_bench_")
    def deleteTree(p: Path): Unit = {
      import scala.jdk.CollectionConverters._
      if (Files.exists(p))
        Files.walk(p).iterator().asScala.toSeq.reverse.foreach(Files.delete)
    }
    try {
      // identical topic production to StreamBench (20 time-ordered
      // segments, maxFilesPerTrigger=2 → ~10 micro-batches)
      val topic = work.resolve("topic").toString
      val writeSegment: Iterator[String] => Unit = { it =>
        if (it.hasNext)
          FileTopic.produceStaged(topic,
            org.apache.spark.TaskContext.getPartitionId(), it)
      }
      graft.StreamBench.pageLogLines(spark, sfDir)
        .repartitionByRange(20, col("ts"))
        .sortWithinPartitions("ts")
        .select("line").as[String]
        .foreachPartition(writeSegment)
      FileTopic.publishStaged(topic)
      val nEvents = FileTopic.replay(spark, topic).count()

      def run(route: String, reads: Int): (Double, Long, Long) = {
        val dir = work.resolve(s"${route}_r$reads")
        Files.createDirectories(dir)
        val store = s"$dir/labels"
        var readsDone = 0L
        def consult(): Long = {
          val labels =
            if (route == "maintained")
              StreamingClusters.maintainedLabels(spark, store)
            else StreamingClusters.labels(spark, store)
          val n = labels.select(countDistinct(col("rep"))).head().getLong(0)
          labels.unpersist()
          readsDone += 1
          n
        }
        val raw = FileTopic.stream(spark, topic, maxFilesPerTrigger = Some(2))
        val docs = raw.select(xxhash64(col("value")).as("doc_id"),
          regexp_replace(col("value"), "[\\p{Punct}]+", " ").as("text"))
        val t0 = System.nanoTime()
        val q = StreamingNearDup(docs).toDF()
          .writeStream.queryName(s"${route}_r$reads")
          .option("checkpointLocation", s"$dir/chk")
          .foreachBatch { (batch: Dataset[Row], bid: Long) =>
            if (route == "maintained")
              StreamingClusters.updateBatchMaintained(store, nBuckets = 16)(
                batch.toDF(), bid)
            else
              StreamingClusters.updateBatch(store)(batch.toDF(), bid)
            (1 to reads).foreach(_ => consult())
          }.start()
        try q.processAllAvailable() finally q.stop()
        val witness = consult() // final consultation, inside the window
        val sec = (System.nanoTime() - t0) / 1e9
        deleteTree(dir)
        (sec, witness, readsDone)
      }

      def num(v: Double): String =
        String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
      val cells = for {
        reads <- readsList
        route <- Seq("journal", "maintained")
      } yield {
        val (sec, witness, readsDone) = run(route, reads)
        val line = s""""${route}_reads$reads":{"sec":${num(sec)},""" +
          s""""events_per_sec":${num(nEvents / sec)},""" +
          s""""witness_clusters":$witness,"consultations":$readsDone}"""
        println(s"# $line")
        line
      }
      println(s"""{"probe":"clusters_read_bench","events":$nEvents,""" +
        s""""sf":"$sfDir","cells":{${cells.mkString(",")}}}""")
    } finally {
      deleteTree(work)
      spark.stop()
    }
  }
}
