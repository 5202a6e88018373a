package perfbench

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._

import graft.ops.DimStore
import graft.streaming.{BounceDetector, DedupDaily, FileTopic, Jobs, PageLog, Sources,
  StreamingClusters, StreamingNearDup}

/** The streaming half of `stream_store`: a backlog of page-log lines in a [[FileTopic]] is
  * drained, one segment per micro-batch, through four topologies in
  * turn — `split`, `uv_dim`, `bounce` and `clusters`. A drain is how a
  * Kafka consumer catches up. Set-up produces the topic; the seed picks
  * where the time-ordered lines are cut into segments.
  *
  * One operation is one micro-batch; its latency is the batch's
  * `triggerExecution` from the query's own progress reports.
  */
final class StreamWorkload(a: Main.Args) extends Workload {
  import StreamWorkload._

  private val topic = a.work.resolve("topic").toString
  private val segments = a.scaled(Segments)
  private val legsDir = a.work.resolve("legs")
  private var nLines = 0L

  def setup(spark: SparkSession, tr: Trace): Unit = {
    val lines = tr.span("core.fixture_load") {
      val l = pageLogLines(spark, a.data).persist()
      nLines = l.count()
      l
    }
    tr.span("streaming.filetopic.produce") { produce(spark, lines) }
    lines.unpersist(blocking = true)
  }

  /** Drain the topic's first segment, copied to a topic of its own,
    * through every leg once. */
  override def warmup(spark: SparkSession): Unit = {
    val warm = a.work.resolve("warmup")
    val first = Files.list(java.nio.file.Paths.get(topic)).toArray.map(_.asInstanceOf[java.nio.file.Path])
      .filter(_.getFileName.toString.endsWith(".txt"))
      .minBy(p => Files.getLastModifiedTime(p).toMillis)
    Files.createDirectories(warm.resolve("topic"))
    Files.copy(first, warm.resolve("topic").resolve(first.getFileName))
    Legs.foreach(leg => drain(spark, leg, warm.resolve("topic").toString,
      warm.resolve(leg).toString, new Ops, new Trace(false)))
    Files2.deleteTree(warm)
  }

  /** Cut the time-ordered lines into `segments` segments at seed-chosen
    * points and publish each as one topic segment. */
  private def produce(spark: SparkSession, lines: DataFrame): Unit = {
    Files2.deleteTree(java.nio.file.Paths.get(topic))
    val rnd = new scala.util.Random(a.seed)
    // cut points: each segment gets between 3/4 and 5/4 of an even share
    val weights = Seq.fill(segments)(0.75 + 0.5 * rnd.nextDouble())
    val cum = weights.scanLeft(0.0)(_ + _).tail.map(_ / weights.sum)
    val bounds = cum.map(f => math.round(f * nLines)).toArray
    val seg = udf((i: Long) => java.util.Arrays.binarySearch(bounds, i + 1) match {
      case k if k >= 0 => k
      case k => -k - 1
    })
    import spark.implicits._
    val dir = topic // the closure below must not capture the workload
    lines.withColumn("i", row_number().over(
        org.apache.spark.sql.expressions.Window.orderBy("ts", "event_id")) - 1)
      .select(seg(col("i")), col("i"), col("line")).as[(Int, Long, String)].rdd
      .map { case (s, i, l) => s -> (i, l) }
      .partitionBy(new org.apache.spark.HashPartitioner(segments)) // segment k → partition k
      .foreachPartition { it =>
        val rows = it.toVector.sortBy(_._2._1)
        if (rows.nonEmpty) FileTopic.produceStaged(dir, rows.head._1, rows.iterator.map(_._2._2))
      }
    FileTopic.publishStaged(topic)
  }

  def run(spark: SparkSession, ops: Ops, tr: Trace): Unit = {
    Files2.deleteTree(legsDir)
    legRows.clear()
    Legs.foreach(leg => tr.span(s"leg:$leg") {
      drain(spark, leg, topic, legsDir.resolve(leg).toString, ops, tr)
      Jvm.checkpoint()
    })
  }

  /** Drain the topic through one leg; one op per micro-batch. */
  private def drain(spark: SparkSession, leg: String, topic: String, dir: String, ops: Ops,
                    tr: Trace): Unit = {
    Files.createDirectories(java.nio.file.Paths.get(dir))
    val src = FileTopic.stream(spark, topic, maxFilesPerTrigger = Some(1))
    def sink[T](f: (Dataset[T], Long) => Unit): (Dataset[T], Long) => Unit =
      (b, id) => tr.span(s"streaming.$leg.sink")(f(b, id))
    val q: StreamingQuery = leg match {
      case "split" =>
        src.writeStream.queryName(leg).option("checkpointLocation", s"$dir/chk")
          .foreachBatch(sink[Row] { (batch, _) =>
            val b = batch.cache()
            try {
              val st = Jobs.baseLogSplit(b.toDF(), LogSchema)
              st.dirty.write.mode("append").parquet(s"$dir/dirty")
              st.err.write.mode("append").parquet(s"$dir/err")
              st.start.write.mode("append").parquet(s"$dir/start")
              st.page.write.mode("append").parquet(s"$dir/page")
              st.display.write.mode("append").parquet(s"$dir/display")
            } finally { b.unpersist(); () }
          }).start()
      case "uv_dim" =>
        DedupDaily(pages(src).filter((e: PageLog) => e.lastPageId.isEmpty))
          .writeStream.queryName(leg).option("checkpointLocation", s"$dir/chk")
          .foreachBatch(sink[PageLog] { (batch, _) =>
            DimStore.upsert(batch.sparkSession, s"$dir/uv_dim", batch.toDF(),
              pk = "mid", versionCol = "ts", nBuckets = 16)
          }).start()
      case "bounce" =>
        BounceDetector(pages(src))
          .writeStream.queryName(leg).option("checkpointLocation", s"$dir/chk")
          .foreachBatch(sink[graft.streaming.Bounce] { (batch, _) =>
            batch.write.mode("append").parquet(s"$dir/bounces")
          }).start()
      case "clusters" =>
        val docs = src.select(xxhash64(col("value")).as("doc_id"),
          regexp_replace(col("value"), "[\\p{Punct}]+", " ").as("text"))
        StreamingNearDup(docs).toDF()
          .writeStream.queryName(leg).option("checkpointLocation", s"$dir/chk")
          .foreachBatch(sink[Row] { (batch, bid) =>
            StreamingClusters.updateBatchMaintained(s"$dir/labels", nBuckets = 16)(batch.toDF(), bid)
          }).start()
    }
    try q.processAllAvailable()
    catch {
      case e: Throwable if Ops.recoverable(e) =>
        ops.attempted += 1 // the batch that failed
        ops.fail(leg, e)
    } finally q.stop()
    // one op per micro-batch: its triggerExecution, from the query's
    // own progress (no listener needed with tracing off)
    q.recentProgress.filter(_.numInputRows > 0).foreach { p =>
      ops.attempted += 1
      ops.sample(s"batch:$leg", p.durationMs.get("triggerExecution").doubleValue)
      legRows(leg) = legRows.getOrElse(leg, 0L) + p.numInputRows
    }
  }
  private val legRows = scala.collection.mutable.Map.empty[String, Long]

  private def pages(raw: DataFrame): Dataset[PageLog] = {
    import raw.sparkSession.implicits._
    Sources.parseJson(raw, LogSchema)
      .filter(col("parsed").isNotNull && col("parsed.mid").isNotNull)
      .select(col("parsed.mid").as("mid"), col("parsed.page_id").as("pageId"),
        col("parsed.last_page_id").as("lastPageId"), col("parsed.ts").as("ts"),
        lit("0").as("isNew"), timestamp_millis(col("parsed.ts")).as("eventTime"))
      .as[PageLog]
  }

  override def layerMetrics(tr: Trace, m: Metrics): Unit =
    m.put("streaming.filetopic.produce_ms", tr.medianMs("streaming.filetopic.produce"), "ms")

  /** Row counts per leg against counts derived from the input's own
    * construction, plus the clusters witness. */
  def check(spark: SparkSession, ops: Ops): Unit = {
    def expect(what: String, got: Long, want: Long): Unit =
      if (got != want) ops.fail(what,
        new IllegalStateException(s"$what: got $got, expected $want"))
    Legs.foreach(leg => expect(s"$leg.input_rows", legRows.getOrElse(leg, 0L), nLines))
    val ev = expectedCounts(spark, a.data)
    val d = legsDir.resolve("split").toString
    def rows(p: String) =
      if (Files.exists(java.nio.file.Paths.get(p))) spark.read.parquet(p).count() else 0L
    Seq("dirty", "err", "start", "page", "display").foreach(k =>
      expect(s"split.$k", rows(s"$d/$k"), ev(k)))
    expect("uv_dim.rows",
      DimStore.read(spark, legsDir.resolve("uv_dim").resolve("uv_dim").toString).count(),
      ev("entry_mids"))
    val bounces = rows(legsDir.resolve("bounce").resolve("bounces").toString)
    if (bounces <= 0 || bounces > ev("entries")) ops.fail("bounce.rows",
      new IllegalStateException(s"bounce.rows: $bounces outside (0, ${ev("entries")}]"))
    val found = StreamingClusters.maintainedLabels(spark, legsDir.resolve("clusters").resolve("labels").toString)
      .select(countDistinct(col("rep"))).head().getLong(0)
    expect("clusters.clusters_found", found, ev("clusters_found"))
  }
}

object StreamWorkload {
  val Legs: Seq[String] = Seq("split", "uv_dim", "bounce", "clusters")
  /** Topic segments (= micro-batches per leg) at the nominal `--seconds`. */
  val Segments = 3

  val LogSchema: StructType = StructType(Seq(
    StructField("mid", StringType),
    StructField("page_id", StringType),
    StructField("last_page_id", StringType),
    StructField("ts", LongType),
    StructField("err", StringType),
    StructField("start", StringType),
    StructField("displays", ArrayType(StructType(Seq(
      StructField("pos", IntegerType), StructField("item", StringType)))))))

  /** The page-log corpus: one JSON line per `events` row — mid from
    * user_id (5k devices), every third event a session entry, a
    * sprinkle of err/start records, display arrays on every 11th page,
    * and every 97th line corrupt so the dirty diversion does work.
    * Columns (event_id, ts, line). */
  def pageLogLines(spark: SparkSession, dir: String): DataFrame =
    graft.core.Tables.load(spark, dir, "events")
      .select(col("event_id"), unix_millis(col("ts")).as("ts"),
        concat(lit("m"), pmod(col("user_id"), lit(5000))).as("mid"),
        col("event_type").as("page_id"),
        when(pmod(col("event_id"), lit(3)) === 0, lit(null).cast("string"))
          .otherwise(lit("prev")).as("last_page_id"))
      .select(col("event_id"), col("ts"), to_json(struct(col("mid"), col("page_id"),
        col("last_page_id"), col("ts"),
        when(pmod(col("event_id"), lit(41)) === 0, lit("boom")).as("err"),
        when(pmod(col("event_id"), lit(37)) === 0, lit("cold")).as("start"),
        when(pmod(col("event_id"), lit(11)) === 0,
          array(struct(lit(0).as("pos"), col("page_id").as("item")),
            struct(lit(1).as("pos"), lit("ad").as("item"))))
          .as("displays"))).as("line"))
      .select(col("event_id"), col("ts"),
        when(pmod(col("event_id"), lit(97)) === 0,
          concat(lit("!!not-json!!"), col("line"))).otherwise(col("line")).as("line"))

  /** Expected per-leg counts, from the corpus construction rules alone. */
  def expectedCounts(spark: SparkSession, dir: String): Map[String, Long] = {
    val e = graft.core.Tables.load(spark, dir, "events")
      .select(col("event_id"), pmod(col("user_id"), lit(5000)).as("mid"))
    def m(k: Int) = pmod(col("event_id"), lit(k)) === 0
    val clean = !m(97)
    val r = e.agg(
      sum(when(m(97), 1).otherwise(0)).as("dirty"),
      sum(when(clean && m(41), 1).otherwise(0)).as("err"),
      sum(when(clean && !m(41) && m(37), 1).otherwise(0)).as("start"),
      sum(when(clean && !m(41) && !m(37), 1).otherwise(0)).as("page"),
      sum(when(clean && !m(41) && !m(37) && m(11), 2).otherwise(0)).as("display"),
      sum(when(clean && m(3), 1).otherwise(0)).as("entries"),
      countDistinct(when(clean && m(3), col("mid"))).as("entry_mids")).head()
    Seq("dirty", "err", "start", "page", "display", "entries", "entry_mids")
      .zipWithIndex.map { case (k, i) => k -> r.getLong(i) }.toMap +
      ("clusters_found" -> ClustersFound.getOrElse(dir.split('/').last, -1L))
  }

  /** Distinct clusters the `clusters` leg finds on each fixture; the
    * final components do not depend on where the stream is cut. */
  val ClustersFound: Map[String, Long] = Map("sf0.01" -> 4L, "sf0.1" -> 61L)
}
