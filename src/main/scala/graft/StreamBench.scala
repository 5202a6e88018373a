package graft

import java.nio.file.{Files, Path}

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryListener.{QueryIdleEvent, QueryProgressEvent, QueryStartedEvent, QueryTerminatedEvent}
import org.apache.spark.sql.types._

import graft.streaming.{BounceDetector, DedupDaily, FileTopic, Jobs, PageLog, Sources}

/** Streaming throughput bench — the number the batch bench can't give
  * (the reference's headline claim is real-time volume, README.md:2).
  *
  * Pipeline under test is the real DWD topology over the real
  * transport: sf-scale page-log lines produced into a [[FileTopic]]
  * (the at-least-once Kafka stand-in), then three streaming queries —
  *
  *   - `split`:  FileTopic → baseLogSplit (parse-or-divert + 5-way
  *               fan-out + display explode) → five parquet sinks out of
  *               one foreachBatch;
  *   - `uv_dim`: FileTopic → parse → entry filter → DedupDaily
  *               (cross-batch fMGWS state) → DimStore LWW upsert sink
  *               (the K3 merge path, exactly-once effects);
  *   - `bounce`: FileTopic → parse → BounceDetector (event-time state
  *               machine + timers) → parquet bounce stream;
  *   - `clusters`: FileTopic → StreamingNearDup (MinHash LSH anchors)
  *               → maintained (id, rep) label table, consultation in
  *               the timed window;
  *   - `media`:  the multimodal twin of `clusters` — three-family
  *               template blobs ([[mediaBlobs]]) →
  *               StreamingMediaNearDup.image (pHash band anchors) →
  *               its own maintained label table (witness: exactly 3
  *               components on a healthy detector);
  *   - `funnel`: the x93 curation funnel as the layered two-query
  *               topology ([[graft.streaming.StreamingFunnel]]):
  *               gates + exact keep-first dedup + DSIR gate against a
  *               pre-staged frozen model, survivor layer, near-dup
  *               label maintenance — per-stage survivor counts as the
  *               witness.
  *
  * Input is derived deterministically from the events fixture (one log
  * line per event row, globally time-ordered, chunked into segments so
  * `maxFilesPerTrigger` yields a steady multi-micro-batch replay — the
  * arrival shape a drained Kafka topic gives a catching-up consumer).
  *
  * Reported per topology: wall seconds to drain the topic,
  * events/sec, and per-micro-batch latency (p50/max of
  * `triggerExecution` from query progress), and the Janino compiles
  * (with their ms) inside each pass's window — pass 1 is cold, pass 2
  * compiles ~0 once the codegen cache holds the topology's classes
  * ([[core.GraftSession.codegenSettings]]). Two passes, min per
  * topology (same stall-burst rationale as [[Bench]]); divergent
  * topologies land in `spread`; full per-pass detail goes to
  * `target/stream_bench_passes.json`. Prints ONE JSON line.
  *
  * The `calibration` field is a fixed pure-CPU reference topology
  * (parse-only over the same topic) run first in each pass and kept
  * OUT of the total: cross-round raw deltas are environment-dominated
  * on this box (r15: 25–30 % swings on unchanged code), so compare
  * legs ACROSS artifacts as `leg events_per_sec ÷ calibration
  * events_per_sec` of the same artifact.
  */
object StreamBench {

  private val LogSchema = StructType(Seq(
    StructField("mid", StringType),
    StructField("page_id", StringType),
    StructField("last_page_id", StringType),
    StructField("ts", LongType),
    StructField("err", StringType),
    StructField("start", StringType),
    StructField("displays", ArrayType(StructType(Seq(
      StructField("pos", IntegerType), StructField("item", StringType)))))))

  private final case class BatchStat(rows: Long, ms: Long)
  private final case class TopoResult(sec: Double, batches: Seq[BatchStat],
                                      compiles: Long, compileMs: Double)

  /** The media leg's blob corpus: THREE deterministic byte-template
    * families (disjoint alphabets → disjoint dominant trigram bins),
    * keyed by the line hash, each blob carrying an 8-byte per-line
    * suffix. The template's trigram mass dominates the stub luminance
    * plane's mean threshold (template bins hold ≥ ~23 of the ~1030
    * trigrams vs a mean of ~16; the suffix contributes ≤ 8 to any
    * bin), so every doc of a family carries the SAME four aHash band
    * values and different families never share one — the expected
    * component count is exactly [[MediaTemplates]].size, which makes
    * `media_clusters_found` FALSIFIABLE: a broken detector reads 1
    * (everything-collides) or ~nDocs (nothing matches), where the r18
    * single-template corpus read 1 on both failure AND success.
    * Within-family collision stays maximal — the adversarial
    * hot-bucket load the leg exists to price. MediaWitnessSpec pins
    * the family separation per band and the exact component count. */
  private[graft] val MediaTemplates: Seq[String] = Seq(
    "the quick brown fox jumps over a lazy dog ",
    "ZYXWVUTSRQPONMLKJIHGFEDCBA_0123456789_",
    "?!#%&*+-/:;<=>@[]^{|}~()").map(t => (t * (1024 / t.length + 1)).take(1024))

  /** (doc_id, media) blobs for the media leg — see [[MediaTemplates]]. */
  private[graft] def mediaBlobs(raw: DataFrame): DataFrame = {
    val fam = pmod(xxhash64(col("value")), lit(3))
    val tmpl = when(fam === 0, lit(MediaTemplates(0)))
      .when(fam === 1, lit(MediaTemplates(1)))
      .otherwise(lit(MediaTemplates(2)))
    raw.select(xxhash64(col("value")).as("doc_id"),
      concat(tmpl, substring(col("value"), 1, 8)).cast("binary").as("media"))
  }

  /** The funnel leg's doc projection: one doc per parseable line —
    * id = content hash, text = the punctuation-split line (the
    * clusters leg's tokenization), ts = the line's embedded event
    * time. Corrupt lines (no ts) are diverted before the gates, the
    * split leg's dirty-side-output job. */
  private[graft] def funnelDocs(raw: DataFrame): DataFrame =
    raw.select(
      timestamp_millis(get_json_object(col("value"), "$.ts").cast("long"))
        .as("ts"),
      xxhash64(col("value")).as("doc_id"),
      lit("en").as("lang"),
      regexp_replace(col("value"), "[\\p{Punct}]+", " ").as("text"))
      .filter(col("ts").isNotNull)

  /** The bench's input corpus: a deterministic projection of the
    * events fixture onto the page-log grain — mid from user_id (5k
    * devices), ~1/3 session entries, a sprinkle of err/start records,
    * display arrays on ~1/11 pages, and ~1% corrupt lines so the dirty
    * diversion does real work. Columns (ts, line). Shared with the
    * dev-side read-heavy clusters probe so its numbers are
    * load-comparable with this bench's `clusters` leg. */
  private[graft] def pageLogLines(spark: SparkSession,
                                  sfDir: String): DataFrame =
    core.Tables.load(spark, sfDir, "events")
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
      .select(col("ts"),
        when(pmod(col("event_id"), lit(97)) === 0,
          concat(lit("!!not-json!!"), col("line"))).otherwise(col("line"))
        .as("line"))

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // SPARK_GRAFT_STATE_STORE=rocksdb benches the production state
    // backend (large stateful deploys run RocksDB, not the default
    // HDFS-backed in-memory map).
    // Unknown values fail loudly: a typo silently running the default
    // store would stamp a mislabeled artifact.
    val stateStore =
      sys.env.getOrElse("SPARK_GRAFT_STATE_STORE", "default").toLowerCase match {
        case s @ ("default" | "rocksdb") => s
        case other => sys.error(
          s"unknown SPARK_GRAFT_STATE_STORE '$other' (use default|rocksdb)")
      }
    val builder = core.GraftSession.builder("graft-stream-bench")
      .config("spark.cleaner.periodicGC.interval", "1min")
    if (stateStore == "rocksdb")
      builder.config("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._

    // ---- input: one log line per event row, time-ordered segments ----
    val nSegments = 20
    val lineCols = pageLogLines(spark, sfDir)

    val work = Files.createTempDirectory("stream_bench_")
    def deleteTree(p: Path): Unit = {
      import scala.jdk.CollectionConverters._
      if (Files.exists(p))
        Files.walk(p).iterator().asScala.toSeq.reverse.foreach(Files.delete)
    }
    try {
      val topic = work.resolve("topic").toString
      val writeSegment: Iterator[String] => Unit = { it =>
        if (it.hasNext)
          FileTopic.produceStaged(topic,
            org.apache.spark.TaskContext.getPartitionId(), it)
      }
      lineCols
        .repartitionByRange(nSegments, col("ts"))
        .sortWithinPartitions("ts")
        .select("line").as[String]
        .foreachPartition(writeSegment)
      FileTopic.publishStaged(topic)
      val nEvents = FileTopic.replay(spark, topic).count().toInt
      // distinct components found by the clusters topology's post-
      // stream labels consultation (same data both passes)
      val clustersFound = new java.util.concurrent.atomic.AtomicLong(-1L)
      // same witness for the media (pHash) twin's label table
      val mediaClustersFound = new java.util.concurrent.atomic.AtomicLong(-1L)
      // the funnel legs' per-stage survivor counts (JSON fragments) —
      // one per route; the TTL route's witness must read IDENTICAL
      val funnelStages =
        new java.util.concurrent.atomic.AtomicReference[String]("null")
      val funnelStagesTtl =
        new java.util.concurrent.atomic.AtomicReference[String]("null")
      // the funnel's STAGED frozen DSIR model — trained once from the
      // topic's own corpus (target = display-carrying lines) before
      // the timed windows, exactly the batch-train / serve-continuous
      // split DsirGate documents; 4096 rows, pinned hot across passes
      val funnelRatio = graft.streaming.DsirGate.trainRatio(
        funnelDocs(FileTopic.replay(spark, topic)),
        isTarget = col("text").contains("displays")).persist()
      funnelRatio.count()
      // BOTH gate thresholds are STAGED with the model, from the
      // corpus's own distributions (exact quantiles, relativeError 0)
      // — fixed absolute values read degenerate witnesses (0 gated /
      // 0 accepted) because the corpus's token counts and scores move
      // with sf and event_type shape. Length gate: p25+1 (capped at
      // p90 so a near-degenerate distribution can't gate everything
      // out); DSIR gate: the median score.
      val funnelMinToks = {
        val q = funnelDocs(FileTopic.replay(spark, topic))
          .select(org.apache.spark.sql.functions
            .size(split(col("text"), " ")).cast("double").as("n"))
          .stat.approxQuantile("n", Array(0.25, 0.9), 0.0)
        math.min(q(0).toInt + 1, q(1).toInt)
      }
      val funnelMinScore = graft.streaming.DsirGate
        .score(funnelDocs(FileTopic.replay(spark, topic)), funnelRatio)
        .stat.approxQuantile("score_ppm", Array(0.5), 0.0)(0).toLong

      // ---- per-batch progress capture ----
      val stats = scala.collection.mutable.Map[String, scala.collection.mutable.ArrayBuffer[BatchStat]]()
      val listener = new StreamingQueryListener {
        override def onQueryStarted(e: QueryStartedEvent): Unit = ()
        override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
        override def onQueryIdle(e: QueryIdleEvent): Unit = ()
        override def onQueryProgress(e: QueryProgressEvent): Unit = {
          val p = e.progress
          if (p.name != null && p.numInputRows > 0) stats.synchronized {
            stats.getOrElseUpdate(p.name, scala.collection.mutable.ArrayBuffer()) +=
              BatchStat(p.numInputRows, p.durationMs.get("triggerExecution"))
          }
        }
      }
      spark.streams.addListener(listener)

      def pages(raw: DataFrame): Dataset[PageLog] =
        Sources.parseJson(raw, LogSchema)
          .filter(col("parsed").isNotNull && col("parsed.mid").isNotNull)
          .select(col("parsed.mid").as("mid"),
            col("parsed.page_id").as("pageId"),
            col("parsed.last_page_id").as("lastPageId"),
            col("parsed.ts").as("ts"),
            lit("0").as("isNew"),
            timestamp_millis(col("parsed.ts")).as("eventTime"))
          .as[PageLog]

      def timed(name: String, pass: Int, andThen: Path => Unit = _ => ())
               (start: (DataFrame, Path) => org.apache.spark.sql.streaming.StreamingQuery): TopoResult = {
        val key = s"${name}_p$pass"
        val dir = work.resolve(key)
        Files.createDirectories(dir)
        val raw = FileTopic.stream(spark, topic, maxFilesPerTrigger = Some(2))
        val (c0, cms0) = (core.GraftSession.compiles, core.GraftSession.compileMs)
        val t0 = System.nanoTime()
        val q = start(raw, dir)
        try q.processAllAvailable() finally q.stop()
        andThen(dir) // post-stream consultation, inside the timed window
        val dt = (System.nanoTime() - t0) / 1e9
        val b = stats.synchronized(stats.getOrElse(key, Seq.empty).toList)
        deleteTree(dir) // state/checkpoint/sinks are per-pass scratch
        TopoResult(dt, b, core.GraftSession.compiles - c0,
          core.GraftSession.compileMs - cms0)
      }

      def runPass(pass: Int): Map[String, TopoResult] = Map(
        // CALIBRATION leg — runs FIRST each pass, excluded from the
        // total: a fixed pure-CPU reference topology (parse + filter +
        // count over the same topic, no sink IO, no state) whose
        // throughput prices the WINDOW, not the engine. Cross-round
        // raw deltas on the real legs are environment-dominated (r15
        // measured uv_dim/bounce swinging 25–30 % on unchanged code);
        // dividing a leg's events_per_sec by the same artifact's
        // calibration events_per_sec gives the comparable number.
        "calibrate" -> timed("calibrate", pass) { (raw, dir) =>
          raw.writeStream.queryName(s"calibrate_p$pass")
            .option("checkpointLocation", s"$dir/chk")
            .foreachBatch { (batch: Dataset[Row], _: Long) =>
              Sources.parseJson(batch.toDF(), LogSchema)
                .filter(col("parsed").isNotNull && col("parsed.mid").isNotNull)
                .count()
              ()
            }.start()
        },
        "split" -> timed("split", pass) { (raw, dir) =>
          raw.writeStream.queryName(s"split_p$pass")
            .option("checkpointLocation", s"$dir/chk")
            .foreachBatch { (batch: Dataset[Row], _: Long) =>
              val b = batch.cache()
              try {
                val st = Jobs.baseLogSplit(b.toDF(), LogSchema)
                st.dirty.write.mode("append").parquet(s"$dir/dirty")
                st.err.write.mode("append").parquet(s"$dir/err")
                st.start.write.mode("append").parquet(s"$dir/start")
                st.page.write.mode("append").parquet(s"$dir/page")
                st.display.write.mode("append").parquet(s"$dir/display")
              } finally { b.unpersist(); () }
            }.start()
        },
        // the same parse/split work through the CROSS-SINK ATOMIC
        // publish path (staged hidden segments + one batch marker +
        // visibility flips — Jobs.startBaseLogSplitAtomic): prices the
        // all-five-topics-or-none guarantee the independent-sink
        // `split` lacks. Sinks differ by design (file-topic JSON text
        // vs parquet), so compare as "atomicity path throughput", not
        // file-format throughput.
        "split_atomic" -> timed("split_atomic", pass) { (raw, dir) =>
          Jobs.startBaseLogSplitAtomic(raw, LogSchema,
            s"$dir/topics", s"$dir/chk",
            queryName = Some(s"split_atomic_p$pass"))
        },
        "uv_dim" -> timed("uv_dim", pass) { (raw, dir) =>
          DedupDaily(pages(raw).filter((e: PageLog) => e.lastPageId.isEmpty))
            .writeStream.queryName(s"uv_dim_p$pass")
            .option("checkpointLocation", s"$dir/chk")
            .foreachBatch { (batch: Dataset[PageLog], _: Long) =>
              graft.ops.DimStore.upsert(batch.sparkSession, s"$dir/uv_dim",
                batch.toDF(), pk = "mid", versionCol = "ts", nBuckets = 16)
            }.start()
        },
        "bounce" -> timed("bounce", pass) { (raw, dir) =>
          BounceDetector(pages(raw))
            .writeStream.queryName(s"bounce_p$pass")
            .option("checkpointLocation", s"$dir/chk")
            .foreachBatch { (batch: Dataset[graft.streaming.Bounce], _: Long) =>
              batch.write.mode("append").parquet(s"$dir/bounces")
            }.start()
        },
        // dedup-clustering at ingest: every raw line becomes a "doc"
        // (id = content hash, so exact repeats collapse to one node),
        // shingled/banded by StreamingNearDup's cross-batch LSH state,
        // and each batch's candidate edges incrementally MAINTAIN the
        // (id, rep) label table (StreamingClusters maintained mode —
        // the x74 move: history star edges + batch edges, contracted
        // per batch, changed-rows-only upsert). Page-log lines are
        // heavily templated — near-identical JSON — so this is the
        // adversarial collision load for the bucket state, not a
        // friendly corpus.
        // the timed window INCLUDES one consultation after ingest —
        // with maintained labels that is a snapshot READ of the table
        // (the journal route re-ran a full star contraction per
        // consultation; that cost now sits amortized in the per-batch
        // maintenance, bounded by each batch's new structure). The leg
        // still runs on full-range xxhash64 ids (the input that made
        // an arithmetic convergence witness overflow; see
        // ConnectedComponents).
        "clusters" -> timed("clusters", pass, andThen = { dir =>
          clustersFound.set(graft.streaming.StreamingClusters
            .maintainedLabels(spark, s"$dir/labels")
            .select(countDistinct(col("rep"))).head().getLong(0))
          ()
        }) { (raw, dir) =>
          // MinHash shingles are WORD trigrams (split on spaces) and a
          // compact to_json line is a single token — fed raw it yields
          // zero shingles and the doc is dropped before banding, so the
          // "dedup load" would be an empty state op (the labels
          // consultation below caught exactly that: clusters_found=0).
          // Punctuation-split the line into word tokens so the
          // templated JSON really is the adversarial collision corpus.
          val docs = raw.select(xxhash64(col("value")).as("doc_id"),
            regexp_replace(col("value"), "[\\p{Punct}]+", " ").as("text"))
          graft.streaming.StreamingNearDup(docs).toDF()
            .writeStream.queryName(s"clusters_p$pass")
            .option("checkpointLocation", s"$dir/chk")
            .foreachBatch { (batch: Dataset[Row], bid: Long) =>
              // label store sized to its content (~60k docs at sf0.1):
              // the default 64-bucket fan-out makes every per-batch
              // lookup scan + merge touch 4x the files for no pruning
              // win at this cardinality. Same knob the DimStore
              // rebucket policy tunes for grown dim tables; a 100 TB
              // corpus sizes UP instead.
              graft.streaming.StreamingClusters
                .updateBatchMaintained(s"$dir/labels", nBuckets = 16)(
                  batch.toDF(), bid)
            }.start()
        },
        // the MEDIA twin of the clusters leg: each line becomes a
        // media blob from one of THREE deterministic byte-template
        // families ([[mediaBlobs]] — id = content hash), hashed to
        // 4×16-bit aHash band anchors by StreamingMediaNearDup.image
        // (stub decode, real plumbing — luminance plane + banded hash
        // are a narrow map; the keyed state shuffle is on the band
        // key), and candidates maintain their own (id, rep) label
        // table. Within a family every blob shares all four band
        // values — the same adversarial hot-bucket collision load the
        // text leg's MinHash buckets see — while families never
        // collide, so the witness (media_clusters_found, consulted
        // inside the timed window) reads EXACTLY 3 on a healthy
        // detector and 1 / ~nDocs on a broken one: structure to lose,
        // which the r18 single-template corpus lacked.
        "media" -> timed("media", pass, andThen = { dir =>
          mediaClustersFound.set(graft.streaming.StreamingClusters
            .maintainedLabels(spark, s"$dir/labels")
            .select(countDistinct(col("rep"))).head().getLong(0))
          ()
        }) { (raw, dir) =>
          import spark.implicits._
          val media = mediaBlobs(raw).as[graft.ops.MediaIn]
          graft.streaming.StreamingMediaNearDup.image(media).toDF()
            .writeStream.queryName(s"media_p$pass")
            .option("checkpointLocation", s"$dir/chk")
            .foreachBatch { (batch: Dataset[Row], bid: Long) =>
              graft.streaming.StreamingClusters
                .updateBatchMaintained(s"$dir/labels", nBuckets = 16)(
                  batch.toDF(), bid)
            }.start()
        },
        // the FUNNEL leg — the x93 curation funnel as the layered
        // two-query topology a continuous corpus pipeline runs
        // (StreamingFunnel: gates + exact keep-first + DSIR
        // score-at-ingest against the pre-staged frozen model, a
        // survivor parquet layer between the queries, near-dup
        // anchors maintaining the label table, per-stage survivor
        // counts consulted inside the timed window). Stage 2 runs
        // CONCURRENTLY with stage 1 over the survivor layer's file
        // stream — the pipelined deployment, not a batch handoff.
        "funnel" -> funnelLeg(pass, "funnel", ttl = None, funnelStages),
        // the BOUNDED-STATE form of the same funnel — stage 2 runs the
        // TTL'd detector (StreamingNearDup.withTtl via startNeardupStage
        // ttl), the shape a continuous 100 TB/day deployment operates:
        // per-row event-time timer bookkeeping + EventTimeTimeout state
        // reads on every bucket probe. ttl = 60 d with a 30 d watermark
        // delay over the fixture's 30-day span, so no anchor can expire
        // and no survivor row can be dropped as late — the stage witness
        // must read BYTE-IDENTICAL to the unbounded leg (a detector bug
        // shows as witness drift, an overhead change as normalized-cost
        // drift). What this leg prices is exactly the TTL machinery's
        // throughput tax, isolated.
        "funnel_ttl" -> funnelLeg(pass, "funnel_ttl",
          ttl = Some(java.time.Duration.ofDays(60)), funnelStagesTtl))

      def funnelLeg(pass: Int, name: String,
          ttl: Option[java.time.Duration],
          witness: java.util.concurrent.atomic.AtomicReference[String])
          : TopoResult = {
        val key = s"${name}_p$pass"
        val dir = work.resolve(key)
        Files.createDirectories(dir.resolve("survivors"))
        val raw = FileTopic.stream(spark, topic, maxFilesPerTrigger = Some(2))
        val (c0, cms0) = (core.GraftSession.compiles, core.GraftSession.compileMs)
        val t0 = System.nanoTime()
        val q1 = graft.streaming.StreamingFunnel.startGateStage(
          funnelDocs(raw), funnelRatio, dir.toString,
          langs = Seq("en"), minToks = funnelMinToks,
          watermark = "1 hour", minScorePpm = funnelMinScore,
          checkpoint = s"$dir/chk1", queryName = Some(key))
        val q2 = graft.streaming.StreamingFunnel.startNeardupStage(
          spark, dir.toString, s"$dir/chk2",
          queryName = Some(s"${key}_nd"),
          ttl = ttl, watermarkDelay = "30 days")
        try q1.processAllAvailable() finally q1.stop()
        try q2.processAllAvailable() finally q2.stop()
        val sc = graft.streaming.StreamingFunnel
          .stageCounts(spark, dir.toString)
        witness.set(s"""{"raw":$nEvents,"gated":${sc.gated},"neardup_kept":${
          sc.neardupKept},"dsir_accepted":${sc.dsirAccepted}}""")
        val dt = (System.nanoTime() - t0) / 1e9
        val b = stats.synchronized(
          (stats.getOrElse(key, Seq.empty) ++
            stats.getOrElse(s"${key}_nd", Seq.empty)).toList)
        deleteTree(dir)
        TopoResult(dt, b, core.GraftSession.compiles - c0,
          core.GraftSession.compileMs - cms0)
      }

      val p1 = runPass(1)
      val p2 = runPass(2)
      spark.streams.removeListener(listener)

      def num(v: Double): String =
        String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
      def p50(xs: Seq[Long]): Long =
        if (xs.isEmpty) 0L else xs.sorted.apply((xs.size - 1) / 2)
      def topoJson(name: String): String = {
        val best = if (p1(name).sec <= p2(name).sec) p1(name) else p2(name)
        val ms = best.batches.map(_.ms)
        s""""$name":{"sec":${num(best.sec)},"events_per_sec":${
          num(nEvents / best.sec)},"batches":${best.batches.size},"batch_ms_p50":${
          p50(ms)},"batch_ms_max":${ms.foldLeft(0L)(math.max)},"compiles":[${
          p1(name).compiles},${p2(name).compiles}],"compile_ms":[${
          num(p1(name).compileMs)},${num(p2(name).compileMs)}]}"""
      }
      val names =
        Seq("split", "split_atomic", "uv_dim", "bounce", "clusters", "media",
          "funnel", "funnel_ttl")
      val allNames = "calibrate" +: names
      val spread = names.collect {
        case n if math.max(p1(n).sec, p2(n).sec) >
            1.5 * math.min(p1(n).sec, p2(n).sec) &&
            math.max(p1(n).sec, p2(n).sec) - math.min(p1(n).sec, p2(n).sec) > 0.3 =>
          s""""$n":${num(math.max(p1(n).sec, p2(n).sec) - math.min(p1(n).sec, p2(n).sec))}"""
      }.mkString("{", ",", "}")
      val total = names.map(n => math.min(p1(n).sec, p2(n).sec)).sum
      def passJson(p: Map[String, TopoResult]): String =
        allNames.map(n => s""""$n":{"sec":${num(p(n).sec)},"compiles":${
          p(n).compiles},"compile_ms":${num(p(n).compileMs)},"batches":[${
          p(n).batches.map(b => s"[${b.rows},${b.ms}]").mkString(",")}]}""")
          .mkString("{", ",", "}")
      try Files.writeString(java.nio.file.Paths.get("target/stream_bench_passes.json"),
        s"""{"sf":"$sfDir","events":$nEvents,"pass1":${passJson(p1)},"pass2":${passJson(p2)}}""")
      catch { case _: java.io.IOException => () }
      val calBest = math.min(p1("calibrate").sec, p2("calibrate").sec)
      // normalized = leg events_per_sec ÷ calibration events_per_sec
      // (the nEvents cancel: calibration sec / leg sec). This is the
      // environment-proof number to diff ACROSS round artifacts — the
      // calibration leg prices the window (box load, JIT, FS cache),
      // so raw cross-round deltas divide it out.
      val normalized = names.map(n =>
        s""""$n":${num(calBest / math.min(p1(n).sec, p2(n).sec))}""")
        .mkString("{", ",", "}")
      println(s"""{"metric":"stream_total","value":${num(total)},"unit":"sec","events":$nEvents,"topologies":{${
        names.map(topoJson).mkString(",")}},"calibration":{"sec":${num(calBest)},"events_per_sec":${
        num(nEvents / calBest)}},"normalized":$normalized,"spread":$spread,"clusters_found":${
        clustersFound.get()},"media_clusters_found":${
        mediaClustersFound.get()},"funnel_stages":${
        funnelStages.get()},"funnel_stages_ttl":${
        funnelStagesTtl.get()},"state_store":"$stateStore","sf":"$sfDir"}""")
    } finally {
      deleteTree(work)
      spark.stop()
    }
  }
}
