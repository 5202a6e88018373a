package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.streaming._

/** Golden tests for the stateful streaming operators (SURVEY §5.3):
  * A1 dedup, A2 is_new repair, W2 bounce state machine — each fed
  * through a real MemoryStream so state crosses micro-batch boundaries.
  * The streaming golden cases run once per state store provider: the
  * default HDFS-backed store and RocksDB, the production backend
  * (`StreamBench` with `SPARK_GRAFT_STATE_STORE=rocksdb`).
  */
class StreamingStateSpec extends AnyFunSuite with Matchers with SparkFixture {

  private val ProviderKey = "spark.sql.streaming.stateStore.providerClass"

  /** (provider label, session): the shared session on the default
    * provider, and a child session that carries the RocksDB provider,
    * so no case changes the shared session's conf. */
  private lazy val providers: Seq[(String, SparkSession)] = Seq(
    "hdfs" -> spark,
    "rocksdb" -> {
      val s = spark.newSession()
      s.conf.set(ProviderKey,
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      s
    })

  /** Runs `body` once per state store provider, with the provider
    * label in the failure clue and as a query-name suffix. */
  private def eachProvider(body: (SparkSession, String) => Unit): Unit =
    providers.foreach { case (label, s) =>
      withClue(s"[$label] ")(body(s, label))
    }

  private def runStream[I <: Product: scala.reflect.runtime.universe.TypeTag,
                        O <: Product: scala.reflect.runtime.universe.TypeTag](
      batches: Seq[Seq[I]],
      pipe: org.apache.spark.sql.Dataset[I] => org.apache.spark.sql.Dataset[O],
      name: String, s: SparkSession = spark): Seq[O] = {
    implicit val ei: org.apache.spark.sql.Encoder[I] =
      org.apache.spark.sql.Encoders.product[I]
    implicit val eo: org.apache.spark.sql.Encoder[O] =
      org.apache.spark.sql.Encoders.product[O]
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    val mem = MemoryStream[I]
    val q = pipe(mem.toDS())
      .writeStream.format("memory").queryName(name)
      .outputMode(OutputMode.Append).start()
    try {
      batches.foreach { b => mem.addData(b); q.processAllAvailable() }
      // one empty pass so watermark movement from the last batch can
      // fire pending event-time timers
      q.processAllAvailable()
      if (s.conf.getOption(ProviderKey).exists(_.contains("RocksDB"))) {
        import scala.jdk.CollectionConverters._
        val metrics = q.recentProgress.flatMap(_.stateOperators)
          .flatMap(_.customMetrics.keySet.asScala)
        assert(metrics.exists(_.startsWith("rocksdb")), "expected RocksDB state store metrics")
      }
      s.table(name).as[O].collect().toSeq
    } finally q.stop()
  }

  test("DedupDaily emits exactly the first event per (mid, day) across batches") {
    val day = 86400000L
    val batches = Seq(
      Seq(PageLog("m1", "home", None, 1000L), PageLog("m1", "cart", Some("home"), 2000L),
          PageLog("m2", "home", None, 1500L)),
      Seq(PageLog("m1", "good", Some("cart"), 3000L),          // same day → dropped
          PageLog("m1", "home", None, day + 500L),             // next day → kept
          PageLog("m2", "home", None, 1600L)))                 // same day → dropped
    eachProvider { (s, p) =>
      val out = runStream[PageLog, PageLog](batches, DedupDaily(_), s"dedup_out_$p", s)
      out.map(e => (e.mid, e.ts)).sorted shouldBe
        Seq(("m1", 1000L), ("m1", day + 500L), ("m2", 1500L))
    }
  }

  test("DedupDaily batch mode matches the window-function analogue") {
    val s = spark
    import s.implicits._
    val events = (1 to 200).map { i =>
      PageLog(s"m${i % 7}", s"p$i", None, (i % 50) * 3600000L + i)
    }
    val streamed = DedupDaily(s.createDataset(events)).collect()
      .map(e => (e.mid, Dates.toDate(e.ts))).toSet
    val expected = events.groupBy(e => (e.mid, Dates.toDate(e.ts))).keySet
    streamed shouldBe expected
  }

  test("VisitorFlagRepair rewrites stale is_new=1 and backfills state for is_new=0") {
    val day = 86400000L
    val batches = Seq(
      Seq(PageLog("m1", "home", None, 1000L, "1"),      // first visit, day 0 → stays 1
          PageLog("m1", "cart", None, 2000L, "1")),     // same day → stays 1
      Seq(PageLog("m1", "home", None, day + 100L, "1"), // claims new on day 1 → repaired to 0
          PageLog("m2", "home", None, day + 200L, "0")),// old visitor, no state → backfill
      Seq(PageLog("m2", "home", None, 2 * day + 100L, "1"))) // backfilled → repaired to 0
    eachProvider { (s, p) =>
      val out = runStream[PageLog, PageLog](batches, VisitorFlagRepair(_), s"isnew_out_$p", s)
      out.map(e => (e.mid, e.ts, e.isNew)).sorted shouldBe Seq(
        ("m1", 1000L, "1"), ("m1", 2000L, "1"), ("m1", day + 100L, "0"),
        ("m2", day + 200L, "0"), ("m2", 2 * day + 100L, "0"))
    }
  }

  test("VisitorFlagRepair: is_new=1 on a later day after 0-backfill stays 0") {
    val day = 86400000L
    val batches = Seq(
      Seq(PageLog("m3", "home", None, day + 100L, "0")),  // backfills state=yesterday
      Seq(PageLog("m3", "home", None, day + 200L, "1")))  // claims new → repaired
    eachProvider { (s, p) =>
      val out = runStream[PageLog, PageLog](batches, VisitorFlagRepair(_), s"isnew_out2_$p", s)
      out.map(e => (e.ts, e.isNew)).sorted shouldBe
        Seq((day + 100L, "0"), (day + 200L, "0"))
    }
  }

  test("VisitorFlagRepair randomized multi-device multi-batch replay matches " +
       "the linear four-rule model") {
    val day = 86400000L
    val rnd = new scala.util.Random(4242)
    val batches = (0 until 4).map { b =>
      (0 until 60).map { i =>
        PageLog(s"m${rnd.nextInt(8)}", s"p$i", None,
          b * day / 2 + rnd.nextInt(day.toInt / 2).toLong,
          if (rnd.nextBoolean()) "1" else "0")
      }
    }
    val out = runStream[PageLog, PageLog](batches, VisitorFlagRepair(_), "isnew_rnd")
    val expected = OperatorPropertySpec.simulateRepair(batches)
    out.map(e => (e.mid, e.ts, e.pageId, e.isNew)).sorted shouldBe
      expected.map(e => (e.mid, e.ts, e.pageId, e.isNew)).sorted
    // the replay reaches every rule, not only the pass-through ones
    expected.count(_.isNew == "1") should be > 0
    batches.flatten.count(_.isNew == "1") should be > expected.count(_.isNew == "1")
  }

  /** The reference's own commented fixture
    * (DwdTrafficUserJumpDetail.java:57-65): mid 101 bounces by timeout;
    * mid 102 home→good_list is not a bounce, then a later lone entry
    * bounces once the watermark passes. */
  test("BounceDetector matches the reference CEP fixture semantics") {
    val batches = Seq(
      Seq(PageLog("101", "home", None, 10000L),
          PageLog("102", "home", None, 12000L),
          PageLog("102", "good_list", Some("home"), 15000L)),
      Seq(PageLog("102", "home", None, 50000L)),
      // watermark pusher: far-future event lets every pending timer fire
      Seq(PageLog("999", "home", Some("x"), 500000L)))
    eachProvider { (s, p) =>
      val out = runStream[PageLog, Bounce](batches, BounceDetector(_), s"bounce_out_$p", s)
      out.map(b => (b.mid, b.ts, b.reason)).sorted shouldBe Seq(
        ("101", 10000L, "timeout"),
        ("102", 50000L, "timeout"))
    }
  }

  test("BounceDetector: back-to-back entries within gap emit the first as next_entry bounce") {
    val batches = Seq(
      Seq(PageLog("201", "home", None, 1000L),
          PageLog("201", "home", None, 5000L),   // 4s later, also entry → first is a bounce
          PageLog("201", "detail", Some("home"), 6000L)), // normal follow-up → second not a bounce
      Seq(PageLog("999", "home", Some("x"), 500000L)))
    eachProvider { (s, p) =>
      val out = runStream[PageLog, Bounce](batches, BounceDetector(_), s"bounce_out2_$p", s)
      out.map(b => (b.mid, b.ts, b.reason)) shouldBe Seq(("201", 1000L, "next_entry"))
    }
  }

  test("BounceDetector: a pending cleared by an in-batch follow-up never times " +
       "out; a re-pended entry and next_entry behave as in the CEP rules") {
    val batches = Seq(
      // pending at 1000 registers a timeout at 11000 …
      Seq(PageLog("301", "home", None, 1000L)),
      // … then a normal follow-up at 5000 clears it before the watermark
      // reaches it, and a fresh entry at 6000 re-pends
      Seq(PageLog("301", "detail", Some("home"), 5000L),
          PageLog("301", "home", None, 6000L),
          PageLog("302", "home", None, 6000L),
          PageLog("302", "home", None, 8000L)),  // entry→entry within gap
      Seq(PageLog("999", "home", Some("x"), 500000L)))
    eachProvider { (s, p) =>
      val out = runStream[PageLog, Bounce](batches, BounceDetector(_), s"bounce_out3_$p", s)
      out.map(b => (b.mid, b.ts, b.reason)).sorted shouldBe Seq(
        ("301", 6000L, "timeout"),   // the re-pended entry times out
        ("302", 6000L, "next_entry"),
        ("302", 8000L, "timeout"))
    }
  }

  test("BounceDetector batch mode classifies every entry exactly once") {
    val s = spark
    import s.implicits._
    val events = Seq(
      PageLog("a", "home", None, 0L),
      PageLog("a", "list", Some("home"), 4000L),
      PageLog("a", "home", None, 60000L),            // lone entry at end → bounce
      PageLog("b", "home", None, 0L),
      PageLog("b", "home", None, 3000L))             // entry→entry: first bounces
    val out = BounceDetector(s.createDataset(events)).collect()
    // batch mode has no watermark → trailing pendings don't time out;
    // only in-sequence decisions emit
    out.map(b => (b.mid, b.ts, b.reason)).sorted shouldBe Seq(
      ("b", 0L, "next_entry"))
  }

  test("BounceDetector drops watermark-late rows and settles a stale " +
       "pending inline (disordered multi-partition delivery, W4)") {
    // fMGWS does not pre-filter late input; a disordered source (real
    // Kafka, FileTopic's unordered segment listing) delivers rows far
    // behind the watermark. The batch-3 late row used to drive a
    // pending+gap timer BEHIND the watermark — an operator crash.
    val batches = Seq(
      Seq(PageLog("m1", "home", None, 1000L)),                 // pending
      Seq(PageLog("zzz", "home", Some("x"), 1000000L)),        // wm → ~998s
      // late non-entry for m1: must be DROPPED (not clear the pending),
      // and the stale pending's already-decided timeout must emit inline
      Seq(PageLog("m1", "cart", Some("home"), 5000L)))
    eachProvider { (s, p) =>
      val out = runStream[PageLog, Bounce](batches, BounceDetector(_),
        s"bounce_late_out_$p", s)
      out.map(b => (b.mid, b.ts, b.reason)) shouldBe Seq(("m1", 1000L, "timeout"))
    }
  }

  test("BounceDetector shuffled replay across micro-batches matches the " +
       "linear one-pass spec (generative)") {
    // The W2 "hard part #1" mitigation (SURVEY §7.3): out-of-order
    // arrival WITHIN the watermark window must not change results, and
    // event-time timers must fill in exactly the timeouts the linear
    // spec expects. Construction: per-key strictly-increasing
    // histories, chunked into time-ordered micro-batches (so nothing
    // is watermark-late), each batch's rows SHUFFLED (the disorder a
    // multi-partition Kafka topic actually delivers), plus a
    // far-future watermark pusher so every trailing timer fires.
    val gap = BounceDetector.DefaultGapMs
    (1 to 6).foreach { seed =>
      val rnd = new scala.util.Random(seed)
      val events = Seq("m1", "m2", "m3").flatMap { mid =>
        var t = 1000L
        (0 until rnd.between(0, 20)).map { _ =>
          t += rnd.between(500L, 30000L)
          PageLog(mid, "p" + rnd.between(0, 4),
            if (rnd.nextBoolean()) None else Some("x"), t)
        }
      }
      val chunkMs = 20000L
      val batches = events.groupBy(_.ts / chunkMs).toSeq.sortBy(_._1)
        .map { case (_, es) => rnd.shuffle(es) } :+
        Seq(PageLog("zzz", "home", Some("x"),
          events.map(_.ts).maxOption.getOrElse(0L) + 100 * gap))
      val out = runStream[PageLog, Bounce](batches, BounceDetector(_),
        s"bounce_replay_$seed")
      val expected = OperatorPropertySpec
        .simulateBounces(events, gap, closeOut = true)
      withClue(s"seed=$seed: ") {
        out.map(b => (b.mid, b.ts, b.reason)).sorted shouldBe
          expected.map(b => (b.mid, b.ts, b.reason)).sorted
      }
    }
  }
}
