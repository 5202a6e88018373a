package graft

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, Dataset, Row}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.core.RunCounters
import graft.ops.AnnIndex

/** Top-level for the encoder. */
case class VecRow(vec_id: Long, v: Seq[Double])

/** Continuous index ingest: the persisted ANN index maintained from a
  * STREAM via per-micro-batch [[AnnIndex.append]] — the deployment
  * shape where embeddings arrive with the corpus (the same
  * foreachBatch-to-DimStore pattern as the uv_dim topology and
  * StreamingClusters' journal). Pins: streamed maintenance converges
  * to exactly the batch-built index, and at-least-once re-delivery of
  * a batch is absorbed (LWW on an identical row is a no-op). */
class StreamingAnnIndexSpec extends AnyFunSuite with Matchers with SparkFixture {

  private def vec(id: Long): Seq[Double] =
    Seq.tabulate(64)(i => math.sin(id.toDouble * (i + 1) + (i + 1)))

  private def rows(ids: Range): Seq[VecRow] =
    ids.map(i => VecRow(i.toLong, vec(i.toLong)))

  private def codeSet(df: DataFrame): Set[String] =
    df.collect().map { r =>
      (0 until r.length).map(i => String.valueOf(r.get(i))).mkString("|")
    }.toSet

  test("per-micro-batch append converges to the batch-built index; " +
       "re-delivered batches are absorbed") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val path = Files.createTempDirectory("ann_stream").toString + "/idx"
    val chk = Files.createTempDirectory("ann_stream_chk").toString

    // bootstrap: build on the seed corpus (must contain the coarse
    // centroid ids) — the model freezes here, exactly like a dim
    // table's initial load
    val seed = rows(0 until 60).toDF()
    val model = AnnIndex.build(s, path, seed, "vec_id", "v",
      centroidIds = Seq(10L, 20L, 30L, 40L), dim = 64, m = 4, k = 4,
      rounds = 1)

    // stream the rest in: every micro-batch encodes ONLY itself under
    // the frozen model and merges — batchId versions the LWW so an
    // at-least-once redelivery replaces rows with identical content
    val mem = MemoryStream[VecRow]
    val q = mem.toDF().writeStream
      .option("checkpointLocation", chk)
      .foreachBatch { (batch: Dataset[Row], bid: Long) =>
        AnnIndex.append(s, path, batch.toDF(), "vec_id", "v",
          ver = 2L + bid)
        ()
      }.start()
    try {
      mem.addData(rows(60 until 90): _*)
      q.processAllAvailable()
      mem.addData(rows(90 until 120): _*)
      q.processAllAvailable()
      // re-deliver batch content (a new micro-batch carrying rows the
      // store already indexed — the at-least-once shape): LWW keeps
      // the index at one row per vector, codes unchanged
      mem.addData(rows(60 until 90): _*)
      q.processAllAvailable()
    } finally q.stop()

    val streamed = codeSet(AnnIndex.codes(s, path))
    val full = codeSet(AnnIndex.encodeWith(
      rows(0 until 120).toDF(), "vec_id", "v", model))
    streamed shouldBe full
    AnnIndex.codes(s, path).count() shouldBe 120L
    // the frozen model was never touched by ingest
    val m2 = AnnIndex.readModel(s, path)
    m2.pq.codebooks.flatten.flatten.toSeq shouldBe
      model.pq.codebooks.flatten.flatten.toSeq
  }

  test("drift-triggered rebuild orchestration, end-to-end: drift fires " +
       "→ rebuild runs → counter re-floors → index equals a fresh " +
       "build; pre-rebuild replays stay absorbed — no manual step") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val path = Files.createTempDirectory("ann_orch").toString + "/idx"
    val chk = Files.createTempDirectory("ann_orch_chk").toString

    def drifted(ids: Range): Seq[VecRow] =
      ids.map(i => VecRow(i.toLong, vec(i.toLong).map(_ * 5.0)))

    // bootstrap: trained coarse quantizer over the seed corpus
    val seed = rows(0 until 60)
    AnnIndex.buildTrained(s, path, seed.toDF(), "vec_id", "v",
      nLists = 4, dim = 64, m = 4, k = 4, rounds = 1, kmRounds = 1)

    // the corpus authority the rebuild re-trains from: everything
    // ingested so far (a real pipeline reads its embeddings table)
    val all = scala.collection.mutable.ArrayBuffer[VecRow](seed: _*)
    val reports = scala.collection.mutable.ArrayBuffer[AnnIndex.Ingest]()
    val ingestor = new AnnIndex.Ingestor(s, path, "vec_id", "v",
      AnnIndex.RebuildPolicy(driftFactor = 2.0, nLists = 4, dim = 64,
        m = 4, k = 4, rounds = 1, kmRounds = 1),
      corpus = () => all.toSeq.toDF())

    val mem = MemoryStream[VecRow]
    val q = mem.toDF().writeStream
      .option("checkpointLocation", chk)
      .foreachBatch { (batch: Dataset[Row], _: Long) =>
        val rowsIn = batch.as[VecRow].collect()
        all.synchronized {
          val seen = all.map(_.vec_id).toSet
          all ++= rowsIn.filterNot(r => seen(r.vec_id))
        }
        reports += ingestor.ingest(batch.toDF())
        ()
      }.start()
    try {
      mem.addData(rows(60 until 90): _*)   // in-distribution
      q.processAllAvailable()
      mem.addData(drifted(1000 until 1060): _*) // ×5 scale: drift
      q.processAllAvailable()
    } finally q.stop()

    // exactly the drifted batch fired a rebuild, and it RAN
    reports.map(_.rebuilt.isDefined) shouldBe Seq(false, true)
    val rebuilt = reports.last.rebuilt.get
    // counter re-floored from the rebuild's version — the next batch
    // orders strictly above it
    ingestor.peekVer shouldBe rebuilt.buildVer + 1L
    // the orchestrated index is byte-identical to a fresh build over
    // the same corpus (same trained centroids, same codebooks, same
    // codes) — the "no manual step" guarantee
    val freshPath = Files.createTempDirectory("ann_orch_fresh").toString + "/idx"
    val fresh = AnnIndex.buildTrained(s, freshPath, all.toSeq.toDF(),
      "vec_id", "v", nLists = 4, dim = 64, m = 4, k = 4, rounds = 1,
      kmRounds = 1)
    val m = AnnIndex.readModel(s, path)
    m.centroids shouldBe fresh.centroids
    m.pq.codebooks.flatten.flatten.toSeq shouldBe
      fresh.pq.codebooks.flatten.flatten.toSeq
    codeSet(AnnIndex.codes(s, path)) shouldBe
      codeSet(AnnIndex.codes(s, freshPath))
    // a redelivered PRE-rebuild batch (old version, mutated content)
    // is absorbed by LWW against the rebuilt rows
    val replay = Seq(VecRow(60L, vec(60L).map(-_)))
    AnnIndex.append(s, path, replay.toDF(), "vec_id", "v", ver = 2L)
    codeSet(AnnIndex.codes(s, path)) shouldBe
      codeSet(AnnIndex.codes(s, freshPath))
    AnnIndex.fsck(s, path).consistent shouldBe true

    // a takedown through the Ingestor after the rebuild: the tombstone
    // commits at the counter version, above the rebuilt rows, so a
    // served neighbour of a drifted query leaves the answers
    val query = Seq(VecRow(-1L, vec(1000L).map(_ * 5.0))).toDF()
    def served(): Set[Long] = {
      val model = AnnIndex.readModel(s, path)
      AnnIndex.adcTopK(s, path,
        AnnIndex.queryProbes(query, "vec_id", "v", model, nProbes = 4),
        model, k = 10).select($"vec_id").as[Long].collect().toSet
    }
    val victim = served().max
    val tombVer = ingestor.peekVer
    ingestor.ingestDelete(Seq(victim).toDF("vec_id"))
    served() should not contain victim
    AnnIndex.fsck(s, path).consistent shouldBe true
    ingestor.peekVer should be > tombVer
    graft.ops.DimStore.read(s, s"$path/codes")
      .filter($"vec_id" === victim).select($"__batch_ver").as[Long]
      .collect() shouldBe Array(tombVer)
  }

  test("constructing an Ingestor on a healthy index scans the committed " +
       "versions once: its job count is one pointer read plus one max " +
       "agg per table") {
    val s = spark
    import s.implicits._
    val path = Files.createTempDirectory("ann_ctor_scan").toString + "/idx"
    val seed = rows(0 until 60).toDF()
    val built = AnnIndex.buildTrained(s, path, seed, "vec_id", "v",
      nLists = 4, dim = 64, m = 4, k = 4, rounds = 1, kmRounds = 1)
    val (ingestor, ctor) = RunCounters.window(s)(
      new AnnIndex.Ingestor(s, path, "vec_id", "v",
        AnnIndex.RebuildPolicy(nLists = 4, dim = 64, m = 4, k = 4,
          rounds = 1, kmRounds = 1),
        corpus = () => seed))
    ingestor.peekVer shouldBe built.buildVer + 1L
    // the same reads, issued directly: the pointer row, then
    // max(__batch_ver) over the model and the codes table
    val (_, ptrRead) = RunCounters.window(s)(
      graft.ops.DimStore.read(s, s"$path/ptr")
        .filter($"k" === "current").collect())
    val (_, scan) = RunCounters.window(s)(Seq("model", "codes").foreach {
      t => graft.ops.DimStore.read(s, s"$path/$t")
        .agg(max($"__batch_ver")).head()
    })
    withClue(s"pointer read ${ptrRead.jobs} jobs, version scan " +
        s"${scan.jobs} jobs: ") {
      ctor.jobs shouldBe ptrRead.jobs + scan.jobs
    }
  }

  test("restart recovery repairs an orphaned INLINE rebuild too: " +
       "roll-forward when both commits landed, roll-back (published " +
       "model restored) when only the model commit did") {
    val s = spark
    import s.implicits._
    val path = Files.createTempDirectory("ann_inline_crash").toString + "/idx"
    val seed = rows(0 until 60).toDF()
    AnnIndex.build(s, path, seed, "vec_id", "v",
      centroidIds = Seq(10L, 20L, 30L, 40L), dim = 64, m = 4, k = 4,
      rounds = 1)
    val policy = AnnIndex.RebuildPolicy(driftFactor = 2.0, nLists = 4,
      dim = 64, m = 4, k = 4, rounds = 1, applyRebuild = false)

    // crash AFTER both commits (the pre-existing inline hole): append
    // refuses; the restart rolls the rebuild forward
    val corpus2 = rows(0 until 80).toDF()
    val cents2 = Seq(5L, 25L, 45L, 65L)
    an[graft.ops.AnnIndex.InjectedCrash] should be thrownBy
      AnnIndex.buildCrashing(s, path, corpus2, "vec_id", "v", cents2,
        dim = 64, m = 4, k = 4, rounds = 1, crashAfter = "codes")
    an[IllegalStateException] should be thrownBy
      AnnIndex.append(s, path, rows(90 until 95).toDF(), "vec_id", "v",
        ver = 999L)
    new AnnIndex.Ingestor(s, path, "vec_id", "v", policy,
      corpus = () => corpus2)
    AnnIndex.readModel(s, path).centroids.map(_._1) shouldBe cents2
    AnnIndex.codes(s, path).count() shouldBe 80L
    AnnIndex.fsck(s, path).consistent shouldBe true

    // crash AFTER only the model commit: nothing to roll forward — the
    // restart restores the PUBLISHED model as the latest version, so
    // the untouched codes chain is appendable again
    val rolledForward = AnnIndex.readModel(s, path)
    an[graft.ops.AnnIndex.InjectedCrash] should be thrownBy
      AnnIndex.buildCrashing(s, path, corpus2, "vec_id", "v",
        Seq(1L, 2L, 3L, 4L), dim = 64, m = 4, k = 4, rounds = 1,
        crashAfter = "model")
    an[IllegalStateException] should be thrownBy
      AnnIndex.append(s, path, rows(90 until 95).toDF(), "vec_id", "v",
        ver = 999L)
    new AnnIndex.Ingestor(s, path, "vec_id", "v", policy,
      corpus = () => corpus2)
    val restored = AnnIndex.readModel(s, path)
    restored.centroids shouldBe rolledForward.centroids
    restored.pq.codebooks.flatten.flatten.toSeq shouldBe
      rolledForward.pq.codebooks.flatten.flatten.toSeq
    AnnIndex.fsck(s, path).consistent shouldBe true
    // appends flow again
    AnnIndex.append(s, path, rows(90 until 95).toDF(), "vec_id", "v",
      ver = AnnIndex.readModel(s, path).buildVer + 100L)
    AnnIndex.codes(s, path).count() shouldBe 85L
  }

  test("occupancy-triggered rebuild: coarse-quantizer skew fires the " +
       "rebuild loop even when PQ fit never drifts") {
    val s = spark
    import s.implicits._
    val path = Files.createTempDirectory("ann_occ_trig").toString + "/idx"
    // seed: balanced across the trained lists
    val seed = rows(0 until 80)
    AnnIndex.buildTrained(s, path, seed.toDF(), "vec_id", "v",
      nLists = 4, dim = 64, m = 4, k = 4, rounds = 1, kmRounds = 1)
    AnnIndex.occupancy(s, path, skewFactor = 2.5)
      .retrainRecommended shouldBe false

    // ingest batches drawn from the SEED distribution (PQ fit stays
    // ~baseline — drift can never fire at factor 100) but whose ids
    // all land in whatever list vector 7 occupies: replaying one
    // vector's direction en masse piles its list up
    val hot = (1 to 160).map(i =>
      VecRow(10000L + i, vec(7L).map(_ * (1.0 + 1e-9 * i))))
    val all = scala.collection.mutable.ArrayBuffer[VecRow](seed: _*)
    val ingestor = new AnnIndex.Ingestor(s, path, "vec_id", "v",
      AnnIndex.RebuildPolicy(driftFactor = 100.0, nLists = 4, dim = 64,
        m = 4, k = 4, rounds = 1, kmRounds = 1,
        occupancyCheckEvery = 1, occupancySkewFactor = 2.5),
      corpus = () => all.toSeq.toDF())
    all ++= hot
    val r = ingestor.ingest(hot.toDF())
    // PQ fit fine, list balance not: the audit — not drift — rebuilt
    r.drift.rebuildRecommended shouldBe false
    r.occupancy.getOrElse(fail("no audit ran"))
      .retrainRecommended shouldBe true
    val rebuilt = r.rebuilt.getOrElse(fail("occupancy did not rebuild"))
    // the rebuild is the ordinary orchestrated one: byte-identical to
    // a fresh trained build over the same corpus authority
    val refPath = Files.createTempDirectory("ann_occ_ref").toString + "/idx"
    val ref = AnnIndex.buildTrained(s, refPath, all.toSeq.toDF(),
      "vec_id", "v", nLists = 4, dim = 64, m = 4, k = 4, rounds = 1,
      kmRounds = 1)
    AnnIndex.readModel(s, path).centroids shouldBe ref.centroids
    codeSet(AnnIndex.codes(s, path)) shouldBe
      codeSet(AnnIndex.codes(s, refPath))
    ingestor.peekVer shouldBe rebuilt.buildVer + 1L
    AnnIndex.fsck(s, path).consistent shouldBe true
  }
}
