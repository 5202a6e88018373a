package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.ops.DimStore

/** DimStore.maintain — the measured-policy wrapper over rebucket/
  * compact: thresholds crossed → maintenance commit; inside the band →
  * no-op. */
class MaintainSpec extends AnyFunSuite with Matchers with SparkFixture {

  /** Bytes of the generation(s) committed at `version` — what that
    * commit physically wrote (the measurement of SCALEPROBE.md
    * "Rebucket write amplification (round 11)"). */
  private def genBytes(path: String, version: Long): Long = {
    val gd = Paths.get(path, "_gens")
    val l = Files.list(gd)
    try {
      import scala.jdk.CollectionConverters._
      l.iterator().asScala
        .filter(_.getFileName.toString.startsWith(f"g$version%020d"))
        .map { g =>
          val w = Files.walk(g)
          try w.iterator().asScala.filter(Files.isRegularFile(_))
            .map(Files.size).sum
          finally w.close()
        }.sum
    } finally l.close()
  }

  test("a table grown past its fan-out gets rebucketed by the policy and " +
       "later one-pk upserts write a fraction of the bytes") {
    val s = spark
    import s.implicits._
    val path = Files.createTempDirectory("maint_grow").toString + "/dim"
    // ~2 MB of payload at fan-out 2: every one-pk upsert rewrites ~1 MB
    val base = s.range(20000L).select(col("id"),
      concat_ws("-", md5(col("id").cast("string")),
        md5((col("id") + 1).cast("string"))).as("payload"),
      lit(1L).as("ver"))
    DimStore.upsert(s, path, base, "id", "ver", nBuckets = 2)
    DimStore.upsert(s, path,
      Seq((42L, "probe", 2L)).toDF("id", "payload", "ver"), "id", "ver")
    val narrowBytes = genBytes(path, 2L)

    val m = DimStore.maintain(s, path, "id",
      targetBucketBytes = 64L * 1024)
    m.buckets shouldBe 2
    m.rebucketTo shouldBe defined
    m.rebucketTo.get should be >= 8
    m.applied shouldBe Seq(s"rebucket(${m.rebucketTo.get})")
    DimStore.history(path) shouldBe Seq(1L, 2L, 3L) // policy committed v3

    DimStore.upsert(s, path,
      Seq((4242L, "probe2", 3L)).toDF("id", "payload", "ver"), "id", "ver")
    val wideBytes = genBytes(path, 4L)
    // amplification drops ≈ fan-out ratio; assert a conservative 2×
    wideBytes.toDouble should be < narrowBytes.toDouble / 2
    // rows and LWW state untouched by the maintenance commit
    DimStore.read(s, path).count() shouldBe 20000L
    DimStore.read(s, path).filter($"id" === 42L).select("payload")
      .as[String].head() shouldBe "probe"

    // the policy is stable: immediately re-running it at the SAME
    // target recommends nothing (hysteresis band)
    val m2 = DimStore.maintain(s, path, "id", targetBucketBytes = 64L * 1024)
    m2.rebucketTo shouldBe None
    m2.compactRecommended shouldBe false
    m2.applied shouldBe empty
  }

  test("fragmented buckets (file-split debris) trigger a policy compact; " +
       "a healthy table is a no-op") {
    val s = spark
    import s.implicits._
    val path = Files.createTempDirectory("maint_frag").toString + "/dim"
    // ~512 KB at fan-out 4 ⇒ with targetBucketBytes=128 KB the desired
    // fan-out equals the current one — no rebucket interference
    val base = s.range(5000L).select(col("id"),
      concat_ws("-", md5(col("id").cast("string")),
        md5((col("id") + 1).cast("string"))).as("payload"),
      lit(1L).as("ver"))
    DimStore.upsert(s, path, base, "id", "ver", nBuckets = 4)
    // shatter the layout: a size-capped compaction at a tiny target
    // splits every bucket into many small files
    DimStore.compact(s, path, targetFileBytes = 8L * 1024)
    val m0 = DimStore.maintain(s, path, "id",
      targetBucketBytes = 128L * 1024, apply = false)
    m0.maxFilesPerBucketSeen should be > 4
    m0.rebucketTo shouldBe None
    m0.compactRecommended shouldBe true
    m0.applied shouldBe empty // report-only mode never commits

    val m1 = DimStore.maintain(s, path, "id",
      targetBucketBytes = 128L * 1024)
    m1.applied shouldBe Seq("compact")
    // healed: files per bucket back under the bound, rows intact
    val m2 = DimStore.maintain(s, path, "id",
      targetBucketBytes = 128L * 1024)
    m2.maxFilesPerBucketSeen should be <= 4
    m2.compactRecommended shouldBe false
    m2.applied shouldBe empty
    DimStore.read(s, path).count() shouldBe 5000L
  }

  test("an empty snapshot (all rows rewritten away) is a policy no-op, " +
       "not a crash — a scheduled maintenance job survives it") {
    val s = spark
    import s.implicits._
    val path = Files.createTempDirectory("maint_empty").toString + "/dim"
    DimStore.upsert(s, path,
      Seq((1L, "x", 1L), (2L, "y", 1L)).toDF("id", "payload", "ver"),
      "id", "ver", nBuckets = 4)
    DimStore.rewrite(s, path, "id")(df => df.filter(lit(false)))
    // the empty snapshot reads as None (read() throws loudly on it —
    // the store's documented empty-manifest contract)
    DimStore.readIfExists(s, path) shouldBe None
    val m = DimStore.maintain(s, path, "id")
    m.rebucketTo shouldBe None
    m.compactRecommended shouldBe false
    m.applied shouldBe empty
    // content returning later re-arms the policy normally
    DimStore.upsert(s, path,
      Seq((3L, "z", 2L)).toDF("id", "payload", "ver"), "id", "ver")
    DimStore.read(s, path).count() shouldBe 1L
  }

  test("a non-power-of-two maxBuckets is an honest ceiling: the chosen " +
       "fan-out is the largest power of two under it, never past it") {
    val s = spark
    import s.implicits._
    val path = Files.createTempDirectory("maint_cap").toString + "/dim"
    val base = s.range(2000L).select(col("id"),
      md5(col("id").cast("string")).as("payload"), lit(1L).as("ver"))
    DimStore.upsert(s, path, base, "id", "ver", nBuckets = 2)
    // a 1-byte bucket target wants thousands of buckets; maxBuckets=6
    // must cap the recommendation at 4 (largest power of two <= 6),
    // not let the doubling loop overshoot to 8
    val m = DimStore.maintain(s, path, "id",
      targetBucketBytes = 1L, maxBuckets = 6, apply = false)
    m.rebucketTo shouldBe Some(4)
  }

  test("the dim router runs the policy every N upserting batches: a table " +
       "grown mid-stream gets rebucketed by the pipeline itself and " +
       "row-level state survives the maintenance commit") {
    import graft.streaming.{DimRouter, TableProcess}
    val s = spark
    import s.implicits._
    val base = Files.createTempDirectory("maint_route").toString
    val tp = TableProcess("src_users", "dim_users", "id,payload", "id")
    val policy = DimRouter.MaintenancePolicy(
      everyBatches = 2, targetBucketBytes = 64L * 1024)
    val path = s"$base/dim_users"
    // 6 growing micro-batches: ~340 KB of payload lands at the default
    // creation fan-out (64 — wildly over-fanned for this size, every
    // scan touching 64 near-empty buckets); the policy check fires on
    // batches 2/4/6 and must commit the corrective shrink rebucket on
    // its own
    (1 to 6).foreach { i =>
      val batch = s.range((i - 1) * 1000L, i * 1000L).select(
        lit("src_users").as("source_table"), col("id"),
        concat_ws("-", md5(col("id").cast("string")),
          md5((col("id") + 1).cast("string"))).as("payload"),
        lit(i.toLong).as("ver"))
      DimRouter.routeBatch(batch, Seq(tp), base, "ver",
        maintenance = Some(policy))
    }
    val m = DimRouter.lastMaintenance.get(path)
    m should not be null
    val applied = DimStore.history(path).size
    // 6 upsert commits + at least one policy maintenance commit
    applied should be > 6
    withClue(s"last report: $m ") {
      DimStore.read(s, path).count() shouldBe 6000L
    }
    // the policy really changed the layout: fan-out moved off the
    // over-fanned creation default toward the byte-load target
    val m2 = DimStore.maintain(s, path, "id",
      targetBucketBytes = 64L * 1024, apply = false)
    m2.buckets should be < graft.ops.DimStore.NumBuckets
    // report-only mode measures but never commits
    val before = DimStore.history(path)
    DimRouter.lastMaintenance.remove(path)
    val reportOnly = policy.copy(everyBatches = 1, applyActions = false,
      targetBucketBytes = 1L)
    val b7 = s.range(6000L, 6001L).select(
      lit("src_users").as("source_table"), col("id"),
      lit("x").as("payload"), lit(7L).as("ver"))
    DimRouter.routeBatch(b7, Seq(tp), base, "ver",
      maintenance = Some(reportOnly))
    val rep = DimRouter.lastMaintenance.get(path)
    rep should not be null
    rep.applied shouldBe empty
    rep.rebucketTo shouldBe defined
    DimStore.history(path) shouldBe (before ++ Seq(before.last + 1)) // just the upsert
    // scheduled history vacuum: per-batch commits accrete versions, and
    // the policy prunes them on its cadence
    DimStore.history(path).size should be > 2
    val b8 = s.range(6001L, 6002L).select(
      lit("src_users").as("source_table"), col("id"),
      lit("y").as("payload"), lit(8L).as("ver"))
    DimRouter.routeBatch(b8, Seq(tp), base, "ver",
      maintenance = Some(reportOnly.copy(vacuumKeepLast = 2,
        vacuumGraceMillis = 0L)))
    DimStore.history(path).size shouldBe 2
    DimStore.read(s, path).count() shouldBe 6002L
  }
}
