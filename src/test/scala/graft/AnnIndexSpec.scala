package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.ops.AnnIndex

/** The persisted ANN index: built once, maintained incrementally,
  * answering identically to the self-contained per-invocation
  * pipeline. */
class AnnIndexSpec extends AnyFunSuite with Matchers with SparkFixture {

  private val Cents = Seq(10L, 20L, 30L, 40L)

  private lazy val e = {
    val s = spark
    import s.implicits._
    graft.core.Tables.load(s, sf0001, "embeddings")
      .select($"vec_id", $"embedding".cast("array<double>").as("v"))
      .persist()
  }

  private def codeRows(df: org.apache.spark.sql.DataFrame): Set[String] =
    df.collect().map { r =>
      (0 until r.length).map(i => String.valueOf(r.get(i))).mkString("|")
    }.toSet

  test("staged index (x78) answers byte-identically to the " +
       "self-contained x75 pipeline") {
    graft.queries.Extensions.clearPersistedIntermediates()
    val direct = graft.queries.Extensions.x75.run(spark, sf0001)
      .collect().map(_.toString).toSeq
    val staged = graft.queries.Extensions.x78.run(spark, sf0001)
      .collect().map(_.toString).toSeq
    staged shouldBe direct
    direct should not be empty
  }

  test("staged refine (x80) answers byte-identically to the " +
       "self-contained x79 pipeline") {
    graft.queries.Extensions.clearPersistedIntermediates()
    val direct = graft.queries.Extensions.x79.run(spark, sf0001)
      .collect().map(_.toString).toSeq
    val staged = graft.queries.Extensions.x80.run(spark, sf0001)
      .collect().map(_.toString).toSeq
    staged shouldBe direct
    direct should not be empty
  }

  test("incremental append == full re-encode under the frozen model; " +
       "a re-ingested vector LWW-replaces its row") {
    val s = spark
    import s.implicits._
    val path = Files.createTempDirectory("ann_idx").toString + "/idx"
    // build on a prefix (must contain the coarse centroid ids), then
    // maintain with two later batches
    val base = e.filter($"vec_id" < 300)
    val b1 = e.filter($"vec_id" >= 300 && $"vec_id" < 400)
    val b2 = e.filter($"vec_id" >= 400)
    val model = AnnIndex.build(s, path, base, "vec_id", "v",
      centroidIds = Cents, dim = 64, m = 4, k = 4, rounds = 1)
    AnnIndex.append(s, path, b1, "vec_id", "v", ver = 2L)
    AnnIndex.append(s, path, b2, "vec_id", "v", ver = 3L)
    // staged rows == one-shot encode of the FULL corpus with the same
    // frozen model: per-batch maintenance loses nothing and encodes
    // nothing differently
    codeRows(AnnIndex.codes(s, path)) shouldBe
      codeRows(AnnIndex.encodeWith(e, "vec_id", "v", model))
    // the frozen model round-trips bit-exactly through the store
    val m2 = AnnIndex.readModel(s, path)
    m2.centroids shouldBe model.centroids
    m2.pq.codebooks.flatten.flatten.toSeq shouldBe
      model.pq.codebooks.flatten.flatten.toSeq
    // re-ingest vec 5 with changed content at a newer version: its
    // row is re-encoded and replaces the old one (LWW), everything
    // else untouched
    val updated = e.filter($"vec_id" === 5L)
      .select($"vec_id", reverse($"v").as("v"))
    AnnIndex.append(s, path, updated, "vec_id", "v", ver = 4L)
    val after = AnnIndex.codes(s, path)
    codeRows(after.filter($"vec_id" === 5L)) shouldBe
      codeRows(AnnIndex.encodeWith(updated, "vec_id", "v", model))
    codeRows(after.filter($"vec_id" =!= 5L)) shouldBe
      codeRows(AnnIndex.encodeWith(e.filter($"vec_id" =!= 5L),
        "vec_id", "v", model))
  }

  test("ingest drift: an in-distribution batch reports fit ≈ baseline; " +
       "an out-of-distribution batch recommends a rebuild — and still " +
       "lands (searchable at degraded precision)") {
    val s = spark
    import s.implicits._
    val path = Files.createTempDirectory("ann_drift").toString + "/idx"
    val model = AnnIndex.build(s, path, e.filter($"vec_id" < 400),
      "vec_id", "v", centroidIds = Cents, dim = 64, m = 4, k = 4,
      rounds = 1)
    model.baselineErr should be > 0.0
    // in-distribution: the held-out tail of the same fixture
    val ok = AnnIndex.append(s, path, e.filter($"vec_id" >= 400),
      "vec_id", "v", ver = 2L)
    ok.rebuildRecommended shouldBe false
    ok.ratio should be < 2.0
    // out-of-distribution: scale the vectors 5× — residual magnitudes
    // (and with them quantization error) blow up ~25× past anything
    // the frozen codebooks were trained to cover
    val shifted = e.filter($"vec_id" >= 400)
      .select(($"vec_id" + 10000L).as("vec_id"),
        transform($"v", x => x * 5.0).as("v"))
    val bad = AnnIndex.append(s, path, shifted, "vec_id", "v", ver = 3L)
    bad.rebuildRecommended shouldBe true
    bad.ratio should be > 2.0
    // the drifted rows are IN the index (nothing dropped while the
    // rebuild is pending)
    AnnIndex.codes(s, path).filter($"vec_id" >= 10000L).count() shouldBe
      e.filter($"vec_id" >= 400).count()
    // empty batch: no commit effect needed, NaN fit, no recommendation
    val none = AnnIndex.append(s, path, e.filter($"vec_id" < 0),
      "vec_id", "v", ver = 4L)
    none.rebuildRecommended shouldBe false
    none.batchMeanErr.isNaN shouldBe true
    // baseline round-trips through the model table
    AnnIndex.readModel(s, path).baselineErr shouldBe model.baselineErr
  }

  test("maintenance is O(touched buckets): a one-vector append's commit " +
       "generation holds one bucket dir, not the table fan-out") {
    val s = spark
    import s.implicits._
    val path = Files.createTempDirectory("ann_idx_g").toString + "/idx"
    AnnIndex.build(s, path, e, "vec_id", "v",
      centroidIds = Cents, dim = 64, m = 4, k = 4, rounds = 1,
      nBuckets = 16)
    AnnIndex.append(s, path, e.filter($"vec_id" === 7L), "vec_id", "v",
      ver = 2L)
    val gens = java.nio.file.Paths.get(path, "codes", "_gens")
    val v2gens = {
      val l = Files.list(gens)
      try {
        import scala.jdk.CollectionConverters._
        l.iterator().asScala.map(_.getFileName.toString)
          .filter(_.startsWith(f"g${2L}%020d")).toVector
      } finally l.close()
    }
    v2gens.size shouldBe 1
    val buckets = {
      val l = Files.list(gens.resolve(v2gens.head))
      try {
        import scala.jdk.CollectionConverters._
        l.iterator().asScala.map(_.getFileName.toString)
          .count(_.startsWith("__bucket="))
      } finally l.close()
    }
    buckets shouldBe 1
  }

  test("a rebuild on an existing index path REPLACES both tables: no " +
       "old/new row mixing, dropped vectors gone, and a replayed " +
       "pre-rebuild append cannot resurrect stale rows") {
    val s = spark
    import s.implicits._
    val path = Files.createTempDirectory("ann_rebuild").toString + "/idx"
    AnnIndex.build(s, path, e.filter($"vec_id" < 300), "vec_id", "v",
      centroidIds = Cents, dim = 64, m = 4, k = 4, rounds = 1)
    AnnIndex.append(s, path,
      e.filter($"vec_id" >= 300 && $"vec_id" < 400), "vec_id", "v",
      ver = 2L)
    // drift-triggered rebuild: different corpus slice (0..99 dropped),
    // different coarse centroids — everything about the old model/
    // codes must be replaced, not merged
    val corpus2 = e.filter($"vec_id" >= 100 && $"vec_id" < 500)
    val cents2 = Seq(110L, 120L, 130L, 140L)
    val model2 = AnnIndex.build(s, path, corpus2, "vec_id", "v",
      centroidIds = cents2, dim = 64, m = 4, k = 4, rounds = 1)
    // the model read back is EXACTLY the new one — a version-tied LWW
    // merge would leave a chimera of old and new centroid/codebook rows
    val m2 = AnnIndex.readModel(s, path)
    m2.centroids.map(_._1) shouldBe cents2
    m2.centroids shouldBe model2.centroids
    m2.pq.codebooks.flatten.flatten.toSeq shouldBe
      model2.pq.codebooks.flatten.flatten.toSeq
    // codes are exactly the new corpus under the new model; vectors
    // dropped from the new corpus are no longer searchable
    val expect = codeRows(AnnIndex.encodeWith(corpus2, "vec_id", "v", model2))
    codeRows(AnnIndex.codes(s, path)) shouldBe expect
    AnnIndex.codes(s, path).filter($"vec_id" < 100).count() shouldBe 0L
    // a REPLAYED pre-rebuild append (old batch version, mutated
    // content) loses LWW against the rebuilt rows
    val replay = corpus2.filter($"vec_id" === 150L)
      .select($"vec_id", transform($"v", x => -x).as("v"))
    AnnIndex.append(s, path, replay, "vec_id", "v", ver = 2L)
    codeRows(AnnIndex.codes(s, path)) shouldBe expect
    AnnIndex.fsck(s, path).consistent shouldBe true
  }

  test("index maintenance rides the dim-store policy: per-append " +
       "fragmentation heals, history vacuums, and answers are unchanged") {
    val s = spark
    import s.implicits._
    val path = Files.createTempDirectory("ann_maint").toString + "/idx"
    val model = AnnIndex.build(s, path, e.filter($"vec_id" < 300),
      "vec_id", "v", centroidIds = Cents, dim = 64, m = 4, k = 4,
      rounds = 1, nBuckets = 4)
    // 8 small appends: one commit generation each — the streaming
    // accretion shape the policy exists for
    (0 until 8).foreach { i =>
      AnnIndex.append(s, path,
        e.filter($"vec_id" >= 300 + i * 25 && $"vec_id" < 325 + i * 25),
        "vec_id", "v", ver = (i + 2).toLong)
    }
    val before = codeRows(AnnIndex.codes(s, path))
    // report-only: the tiny fixture at default byte targets reads as
    // over-fanned-out, so the policy has a recommendation — and
    // recommends without committing
    val h0 = graft.ops.DimStore.history(path + "/codes")
    val m0 = AnnIndex.maintain(s, path, maxFilesPerBucket = 2,
      apply = false)
    (m0.codes.rebucketTo.isDefined || m0.codes.compactRecommended) shouldBe true
    graft.ops.DimStore.history(path + "/codes") shouldBe h0
    // applied + vacuum: layout heals, history prunes, content identical
    val m1 = AnnIndex.maintain(s, path, maxFilesPerBucket = 2,
      vacuumKeepLast = 1, vacuumGraceMillis = 0L, occupancyCheck = true)
    m1.codes.applied should not be empty
    // the balance audit rides along WHEN ASKED FOR (it scans the codes
    // table, so layout-only maintenance defaults it off): this
    // fixture's lists are all populated, nowhere near the threshold
    m0.occupancy shouldBe None // default: no audit, no extra scan
    val occ1 = m1.occupancy.getOrElse(fail("requested audit missing"))
    occ1.nLists shouldBe Cents.size
    occ1.rows shouldBe before.size.toLong
    codeRows(AnnIndex.codes(s, path)) shouldBe before
    graft.ops.DimStore.history(path + "/codes").size shouldBe 1
    // the frozen model survives its vacuum bit-exactly
    val m2 = AnnIndex.readModel(s, path)
    m2.centroids shouldBe model.centroids
    m2.pq.codebooks.flatten.flatten.toSeq shouldBe
      model.pq.codebooks.flatten.flatten.toSeq
  }

  test("buildTrained: the trained coarse quantizer serves the full " +
       "index contract — frozen round-trip, append == full re-encode, " +
       "k answers per query") {
    val s = spark
    import s.implicits._
    val path = Files.createTempDirectory("ann_trained").toString + "/idx"
    val base = e.filter($"vec_id" < 300)
    val model = AnnIndex.buildTrained(s, path, base, "vec_id", "v",
      nLists = 4, dim = 64, m = 4, k = 4, rounds = 1, kmRounds = 2)
    model.centroids.map(_._1) shouldBe Seq(0L, 1L, 2L, 3L)
    // the trained model freezes and round-trips bit-exactly, same as
    // the fixture-id override
    val m2 = AnnIndex.readModel(s, path)
    m2.centroids shouldBe model.centroids
    m2.pq.codebooks.flatten.flatten.toSeq shouldBe
      model.pq.codebooks.flatten.flatten.toSeq
    // incremental maintenance under the trained quantizer loses nothing
    AnnIndex.append(s, path, e.filter($"vec_id" >= 300), "vec_id", "v",
      ver = 2L)
    codeRows(AnnIndex.codes(s, path)) shouldBe
      codeRows(AnnIndex.encodeWith(e, "vec_id", "v", model))
    // and the staged scoring tail answers k rows per query from it
    val probes = AnnIndex.queryProbes(e.filter($"vec_id" <= 2),
      "vec_id", "v", m2, nProbes = 2)
    val top = AnnIndex.adcTopK(s, path, probes, m2, 10)
      .groupBy($"query_id").count().collect()
    top.map(_.getLong(1)).toSeq shouldBe Seq.fill(3)(10L)
    AnnIndex.fsck(s, path).consistent shouldBe true
  }

  test("publication is atomic: a rebuild crash between ANY two commits " +
       "leaves readers on the old index byte-identically, fsck clean; " +
       "the next successful build publishes whole") {
    val s = spark
    import s.implicits._
    val path = Files.createTempDirectory("ann_atomic").toString + "/idx"
    val corpus1 = e.filter($"vec_id" < 300)
    val model1 = AnnIndex.build(s, path, corpus1, "vec_id", "v",
      centroidIds = Cents, dim = 64, m = 4, k = 4, rounds = 1)
    val queries = e.filter($"vec_id" <= 2)
    def topK(): Seq[String] = {
      val m = AnnIndex.readModel(s, path)
      val probes = AnnIndex.queryProbes(queries, "vec_id", "v", m, 2)
      AnnIndex.adcTopK(s, path, probes, m, 10)
        .orderBy($"query_id", $"rank").collect().map(_.toString).toSeq
    }
    val codes1 = codeRows(AnnIndex.codes(s, path))
    val top1 = topK()
    top1 should not be empty

    // a drift-triggered rebuild (new corpus, new centroids) that dies
    // after EACH of its table commits, before the pointer flip
    val corpus2 = e.filter($"vec_id" >= 100 && $"vec_id" < 500)
    val cents2 = Seq(110L, 120L, 130L, 140L)
    for (crashAt <- Seq("model", "codes")) {
      an[graft.ops.AnnIndex.InjectedCrash] should be thrownBy
        AnnIndex.buildCrashing(s, path, corpus2, "vec_id", "v",
          cents2, dim = 64, m = 4, k = 4, rounds = 1, crashAfter = crashAt)
      // readers resolve the OLD pointer: model, codes, and query
      // answers are byte-identical to the pre-crash index — never a
      // new-model/old-codes mix
      val m = AnnIndex.readModel(s, path)
      m.centroids shouldBe model1.centroids
      m.pq.codebooks.flatten.flatten.toSeq shouldBe
        model1.pq.codebooks.flatten.flatten.toSeq
      codeRows(AnnIndex.codes(s, path)) shouldBe codes1
      topK() shouldBe top1
      // the audit finds NOTHING on the crash path — atomicity made the
      // window invisible, fsck is a consistency audit, not a detector
      AnnIndex.fsck(s, path).consistent shouldBe true
    }

    // the retried rebuild publishes whole (strictly above the debris)
    val model2 = AnnIndex.build(s, path, corpus2, "vec_id", "v",
      centroidIds = cents2, dim = 64, m = 4, k = 4, rounds = 1)
    AnnIndex.readModel(s, path).centroids.map(_._1) shouldBe cents2
    codeRows(AnnIndex.codes(s, path)) shouldBe
      codeRows(AnnIndex.encodeWith(corpus2, "vec_id", "v", model2))
    AnnIndex.fsck(s, path).consistent shouldBe true
  }

  test("fresh-path crash publishes NOTHING: readers see 'no index', " +
       "never a partial one; the retry builds cleanly") {
    val s = spark
    import s.implicits._
    val path = Files.createTempDirectory("ann_atomic_fresh").toString + "/idx"
    val corpus = e.filter($"vec_id" < 300)
    for (crashAt <- Seq("model", "codes")) {
      an[graft.ops.AnnIndex.InjectedCrash] should be thrownBy
        AnnIndex.buildCrashing(s, path, corpus, "vec_id", "v",
          Cents, dim = 64, m = 4, k = 4, rounds = 1, crashAfter = crashAt)
      an[IllegalStateException] should be thrownBy AnnIndex.readModel(s, path)
      an[IllegalStateException] should be thrownBy AnnIndex.codes(s, path)
    }
    val model = AnnIndex.build(s, path, corpus, "vec_id", "v",
      centroidIds = Cents, dim = 64, m = 4, k = 4, rounds = 1)
    codeRows(AnnIndex.codes(s, path)) shouldBe
      codeRows(AnnIndex.encodeWith(corpus, "vec_id", "v", model))
    AnnIndex.fsck(s, path).consistent shouldBe true
  }

  test("an append crash before the pointer flip leaves the batch " +
       "committed but invisible; at-least-once redelivery lands it") {
    val s = spark
    import s.implicits._
    val path = Files.createTempDirectory("ann_atomic_app").toString + "/idx"
    val base = e.filter($"vec_id" < 300)
    val b1 = e.filter($"vec_id" >= 300 && $"vec_id" < 400)
    val model = AnnIndex.build(s, path, base, "vec_id", "v",
      centroidIds = Cents, dim = 64, m = 4, k = 4, rounds = 1)
    val before = codeRows(AnnIndex.codes(s, path))
    an[graft.ops.AnnIndex.InjectedCrash] should be thrownBy
      AnnIndex.appendCrashing(s, path, b1, "vec_id", "v", ver = 2L)
    // committed to the codes log, but unpublished: readers see the
    // pre-append snapshot, and the audit is clean
    codeRows(AnnIndex.codes(s, path)) shouldBe before
    AnnIndex.fsck(s, path).consistent shouldBe true
    // the redelivered batch re-merges idempotently and publishes
    AnnIndex.append(s, path, b1, "vec_id", "v", ver = 2L)
    codeRows(AnnIndex.codes(s, path)) shouldBe
      codeRows(AnnIndex.encodeWith(base.unionByName(b1), "vec_id", "v", model))
    AnnIndex.fsck(s, path).consistent shouldBe true
  }

  test("delete: tombstones hide vectors from every serve path at " +
       "O(touched buckets); absent-id deletes are harmless; a " +
       "re-ingest revives; fsck reports tombstones without flagging") {
    val s = spark
    import s.implicits._
    val path = Files.createTempDirectory("ann_del").toString + "/idx"
    val base = e.filter($"vec_id" < 400)
    val model = AnnIndex.build(s, path, base, "vec_id", "v",
      centroidIds = Cents, dim = 64, m = 4, k = 4, rounds = 1)
    val queries = e.filter($"vec_id" >= 400 && $"vec_id" < 410)
    val probes = AnnIndex.queryProbes(queries, "vec_id", "v", model, 2)

    // pick a vector that actually SERVES (appears in some answer)
    val beforeAns = AnnIndex.adcTopK(s, path, probes, model, 10)
      .select($"vec_id").as[Long].collect().toSet
    beforeAns should not be empty
    val victim = beforeAns.min
    val rowsBefore = AnnIndex.codes(s, path).count()

    // a STALE version (≤ the serving build's — e.g. a takedown
    // redelivered after a rebuild re-floored the counter) is refused
    // loudly: its tombstone would lose the pk-LWW merge and the
    // delete would silently no-op on the safety path
    an[IllegalArgumentException] should be thrownBy
      AnnIndex.delete(s, path, Seq(victim).toDF("vec_id"), "vec_id", ver = 1L)
    an[IllegalArgumentException] should be thrownBy
      AnnIndex.delete(s, path, Seq(victim).toDF("vec_id"), "vec_id", ver = 0L)
    AnnIndex.codes(s, path).filter($"vec_id" === victim).count() shouldBe 1L

    // one present id + one the index never held
    AnnIndex.delete(s, path, Seq(victim, 999999L).toDF("vec_id"),
      "vec_id", ver = 2L)
    // absent from the codes snapshot and from EVERY x78/x80-style
    // answer (adcTopK is the staged serve path both queries ride)
    AnnIndex.codes(s, path).filter($"vec_id" === victim).count() shouldBe 0L
    AnnIndex.codes(s, path).count() shouldBe rowsBefore - 1L
    AnnIndex.adcTopK(s, path, probes, model, 10)
      .select($"vec_id").as[Long].collect().toSet should not contain victim
    // occupancy never counts dead rows
    AnnIndex.occupancy(s, path, skewFactor = 100.0).rows shouldBe
      rowsBefore - 1L
    // fsck: clean, tombstones surfaced (present id + harmless no-op)
    val f = AnnIndex.fsck(s, path)
    f.consistent shouldBe true
    f.tombstones shouldBe 2L
    f.codeRows shouldBe rowsBefore - 1L

    // replay-idempotent: the same delete redelivered changes nothing
    AnnIndex.delete(s, path, Seq(victim, 999999L).toDF("vec_id"),
      "vec_id", ver = 2L)
    AnnIndex.fsck(s, path).tombstones shouldBe 2L

    // a re-ingest at a LATER version wins the LWW merge and revives
    AnnIndex.append(s, path, e.filter($"vec_id" === victim),
      "vec_id", "v", ver = 3L)
    AnnIndex.codes(s, path).filter($"vec_id" === victim).count() shouldBe 1L
    AnnIndex.adcTopK(s, path, probes, model, 10)
      .select($"vec_id").as[Long].collect().toSet should contain(victim)
    AnnIndex.fsck(s, path).tombstones shouldBe 1L // only the no-op left
  }

  test("delete crash window: committed but invisible until redelivery " +
       "flips") {
    val s = spark
    import s.implicits._
    val path = Files.createTempDirectory("ann_del_crash").toString + "/idx"
    val base = e.filter($"vec_id" < 300)
    val model = AnnIndex.build(s, path, base, "vec_id", "v",
      centroidIds = Cents, dim = 64, m = 4, k = 4, rounds = 1)
    val victim = AnnIndex.codes(s, path)
      .select($"vec_id").as[Long].head()

    an[graft.ops.AnnIndex.InjectedCrash] should be thrownBy
      AnnIndex.deleteCrashing(s, path, Seq(victim).toDF("vec_id"),
        "vec_id", ver = 2L)
    // tombstone committed but unpublished: the victim still serves
    AnnIndex.codes(s, path).filter($"vec_id" === victim).count() shouldBe 1L
    AnnIndex.fsck(s, path).consistent shouldBe true
    // at-least-once redelivery lands it (idempotent LWW) and flips
    AnnIndex.delete(s, path, Seq(victim).toDF("vec_id"), "vec_id", ver = 2L)
    AnnIndex.codes(s, path).filter($"vec_id" === victim).count() shouldBe 0L
  }

  test("purgeTombstones: dead rows reclaimed between rebuilds — serve " +
       "answers byte-identical, snapshot bytes shrink, the purge commit " +
       "is O(tombstoned buckets), history keeps the tombstones, and a " +
       "committed-but-unflipped purge rolls forward") {
    val s = spark
    import s.implicits._
    val path = Files.createTempDirectory("ann_purge").toString + "/idx"
    val codesTable = s"$path/codes"
    val base = e.filter($"vec_id" < 400)
    val model = AnnIndex.build(s, path, base, "vec_id", "v",
      centroidIds = Cents, dim = 64, m = 4, k = 4, rounds = 1,
      nBuckets = 16)
    val queries = e.filter($"vec_id" >= 400 && $"vec_id" < 410)
    val probes = AnnIndex.queryProbes(queries, "vec_id", "v", model, 2)
    def answers(): Set[String] = AnnIndex.adcTopK(s, path, probes, model, 10)
      .collect().map(_.mkString("|")).toSet

    // tombstone three serving vectors, then purge
    val victims = AnnIndex.adcTopK(s, path, probes, model, 10)
      .select($"vec_id").as[Long].collect().toSet.toSeq.sorted.take(3)
    AnnIndex.delete(s, path, victims.toDF("vec_id"), "vec_id", ver = 2L)
    val served = answers()
    val bytesBefore = graft.ops.DimStore
      .maintain(s, codesTable, "vec_id", apply = false).tableBytes
    val rowsBefore = AnnIndex.codes(s, path).count()

    AnnIndex.purgeTombstones(s, path) shouldBe 3L
    // byte-identical serve answers (x78/x80's adcTopK path), servable
    // rows unchanged, dead weight gone
    answers() shouldBe served
    AnnIndex.codes(s, path).count() shouldBe rowsBefore
    val f = AnnIndex.fsck(s, path)
    f.consistent shouldBe true
    f.tombstones shouldBe 0L
    // the live snapshot SHRANK (manifest-referenced bytes)
    graft.ops.DimStore.maintain(s, codesTable, "vec_id", apply = false)
      .tableBytes should be < bytesBefore
    // O(tombstoned buckets): the purge generation (version 3: build=1,
    // delete=2, purge=3) holds at most |victims| of the 16 bucket dirs
    val gens = java.nio.file.Paths.get(codesTable, "_gens")
    val purgeGen = {
      val l = Files.list(gens)
      try {
        import scala.jdk.CollectionConverters._
        l.iterator().asScala.map(_.getFileName.toString)
          .filter(_.startsWith(f"g${3L}%020d")).toVector
      } finally l.close()
    }
    purgeGen.size shouldBe 1
    val touchedDirs = {
      val l = Files.list(gens.resolve(purgeGen.head))
      try {
        import scala.jdk.CollectionConverters._
        l.iterator().asScala.map(_.getFileName.toString)
          .count(_.startsWith("__bucket="))
      } finally l.close()
    }
    touchedDirs should be <= victims.size
    // history: the pre-purge version still carries the tombstones
    // (time travel unaffected until vacuum)
    graft.ops.DimStore.read(s, codesTable, asOf = 2L)
      .filter($"list_id" < 0).count() shouldBe 3L
    // idempotent: nothing left → no commit, no flip
    val vAfter = graft.ops.DimStore.currentVersion(codesTable)
    AnnIndex.purgeTombstones(s, path) shouldBe 0L
    graft.ops.DimStore.currentVersion(codesTable) shouldBe vAfter

    // crash window: a purge that died between the deleteWhere commit
    // and the pointer flip — simulate by committing the delete
    // directly. Readers stay pointer-pinned on the tombstoned
    // snapshot (answers unchanged); the re-run purge finds nothing to
    // delete and completes the flip (roll-forward).
    val victim2 = AnnIndex.codes(s, path)
      .select($"vec_id").as[Long].head()
    AnnIndex.delete(s, path, Seq(victim2).toDF("vec_id"), "vec_id", ver = 3L)
    val served2 = answers()
    graft.ops.DimStore.deleteWhere(s, codesTable, "vec_id",
      $"list_id" < 0) shouldBe 1L // the "crash": committed, not flipped
    answers() shouldBe served2
    AnnIndex.fsck(s, path).tombstones shouldBe 1L // pinned pre-purge
    AnnIndex.purgeTombstones(s, path) shouldBe 0L // roll-forward flip
    AnnIndex.fsck(s, path).tombstones shouldBe 0L
    answers() shouldBe served2
    AnnIndex.fsck(s, path).consistent shouldBe true

    // the MAINTAIN policy route: below threshold → no purge; at
    // threshold → purge runs inside the pass and the answers hold
    val victim3 = AnnIndex.codes(s, path)
      .select($"vec_id").as[Long].head()
    AnnIndex.delete(s, path, Seq(victim3).toDF("vec_id"), "vec_id", ver = 4L)
    val served3 = answers()
    AnnIndex.maintain(s, path, purgeTombstonesOver = 2L)
      .purgedTombstones shouldBe 0L // 1 tombstone < threshold 2
    AnnIndex.fsck(s, path).tombstones shouldBe 1L
    AnnIndex.maintain(s, path, purgeTombstonesOver = 1L)
      .purgedTombstones shouldBe 1L
    AnnIndex.fsck(s, path).tombstones shouldBe 0L
    answers() shouldBe served3
    AnnIndex.fsck(s, path).consistent shouldBe true
  }

  test("a zero-error baseline never recommends a rebuild for " +
       "double-noise batches, and an append tying the build version " +
       "is rejected") {
    val s = spark
    import s.implicits._
    val path = Files.createTempDirectory("ann_zero_base").toString + "/idx"
    // corpus = exactly the coarse centroids: every residual is the
    // zero vector, so the trained codebooks reproduce the build
    // corpus perfectly and baselineErr is exactly 0.0
    val model = AnnIndex.build(s, path, e.filter($"vec_id".isin(Cents: _*)),
      "vec_id", "v", centroidIds = Cents, dim = 64, m = 4, k = 4,
      rounds = 1)
    model.baselineErr shouldBe 0.0
    model.buildVer shouldBe 1L
    // an append at the build's own version would make new-vs-rebuilt
    // survival a LWW hash tie-break — rejected loudly
    an[IllegalArgumentException] should be thrownBy
      AnnIndex.append(s, path, e.filter($"vec_id" === 10L),
        "vec_id", "v", ver = 1L)
    // ulp-perturbed copies of the centroids: quantization error is
    // nonzero but double-precision noise — a naive batchErr/0.0 ratio
    // would be Infinity and spuriously demand a rebuild
    val noise = e.filter($"vec_id".isin(Cents: _*))
      .select(($"vec_id" + 1000L).as("vec_id"),
        transform($"v", x => x + lit(1e-13)).as("v"))
    val ok = AnnIndex.append(s, path, noise, "vec_id", "v", ver = 2L)
    ok.rebuildRecommended shouldBe false
    ok.buildVer shouldBe 1L
    // genuine drift on the same zero baseline IS still caught
    val drifted = e.filter($"vec_id".isin(Cents: _*))
      .select(($"vec_id" + 2000L).as("vec_id"),
        transform($"v", x => x * 5.0).as("v"))
    val bad = AnnIndex.append(s, path, drifted, "vec_id", "v", ver = 3L)
    bad.rebuildRecommended shouldBe true
    bad.ratio.isPosInfinity shouldBe true
  }

  test("occupancy audit: a skewed coarse quantizer is flagged for " +
       "re-train; a balanced one is not") {
    val s = spark
    import s.implicits._
    // four well-separated anchor directions; the corpus piles 91 of
    // 100 vectors onto anchor 0 — the hot-list shape a stale coarse
    // quantizer produces when the corpus distribution narrows (at
    // 100 TB the hot list's probe IS a partial corpus scan)
    def anchor(a: Int, id: Long): Seq[Double] =
      Seq.tabulate(64)(i =>
        (if (i % 4 == a) 1.0 else 0.02) +
          1e-3 * math.sin(id.toDouble * (i + 1)))
    val skewed = (
      (0 until 4).map(a => VecRow(a.toLong, anchor(a, a.toLong))) ++
      (4 until 95).map(i => VecRow(i.toLong, anchor(0, i.toLong))) ++
      (95 until 101).map(i => VecRow(i.toLong, anchor(1 + i % 3, i.toLong)))
    ).toDF()
    val skewPath = Files.createTempDirectory("ann_occ_skew").toString + "/idx"
    AnnIndex.build(s, skewPath, skewed, "vec_id", "v",
      centroidIds = Seq(0L, 1L, 2L, 3L), dim = 64, m = 4, k = 4,
      rounds = 1)
    val occ = AnnIndex.occupancy(s, skewPath, skewFactor = 3.0)
    occ.nLists shouldBe 4
    occ.rows shouldBe 101L
    occ.maxRows should be >= 92L // anchor-0 list: 91 piles + centroid 0
    occ.maxMeanRatio should be > 3.0
    occ.retrainRecommended shouldBe true
    // and the report rides maintain() — the cadence hook a streaming
    // deployment actually runs
    AnnIndex.maintain(s, skewPath, occupancyCheck = true,
        occupancySkewFactor = 3.0)
      .occupancy.exists(_.retrainRecommended) shouldBe true

    // balanced control: same corpus spread evenly over the anchors
    val balanced = (0 until 100).map(i =>
      VecRow(i.toLong, anchor(i % 4, i.toLong))).toDF()
    val balPath = Files.createTempDirectory("ann_occ_bal").toString + "/idx"
    AnnIndex.build(s, balPath, balanced, "vec_id", "v",
      centroidIds = Seq(0L, 1L, 2L, 3L), dim = 64, m = 4, k = 4,
      rounds = 1)
    val bal = AnnIndex.occupancy(s, balPath, skewFactor = 3.0)
    bal.maxMeanRatio should be < 1.5
    bal.retrainRecommended shouldBe false
  }
}
