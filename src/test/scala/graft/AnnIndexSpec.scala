package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.ops.AnnIndex

/** The persisted ANN index: built once, changed between rebuilds only
  * by tombstones, answering identically to the self-contained
  * per-invocation pipeline. */
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

  test("a rebuild on an existing index path REPLACES both tables: no " +
       "old/new row mixing, dropped vectors gone, and a replayed " +
       "pre-rebuild append cannot resurrect stale rows") {
    val s = spark
    import s.implicits._
    val path = Files.createTempDirectory("ann_rebuild").toString + "/idx"
    AnnIndex.build(s, path, e.filter($"vec_id" < 400), "vec_id", "v",
      centroidIds = Cents, dim = 64, m = 4, k = 4, rounds = 1)
    // rebuild: different corpus slice (0..99 dropped), different
    // coarse centroids — everything about the old model/codes must be
    // replaced, not merged
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
    AnnIndex.fsck(s, path).consistent shouldBe true
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
    // the staged codes are exactly a full encode under the trained model
    codeRows(AnnIndex.codes(s, path)) shouldBe
      codeRows(AnnIndex.encodeWith(base, "vec_id", "v", model))
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

    // a rebuild (new corpus, new centroids) that dies after EACH of
    // its table commits, before the pointer flip
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
      // but the tombstone writers refuse an index whose model table
      // holds an unpublished rebuild commit: tombstones merged into
      // the new-model codes would publish a model mix at the next flip
      an[IllegalStateException] should be thrownBy
        AnnIndex.delete(s, path, Seq(5L), ver = 100L)
      an[IllegalStateException] should be thrownBy
        AnnIndex.purgeTombstones(s, path)
    }

    // the retried rebuild publishes whole (strictly above the debris)
    val model2 = AnnIndex.build(s, path, corpus2, "vec_id", "v",
      centroidIds = cents2, dim = 64, m = 4, k = 4, rounds = 1)
    AnnIndex.readModel(s, path).centroids.map(_._1) shouldBe cents2
    codeRows(AnnIndex.codes(s, path)) shouldBe
      codeRows(AnnIndex.encodeWith(corpus2, "vec_id", "v", model2))
    AnnIndex.fsck(s, path).consistent shouldBe true
    // and the published rebuild takes deletes again
    AnnIndex.delete(s, path, Seq(150L), ver = model2.buildVer + 1L)
    AnnIndex.codes(s, path).filter($"vec_id" === 150L).count() shouldBe 0L
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
    // fsck: clean, tombstones surfaced (present id + harmless no-op)
    val f = AnnIndex.fsck(s, path)
    f.consistent shouldBe true
    f.tombstones shouldBe 2L
    f.codeRows shouldBe rowsBefore - 1L

    // replay-idempotent: the same delete redelivered changes nothing
    AnnIndex.delete(s, path, Seq(victim, 999999L).toDF("vec_id"),
      "vec_id", ver = 2L)
    AnnIndex.fsck(s, path).tombstones shouldBe 2L
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
  }
}
