package graft

import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.ops.DimStore

/** The Delta/Iceberg-style commit protocol on DimStore: versioned
  * snapshots in `_commits/`, snapshot-isolated reads, time travel,
  * optimistic concurrent committers (loser detects + retries), explicit
  * vacuum, and crash windows that can never lose a committed version. */
class VersionedStoreSpec extends AnyFunSuite with Matchers with SparkFixture {

  private def fresh(prefix: String): String =
    Files.createTempDirectory(prefix).toString + "/dim"

  test("each upsert commits one version; time travel reads any retained one") {
    val s = spark
    import s.implicits._
    val path = fresh("vs_tt")
    DimStore.upsert(s, path,
      Seq((1L, "alice", 10L), (2L, "bob", 10L)).toDF("id", "name", "ver"),
      "id", "ver", nBuckets = 8)
    DimStore.upsert(s, path,
      Seq((1L, "alice2", 20L), (3L, "carol", 20L)).toDF("id", "name", "ver"),
      "id", "ver")
    DimStore.history(path) shouldBe Seq(1L, 2L)
    DimStore.currentVersion(path) shouldBe Some(2L)
    // latest: LWW over both commits
    DimStore.read(s, path).select("id", "name").as[(Long, String)]
      .collect().sorted shouldBe Seq((1L, "alice2"), (2L, "bob"), (3L, "carol"))
    // as-of v1: the world before the second commit
    DimStore.read(s, path, asOf = 1L).select("id", "name").as[(Long, String)]
      .collect().sorted shouldBe Seq((1L, "alice"), (2L, "bob"))
    // a never-committed version is an explicit error naming what exists
    val e = intercept[IllegalArgumentException] {
      DimStore.read(s, path, asOf = 7L).collect()
    }
    e.getMessage should include("7")
    e.getMessage should include("1, 2")
  }

  test("time travel still works across a compaction commit") {
    val s = spark
    import s.implicits._
    val path = fresh("vs_compact_tt")
    DimStore.upsert(s, path,
      (1L to 20L).map(i => (i, s"v$i", 1L)).toDF("id", "name", "ver"),
      "id", "ver", nBuckets = 8)
    DimStore.upsert(s, path,
      Seq((1L, "CHANGED", 2L)).toDF("id", "name", "ver"), "id", "ver")
    DimStore.compact(s, path) // commits v3: rewritten layout, same rows
    DimStore.history(path) shouldBe Seq(1L, 2L, 3L)
    DimStore.read(s, path).count() shouldBe 20
    DimStore.read(s, path).filter($"id" === 1L).select("name")
      .as[String].head() shouldBe "CHANGED"
    // v3 (compacted) is row-identical to v2
    DimStore.read(s, path, asOf = 2L).select("id", "name", "ver")
      .as[(Long, String, Long)].collect().toSet shouldBe
      DimStore.read(s, path).select("id", "name", "ver")
        .as[(Long, String, Long)].collect().toSet
    // v1 (pre-update, pre-compaction) still shows the original row
    DimStore.read(s, path, asOf = 1L).filter($"id" === 1L).select("name")
      .as[String].head() shouldBe "v1"
  }

  test("concurrent committers: every batch's effects land; versions are " +
       "a gapless monotonic chain (losers retried, none dropped)") {
    val s = spark
    import s.implicits._
    val path = fresh("vs_concurrent")
    // seed so both writers race on the merge path, not creation
    DimStore.upsert(s, path,
      Seq((0L, "seed", 0L)).toDF("id", "name", "ver"), "id", "ver",
      nBuckets = 4)
    val threads = (1 to 4).map { t =>
      new Thread(() => {
        (1 to 3).foreach { i =>
          val pk = t * 100L + i
          DimStore.upsert(s, path,
            Seq((pk, s"w$t-$i", i.toLong)).toDF("id", "name", "ver"),
            "id", "ver")
        }
      })
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    // 1 seed + 12 upserts = 13 commits, consecutive versions: the
    // atomic claim means losers RETRY (new version), never overwrite
    DimStore.history(path) shouldBe (1L to 13L)
    val got = DimStore.read(s, path).select("id", "name")
      .as[(Long, String)].collect().toMap
    got.size shouldBe 13
    for (t <- 1 to 4; i <- 1 to 3) got(t * 100L + i) shouldBe s"w$t-$i"
  }

  test("deleteWhere: bucket-scoped deletion — only touched buckets get " +
       "a new generation, an emptied bucket leaves the manifest, a " +
       "no-match is a no-commit, history keeps the rows, and later " +
       "upserts land normally") {
    val s = spark
    import s.implicits._
    val path = fresh("vs_delw")
    // ids 1..40 across 8 buckets; flag a small subset for deletion
    DimStore.upsert(s, path,
      (1L to 40L).map(i => (i, if (i <= 3) "dead" else "live", 1L))
        .toDF("id", "state", "ver"),
      "id", "ver", nBuckets = 8)

    DimStore.deleteWhere(s, path, "id", $"state" === "dead") shouldBe 3L
    DimStore.currentVersion(path) shouldBe Some(2L)
    DimStore.read(s, path).count() shouldBe 37L
    DimStore.read(s, path).filter($"state" === "dead").count() shouldBe 0L
    // v1 still carries the deleted rows (time travel until vacuum)
    DimStore.read(s, path, asOf = 1L).count() shouldBe 40L
    // O(touched buckets): the delete generation holds at most the 3
    // victims' buckets, not the table's 8
    val gens = Paths.get(path, "_gens")
    val delGen = {
      val l = Files.list(gens)
      try {
        import scala.jdk.CollectionConverters._
        l.iterator().asScala.map(_.getFileName.toString)
          .filter(_.startsWith(f"g${2L}%020d")).toVector
      } finally l.close()
    }
    delGen.size shouldBe 1
    val touched = {
      val l = Files.list(gens.resolve(delGen.head))
      try {
        import scala.jdk.CollectionConverters._
        l.iterator().asScala.map(_.getFileName.toString)
          .count(_.startsWith("__bucket="))
      } finally l.close()
    }
    touched should be <= 3

    // no match → NO commit (version unchanged)
    DimStore.deleteWhere(s, path, "id", $"state" === "dead") shouldBe 0L
    DimStore.currentVersion(path) shouldBe Some(2L)

    // EMPTIED buckets leave the manifest: keep a single row — every
    // bucket but the keeper's (and any it shares) drops out, and the
    // snapshot reads exactly the keeper
    DimStore.deleteWhere(s, path, "id", $"id" =!= 4L) shouldBe 36L
    DimStore.read(s, path).select("id", "state").as[(Long, String)]
      .collect() shouldBe Array((4L, "live"))
    // later upserts land normally on the shrunken manifest
    DimStore.upsert(s, path,
      Seq((100L, "fresh", 9L)).toDF("id", "state", "ver"), "id", "ver")
    DimStore.read(s, path).count() shouldBe 2L
    // and the pre-delete history is still intact
    DimStore.read(s, path, asOf = 1L).count() shouldBe 40L
    // deleting EVERY row is refused loudly (a zero-bucket manifest
    // would be schema-less and wedge reads; a drop must be explicit)
    an[IllegalStateException] should be thrownBy
      DimStore.deleteWhere(s, path, "id", $"id" >= 0L)
    DimStore.read(s, path).count() shouldBe 2L
  }

  test("deleteWhere NULL-predicate rows are KEPT (SQL DELETE semantics) " +
       "and never counted — a nullable column in the predicate must not " +
       "silently drop rows from rewritten buckets") {
    val s = spark
    import s.implicits._
    val path = fresh("vs_delnull")
    // state nullable: rows where the predicate evaluates to NULL must
    // survive the delete (filter(pred) AND filter(!pred) both drop them
    // — the raw pair loses the row; the store must not)
    DimStore.upsert(s, path,
      Seq((1L, Some("dead"), 1L), (2L, None, 1L), (3L, Some("live"), 1L),
          (4L, None, 1L), (5L, Some("dead"), 1L))
        .toDF("id", "state", "ver"),
      "id", "ver", nBuckets = 4)
    DimStore.deleteWhere(s, path, "id", $"state" === "dead") shouldBe 2L
    DimStore.read(s, path).select("id").as[Long].collect().sorted shouldBe
      Seq(2L, 3L, 4L)
    // the null rows are really there, nulls intact
    DimStore.read(s, path).filter($"state".isNull).count() shouldBe 2L
  }

  test("deleteWhere allowEmpty: an everything-matched delete EMPTIES the " +
       "table but keeps it readable (schema preserved) and upsertable — " +
       "the safety-path form that must not wedge a takedown cadence") {
    val s = spark
    import s.implicits._
    val path = fresh("vs_delempty")
    DimStore.upsert(s, path,
      (1L to 5L).map(i => (i, s"v$i", 1L)).toDF("id", "name", "ver"),
      "id", "ver", nBuckets = 4)
    DimStore.deleteWhere(s, path, "id", $"id" >= 0L,
      allowEmpty = true) shouldBe 5L
    // empty but READABLE: 0 rows, schema intact
    val empty = DimStore.read(s, path)
    empty.count() shouldBe 0L
    empty.columns.toSet shouldBe Set("id", "name", "ver")
    // history still time-travels across the emptying commit
    DimStore.read(s, path, asOf = 1L).count() shouldBe 5L
    // later upserts land normally on the emptied table
    DimStore.upsert(s, path,
      Seq((9L, "fresh", 3L)).toDF("id", "name", "ver"), "id", "ver")
    DimStore.read(s, path).select("id", "name").as[(Long, String)]
      .collect() shouldBe Array((9L, "fresh"))
    DimStore.read(s, path, asOf = 1L).count() shouldBe 5L
  }

  test("deleteKeys: the join route (keys as a DataFrame, broadcast hash " +
       "anti/semi — no literal inlining) equals the predicate route; a " +
       "row hit by several cols counts once; a NULL col never matches") {
    val s = spark
    import s.implicits._
    val path = fresh("vs_delkeys")
    // an edge-like table: (a, b) endpoints, b nullable
    DimStore.upsert(s, path,
      Seq((1L, 1L, Some(2L)),   // hit on BOTH cols — must count once
          (2L, 1L, Some(3L)),   // hit on a
          (3L, 4L, Some(1L)),   // hit on b
          (4L, 5L, None),       // null b never matches
          (5L, 6L, Some(7L)))   // untouched
        .map { case (pk, a, b) => (pk, a, b, 1L) }
        .toDF("pk", "a", "b", "ver"),
      "pk", "ver", nBuckets = 4)
    DimStore.deleteKeys(s, path, "pk",
      Seq(1L).toDF("id"), Seq("a", "b")) shouldBe 3L
    DimStore.read(s, path).select("pk").as[Long].collect().sorted shouldBe
      Seq(4L, 5L)
    // no match → no commit, same contract as deleteWhere
    val v = DimStore.currentVersion(path)
    DimStore.deleteKeys(s, path, "pk",
      Seq(99L).toDF("id"), Seq("a", "b")) shouldBe 0L
    DimStore.currentVersion(path) shouldBe v
    // everything-matched without allowEmpty is refused loudly
    an[IllegalStateException] should be thrownBy
      DimStore.deleteKeys(s, path, "pk", Seq(5L, 6L).toDF("id"), Seq("a"))
    // ...and with allowEmpty empties but keeps the table readable
    DimStore.deleteKeys(s, path, "pk", Seq(5L, 6L).toDF("id"), Seq("a"),
      allowEmpty = true) shouldBe 2L
    DimStore.read(s, path).count() shouldBe 0L
    DimStore.read(s, path).columns.toSet shouldBe Set("pk", "a", "b", "ver")
  }

  test("rewrite racing concurrent upserts: no committed row is ever " +
       "dropped (the transform re-derives from the merged base on retry)") {
    val s = spark
    import s.implicits._
    val path = fresh("vs_rewrite_race")
    DimStore.upsert(s, path,
      Seq((0L, "seed", 0L)).toDF("id", "name", "ver"), "id", "ver",
      nBuckets = 4)
    val upserters = (1 to 3).map { t =>
      new Thread(() => {
        (1 to 4).foreach { i =>
          DimStore.upsert(s, path,
            Seq((t * 100L + i, s"w$t-$i", i.toLong)).toDF("id", "name", "ver"),
            "id", "ver")
        }
      })
    }
    // identity-content rewrites interleaved with the upserts: each is a
    // full-snapshot replacement commit, so a stale base that raced a
    // concurrent upsert would DROP that upsert's row if the transform
    // were not re-applied per attempt
    val rewriter = new Thread(() => {
      (1 to 3).foreach(_ => DimStore.rewrite(s, path, "id")(df => df))
    })
    (upserters :+ rewriter).foreach(_.start())
    (upserters :+ rewriter).foreach(_.join())
    // 1 seed + 12 upserts + 3 rewrites = 16 gapless commits
    DimStore.history(path) shouldBe (1L to 16L)
    val got = DimStore.read(s, path).select("id", "name")
      .as[(Long, String)].collect().toMap
    got.size shouldBe 13
    for (t <- 1 to 3; i <- 1 to 4) got(t * 100L + i) shouldBe s"w$t-$i"
  }

  test("vacuum retires old versions and their unreferenced generations; " +
       "retained versions keep reading") {
    val s = spark
    import s.implicits._
    val path = fresh("vs_vacuum")
    (1 to 5).foreach { i =>
      DimStore.upsert(s, path,
        Seq((i.toLong, s"v$i", i.toLong)).toDF("id", "name", "ver"),
        "id", "ver", nBuckets = 4)
    }
    DimStore.history(path) shouldBe (1L to 5L)
    val removed = DimStore.vacuum(s, path, keepLast = 2, graceMillis = 0L)
    removed should be > 0
    DimStore.history(path) shouldBe Seq(4L, 5L)
    DimStore.read(s, path).count() shouldBe 5
    DimStore.read(s, path, asOf = 4L).count() shouldBe 4
    an[IllegalArgumentException] should be thrownBy
      DimStore.read(s, path, asOf = 1L).collect()
    // every surviving generation is referenced by a retained manifest
    val gens = Files.list(Paths.get(path, "_gens"))
    val names = try {
      import scala.jdk.CollectionConverters._
      gens.iterator().asScala.map(_.getFileName.toString)
        .filter(_.startsWith("g")).toVector
    } finally gens.close()
    // v1..v3-only generations are gone: nothing older than v4 unless
    // v4/v5 still reference it
    names.foreach { n =>
      val v = n.stripPrefix("g").takeWhile(_ != '-').toLong
      if (v < 4L) {
        // must be referenced by a kept manifest (shared generation)
        val kept = Seq(4L, 5L).flatMap { kv =>
          Files.readAllLines(Paths.get(path, "_commits",
            f"$kv%020d.manifest")).toArray.map(_.toString)
        }
        kept.exists(_.contains(n)) shouldBe true
      }
    }
  }

  test("crash window A: a generation written but never committed leaves " +
       "the table at the old version; vacuum sweeps the orphan") {
    val s = spark
    import s.implicits._
    val path = fresh("vs_crashA")
    DimStore.upsert(s, path,
      Seq((1L, "a", 1L)).toDF("id", "name", "ver"), "id", "ver", nBuckets = 4)
    DimStore.upsert(s, path,
      Seq((2L, "b", 2L)).toDF("id", "name", "ver"), "id", "ver")
    // fake a committer that crashed after writing its generation for
    // candidate v3 but before claiming the manifest
    val orphan = Paths.get(path, "_gens", f"g${3L}%020d-deadbeef")
    Files.createDirectories(orphan.resolve("__bucket=0"))
    Files.writeString(orphan.resolve("__bucket=0").resolve("junk"), "x")
    DimStore.currentVersion(path) shouldBe Some(2L)
    DimStore.read(s, path).count() shouldBe 2 // orphan invisible
    // once the table advances past the orphan's version, vacuum can
    // tell it from an in-flight commit and removes it
    DimStore.upsert(s, path,
      Seq((3L, "c", 3L)).toDF("id", "name", "ver"), "id", "ver")
    DimStore.vacuum(s, path, keepLast = 3, graceMillis = 0L) should be >= 1
    Files.exists(orphan) shouldBe false
    DimStore.read(s, path).count() shouldBe 3
  }

  test("crash window B: commit landed but root projection didn't — " +
       "readers see the committed version and the projection self-heals") {
    val s = spark
    import s.implicits._
    val path = fresh("vs_crashB")
    DimStore.upsert(s, path,
      Seq((1L, "a", 1L)).toDF("id", "name", "ver"), "id", "ver", nBuckets = 4)
    DimStore.upsert(s, path,
      Seq((1L, "a2", 2L)).toDF("id", "name", "ver"), "id", "ver")
    // simulate the crash: roll the projection marker back to v1 and
    // delete a projected bucket dir outright
    Files.writeString(Paths.get(path, "_graft_view"), "1")
    val bucket = Files.list(Paths.get(path)).filter(p =>
      p.getFileName.toString.startsWith("__bucket=")).findFirst().get()
    Files.walk(bucket).sorted(java.util.Comparator.reverseOrder())
      .forEach(f => Files.deleteIfExists(f))
    // manifest-resolved read is unaffected AND repairs the projection
    DimStore.read(s, path).select("name").as[String].head() shouldBe "a2"
    // root (name-based) readers now see exactly the committed state
    s.read.parquet(path).select("name").as[String].head() shouldBe "a2"
    Files.readString(Paths.get(path, "_graft_view")).trim shouldBe "2"
  }

  test("a legacy (pre-commit-log) bucketed store migrates on first " +
       "upsert: every row kept, fan-out marker wins, later commits pruned") {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.functions.{col, hash, lit, pmod}
    val path = fresh("vs_legacy")
    // forge the old layout: __bucket=k partition dirs at root, fan-out
    // marker, no _commits — what a pre-versioning build (or a stale
    // staged base) left behind
    (1L to 30L).map(i => (i, s"v$i", 1L)).toDF("id", "name", "ver")
      .withColumn("__bucket", pmod(hash(col("id")), lit(8)).cast("int"))
      .write.partitionBy("__bucket").parquet(path)
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    val out = fs.create(new org.apache.hadoop.fs.Path(path, "_graft_buckets"), true)
    out.write("8".getBytes); out.close()
    // first upsert folds table + batch into commit v1 (the caller's
    // drifted fan-out loses to the table's marker)
    DimStore.upsert(s, path,
      Seq((1L, "NEW", 2L), (99L, "ADDED", 2L)).toDF("id", "name", "ver"),
      "id", "ver", nBuckets = 64)
    DimStore.currentVersion(path) shouldBe Some(1L)
    val got = DimStore.read(s, path).select("id", "name")
      .as[(Long, String)].collect().toMap
    got.size shouldBe 31
    got(1L) shouldBe "NEW"
    got(99L) shouldBe "ADDED"
    got(2L) shouldBe "v2"
    // the migrated table kept the 8-way fan-out, not the caller's 64
    val rootBuckets = Files.list(Paths.get(path)).filter(p =>
      p.getFileName.toString.startsWith("__bucket=")).count()
    rootBuckets should be <= 8L
    // later upserts are pruned commits on the migrated table
    DimStore.upsert(s, path,
      Seq((2L, "X", 3L)).toDF("id", "name", "ver"), "id", "ver")
    DimStore.history(path) shouldBe Seq(1L, 2L)
    DimStore.read(s, path).count() shouldBe 31
  }

  test("_version_hint: resolution is O(1) files on the hot path — no full " +
       "log listing however long the history — and every broken-hint shape " +
       "falls back, stays correct, and repairs the hint") {
    val s = spark
    import s.implicits._
    val path = fresh("vs_hint")
    DimStore.upsert(s, path,
      Seq((1L, "a", 1L)).toDF("id", "name", "ver"), "id", "ver", nBuckets = 4)
    DimStore.upsert(s, path,
      Seq((2L, "b", 2L)).toDF("id", "name", "ver"), "id", "ver")
    val hint = Paths.get(path, "_commits", "_version_hint")
    // the committer maintains the pointer
    Files.readString(hint).trim shouldBe "2"
    // forge a 100-commit-deep history: versions 3..102 sharing v2's
    // generations (valid manifests — generations are shared on purpose,
    // exactly what a long run of no-op-bucket commits produces)
    val body = Files.readString(Paths.get(path, "_commits", f"${2L}%020d.manifest"))
    (3L to 102L).foreach { v =>
      Files.writeString(Paths.get(path, "_commits", f"$v%020d.manifest"),
        body.replaceFirst("v=2", s"v=$v"))
    }
    // stale hint (2, actual 102): probe-forward resolves WITHOUT a
    // listing and repairs the pointer for the next reader
    DimStore.logListings.set(0)
    DimStore.currentVersion(path) shouldBe Some(102L)
    DimStore.logListings.get() shouldBe 0
    Files.readString(hint).trim shouldBe "102"
    // hot read path: repeated snapshot reads never list the log
    (1 to 5).foreach(_ => DimStore.read(s, path).count() shouldBe 2)
    DimStore.logListings.get() shouldBe 0
    // corrupt hint → listing fallback, correct answer, hint restored
    Files.writeString(hint, "not-a-number")
    DimStore.currentVersion(path) shouldBe Some(102L)
    DimStore.logListings.get() should be >= 1L
    Files.readString(hint).trim shouldBe "102"
    // bogus too-HIGH hint (points past the log, e.g. debris of a failed
    // experiment): fallback resolves AND replaces it — forward-only
    // writing must not wedge the pointer above reality forever
    Files.writeString(hint, "999")
    DimStore.currentVersion(path) shouldBe Some(102L)
    Files.readString(hint).trim shouldBe "102"
    // missing hint (pre-hint table / deleted): same fallback + repair
    Files.delete(hint)
    DimStore.currentVersion(path) shouldBe Some(102L)
    Files.readString(hint).trim shouldBe "102"
    // vacuum keeps the newest versions, so the hint stays valid after
    // retirement; history (an explicitly O(history) call) agrees
    DimStore.vacuum(s, path, keepLast = 2) // removes nothing shared, retires manifests
    DimStore.history(path) shouldBe Seq(101L, 102L)
    DimStore.logListings.set(0)
    DimStore.currentVersion(path) shouldBe Some(102L)
    DimStore.logListings.get() shouldBe 0
  }

  test("vacuum grace window: a reader holding a retired version's manifest " +
       "survives a concurrent vacuum; files go only after the stamp ages") {
    val s = spark
    import s.implicits._
    val path = fresh("vs_grace")
    // same pk every commit: each new generation REWRITES the pk's
    // bucket, so older generations become unreferenced (vacuumable) —
    // distinct pks would leave every generation shared with the head
    (1 to 3).foreach { i =>
      DimStore.upsert(s, path,
        Seq((1L, s"v$i", i.toLong)).toDF("id", "name", "ver"),
        "id", "ver", nBuckets = 4)
    }
    // a reader pins v1 BEFORE the vacuum (plan resolved, scan deferred
    // — the shape of a long-running job that listed its files already)
    val pinned = DimStore.read(s, path, asOf = 1L)
    // vacuum with the default grace: v1/v2 manifests retire immediately
    // (history shrinks), but their generations are stamped, not deleted
    DimStore.vacuum(s, path, keepLast = 1) shouldBe 0
    DimStore.history(path) shouldBe Seq(3L)
    // the pinned reader still scans clean — its files are untouched
    pinned.count() shouldBe 1
    pinned.select("name").as[String].head() shouldBe "v1"
    // stamps exist on the retired generations
    val gd = Paths.get(path, "_gens")
    val stamped = {
      val l = Files.list(gd)
      try {
        import scala.jdk.CollectionConverters._
        l.iterator().asScala.filter(p =>
          Files.exists(p.resolve("_RETIRED"))).toVector
      } finally l.close()
    }
    stamped should not be empty
    // a second vacuum inside the window still deletes nothing
    DimStore.vacuum(s, path, keepLast = 1) shouldBe 0
    pinned.count() shouldBe 1
    // age the stamps out and vacuum again: now the files go
    stamped.foreach { g =>
      Files.writeString(g.resolve("_RETIRED"),
        (System.currentTimeMillis() - DimStore.VacuumGraceMillis - 1000L).toString)
    }
    DimStore.vacuum(s, path, keepLast = 1) should be >= stamped.size
    stamped.foreach(g => Files.exists(g) shouldBe false)
    // the current version is of course unaffected throughout
    DimStore.read(s, path).select("name").as[String].head() shouldBe "v3"
  }

  test("LogStore seam: the commit/race/compact/vacuum/time-travel matrix " +
       "holds with the log routed through the Hadoop FileContext store " +
       "(the remote-filesystem path, exercised on local file://)") {
    val s = spark
    import s.implicits._
    val root = Files.createTempDirectory("vs_hadoop").toString
    val path = root + "/dim"
    DimStore.routeLogViaHadoop(root)
    try {
      // create + upsert: two commits, LWW read, time travel
      DimStore.upsert(s, path,
        Seq((1L, "alice", 10L), (2L, "bob", 10L)).toDF("id", "name", "ver"),
        "id", "ver", nBuckets = 4)
      DimStore.upsert(s, path,
        Seq((1L, "alice2", 20L), (3L, "carol", 20L)).toDF("id", "name", "ver"),
        "id", "ver")
      DimStore.history(path) shouldBe Seq(1L, 2L)
      DimStore.currentVersion(path) shouldBe Some(2L)
      DimStore.read(s, path).select("id", "name").as[(Long, String)]
        .collect().sorted shouldBe
        Seq((1L, "alice2"), (2L, "bob"), (3L, "carol"))
      DimStore.read(s, path, asOf = 1L).select("id", "name").as[(Long, String)]
        .collect().sorted shouldBe Seq((1L, "alice"), (2L, "bob"))
      // concurrent committers: the claim must still admit exactly one
      // winner per version (Hadoop route: no-overwrite rename under the
      // in-JVM claim lock — Delta LocalLogStore's contract)
      val threads = (1 to 4).map { t =>
        new Thread(() => {
          (1 to 3).foreach { i =>
            val pk = t * 100L + i
            DimStore.upsert(s, path,
              Seq((pk, s"w$t-$i", i.toLong)).toDF("id", "name", "ver"),
              "id", "ver")
          }
        })
      }
      threads.foreach(_.start())
      threads.foreach(_.join())
      DimStore.history(path) shouldBe (1L to 14L)
      val got = DimStore.read(s, path).select("id", "name")
        .as[(Long, String)].collect().toMap
      got.size shouldBe 15
      for (t <- 1 to 4; i <- 1 to 3) got(t * 100L + i) shouldBe s"w$t-$i"
      // compaction + rebucket commits ride the same protocol
      DimStore.compact(s, path)
      DimStore.rebucket(s, path, "id", newBuckets = 8)
      DimStore.history(path) shouldBe (1L to 16L)
      DimStore.read(s, path).count() shouldBe 15
      DimStore.read(s, path, asOf = 14L).count() shouldBe 15
      // full-content rewrite (the DELETE/shrink primitive) rides it
      // too: retention-prune the worker rows, keep the named ones;
      // the pruned snapshot is one more time-travelable version
      DimStore.rewrite(s, path, "id")(df => df.filter($"id" < 100))
      DimStore.history(path) shouldBe (1L to 17L)
      DimStore.read(s, path).count() shouldBe 3
      DimStore.read(s, path, asOf = 16L).count() shouldBe 15
      // vacuum: manifests retire, unreferenced generations delete
      DimStore.vacuum(s, path, keepLast = 2, graceMillis = 0L) should be > 0
      DimStore.history(path) shouldBe Seq(16L, 17L)
      DimStore.read(s, path).count() shouldBe 3
      an[IllegalArgumentException] should be thrownBy
        DimStore.read(s, path, asOf = 1L).collect()
      // the root projection (name-based readers) equals the manifest
      // snapshot — on a no-hardlink filesystem the clone is a copy
      s.read.parquet(path).select("id", "name").as[(Long, String)]
        .collect().toSet shouldBe
        DimStore.read(s, path).select("id", "name").as[(Long, String)]
          .collect().toSet
    } finally DimStore.unrouteLogViaHadoop(root)
  }

  test("LogStore seam model fuzz: random upsert sequences with a mid-history " +
       "compact and rebucket match the reference LWW map through the " +
       "Hadoop route; the log stays a gapless chain") {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(42)
    val root = Files.createTempDirectory("vs_hfuzz").toString
    val path = root + "/dim"
    DimStore.routeLogViaHadoop(root)
    try {
      val model = scala.collection.mutable.Map[Long, (String, Long)]()
      (1 to 10).foreach { step =>
        val perPk = (1 to (1 + rnd.nextInt(15))).map { _ =>
          val pk = rnd.nextInt(30).toLong
          (pk, s"v$step-$pk", step.toLong)
        }.distinct.groupBy(_._1).map(_._2.head).toSeq
        perPk.foreach { case (pk, n, v) =>
          if (model.get(pk).forall(_._2 <= v)) model(pk) = (n, v)
        }
        DimStore.upsert(s, path, perPk.toDF("id", "name", "ver"),
          "id", "ver", nBuckets = 8)
        // maintenance commits mid-history: same optimistic protocol,
        // must be row-invisible to the model
        if (step == 4) DimStore.compact(s, path)
        if (step == 7) DimStore.rebucket(s, path, "id", 16)
      }
      val got = DimStore.read(s, path).select("id", "name", "ver")
        .as[(Long, String, Long)].collect()
        .map(r => r._1 -> ((r._2, r._3))).toMap
      got shouldBe model.toMap
      // 10 upserts + compact + rebucket = 12 commits, gapless
      DimStore.history(path) shouldBe (1L to 12L)
      // and the projection agrees for name-based readers
      s.read.parquet(path).count() shouldBe model.size.toLong
    } finally DimStore.unrouteLogViaHadoop(root)
  }

  test("rebucket: fan-out evolution as a commit — reads agree before and " +
       "after, time travel crosses the boundary, later upserts are " +
       "O(touched) at the NEW fan-out, shrink removes orphan root dirs") {
    val s = spark
    import s.implicits._
    val path = fresh("vs_rebucket")
    // v1: 40 pks at fan-out 8; v2: one update
    DimStore.upsert(s, path,
      (1L to 40L).map(i => (i, s"v$i", 1L)).toDF("id", "name", "ver"),
      "id", "ver", nBuckets = 8)
    DimStore.upsert(s, path,
      Seq((1L, "CHANGED", 2L)).toDF("id", "name", "ver"), "id", "ver")
    // v3: widen 8 -> 32
    DimStore.rebucket(s, path, "id", newBuckets = 32)
    DimStore.history(path) shouldBe Seq(1L, 2L, 3L)
    val expect = (2L to 40L).map(i => (i, s"v$i")).toSet + ((1L, "CHANGED"))
    DimStore.read(s, path).select("id", "name").as[(Long, String)]
      .collect().toSet shouldBe expect
    // time travel across the fan-out boundary: v2 resolves its own
    // manifest (n=8) and scans the old-layout generations untouched
    DimStore.read(s, path, asOf = 2L).select("id", "name").as[(Long, String)]
      .collect().toSet shouldBe expect
    DimStore.read(s, path, asOf = 1L).filter($"id" === 1L)
      .select("name").as[String].head() shouldBe "v1"
    // a later upsert reads the new fan-out from the manifest and
    // rewrites ONLY the touched bucket: the v4 generation holds one
    // bucket dir, not 32
    DimStore.upsert(s, path,
      Seq((7L, "SEVEN", 3L)).toDF("id", "name", "ver"), "id", "ver")
    val v4gens = {
      val l = Files.list(Paths.get(path, "_gens"))
      try {
        import scala.jdk.CollectionConverters._
        l.iterator().asScala.map(_.getFileName.toString)
          .filter(_.startsWith(f"g${4L}%020d")).toVector
      } finally l.close()
    }
    v4gens.size shouldBe 1
    val v4buckets = {
      val l = Files.list(Paths.get(path, "_gens", v4gens.head))
      try {
        import scala.jdk.CollectionConverters._
        l.iterator().asScala.map(_.getFileName.toString)
          .count(_.startsWith("__bucket="))
      } finally l.close()
    }
    v4buckets shouldBe 1
    DimStore.read(s, path).filter($"id" === 7L).select("name")
      .as[String].head() shouldBe "SEVEN"
    // shrink 32 -> 4: the root projection must drop the bucket dirs the
    // new manifest no longer references (a stale projection dir would
    // leak duplicate rows into every name-based root scan)
    DimStore.rebucket(s, path, "id", newBuckets = 4)
    val rootBuckets = {
      val l = Files.list(Paths.get(path))
      try {
        import scala.jdk.CollectionConverters._
        l.iterator().asScala.map(_.getFileName.toString)
          .count(_.startsWith("__bucket="))
      } finally l.close()
    }
    rootBuckets should be <= 4
    s.read.parquet(path).select("id", "name").as[(Long, String)]
      .collect().toSet shouldBe (expect - ((7L, "v7")) + ((7L, "SEVEN")))
    // the whole history is still a gapless chain and vacuumable
    DimStore.history(path) shouldBe (1L to 5L)
    DimStore.vacuum(s, path, keepLast = 1, graceMillis = 0L) should be > 0
    DimStore.read(s, path).count() shouldBe 40
  }

  test("the root projection always equals the manifest-resolved snapshot " +
       "(what catalog/name-based readers consume)") {
    val s = spark
    import s.implicits._
    val path = fresh("vs_proj")
    (1 to 4).foreach { i =>
      DimStore.upsert(s, path,
        (1L to 10L).map(k => (k, s"r$i-$k", i.toLong)).toDF("id", "name", "ver"),
        "id", "ver", nBuckets = 8)
    }
    val viaManifest = DimStore.read(s, path)
      .select("id", "name", "ver").as[(Long, String, Long)].collect().toSet
    val viaRoot = s.read.parquet(path)
      .select("id", "name", "ver").as[(Long, String, Long)].collect().toSet
    viaRoot shouldBe viaManifest
    viaRoot.size shouldBe 10
  }
}
