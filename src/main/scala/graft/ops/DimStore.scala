package graft.ops

import java.nio.charset.StandardCharsets

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions.{broadcast, coalesce, col, count, hash, lit, max, pmod, row_number, struct}
import org.apache.spark.sql.types.{IntegerType, StructField, StructType}

/** K3/K4 — keyed upsert (MERGE) dim store over parquet, with a
  * Delta/Iceberg-style versioned-snapshot commit protocol.
  *
  * The reference upserts each record into Phoenix/HBase via JDBC
  * (app/func/DimSinkFunction.java:13-33, utils/PhoenixUtil.java:23-63)
  * and creates tables on demand from config
  * (app/func/TableProcessFunction.java:48-102). The Spark-native
  * equivalent is a MERGE into a table keyed on the configured pk:
  *
  *   merged = existing ∪ batch → keep latest per pk (by version column)
  *
  * == Table format ==
  *
  * Data files are IMMUTABLE once written; table state is defined by a
  * commit log, the same architecture as Delta's `_delta_log` /
  * Iceberg's metadata tree (public format specs):
  *
  * {{{
  * table/
  *   _commits/00000000000000000007.manifest   commit log (source of truth)
  *   _gens/g00000000000000000007-ab12cdef/    immutable per-commit data
  *          __bucket=k/part-*.parquet
  *   __bucket=k/                              hardlink PROJECTION of the
  *                                            latest manifest (see below)
  *   _graft_buckets, _graft_view              fan-out + projection markers
  * }}}
  *
  * A manifest records the table version, the bucket fan-out, and which
  * generation currently owns each `__bucket=k`. Commits are published
  * by an atomic create-if-absent of the next version's manifest file.
  * Exactly one of any set of concurrent committers wins a version;
  * losers detect the collision, discard their candidate generation,
  * re-merge against the winner's manifest and retry at the next
  * version — optimistic concurrency, the same loser-retries contract
  * as Delta's commit protocol. All log IO routes through the
  * [[LogStore]] seam (Delta's public `LogStore` pattern), chosen per
  * table path: `file:`/schemeless paths get [[PosixLogStore]] (the
  * claim is a hard link of a temp file — the posix primitive that
  * fails, atomically, when the target exists); any other scheme gets
  * [[HadoopLogStore]] (write-temp + `FileContext.rename(Rename.NONE)`,
  * which the HDFS NameNode executes atomically — Delta `HDFSLogStore`'s
  * exact recipe), so the versioned store runs wherever a Hadoop
  * filesystem with atomic rename does. Raw S3 needs a coordination
  * service exactly as Delta's S3 LogStore does — it would slot in
  * behind the same trait.
  *
  * Because every manifest is a SELF-CONTAINED snapshot (the full
  * bucket→generation map, not a delta), the Delta-checkpoint problem
  * reduces to finding the newest manifest without listing the whole
  * log: a `_commits/_version_hint` pointer (Iceberg's
  * `version-hint.text` pattern, public spec) is rewritten after every
  * commit, and [[currentVersion]] reads it and probes forward — O(1)
  * files per resolution however long the history grows, with a full
  * listing only as the fallback for a missing/stale-past-vacuum hint.
  *
  * == Snapshot isolation & time travel ==
  *
  * [[read(spark:org\.apache\.spark\.sql\.SparkSession,path:String)* read]]
  * pins the latest manifest at call time and reads only the generations
  * it references — a concurrent commit cannot tear the scan.
  * [[read(spark:org\.apache\.spark\.sql\.SparkSession,path:String,asOf:Long)* read(asOf)]]
  * reads any still-retained historical version; [[history]] lists them;
  * [[vacuum]] retires old versions and deletes the generations only
  * they reference (explicit, like Delta's VACUUM — time travel works
  * until vacuumed, never silently), with a grace window: retired
  * generations are stamped in place and deleted only after the stamp
  * ages, so in-flight readers of a just-retired version finish clean.
  *
  * == The root projection ==
  *
  * Name-based readers (the K4 catalog tables DimRouter registers read
  * the table ROOT with recursiveFileLookup) can't resolve manifests, so
  * the root `__bucket=k` dirs are maintained as a HARDLINK projection of
  * the latest manifest — zero data copied, refreshed per commit, and
  * self-healing: [[recover]] re-projects any bucket whose view drifted
  * from the log. Spark's file listing hides `_`/`.`-prefixed dirs
  * (except `name=value` partition dirs), so `_commits`/`_gens` are
  * invisible to root readers while the `__bucket=k` projection is
  * visible — historical generations never leak into a root scan.
  *
  * == Scale contract (unchanged from the unversioned store) ==
  *
  * The table is hash-bucketed on the pk (k = pmod(hash(pk), n)); an
  * upsert reads and rewrites ONLY the buckets containing batch pks —
  * O(touched buckets) write amplification, the plain-parquet analogue
  * of Delta MERGE's O(touched files). A 100 TB dim with a micro-batch
  * touching few keys rewrites a bounded fraction of the table per
  * commit; untouched generations are untouched bytes. Crash contract:
  * data generations land before the manifest, so a crash anywhere
  * leaves the table at the OLD version with (at worst) an orphaned,
  * unreferenced generation that the next vacuum removes; a replayed
  * micro-batch re-merges idempotently (deterministic LWW winner per
  * pk), so effects are exactly-once after replay (K2).
  */
object DimStore {

  /** Bucket fan-out. Fixed at table creation (changing it means a
    * rewrite); 64 bounds worst-case upsert write amplification at
    * 1/64th of the table while keeping small dims from fragmenting
    * into thousands of near-empty files. */
  val NumBuckets = 64

  /** Scale-adaptive fan-out for a table whose creation-time row count
    * is known: ~4k rows per bucket, clamped to [1, NumBuckets]. A
    * 256-row journal laid out at the full 64-bucket default pays 63
    * near-empty files PER GENERATION — every read lists and opens all
    * of them, every syncView clones all of them, every writeGen
    * fans out into all of them (measured: the dominant cost of the
    * fixture-scale lifecycle queries) — while any table past ~256k
    * rows still gets the full production fan-out. Callers that expect
    * growth beyond the creation-time estimate size for the target
    * (or rebucket later, the supported path). */
  def bucketsFor(rows: Long): Int =
    math.max(1L, math.min(NumBuckets.toLong, (rows + 4095L) / 4096L)).toInt

  /** Sentinel for [[upsert]]'s `nBuckets`: size the creation-time
    * fan-out as [[bucketsFor]] of the batch's OWN row count, measured
    * by the commit's existing stats probe — so a caller journaling one
    * batch into a fresh table needs no separate `count()` action (one
    * full materialization of the batch lineage) just to pick the
    * fan-out. Tables that already exist ignore `nBuckets` entirely,
    * exactly as before. */
  val SizeFromBatch: Int = -1
  private val BucketCol = "__bucket"

  private def bucketOf(pk: String, n: Int) =
    pmod(hash(col(pk)), lit(n)).cast("int")

  /** `bucketOf(pk, n)` is EXACTLY Spark's `HashPartitioning(pk, n)`
    * partition id (`pmod(murmur3(pk), n)`), so `repartition(n,
    * col(pk))` lands every row in the partition whose index IS its
    * bucket. The merge/rewrite writers exploit that: one exchange
    * both clusters by pk (satisfying the LWW window's required
    * distribution — no second shuffle before the window) and yields
    * the one-file-per-bucket layout `writeGen(onePerBucket = true)`
    * used to buy with its own extra `repartition(BucketCol)`
    * exchange. Layout is belt-and-braces: `partitionBy(BucketCol)`
    * routes rows to the right DIRS from the column value regardless,
    * so the alignment only governs file counts, never correctness. */
  private def bucketAligned(df: DataFrame, pk: String, n: Int): DataFrame =
    df.repartition(n, col(pk))

  // -------------------------------------------------------------------
  // small-commit planning session. AQE executes every action stage by
  // stage — one Spark job per exchange materialization — so a
  // fixture-scale commit pays 2-3 jobs (each ~50 ms scheduling floor
  // plus 40-130 ms of per-action planning, measured per job on w17:
  // ~6 jobs / ~0.55 s per apply; OPTIMIZATION_r21.md, store-commit
  // machinery) for plans AQE cannot improve:
  // the generation write's partitioning is an explicit repartition AQE
  // never rewrites, and the commit probes are bounded-cardinality
  // aggregations over the bucket fan-out. Running those actions on a
  // PRIVATE child session with AQE off collapses each to one job. The
  // routing is DATA-derived (measured table/batch size, never host
  // cores), so a 100 TB table keeps the caller's session and its AQE
  // skew handling — the same doctrine as the contraction loop's
  // width derivation (guide §2).

  /** Working-set bytes below which a commit's write runs AQE-off: past
    * this, lineage re-execution (cache eviction) wants AQE back. */
  private val SmallCommitBytes = 256L * 1024 * 1024

  /** Batch rows below which the merged write is "small" (the batch was
    * just counted by the touched-bucket probe, so this is free). */
  private val SmallCommitRows = 200000L

  /** Estimated table bytes from ≤4 sampled buckets — O(1) metadata
    * calls per commit (a posix walk / getContentSummary RPC each), so
    * the smallness decision never costs a Spark job, and a 100 TB
    * table exits "small" on the first sampled bucket. */
  private def approxTableBytes(path: String, m: Manifest): Long = {
    val entries = m.gens.toSeq.sortBy(_._1)
    if (entries.isEmpty) return 0L
    val sample = entries.take(4)
    val st = store(path)
    val sampled = sample.map { case (b, g) => st.treeBytes(bucketPath(path, g, b)) }.sum
    (sampled.toDouble / sample.size * entries.size).toLong
  }

  /** The private commit-planning sessions: AQE off, shuffle width =
    * the bucket fan-out capped at the CALLER session's own setting
    * (bounded-cardinality probe exchanges need no more; the write's
    * width is its explicit repartition either way). CACHED per
    * (parent session, width) — a fresh child pays a full SessionState
    * build (analyzer/optimizer instantiation, ~0.3 s) on first use,
    * which per commit would cost more than the jobs it saves; cached
    * children amortize it across every commit the parent ever runs.
    * Weak parent keys: a retired spec session releases its children.
    * Each child's conf is set ONCE at creation and never mutated, so
    * concurrent commits can share them safely. */
  private val commitSessions =
    new java.util.WeakHashMap[SparkSession,
      scala.collection.mutable.Map[Int, SparkSession]]()

  private[graft] def commitSession(spark: SparkSession, width: Int): SparkSession = {
    val w = math.max(1, math.min(
      spark.sessionState.conf.numShufflePartitions, width))
    commitSessions.synchronized {
      val byWidth = commitSessions.computeIfAbsent(spark,
        _ => scala.collection.mutable.Map.empty)
      byWidth.getOrElseUpdate(w, {
        val s = spark.newSession()
        s.conf.set("spark.sql.adaptive.enabled", "false")
        s.conf.set("spark.sql.shuffle.partitions", w.toString)
        s
      })
    }
  }

  /** Re-plan `df` on `s` (no-op when already there): shared-context
    * child sessions see the same cache manager, so persisted inputs
    * keep their cache hits under the re-analysis. */
  private def onSession(df: DataFrame, s: SparkSession): DataFrame =
    if (s eq df.sparkSession) df
    else org.apache.spark.sql.GraftPlanBridge.ofRows(
      s, df.queryExecution.logical)

  // -------------------------------------------------------------------
  // commit log — all IO through the LogStore seam. PosixLogStore's
  // FileContext-free nio route doubles as the no-.crc-sidecar
  // guarantee; HadoopLogStore uses FileContext (raw fs) for the same
  // reason.

  private final case class Manifest(version: Long, buckets: Int,
                                    gens: Map[Int, String])

  private val ManifestSuffix = ".manifest"

  /** Test hook: table-path prefixes whose log IO is forced through
    * [[HadoopLogStore]] even on `file:`/schemeless paths, so the
    * remote-filesystem route is exercisable without a remote fs
    * (VersionedStoreSpec runs the commit/race/vacuum/time-travel
    * matrix through both stores). */
  private val hadoopRouted =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  private[graft] def routeLogViaHadoop(prefix: String): Unit = {
    hadoopRouted.add(prefix); ()
  }
  private[graft] def unrouteLogViaHadoop(prefix: String): Unit = {
    hadoopRouted.remove(prefix); ()
  }

  /** Routing-table prefix match on a PATH boundary: `/a/b` captures
    * `/a/b` and `/a/b/...`, never the sibling `/a/bc` — a raw
    * startsWith would silently send a sibling table's commits through
    * another table's routed store. */
  private def routeMatches(pre: String, path: String): Boolean =
    pre == path || path.startsWith(pre + "/")

  /** The [[LogStore]] for a table path: posix (hard-link claim) for
    * local paths, Hadoop (no-overwrite-rename claim) for any remote
    * scheme or a [[routeLogViaHadoop]] prefix. Per-path, so one JVM can
    * serve both kinds of table at once. */
  private def store(path: String): LogStore = {
    import scala.jdk.CollectionConverters._
    val scheme = new Path(path).toUri.getScheme
    val posix = scheme == null || scheme == "file"
    if (posix && !hadoopRouted.asScala.exists(routeMatches(_, path)))
      PosixLogStore
    else HadoopLogStore
  }

  private def commitsDir(path: String) = s"$path/_commits"
  private def gensDir(path: String)    = s"$path/_gens"
  private def viewFile(path: String)   = s"$path/_graft_view"

  private def manifestName(v: Long) = f"$v%020d$ManifestSuffix"
  private def manifestPath(path: String, v: Long) =
    s"${commitsDir(path)}/${manifestName(v)}"

  private def isVersioned(path: String): Boolean =
    store(path).isDir(commitsDir(path))

  /** Full `_commits/` directory listings performed (test hook: pins the
    * O(1)-files-per-resolution contract of the version hint — a hot
    * read path must not bump this however long the history grows). */
  private[graft] val logListings = new java.util.concurrent.atomic.AtomicLong

  /** All committed (still-retained) versions, ascending. O(history)
    * directory listing — correct always, and the fallback when the
    * version hint is missing or stale; hot paths go through
    * [[currentVersion]] instead. */
  def history(path: String): Seq[Long] = {
    val st = store(path)
    if (!st.isDir(commitsDir(path))) Nil
    else {
      logListings.incrementAndGet()
      st.list(commitsDir(path))
        .filter(n => n.endsWith(ManifestSuffix) && !n.startsWith("."))
        .map(_.stripSuffix(ManifestSuffix).toLong).sorted
    }
  }

  // ---- `_commits/_version_hint`: Iceberg's version-hint.text pattern.
  // The hint is an OPTIMIZATION ONLY — best-effort written, never the
  // source of truth. A reader trusts it only when the hinted manifest
  // actually exists, then probes forward (versions are dense integers,
  // so the newest retained version is the last in an unbroken run);
  // a missing/corrupt/vacuumed-past hint falls back to the full
  // listing and rewrites the hint for the next reader.

  private def hintFile(path: String) = s"${commitsDir(path)}/_version_hint"

  private def readHint(path: String): Option[Long] =
    try Some(store(path).readString(hintFile(path)).trim.toLong)
    catch { case _: java.io.IOException | _: NumberFormatException => None }

  /** Advance the hint to `v`. Default is forward-only — a slow
    * committer of v−1 finishing after the committer of v must not move
    * the pointer backwards; staleness is survivable, churn is
    * pointless. `force` is for the listing fallback, which has just
    * authoritatively resolved the log and must be able to REPLACE a
    * bogus too-high hint (which forward-only would keep forever,
    * condemning every later resolution to the full listing). Failures
    * are swallowed: the listing fallback owns correctness. */
  private def writeHint(path: String, v: Long, force: Boolean = false): Unit =
    try {
      if (force || readHint(path).forall(_ < v))
        store(path).writeAtomic(hintFile(path), v.toString)
    } catch { case _: java.io.IOException => () }

  /** The table's current committed version (None before first commit
    * and for legacy/flat stores). O(1) files touched when the hint is
    * fresh: read hint, stat the hinted manifest, stat one-past-the-end;
    * each stale step adds one stat. Only a missing/unusable hint pays
    * the O(history) listing. */
  def currentVersion(path: String): Option[Long] =
    readHint(path) match {
      case Some(h) if store(path).exists(manifestPath(path, h)) =>
        var v = h
        while (store(path).exists(manifestPath(path, v + 1))) v += 1
        if (v != h) writeHint(path, v)
        Some(v)
      case _ =>
        val r = history(path).lastOption
        r.foreach(writeHint(path, _, force = true))
        r
    }

  /** Manifests are IMMUTABLE once published (the atomic create-if-
    * absent claim means a version's content can never change), so
    * reads are cached — a per-micro-batch committer re-resolves the
    * same manifest several times (recover, merge base, view sync), and
    * each re-read would otherwise be file IO. The cache key is the
    * store's file IDENTITY (one stat, an order cheaper than
    * read+parse): size + mtime + — on posix — the inode `fileKey`, so
    * a table deleted and recreated at the same path gets a fresh entry
    * instead of resurrecting the old table's generation map even when
    * the replacement manifest matches byte length and mtime millisecond
    * (inodes differ); a vacuumed manifest stops being servable the
    * moment its file is gone (the stat throws — callers that can race
    * a vacuum catch it and re-resolve). Bounded by wholesale clear
    * (entries are tiny; 4096 ≈ years of retained history across every
    * table a JVM touches). */
  private val manifestCache =
    new java.util.concurrent.ConcurrentHashMap[(String, Long, AnyRef), Manifest]()

  private def readManifest(path: String, v: Long): Manifest = {
    val st = store(path)
    val file = manifestPath(path, v)
    val key = (new Path(path).toString, v, st.identity(file))
    val hit = manifestCache.get(key)
    if (hit != null) hit
    else {
      val lines = st.readString(file).linesIterator.toVector
      val n = lines.collectFirst { case l if l.startsWith("n=") => l.drop(2).toInt }
        .getOrElse(throw new IllegalStateException(s"manifest $v of $path has no fan-out"))
      val gens = lines.collect { case l if l.startsWith("b=") =>
        val Array(b, g) = l.drop(2).split("\t", 2)
        b.toInt -> g
      }
      val m = Manifest(v, n, gens.toMap)
      if (manifestCache.size > 4096) manifestCache.clear()
      manifestCache.put(key, m)
      m
    }
  }

  private def tryReadManifest(path: String, v: Long): Option[Manifest] =
    try Some(readManifest(path, v))
    catch { case _: java.io.IOException | _: java.nio.file.NoSuchFileException => None }

  private def latest(path: String): Option[Manifest] =
    currentVersion(path) match {
      case None => None
      case Some(v) =>
        try Some(readManifest(path, v))
        catch { case _: java.nio.file.NoSuchFileException |
                     _: java.io.FileNotFoundException =>
          // a stale hint raced a concurrent vacuum: the probed version's
          // manifest is gone by the time we read it. Re-resolve from the
          // authoritative listing and repair the hint.
          history(path).lastOption.map { w =>
            writeHint(path, w, force = true)
            readManifest(path, w)
          }
        }
    }

  /** Publish manifest `m` iff version `m.version` is still unclaimed.
    * Returns false when a concurrent committer won the version — the
    * caller re-merges against the winner and retries. Atomicity is the
    * [[LogStore.createIfAbsent]] contract (posix hard-link claim /
    * Hadoop no-overwrite rename); readers can never observe a
    * partially-written manifest. */
  private def tryCommit(path: String, m: Manifest): Boolean = {
    val body = (s"v=${m.version}" +: s"n=${m.buckets}" +:
      m.gens.toSeq.sortBy(_._1).map { case (b, g) => s"b=$b\t$g" })
      .mkString("", "\n", "\n")
    val won = store(path).createIfAbsent(manifestPath(path, m.version), body)
    if (won) writeHint(path, m.version)
    won
  }

  /** Write `merged` (carrying BucketCol) as a new immutable generation
    * for candidate version `v`; returns the generation dir name. The
    * write lands in a hidden temp dir and is renamed into `_gens` in
    * one atomic same-fs move, so a generation is either fully present
    * or absent. */
  /** `onePerBucket = true` (the upsert paths) repartitions on the
    * bucket key first: without it every upstream task writes a file
    * into every bucket dir it has rows for (tasks × buckets files per
    * generation — file-count bloat that taxes the readback, the
    * hardlink projection, and eventually compaction); with it each
    * bucket is one task → one file. Compaction passes `false` — it
    * already owns its partitioning (bucket + size salt, so an
    * over-target bucket deliberately splits across several files) and
    * a blanket bucket repartition here would collapse that back to
    * one. */
  private def writeGen(merged: DataFrame, path: String, v: Long,
                       onePerBucket: Boolean = true): String = {
    val st = store(path)
    val gd = gensDir(path)
    st.mkdirs(gd)
    val nonce = java.util.UUID.randomUUID().toString.take(8)
    val genName = f"g$v%020d-$nonce"
    val tmp = s"$gd/.w-$genName"
    val laidOut = if (onePerBucket) merged.repartition(col(BucketCol)) else merged
    laidOut.write.mode("overwrite").partitionBy(BucketCol).parquet(tmp)
    st.rename(tmp, s"$gd/$genName")
    // prime the generation-schema cache from what we just wrote (the
    // files carry exactly this schema minus the partition column) —
    // later snapshot reads then never touch a footer
    primeGenSchema(path, genName, StructType(
      laidOut.schema.fields.filterNot(_.name == BucketCol)))
    genName
  }

  private def genVersionOf(genName: String): Long =
    genName.stripPrefix("g").takeWhile(_ != '-').toLong

  private def bucketDirsOf(path: String, gen: String): Seq[Int] =
    store(path).list(s"${gensDir(path)}/$gen")
      .filter(_.startsWith(s"$BucketCol="))
      .map(_.stripPrefix(s"$BucketCol=").toInt).sorted

  private def bucketPath(path: String, gen: String, b: Int): String =
    s"$path/_gens/$gen/$BucketCol=$b"

  /** Per-generation file schema, cached forever: a generation is
    * IMMUTABLE once renamed into `_gens`, and every data file in one
    * carries the same schema (each write path lands exactly one
    * DataFrame per generation). So ONE footer read per generation — driver-side,
    * no Spark job — replaces the `mergeSchema` scan the snapshot
    * readers used to pay per READ: a distributed footer-merge job over
    * every selected file, ~0.1–0.5 s per read at the ~50 ms job floor
    * (measured as 2–5 of the store lifecycle queries' jobs each).
    * Cache key mirrors [[manifestCache]]'s (path, name) identity;
    * bounded by wholesale clear. */
  private val genSchemaCache =
    new java.util.concurrent.ConcurrentHashMap[(String, String), StructType]()

  private def primeGenSchema(path: String, gen: String, s: StructType): Unit = {
    if (genSchemaCache.size > 4096) genSchemaCache.clear()
    genSchemaCache.put((new Path(path).toString, gen), s)
    ()
  }

  private def genSchema(spark: SparkSession, path: String,
                        gen: String): StructType = {
    val key = (new Path(path).toString, gen)
    val hit = genSchemaCache.get(key)
    if (hit != null) hit
    else {
      val st = store(path)
      // a generation holds ≥1 data file (dirs exist only for rows;
      // writeEmptyGen writes its one schema-carrying file)
      val first = bucketDirsOf(path, gen).iterator.flatMap { b =>
        val bp = bucketPath(path, gen, b)
        st.list(bp).filter(isVisible).sorted.headOption.map(f => s"$bp/$f")
      }.next()
      // a driver-side footer read, no Spark job (graft.core.ParquetFooter)
      val s = graft.core.ParquetFooter.fileSchema(spark, new Path(first))
      if (genSchemaCache.size > 4096) genSchemaCache.clear()
      genSchemaCache.put(key, s)
      s
    }
  }

  /** Union of per-generation schemas, the driver-side equivalent of
    * what `mergeSchema` inferred: first generation's fields in order,
    * later generations append their new fields; a field absent from
    * ANY selected generation reads back null there, so it is marked
    * nullable. Same-name fields must agree on type — schema evolution
    * here only ever ADDS nullable columns (the reference's dynamic-DDL
    * world); a type conflict fails as loudly as mergeSchema would. */
  private def mergedSchema(spark: SparkSession, path: String,
                           gens: Seq[String]): StructType =
    gens.map(g => g -> genSchema(spark, path, g)).foldLeft(
      Option.empty[StructType]) {
      case (None, (_, s)) => Some(s)
      case (Some(acc), (g, s)) =>
        val accNames = acc.fieldNames.toSet
        val merged = acc.fields.map { f =>
          s.fields.find(_.name == f.name) match {
            case Some(sf) =>
              require(sf.dataType == f.dataType,
                s"generation $g of $path: column ${f.name} is " +
                s"${sf.dataType.simpleString}, expected ${f.dataType.simpleString}")
              f.copy(nullable = f.nullable || sf.nullable)
            case None => f.copy(nullable = true)
          }
        }
        val extra = s.fields.filterNot(f => accNames(f.name))
          .map(_.copy(nullable = true))
        Some(StructType(merged ++ extra))
    }.get

  /** Snapshot scan of manifest `m` (optionally restricted to
    * `buckets`): reads exactly the generation dirs the manifest
    * references — a concurrent commit cannot tear it. The physical
    * files don't carry BucketCol (it's encoded in the dir names), so
    * the result is bucket-column-free. The schema is supplied
    * explicitly from the per-generation cache ([[genSchema]]): no
    * footer-merge job, and files missing a later-added column
    * null-fill it exactly as mergeSchema did. */
  private def readSnapshot(spark: SparkSession, path: String, m: Manifest,
                           buckets: Option[Seq[Int]] = None): Option[DataFrame] = {
    val sel = buckets.getOrElse(m.gens.keys.toSeq.sorted)
    val paths = sel.flatMap(b => m.gens.get(b).map(g => bucketPath(path, g, b)))
    if (paths.isEmpty) None
    else {
      val gens = sel.flatMap(m.gens.get).distinct.sorted
      Some(spark.read.schema(mergedSchema(spark, path, gens))
        .parquet(paths: _*))
    }
  }

  /** Like [[readSnapshot]] but surfaces BucketCol (via per-generation
    * basePath partition inference) for maintainers that must preserve
    * the physical layout without knowing the pk (compaction). */
  private def readSnapshotWithBuckets(spark: SparkSession, path: String,
                                      m: Manifest): Option[DataFrame] = {
    val byGen = m.gens.groupBy(_._2)
    val parts = byGen.toSeq.sortBy(_._1).map { case (gen, bs) =>
      // the partition column is appended to the supplied schema, same
      // place inference put it
      val withBucket = genSchema(spark, path, gen)
        .add(StructField(BucketCol, IntegerType, nullable = true))
      spark.read
        .schema(withBucket)
        .option("basePath", s"$path/_gens/$gen")
        .parquet(bs.keys.toSeq.sorted.map(b => bucketPath(path, gen, b)): _*)
    }
    parts.reduceOption(_.unionByName(_, allowMissingColumns = true))
  }

  // -------------------------------------------------------------------
  // root projection (what name-based/catalog readers see)

  /** Per-path in-JVM lock for view maintenance; cross-JVM drift is
    * repaired by recover-on-read, so the lock is a convenience that
    * keeps same-process committers from tripping over each other's
    * renames, not a correctness requirement. */
  private val viewLocks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()

  private def readViewVersion(path: String): Option[Long] =
    try Some(store(path).readString(viewFile(path)).trim.toLong)
    catch { case _: java.io.IOException | _: NumberFormatException => None }

  private def writeViewVersion(path: String, v: Long): Unit =
    store(path).writeAtomic(viewFile(path), v.toString)

  /** Bring the root `__bucket=k` hardlink projection up to the latest
    * manifest. Only buckets whose generation changed since the last
    * projected version are re-linked, so a single-pk upsert touches one
    * root dir and every other stays byte-identical. Idempotent and
    * convergent: projecting is re-resolving latest-then-link, so a
    * crash mid-projection (or a lost in-JVM race) is healed by the next
    * call. */
  private def syncView(spark: SparkSession, path: String): Unit = {
    val lock = viewLocks.computeIfAbsent(path, _ => new Object)
    lock.synchronized {
      var rounds = 0
      var done = false
      while (!done && rounds < 100) {
        rounds += 1
        latest(path) match {
          case None => done = true
          case Some(m) if readViewVersion(path).contains(m.version) => done = true
          case Some(m) =>
            val st = store(path)
            val prev = readViewVersion(path)
              .flatMap(tryReadManifest(path, _)).map(_.gens).getOrElse(Map.empty)
            val stale = m.gens.filter { case (b, g) => !prev.get(b).contains(g) }
            stale.keys.toSeq.sorted.foreach { b =>
              val src = s"${gensDir(path)}/${m.gens(b)}/$BucketCol=$b"
              val tmpB = s"$path/.__view-$b"
              st.deleteTree(tmpB)
              st.cloneTree(src, tmpB)
              val tgt = s"$path/$BucketCol=$b"
              val oldRoot = path + ".__old"
              st.mkdirs(oldRoot)
              val oldB = s"$oldRoot/$BucketCol=$b"
              st.deleteTree(oldB)
              // same at-least-one-complete-copy dance as the legacy
              // swap; recover() finishes it after a crash
              if (st.exists(tgt)) st.rename(tgt, oldB)
              st.rename(tmpB, tgt)
              st.deleteTree(oldB)
            }
            // drop root bucket dirs the manifest no longer references —
            // a fan-out change (rebucket) shrinks or renumbers the
            // bucket set, and a projection dir with no manifest owner
            // would leak stale rows into every name-based root scan
            st.list(path).filter(_.startsWith(s"$BucketCol="))
              .flatMap(n => scala.util.Try(
                n.stripPrefix(s"$BucketCol=").toInt).toOption)
              .filterNot(m.gens.contains)
              .foreach(b => st.deleteTree(s"$path/$BucketCol=$b"))
            // the .__old root is only a crash-window staging area here
            val oldRoot = path + ".__old"
            if (st.isDir(oldRoot) && st.list(oldRoot).isEmpty)
              st.deleteTree(oldRoot)
            writeViewVersion(path, m.version)
            // loop once more in case a newer commit landed meanwhile
        }
      }
    }
  }

  // -------------------------------------------------------------------
  // public surface

  /** Table auto-creation (K4) falls out naturally: first upsert of an
    * unseen sinkTable creates the directory and commits version 1.
    * Every later upsert is one optimistic-concurrency commit: merge
    * against the latest manifest, write a new generation for the
    * touched buckets, claim the next version (losers of a concurrent
    * race discard and retry against the winner). */
  def upsert(spark: SparkSession, path: String, rawBatch: DataFrame,
             pk: String, versionCol: String, nBuckets: Int = NumBuckets): Unit = {
    upsertWithStats(spark, path, rawBatch, pk, versionCol, nBuckets)
    ()
  }

  /** [[upsert]] that also returns `(batch rows, max version)` — the
    * stats a CDC cursor advance needs — from the commit's OWN
    * batch-materializing stats pass, so a caller like
    * [[graft.streaming.IncrementalCdc.applyOnce]] pays no separate
    * aggregate job per apply. Max version is reported only for a
    * LongType version column (every CDC caller's shape); other types
    * get None. An empty batch returns (0, None) and commits nothing,
    * exactly as before. */
  private[graft] def upsertWithStats(
      spark: SparkSession, path: String, rawBatch: DataFrame,
      pk: String, versionCol: String,
      nBuckets: Int = NumBuckets): (Long, Option[Long]) = {
    require(!rawBatch.columns.contains(BucketCol),
      s"$BucketCol is reserved for DimStore's internal layout; " +
      "rename the batch column")
    val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    recover(spark, fs, path)
    // The batch is consumed several times per commit (emptiness probe,
    // touched-bucket collect, the merge write — more on a lost race).
    // Its lineage is often a whole parse/state topology (the streaming
    // foreachBatch path), so pin it once instead of recomputing per
    // consumer; spill-safe, and released in finally. Ownership: only
    // unpersist what WE persisted — persist() on an already-cached
    // Dataset is a no-op returning the same plan, so unpersisting a
    // caller-persisted batch would evict the CALLER's cache.
    val callerPersisted =
      rawBatch.storageLevel != org.apache.spark.storage.StorageLevel.NONE
    val batch =
      if (callerPersisted) rawBatch
      else rawBatch.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val versionIsLong =
      batch.schema(versionCol).dataType == org.apache.spark.sql.types.LongType
    // An all-filtered micro-batch (every record malformed/routed away)
    // must be a no-op: creating the table from it would write a
    // schema-less directory that wedges every later read. The probe is
    // only paid on the create/migrate paths — for an existing
    // versioned table mergeLoop's touched-bucket probe subsumes it
    // (empty batch → no touched buckets → no commit). Every probe over
    // the batch runs ON THE CALLER'S SESSION: the batch lineage is
    // arbitrary caller topology (a streaming parse graph, the whole
    // near-dup pipeline, …) and must execute at the caller's width
    // with AQE — planning it on the narrow commit session would run
    // that lineage at bucket width (a measured 2x regression on x96).
    // The probe materializes the pinned cache, so the generation
    // WRITE re-reads cached blocks and is safe to plan narrow.
    lazy val batchStats: (Long, Option[Long]) = {
      val statsCols =
        if (versionIsLong) Seq(count(lit(1)), max(col(versionCol)))
        else Seq(count(lit(1)))
      val r = batch.agg(statsCols.head, statsCols.tail: _*).head()
      (r.getLong(0),
        if (versionIsLong && !r.isNullAt(1)) Some(r.getLong(1)) else None)
    }
    try if (currentVersion(path).nonEmpty) {
      mergeLoop(spark, path, batch, pk, versionCol)
    } else if (batchStats._1 > 0L) {
      val (createRows, createMaxV) = batchStats
      val smallBatch = createRows <= SmallCommitRows
      // resolve the [[SizeFromBatch]] sentinel from the stats probe the
      // create path just paid anyway — no extra action
      val nb = if (nBuckets == SizeFromBatch) bucketsFor(createRows)
               else nBuckets

    // "has data" distinguishes a real legacy table from an empty root
    // (or one holding only the debris of a crashed first commit)
    def rootHasVisibleData =
      fs.exists(new Path(path)) &&
        fs.listStatus(new Path(path)).exists(st => isVisible(st.getPath.getName))
    if (!rootHasVisibleData) {
      // ---- create: commit version 1. The write is cache-backed (the
      // stats probe materialized the batch), so the small-commit
      // route never re-executes caller lineage narrow.
      val createSess =
        if (smallBatch) commitSession(spark, nb) else spark
      val bb = bucketAligned(batch, pk, nb)
        .withColumn(BucketCol, bucketOf(pk, nb))
      val gen = writeGen(onSession(latestPerPk(bb, pk, versionCol), createSess),
        path, 1L, onePerBucket = false)
      val m = Manifest(1L, nb,
        bucketDirsOf(path, gen).map(_ -> gen).toMap)
      if (tryCommit(path, m)) {
        writeBucketCount(fs, path, nb)
        syncView(spark, path)
        (createRows, createMaxV)
      } else {
        // a concurrent creator won v1: discard and merge against it
        store(path).deleteTree(s"${gensDir(path)}/$gen")
        mergeLoop(spark, path, batch, pk, versionCol)
      }
    } else {
      // ---- migrate a legacy (pre-commit-log) table: fold its full
      // contents and this batch into version 1 — a one-time O(table)
      // cost, after which upserts are O(touched buckets) again
      val tableBuckets = readBucketCount(fs, path, nb)
      val existing = readRaw(spark, path).drop(BucketCol)
        .withColumn(BucketCol, bucketOf(pk, tableBuckets))
      val bb = batch.withColumn(BucketCol, bucketOf(pk, tableBuckets))
      val merged = latestPerPk(bucketAligned(
        existing.unionByName(bb, allowMissingColumns = true),
        pk, tableBuckets), pk, versionCol)
      val gen = writeGen(merged, path, 1L, onePerBucket = false)
      val m = Manifest(1L, tableBuckets,
        bucketDirsOf(path, gen).map(_ -> gen).toMap)
      if (tryCommit(path, m)) {
        // the projection now owns the root: clear the legacy files
        // (the gen write above already materialized them into v1)
        dropLegacyRootData(fs, path)
        writeBucketCount(fs, path, tableBuckets)
        syncView(spark, path)
        (createRows, createMaxV)
      } else {
        store(path).deleteTree(s"${gensDir(path)}/$gen")
        mergeLoop(spark, path, batch, pk, versionCol)
      }
    }
    } else (0L, None)
    finally { if (!callerPersisted) { batch.unpersist(); () } }
  }

  /** The optimistic-concurrency MERGE: read the touched buckets of the
    * latest manifest, LWW-merge the batch in, write one new generation,
    * claim the next version. Lost race → discard the candidate
    * generation and retry against the winner's manifest (the batch's
    * effects are never silently dropped — last-writer-wins holds ACROSS
    * committers because the retry re-merges). */
  private def mergeLoop(spark: SparkSession, path: String, batch: DataFrame,
                        pk: String, versionCol: String): (Long, Option[Long]) = {
    var attempt = 0
    val versionIsLong =
      batch.schema(versionCol).dataType == org.apache.spark.sql.types.LongType
    var stats: (Long, Option[Long]) = (0L, None)
    var done = false
    while (!done) {
      val base = latest(path).getOrElse(throw new IllegalStateException(
        s"$path has a _commits dir but no committed manifest"))
      val probeSess = commitSession(spark, base.buckets)
      val bb = batch.withColumn(BucketCol, bucketOf(pk, base.buckets))
      // empty batch → no touched buckets → no commit (this collect IS
      // upsert's emptiness gate on the steady-state path). Grouped
      // count+max, not distinct: same single bounded-cardinality
      // aggregation (map-side partial, exchange ≤ tasks × buckets rows
      // at ANY batch size), and the batch row count / max version it
      // yields for free drive the small-commit write routing and the
      // CDC cursor ([[upsertWithStats]]). Planned on the CALLER's
      // session: the batch lineage executes at full width with AQE
      // (see upsert's probe-placement note), and the probe
      // materializes the pinned cache for the write below.
      val aggCols =
        if (versionIsLong) Seq(count(lit(1)).as("__c"),
          max(col(versionCol)).as("__mx"))
        else Seq(count(lit(1)).as("__c"))
      val perBucket =
        bb.groupBy(col(BucketCol)).agg(aggCols.head, aggCols.tail: _*)
          .collect()
      if (perBucket.isEmpty) return (0L, None)
      val touched = perBucket.map(_.getInt(0)).sorted
      val batchRows = perBucket.map(_.getLong(1)).sum
      stats = (batchRows,
        if (versionIsLong) {
          val mxs = perBucket.filterNot(_.isNullAt(2)).map(_.getLong(2))
          if (mxs.isEmpty) None else Some(mxs.max)
        } else None)
      val writeSess =
        if (batchRows <= SmallCommitRows &&
            approxTableBytes(path, base) <= SmallCommitBytes) probeSess
        else spark
      val existingBuckets = touched.filter(base.gens.contains).toSeq
      val existing = readSnapshot(spark, path, base, Some(existingBuckets))
        .map(_.withColumn(BucketCol, bucketOf(pk, base.buckets)))
      // allowMissingColumns = schema evolution: a config change that
      // adds a sink column (the reference's dynamic DDL world, where
      // every column is nullable varchar) must not break the upsert —
      // existing rows read back with the new column null, and a batch
      // missing a historical column null-fills it likewise. Untouched
      // generations keep their old physical schema; mergeSchema on
      // read reconciles (Delta keeps this in the txn log instead).
      val merged = latestPerPk(bucketAligned(
        existing.fold(bb)(_.unionByName(bb, allowMissingColumns = true)),
        pk, base.buckets), pk, versionCol)
      val gen = writeGen(onSession(merged, writeSess), path, base.version + 1,
        onePerBucket = false)
      // LWW keeps ≥1 row per pk, so every touched bucket must appear in
      // the generation; a miss means the touched set and the merge
      // output disagree — fail loudly rather than drop a bucket
      val present = bucketDirsOf(path, gen).toSet
      touched.foreach { k =>
        if (!present(k)) throw new IllegalStateException(
          s"bucket $k missing from generation $gen of $path")
      }
      val next = Manifest(base.version + 1, base.buckets,
        base.gens ++ touched.map(_ -> gen))
      if (tryCommit(path, next)) {
        syncView(spark, path)
        done = true
      } else {
        store(path).deleteTree(s"${gensDir(path)}/$gen")
        attempt += 1
        if (attempt > 50) throw new java.util.ConcurrentModificationException(
          s"lost the commit race $attempt times at $path")
      }
    }
    stats
  }

  /** Spark's file-index visibility rule: `_`/`.`-prefixed names are
    * hidden UNLESS they contain `=` (partition dirs like `__bucket=3`
    * stay visible). Anything visible at a table root is data a
    * name-based reader would scan. */
  private def isVisible(name: String): Boolean =
    (!name.startsWith("_") && !name.startsWith(".")) || name.contains("=")

  /** Legacy data lives at the table root (flat files or bucket dirs);
    * after migration the root belongs to the hardlink projection.
    * Internal `_`/`.` entries (commit log, generations, markers) stay. */
  private def dropLegacyRootData(fs: org.apache.hadoop.fs.FileSystem,
                                 path: String): Unit =
    fs.listStatus(new Path(path)).foreach { st =>
      if (isVisible(st.getPath.getName)) fs.delete(st.getPath, true)
    }

  /** version desc, then a deterministic content tie-break so equal
    * versions don't pick a nondeterministic winner across reruns (the
    * replay-idempotence half of the exactly-once-effects claim). */
  private def latestPerPk(df: DataFrame, pk: String, versionCol: String): DataFrame = {
    val w = Window.partitionBy(col(pk))
      .orderBy(col(versionCol).desc, hash(struct(df.columns.toIndexedSeq.map(col): _*)).desc)
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
  }

  /** The table's bucket fan-out marker (compat; the manifest's `n=` is
    * authoritative for versioned tables). Underscore prefix: Spark's
    * file index ignores it, like _SUCCESS. */
  private def bucketCountFile(path: String) = new Path(path, "_graft_buckets")

  private def writeBucketCount(fs: org.apache.hadoop.fs.FileSystem,
                               path: String, n: Int): Unit = {
    val out = fs.create(bucketCountFile(path), true)
    out.write(n.toString.getBytes(StandardCharsets.UTF_8))
    out.close()
  }

  /** The fan-out the table was CREATED with wins over the caller's
    * parameter (it is a table property, not a call property). */
  private def readBucketCount(fs: org.apache.hadoop.fs.FileSystem,
                              path: String, fallback: Int): Int =
    latest(path).map(_.buckets).getOrElse {
      val f = bucketCountFile(path)
      if (!fs.exists(f)) fallback
      else {
        val buf = new Array[Byte](fs.getFileStatus(f).getLen.toInt)
        val in = fs.open(f)
        try in.readFully(0, buf) finally in.close()
        new String(buf, StandardCharsets.UTF_8).trim.toInt
      }
    }

  /** Crash-safe whole-table replacement (write to .__tmp, rename into
    * place) for FLAT (non-versioned) stores — the read-modify-write
    * maintainers (e.g. streaming.UvSketchStore) that replace their
    * whole small state each batch. Invariant: at every point at least
    * one complete copy exists at target or at .__old, and recover()
    * restores .__old to target when a crash left the table missing.
    * `partitionedBy` propagates a partition layout into the rewrite. */
  def swapIn(spark: SparkSession, path: String, df: DataFrame,
             partitionedBy: Seq[String] = Nil): Unit = {
    val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val target = new Path(path)
    val tmp = new Path(path + ".__tmp")
    val old = new Path(path + ".__old")
    val writer = df.write.mode("overwrite")
    (if (partitionedBy.nonEmpty) writer.partitionBy(partitionedBy: _*) else writer)
      .parquet(tmp.toString)
    def renameOrThrow(from: Path, to: Path): Unit =
      if (!fs.rename(from, to))
        throw new java.io.IOException(s"rename $from -> $to failed")
    if (fs.exists(target)) {
      renameOrThrow(target, old)
      renameOrThrow(tmp, target)
      fs.delete(old, true)
    } else {
      renameOrThrow(tmp, target)
    }
  }

  /** Recover from interruption. Three shapes:
    *  - whole-table (swapIn, or an external move, crashed): table
    *    missing, complete copy at .__old → restore it (commit log and
    *    generations travel with the root, so a versioned table comes
    *    back whole).
    *  - per-bucket (a projection refresh crashed between its renames):
    *    .__old holds `__bucket=k` children; restore any whose bucket is
    *    missing from the root, drop stale backups.
    *  - projection drift (crash between commit and projection, or a
    *    cross-JVM race): `_graft_view` behind the log → re-link.
    * Called before every read and upsert. */
  private def recover(spark: SparkSession,
                      fs: org.apache.hadoop.fs.FileSystem, path: String): Unit = {
    val target = new Path(path)
    val old = new Path(path + ".__old")
    if (fs.exists(old)) {
      if (!fs.exists(target)) { fs.rename(old, target) }
      else {
        fs.listStatus(old).foreach { st =>
          val name = st.getPath.getName
          if (name.startsWith(s"$BucketCol=")) {
            val tgtK = new Path(target, name)
            if (!fs.exists(tgtK)) fs.rename(st.getPath, tgtK)
            else fs.delete(st.getPath, true)
          }
        }
        // whatever remains (empty dir, non-bucket debris of a stale
        // backup whose table exists) is superseded
        fs.delete(old, true)
      }
    }
    if (isVersioned(path)) syncView(spark, path)
  }

  /** mergeSchema: buckets evolve schema independently (only touched
    * buckets get rewritten when a column appears), so the footer of any
    * single file is not authoritative. */
  private def readRaw(spark: SparkSession, path: String): DataFrame =
    spark.read.option("mergeSchema", "true").parquet(path)

  /** Snapshot-isolated read of the latest committed version (legacy
    * flat stores fall back to a root scan). */
  def read(spark: SparkSession, path: String): DataFrame = {
    val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    recover(spark, fs, path)
    latest(path) match {
      case Some(m) => readSnapshot(spark, path, m).getOrElse(
        throw new IllegalStateException(s"manifest ${m.version} of $path is empty"))
      case None => readRaw(spark, path).drop(BucketCol)
    }
  }

  /** Time travel: read the table as of committed version `asOf`.
    * Throws (listing what IS retained) when the version was never
    * committed or has been vacuumed. */
  def read(spark: SparkSession, path: String, asOf: Long): DataFrame = {
    val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    recover(spark, fs, path)
    val vs = history(path)
    require(vs.contains(asOf),
      s"version $asOf of $path is not retained (have: ${vs.mkString(", ")})")
    readSnapshot(spark, path, readManifest(path, asOf)).getOrElse(
      throw new IllegalStateException(s"manifest $asOf of $path is empty"))
  }

  /** Recover-aware existence probe. Callers deciding between "create
    * fresh" and "read-modify-write" MUST use this, not a raw
    * fs.exists: after a crash the table may live at .__old, and a raw
    * exists=false would silently restart the table from empty. */
  def exists(spark: SparkSession, path: String): Boolean = {
    val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    recover(spark, fs, path)
    fs.exists(new Path(path))
  }

  /** One recover + one existence probe + read: the per-micro-batch
    * read-modify-write path. */
  def readIfExists(spark: SparkSession, path: String): Option[DataFrame] = {
    val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    recover(spark, fs, path)
    latest(path) match {
      case Some(m) => readSnapshot(spark, path, m)
      case None =>
        if (fs.exists(new Path(path)))
          Some(readRaw(spark, path).drop(BucketCol))
        else None
    }
  }

  /** How long a retired generation's files stay on disk (and therefore
    * readable by anyone still holding a manifest that references it)
    * after vacuum retires it. */
  val VacuumGraceMillis: Long = 15L * 60 * 1000

  private val RetiredStamp = "_RETIRED"

  /** Retire history: keep the newest `keepLast` versions, drop older
    * manifests, and retire every generation referenced ONLY by them.
    * Explicit, like Delta's VACUUM — time travel works until vacuumed,
    * never silently.
    *
    * Retirement has a GRACE WINDOW (same contract as
    * [[Staging]]'s `_RETIRED` stamps): a retired generation is first
    * stamped IN PLACE — its data files untouched, so a concurrent
    * reader that pinned a v−N manifest before the vacuum keeps
    * scanning safely (deleting, or moving to a trash dir, would yank
    * the files out from under the in-flight scan either way) — and a
    * later vacuum deletes it only once the stamp is older than
    * `graceMillis`. The stamp is a `_`-prefixed file at the generation
    * root: invisible to parquet readers and to [[bucketDirsOf]].
    * In-flight candidate generations (version > newest committed) are
    * never touched, so a concurrent committer can't be vacuumed out
    * from under. Returns the number of generations physically removed
    * (stamp-only retirements don't count until a later pass deletes
    * them; `graceMillis = 0` restores immediate deletion). */
  def vacuum(spark: SparkSession, path: String, keepLast: Int = 2,
             graceMillis: Long = VacuumGraceMillis): Int = {
    require(keepLast >= 1, "must retain at least the current version")
    val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    recover(spark, fs, path)
    val st = store(path)
    val vs = history(path)
    if (vs.isEmpty) return 0
    // even when no manifests fall out of the window, the generation
    // sweep below still collects orphans of crashed commits
    val keep = vs.takeRight(keepLast)
    val keptGens = keep.map(readManifest(path, _)).flatMap(_.gens.values).toSet
    vs.dropRight(keepLast).foreach(v => st.delete(manifestPath(path, v)))
    val gd = gensDir(path)
    if (!st.isDir(gd)) return 0
    val retirable = st.list(gd)
      .filter(n => n.startsWith("g") && !keptGens(n) &&
        // only generations at-or-below the newest kept version can
        // be garbage; anything newer is a commit in flight
        (try genVersionOf(n) <= keep.last
         catch { case _: NumberFormatException => false }))
    val now = System.currentTimeMillis()
    // a stamp value outside [2000-01-01, now + 1 day] is torn or
    // forged, never a clock we trust: a crash mid-write can leave a
    // truncated-but-NUMERIC prefix ("175" of "1755…") that parses as
    // an ancient timestamp and would delete with zero grace — the
    // exact failure the window exists to prevent
    val StampFloor = 946684800000L
    def stampValue(stamp: String): Option[Long] =
      if (!st.exists(stamp)) None
      else
        try {
          val v = st.readString(stamp).trim.toLong
          if (v >= StampFloor && v <= now + 86400000L) Some(v) else None
        } catch {
          case _: NumberFormatException | _: java.io.IOException => None
        }
    var removed = 0
    retirable.foreach { n =>
      val stamp = s"$gd/$n/$RetiredStamp"
      val retiredAt: Long = stampValue(stamp).getOrElse {
        // missing OR unusable: (re)stamp NOW — atomically (temp +
        // rename), so a crashed stamping can itself never tear —
        // and restart the grace clock
        st.writeAtomic(stamp, now.toString)
        now
      }
      if (now - retiredAt >= graceMillis) {
        st.deleteTree(s"$gd/$n")
        removed += 1
      }
    }
    // self-heal: a generation back in the kept set must never carry a
    // stale stamp (defensive — reference resurrection can't happen
    // under the current commit protocol, but a stray stamp must not
    // schedule a live generation for deletion)
    keptGens.foreach(n => st.delete(s"$gd/$n/$RetiredStamp"))
    removed
  }

  /** Bucket fan-out EVOLUTION: rewrite the current version to
    * `newBuckets` hash buckets as ONE optimistic commit — the cure for
    * a dim that outgrew (or never grew into) its creation fan-out.
    * Upsert write amplification is O(table bytes / buckets) per
    * touched bucket, so a table that grows 100× at a frozen fan-out
    * sees its per-commit rewrite cost grow linearly with table size;
    * re-bucketing restores the bound. The fan-out is recorded PER
    * MANIFEST (`n=`), so the change needs no special cases anywhere
    * else: later upserts read the new fan-out from the new manifest,
    * and a time-travel read of a pre-rebucket version resolves its own
    * manifest and scans the old-fan-out generations untouched —
    * history crosses the boundary for free. Needs the pk (bucket
    * assignment is `hash(pk) % n`; the table does not persist its pk,
    * same contract as [[upsert]]). Same loser-retries optimistic
    * protocol as [[compact]]; a concurrent upsert race is safe in
    * either order. One O(table) shuffle — periodic maintenance, priced
    * like compaction. No-op when the fan-out already matches. */
  def rebucket(spark: SparkSession, path: String, pk: String,
               newBuckets: Int): Unit = {
    require(newBuckets >= 1, "newBuckets must be positive")
    val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    recover(spark, fs, path)
    var attempt = 0
    var done = false
    while (!done) {
      val base = latest(path).getOrElse(throw new IllegalStateException(
        s"rebucket needs a versioned table at $path; commit an upsert first"))
      if (base.buckets == newBuckets) return
      val df = readSnapshot(spark, path, base).getOrElse(
        throw new IllegalStateException(s"nothing to rebucket at $path"))
      val rebucketed = df.withColumn(BucketCol, bucketOf(pk, newBuckets))
      val writeSess =
        if (approxTableBytes(path, base) <= SmallCommitBytes)
          commitSession(spark, newBuckets)
        else spark
      val gen = writeGen(onSession(rebucketed, writeSess), path,
        base.version + 1)
      val next = Manifest(base.version + 1, newBuckets,
        bucketDirsOf(path, gen).map(_ -> gen).toMap)
      if (tryCommit(path, next)) {
        writeBucketCount(fs, path, newBuckets)
        syncView(spark, path)
        done = true
      } else {
        store(path).deleteTree(s"${gensDir(path)}/$gen")
        attempt += 1
        if (attempt > 50) throw new java.util.ConcurrentModificationException(
          s"lost the rebucket commit race $attempt times at $path")
      }
    }
  }

  /** Full-content REWRITE as one optimistic commit: replace the
    * current snapshot with `transform(snapshot)` — the table layer's
    * row-deletion and shrink primitive (DELETE, retention pruning,
    * and journal compaction are all "rewrite with a smaller frame";
    * [[upsert]] can only ever add or overwrite rows). Keeps the
    * fan-out and re-buckets the new content by `pk`. The transform is
    * RE-APPLIED per attempt against the freshly-resolved base, so
    * losing the commit race to a concurrent upsert recomputes over
    * the merged snapshot — a rewrite can never silently drop a racing
    * commit's rows. History stays time-travelable until vacuumed,
    * same as [[compact]]/[[rebucket]]; same loser-retries protocol.
    * The transform must preserve the table's column schema. */
  def rewrite(spark: SparkSession, path: String, pk: String)
             (transform: DataFrame => DataFrame): Unit = {
    val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    recover(spark, fs, path)
    var attempt = 0
    var done = false
    while (!done) {
      val base = latest(path).getOrElse(throw new IllegalStateException(
        s"rewrite needs a versioned table at $path; commit an upsert first"))
      val df = readSnapshot(spark, path, base).getOrElse(
        throw new IllegalStateException(s"nothing to rewrite at $path"))
      val replaced = bucketAligned(transform(df), pk, base.buckets)
        .withColumn(BucketCol, bucketOf(pk, base.buckets))
      val writeSess =
        if (approxTableBytes(path, base) <= SmallCommitBytes)
          commitSession(spark, base.buckets)
        else spark
      val gen = writeGen(onSession(replaced, writeSess), path,
        base.version + 1, onePerBucket = false)
      val next = Manifest(base.version + 1, base.buckets,
        bucketDirsOf(path, gen).map(_ -> gen).toMap)
      if (tryCommit(path, next)) {
        syncView(spark, path)
        done = true
      } else {
        store(path).deleteTree(s"${gensDir(path)}/$gen")
        attempt += 1
        if (attempt > 50) throw new java.util.ConcurrentModificationException(
          s"lost the rewrite commit race $attempt times at $path")
      }
    }
  }

  /** Bucket-scoped row DELETION at O(touched buckets) — the shape a
    * TARGETED reclamation wants where [[rewrite]]'s O(table) frame is
    * too blunt: drop every row matching `pred`, writing a new
    * generation ONLY for the buckets that hold at least one matching
    * row; every other bucket's generation is carried forward in the
    * manifest untouched (the [[upsert]] cost shape). SQL DELETE
    * null semantics: a row where `pred` evaluates to NULL (a nullable
    * column in the predicate) is KEPT, never silently dropped — only
    * rows where `pred` is literally true are deleted, and the
    * returned count covers exactly those. A bucket emptied
    * entirely drops out of the manifest; a predicate that would empty
    * the WHOLE table is refused loudly unless `allowEmpty` (a
    * zero-bucket manifest is schema-less and wedges reads — dropping
    * a table must be explicit). Safety-path callers (takedowns,
    * tombstone purges — cadences that must not wedge on the
    * everything-matched case) pass `allowEmpty = true`: the table is
    * emptied but stays READABLE, via a schema-only empty generation
    * ([[writeEmptyGen]]) instead of a bucket-less manifest.
    * Finding the touched buckets
    * is one column-pruned scan over the snapshot (the layout column +
    * `pred`'s columns — the same price an audit counting the matching
    * rows pays); the WRITE is O(touched buckets). History stays
    * time-travelable until vacuumed; same optimistic loser-retries
    * protocol as upsert, and the commit is atomic (create-if-absent
    * manifest claim) — a crash before it leaves readers on the old
    * version with only an unreferenced generation as debris, exactly
    * upsert's crash story. Returns the number of rows deleted
    * (0 = nothing matched → NO commit). */
  def deleteWhere(spark: SparkSession, path: String, pk: String,
                  pred: Column, allowEmpty: Boolean = false): Long = {
    // NULL-proof both sides once: filter(pred) and filter(!pred) BOTH
    // drop null-eval rows, so the raw pair would silently lose them
    val hit = coalesce(pred, lit(false))
    deleteCore(spark, path, pk,
      doomed = _.filter(hit), keep = _.filter(!hit), allowEmpty)
  }

  /** Join-route deletion — [[deleteWhere]] for a key SET that lives in
    * a DataFrame instead of a literal predicate: drop every row where
    * ANY of `cols` matches a value of `keys`' single column. A bulk
    * takedown (a PII sweep of 10⁵–10⁶ ids) must not inline its ids
    * into the plan as an `isin` literal list — here the match is a
    * broadcast hash semi/anti join per col, so the PLAN stays O(1) in
    * |keys| and the probe stays one pass over the touched buckets.
    * Same commit protocol, null semantics (a NULL col never matches),
    * cost shape, and `allowEmpty` contract as [[deleteWhere]]. */
  def deleteKeys(spark: SparkSession, path: String, pk: String,
                 keys: DataFrame, cols: Seq[String],
                 allowEmpty: Boolean = false): Long = {
    require(keys.columns.length == 1,
      s"deleteKeys wants a single-column key frame, got ${keys.columns.mkString(", ")}")
    require(cols.nonEmpty, "deleteKeys needs at least one column to match")
    // the key set is re-probed per side and per optimistic retry; pin
    // the deduped copy once so a caller's expensive lineage (a
    // takedown feed) isn't recomputed per probe
    val k = keys.toDF("__dk").distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // a row hit by several cols must count ONCE: semi-join per col,
      // dedup by pk (snapshots are pk-unique, so pk is the row id)
      def doomed(df: DataFrame): DataFrame = cols
        .map(c => df.join(broadcast(k), df(c) === k("__dk"), "left_semi"))
        .reduce(_ unionByName _).dropDuplicates(pk)
      def keep(df: DataFrame): DataFrame = cols.foldLeft(df)(
        (d, c) => d.join(broadcast(k), d(c) === k("__dk"), "left_anti"))
      deleteCore(spark, path, pk, doomed, keep, allowEmpty)
    } finally { k.unpersist(); () }
  }

  /** The shared optimistic-commit deletion core behind [[deleteWhere]]
    * and [[deleteKeys]]. `doomed` selects the rows to drop, `keep` the
    * complement — split into two plan transformers (not one predicate)
    * so the join route can express "keep" as anti-joins instead of a
    * negated broadcast condition. Both must partition the snapshot:
    * every row lands in exactly one. */
  private def deleteCore(spark: SparkSession, path: String, pk: String,
                         doomed: DataFrame => DataFrame,
                         keep: DataFrame => DataFrame,
                         allowEmpty: Boolean): Long = {
    val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    recover(spark, fs, path)
    var attempt = 0
    while (true) {
      val base = latest(path).getOrElse(throw new IllegalStateException(
        s"deleteWhere needs a versioned table at $path; commit an upsert first"))
      // ONE snapshot scan serves the whole attempt: the per-bucket
      // doomed counts below give the touched set AND the deleted count
      // in a single job (they used to be two separate scans — a
      // touched-bucket probe plus a doomed count over a re-read of the
      // touched buckets — each paying its own broadcast builds), and
      // the kept-rows write re-reads the same cached blocks.
      val snap = readSnapshotWithBuckets(spark, path, base) match {
        case None => return 0L
        case Some(s) =>
          s.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      }
      try {
        // bounded-cardinality probe: always planned AQE-off on the
        // commit session (one job, exchange ≤ tasks × buckets at any
        // table size); the kept-rows WRITE routes there only when the
        // measured table is small (cache-backed re-read, nothing for
        // AQE to improve)
        val probeSess = commitSession(spark, base.buckets)
        val writeSess =
          if (approxTableBytes(path, base) <= SmallCommitBytes) probeSess
          else spark
        val perBucket = onSession(
          doomed(snap).groupBy(col(BucketCol)).count(), probeSess).collect()
        if (perBucket.isEmpty) return 0L
        val touched = perBucket.map(_.getInt(0)).sorted.toSeq
        val deleted = perBucket.map(_.getLong(1)).sum
        val existing = snap.filter(col(BucketCol).isin(touched: _*))
        val kept = keep(existing)
        // would this commit EMPTY the table? Only when every manifest
        // bucket is touched and nothing survives — a zero-bucket
        // manifest is schema-less (nothing left to infer the schema
        // from) and wedges every later read, so emptying is either
        // refused loudly (a drop must be explicit, not a predicate
        // side effect) or, for safety-path callers that opted in,
        // degraded to a schema-only empty generation.
        val wouldEmpty =
          base.gens.keySet.subsetOf(touched.toSet) &&
            onSession(kept, probeSess).isEmpty
        if (wouldEmpty && !allowEmpty) throw new IllegalStateException(
          s"deleteWhere would remove every row of $path — dropping the " +
          "table must be explicit, not a predicate side effect " +
          "(safety-path callers pass allowEmpty = true)")
        val (gen, next) =
          if (wouldEmpty) {
            val g = writeEmptyGen(existing, path, base.version + 1)
            (g, Manifest(base.version + 1, base.buckets, Map(0 -> g)))
          } else {
            val g = writeGen(
              onSession(bucketAligned(kept, pk, base.buckets), writeSess),
              path, base.version + 1, onePerBucket = false)
            // buckets the delete emptied entirely leave the manifest;
            // the rest of the touched set points at the new generation
            val present = bucketDirsOf(path, g).toSet
            (g, Manifest(base.version + 1, base.buckets,
              (base.gens ++ touched.filter(present).map(_ -> g))
                -- touched.filterNot(present)))
          }
        if (tryCommit(path, next)) {
          syncView(spark, path)
          return deleted
        }
        store(path).deleteTree(s"${gensDir(path)}/$gen")
        attempt += 1
        if (attempt > 50) throw new java.util.ConcurrentModificationException(
          s"lost the delete commit race $attempt times at $path")
      } finally { snap.unpersist(); () }
    }
    0L // unreachable: the loop exits only through return/throw
  }

  /** A generation holding ONE schema-only (zero-row) parquet file
    * under bucket 0 — how the delete routes represent "table emptied,
    * schema kept": partitionBy writes NO dirs for zero rows, so the
    * bucket dir is laid out by hand with a single empty-partition
    * write whose footer carries the schema. Readers see 0 rows with
    * the right columns; later upserts merge against the empty
    * snapshot normally. */
  private def writeEmptyGen(like: DataFrame, path: String, v: Long): String = {
    val st = store(path)
    val gd = gensDir(path)
    st.mkdirs(gd)
    val nonce = java.util.UUID.randomUUID().toString.take(8)
    val genName = f"g$v%020d-$nonce"
    val tmp = s"$gd/.w-$genName"
    val empty = like.filter(lit(false)).drop(BucketCol).coalesce(1)
    empty.write.parquet(s"$tmp/$BucketCol=0")
    st.rename(tmp, s"$gd/$genName")
    primeGenSchema(path, genName, empty.schema)
    genName
  }

  /** Small-file compaction: rewrite the current version toward
    * `targetFileBytes` files as a NEW commit via the same optimistic
    * protocol — historical versions stay time-travelable until
    * vacuumed. Per-micro-batch upserts accrete one-file-per-batch
    * fragments; at warehouse scale the footer-per-file planning cost
    * and undersized scan tasks dominate read latency, so compaction is
    * periodic maintenance, not an optimization. Bucketed tables
    * repartition by bucket — one shuffle, one-or-few files per bucket —
    * and keep their layout so upserts stay partition-pruned. Returns
    * the number of root bucket dirs (flat tables: the new file count).
    *
    * `zorderBy = Some((x, y))` Z-ORDER CLUSTERS the rewrite (the
    * layout `OPTIMIZE ... ZORDER BY` produces): within the preserved
    * bucket fan-out, rows land in range-partitioned, internally sorted
    * Morton-curve runs over the two columns, so every data file covers
    * a compact rectangle in (x, y) space and file-level min/max
    * statistics prune range scans on EITHER dimension — content-hash
    * salting (the default) spreads rows uniformly and prunes nothing.
    * Costs one extra min/max pass over the snapshot
    * ([[ZOrder.zvalNormalized]]); bucket pruning for upserts is
    * unaffected (the bucket column stays the leading layout key). */
  def compact(spark: SparkSession, path: String,
              targetFileBytes: Long = 128L * 1024 * 1024,
              zorderBy: Option[(String, String)] = None,
              zBits: Int = 12): Int = {
    val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    recover(spark, fs, path)
    latest(path) match {
      case Some(_) =>
        var attempt = 0
        while (true) {
          val base = latest(path).get
          val df = readSnapshotWithBuckets(spark, path, base).getOrElse(
            throw new IllegalStateException(s"nothing to compact at $path"))
          // store-portable sizing (posix walk / one getContentSummary
          // RPC per bucket on HDFS) — O(buckets) driver metadata, not
          // O(files)
          val bytes = base.gens.toSeq
            .map { case (b, g) => store(path).treeBytes(bucketPath(path, g, b)) }
            .sum
          // honor targetFileBytes WITHIN buckets too: a bucket bigger
          // than the target splits across several files via a
          // deterministic content-hash salt in the repartition key
          val perBucket = math.max(1,
            math.ceil(bytes.toDouble / targetFileBytes / base.buckets).toInt)
          val rewritten = zorderBy match {
            case Some((x, y)) =>
              val z = ZOrder.zvalNormalized(df, x, y, zBits)
              df.withColumn("__zc", z)
                .repartitionByRange(base.buckets * perBucket,
                  col(BucketCol), col("__zc"))
                .sortWithinPartitions(col(BucketCol), col("__zc"))
                .drop("__zc")
            case None =>
              val salt = pmod(hash(struct(
                df.columns.filter(_ != BucketCol).toIndexedSeq.map(col): _*)), lit(perBucket))
              df.repartition(base.buckets * perBucket, col(BucketCol), salt)
          }
          // `bytes` is already measured above — route the compaction
          // write AQE-off when the whole table is small (same
          // data-derived rule as the merge writers)
          val writeSess =
            if (bytes <= SmallCommitBytes)
              commitSession(spark, base.buckets * perBucket)
            else spark
          val gen = writeGen(onSession(rewritten, writeSess), path,
            base.version + 1, onePerBucket = false)
          val next = Manifest(base.version + 1, base.buckets,
            bucketDirsOf(path, gen).map(_ -> gen).toMap)
          if (tryCommit(path, next)) {
            syncView(spark, path)
            return fs.listStatus(new Path(path))
              .count(_.getPath.getName.startsWith(s"$BucketCol="))
          }
          store(path).deleteTree(s"${gensDir(path)}/$gen")
          attempt += 1
          if (attempt > 50) throw new java.util.ConcurrentModificationException(
            s"lost the compaction commit race $attempt times at $path")
        }
        0 // unreachable
      case None =>
        val bytes = fs.getContentSummary(new Path(path)).getLength
        val nFiles = math.max(1, math.ceil(bytes.toDouble / targetFileBytes).toInt)
        val raw = readRaw(spark, path)
        val laidOut = zorderBy match {
          case Some((x, y)) =>
            raw.withColumn("__zc", ZOrder.zvalNormalized(raw, x, y, zBits))
              .repartitionByRange(nFiles, col("__zc"))
              .sortWithinPartitions("__zc")
              .drop("__zc")
          case None => raw.coalesce(nFiles)
        }
        swapIn(spark, path, laidOut)
        nFiles
    }
  }

  /** What [[maintain]] measured and decided. `avgBucketBytes` IS the
    * expected physical write cost of a one-pk upsert (the merge
    * rewrites each touched bucket whole) — the write-amplification
    * number the policy exists to bound. */
  final case class Maintenance(
      version: Long, buckets: Int, tableBytes: Long, avgBucketBytes: Long,
      dataFiles: Long, maxFilesPerBucketSeen: Int,
      rebucketTo: Option[Int], compactRecommended: Boolean,
      applied: Seq[String])

  /** Auto-maintenance policy: measure the table from its manifest —
    * O(buckets) metadata, no data read — then recommend-or-run the
    * maintenance commit the measurements call for (the rebucket
    * write-amplification math of SCALEPROBE.md "Rebucket write
    * amplification (round 11)", productized):
    *
    *  - REBUCKET when the per-bucket byte load has drifted ≥2× from
    *    `targetBucketBytes` in either direction: a table grown past
    *    its creation fan-out pays O(table/buckets) physical write per
    *    one-pk upsert (measured ×7.75 recovery on an 8→64 rebucket in
    *    SCALEPROBE), and a table shrunk far below it fragments scans
    *    across near-empty buckets. The target fan-out is the next
    *    power of two covering tableBytes / targetBucketBytes, capped
    *    at `maxBuckets`; the 2× hysteresis band keeps back-to-back
    *    maintain calls from thrashing between adjacent fan-outs.
    *  - COMPACT when any referenced bucket holds more than
    *    `maxFilesPerBucket` data files (split debris from an earlier
    *    size-capped compaction after rows were deleted, or a migrated
    *    legacy layout): per-file footers and undersized scan tasks tax
    *    every read. Skipped when a rebucket runs — the rebucket's full
    *    rewrite already lands one file per bucket.
    *
    * With `apply = false` this is a pure report (run it from a
    * monitoring job; act on the recommendation in a maintenance
    * window). With `apply = true` the chosen action runs as one
    * ordinary optimistic commit — concurrent upserts race it safely,
    * history stays time-travelable, vacuum prices stay unchanged. */
  def maintain(spark: SparkSession, path: String, pk: String,
               targetBucketBytes: Long = 256L * 1024 * 1024,
               targetFileBytes: Long = 128L * 1024 * 1024,
               maxFilesPerBucket: Int = 4,
               maxBuckets: Int = 4096,
               apply: Boolean = true): Maintenance = {
    val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    recover(spark, fs, path)
    val base = latest(path).getOrElse(throw new IllegalStateException(
      s"maintain needs a versioned table at $path; commit an upsert first"))
    val st = store(path)
    val perBucket = base.gens.toSeq.map { case (b, g) =>
      val bp = bucketPath(path, g, b)
      (st.treeBytes(bp), st.list(bp).count(isVisible))
    }
    val tableBytes = perBucket.map(_._1).sum
    val dataFiles = perBucket.map(_._2.toLong).sum
    val maxFiles = perBucket.foldLeft(0)((a, x) => math.max(a, x._2))
    val avg = if (base.buckets <= 0) 0L else tableBytes / base.buckets
    val need = math.max(1L,
      (tableBytes + targetBucketBytes - 1) / targetBucketBytes)
    // stop doubling while the NEXT power of two still fits under the
    // cap, so the result is the largest power of two <= maxBuckets —
    // never past the caller's stated ceiling
    var desired = 1
    while (desired < need && (desired.toLong << 1) <= maxBuckets) desired <<= 1
    val rebucketTo =
      // an empty snapshot (e.g. after a rewrite that dropped every
      // row) has nothing to lay out and rebucket would refuse it;
      // leave the fan-out alone until content returns
      if (tableBytes == 0L) None
      else if (desired >= base.buckets.toLong * 2 || desired.toLong * 2 <= base.buckets)
        Some(desired)
      else None
    val compactRec = rebucketTo.isEmpty && maxFiles > maxFilesPerBucket
    val applied =
      if (!apply) Nil
      else rebucketTo match {
        case Some(n) => rebucket(spark, path, pk, n); Seq(s"rebucket($n)")
        case None if compactRec =>
          compact(spark, path, targetFileBytes); Seq("compact")
        case None => Nil
      }
    Maintenance(base.version, base.buckets, tableBytes, avg, dataFiles,
      maxFiles, rebucketTo, compactRec, applied)
  }
}
