package graft.ops

import java.nio.charset.StandardCharsets
import java.nio.file.{FileAlreadyExistsException, Files, Paths, StandardCopyOption}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{CreateFlag, FileContext, FileSystem, FileUtil, Options, Path => HPath}
import org.apache.hadoop.fs.permission.FsPermission

/** The filesystem seam under [[DimStore]]'s commit log — the same
  * abstraction Delta Lake calls a `LogStore` (public API/pattern:
  * `io.delta.storage.LogStore` and its HDFS/local implementations).
  * The commit protocol needs exactly one primitive the data path
  * doesn't: an ATOMIC CREATE-IF-ABSENT ([[LogStore.createIfAbsent]]),
  * which is what makes exactly one of N concurrent committers win a
  * version. Everything else (small-file reads, atomic-replace
  * pointers, listings, tree ops) is portability plumbing.
  *
  * Two implementations, chosen per table path by scheme:
  *
  *  - [[PosixLogStore]] (`file:`/schemeless): java.nio throughout; the
  *    claim is a hard link of a temp file — the posix primitive that
  *    fails atomically when the target exists. Fully atomic under any
  *    mix of processes on one box.
  *  - [[HadoopLogStore]] (everything else, plus tests routing `file:`
  *    through it): Hadoop `FileContext`; the claim is write-temp +
  *    `rename(Rename.NONE)`, which the HDFS NameNode executes
  *    atomically — the exact pattern of Delta's `HDFSLogStore`. On
  *    filesystems whose no-overwrite rename is check-then-act (the
  *    local fs), an in-JVM lock per target serializes claimants, the
  *    same single-JVM contract as Delta's `LocalLogStore`.
  *
  * `FileContext` rather than `FileSystem` for the metadata ops: the
  * local `FileSystem` is checksummed (every write grows a `.crc`
  * sidecar that can disagree with out-of-band rewrites); `FileContext`
  * binds to the raw filesystem, so log files have no sidecars to
  * drift. Bulk tree ops (clone, size) go through `FileSystem` where
  * `getContentSummary` is one O(1) namenode RPC instead of a client
  * walk.
  */
private[graft] sealed trait LogStore {
  def exists(p: String): Boolean
  def isDir(p: String): Boolean
  def mkdirs(p: String): Unit
  /** Child NAMES of directory `p` (empty when `p` is missing). */
  def list(p: String): Seq[String]
  /** Throws `java.io.IOException` (incl. not-found) when unreadable. */
  def readString(p: String): String
  /** Replace-if-present write of a small pointer file, atomic where
    * the filesystem allows; callers are best-effort pointers (hint,
    * view, retirement stamps) whose correctness never rests on this. */
  def writeAtomic(p: String, body: String): Unit
  /** THE commit claim: publish `body` at `p` iff `p` does not exist.
    * Returns false when a concurrent claimant won. Readers never
    * observe a partially-written `p`. */
  def createIfAbsent(p: String, body: String): Boolean
  /** Delete a file if present. */
  def delete(p: String): Unit
  def deleteTree(p: String): Unit
  /** Same-filesystem no-replace rename (file or directory). */
  def rename(src: String, dst: String): Unit
  /** Cache identity of file `p`: must change whenever the file is
    * replaced by a different one (delete + recreate included). Throws
    * when missing. */
  def identity(p: String): AnyRef
  /** Last-modified epoch millis of `p`; throws when missing. Used for
    * AGE decisions only (debris sweeping), never correctness. */
  def modifiedMs(p: String): Long
  /** Total data bytes under `p`. */
  def treeBytes(p: String): Long
  /** Clone a directory tree (hard links where the fs supports them,
    * byte copy otherwise). */
  def cloneTree(src: String, dst: String): Unit
}

private[graft] object PosixLogStore extends LogStore {
  private def nio(p: String): java.nio.file.Path = {
    val u = new HPath(p).toUri
    Paths.get(if (u.getScheme == null) p else u.getPath)
  }

  def exists(p: String): Boolean = Files.exists(nio(p))
  def isDir(p: String): Boolean = Files.isDirectory(nio(p))
  def mkdirs(p: String): Unit = { Files.createDirectories(nio(p)); () }

  def list(p: String): Seq[String] =
    if (!Files.isDirectory(nio(p))) Nil
    else {
      val s = Files.list(nio(p))
      try {
        import scala.jdk.CollectionConverters._
        s.iterator().asScala.map(_.getFileName.toString).toVector
      } finally s.close()
    }

  def readString(p: String): String =
    new String(Files.readAllBytes(nio(p)), StandardCharsets.UTF_8)

  def writeAtomic(p: String, body: String): Unit = {
    val target = nio(p)
    val dir = target.getParent
    Files.createDirectories(dir)
    val tmp = Files.createTempFile(dir, s".${target.getFileName}-", ".tmp")
    // the temp is deleted on EVERY exit path — a failed move must not
    // leave debris that every later listing has to skip
    try {
      Files.write(tmp, body.getBytes(StandardCharsets.UTF_8))
      Files.move(tmp, target,
        StandardCopyOption.REPLACE_EXISTING, StandardCopyOption.ATOMIC_MOVE)
    } finally { Files.deleteIfExists(tmp); () }
  }

  def createIfAbsent(p: String, body: String): Boolean = {
    val target = nio(p)
    val dir = target.getParent
    Files.createDirectories(dir)
    val tmp = Files.createTempFile(dir, ".tmp-", "")
    try {
      Files.write(tmp, body.getBytes(StandardCharsets.UTF_8))
      try { Files.createLink(target, tmp); true }
      catch {
        case _: FileAlreadyExistsException => false
        case _: UnsupportedOperationException =>
          // no hard links (exotic fs): move-no-replace is the fallback
          try { Files.move(tmp, target); true }
          catch { case _: FileAlreadyExistsException => false }
      }
    } finally { Files.deleteIfExists(tmp); () }
  }

  def delete(p: String): Unit = { Files.deleteIfExists(nio(p)); () }

  def deleteTree(p: String): Unit = {
    val root = nio(p)
    if (Files.exists(root)) {
      val w = Files.walk(root)
      try {
        import scala.jdk.CollectionConverters._
        w.iterator().asScala.toVector.sortBy(-_.getNameCount)
          .foreach(f => Files.deleteIfExists(f))
      } finally w.close()
    }
  }

  def rename(src: String, dst: String): Unit = { Files.move(nio(src), nio(dst)); () }

  /** size + mtime + `fileKey` (inode identity): a table deleted and
    * recreated at the same path can produce a same-version manifest of
    * identical length in the same millisecond, and only the inode
    * tells those apart. */
  def identity(p: String): AnyRef = {
    val attrs = Files.readAttributes(
      nio(p), classOf[java.nio.file.attribute.BasicFileAttributes])
    (attrs.size, attrs.lastModifiedTime.toMillis, attrs.fileKey)
  }

  def modifiedMs(p: String): Long = Files.getLastModifiedTime(nio(p)).toMillis

  def treeBytes(p: String): Long = {
    val root = nio(p)
    if (!Files.exists(root)) 0L
    else {
      val w = Files.walk(root)
      try {
        import scala.jdk.CollectionConverters._
        w.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      } finally w.close()
    }
  }

  def cloneTree(src: String, dst: String): Unit =
    // normalize BOTH ends: callers hand scheme-qualified `file:` URIs
    // here too (Hadoop Path.toString round-trips), and linkClone walks
    // the source with raw nio
    Staging.linkClone(nio(src).toString, nio(dst))
}

private[graft] object HadoopLogStore extends LogStore {
  private def conf: Configuration =
    org.apache.spark.sql.SparkSession.getActiveSession
      .orElse(org.apache.spark.sql.SparkSession.getDefaultSession)
      .map(_.sparkContext.hadoopConfiguration)
      .getOrElse(new Configuration())

  private def fc(p: String): FileContext = {
    val u = new HPath(p).toUri
    if (u.getScheme == null) FileContext.getFileContext(conf)
    else FileContext.getFileContext(u, conf)
  }

  private def fs(p: String): FileSystem = new HPath(p).getFileSystem(conf)

  def exists(p: String): Boolean = fc(p).util().exists(new HPath(p))

  def isDir(p: String): Boolean =
    try fc(p).getFileStatus(new HPath(p)).isDirectory
    catch { case _: java.io.FileNotFoundException => false }

  def mkdirs(p: String): Unit =
    fc(p).mkdir(new HPath(p), FsPermission.getDirDefault, true)

  def list(p: String): Seq[String] =
    try {
      val it = fc(p).listStatus(new HPath(p))
      val b = Vector.newBuilder[String]
      while (it.hasNext) b += it.next().getPath.getName
      b.result()
    } catch { case _: java.io.FileNotFoundException => Nil }

  def readString(p: String): String = {
    val in = fc(p).open(new HPath(p))
    try {
      val out = new java.io.ByteArrayOutputStream()
      val buf = new Array[Byte](8192)
      var n = in.read(buf)
      while (n >= 0) { out.write(buf, 0, n); n = in.read(buf) }
      out.toString("UTF-8")
    } finally in.close()
  }

  private def writeFile(p: HPath, body: String, overwrite: Boolean): Unit = {
    import java.util.EnumSet
    val flags =
      if (overwrite) EnumSet.of(CreateFlag.CREATE, CreateFlag.OVERWRITE)
      else EnumSet.of(CreateFlag.CREATE)
    val out = fc(p.toString).create(p, flags,
      Options.CreateOpts.createParent())
    try out.write(body.getBytes(StandardCharsets.UTF_8)) finally out.close()
  }

  def writeAtomic(p: String, body: String): Unit = {
    val target = new HPath(p)
    val tmp = new HPath(target.getParent,
      s".${target.getName}-${java.util.UUID.randomUUID().toString.take(8)}.tmp")
    try {
      writeFile(tmp, body, overwrite = true)
      fc(p).rename(tmp, target, Options.Rename.OVERWRITE)
    } finally {
      try fc(p).delete(tmp, false)
      catch { case _: java.io.IOException => () }
    }
  }

  /** In-JVM claim serialization for filesystems whose no-overwrite
    * rename is check-then-act (the local fs): correct for any number
    * of threads in one JVM — Delta `LocalLogStore`'s contract. On
    * HDFS the NameNode makes the rename itself atomic and the lock is
    * just uncontended overhead. STRIPED (fixed 64 monitors keyed by
    * path hash) rather than per-path: a long-lived JVM claims
    * unboundedly many manifest paths, and a per-path map would be a
    * slow leak; coarser granularity only ever costs contention, never
    * correctness. */
  private val claimLocks = Array.fill(64)(new Object)

  def createIfAbsent(p: String, body: String): Boolean = {
    val target = new HPath(p)
    val tmp = new HPath(target.getParent,
      s".tmp-${java.util.UUID.randomUUID().toString.take(8)}")
    val lock = claimLocks(math.abs(p.hashCode % 64))
    try {
      writeFile(tmp, body, overwrite = false)
      lock.synchronized {
        if (fc(p).util().exists(target)) false
        else
          try { fc(p).rename(tmp, target); true }
          catch {
            case _: org.apache.hadoop.fs.FileAlreadyExistsException => false
            case _: FileAlreadyExistsException => false
          }
      }
    } finally {
      try fc(p).delete(tmp, false)
      catch { case _: java.io.IOException => () }
    }
  }

  def delete(p: String): Unit =
    try { fc(p).delete(new HPath(p), false); () }
    catch { case _: java.io.FileNotFoundException => () }

  def deleteTree(p: String): Unit =
    try { fc(p).delete(new HPath(p), true); () }
    catch { case _: java.io.FileNotFoundException => () }

  def rename(src: String, dst: String): Unit = {
    // guard: Hadoop rename onto an EXISTING DIRECTORY moves src INTO
    // it (posix mv); the seam's contract is fail-on-existing
    if (exists(dst))
      throw new java.io.IOException(s"rename target exists: $dst")
    fc(src).rename(new HPath(src), new HPath(dst))
  }

  /** len + mtime only — Hadoop surfaces no inode identity. Manifests
    * are immutable, so this is only ever wrong for delete-and-recreate
    * races inside one mtime granule; acceptable for the remote-fs
    * route (the posix route has the inode key). */
  def identity(p: String): AnyRef = {
    val st = fc(p).getFileStatus(new HPath(p))
    (st.getLen, st.getModificationTime)
  }

  def modifiedMs(p: String): Long =
    fc(p).getFileStatus(new HPath(p)).getModificationTime

  /** One namenode RPC on HDFS — no client-side walk at scale. */
  def treeBytes(p: String): Long =
    try fs(p).getContentSummary(new HPath(p)).getLength
    catch { case _: java.io.FileNotFoundException => 0L }

  /** Remote filesystems have no hard links: the projection clone is a
    * real copy here (the honest cost of a name-based-reader view on
    * HDFS; manifest-resolved readers never need it). */
  def cloneTree(src: String, dst: String): Unit = {
    val f = fs(src)
    if (!FileUtil.copy(f, new HPath(src), f, new HPath(dst),
        false, true, conf))
      throw new java.io.IOException(s"copy $src -> $dst failed")
  }
}
