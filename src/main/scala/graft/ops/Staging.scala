package graft.ops

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.security.MessageDigest
import org.apache.spark.sql.DataFrame

/** Disk-staged materialized intermediates — the "pipeline stages a
  * table once, every downstream job reads it" contract a real warehouse
  * runs on. Composition queries (x36/x43/x65 over x28's cluster
  * labels) are narrow aggregations over an ALREADY-BUILT intermediate
  * at 100 TB; without a staging story each standalone invocation
  * re-paid the full upstream pipeline (shingle → minhash → band join →
  * connected components) from scratch. `ensure` gives them the production
  * shape: first consumer builds and atomically publishes the parquet,
  * every later consumer — across queries AND across JVMs — pays one
  * scan.
  *
  * Staleness safety, two axes:
  *  - DATA: the stage key embeds a fingerprint of the source table's
  *    file metadata (relative path, length, mtime of every data file,
  *    plus each table's name and presence), so a regenerated dataset at
  *    the same path gets a fresh stage instead of silently serving
  *    stale labels.
  *  - CODE: the key also embeds a fingerprint of the loaded graft
  *    classes (jar / classes-dir metadata), so a stage built by OLD
  *    builder code is never served after the code changes — the stage
  *    root persists across JVM runs, and without this a rebuilt
  *    pipeline would silently read a predecessor build's layout.
  *
  * Publication is write-to-temp + atomic rename; a concurrent builder
  * that loses the race discards its copy and reads the winner's.
  * Superseded stages are retired with a GRACE WINDOW: a republish
  * stamps the predecessor `_RETIRED` in place (files untouched, so a
  * concurrent reader — same JVM or not — holding the old path keeps
  * scanning safely) and a later `ensure` deletes it only once the stamp
  * is older than [[GraceMillis]].
  */
object Staging {
  private def root: Path = Paths.get(
    sys.env.getOrElse("GRAFT_STAGE_DIR",
      sys.props.getOrElse("java.io.tmpdir", "/tmp") + "/graft-stage"))

  /** How long a superseded stage stays readable after retirement. */
  val GraceMillis: Long = 15L * 60 * 1000

  /** Metadata fingerprint of the code that builds stages: the location
    * Staging's classes load from (sbt classes dir in dev, a jar in a
    * deployment), hashed by file metadata. Any recompile changes it, so
    * code changes invalidate stages exactly the way data changes do —
    * over-eager (an unrelated recompile re-stages) but never stale. */
  private lazy val codeFingerprint: String = {
    val md = MessageDigest.getInstance("MD5")
    try {
      val loc = Staging.getClass.getProtectionDomain.getCodeSource
        .getLocation.toURI
      val p = Paths.get(loc)
      if (Files.isDirectory(p)) {
        val s = Files.walk(p)
        try {
          import scala.jdk.CollectionConverters._
          s.iterator().asScala.filter(Files.isRegularFile(_)).toVector
            .map(f => (p.relativize(f).toString, f)).sortBy(_._1)
            .foreach { case (rel, f) =>
              md.update(s"$rel|${Files.size(f)}|${Files.getLastModifiedTime(f).toMillis}\n"
                .getBytes("UTF-8"))
            }
        } finally s.close()
      } else if (Files.exists(p)) {
        md.update(s"${p.getFileName}|${Files.size(p)}|${Files.getLastModifiedTime(p).toMillis}"
          .getBytes("UTF-8"))
      } else md.update("no-code-source".getBytes("UTF-8"))
    } catch {
      case _: Exception => md.update("no-code-source".getBytes("UTF-8"))
    }
    md.digest().map("%02x".format(_)).mkString.take(8)
  }

  /** Metadata fingerprint (no data read) of the given source tables,
    * mixed with [[codeFingerprint]]. Each table contributes its NAME
    * and a presence flag even when empty/absent, so `Seq("a")` vs
    * `Seq("b")` with a missing table can never collide. */
  private def fingerprint(dir: String, tables: Seq[String]): String = {
    val md = MessageDigest.getInstance("MD5")
    md.update(s"code=$codeFingerprint\n".getBytes("UTF-8"))
    val base = Paths.get(dir).toAbsolutePath.normalize()
    tables.sorted.foreach { t =>
      val p = base.resolve(s"$t.parquet")
      val files: Seq[Path] =
        if (Files.isDirectory(p)) {
          val s = Files.walk(p)
          try {
            import scala.jdk.CollectionConverters._
            s.iterator().asScala.filter(Files.isRegularFile(_)).toVector
              .sortBy(_.toString)
          } finally s.close()
        } else if (Files.exists(p)) Seq(p)
        else Seq.empty
      md.update(s"table=$t present=${files.nonEmpty}\n".getBytes("UTF-8"))
      files.foreach { f =>
        md.update(
          s"${p.relativize(f.toAbsolutePath.normalize())}|${Files.size(f)}|${Files.getLastModifiedTime(f).toMillis}\n"
            .getBytes("UTF-8"))
      }
    }
    md.digest().map("%02x".format(_)).mkString.take(16)
  }

  /** Return the staged parquet path for (`name`, `dir`), building it
    * via `build` exactly once per (dataset version, builder code). */
  def ensure(name: String, dir: String, sourceTables: Seq[String])
            (build: => DataFrame): String =
    ensurePath(name, dir, sourceTables)(p =>
      build.write.mode("overwrite").parquet(p.toString))

  private val Marker = "_GRAFT_STAGED"
  private val RetiredMarker = "_RETIRED"

  /** Generalized form: `build` materializes an arbitrary directory
    * (e.g. a DimStore bucketed layout) at the path it is handed; the
    * directory is then atomically published under the fingerprinted
    * stage key. In-JVM callers serialize on the monitor; cross-JVM
    * losers of the rename race fall back to the published copy. */
  def ensurePath(name: String, dir: String, sourceTables: Seq[String])
                (build: java.nio.file.Path => Unit): String = synchronized {
    val key = s"$name-${fingerprint(dir, sourceTables)}"
    val target = root.resolve(key)
    if (!Files.exists(target.resolve(Marker))) {
      Files.createDirectories(root)
      val tmp = Files.createTempDirectory(root, s".$key-build-")
      // build INTO the temp dir then move the result up: writers
      // (Spark among them) need a non-existent target
      val stage = tmp.resolve("data")
      build(stage)
      // the marker travels INSIDE the dir, so its presence at the
      // final path implies a complete, atomically-published build; its
      // CONTENT records which source dir this version came from, so
      // retirement can distinguish "predecessor of the same dataset"
      // from "same-named stage of a different dataset" (sf0.001/0.01/
      // 0.1 and test fixtures all stage under the same names)
      Files.writeString(stage.resolve(Marker), dir)
      try Files.move(stage, target, StandardCopyOption.ATOMIC_MOVE)
      catch {
        // rename onto an existing dir surfaces as FileAlreadyExists /
        // DirectoryNotEmpty depending on the fs — usually another
        // process published first (use theirs). But an existing dir
        // WITHOUT the marker is debris, not a publication — clear it
        // and retry once rather than serve a broken stage
        case _: java.nio.file.FileSystemException =>
          if (!Files.exists(target.resolve(Marker))) {
            val t = Files.walk(target)
            try {
              import scala.jdk.CollectionConverters._
              t.iterator().asScala.toVector.sortBy(-_.getNameCount)
                .foreach(f => Files.deleteIfExists(f))
            } finally t.close()
            // a concurrent process may publish BETWEEN the marker
            // re-check and this retry — a doubly-lost race degrades to
            // reading the winner's copy, never to a failed query
            try Files.move(stage, target, StandardCopyOption.ATOMIC_MOVE)
            catch {
              case e: java.nio.file.FileSystemException =>
                if (!Files.exists(target.resolve(Marker))) throw e
            }
          }
      }
      // best-effort cleanup of the (now empty or superseded) temp dir
      try {
        val s = Files.walk(tmp)
        try {
          import scala.jdk.CollectionConverters._
          s.iterator().asScala.toVector.sortBy(-_.getNameCount)
            .foreach(f => Files.deleteIfExists(f))
        } finally s.close()
      } catch { case _: java.io.IOException => () }
    }
    // runs on cache hits too: sweeping an aged-out predecessor must not
    // wait for the next republish
    retireStale(name, key, dir)
    target.toString
  }

  /** Retire STALE versions of this stage — same name, SAME source dir
    * (per the marker), different fingerprint: a regenerated dataset (or
    * rebuilt code) leaves its predecessor's stage unreachable, since
    * every future lookup keys on the new fingerprint. Retirement is
    * two-phase so a concurrent reader that resolved the OLD fingerprint
    * before the republish keeps scanning intact files: first sighting
    * stamps `_RETIRED` in place; a later pass deletes only stages whose
    * stamp has aged past [[GraceMillis]]. Same-named stages of OTHER
    * datasets (the other scale factors, test fixtures) are live and
    * untouched. */
  private def retireStale(name: String, key: String, dir: String): Unit =
    try {
      val siblings = Files.list(root)
      try {
        import scala.jdk.CollectionConverters._
        siblings.iterator().asScala.toVector
          .filter { d =>
            val b = d.getFileName.toString
            b.startsWith(s"$name-") && b != key &&
              // same "name-<16 hex>" shape only: never touch a
              // different stage whose name merely shares a prefix
              b.length == name.length + 17 &&
              Files.isDirectory(d) &&
              (try Files.readString(d.resolve(Marker)) == dir
               catch { case _: java.io.IOException => false })
          }
          .foreach { d =>
            val stamp = d.resolve(RetiredMarker)
            if (!Files.exists(stamp)) {
              try Files.writeString(stamp, "retired")
              catch { case _: java.io.IOException => () }
            } else {
              val age = System.currentTimeMillis() -
                Files.getLastModifiedTime(stamp).toMillis
              if (age > GraceMillis) {
                val w = Files.walk(d)
                try w.iterator().asScala.toVector.sortBy(-_.getNameCount)
                  .foreach(f => Files.deleteIfExists(f))
                finally w.close()
              }
            }
          }
      } finally siblings.close()
    } catch { case _: java.io.IOException => () }

  /** Hardlink-clone a staged directory into `dest` — O(file count),
    * zero data copied. The use case: a probe that needs to MUTATE a
    * staged table (w18's merge probe) clones it first; staged parquet
    * files are immutable (mutation replaces whole bucket dirs, so
    * shared inodes are never written through). */
  def linkClone(src: String, dest: java.nio.file.Path): Unit = {
    val srcP = Paths.get(src)
    val s = Files.walk(srcP)
    try {
      import scala.jdk.CollectionConverters._
      s.iterator().asScala.foreach { f =>
        val rel = srcP.relativize(f)
        val to = dest.resolve(rel.toString)
        if (Files.isDirectory(f)) Files.createDirectories(to)
        else {
          Files.createDirectories(to.getParent)
          // cross-device / no-hardlink fs: degrade to a real copy
          try Files.createLink(to, f)
          catch {
            case _: UnsupportedOperationException | _: java.io.IOException =>
              Files.copy(f, to, StandardCopyOption.REPLACE_EXISTING)
          }
        }
      }
    } finally s.close()
  }
}
