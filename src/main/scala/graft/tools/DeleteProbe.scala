package graft.tools

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._

/** Dev-side targeted-deletion write-amplification probe (NOT part of
  * the driver contract): converts `DimStore.deleteWhere`'s "O(touched
  * buckets)" claim — which `AnnIndex.purgeTombstones` and the cluster
  * takedown routes ride — from a spec-pinned complexity argument into
  * measured bytes, in BOTH regimes a real takedown sees:
  *
  *  - CLUSTERED: the doomed rows hash into one bucket (a pk-range or
  *    tenant-scoped purge). Expected rewrite ≈ table/fan-out — the
  *    bound the manifest's per-bucket generations exist to give.
  *  - SCATTERED: ~1 % of rows chosen uniformly (the PII-sweep shape,
  *    and exactly what ANN tombstones look like: vec_id-hashed across
  *    every bucket). 10⁴ victims over 64 buckets touch ALL of them,
  *    so the rewrite approaches the full table — the honest limit of
  *    bucket-scoped deletion, and why a tombstone-heavy index should
  *    batch its purges (`maintain(purgeTombstonesOver = N)`) instead
  *    of purging per takedown.
  *
  * Prints one JSON line with table bytes, per-regime rewrite bytes,
  * and their fractions of the table.
  *
  * Usage: runMain graft.tools.DeleteProbe [nRows] [nBuckets]
  */
object DeleteProbe {
  def main(args: Array[String]): Unit = {
    val nRows = args.headOption.map(_.toLong).getOrElse(1000000L)
    val nBuckets = args.lift(1).map(_.toInt).getOrElse(64)
    val spark = graft.core.GraftSession.builder("DeleteProbe").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val work = Files.createTempDirectory("delete_probe_")
    val path = s"$work/dim"
    def treeBytes(p: java.nio.file.Path): Long = {
      val w = Files.walk(p)
      try {
        import scala.jdk.CollectionConverters._
        w.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      } finally w.close()
    }
    /** Bytes of the generation committed at `version` — exactly what
      * the delete that produced the version physically rewrote. */
    def genBytes(version: Long): Long = {
      val gd = Paths.get(path, "_gens")
      val l = Files.list(gd)
      try {
        import scala.jdk.CollectionConverters._
        l.iterator().asScala
          .filter(_.getFileName.toString.startsWith(f"g$version%020d"))
          .map(treeBytes).sum
      } finally l.close()
    }

    // ~120-byte payload rows so generation sizes dwarf parquet footers
    val base = spark.range(nRows).select(col("id"),
      concat_ws("-", md5(col("id").cast("string")),
        md5((col("id") + 1).cast("string")),
        md5((col("id") + 2).cast("string"))).as("payload"),
      lit(1L).as("ver"))
    graft.ops.DimStore.upsert(spark, path, base, "id", "ver",
      nBuckets = nBuckets)
    val tableBytes = genBytes(1L)

    // v2 — CLUSTERED: every victim lands in bucket 0 (the store's own
    // bucketing expression, so the predicate is bucket-exact)
    val clustered = graft.ops.DimStore.deleteWhere(spark, path, "id",
      pmod(hash(col("id")), lit(nBuckets)) === 0 && col("id") % 2 === 0)
    val clusteredBytes = genBytes(2L)

    // v3 — SCATTERED: ~1 % of rows uniformly (the PII/tombstone shape)
    val scattered = graft.ops.DimStore.deleteWhere(spark, path, "id",
      col("id") % 100 === 7)
    val scatteredBytes = genBytes(3L)

    def num(v: Double): String =
      String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    println(s"""{"rows":$nRows,"buckets":$nBuckets,"table_bytes":$tableBytes,""" +
      s""""clustered_deleted":$clustered,"clustered_gen_bytes":$clusteredBytes,""" +
      s""""clustered_frac_of_table":${num(clusteredBytes.toDouble / tableBytes)},""" +
      s""""scattered_deleted":$scattered,"scattered_gen_bytes":$scatteredBytes,""" +
      s""""scattered_frac_of_table":${num(scatteredBytes.toDouble / tableBytes)}}""")

    import scala.jdk.CollectionConverters._
    Files.walk(work).iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists(_))
    spark.stop()
  }
}
