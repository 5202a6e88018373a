package graft.tools

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._

/** Dev-side rebucket write-amplification probe (NOT part of the driver
  * contract): demonstrates, with measured bytes, why bucket fan-out
  * evolution matters at scale.
  *
  * A dim's upsert rewrites the full bucket(s) its batch pks land in —
  * O(table bytes / fan-out) per touched bucket. A table that grows far
  * past its creation fan-out therefore pays ever-growing rewrite cost
  * for a one-row micro-batch; `DimStore.rebucket` restores the bound.
  * This probe builds an N-row dim at a NARROW fan-out, measures the
  * generation bytes a single-pk upsert writes, re-buckets to a WIDE
  * fan-out, measures the same single-pk upsert again, and prints one
  * JSON line with the amplification drop (expected ≈ wide/narrow).
  *
  * Usage: runMain graft.tools.RebucketProbe [nRows] [narrow] [wide]
  */
object RebucketProbe {
  def main(args: Array[String]): Unit = {
    val nRows = args.headOption.map(_.toLong).getOrElse(200000L)
    val narrow = args.lift(1).map(_.toInt).getOrElse(8)
    val wide = args.lift(2).map(_.toInt).getOrElse(64)
    val spark = graft.core.GraftSession.builder("RebucketProbe").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val work = Files.createTempDirectory("rebucket_probe_")
    val path = s"$work/dim"
    def treeBytes(p: java.nio.file.Path): Long = {
      val w = Files.walk(p)
      try {
        import scala.jdk.CollectionConverters._
        w.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      } finally w.close()
    }
    /** Bytes of the generation(s) committed at `version` — exactly what
      * the upsert that produced the version physically wrote. */
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

    import spark.implicits._
    // ~120-byte payload rows so generation sizes dwarf parquet footers
    val base = spark.range(nRows).select(col("id"),
      concat_ws("-", md5(col("id").cast("string")),
        md5((col("id") + 1).cast("string")),
        md5((col("id") + 2).cast("string"))).as("payload"),
      lit(1L).as("ver"))
    graft.ops.DimStore.upsert(spark, path, base, "id", "ver",
      nBuckets = narrow)
    val tableBytes = genBytes(1L)

    def singlePkUpsert(pk: Long, ver: Long): Unit =
      graft.ops.DimStore.upsert(spark, path,
        Seq((pk, "probe", ver)).toDF("id", "payload", "ver"), "id", "ver")

    // v2: one-pk micro-batch at the narrow fan-out
    singlePkUpsert(42L, 2L)
    val narrowBytes = genBytes(2L)
    // v3: fan-out evolution; v4: the same one-pk micro-batch after
    graft.ops.DimStore.rebucket(spark, path, "id", wide)
    singlePkUpsert(4242L, 3L)
    val wideBytes = genBytes(4L)

    def num(v: Double): String =
      String.format(java.util.Locale.ROOT, "%.2f", Double.box(v))
    println(s"""{"rows":$nRows,"narrow_buckets":$narrow,"wide_buckets":$wide,""" +
      s""""table_bytes":$tableBytes,"upsert_gen_bytes_narrow":$narrowBytes,""" +
      s""""upsert_gen_bytes_wide":$wideBytes,""" +
      s""""amplification_drop":${num(narrowBytes.toDouble / math.max(wideBytes, 1))},""" +
      s""""narrow_frac_of_table":${num(narrowBytes.toDouble / tableBytes)},""" +
      s""""wide_frac_of_table":${num(wideBytes.toDouble / tableBytes)}}""")

    import scala.jdk.CollectionConverters._
    Files.walk(work).iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists(_))
    spark.stop()
  }
}
