package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.DimStore

/** The store half of `stream_store`: reads beside writes on one [[DimStore]] table
  * keyed by a derived lineitem key.
  *
  *  - one bulk upsert of `Replicas` × lineitem rows — more than the
  *    store's 200k-row small-commit limit, so it takes the large-commit
  *    route;
  *  - `CdcBatches` CDC upserts of 3–5k rows each (the
  *    small-commit route), each preceded by a current-snapshot read and
  *    followed by another and by an as-of read of an earlier version;
  *  - one `deleteWhere` and one `maintain`, each followed by a read.
  *
  * The seed picks each CDC batch's size and keys, the versions read
  * as-of, and the delete predicate. The final snapshot is checked
  * against a last-writer-wins model kept in memory.
  */
final class StoreWorkload(a: Main.Args) extends Workload {
  import StoreWorkload._

  private val table = a.work.resolve("dim").toString
  private var lineKeys: Array[Long] = Array.empty
  private var plan: Plan = _
  private val cdcBatches = a.scaled(CdcBatches)


  private def lineitem(spark: SparkSession): DataFrame =
    graft.core.Tables.load(spark, a.data, "lineitem")
      .select((col("l_orderkey") * 8 + col("l_linenumber")).as("lk"),
        col("l_quantity").as("qty"), col("l_extendedprice").as("price"),
        col("l_returnflag").as("flag"), col("l_shipdate").as("shipped"))

  def setup(spark: SparkSession, tr: Trace): Unit = {
    import spark.implicits._
    lineKeys = tr.span("core.fixture_load") {
      lineitem(spark).select("lk").as[Long].collect().sorted
    }
    val rnd = new scala.util.Random(a.seed)
    val bulkKeys = lineKeys.length.toLong * Replicas
    val batches = (0 until cdcBatches).map { i =>
      val n = CdcMin + rnd.nextInt(CdcMax - CdcMin + 1)
      Array.fill(n) {
        // one key in ten is new; the rest update existing rows
        if (rnd.nextInt(10) == 0) NewKeyBase + i.toLong * CdcMax + rnd.nextInt(CdcMax)
        else keyOf(rnd.nextLong().abs % bulkKeys)
      }.distinct
    }
    plan = Plan(batches,
      asOf = batches.indices.map(i => 1 + rnd.nextInt(i + 1)),
      readLo = batches.indices.map(_ => keyOf(rnd.nextLong().abs % bulkKeys)),
      delMod = 50 + rnd.nextInt(50), delRem = rnd.nextInt(50))
  }

  /** The window's calls at small size on a throwaway table: two small
    * commits, a current and an as-of read, a delete and a maintain. */
  override def warmup(spark: SparkSession): Unit = {
    val w = a.work.resolve("warmup-dim").toString
    DimStore.upsert(spark, w, cdcFrame(spark, plan.batches(0), 1L), "k", "v", Buckets)
    DimStore.upsert(spark, w, cdcFrame(spark, plan.batches(1), 2L), "k", "v", Buckets)
    readAgg(DimStore.read(spark, w), plan.readLo(0))
    readAgg(DimStore.read(spark, w, 1L), plan.readLo(0))
    DimStore.deleteWhere(spark, w, "k", pmod(col("k"), lit(plan.delMod)) === plan.delRem)
    DimStore.maintain(spark, w, "k")
    Files2.deleteTree(java.nio.file.Paths.get(w))
  }

  private def readAgg(df: DataFrame, lo: Long): Unit =
    df.where(col("k").between(lo, lo + ReadSpan))
      .agg(count(lit(1)), max(col("v")), sum(col("qty"))).head()

  /** Bulk key `i` → replica `i / lines` of line `i % lines`. */
  private def keyOf(i: Long): Long =
    (i / lineKeys.length) * ReplicaStride + lineKeys((i % lineKeys.length).toInt)

  private def cdcFrame(spark: SparkSession, keys: Array[Long], v: Long): DataFrame = {
    import spark.implicits._
    keys.toSeq.toDF("k")
      .select(col("k"), lit(v).as("v"), (pmod(col("k"), lit(50)) + v).cast("double").as("qty"),
        (pmod(col("k"), lit(100000)) / 7.0 + v).as("price"), lit("C").as("flag"),
        timestamp_seconds(lit(1700000000L) + col("k") % 1000 * 60).as("shipped"))
  }

  private def bulkFrame(spark: SparkSession): DataFrame =
    lineitem(spark).crossJoin(spark.range(Replicas).withColumnRenamed("id", "r"))
      .select((col("r") * ReplicaStride + col("lk")).as("k"), lit(0L).as("v"),
        col("qty"), col("price"), col("flag"), col("shipped"))

  /** Per-op-kind latencies, for the traced run's layer metrics. */
  private val kindMs = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]
  private var commitJobs = 0L
  private def op(ops: Ops, tr: Trace, kind: String)(body: => Unit): Unit = {
    val before = ops.latMs.size
    val jobs0 = tr.jobsSoFar
    tr.span(s"store:$kind") { ops.timed(kind)(body) }
    if (kind.startsWith("commit")) commitJobs += tr.jobsSoFar - jobs0
    if (ops.latMs.size > before)
      kindMs.getOrElseUpdate(kind, mutable.ArrayBuffer.empty) += ops.latMs.last
  }

  def run(spark: SparkSession, ops: Ops, tr: Trace): Unit = {
    Files2.deleteTree(java.nio.file.Paths.get(table))
    kindMs.clear()
    commitJobs = 0L
    op(ops, tr, "commit_large") {
      DimStore.upsert(spark, table, bulkFrame(spark), "k", "v", Buckets)
    }
    Jvm.checkpoint()
    plan.batches.indices.foreach { i =>
      op(ops, tr, "read") { readAgg(DimStore.read(spark, table), plan.readLo(i)) }
      op(ops, tr, "commit_small") {
        DimStore.upsert(spark, table, cdcFrame(spark, plan.batches(i), i + 1L), "k", "v", Buckets)
      }
      op(ops, tr, "read") { readAgg(DimStore.read(spark, table), plan.readLo(i)) }
      op(ops, tr, "read_asof") {
        readAgg(DimStore.read(spark, table, plan.asOf(i).toLong), plan.readLo(i))
      }
    }
    Jvm.checkpoint()
    op(ops, tr, "delete") {
      DimStore.deleteWhere(spark, table, "k", pmod(col("k"), lit(plan.delMod)) === plan.delRem)
    }
    op(ops, tr, "read") { readAgg(DimStore.read(spark, table), plan.readLo(0)) }
    op(ops, tr, "maintain") { DimStore.maintain(spark, table, "k") }
    op(ops, tr, "read") { readAgg(DimStore.read(spark, table), plan.readLo(1)) }
  }

  /** The final snapshot must equal the last-writer-wins model: the
    * highest version per key over all batches, minus deleted keys. */
  def check(spark: SparkSession, ops: Ops): Unit = {
    import spark.implicits._
    val model = mutable.HashMap.empty[Long, Long]
    (0L until lineKeys.length.toLong * Replicas).foreach(i => model(keyOf(i)) = 0L)
    plan.batches.zipWithIndex.foreach { case (ks, i) => ks.foreach(k => model(k) = i + 1L) }
    model.keys.filter(k => Math.floorMod(k, plan.delMod.toLong) == plan.delRem).toSeq
      .foreach(model.remove)
    val got = DimStore.read(spark, table).select("k", "v").as[(Long, Long)].collect()
    val gotMap = got.toMap
    val bad = (if (got.length != gotMap.size) 1 else 0) +
      model.count { case (k, v) => !gotMap.get(k).contains(v) } +
      gotMap.keys.count(k => !model.contains(k))
    if (bad > 0) ops.fail("dim_store.snapshot", new IllegalStateException(
      s"final snapshot differs from the last-writer-wins model on $bad keys " +
        s"(${got.length} rows, model ${model.size})"))
    val commits = DimStore.history(table).size
    val want = 1 + cdcBatches + 1 // bulk + CDC + delete; maintain may add one
    if (commits < want) ops.fail("dim_store.history", new IllegalStateException(
      s"history has $commits versions, expected at least $want"))
  }

  override def layerMetrics(tr: Trace, m: Metrics): Unit = {
    def med(kind: String) = kindMs.get(kind).map(xs => Stats.median(xs.toSeq)).getOrElse(0.0)
    m.put("ops.dimstore.commit_small_ms", med("commit_small"), "ms")
    m.put("ops.dimstore.commit_large_ms", med("commit_large"), "ms")
    m.put("ops.dimstore.read_ms", med("read"), "ms")
    m.put("ops.dimstore.read_asof_ms", med("read_asof"), "ms")
    m.put("ops.dimstore.delete_ms", med("delete"), "ms")
    m.put("ops.dimstore.maintain_ms", med("maintain"), "ms")
    val commitsN = DimStore.history(table).size.toDouble
    val files = tree(table).filter(p => p.getFileName.toString.endsWith(".parquet"))
    val bytes = tree(table).filter(java.nio.file.Files.isRegularFile(_))
      .map(java.nio.file.Files.size).sum
    val rowsWritten = lineKeys.length.toDouble * Replicas + plan.batches.map(_.length).sum
    m.put("ops.dimstore.jobs_per_commit", commitJobs / (1.0 + cdcBatches), "count")
    m.put("ops.dimstore.files_per_commit", files.size / math.max(1.0, commitsN), "count")
    m.put("ops.dimstore.bytes_written_per_row",
      files.map(java.nio.file.Files.size).sum / rowsWritten, "B")
    m.put("ops.dimstore.disk_mb", bytes / (1024.0 * 1024.0), "MB")
  }

  private def tree(p: String): Seq[java.nio.file.Path] = {
    import scala.jdk.CollectionConverters._
    val root = java.nio.file.Paths.get(p)
    if (!java.nio.file.Files.exists(root)) Nil
    else java.nio.file.Files.walk(root).iterator().asScala.toSeq
  }
}

object StoreWorkload {
  /** Everything the seed decides, drawn once before the window. */
  final case class Plan(batches: IndexedSeq[Array[Long]], asOf: IndexedSeq[Int],
                        readLo: IndexedSeq[Long], delMod: Int, delRem: Int)

  val Replicas = 4
  /** Bucket fan-out sized to the table (~15k rows a bucket). */
  val Buckets = 16
  val ReplicaStride = 1L << 40
  val NewKeyBase = 1L << 50
  /** CDC batches at the nominal `--seconds`. */
  val CdcBatches = 4
  val CdcMin = 3000
  val CdcMax = 5000
  val ReadSpan = 1L << 20
}
