package perfbench

import org.apache.spark.sql.SparkSession

import graft.queries.{Q, Registry}

/** `registry_batch`: a fixed sample of registry queries, one at a
  * time, each into the noop sink, in a seed-chosen order — a closed loop
  * with one client and one query in flight.
  *
  * Set-up loads the fixture. The warm-up is two passes over the
  * sample: every query into parquet under `work/out/<query>` (the
  * outputs the check names, which `run.py` hash-compares with DuckDB's
  * result for the query's oracle), then the window's own loop into
  * noop. The window runs the whole sample `passes` times.
  */
final class BatchWorkload(a: Main.Args) extends Workload {
  import BatchWorkload._
  private val queries: Seq[Q] = Sample.map(p => Registry.all.find(_.name.startsWith(p + "_"))
    .getOrElse(sys.error(s"no registry query $p")))
  private val order: Seq[Q] = new scala.util.Random(a.seed).shuffle(queries)
  private val passes = a.scaled(Passes)
  private val outDir = a.work.resolve("out")
  private val outputErrors = scala.collection.mutable.ArrayBuffer.empty[(String, Throwable)]

  def setup(spark: SparkSession, tr: Trace): Unit =
    tr.span("core.fixture_load") {
      graft.core.Tables.names.foreach(t => graft.core.Tables.load(spark, a.data, t).count())
    }

  override def warmup(spark: SparkSession): Unit = {
    queries.foreach { q =>
      try q.run(spark, a.data).write.mode("overwrite").parquet(outDir.resolve(q.name).toString)
      catch { case e: Throwable if Ops.recoverable(e) => outputErrors += q.name -> e }
      graft.queries.Extensions.clearPersistedIntermediates()
    }
    pass(spark, new Ops, new Trace(false))
  }

  def run(spark: SparkSession, ops: Ops, tr: Trace): Unit =
    (1 to passes).foreach { _ =>
      pass(spark, ops, tr)
      Jvm.checkpoint()
    }

  /** The whole sample once, in the seed's order, each query into noop. */
  private def pass(spark: SparkSession, ops: Ops, tr: Trace): Unit =
    order.foreach { q =>
      tr.span(s"query:${q.name}") {
        ops.timed(q.name) {
          val df = tr.span("queries.build") { q.run(spark, a.data) }
          tr.span("queries.exec") { df.write.format("noop").mode("overwrite").save() }
        }
      }
      graft.queries.Extensions.clearPersistedIntermediates()
    }

  /** Name the warm-up's parquet outputs for the oracle check; a query
    * that could not write one has failed. */
  def check(spark: SparkSession, ops: Ops): Unit =
    queries.foreach { q =>
      outputErrors.find(_._1 == q.name) match {
        case Some((_, e)) => ops.fail(q.name, e)
        case None => q.oracle.foreach(sql =>
          ops.oracleChecks += ((q.name, outDir.resolve(q.name).toString, passes, sql)))
      }
    }

  override def layerMetrics(tr: Trace, m: Metrics): Unit = {
    def familyMs(names: Set[String]): Double =
      names.toSeq.flatMap(n => tr.named(s"query:$n")).map(_.ms).sum / passes
    val byPrefix = (ps: Seq[String]) =>
      queries.map(_.name).filter(n => ps.exists(p => n.startsWith(p + "_"))).toSet
    m.put("ops.store_family_ms", familyMs(byPrefix(StoreFamily)), "ms")
    m.put("ops.cc_family_ms", familyMs(byPrefix(CcFamily)), "ms")
  }

  override def traceExtras(spark: SparkSession, tr: Trace, ops: Ops, m: Metrics): Unit =
    Kernels.measure(spark, a.data, tr, ops, m)
}

object BatchWorkload {
  /** The sampled queries, by registry prefix. Kept small: each distinct
    * query adds JIT work to the window, the main source of run-to-run
    * spread. No store-family query is sampled: the cheapest that merges
    * into a `DimStore` (w21) takes about 2 s on `sf0.01`, and six runs
    * of it (two warm-up passes, four timed ones) would lengthen every
    * run by about 12 s, a fifth, more than the time the benchmark may take
    * allows. The store calls
    * are timed on `stream_store` instead. */
  val Sample: Seq[String] = Seq(
    "q04", // fact join
    "q09", // window top-n per key
    "q27", // pre-aggregated join
    "w05", // daily unique-visitor dedup, the batch twin of DedupDaily
    "w15", // SCD-2 validity intervals from a lead window
    "w16", // windowed heavy hitters: the SpaceSavingTopK kernel
    "x01", // exact dedup on a sha256 fingerprint
    "x30", // char stats and bigram kernels
    "x73", // MinHash near-dup pairs, then star-contraction connected components
    "x92") // DSIR bucket counts
  /** Passes over the sample at the nominal `--seconds`. */
  val Passes = 4

  /** The query families of the `ops.*_family_ms` metrics; only their
    * sampled members are timed (x73; no store-family member). */
  val StoreFamily = Seq("w10", "w17", "w18", "w19", "w20", "w21", "x94", "x96", "x97")
  val CcFamily = Seq("x28", "x73", "x74", "x96", "x97")
}
