package graft.tools

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ops.AnnIndex

/** Dev-side staged-rebuild interference probe (NOT part of the driver
  * contract): the staged ANN rebuild moves the measured train +
  * re-encode pause (SCALEPROBE: 19→85 s at 200k→1M vectors) off the
  * micro-batch path — but the background build's Spark jobs still
  * share the executor with live ingest, so the question the spec-scale
  * fixtures can't answer is: what does an ingest batch COST while a
  * real-scale train runs concurrently? The staging thread runs in the
  * `ann_rebuild` scheduler pool; with `spark.scheduler.mode=FAIR`
  * (this probe's default, the documented deployment) ingest batches
  * share executors fairly with the build instead of queueing behind
  * its stages FIFO. `SPARK_GRAFT_SCHED=FIFO` reruns the same load
  * under the default scheduler to price exactly what FAIR buys.
  *
  * Phases, per run:
  *  1. baseline: `warm` in-distribution ingest batches, no rebuild;
  *  2. window:   one drifted batch triggers the staged build, then
  *               ingests loop until the artifacts are ready — each
  *               timed (these overlap the concurrent train/re-encode);
  *  3. flip:     the next ingest pays only the commit tail — timed;
  *  4. after:    `warm` more in-distribution batches on the new index.
  *
  * Prints one JSON line with p50/max per phase. The claim under test:
  * during-window ingest latency stays within a small factor of
  * baseline (the build window never BLOCKS ingest), and the flip cost
  * is commit-tail-sized, not train-sized.
  *
  * Usage: runMain graft.tools.StagedRebuildProbe [nRows] [batchRows] [warm] [nLists]
  */
object StagedRebuildProbe {
  def main(args: Array[String]): Unit = {
    val n = args.headOption.map(_.toLong).getOrElse(200000L)
    val b = args.lift(1).map(_.toLong).getOrElse(2000L)
    val warm = args.lift(2).map(_.toInt).getOrElse(4)
    val nLists = args.lift(3).map(_.toInt).getOrElse(4)
    val sched = sys.env.getOrElse("SPARK_GRAFT_SCHED", "FAIR") match {
      case s @ ("FAIR" | "FIFO") => s
      case other => sys.error(s"unknown SPARK_GRAFT_SCHED '$other'")
    }
    val spark = graft.core.GraftSession.builder("StagedRebuildProbe")
      .config("spark.scheduler.mode", sched)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val work = Files.createTempDirectory("staged_probe_")
    val path = s"$work/idx"

    // deterministic synthetic 64-dim vectors (AnnIndexProbe's recipe);
    // drifted batches scale ×5 so the frozen codebooks misfit loudly
    def vecs(from: Long, until: Long, scale: Double = 1.0): DataFrame =
      spark.range(from, until).select(col("id").as("vec_id"),
        transform(sequence(lit(1), lit(64)),
          i => sin(col("id") * i + i) * scale).as("v"))

    // nLists is an arg because this probe FOUND two expression-shape
    // ceilings in turn: the pre-round-15 literal-unrolled coarse
    // ranking livelocked Catalyst's runtime common-subexpression
    // elimination at nLists=16, dim=64 (780+ s of CPU per task in
    // EquivalentExpressions deep-equals), and the round-15 lambda
    // interim ran interpreted, linear-in-nLists per row (494 s train
    // window at 16 lists vs 119 at 4). IvfKit now ranks through ONE
    // native codegen'd kernel (functions/IvfNative) -- run this probe
    // at 16+ to confirm both ceilings stay gone (round 16: 55 s).
    val policy = AnnIndex.RebuildPolicy(driftFactor = 2.0, nLists = nLists,
      dim = 64, m = 8, k = 16, rounds = 1, kmRounds = 1, nBuckets = 64,
      stagedRebuild = true)
    AnnIndex.buildTrained(spark, path, vecs(0L, n), "vec_id", "v",
      nLists = policy.nLists, dim = 64, m = policy.m, k = policy.k,
      rounds = policy.rounds, kmRounds = policy.kmRounds,
      nBuckets = policy.nBuckets)

    // corpus authority: everything ingested so far, regenerated from
    // the ranges ledger (a real pipeline reads its embeddings table)
    val ledger = scala.collection.mutable.ArrayBuffer[(Long, Long, Double)](
      (0L, n, 1.0))
    def corpus(): DataFrame = ledger.toSeq.map { case (f, u, s) =>
      vecs(f, u, s) }.reduce(_ unionByName _)
    val ingestor = new AnnIndex.Ingestor(spark, path, "vec_id", "v",
      policy, corpus = () => corpus())

    var next = n
    def ingest(scale: Double): (AnnIndex.Ingest, Double) = {
      val (f, u) = (next, next + b); next += b
      ledger += ((f, u, scale))
      val t0 = System.nanoTime()
      val r = ingestor.ingest(vecs(f, u, scale))
      (r, (System.nanoTime() - t0) / 1e9)
    }

    val baseline = (1 to warm).map(_ => ingest(1.0)._2)
    val w0 = System.nanoTime()
    val trigger = ingest(5.0)._2 // drift → staging thread starts
    require(ingestor.stagingActive, "staged rebuild did not trigger")
    // ingest continuously while the build trains; a loop iteration can
    // itself pay the commit tail if the artifacts complete mid-call —
    // detect it from the report so the flip sample is never mislabeled
    // as window latency
    val during = scala.collection.mutable.ArrayBuffer[Double]()
    var flipSec = -1.0
    while (flipSec < 0 && !ingestor.stagingReady) {
      val (r, dt) = ingest(1.0)
      if (r.rebuilt.isDefined) flipSec = dt else during += dt
    }
    val windowSec = (System.nanoTime() - w0) / 1e9
    if (flipSec < 0) flipSec = ingest(1.0)._2 // pays the commit tail
    require(!ingestor.stagingActive, "flip did not happen")
    val after = (1 to warm).map(_ => ingest(1.0)._2)

    def num(v: Double) =
      String.format(java.util.Locale.ROOT, "%.2f", Double.box(v))
    def p50(xs: Seq[Double]): Double =
      if (xs.isEmpty) 0.0 else xs.sorted.apply((xs.size - 1) / 2)
    def mx(xs: Seq[Double]): Double = xs.foldLeft(0.0)(math.max)
    val rows = AnnIndex.codes(spark, path).count()
    println(s"""{"probe":"staged_rebuild","n":$n,"batch":$b,""" +
      s""""n_lists":$nLists,""" +
      s""""sched":"$sched","baseline_p50":${num(p50(baseline))},""" +
      s""""baseline_max":${num(mx(baseline))},""" +
      s""""trigger_sec":${num(trigger)},""" +
      s""""during_p50":${num(p50(during.toSeq))},""" +
      s""""during_max":${num(mx(during.toSeq))},""" +
      s""""during_batches":${during.size},""" +
      s""""window_sec":${num(windowSec)},"flip_sec":${num(flipSec)},""" +
      s""""after_p50":${num(p50(after))},"after_max":${num(mx(after))},""" +
      s""""indexed_rows":$rows}""")
    spark.stop()
  }
}
