package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Benchmark program for the graft engine.
  *
  * One JVM per run. It builds its Spark session only from
  * `graft.core.GraftSession.builder` (at `local[nproc]`, the core count
  * `run.py` passes in `SPARK_GRAFT_CPUS`), sets the workload up several
  * times, warms it up once, runs the workload's fixed amount of work once
  * in a timed window, and writes `result.json` into its work directory. `run.py`
  * checks the outputs it names and prints the final result line.
  *
  * Usage (normally through `run.py`):
  * {{{
  * perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *                --data <fixture dir> --work <work dir>
  * }}}
  */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Int,
                        trace: Boolean, data: String, work: Path) {
    /** A count of work units sized for the nominal window, scaled to
      * `--seconds`: equal `--seconds` always means equal work. */
    def scaled(nominal: Int): Int = math.max(2, math.round(nominal * seconds / NominalSeconds.toDouble).toInt)
  }
  /** The window length the workloads' unit counts are sized for. */
  val NominalSeconds = 20

  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def need(k: String) = m.getOrElse(k, sys.error(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toInt,
      need("trace") == "1", need("data"), Paths.get(need("work")).toAbsolutePath)
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val wl: Workload = a.workload match {
      case "registry_batch"  => new BatchWorkload(a)
      case "stream_store"    => new Both(new StreamWorkload(a), new StoreWorkload(a))
      case other => sys.error(s"unknown workload '$other'")
    }
    val out = Run.execute(a, wl)
    Files.writeString(a.work.resolve("result.json"), out)
  }
}

/** A workload: set up, then one fixed amount of timed work.
  * `run` appends one latency sample per operation to `ops`; failures go
  * to `ops.fail` with their cause and are never rethrown. */
trait Workload {
  /** Build everything the timed work needs on a fresh session; runs
    * `SetupReps` times. */
  def setup(spark: SparkSession, tr: Trace): Unit
  /** An untimed pass of the work after the last set-up, counted into
    * `setup_s`. Untraced: the layer metrics describe the window alone. */
  def warmup(spark: SparkSession): Unit = ()
  /** The timed work. */
  def run(spark: SparkSession, ops: Ops, tr: Trace): Unit
  /** Untimed output checks after the window; adds failures to `ops`. */
  def check(spark: SparkSession, ops: Ops): Unit
  /** Workload-specific per-layer metrics for the traced run. */
  def layerMetrics(tr: Trace, m: Metrics): Unit = ()
  /** Extra traced-only measurements after the window (e.g. kernels). */
  def traceExtras(spark: SparkSession, tr: Trace, ops: Ops, m: Metrics): Unit = ()
}

/** Two workloads run back to back in one window. */
final class Both(first: Workload, second: Workload) extends Workload {
  def setup(spark: SparkSession, tr: Trace): Unit = { first.setup(spark, tr); second.setup(spark, tr) }
  override def warmup(spark: SparkSession): Unit = { first.warmup(spark); second.warmup(spark) }
  def run(spark: SparkSession, ops: Ops, tr: Trace): Unit = { first.run(spark, ops, tr); second.run(spark, ops, tr) }
  def check(spark: SparkSession, ops: Ops): Unit = { first.check(spark, ops); second.check(spark, ops) }
  override def layerMetrics(tr: Trace, m: Metrics): Unit = { first.layerMetrics(tr, m); second.layerMetrics(tr, m) }
}

/** Operation outcomes of one window: latency samples and failures. */
final class Ops {
  val latMs = mutable.ArrayBuffer.empty[Double]
  /** (operation, ms) for every timed operation, kept in the run record. */
  val samples = mutable.ArrayBuffer.empty[(String, Double)]
  val errors = mutable.ArrayBuffer.empty[(String, Throwable)]
  var attempted = 0L
  /** Outputs for `run.py` to check against the DuckDB oracle:
    * (query, output dir, timed executions, oracle SQL). */
  val oracleChecks = mutable.ArrayBuffer.empty[(String, String, Int, String)]

  /** Time `body` as one operation; a throw counts as a failed operation. */
  def timed(name: String)(body: => Unit): Unit = {
    attempted += 1
    val t0 = System.nanoTime()
    try {
      body
      sample(name, (System.nanoTime() - t0) / 1e6)
    } catch { case e: Throwable if Ops.recoverable(e) => errors += name -> e }
  }

  def sample(name: String, ms: Double): Unit = { latMs += ms; samples += name -> ms }

  /** An untimed correctness failure of an operation already attempted. */
  def fail(name: String, e: Throwable): Unit = errors += name -> e
}

object Ops {
  /** Failures an operation reports instead of ending the run. */
  def recoverable(e: Throwable): Boolean =
    scala.util.control.NonFatal(e) || e.isInstanceOf[LinkageError]
}

/** Named metrics with units, in insertion order. */
final class Metrics {
  val values = mutable.LinkedHashMap.empty[String, (Double, String)]
  def put(name: String, v: Double, unit: String): Unit = values(name) = (v, unit)
}

object Stats {
  /** Plain median (middle value, or mean of the two middle values). */
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }
  /** Geometric mean. Operation latencies cluster by kind (a read takes
    * a tenth of a commit), and a percentile of the pooled samples jumps
    * between clusters when one operation crosses a gap; this mean moves
    * smoothly and weighs every operation's relative change alike. */
  def gmean(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN else math.exp(xs.map(math.log).sum / xs.size)
}

/** JVM-level probes: process CPU time, and the live heap after each full
  * collection. Workloads force those collections at fixed points of
  * their work ([[Jvm.checkpoint]]), so the peak does not depend on when
  * young collections happen to run. The wall and CPU time those forced
  * collections take is counted apart, so the window can leave it out. */
object Jvm {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  def cpuNs: Long = os.getProcessCpuTime
  def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime).filter(_ >= 0).sum
  def jitMs: Long = ManagementFactory.getCompilationMXBean.getTotalCompilationTime

  private val heap = ManagementFactory.getMemoryMXBean
  @volatile private var peakLive = 0L
  @volatile private var armed = false
  /** Wall and process CPU time of the checkpoints since [[armHeap]]. */
  @volatile var checkpointNs, checkpointCpuNs = 0L

  /** A full collection, then the heap it leaves is one peak sample. */
  def checkpoint(): Unit = {
    val (t0, c0) = (System.nanoTime(), cpuNs)
    System.gc()
    if (armed) {
      peakLive = math.max(peakLive, heap.getHeapMemoryUsage.getUsed)
      checkpointNs += System.nanoTime() - t0
      checkpointCpuNs += cpuNs - c0
    }
  }
  /** Start tracking the peak live heap and the checkpoints' time. */
  def armHeap(): Unit = { peakLive = 0L; checkpointNs = 0L; checkpointCpuNs = 0L; armed = true }
  /** Stop tracking; ends with a checkpoint so the window always has one. */
  def disarmHeapMb(): Double = {
    checkpoint()
    armed = false
    peakLive / (1024.0 * 1024.0)
  }
}

/** The run skeleton shared by every workload. */
object Run {
  /** Set-ups per run; `setup_s` is their median plus the warm-up. */
  val SetupReps = 3

  def session(a: Main.Args): SparkSession = {
    val tmp = a.work.resolve("spark-local")
    Files.createDirectories(tmp)
    val s = graft.core.GraftSession.builder("perfbench")
      .config("spark.local.dir", tmp.toString)
      .config("spark.sql.warehouse.dir", a.work.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** A check that cannot run is a failed check, not a lost run. */
  private def checked(wl: Workload, spark: SparkSession, ops: Ops): Unit =
    try wl.check(spark, ops)
    catch { case e: Throwable if Ops.recoverable(e) => ops.fail("check", e) }

  def execute(a: Main.Args, wl: Workload): String = {
    val tr = new Trace(a.trace)
    val e2e = new Metrics
    val layer = new Metrics
    val phases = mutable.LinkedHashMap.empty[String, Double]
    def phase[T](name: String)(body: => T): T = {
      val t0 = System.nanoTime()
      try body finally phases(name) = (System.nanoTime() - t0) / 1e9
    }
    // ---- setup, several times: session start + the workload's own
    // set-up (fixture load, topic production); then one warm-up. A
    // warm-up on each set-up would make the median steadier, but the
    // runs would no longer fit the time the benchmark may take. ----
    var spark: SparkSession = null
    val setups = (1 to SetupReps).map { i =>
      if (spark != null) { spark.stop(); graft.queries.Extensions.clearPersistedIntermediates() }
      val t0 = System.nanoTime()
      spark = tr.span("core.session") { session(a) }
      tr.span("core.setup") { wl.setup(spark, tr) }
      (System.nanoTime() - t0) / 1e9
    }
    phase("warmup")(tr.span("core.warmup") { wl.warmup(spark) })
    val setupS = Stats.median(setups) + phases("warmup")
    // ---- the timed window ----
    val ops = new Ops
    val window = (ops: Ops, tr: Trace) => {
      val cpu0 = Jvm.cpuNs
      val (jit0, gc0) = (Jvm.jitMs, Jvm.gcMs)
      Jvm.armHeap()
      val t0 = System.nanoTime()
      wl.run(spark, ops, tr)
      // the forced collections at the heap checkpoints are the
      // benchmark's own work, not the engine's
      val wall = (System.nanoTime() - t0 - Jvm.checkpointNs) / 1e9
      val cpu = (Jvm.cpuNs - cpu0 - Jvm.checkpointCpuNs) / 1e9
      phases("window_checkpoints") = Jvm.checkpointNs / 1e9
      phases("window_jit") = (Jvm.jitMs - jit0) / 1e3
      phases("window_gc") = (Jvm.gcMs - gc0) / 1e3
      (wall, cpu, Jvm.disarmHeapMb())
    }
    if (a.trace) {
      // the traced window sits where the untraced run's window sits, so
      // its layer numbers describe the same work; the untraced window
      // after it runs on a warmer JVM, so the overhead reads high if
      // anything
      tr.attach(spark)
      val (wall, _, _) = phase("window")(tr.span("window") { window(ops, tr) })
      tr.detach(spark)
      tr.queryLayerMetrics(layer, wall, ops.attempted)
      tr.streamLayerMetrics(layer)
      wl.layerMetrics(tr, layer)
      val (untracedWall, _, _) = phase("untraced_window")(window(new Ops, new Trace(false)))
      phase("check")(checked(wl, spark, ops))
      layer.put("core.session_ms", tr.medianMs("core.session"), "ms")
      layer.put("core.setup_ms", tr.medianMs("core.setup"), "ms")
      layer.put("core.warmup_s", phases("warmup"), "s")
      layer.put("trace.wall_s", wall, "s")
      layer.put("trace.untraced_wall_s", untracedWall, "s")
      layer.put("trace.overhead_s", wall - untracedWall, "s")
      phase("extras")(wl.traceExtras(spark, tr, ops, layer))
      tr.writeSpans(a.work.resolve("spans.jsonl"))
    } else {
      val (wall, cpu, heap) = phase("window")(window(ops, tr))
      phase("check")(checked(wl, spark, ops))
      e2e.put("setup_s", setupS, "s")
      e2e.put("wall_s", wall, "s")
      e2e.put("cpu_s", cpu, "s")
      e2e.put("heap_peak_mb", heap, "MB")
      e2e.put("op_gmean_ms", Stats.gmean(ops.latMs.toSeq), "ms")
    }
    phases("setups") = setups.sum
    phase("stop")(spark.stop())
    Json.result(ops, if (a.trace) layer else e2e, setups, phases)
  }
}

/** Minimal JSON writer for the result file. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.lang.Double.toString(v)

  def result(ops: Ops, m: Metrics, setups: Seq[Double],
             phases: collection.Map[String, Double]): String = {
    val metrics = m.values.map { case (k, (v, u)) =>
      s"${str(k)}: {\"value\": ${num(v)}, \"unit\": ${str(u)}}" }.mkString("{", ", ", "}")
    val errors = ops.errors.map { case (op, e) =>
      s"{\"op\": ${str(op)}, \"class\": ${str(e.getClass.getName)}, " +
        s"\"message\": ${str(String.valueOf(e.getMessage).take(500))}}" }.mkString("[", ", ", "]")
    val checks = ops.oracleChecks.map { case (q, dir, n, sql) =>
      s"{\"query\": ${str(q)}, \"dir\": ${str(dir)}, \"executions\": $n, \"sql\": ${str(sql)}}" }
      .mkString("[", ", ", "]")
    val samples = ops.samples.map { case (op, ms) => s"[${str(op)}, ${num(ms)}]" }.mkString("[", ", ", "]")
    s"""{"attempted": ${ops.attempted}, "failed": ${ops.errors.size}, "errors": $errors, """ +
      s""""samples": $samples, "phases_s": ${phases.map { case (k, v) => s"${str(k)}: ${num(v)}" }
        .mkString("{", ", ", "}")}, """ +
      s""""oracle_checks": $checks, "setups_s": ${setups.map(num).mkString("[", ", ", "]")}, """ +
      s""""metrics": $metrics}""" + "\n"
  }
}

object Files2 {
  def deleteTree(p: Path): Unit =
    if (Files.exists(p))
      Files.walk(p).iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists)
  def write(p: Path, s: String): Unit = {
    Files.createDirectories(p.getParent)
    Files.write(p, s.getBytes(StandardCharsets.UTF_8))
  }
}
