package perfbench

import java.nio.file.Path
import java.util.concurrent.atomic.{AtomicLong, LongAdder}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One recorded interval: a workload operation or a call into a layer. */
final case class Span(id: Long, parent: Long, name: String, startNs: Long, endNs: Long) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** Per-trigger phases of one streaming micro-batch, from its progress. */
final case class BatchProgress(leg: String, rows: Long, durations: Map[String, Long],
                               stateRows: Long, stateBytes: Long)

/** Span recorder plus the traced run's three listeners (Spark jobs and
  * tasks, SQL query executions, streaming progress). Spans live in
  * memory and are written out once, at the end of the run. With
  * tracing off every call is a plain pass-through and nothing is
  * attached to the session. */
final class Trace(val enabled: Boolean) {
  private val t0 = System.nanoTime()
  private val ids = new AtomicLong(0)
  private val stack = new ThreadLocal[List[Long]] { override def initialValue(): List[Long] = Nil }
  val spans = mutable.ArrayBuffer.empty[Span]

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = ids.incrementAndGet()
      val parent = stack.get().headOption.getOrElse(0L)
      stack.set(id :: stack.get())
      val s = System.nanoTime()
      try body
      finally {
        stack.set(stack.get().tail)
        spans.synchronized(spans += Span(id, parent, name, s, System.nanoTime()))
      }
    }
  def named(name: String): Seq[Span] = spans.synchronized(spans.filter(_.name == name).toSeq)
  def medianMs(name: String): Double = {
    val xs = named(name).map(_.ms)
    if (xs.isEmpty) 0.0 else Stats.median(xs)
  }
  def meanMs(name: String): Double = {
    val xs = named(name).map(_.ms)
    if (xs.isEmpty) 0.0 else xs.sum / xs.size
  }

  // ---- Spark listener: jobs and task metrics ----
  private val jobs, tasks, runMs, cpuNs, shWrite, shRead, spill, scan = new LongAdder
  private val sparkL = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = jobs.increment()
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      tasks.increment()
      val m = e.taskMetrics
      if (m != null) {
        runMs.add(m.executorRunTime)
        cpuNs.add(m.executorCpuTime)
        shWrite.add(m.shuffleWriteMetrics.bytesWritten)
        shRead.add(m.shuffleReadMetrics.totalBytesRead)
        spill.add(m.memoryBytesSpilled + m.diskBytesSpilled)
        scan.add(m.inputMetrics.bytesRead)
      }
    }
  }

  // ---- SQL listener: planning phases and the executed plan ----
  private val planMs, nodes, exchanges, broadcasts, topk, executions = new LongAdder
  private val sqlL = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      executions.increment()
      planMs.add(qe.tracker.phases.values.map(_.durationMs).sum)
      countPlan(qe.executedPlan)
    }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }
  private def countPlan(p: SparkPlan): Unit = p match {
    case a: AdaptiveSparkPlanExec => countPlan(a.executedPlan)
    case s: QueryStageExec => countPlan(s.plan)
    case _ =>
      nodes.increment()
      p match {
        case _: BroadcastExchangeLike => broadcasts.increment()
        case _: ShuffleExchangeLike => exchanges.increment()
        case _ => ()
      }
      if (p.nodeName.contains("TopKPerKey")) topk.increment()
      (p.children ++ p.subqueries).foreach(countPlan)
  }

  // ---- streaming listener: per-trigger phases and state operators ----
  val progress = mutable.ArrayBuffer.empty[BatchProgress]
  private val streamL = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      if (p.numInputRows > 0) progress.synchronized {
        progress += BatchProgress(Option(p.name).getOrElse(""), p.numInputRows,
          p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
          p.stateOperators.map(_.numRowsTotal).sum,
          p.stateOperators.map(_.memoryUsedBytes).sum)
      }
    }
  }

  private var attachedTo: Option[SparkSession] = None
  /** Jobs started so far, after every queued event is delivered (0 when
    * no listener is attached). */
  def jobsSoFar: Long = attachedTo.fold(0L) { s =>
    org.apache.spark.PerfbenchBridge.drainListeners(s.sparkContext)
    jobs.sum
  }

  private var gc0 = 0L
  def attach(spark: SparkSession): Unit = {
    gc0 = Jvm.gcMs
    spark.sparkContext.addSparkListener(sparkL)
    spark.listenerManager.register(sqlL)
    spark.streams.addListener(streamL)
    attachedTo = Some(spark)
  }
  def detach(spark: SparkSession): Unit = {
    org.apache.spark.PerfbenchBridge.drainListeners(spark.sparkContext)
    attachedTo = None
    spark.streams.removeListener(streamL)
    spark.listenerManager.unregister(sqlL)
    spark.sparkContext.removeSparkListener(sparkL)
    gcMs = Jvm.gcMs - gc0
  }
  private var gcMs = 0L

  /** The `queries.*` and `plans.*` layer metrics; counts are per
    * operation of the window (`nOps`). */
  def queryLayerMetrics(m: Metrics, wallS: Double, nOps: Long): Unit = {
    val n = math.max(1L, nOps).toDouble
    val mb = 1024.0 * 1024.0
    val cores = graft.core.GraftSession.cpus
    m.put("queries.plan_ms", planMs.sum / n, "ms")
    m.put("queries.jobs", jobs.sum / n, "count")
    m.put("queries.build_ms", meanMs("queries.build"), "ms")
    m.put("queries.exec_ms", meanMs("queries.exec"), "ms")
    m.put("queries.tasks", tasks.sum / n, "count")
    m.put("queries.task_cpu_s", cpuNs.sum / 1e9, "s")
    m.put("queries.gc_s", gcMs / 1000.0, "s")
    m.put("queries.shuffle_write_mb", shWrite.sum / mb, "MB")
    m.put("queries.shuffle_read_mb", shRead.sum / mb, "MB")
    m.put("queries.spill_mb", spill.sum / mb, "MB")
    m.put("queries.scan_mb", scan.sum / mb, "MB")
    m.put("queries.core_busy", runMs.sum / 1000.0 / (wallS * cores), "ratio")
    m.put("plans.executions", executions.sum / n, "count")
    m.put("plans.nodes", nodes.sum / n, "count")
    m.put("plans.exchanges", exchanges.sum / n, "count")
    m.put("plans.broadcasts", broadcasts.sum / n, "count")
    m.put("plans.topk_per_key", topk.sum / n, "count")
  }

  /** The `streaming.<leg>.*` phase metrics (0 where a leg did not run). */
  def streamLayerMetrics(m: Metrics): Unit = {
    val all = progress.synchronized(progress.toSeq)
    StreamWorkload.Legs.foreach { leg =>
      val bs = all.filter(_.leg == leg)
      def med(k: String) =
        if (bs.isEmpty) 0.0 else Stats.median(bs.map(_.durations.getOrElse(k, 0L).toDouble))
      m.put(s"streaming.$leg.planning_ms", med("queryPlanning"), "ms")
      m.put(s"streaming.$leg.wal_commit_ms", med("walCommit"), "ms")
      m.put(s"streaming.$leg.latest_offset_ms", med("latestOffset"), "ms")
      m.put(s"streaming.$leg.add_batch_ms", med("addBatch"), "ms")
      m.put(s"streaming.$leg.state_rows", bs.lastOption.map(_.stateRows.toDouble).getOrElse(0.0), "count")
      m.put(s"streaming.$leg.state_mb",
        bs.lastOption.map(_.stateBytes / (1024.0 * 1024.0)).getOrElse(0.0), "MB")
      m.put(s"streaming.$leg.sink_ms", medianMs(s"streaming.$leg.sink"), "ms")
      val legS = named(s"leg:$leg").map(_.ms).sum / 1000.0
      m.put(s"streaming.$leg.events_per_s", if (legS > 0) bs.map(_.rows).sum / legS else 0.0, "1/s")
    }
  }

  def writeSpans(p: Path): Unit = {
    val sb = new StringBuilder
    spans.synchronized(spans.sortBy(_.startNs)).foreach { s =>
      sb ++= s"""{"id": ${s.id}, "parent": ${s.parent}, "name": ${Json.str(s.name)}, """ +
        s""""start_ms": ${Json.num((s.startNs - t0) / 1e6)}, "end_ms": ${Json.num((s.endNs - t0) / 1e6)}}""" + "\n"
    }
    Files2.write(p, sb.toString)
  }
}
