package graft.core

import java.util.concurrent.ConcurrentSkipListMap
import java.util.concurrent.atomic.LongAdder

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.{GraftPlanBridge, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.{SparkListenerSQLAdaptiveExecutionUpdate, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.util.QueryExecutionListener

/** What one window of work cost, from the runtime's own metrics.
  *
  *   - `jobs`, `tasks`: Spark jobs started and tasks ended;
  *   - `cpuMs`: executor CPU time of those tasks;
  *   - `shuffleBytes`: shuffle bytes written plus bytes read;
  *   - `shuffleRecords`: shuffle records written plus records read.
  *     Spark counts shuffle bytes after compression, so the same rows
  *     written in another order can change `shuffleBytes` by a few
  *     bytes; the record count repeats exactly on unchanged code;
  *   - `spillBytes`: memory plus disk spill;
  *   - `planMs`: driver planning (analysis, optimization, physical
  *     planning) of the executions of the window's session and of the
  *     sessions cloned from it during the window (streaming
  *     micro-batches), not of `newSession` children;
  *   - `compiles`, `compileMs`: Janino compiles and their time
  *     ([[GraftSession.compiles]], [[GraftSession.compileMs]]);
  *   - `plans`: the formatted physical plan of every SQL execution in
  *     the window, in execution order, each the final adaptive plan
  *     when AQE re-planned it.
  */
final case class Counters(jobs: Long, tasks: Long, cpuMs: Long, shuffleBytes: Long,
                          shuffleRecords: Long, spillBytes: Long, planMs: Long,
                          compiles: Long, compileMs: Double, plans: Seq[String]) {

  /** The numeric fields as (JSON key, JSON number) pairs, in the order
    * a `BENCH_LAST.json` row lists them after `wall`. */
  def fields: Seq[(String, String)] = Seq(
    "compiles" -> compiles.toString,
    "compile_ms" -> String.format(java.util.Locale.ROOT, "%.3f", Double.box(compileMs)),
    "jobs" -> jobs.toString,
    "tasks" -> tasks.toString,
    "cpu_ms" -> cpuMs.toString,
    "shuffle_bytes" -> shuffleBytes.toString,
    "shuffle_records" -> shuffleRecords.toString,
    "spill_bytes" -> spillBytes.toString,
    "plan_ms" -> planMs.toString)

  /** [[fields]] as JSON object members, without the braces. */
  def json: String = fields.map { case (k, v) => "\"" + k + "\":" + v }.mkString(",")
}

/** The run collector: [[window]] attaches a context-level
  * `SparkListener` and a `QueryExecutionListener` on one session for
  * the length of its body, and returns what the body cost. Being
  * context-level, the Spark listener also counts the jobs, tasks and
  * plans of every other session on the same `SparkContext`
  * (`DimStore.commitSession`, streaming micro-batch clones); planning
  * ms covers the given session and its clones only.
  *
  * `GraftSession.builder` attaches nothing: only a harness that reads
  * counters (`Bench`, `StreamBench`, `tools/IsolatedBench`) carries
  * the listeners, and only inside its windows. Windows on one
  * `SparkContext` must not overlap, or each counts the other's work.
  */
object RunCounters {

  /** Runs `body` and returns its result with what it cost. The listener
    * bus is drained before the listeners attach and again before they
    * detach, so the counters hold exactly the events of the body's
    * work; the drains are outside any timing the body takes itself.
    * The listeners detach whether or not `body` throws. */
  def window[T](spark: SparkSession)(body: => T): (T, Counters) = {
    val sc = spark.sparkContext
    val jobs, tasks, cpuNs, shuffle, shuffleRecords, spill, planMs = new LongAdder
    val plans = new ConcurrentSkipListMap[java.lang.Long, String]()
    val contextListener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.increment()
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
        tasks.increment()
        val m = e.taskMetrics
        if (m != null) {
          cpuNs.add(m.executorCpuTime)
          shuffle.add(m.shuffleWriteMetrics.bytesWritten + m.shuffleReadMetrics.totalBytesRead)
          shuffleRecords.add(
            m.shuffleWriteMetrics.recordsWritten + m.shuffleReadMetrics.recordsRead)
          spill.add(m.memoryBytesSpilled + m.diskBytesSpilled)
        }
      }
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart =>
          plans.put(s.executionId, s.physicalPlanDescription); ()
        case u: SparkListenerSQLAdaptiveExecutionUpdate if plans.containsKey(u.executionId) =>
          plans.put(u.executionId, u.physicalPlanDescription); ()
        case _ => ()
      }
    }
    val sessionListener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        planMs.add(qe.tracker.phases.values.map(_.durationMs).sum)
      override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    }

    GraftPlanBridge.drainListeners(sc)
    sc.addSparkListener(contextListener)
    spark.listenerManager.register(sessionListener)
    try {
      val (c0, ms0) = (GraftSession.compiles, GraftSession.compileMs)
      val result = body
      GraftPlanBridge.drainListeners(sc)
      (result, Counters(jobs.sum, tasks.sum, cpuNs.sum / 1000000L, shuffle.sum,
        shuffleRecords.sum, spill.sum, planMs.sum, GraftSession.compiles - c0, GraftSession.compileMs - ms0,
        plans.values.asScala.toSeq))
    } finally {
      spark.listenerManager.unregister(sessionListener)
      sc.removeSparkListener(contextListener)
    }
  }
}
