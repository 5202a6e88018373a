package graft.core

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator

/** Session factory for the graft engine.
  *
  * Runs at `local[cpus]` (`SPARK_GRAFT_CPUS`, else every core the JVM
  * sees) and stays valid for a real multi-executor cluster:
  *
  *   - AQE on: runtime coalescing of shuffle partitions, skew-join
  *     splitting, and dynamic broadcast conversion — the knobs that make a
  *     plan survive a 100x scale-up without hand-retuning.
  *   - `spark.sql.shuffle.partitions` is the local core count, not 200;
  *     on a real cluster this would be ~2-3x total cores and AQE
  *     coalesces the rest.
  *   - Session timezone pinned to UTC so date semantics match the DuckDB
  *     oracle (the reference hardcodes UTC+8 at
  *     `utils/DateFormatUtil.java:10-22`; we make the offset explicit at
  *     call sites instead of baking it into the session).
  *   - [[codegenSettings]]: each generated class is compiled once per
  *     JVM, not once per execution or per session.
  */
object GraftSession {

  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  /** The engine's code-generation settings. Applied by [[builder]] and by
    * every harness that builds its own session (`Bench`, `StreamBench`,
    * `Verify`, `IsolatedBench`, the test session), so tests and gates run
    * what ships.
    *
    *   - `spark.sql.codegen.cache.maxEntries`: entries in Spark's
    *     JVM-wide cache of generated classes, sized once per JVM when the
    *     first class is compiled. One full `Bench` pass over the 157
    *     registry queries compiles 2,030 distinct classes (sf0.1, 4
    *     cores; `CodegenMetrics` compiles of the warm-up pass, which
    *     evicts nothing at this cap); the two timed passes after it
    *     compile 68 in all. Spark's default of 100 holds a twentieth of
    *     the set, and as every pass walks the queries in the same order,
    *     LRU evicts each class before its next use. Twice the measured
    *     set leaves room for plans that differ with the data (AQE join
    *     choices, scale).
    *   - `spark.sql.artifact.isolation.enabled = false`: Spark 4 keys the
    *     cache on (context class loader, code), and with isolation on
    *     executors give every session its own class loader. Each child
    *     session (`DimStore.commitSession`, streaming micro-batch clones,
    *     the near-dup replay) would then compile identical code again
    *     and keep a second copy in the cache. graft adds no per-session
    *     jars or files and does not run Spark Connect, so isolation
    *     buys it nothing.
    */
  val codegenSettings: Map[String, String] = Map(
    "spark.sql.codegen.cache.maxEntries" -> "4000",
    "spark.sql.artifact.isolation.enabled" -> "false")

  /** Janino compiles so far in this JVM, driver and local executors
    * alike; take deltas around a unit of work. */
  def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** Total time of those compiles, in ms. */
  def compileMs: Double = CodeGenerator.compileTime / 1e6

  def builder(appName: String = "graft"): SparkSession.Builder =
    SparkSession
      .builder()
      .appName(appName)
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.parquet.filterPushdown", "true")
      .config(codegenSettings)
      // graft extensions: vec_cosine, TopKPerKey strategy, row_number
      // top-k rewrite (functions/GraftExtensions.scala)
      .withExtensions(new graft.functions.GraftExtensions)

  /** Get-or-create with graft defaults; used by tests and local mains.
    * `SparkEntry.queries` functions never call this — they accept whatever
    * session the driver hands them.
    */
  def getOrCreate(appName: String = "graft"): SparkSession = {
    val spark = builder(appName).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
