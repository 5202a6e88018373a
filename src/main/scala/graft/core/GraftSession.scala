package graft.core

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator

/** The one definition of a graft session. Every entry point (`Bench`,
  * `StreamBench`, `Verify`, the `tools/` mains, the benchmark under
  * `perfbench/`) and the test session build from [[builder]] and add
  * only their own extras, so gates, tests and benchmarks run the
  * session that ships:
  *
  *   - `cores` (default [[cpus]]) sets both `local[cores]` and
  *     `spark.sql.shuffle.partitions`; on a real cluster the partition
  *     count would be ~2-3x total cores and AQE coalesces the rest.
  *   - `SPARK_GRAFT_MASTER` replaces the master, e.g.
  *     `local-cluster[2,8,8192]` runs the same session with tasks
  *     deserialized in separate executor JVMs (kernel and task
  *     serialization, broadcast, shuffle over the block manager). Those
  *     executors are fresh JVMs, so a `local-cluster` master also gets
  *     this JVM's classpath as `spark.executor.extraClassPath`.
  *   - AQE on: runtime coalescing of shuffle partitions, skew-join
  *     splitting, and dynamic broadcast conversion — the knobs that make a
  *     plan survive a 100x scale-up without hand-retuning.
  *   - Session timezone pinned to UTC so date semantics match the DuckDB
  *     oracle (the reference hardcodes UTC+8 at
  *     `utils/DateFormatUtil.java:10-22`; we make the offset explicit at
  *     call sites instead of baking it into the session).
  *   - [[codegenSettings]]: each generated class is compiled once per
  *     JVM, not once per execution or per session.
  *   - [[graft.functions.GraftExtensions]]: the SQL functions
  *     `vec_cosine`, `ngrams`, `char_stats`, `char_bigrams`, the
  *     `TopKPerKey` planner strategy and the `RowNumberTopKRewrite`
  *     optimizer rule, which plans the `row_number() <= k` window idiom
  *     (w05, q09) as `TopKPerKey`. To run a window form unrewritten (a
  *     reference result), set `spark.sql.optimizer.excludedRules` to
  *     `graft.plans.RowNumberTopKRewrite`.
  *
  * Plain-session contract: `SparkEntry.queries` functions never build a
  * session; they run on whatever session the caller hands them, and a
  * plain `SparkSession` without the extensions must give the same rows.
  * Queries therefore plant native expressions into the logical plan
  * rather than call them by SQL name, and register the strategy
  * themselves where they need it (`TopK.perKeyPlanned`).
  */
object GraftSession {

  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  /** The engine's code-generation settings, applied by [[builder]].
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

  def builder(appName: String = "graft", cores: Int = cpus): SparkSession.Builder = {
    val master = sys.env.getOrElse("SPARK_GRAFT_MASTER", s"local[$cores]")
    val b = SparkSession
      .builder()
      .appName(appName)
      .master(master)
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.parquet.filterPushdown", "true")
      .config(codegenSettings)
      .withExtensions(new graft.functions.GraftExtensions)
    if (master.startsWith("local-cluster"))
      b.config("spark.executor.extraClassPath", sys.props("java.class.path"))
    b
  }
}
