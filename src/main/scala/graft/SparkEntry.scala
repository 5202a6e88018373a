package graft
import org.apache.spark.sql.{SparkSession, DataFrame}
import graft.queries.Registry
/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt. */
object SparkEntry {
  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Registry.byName("q01_pricing_summary").run(spark, "/root/testdata/sf0.001")
  /** One entry per implemented operator from SURVEY.md §2. Each runs on
    * the session it is handed, which may be a plain `SparkSession`
    * without `GraftExtensions`: the rows must not depend on them. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    Registry.all.map(q => q.name -> q.run).toMap
  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    Registry.all.flatMap(q => q.oracle.map(sql => q.name -> sql)).toMap
}
