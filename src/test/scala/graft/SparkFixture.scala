package graft

import org.apache.spark.sql.{Dataset, SparkSession}
import org.scalatest.Suite

/** One shared local session for the whole test run (Spark session
  * startup dominates test wall-clock otherwise): the shipped session
  * (`GraftSession.builder`, `GraftExtensions` included) at 4 cores.
  * `SPARK_GRAFT_MASTER=local-cluster[2,4,4096]` reruns the whole suite
  * with tasks deserialized in separate executor JVMs. */
object SharedSpark {
  lazy val spark: SparkSession = {
    val s = graft.core.GraftSession.builder("graft-test", cores = 4)
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft-warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}

trait SparkFixture { self: Suite =>
  def spark: SparkSession = SharedSpark.spark
  def sf0001 = "/root/testdata/sf0.001"

  /** Rows of a window-form reference, planned with `RowNumberTopKRewrite`
    * excluded: the shared session would otherwise plan the reference as
    * the very `TopKPerKey` it is compared against. */
  def windowReference[T](ds: => Dataset[T]): Array[T] = {
    val key = "spark.sql.optimizer.excludedRules"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "graft.plans.RowNumberTopKRewrite")
    try {
      val ref = ds
      assert(ref.queryExecution.executedPlan.toString.contains("Window"),
        "the reference must run the window form")
      ref.collect()
    } finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }
}
