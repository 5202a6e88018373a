package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.Suite

/** One shared local session for the whole test run (Spark session
  * startup dominates test wall-clock otherwise). */
object SharedSpark {
  lazy val spark: SparkSession = {
    // SPARK_GRAFT_MASTER=local-cluster[2,4,4096] reruns the whole suite
    // with tasks deserialized in separate executor JVMs — multi-JVM
    // evidence for everything the suite pins (fresh executors need this
    // build's classes, hence the forwarded classpath).
    val master = sys.env.getOrElse("SPARK_GRAFT_MASTER", "local[4]")
    val builder = SparkSession.builder()
      .config(graft.core.GraftSession.codegenSettings)
      .appName("graft-test")
      .master(master)
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft-warehouse").toString)
    if (master.startsWith("local-cluster"))
      builder.config("spark.executor.extraClassPath",
        sys.props("java.class.path"))
    val s = builder.getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}

trait SparkFixture { self: Suite =>
  def spark: SparkSession = SharedSpark.spark
  def sf0001 = "/root/testdata/sf0.001"
}
