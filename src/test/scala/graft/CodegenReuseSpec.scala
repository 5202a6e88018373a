package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{Add, BoundReference, Literal, UnsafeProjection}
import org.apache.spark.sql.types.LongType
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.core.GraftSession

/** Each generated class is compiled once per JVM
  * ([[GraftSession.codegenSettings]]). Spark's cache of generated
  * classes is JVM-wide and earlier suites leave it in any state, so
  * every assertion is on a compile-count delta taken after the test's
  * own warm-up run. The last test pins the rest of the one session
  * definition (`GraftSession.builder`) on the test session and its
  * children. */
class CodegenReuseSpec extends AnyFunSuite with Matchers with SparkFixture {

  // q03 plans the same generated code with AQE on and off, and a commit
  // session of the caller's width hash-partitions its shuffles the same
  // way, so that session differs from the caller's only by being another
  private val q = queries.Registry.byName("q03_star_join_broadcast")
  private def width = spark.sessionState.conf.numShufflePartitions

  private def compilesOf(body: => Unit): Long = {
    val c0 = GraftSession.compiles
    body
    GraftSession.compiles - c0
  }

  private def runQ(s: SparkSession): Long =
    compilesOf(q.run(s, sf0001).write.format("noop").mode("overwrite").save())

  test("a second run of the same registry query compiles no class") {
    runQ(spark)
    runQ(spark) shouldBe 0
  }

  test("a query that trains PQ codebooks on every run (x72) compiles no " +
       "class on its later runs") {
    // each run builds equal codebooks as new arrays; a fresh broadcast
    // handle per run reorders the generated code's common
    // subexpressions and so compiles the stage again
    val x72 = queries.Registry.byName("x72_pq_ann")
    def run(): Long = compilesOf(
      x72.run(spark, sf0001).write.format("noop").mode("overwrite").save())
    run()
    run() shouldBe 0
    run() shouldBe 0
  }

  test("re-planning the query on a DimStore commit session compiles no class") {
    runQ(spark)
    // with per-session artifact isolation the child's executors load
    // through a class loader of their own and compile q03 again (12
    // classes on sf0.001)
    runQ(ops.DimStore.commitSession(spark, width)) shouldBe 0
  }

  test("the cache keeps a working set five times Spark's default cap") {
    // 500 distinct generated classes: three times the ~160 one pass of
    // registry_batch compiles; a second sweep finds every one cached
    SparkSession.setActiveSession(spark)
    def sweep(): Long = compilesOf((1 to 500).foreach { i =>
      UnsafeProjection.create(
        Seq(Add(BoundReference(0, LongType, nullable = false), Literal(i.toLong))))
    })
    sweep()
    sweep() shouldBe 0
  }

  test("the session and its child sessions report the shipped settings") {
    GraftSession.codegenSettings("spark.sql.artifact.isolation.enabled") shouldBe "false"
    // the test session is GraftSession.builder at 4 cores
    val shipped = GraftSession.codegenSettings ++ Map(
      "spark.sql.session.timeZone" -> "UTC",
      "spark.sql.shuffle.partitions" -> "4",
      "spark.ui.enabled" -> "false")
    for (s <- Seq(spark, spark.newSession(), ops.DimStore.commitSession(spark, width));
         (k, v) <- shipped)
      withClue(s"$k: ") { s.conf.get(k) shouldBe v }
    spark.sparkContext.uiWebUrl shouldBe None
    // and its GraftExtensions: w05's row_number top-k plans as TopKPerKey
    queries.Registry.byName("w05_uv_dedup").run(spark, sf0001)
      .queryExecution.executedPlan.toString should include("TopKPerKeyFinal")
  }
}
