package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._
import scala.util.Using

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** The session contract of `core.GraftSession`: `SparkEntry.queries`
  * may be handed a plain session, without `GraftExtensions`, and must
  * return the same rows there without installing planner strategies on
  * it; `GraftSession.builder` is the only place in `src/main` that
  * builds a session, and `core.RunCounters` the only one that attaches
  * a Spark or query-execution listener. */
class PlainSessionSpec extends AnyFunSuite with Matchers with SparkFixture {

  // native expressions planted into the plan (x30 char_bigrams, x35
  // char_stats), the TopKPerKey node by TopK.perKeyPlanned (x48, x57,
  // x59), and the row_number top-k idiom the shared session rewrites
  // (w05, q09)
  private val names = Seq("x30_rare_bigram_ratio", "x35_char_diversity",
    "x48_bottomk_sample", "x57_tfidf_topterms", "x59_knn_label_vote",
    "w05_uv_dedup", "q09_window_topn_per_key")

  private def rows(s: SparkSession, name: String): Seq[String] =
    queries.Registry.byName(name).run(s, sf0001).collect().map(_.toString).toSeq.sorted

  test("registry queries return the same rows on a plain session") {
    val expected = names.map(n => n -> rows(spark, n)).toMap
    // the plain session shares the SparkContext and so Spark's cache
    // manager: drop the shared session's persisted intermediates first,
    // or the plain run would read x30's grams computed with the shared one
    queries.Extensions.clearPersistedIntermediates()
    val plain = SparkSession.builder().create()
    try {
      SparkSession.setActiveSession(plain)
      plain.sparkContext shouldBe theSameInstanceAs(spark.sparkContext)
      plain.sessionState.functionRegistry
        .functionExists(FunctionIdentifier("char_stats")) shouldBe false
      spark.sessionState.functionRegistry
        .functionExists(FunctionIdentifier("char_stats")) shouldBe true
      for (n <- names) withClue(s"$n: ") {
        val strategies = plain.experimental.extraStrategies
        val got = rows(plain, n)
        got should not be empty
        got shouldBe expected(n)
        plain.experimental.extraStrategies shouldBe strategies
      }
    } finally {
      queries.Extensions.clearPersistedIntermediates()
      SparkSession.setActiveSession(spark)
    }
  }

  /** Files under `src/main/scala` that contain any of `calls`, except `owner`. */
  private def callersOutside(owner: String, calls: String*): Seq[String] = {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the repository root (${root.toAbsolutePath})")
    Using.resource(Files.walk(root))(_.iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .filterNot(_.endsWith(Paths.get(owner)))
      .filter { p => val src = Files.readString(p); calls.exists(src.contains) }
      .map(root.relativize(_).toString).toSeq.sorted)
  }

  test("src/main builds sessions only through GraftSession.builder") {
    callersOutside("graft/core/GraftSession.scala", "SparkSession.builder(") shouldBe empty
  }

  test("src/main attaches Spark and query-execution listeners only in RunCounters") {
    callersOutside("graft/core/RunCounters.scala",
      "addSparkListener(", "listenerManager.register(") shouldBe empty
  }
}
