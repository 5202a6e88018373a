package graft

import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import org.apache.spark.unsafe.types.UTF8String

/** The native char_stats expression (x35's engine): interpreted eval,
  * codegen'd query execution, and a direct Scala reference must all
  * agree — including astral-plane code points and the empty string. */
class CharStatsSpec extends AnyFunSuite with Matchers with SparkFixture {

  private def reference(s: String): (Long, Long, Long) = {
    val cps = s.codePoints().toArray
    val counts = cps.groupBy(identity).map { case (_, v) => v.length.toLong }
    (cps.length.toLong, counts.size.toLong,
      counts.map(c => c * (c - 1)).sum)
  }

  private val genString: Gen[String] = Gen.oneOf(
    Gen.const(""),
    Gen.asciiPrintableStr,
    Gen.listOf(Gen.oneOf('a', 'b', ' ', 'é', '中', '\uD83D')).map(_.mkString)
      .map(_.replace("\uD83D", "😀")), // valid surrogate pairs
    Gen.const("aaaaaaaaaaab"),
    Gen.const("the quick brown fox"))

  test("compute matches the Scala reference on 40 sampled strings") {
    (1 to 40).foreach { i =>
      val s = genString.pureApply(Gen.Parameters.default, Seed(i.toLong))
      val got = graft.functions.CharStats.compute(UTF8String.fromString(s))
      val (n, d, simp) = reference(s)
      withClue(s"input '$s': ") {
        got.toLongArray().toSeq shouldBe Seq(n, d, simp)
      }
    }
  }

  test("codegen'd query path agrees with compute and stays in WholeStageCodegen") {
    val s = spark
    import s.implicits._
    val inputs = Seq("", "aaa", "abcabc", "x", "the quick brown fox 中中é")
    // parquet round-trip: a LocalTableScan computes projections eagerly
    // without codegen — a file scan puts char_stats in the generated stage
    val dir = java.nio.file.Files.createTempDirectory("charstats").toString
    inputs.toDF("t").write.mode("overwrite").parquet(dir)
    val df = s.read.parquet(dir)
      .selectExpr("t", "char_stats(t) AS cs")
    // the expression must not fence codegen (that is its reason to
    // exist): the `*(n)` prefix marks operators inside a
    // WholeStageCodegen stage, and the char_stats projection must
    // carry it
    df.queryExecution.executedPlan.toString should include("*(1) Project [t")
    df.collect().foreach { r =>
      val (n, d, simp) = reference(r.getString(0))
      r.getSeq[Long](1) shouldBe Seq(n, d, simp)
    }
  }

  test("char_stats with wrong arity raises an analysis error, not an index error") {
    val s = spark
    an[org.apache.spark.sql.AnalysisException] should be thrownBy
      s.sql("SELECT char_stats('a', 'b')").collect()
  }
}
