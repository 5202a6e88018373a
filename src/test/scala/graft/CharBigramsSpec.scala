package graft

import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import org.apache.spark.unsafe.types.UTF8String

/** The native char_bigrams expression (x30's engine): interpreted eval,
  * codegen'd query execution, and a direct Scala reference must agree —
  * including astral-plane code points (surrogate pairs must pair as ONE
  * code point, matching DuckDB's per-character indexing), the empty
  * string, and single-character strings. */
class CharBigramsSpec extends AnyFunSuite with Matchers with SparkFixture {

  /** Reference: distinct adjacent CODE-POINT pairs packed (a<<21)|b. */
  private def reference(s: String): Set[Long] = {
    val cps = s.codePoints().toArray
    cps.iterator.zip(cps.iterator.drop(1))
      .map { case (a, b) => (a.toLong << 21) | b.toLong }.toSet
  }

  private val genString: Gen[String] = Gen.oneOf(
    Gen.const(""),
    Gen.asciiPrintableStr,
    Gen.listOf(Gen.oneOf('a', 'b', ' ', 'é', '中', '\uD83D')).map(_.mkString)
      .map(_.replace("\uD83D", "😀")), // valid surrogate pairs
    Gen.const("a"),
    Gen.const("aaaaaaaaaaab"),
    Gen.const("the quick brown fox"))

  test("compute matches the Scala reference on 40 sampled strings") {
    (1 to 40).foreach { i =>
      val s = genString.pureApply(Gen.Parameters.default, Seed(i.toLong))
      val got = graft.functions.CharBigrams
        .compute(UTF8String.fromString(s)).toLongArray()
      withClue(s"input '$s': ") {
        got.toSet shouldBe reference(s)
        got.length shouldBe got.toSet.size // already deduped, no repeats
      }
    }
  }

  test("packing is injective across the sampled bigram universe") {
    // distinct string bigrams must map to distinct packed longs —
    // x30's distinct-count equality with the string-bigram oracle
    // rests on exactly this
    val strings = (1 to 40).map(i =>
      genString.pureApply(Gen.Parameters.default, Seed(100L + i)))
    val pairs = strings.flatMap { s =>
      val cps = s.codePoints().toArray
      cps.iterator.zip(cps.iterator.drop(1)).toSeq
    }.distinct
    val packed = pairs.map { case (a, b) => (a.toLong << 21) | b.toLong }
    packed.distinct.length shouldBe pairs.length
  }

  test("surrogate pairs count as one code point (DuckDB substr parity)") {
    // "a😀b" = 3 code points → bigrams (a,😀), (😀,b) — an iterator
    // over UTF-16 units would see 4 and emit surrogate-half garbage
    val got = graft.functions.CharBigrams
      .compute(UTF8String.fromString("a😀b")).toLongArray().toSet
    val emoji = 0x1F600L
    got shouldBe Set(('a'.toLong << 21) | emoji, (emoji << 21) | 'b'.toLong)
  }

  test("codegen'd query path agrees with compute and stays in WholeStageCodegen") {
    val s = spark
    import s.implicits._
    val inputs = Seq("", "a", "abcabc", "the quick brown fox 中中é")
    val dir = java.nio.file.Files.createTempDirectory("charbigrams").toString
    inputs.toDF("t").write.mode("overwrite").parquet(dir)
    val df = s.read.parquet(dir)
      .selectExpr("t", "char_bigrams(t) AS bg")
    // must not fence codegen — that is its reason to exist
    df.queryExecution.executedPlan.toString should include("*(1) Project [t")
    df.collect().foreach { r =>
      r.getSeq[Long](1).toSet shouldBe reference(r.getString(0))
    }
  }
}
