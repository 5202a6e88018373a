package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** The native ngrams table function (Catalyst Generator — the UDTF
  * extension tier): streamed fan-out equivalence with the
  * explode(zip_with...) built-in formulation, edge cases, and LATERAL
  * VIEW / SQL usability. */
class NGramsGeneratorSpec extends AnyFunSuite with Matchers with SparkFixture {

  test("ngrams(toks, 3) equals the zip_with trigram formulation on the fixture") {
    val s = spark
    import s.implicits._
    val docs = graft.core.Tables.load(s, "/root/testdata/sf0.001", "documents")
      .select($"doc_id", split(lower($"text"), " ").as("toks"))
    val viaGenerator = docs
      .select($"doc_id", expr("ngrams(toks, 3)").as("gram"))
      .groupBy($"doc_id").agg(count(lit(1)).as("n"),
        countDistinct($"gram").as("nd"))
    val viaBuiltins = docs
      .select($"doc_id", explode(expr(
        "zip_with(zip_with(" +
        "slice(toks, 1, greatest(size(toks) - 2, 0)), " +
        "slice(toks, 2, greatest(size(toks) - 2, 0)), (x, y) -> concat(x, '_', y)), " +
        "slice(toks, 3, greatest(size(toks) - 2, 0)), (x, y) -> concat(x, '_', y))"))
        .as("gram"))
      .groupBy($"doc_id").agg(count(lit(1)).as("n"),
        countDistinct($"gram").as("nd"))
    viaGenerator.except(viaBuiltins).count() shouldBe 0
    viaBuiltins.except(viaGenerator).count() shouldBe 0
  }

  test("ngrams edge cases: short arrays, null input, n wider than array") {
    val s = spark
    import s.implicits._
    Seq((1L, Seq("a", "b"))).toDF("id", "toks")
      .select(expr("ngrams(toks, 3)")).count() shouldBe 0
    Seq((1L, Seq("a", "b", "c", "d"))).toDF("id", "toks")
      .select(expr("ngrams(toks, 2)").as("g")).as[String]
      .collect() shouldBe Array("a_b", "b_c", "c_d")
    Seq((1L, Option.empty[Seq[String]])).toDF("id", "toks")
      .select(expr("ngrams(toks, 2)")).count() shouldBe 0
  }

  test("ngrams works in SQL with LATERAL VIEW") {
    val s = spark
    s.createDataFrame(Seq(Tuple1(Seq("x", "y", "z")))).toDF("toks")
      .createOrReplaceTempView("ng_in")
    s.sql("SELECT gram FROM ng_in LATERAL VIEW ngrams(toks, 2) t AS gram")
      .collect().map(_.getString(0)) shouldBe Array("x_y", "y_z")
  }

  test("wrong arity surfaces as AnalysisException, not IndexOutOfBounds") {
    val s = spark
    s.createDataFrame(Seq(Tuple1(Seq("x", "y")))).toDF("toks")
      .createOrReplaceTempView("ng_arity")
    val e = intercept[org.apache.spark.sql.AnalysisException] {
      s.sql("SELECT * FROM ng_arity LATERAL VIEW ngrams(toks) t AS g").collect()
    }
    e.getMessage should include ("ngrams")
    intercept[org.apache.spark.sql.AnalysisException] {
      s.sql("SELECT vec_cosine(array(1.0f)) FROM ng_arity").collect()
    }.getMessage should include ("vec_cosine")
  }
}
