package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{TimestampNTZType, TimestampType}
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.core.{ParquetFooter, RunCounters, Tables}

/** The driver-side footer schema (`core.ParquetFooter`): fixture and
  * staged reads plan with no schema-inference job, and read the same
  * schema and rows as Spark's own inference. */
class ParquetFooterSpec extends AnyFunSuite with Matchers with SparkFixture {

  /** A bare, inferring read with `Tables.load`'s NTZ normalisation. */
  private def inferred(path: String): DataFrame = {
    val raw = spark.read.parquet(path)
    raw.select(raw.schema.fields.toSeq.map { f =>
      if (f.dataType == TimestampNTZType) col(f.name).cast(TimestampType).as(f.name)
      else col(f.name)
    }: _*)
  }

  test("Tables.load reads the schema and rows an inferring read gives") {
    for (n <- Tables.names) withClue(s"$n: ") {
      val got = Tables.load(spark, sf0001, n)
      val ref = inferred(s"$sf0001/$n.parquet")
      got.schema shouldBe ref.schema
      got.except(ref).count() shouldBe 0L
      ref.except(got).count() shouldBe 0L
    }
  }

  test("Tables.load plans every fixture table with no Spark job") {
    for (n <- Tables.names) withClue(s"$n: ") {
      val (_, c) = RunCounters.window(spark)(Tables.load(spark, sf0001, n).schema)
      c.jobs shouldBe 0L
    }
  }

  test("a table rewritten with another schema loads with the new schema") {
    val s = spark
    import s.implicits._
    val dir = Files.createTempDirectory("footer_rewrite").toString
    val path = s"$dir/documents.parquet"
    Seq((1L, "a")).toDF("doc_id", "text").write.mode("overwrite").parquet(path)
    Tables.load(spark, dir, "documents").columns shouldBe Array("doc_id", "text")
    Seq((2L, "b", 3)).toDF("doc_id", "lang", "n").write.mode("overwrite").parquet(path)
    val again = Tables.load(spark, dir, "documents")
    again.columns shouldBe Array("doc_id", "lang", "n")
    again.as[(Long, String, Int)].collect() shouldBe Array((2L, "b", 3))
  }

  test("a second read of x92's staged model runs no Spark job") {
    queries.Registry.byName("x92_dsir_apply").run(spark, sf0001)
      .write.format("noop").mode("overwrite").save()
    val path = ops.Staging.ensure("x90_ratio", sf0001, Seq("documents"))(
      fail("x92 stages x90_ratio before it reads it"))
    val (schema, c) = RunCounters.window(spark)(ParquetFooter.read(spark, path).schema)
    c.jobs shouldBe 0L
    schema shouldBe spark.read.parquet(path).schema
  }
}
