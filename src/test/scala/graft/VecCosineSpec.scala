package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** The native vec_cosine expression: correctness vs the built-in
  * formulation, null handling, and SQL registration via
  * SparkSessionExtensions (the shared session is built with them). */
class VecCosineSpec extends AnyFunSuite with Matchers with SparkFixture {

  test("vec_cosine matches the built-in zip_with/aggregate formulation bit-for-bit") {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(11)
    val rows = Seq.tabulate(100) { i =>
      (i.toLong, Array.fill(64)(rnd.nextGaussian().toFloat),
        Array.fill(64)(rnd.nextGaussian().toFloat))
    }
    val df = rows.toDF("id", "a", "b")
    val builtin = {
      val ad = $"a".cast("array<double>"); val bd = $"b".cast("array<double>")
      val dot = aggregate(zip_with(ad, bd, (x, y) => x * y), lit(0.0), (acc, x) => acc + x)
      val na = sqrt(aggregate(transform(ad, x => x * x), lit(0.0), (acc, x) => acc + x))
      val nb = sqrt(aggregate(transform(bd, x => x * x), lit(0.0), (acc, x) => acc + x))
      dot / (na * nb)
    }
    val out = df.select($"id", expr("vec_cosine(a, b)").as("fast"), builtin.as("ref"))
      .collect()
    out.foreach { r =>
      withClue(s"id=${r.getLong(0)}: ") {
        r.getDouble(1) shouldBe r.getDouble(2)  // exact: same fold order
      }
    }
  }

  test("vec_cosine of identical vectors is 1.0; orthogonal is 0.0; null in → null out") {
    val s = spark
    import s.implicits._
    val df = Seq(
      (1L, Some(Array(1f, 2f, 3f)), Some(Array(1f, 2f, 3f))),
      (2L, Some(Array(1f, 0f)), Some(Array(0f, 1f))),
      (3L, None: Option[Array[Float]], Some(Array(1f, 0f))))
      .toDF("id", "a", "b")
    val out = df.select($"id", expr("vec_cosine(a, b)")).collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getDouble(1)))).toMap
    out(1L).get shouldBe 1.0 +- 1e-12
    out(2L).get shouldBe 0.0
    out(3L) shouldBe None
  }

  test("vec_cosine: null element or length mismatch yields NULL like the built-in form") {
    val s = spark
    import s.implicits._
    val df = Seq(
      (1L, Array[java.lang.Float](1f, null, 3f), Array[java.lang.Float](1f, 2f, 3f)),
      (2L, Array[java.lang.Float](1f, 2f), Array[java.lang.Float](1f, 2f, 3f)),
      (3L, Array[java.lang.Float](1f, 2f), Array[java.lang.Float](1f, 2f)))
      .toDF("id", "a", "b")
    val out = df.select($"id", expr("vec_cosine(a, b)").as("c")).collect()
      .map(r => r.getLong(0) -> r.isNullAt(1)).toMap
    out(1L) shouldBe true   // null element → NULL
    out(2L) shouldBe true   // length mismatch → NULL (zip_with pads null)
    out(3L) shouldBe false
  }

  test("vec_cosine works in pure SQL and ranks the embeddings fixture like the query path") {
    val s = spark
    s.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .createOrReplaceTempView("emb_vc")
    val top = s.sql("""
      SELECT e.vec_id,
             vec_cosine(e.embedding, q.embedding) AS cos
      FROM emb_vc e, (SELECT embedding FROM emb_vc WHERE vec_id = 0) q
      WHERE e.vec_id <> 0
      ORDER BY cos DESC, e.vec_id LIMIT 5
    """).collect()
    top should have length 5
    top.foreach(r => r.getDouble(1) should (be >= -1.0000001 and be <= 1.0000001))
    // same ranking as the oracle-checked x05 formulation
    val x05ids = graft.queries.Extensions.x05.run(s, "/root/testdata/sf0.001")
      .limit(5).collect().map(_.getLong(0)).toSeq
    top.map(_.getLong(0)).toSeq shouldBe x05ids
  }
}
