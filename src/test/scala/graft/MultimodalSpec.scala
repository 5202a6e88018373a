package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.ops.{MediaIn, Multimodal, MultimodalTransforms}

/** Multimodal binary-column pipeline: decode-stub metadata, resize,
  * and feature-extract — with the extracted embeddings flowing into
  * the same vec_cosine ANN path as text embeddings. */
class MultimodalSpec extends AnyFunSuite with Matchers with SparkFixture {

  private def media(id: Long, seed: Int, n: Int): MediaIn =
    MediaIn(id, Array.tabulate(n)(i => ((i * seed + seed) % 251).toByte))

  test("resize shrinks the payload deterministically and re-derives dims") {
    val s = spark
    import s.implicits._
    val in = Seq(media(1, 7, 4000), media(2, 13, 900)).toDS()
    val out = MultimodalTransforms.resize(in, targetBytes = 256)
      .collect().sortBy(_.doc_id)
    out.foreach { r =>
      r.media.length should be <= 300 // ~targetBytes, stride-rounded
      r.width should be > 0
    }
    // deterministic: same input -> byte-identical output
    val again = MultimodalTransforms.resize(in, targetBytes = 256)
      .collect().sortBy(_.doc_id)
    out.zip(again).foreach { case (a, b) =>
      a.media.toSeq shouldBe b.media.toSeq }
  }

  test("embed: unit-norm, content-determined; duplicate media is cosine top-1") {
    val s = spark
    import s.implicits._
    // doc 3 is a byte-for-byte duplicate of doc 1; doc 2 differs
    val in = Seq(media(1, 7, 2000), media(2, 13, 2000),
      MediaIn(3, media(1, 7, 2000).media)).toDS()
    val emb = MultimodalTransforms.embed(in)
    val rows = emb.collect().sortBy(_.doc_id)
    rows.foreach { e =>
      math.abs(e.embedding.map(x => x.toDouble * x).sum - 1.0) should be < 1e-3 }
    rows(0).embedding.toSeq shouldBe rows(2).embedding.toSeq

    // the multimodal embeddings ride the SAME ANN path as text ones
    val q = emb.filter($"doc_id" === 1)
      .select($"embedding".as("qv"))
    val scored = emb.filter($"doc_id" =!= 1).crossJoin(broadcast(q))
      .select($"doc_id",
        expr("vec_cosine(embedding, qv)").as("cos"))
      .orderBy($"cos".desc)
      .collect()
    scored.head.getLong(0) shouldBe 3L // the duplicate
    scored.head.getDouble(1) shouldBe 1.0 +- 1e-6
  }
}
