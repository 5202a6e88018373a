package graft

import graft.ops.Blocking
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.{DataFrame, Row, functions => F}
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** The per-block cap contract for blocked dedup pair generation
  * (round-6 verdict directive 3): a boilerplate-skewed corpus that
  * lands 10k docs on ONE blocking key must yield O(|block|) star
  * pairs, not |block|²/2 — while blocks under the cap produce exactly
  * the pairs the uncapped join would, so x02/x31's SQL oracles stay
  * valid at fixture scale. */
class BlockingSpec extends AnyFunSuite with Matchers with SparkFixture {

  test("cappedBandPairs: a 10k-doc boilerplate band degrades to " +
       "|block|-1 star pairs around the min doc, never quadratic") {
    val s = spark
    import s.implicits._
    // one pathological bucket (band 0, k1=k2=7) + one healthy 3-doc bucket
    val bands = ((1 to 10000).map(i => (i.toLong, 0, 7L, 7L)) ++
      Seq((20001L, 1, 5L, 5L), (20002L, 1, 5L, 5L), (20003L, 1, 5L, 5L)))
      .toDF("doc_id", "band", "k1", "k2")
    val pairs = Blocking.cappedBandPairs(bands, cap = 64).cache()
    try {
      val hot = pairs.filter($"doc_a" === 1L || $"doc_b" <= 10000L)
      // star shape: every pair anchors on the block's min doc
      hot.count() shouldBe 9999L
      hot.filter($"doc_a" =!= 1L).count() shouldBe 0L
      // the healthy bucket still gets all 3 pairs
      pairs.filter($"doc_a" >= 20001L).count() shouldBe 3L
    } finally pairs.unpersist()
  }

  test("cappedBandPairs: under the cap it equals the uncapped banded " +
       "self-join, including cross-band duplicate collapse") {
    val s = spark
    import s.implicits._
    // docs 1..6 collide in band 0; docs 1,2 ALSO collide in band 1 →
    // the (1,2) pair must come out once
    val bands = ((1 to 6).map(i => (i.toLong, 0, 1L, 1L)) ++
      Seq((1L, 1, 9L, 9L), (2L, 1, 9L, 9L)))
      .toDF("doc_id", "band", "k1", "k2")
    val capped = Blocking.cappedBandPairs(bands, cap = 64)
    val uncapped = bands.as("a")
      .join(bands.as("b"),
        col("a.band") === col("b.band") && col("a.k1") === col("b.k1") &&
        col("a.k2") === col("b.k2") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
    capped.as[(Long, Long)].collect().sorted shouldBe
      uncapped.as[(Long, Long)].collect().sorted
    capped.count() shouldBe 15L // C(6,2), with (1,2) deduped
  }

  /** The window + self-join + star formulation `cappedBandPairs` had
    * before it became one aggregation per block key: a window count
    * and min over the block, a banded self-join of the under-cap rows,
    * and the min-doc star of the over-cap ones. Kept as the reference
    * model. */
  private def windowJoinPairs(bands: DataFrame, cap: Int): DataFrame = {
    val w = Window.partitionBy(col("band"), col("k1"), col("k2"))
    val sized = bands
      .withColumn("__bcnt", count(lit(1)).over(w))
      .withColumn("__keeper", min(col("doc_id")).over(w))
    val small = sized.filter(col("__bcnt") <= cap)
      .select(col("doc_id"), col("band"), col("k1"), col("k2"))
    val allPairs = small.as("a")
      .join(small.as("b"),
        col("a.band") === col("b.band") && col("a.k1") === col("b.k1") &&
        col("a.k2") === col("b.k2") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
    val star = sized
      .filter(col("__bcnt") > cap && col("doc_id") =!= col("__keeper"))
      .select(col("__keeper").as("doc_a"), col("doc_id").as("doc_b"))
    allPairs.unionByName(star).distinct()
  }

  private def sortedPairs(df: DataFrame): Seq[(Long, Long)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted

  test("cappedBandPairs equals the window + self-join + star model on " +
       "random blocks of cap-1, cap, cap+1 and 10×cap rows, with repeated " +
       "and null doc ids, multi-band collisions, Int and Long bands") {
    val cap = 8
    val schema = StructType(Seq(StructField("doc_id", LongType),
      StructField("band", IntegerType), StructField("k1", LongType),
      StructField("k2", LongType)))
    val rnd = new scala.util.Random(20261019L)
    for (trial <- 1 to 4) withClue(s"trial $trial: ") {
      val rows = scala.collection.mutable.ArrayBuffer.empty[Row]
      var key = 0L
      def block(band: Int, docs: Seq[java.lang.Long]): Seq[java.lang.Long] = {
        key += 1
        docs.foreach(d => rows += Row(d, band, key, key % 3))
        docs
      }
      def draw(n: Int): Seq[java.lang.Long] =
        rnd.shuffle((0L until 300L).toList).take(n).map(Long.box)
      val under = block(0, draw(cap - 1))
      block(1, draw(cap))
      block(2, draw(cap + 1))
      block(0, draw(10 * cap))
      Seq.fill(5)(1 + rnd.nextInt(2 * cap)).foreach(n => block(rnd.nextInt(3), draw(n)))
      // the under-cap block's members collide again in two more bands
      block(1, under)
      block(2, under.take(3) ++ draw(2))
      // a repeated (doc, band) row inside an under-cap block
      block(0, draw(cap - 2) ++ Seq(under.head, under.head))
      // null doc ids count toward the block size: cap docs plus a null
      // is cap+1 rows, so it stars; a small block keeps its pairs
      block(1, draw(cap) :+ null)
      block(2, draw(3) :+ null)
      block(0, Seq(null, null))
      val intBands = spark.createDataFrame(
        java.util.Arrays.asList(rnd.shuffle(rows.toList): _*), schema)
      for (bands <- Seq(intBands, intBands.withColumn("band", col("band").cast("long")))) {
        val want = sortedPairs(windowJoinPairs(bands, cap))
        want.size should be > 10 * cap
        sortedPairs(Blocking.cappedBandPairs(bands, cap)) shouldBe want
      }
    }
  }

  test("cappedBandPairs plans one exchange on the block key before the " +
       "distinct's, with no window and no join") {
    val s = spark
    import s.implicits._
    val bands = Seq((1L, 0, 1L, 1L), (2L, 0, 1L, 1L), (3L, 1, 2L, 2L))
      .toDF("doc_id", "band", "k1", "k2")
    val p = Blocking.cappedBandPairs(bands, cap = 8)
      .queryExecution.executedPlan.toString
    p should not include "Window"
    p should not include "Join"
    p should not include "CartesianProduct"
    // top-down: the distinct's exchange, then the block key's
    val keys = """Exchange hashpartitioning\(([^)]*)\)""".r
      .findAllMatchIn(p).map(_.group(1).split(", ").toList.map(_.takeWhile(_ != '#')))
      .toList
    keys.map(_.init) shouldBe List(List("doc_a", "doc_b"), List("band", "k1", "k2"))
  }

  test("cappedPrefixPairs: 10k identical-prefix same-length docs make " +
       "9999 star pairs; pair count is linear past the cap") {
    val s = spark
    import s.implicits._
    val boiler = "license header boiler" // shared 16-char prefix, len fixed
    val items = (1 to 10000).map(i => (i.toLong, boiler))
      .toDF("doc_id", "t")
    val pairs = Blocking.cappedPrefixPairs(items, prefixLen = 16,
      threshold = 25, cap = 64).cache()
    try {
      pairs.count() shouldBe 9999L
      pairs.filter($"doc_a" =!= 1L).count() shouldBe 0L
    } finally pairs.unpersist()
  }

  test("cappedPrefixPairs: under the cap it equals the plain prefix " +
       "block join filtered to the length threshold; each pair once") {
    val s = spark
    import s.implicits._
    val pfx = "shared sixteen c"
    val items = Seq(
      (1L, pfx + "hars tail one"),
      (2L, pfx + "hars tail two longer by a bit"),  // within 25 of 1
      (3L, pfx + "hars " + ("x" * 80)),             // > 25 longer than 1/2
      (4L, "completely different prefix here"),
      (5L, pfx + "hars tail one")                   // exact dup of 1
    ).toDF("doc_id", "t")
    val got = Blocking.cappedPrefixPairs(items, prefixLen = 16, threshold = 25)
      .select($"doc_a", $"doc_b").as[(Long, Long)].collect().sorted
    val want = items.as("a").join(items.as("b"),
        substring(col("a.t"), 1, 16) === substring(col("b.t"), 1, 16) &&
        col("a.doc_id") < col("b.doc_id") &&
        F.abs(F.length(col("a.t")) - F.length(col("b.t"))) <= 25)
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .as[(Long, Long)].collect().sorted
    got shouldBe want
    got should contain ((1L, 5L)) // exact dup pair survives
    got.map(_._1) should not contain 3L // length-pruned before any DP
    got.count(p => p == ((1L, 2L))) shouldBe 1 // met in exactly one bucket cell
  }

  test("cappedPrefixPairs: the length bucket splits a shared prefix " +
       "across length cells BEFORE the cap fires") {
    val s = spark
    import s.implicits._
    // same 16-char prefix, but two far-apart length populations: the
    // bucket separates them, so each cell stays under the cap and the
    // within-population pairs are all kept (no star degradation)
    val items = ((1 to 40).map(i => (i.toLong, "prefix prefix pre short")) ++
      (101 to 140).map(i => (i.toLong, "prefix prefix pre " + ("y" * 200))))
      .toDF("doc_id", "t")
    val pairs = Blocking.cappedPrefixPairs(items, prefixLen = 16,
      threshold = 25, cap = 64).cache()
    try {
      // C(40,2) within each population; nothing across (length delta 200)
      pairs.count() shouldBe 2L * (40L * 39L / 2L)
      pairs.filter($"doc_a" <= 40L && $"doc_b" >= 101L).count() shouldBe 0L
    } finally pairs.unpersist()
  }
}
