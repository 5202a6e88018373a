package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.ops.{IvfKit, ProductQuantizer}

/** Pins the NATIVE IVF/PQ kernels — `functions.IvfCoarseRank` /
  * `IvfResidual` / `PqSubspaceDist2`, the single expression route
  * every coarse-ranking, residual, and subspace-distance path rides
  * (one tree node, so Catalyst's quadratic subexpression-elimination
  * setup never sees a per-centroid surface at 100 TB list counts;
  * one compiled loop per row, so nothing runs as an interpreted
  * higher-order function — SCALEPROBE rounds 15–16 hold the history
  * of the two expression shapes these replaced). The kernels must
  * compute EXACTLY the doubles the original literal `sort_array` /
  * `zip_with`-fold formulations computed, in the same left-to-right
  * IEEE order — that contract is what keeps every oracle untouched —
  * so this spec asserts bit-identity against exact driver-side
  * references built from the same folds: same ops in the same order
  * produce the same doubles, equality is exact, no tolerance.
  * The last test forces CODEGEN_ONLY so a silently-interpreted
  * fallback (a doGenCode that fails to compile) cannot pass. */
class IvfRouteSpec extends AnyFunSuite with Matchers with SparkFixture {

  private def vec(id: Long, dim: Int = 64): Seq[Double] =
    Seq.tabulate(dim)(i => math.sin(id.toDouble * (i + 1) + (i + 1)))

  /** Exact reference of IvfKit's cosine: left fold dot, ‖a‖·‖b‖ order,
    * null on zero norm. */
  private def refCos(a: Seq[Double], b: Seq[Double]): Option[Double] = {
    val dot = a.lazyZip(b).foldLeft(0.0) { case (acc, (x, y)) => acc + x * y }
    val na = math.sqrt(a.foldLeft(0.0)((acc, x) => acc + x * x))
    val nb = math.sqrt(b.foldLeft(0.0)((acc, x) => acc + x * x))
    if (na * nb > 0) Some(dot / (na * nb)) else None
  }

  test("ranked/residual native kernels (nLists = 12) " +
       "are bit-identical to the exact driver reference") {
    val s = spark
    import s.implicits._
    val nLists = 12
    val cents: Seq[(Long, Seq[Double])] =
      (0L until nLists.toLong).map(c => c -> vec(1000L + c))
    val rows = (0L until 40L).map(i => (i, vec(i)))
    val df = rows.toDF("vec_id", "v")

    val got = df.select(col("vec_id"),
        IvfKit.ranked(cents, col("v")).as("cs"),
        IvfKit.residual(cents, lit(5L), col("v")).as("rv"),
        IvfKit.residual(cents, lit(99L), col("v")).as("rv_unknown"),
        IvfKit.cosine(col("v"), typedlit(cents(2)._2)).as("cos2"))
      .collect().map(r => (r.getLong(0), r.getSeq[Row](1),
        r.getSeq[Double](2), r.isNullAt(3), r.getDouble(4))).sortBy(_._1)

    got.foreach { case (id, cs, rv, unknownIsNull, cos2) =>
      val v = rows(id.toInt)._2
      // reference ranking: (cos, -cid) sorted DESC lexicographically,
      // exactly sort_array(asc = false) on struct(c, nid)
      val want = cents.map { case (cid, cv) =>
        (refCos(v, cv).get, -cid) } // fixture has no zero vectors
        .sorted(Ordering.Tuple2(Ordering[Double].reverse,
          Ordering[Long].reverse))
      cs.map(r => (r.getDouble(0), r.getLong(1))) shouldBe want
      // residual: v − cents(5), elementwise, exact
      rv shouldBe v.lazyZip(cents(5)._2).map(_ - _).toSeq
      // unknown list id → NULL (the documented semantics on BOTH routes)
      unknownIsNull shouldBe true
      // the pair-scoring cosine kernel: same fold, same doubles
      cos2 shouldBe refCos(v, cents(2)._2).get
    }

    // cosine NULL semantics: zero norm and length mismatch
    val edge = Seq((0L, Seq.fill(64)(0.0)), (1L, Seq(1.0, 2.0)))
      .toDF("vec_id", "v")
    val e = edge.select(
        IvfKit.cosine(col("v"), typedlit(vec(7L))).as("c"))
      .collect().map(_.isNullAt(0))
    e shouldBe Array(true, true)
  }

  test("PQ encode/error/adcLut native kernel (k = 32) " +
       "are bit-identical to the exact driver reference") {
    val s = spark
    import s.implicits._
    val (dim, m, k) = (64, 4, 32)
    val subDim = dim / m
    val rows = (0L until 60L).map(i => (i, vec(i)))
    val df = rows.toDF("vec_id", "v")
    val model = ProductQuantizer.train(df, "vec_id", "v", dim, m, k,
      rounds = 1)

    def refDist2(v: Seq[Double], mi: Int, c: Array[Double]): Double = {
      var acc = 0.0
      var i = 0
      while (i < subDim) {
        val d = v(mi * subDim + i) - c(i)
        acc = acc + d * d
        i += 1
      }
      acc
    }
    def refNearest(v: Seq[Double], mi: Int): Int = {
      val d = model.codebooks(mi).map(refDist2(v, mi, _))
      d.indexOf(d.min) // first minimum, like array_position(array_min)
    }

    val got = ProductQuantizer.encode(df, "v", model)
      .withColumn("lut", ProductQuantizer.adcLut(col("v"), model))
      .collect().map { r =>
        (r.getLong(0),
          (0 until m).map(mi => r.getInt(r.fieldIndex(s"pq_code$mi"))),
          r.getSeq[Seq[Double]](r.fieldIndex("lut")))
      }.sortBy(_._1)

    got.foreach { case (id, codes, lut) =>
      val v = rows(id.toInt)._2
      codes shouldBe (0 until m).map(refNearest(v, _))
      // executor-side LUT == the driver loop (the adcLutRows contract,
      // exercised here at k=32)
      lut shouldBe ProductQuantizer.adcLutRows(v.toArray, model)
    }
  }

  test("the native route really COMPILES — CODEGEN_ONLY with fallback " +
       "disabled, so an interpreted-fallback doGenCode cannot hide") {
    val s = spark
    import s.implicits._
    val conf = s.conf
    val keys = Seq("spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY",
      "spark.sql.codegen.fallback" -> "false")
    val saved = keys.map { case (k, _) => k -> conf.getOption(k) }
    keys.foreach { case (k, v) => conf.set(k, v) }
    try {
      val nLists = 12
      val cents: Seq[(Long, Seq[Double])] =
        (0L until nLists.toLong).map(c => c -> vec(1000L + c))
      val rows = (0L until 60L).map(i => (i, vec(i)))
      // repartition(1): without it ConvertToLocalRelation folds the
      // projection interpreted during optimization and CODEGEN_ONLY
      // never engages — the "really compiles" claim would be hollow
      val df = rows.toDF("vec_id", "v").repartition(1)
      val q = df.select(col("vec_id"),
          (-element_at(IvfKit.ranked(cents, $"v", keep = 1), 1)
            .getField("nid")).as("list_id"),
          IvfKit.residual(cents, lit(3L), $"v").as("rv"),
          IvfKit.cosine($"v", typedlit(cents(1)._2)).as("c1"))
      val got = q.collect().map(r => (r.getLong(0), r.getLong(1),
          r.getSeq[Double](2), r.getDouble(3)))
        .sortBy(_._1)
      // the kernels really are inside a compiled span ("*(n)" is
      // WholeStageCodegenExec's tree-string rendering)
      q.queryExecution.executedPlan.toString should include regex
        """\*\(\d+\) Project"""
      got.foreach { case (id, listId, rv, c1) =>
        val v = rows(id.toInt)._2
        val want = cents.map { case (cid, cv) => (refCos(v, cv).get, -cid) }
          .sorted(Ordering.Tuple2(Ordering[Double].reverse,
            Ordering[Long].reverse))
        listId shouldBe -want.head._2
        rv shouldBe v.lazyZip(cents(3)._2).map(_ - _).toSeq
        c1 shouldBe refCos(v, cents(1)._2).get
      }
      // PQ side: an encode through the same forced-
      // codegen session
      val (dim, m, k) = (64, 4, 32)
      val model = ProductQuantizer.train(df, "vec_id", "v", dim, m, k,
        rounds = 1)
      ProductQuantizer.encode(df, "v", model).collect().length shouldBe 60
    } finally saved.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None) => conf.unset(k)
    }
  }

  test("TWO cosine kernels over NON-NULLABLE children in one codegen " +
       "scope compile — nullSafeExec emits braceless blocks there, so " +
       "a fixed-name local would be a duplicate-variable javac error " +
       "(silent interpreted fallback in production; hard fail here " +
       "under CODEGEN_ONLY)") {
    val s = spark
    import s.implicits._
    val conf = s.conf
    val keys = Seq("spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY",
      "spark.sql.codegen.fallback" -> "false")
    val saved = keys.map { case (k, _) => k -> conf.getOption(k) }
    keys.foreach { case (k, v) => conf.set(k, v) }
    try {
      // primitive (non-nullable) doubles → CreateArray of non-nullable
      // children is itself non-nullable AND non-foldable (a foldable
      // pair would constant-fold away before codegen ever ran).
      // repartition(1) blocks ConvertToLocalRelation from evaluating
      // the projection interpreted at OPTIMIZATION time — without it
      // this test never reaches codegen at all (verified: a planted
      // fixed-name local passed the un-repartitioned form).
      val rows = Seq((1.0, 2.0), (3.0, 4.0), (-0.5, 0.25))
      val q = rows.toDF("x", "y").repartition(1).select(
          graft.ops.IvfKit.cosine(
            array($"x", $"y"), array($"y", $"x")).as("c1"),
          graft.ops.IvfKit.cosine(
            array($"x" + 1.0, $"y"), array($"y", $"x" - 1.0)).as("c2"))
      val got = q.collect().map(r => (r.getDouble(0), r.getDouble(1)))
        .sortBy(_._1)
      // the projection really IS inside a compiled span ("*(n)" is
      // WholeStageCodegenExec's tree-string rendering)
      q.queryExecution.executedPlan.toString should include regex
        """\*\(\d+\) Project"""
      got.zip(rows.sortBy(r => refCos(Seq(r._1, r._2),
          Seq(r._2, r._1)).get)).foreach { case ((c1, c2), (x, y)) =>
        c1 shouldBe refCos(Seq(x, y), Seq(y, x)).get
        c2 shouldBe refCos(Seq(x + 1.0, y), Seq(y, x - 1.0)).get
      }
    } finally saved.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None) => conf.unset(k)
    }
  }
}
