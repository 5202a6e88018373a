package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.ops.ConnectedComponents

/** Pins [[ConnectedComponents.starContraction]] — the engine's one
  * connected-components implementation (x28, x73, x74) — against a
  * driver-side union-find model: on the near-dup fixture's pair graph,
  * and on the shapes that fixture can't produce: deep chains (where
  * min-label propagation's round count would be the diameter), random
  * multi-component graphs, and the degenerate inputs a maintenance job
  * meets. */
class StarContractionSpec extends AnyFunSuite with Matchers with SparkFixture {

  private def edgesDF(pairs: Seq[(Long, Long)]) = {
    val s = spark
    import s.implicits._
    pairs.toDF("a", "b")
  }

  private def labelsOf(pairs: Seq[(Long, Long)]): Map[Long, Long] = {
    val out = ConnectedComponents.starContraction(edgesDF(pairs))
    val m = out.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    out.unpersist()
    m
  }

  /** The DISTRIBUTED contraction loop, forced past the bounded-collect
    * driver route (driverFoldMaxEdges = 0) — the loop must stay pinned
    * on every shape even though small graphs default to the fold. */
  private def labelsDistributed(pairs: Seq[(Long, Long)]): Map[Long, Long] = {
    val (out, release) = ConnectedComponents
      .starContractionReleasable(edgesDF(pairs), 32, 0)
    val m = out.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    out.unpersist()
    release()
    m
  }

  /** Driver-side union-find ground truth (path-compressed). */
  private def model(pairs: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairs.foreach { case (a, b) =>
      if (a != b) {
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
      }
    }
    // union-by-min above does not guarantee min roots under path order;
    // normalize: component → min member
    val nodes = pairs.flatMap(p => Seq(p._1, p._2)).filter(n =>
      pairs.exists(q => q._1 != q._2 && (q._1 == n || q._2 == n))).distinct
    val byRoot = nodes.groupBy(find)
    byRoot.flatMap { case (_, ns) => val mn = ns.min; ns.map(_ -> mn) }.toMap
  }

  test("a 64-node chain labels to its minimum in O(log n) rounds " +
       "(distributed loop forced)") {
    val chain = (0L until 63L).map(i => (i, i + 1))
    val labels = labelsDistributed(chain)
    labels should have size 64
    labels.values.toSet shouldBe Set(0L)
    val rounds = ConnectedComponents.lastRounds.get()
    // diameter 63 would cost min-label propagation ~63 rounds;
    // contraction's height halves per round pair — allow slack over log2(64)=6 but pin the
    // asymptotic class
    rounds should be <= 10
    rounds should be >= 1
  }

  test("random multi-component graphs match a union-find model") {
    val rnd = new scala.util.Random(20260814L)
    for (trial <- 1 to 5) {
      val n = 120 + trial * 30
      val pairs = Seq.fill(n) {
        (rnd.nextInt(200).toLong, rnd.nextInt(200).toLong)
      }
      withClue(s"trial $trial: ") {
        labelsOf(pairs) shouldBe model(pairs)
      }
    }
  }

  test("driver fold route and distributed loop agree exactly (one " +
       "fixpoint, two routes)") {
    val rnd = new scala.util.Random(20260820L)
    for (trial <- 1 to 3) {
      val n = 150 + trial * 40
      val pairs = Seq.fill(n) {
        (rnd.nextInt(180).toLong, rnd.nextInt(180).toLong)
      }
      withClue(s"trial $trial: ") {
        val fold = labelsOf(pairs) // ≤ 200k edges: bounded-collect route
        ConnectedComponents.lastRounds.get() shouldBe 0
        fold shouldBe labelsDistributed(pairs)
      }
    }
  }

  test("hash-range node ids (full signed Long range) contract without " +
       "arithmetic overflow") {
    // xxhash64 doc ids span the whole signed Long range; a Σ(a+b)
    // convergence witness raises ARITHMETIC_OVERFLOW under Spark's
    // default ANSI mode on exactly these inputs (the streaming dedup
    // journal feeds them to labels-on-read)
    val big = Long.MaxValue
    val small = Long.MinValue
    val pairs = Seq(
      (big, big - 1), (big - 1, big - 3),          // positive overflow in a+b
      (small + 2, small), (small + 5, small + 2),  // negative overflow in a+b
      (7L, big), (-9L, small + 5))                 // mixed-sign bridges
    labelsOf(pairs) shouldBe model(pairs)
  }

  test("empty input, self loops, and a single pair") {
    labelsOf(Nil) shouldBe Map.empty
    labelsOf(Seq((7L, 7L))) shouldBe Map.empty
    labelsOf(Seq((9L, 4L))) shouldBe Map(9L -> 4L, 4L -> 4L)
  }

  test("with a reliable spark.checkpoint.dir configured, rounds checkpoint " +
       "durably (fault-tolerant truncation) and labels are unchanged") {
    val s = spark
    val before = labelsDistributed(Seq((1L, 2L), (2L, 3L), (10L, 11L)))
    val dir = java.nio.file.Files.createTempDirectory("cc_ckpt")
    s.sparkContext.setCheckpointDir(dir.toString)
    try {
      // distributed loop forced, release handle deliberately NOT run:
      // the labels' durable copy must remain (that's what the count
      // below pins) — production callers run it once the labels are
      // materialized elsewhere
      val out = ConnectedComponents.starContractionReleasable(
        edgesDF(Seq((1L, 2L), (2L, 3L), (10L, 11L))), 32, 0)._1
      val after = out.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      out.unpersist()
      after shouldBe before
      // the reliable path really ran AND superseded rounds were
      // released: exactly the labels' durable copy remains — without
      // per-round cleanup a contraction strands rounds × |edges|
      // checkpoint data (Spark never deletes reliable checkpoints on
      // its own)
      val rddDirs = {
        val w = java.nio.file.Files.walk(dir)
        try {
          import scala.jdk.CollectionConverters._
          w.iterator().asScala.count(p =>
            java.nio.file.Files.isDirectory(p) &&
              p.getFileName.toString.startsWith("rdd-"))
        } finally w.close()
      }
      rddDirs shouldBe 1
    } finally {
      // session is shared across suites: restore the eager-local path
      s.sparkContext.setCheckpointDir(null)
    }
  }

  test("x28, x73 and x74 each equal a union-find model of x02's pairs on the fixture") {
    val s = spark
    val byName = graft.queries.Registry.byName
    def rows(q: String) = byName(q).run(s, sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val expected = model(rows("x02_minhash_lsh_neardup").toSeq).toSet
    // the oracle finds 28 verified pairs at sf0.001: a non-empty model
    // keeps the comparison from passing on two empty tables
    expected should not be empty
    for (q <- Seq("x28_dedup_clusters", "x73_cc_star_contraction", "x74_cc_incremental"))
      withClue(s"$q: ")(rows(q).toSet shouldBe expected)
  }
}
