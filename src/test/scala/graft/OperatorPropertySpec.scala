package graft

import org.scalacheck.{Arbitrary, Gen}
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.streaming._

/** Property-based invariants (SURVEY §5.4) for the stateful operators,
  * exercised in batch mode over generated event histories. */
class OperatorPropertySpec extends AnyFunSuite with Matchers with SparkFixture {

  /** Seeded sampling in place of the scalatestplus forAll bridge (not
    * in the offline dependency cache): 20 deterministic draws. */
  private def forAllSampled[A](gen: Gen[A])(body: A => Unit): Unit =
    (1 to 20).foreach { i =>
      body(gen.pureApply(Gen.Parameters.default, Seed(i.toLong)))
    }

  private val genEvents: Gen[List[PageLog]] = for {
    n <- Gen.choose(0, 60)
    events <- Gen.listOfN(n, for {
      mid <- Gen.oneOf("m1", "m2", "m3")
      page <- Gen.oneOf("home", "cart", "good", "detail")
      entry <- Arbitrary.arbitrary[Boolean]
      ts <- Gen.choose(0L, 3L * 86400000L)
      isNew <- Gen.oneOf("0", "1")
    } yield PageLog(mid, page, if (entry) None else Some("x"), ts, isNew))
  } yield events

  test("DedupDaily is idempotent and keeps exactly one event per (mid, day)") {
    val s = spark
    import s.implicits._
    forAllSampled(genEvents) { events =>
      val once = DedupDaily(s.createDataset(events)).collect().toSeq
      // exactly one survivor per touched (mid, day)
      val keys = once.map(e => (e.mid, Dates.toDate(e.ts)))
      keys.distinct.length shouldBe keys.length
      keys.toSet shouldBe events.map(e => (e.mid, Dates.toDate(e.ts))).toSet
      // idempotence: dedup of the deduped output is a no-op
      val twice = DedupDaily(s.createDataset(once)).collect().toSeq
      twice.map(e => (e.mid, e.ts)).sorted shouldBe once.map(e => (e.mid, e.ts)).sorted
    }
  }

  test("VisitorFlagRepair preserves rows, only weakens flags, 1 only on first date") {
    val s = spark
    import s.implicits._
    forAllSampled(genEvents) { events =>
      val out = VisitorFlagRepair(s.createDataset(events)).collect().toSeq
      out.size shouldBe events.size
      out.map(e => (e.mid, e.ts, e.pageId)).sorted shouldBe
        events.map(e => (e.mid, e.ts, e.pageId)).sorted
      // repaired=1 requires claimed=1 on the same (mid, ts)
      val claimed = events.groupBy(e => (e.mid, e.ts, e.pageId))
      out.filter(_.isNew == "1").foreach { e =>
        claimed((e.mid, e.ts, e.pageId)).exists(_.isNew == "1") shouldBe true
      }
      // all 1s for a mid fall on a single date (its first flagged date)
      out.filter(_.isNew == "1").groupBy(_.mid).values.foreach { es =>
        es.map(e => Dates.toDate(e.ts)).distinct.size shouldBe 1
      }
    }
  }

  test("BounceDetector: bounces are entry events, each input classified at most once") {
    val s = spark
    import s.implicits._
    forAllSampled(genEvents) { events =>
      val bounces = BounceDetector(s.createDataset(events)).collect().toSeq
      val entries = events.filter(_.lastPageId.isEmpty).map(e => (e.mid, e.ts))
      // every bounce is one of the input's entry events
      bounces.foreach { b => entries should contain((b.mid, b.ts)) }
      // no event bounces twice
      val ids = bounces.map(b => (b.mid, b.ts))
      ids.distinct.length shouldBe ids.length
    }
  }

  /** Per-key strictly-increasing timestamps — an exact-tie under
    * shuffle would make the canonical processing order itself
    * ambiguous — with gaps straddling the 10 s bounce gap so both
    * state-machine arms fire. */
  private def genHistory(mid: String): Gen[List[PageLog]] = for {
    n <- Gen.choose(0, 25)
    gaps <- Gen.listOfN(n, Gen.choose(500L, 30000L))
    entries <- Gen.listOfN(n, Arbitrary.arbitrary[Boolean])
    pages <- Gen.listOfN(n, Gen.oneOf("home", "cart", "good", "detail"))
  } yield gaps.scanLeft(1000L)(_ + _).tail
    .lazyZip(entries).lazyZip(pages)
    .map((t, e, p) => PageLog(mid, p, if (e) None else Some("x"), t)).toList

  private val genHistories: Gen[List[PageLog]] = for {
    a <- genHistory("m1"); b <- genHistory("m2"); c <- genHistory("m3")
  } yield a ++ b ++ c

  import OperatorPropertySpec.simulateBounces

  test("BounceDetector shuffled replay (batch): output is invariant under " +
       "input permutation and equals the linear one-pass spec") {
    val s = spark
    import s.implicits._
    forAllSampled(genHistories) { events =>
      val expected = simulateBounces(events, 10000L, closeOut = false)
        .map(b => (b.mid, b.ts, b.reason)).sorted
      Seq(1, 7, 13).foreach { salt =>
        val shuffled = new scala.util.Random(salt).shuffle(events)
        val got = BounceDetector(s.createDataset(shuffled)).collect().toSeq
          .map(b => (b.mid, b.ts, b.reason)).sorted
        withClue(s"salt=$salt: ") { got shouldBe expected }
      }
    }
  }

  // --- RowNumberTopKRewrite widenings: every matched shape must return
  // --- exactly what the un-rewritten window form returns, on generated
  // --- data engineered to contain ties (small key/value domains).

  /** (key, value, payload) rows: ≤6 keys × ≤5 values forces rank ties. */
  private val genKV: Gen[List[(Long, Long, String)]] = for {
    n <- Gen.choose(1, 80)
    rows <- Gen.listOfN(n, for {
      k <- Gen.choose(0L, 5L)
      v <- Gen.choose(0L, 4L)
      p <- Gen.oneOf("a", "b", "c")
    } yield (k, v, p))
  } yield rows

  test("rank() = 1 rewrites to TopKPerKey(withTies) and keeps ALL tied best rows") {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    forAllSampled(genKV) { rows =>
      val df = rows.toDF("k", "v", "p")
      val w = Window.partitionBy($"k").orderBy($"v".desc, $"p")
      val idiom = df.withColumn("r", rank().over(w))
        .filter($"r" === 1).select($"k", $"v", $"p")
      idiom.queryExecution.executedPlan.toString should include("TopKPerKeyFinal")
      val got = idiom.as[(Long, Long, String)].collect().sorted
      // ground truth computed directly: every row tying the per-key best
      val best = rows.groupBy(_._1).view.mapValues(g =>
        g.map(r => (r._2, r._3)).min(Ordering.Tuple2(Ordering[Long].reverse, Ordering[String])))
      val expected = rows.filter(r => best(r._1) == ((r._2, r._3))).sorted
      got.toList shouldBe expected
    }
  }

  test("rank() <= k for k > 1 is NOT rewritten (ties frontier needs the window form)") {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    val df = (1 to 100).map(i => (i % 5L, i % 7L, "x")).toDF("k", "v", "p")
    val w = Window.partitionBy($"k").orderBy($"v".desc)
    val q = df.withColumn("r", rank().over(w))
      .filter($"r" <= 2).select($"k", $"v")
    q.queryExecution.executedPlan.toString.contains("TopKPerKey") shouldBe false
  }

  test("subquery shape Filter-above-Project rewrites and matches the window form") {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    forAllSampled(genKV) { rows =>
      val df = rows.toDF("k", "v", "p")
      df.createOrReplaceTempView("topk_subq")
      // SQL plans as Project(drop rn) <- Filter <- Project(incl rn) <- Window
      val idiom = s.sql("""
        SELECT k, v, p FROM (
          SELECT k, v, p,
            row_number() OVER (PARTITION BY k ORDER BY v DESC, p) AS rn
          FROM topk_subq) t
        WHERE rn <= 2""")
      idiom.queryExecution.executedPlan.toString should include("TopKPerKeyFinal")
      val got = idiom.as[(Long, Long, String)].collect().sorted
      val w = Window.partitionBy($"k").orderBy($"v".desc, $"p")
      val expected = windowReference(df.withColumn("rn", row_number().over(w))
        .filter($"rn" <= 2).select($"k", $"v", $"p")
        .as[(Long, Long, String)]).sorted
      got shouldBe expected
    }
  }
}

/** Shared W2 oracle: the one-pass linear SPECIFICATION of bounce
  * detection (SURVEY §7.3 hard part #1 — timeout + out-of-order
  * interplay). Fold each key's time-sorted history through the CEP
  * rules; `closeOut` models an end-of-stream watermark flush
  * (streaming with a far-future watermark pusher) vs batch (no
  * timers — trailing pending never emits). The implementation must
  * match this fold no matter how its input is shuffled or
  * micro-batched; OperatorPropertySpec pins the batch half,
  * StreamingStateSpec the micro-batched streaming half. */
object OperatorPropertySpec {
  def simulateBounces(events: Seq[PageLog], gapMs: Long,
                      closeOut: Boolean): Seq[Bounce] =
    events.groupBy(_.mid).toSeq.flatMap { case (mid, es) =>
      val out = Seq.newBuilder[Bounce]
      var pending: Option[Long] = None
      es.sortBy(e => (e.ts, e.pageId)).foreach { e =>
        val isEntry = e.lastPageId.isEmpty
        pending match {
          case Some(p) if e.ts - p <= gapMs =>
            if (isEntry) { out += Bounce(mid, p, "next_entry"); pending = Some(e.ts) }
            else pending = None
          case Some(p) =>
            out += Bounce(mid, p, "timeout")
            pending = if (isEntry) Some(e.ts) else None
          case None =>
            if (isEntry) pending = Some(e.ts)
        }
      }
      if (closeOut) pending.foreach(p => out += Bounce(mid, p, "timeout"))
      out.result()
    }
}
