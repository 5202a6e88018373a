package graft {

  import java.nio.file.Files

  import org.scalatest.funsuite.AnyFunSuite
  import org.scalatest.matchers.should.Matchers

  import graft.core.RunCounters

  /** The run collector (`core.RunCounters`): a window's counters are
    * stable across identical runs, cover the jobs and plans of child
    * sessions the work runs on, and the collector always detaches. */
  class RunCountersSpec extends AnyFunSuite with Matchers with SparkFixture {

    private def listeners: Int = org.apache.spark.ListenerCount.of(spark.sparkContext)

    test("two windows over the same query count the same jobs, tasks and shuffle bytes") {
      def windows(name: String) = {
        val q = queries.Registry.byName(name)
        def run(): Unit = {
          // every run builds its persisted intermediates again, as a
          // Bench timed run does
          queries.Extensions.clearPersistedIntermediates()
          q.run(spark, sf0001).write.format("noop").mode("overwrite").save()
        }
        run() // warm-up outside any window: first-load file listing, codegen
        val (_, a) = RunCounters.window(spark)(run())
        val (_, b) = RunCounters.window(spark)(run())
        a.jobs should be > 0L
        a.tasks should be > 0L
        a.shuffleRecords should be > 0L
        (b.jobs, b.tasks, b.shuffleRecords) shouldBe ((a.jobs, a.tasks, a.shuffleRecords))
        a.plans should not be empty
        b.plans.size shouldBe a.plans.size
        (a, b)
      }
      val (a, b) = windows("q03_star_join_broadcast")
      b.shuffleBytes shouldBe a.shuffleBytes
      // x73 writes the same shuffle rows in a run-dependent order, so
      // its compressed shuffle bytes may differ by a few bytes between
      // runs; its records may not
      windows("x73_cc_star_contraction")
    }

    test("x73 at sf0.001 builds its pairs and labels in at most 10 Spark jobs") {
      // the band rows cross one exchange and the labels come from one
      // bounded collect: 10 jobs, where the window + self-join pair
      // route and the witness fold took 20
      val q = queries.Registry.byName("x73_cc_star_contraction")
      def run(): Unit = {
        queries.Extensions.clearPersistedIntermediates()
        q.run(spark, sf0001).write.format("noop").mode("overwrite").save()
      }
      run()
      val (_, c) = RunCounters.window(spark)(run())
      c.jobs should be > 0L
      c.jobs should be <= 10L
    }

    test("a DimStore upsert's commit-session jobs and write plans are in the window") {
      val s = spark
      import s.implicits._
      val path = Files.createTempDirectory("rc_upsert").toString + "/dim"
      val batch = Seq((1L, "alice", 10L), (2L, "bob", 10L)).toDF("id", "name", "ver")
      val (_, c) = RunCounters.window(spark) {
        ops.DimStore.upsert(spark, path, batch, "id", "ver", nBuckets = 4)
      }
      c.jobs should be > 0L
      c.plans.exists(p => p.contains("InsertIntoHadoopFsRelationCommand") ||
        p.contains("WriteFiles")) shouldBe true
    }

    test("a window whose body throws still detaches its listeners") {
      val before = listeners
      intercept[IllegalStateException] {
        RunCounters.window(spark)(throw new IllegalStateException("boom"))
      }
      listeners shouldBe before
    }
  }
}

package org.apache.spark {
  /** The context's listener count (`listenerBus` is `private[spark]`). */
  object ListenerCount {
    def of(sc: SparkContext): Int = sc.listenerBus.listeners.size
  }
}
