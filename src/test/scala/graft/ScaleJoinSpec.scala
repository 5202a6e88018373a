package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.ops.{SkewJoin, TopK}

/** The two manual scale levers SURVEY §7 commits to beyond AQE:
  * key salting for skew, bucketing for shuffle-free co-located joins. */
class ScaleJoinSpec extends AnyFunSuite with Matchers with SparkFixture {

  test("saltedJoin returns exactly the plain join's rows and shuffles on (key, salt)") {
    val s = spark
    import s.implicits._
    // 90% of the big side lands on one hot key
    val big = (1 to 10000).map(i => (if (i % 10 != 0) 1L else i.toLong, s"v$i"))
      .toDF("k", "payload")
    val dim = Seq((1L, "hot"), (10L, "a"), (20L, "b"), (30L, "c"))
      .toDF("k", "name")
    val plain = big.join(dim, Seq("k"))
    val salted = SkewJoin.saltedJoin(big, dim, "k", salts = 8)
    salted.count() shouldBe plain.count()
    salted.columns.sorted shouldBe plain.columns.sorted
    val a = salted.select($"k", $"payload", $"name").as[(Long, String, String)]
      .collect().sorted
    val b = plain.select($"k", $"payload", $"name").as[(Long, String, String)]
      .collect().sorted
    a shouldBe b
    // the exchange must carry the salt, not just the hot key
    salted.queryExecution.executedPlan.toString should include("__salt")
  }

  test("saltedJoin LEFT join: unmatched big rows null-extend exactly once " +
       "per row (never once per salt); matches the plain left join") {
    val s = spark
    import s.implicits._
    // hot key 1, plus keys the dim doesn't know (3, 40..49)
    val big = (1 to 5000).map { i =>
      val k = if (i % 5 != 0) 1L else if (i % 10 == 0) 3L else (40 + i % 10).toLong
      (k, s"v$i")
    }.toDF("k", "payload")
    val dim = Seq((1L, "hot"), (45L, "a"), (47L, "b")).toDF("k", "name")
    val plain = big.join(dim, Seq("k"), "left")
    val salted = SkewJoin.saltedJoin(big, dim, "k", salts = 8, joinType = "left")
    salted.count() shouldBe plain.count()
    salted.select($"k", $"payload", $"name".isNull.as("unmatched"))
      .as[(Long, String, Boolean)].collect().sorted shouldBe
      plain.select($"k", $"payload", $"name".isNull.as("unmatched"))
        .as[(Long, String, Boolean)].collect().sorted
    // every big row survives exactly once
    salted.count() shouldBe 5000L
  }

  test("saltedJoin rejects right/full outer with the designed error") {
    val s = spark
    import s.implicits._
    val big = Seq((1L, "x")).toDF("k", "v")
    val dim = Seq((1L, "d")).toDF("k", "n")
    val e = intercept[IllegalArgumentException] {
      SkewJoin.saltedJoin(big, dim, "k", salts = 4, joinType = "full_outer")
    }
    e.getMessage should include("PER SALT")
  }

  test("adaptiveSalts: measured skew derives a proportional salt count; " +
       "uniform input derives 1; cap honored") {
    val s = spark
    import s.implicits._
    // ~90% of rows on one key → hottest·P/total ≈ 0.9·P ≫ 1
    val skewed = (1 to 20000).map(i =>
      (if (i % 10 != 0) 7L else i.toLong, i)).toDF("k", "v")
    val derived = SkewJoin.adaptiveSalts(skewed, "k")
    derived should be > 1
    derived should be <= 64
    SkewJoin.adaptiveSalts(skewed, "k", maxSalts = 4) shouldBe 4
    // uniform: every key holds one row → fair share → no salting
    val uniform = (1 to 1000).map(i => (i.toLong, i)).toDF("k", "v")
    SkewJoin.adaptiveSalts(uniform, "k") shouldBe 1
    // and the auto form still returns exactly the plain join's rows
    val dim = Seq((7L, "hot"), (10L, "a")).toDF("k", "name")
    val auto = SkewJoin.saltedJoinAuto(skewed, dim, "k")
    auto.count() shouldBe skewed.join(dim, Seq("k")).count()
    auto.queryExecution.executedPlan.toString should include("__salt")
  }

  test("adaptiveSalts (sampled): above the sample floor the derived count " +
       "tracks the exact histogram within ±1 — the full-side aggregation " +
       "job is replaced by a seeded few-percent sample") {
    val s = spark
    import s.implicits._
    // 400k rows, ~30% on one hot key: 5% sample ≈ 20k rows ≥ floor →
    // the sampled estimator runs (the smaller fixtures above fall back
    // to exact by design)
    val skewed = s.range(400000).selectExpr(
      "CASE WHEN id % 10 < 3 THEN 777L ELSE id END AS k", "id AS v")
    val exact = SkewJoin.adaptiveSaltsExact(skewed, "k")
    val sampled = SkewJoin.adaptiveSalts(skewed, "k")
    exact should be > 1
    math.abs(sampled - exact) should be <= 1
    // and the count is deterministic run to run (seeded sample)
    SkewJoin.adaptiveSalts(skewed, "k") shouldBe sampled
    // join correctness is independent of the derived count
    // (120000 CASE-branch rows + the one natural id=777 row)
    val dim = Seq((777L, "hot")).toDF("k", "name")
    SkewJoin.saltedJoin(skewed, dim, "k", sampled).count() shouldBe 120001L
  }

  test("TopK.perKey equals the window row_number form (q09 semantics)") {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    val orders = graft.core.Tables.load(s, sf0001, "orders")
    val heap = TopK.perKey(orders, Seq("o_custkey"),
        Seq(("o_totalprice", false), ("o_orderkey", true)), k = 3)
      .select($"o_custkey", $"o_orderkey").as[(Long, Long)].collect().sorted
    val w = Window.partitionBy($"o_custkey")
      .orderBy($"o_totalprice".desc, $"o_orderkey")
    val window = windowReference(orders.withColumn("rn", row_number().over(w))
      .filter($"rn" <= 3)
      .select($"o_custkey", $"o_orderkey").as[(Long, Long)]).sorted
    heap shouldBe window
  }

  test("TopKPerKey plan node: strategy plans partial/exchange/final, results match window form") {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    val orders = graft.core.Tables.load(s, sf0001, "orders")
    val planned = TopK.perKeyPlanned(orders, Seq("o_custkey"),
      Seq(("o_totalprice", false), ("o_orderkey", true)), k = 3)
    val plan = planned.queryExecution.executedPlan.toString
    plan should include("TopKPerKeyFinal")
    plan should include("TopKPerKeyPartial")
    plan should include("Exchange hashpartitioning")
    val got = planned.select($"o_custkey", $"o_orderkey")
      .as[(Long, Long)].collect().sorted
    val w = Window.partitionBy($"o_custkey")
      .orderBy($"o_totalprice".desc, $"o_orderkey")
    val expected = windowReference(orders.withColumn("rn", row_number().over(w))
      .filter($"rn" <= 3)
      .select($"o_custkey", $"o_orderkey").as[(Long, Long)]).sorted
    got shouldBe expected
  }

  test("RowNumberTopKRewrite: the window row_number<=k idiom plans as TopKPerKey") {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    val orders = graft.core.Tables.load(s, sf0001, "orders")
    val w = Window.partitionBy($"o_custkey")
      .orderBy($"o_totalprice".desc, $"o_orderkey")
    // the user writes the window idiom and DROPS rn — rewrite fires
    val idiom = orders.withColumn("rn", row_number().over(w))
      .filter($"rn" <= 3)
      .select($"o_custkey", $"o_orderkey")
    val plan = idiom.queryExecution.executedPlan.toString
    plan should include("TopKPerKeyFinal")
    plan.contains("WindowExec") shouldBe false
    // keeping rn in the output must NOT rewrite (operator can't emit it)
    val keepsRn = orders.withColumn("rn", row_number().over(w))
      .filter($"rn" <= 3)
      .select($"o_custkey", $"rn")
    keepsRn.queryExecution.executedPlan.toString.contains("TopKPerKey") shouldBe false
    // and results match the unrewritten form
    val expected = windowReference(orders.withColumn("rn", row_number().over(w))
      .filter($"rn" <= 3).select($"o_custkey", $"o_orderkey")
      .as[(Long, Long)]).sorted
    idiom.as[(Long, Long)].collect().sorted shouldBe expected
  }

  test("TopK.perKey map-side pruning bounds the shuffled rows") {
    val s = spark
    import s.implicits._
    // 100k rows, 10 keys, k=2: the exchange should carry at most
    // k · keys · partitions rows, far below the input
    val df = (1 to 100000).map(i => (i % 10L, i.toLong)).toDF("k", "v")
      .repartition(8)
    val out = TopK.perKey(df, Seq("k"), Seq(("v", false)), k = 2)
    out.count() shouldBe 20
    out.as[(Long, Long)].collect().toSet shouldBe
      (0 until 10).flatMap { r =>
        val top = (1 to 100000).filter(_ % 10 == r).sorted.reverse.take(2)
        top.map(v => (r.toLong, v.toLong))
      }.toSet
  }

  test("TopKPerKey memory guard: partial flush-and-reset under a tiny budget stays exact") {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    // 10k distinct keys in ONE input partition: the partial stage would
    // retain ~10k heaps at once (~640 KB); a 200 KB budget forces it to
    // flush mid-partition at least once. With 16 hash partitions on the
    // final side (AQE coalescing off so the exchange keeps them), each
    // final partition holds ~625 keys ≈ 40 KB — under budget. Results
    // must be bit-identical to the window form — the flush trades
    // shuffle reduction, never correctness.
    val df = (1 to 30000).map(i => (i % 10000L, i.toLong)).toDF("k", "v")
      .coalesce(1)
    val key = graft.plans.TopKPerKeyExec.MaxBytesKey
    val prevAqe = s.conf.get("spark.sql.adaptive.enabled")
    val prevParts = s.conf.get("spark.sql.shuffle.partitions")
    s.conf.set(key, (200L * 1024).toString)
    s.conf.set("spark.sql.adaptive.enabled", "false")
    s.conf.set("spark.sql.shuffle.partitions", "16")
    try {
      val got = TopK.perKeyPlanned(df, Seq("k"), Seq(("v", false)), k = 2)
        .as[(Long, Long)].collect().sorted
      val w = Window.partitionBy($"k").orderBy($"v".desc)
      val expected = windowReference(df.withColumn("rn", row_number().over(w))
        .filter($"rn" <= 2).select($"k", $"v")
        .as[(Long, Long)]).sorted
      got shouldBe expected
    } finally {
      s.conf.unset(key)
      s.conf.set("spark.sql.adaptive.enabled", prevAqe)
      s.conf.set("spark.sql.shuffle.partitions", prevParts)
    }
  }

  test("TopKPerKey memory guard: final stage over budget fails with the designed error") {
    val s = spark
    import s.implicits._
    // 16 KB budget: the partial stage flushes gracefully, but a final
    // partition's ~2.5k-key state cannot be trimmed incrementally —
    // the designed failure names the knob and the sort-spilling
    // alternative instead of OOMing the executor.
    val df = (1 to 30000).map(i => (i % 10000L, i.toLong)).toDF("k", "v")
      .coalesce(1)
    val key = graft.plans.TopKPerKeyExec.MaxBytesKey
    s.conf.set(key, (16L * 1024).toString)
    try {
      val ex = intercept[Exception] {
        TopK.perKeyPlanned(df, Seq("k"), Seq(("v", false)), k = 2).collect()
      }
      def messages(t: Throwable): Seq[String] =
        if (t == null) Nil else Option(t.getMessage).toSeq ++ messages(t.getCause)
      messages(ex).mkString("\n") should include("TopKPerKeyFinal exceeded")
    } finally s.conf.unset(key)
  }

  test("date-partitioned writes prune partitions at the scan (PartitionFilters)") {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Files.createTempDirectory("partp").toString
    graft.core.Tables.load(s, sf0001, "events")
      .withColumn("event_date", to_date($"ts"))
      .write.partitionBy("event_date").mode("overwrite").parquet(dir)
    val q = s.read.parquet(dir).filter($"event_date" === "2024-01-03")
    val scan = q.queryExecution.executedPlan.toString
    scan should include("PartitionFilters")
    scan should include("event_date")
    // pruned read: only one date directory's rows
    val expected = graft.core.Tables.load(s, sf0001, "events")
      .filter(to_date($"ts") === "2024-01-03").count()
    q.count() shouldBe expected
  }

  test("bucketed tables co-locate the join: no exchange in the plan") {
    val s = spark
    import s.implicits._
    val old = s.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      (1 to 5000).map(i => (i.toLong, s"p$i")).toDF("k", "payload")
        .write.bucketBy(8, "k").sortBy("k").mode("overwrite").saveAsTable("bj_big")
      (1 to 5000 by 7).map(i => (i.toLong, s"d$i")).toDF("k", "dim")
        .write.bucketBy(8, "k").sortBy("k").mode("overwrite").saveAsTable("bj_dim")
      val joined = s.table("bj_big").join(s.table("bj_dim"), "k")
      joined.count() shouldBe (1 to 5000 by 7).size
      val plan = joined.queryExecution.executedPlan.toString
      // both sides report bucketed scans and the join needs no shuffle
      plan should include("SelectedBucketsCount")
      plan should not include "Exchange hashpartitioning"
    } finally {
      s.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
      s.sql("DROP TABLE IF EXISTS bj_big")
      s.sql("DROP TABLE IF EXISTS bj_dim")
    }
  }

  test("runtime bloom filter from a selective dim prunes the fact side of a shuffle join") {
    val s = spark
    import s.implicits._
    // the third manual-lever-free scale win SURVEY §7 counts on: when a
    // dim carries a selective filter and the fact side is too big to
    // broadcast, Catalyst injects a bloom-filter semi-filter on the
    // fact's join key — at 100 TB that's the difference between
    // shuffling the whole fact and shuffling the ~matching fraction.
    // Thresholds are lowered because the fixture is tiny; the PLAN
    // SHAPE (bloom built on dim, might_contain applied below the fact
    // exchange) is what's asserted, and it is scale-invariant.
    val dir = java.nio.file.Files.createTempDirectory("bloomrf").toString
    (1 to 200000).map(i => (i.toLong % 1000, s"payload$i"))
      .toDF("k", "payload").write.mode("overwrite").parquet(s"$dir/fact")
    (0L until 1000L).map(i => (i, s"d$i", i % 100))
      .toDF("k", "name", "grp").write.mode("overwrite").parquet(s"$dir/dim")
    val confs = Seq(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0",
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold" -> "100MB")
    val saved = confs.map { case (k, _) => k -> s.conf.getOption(k) }
    try {
      confs.foreach { case (k, v) => s.conf.set(k, v) }
      val fact = s.read.parquet(s"$dir/fact")
      val dim = s.read.parquet(s"$dir/dim").filter($"grp" === 3) // selective
      val joined = fact.join(dim, "k")
      val optimized = joined.queryExecution.optimizedPlan.toString
      optimized.toLowerCase should include("bloom")      // filter injected
      optimized should include("might_contain")          // applied fact-side
      // and it is semantically invisible
      joined.count() shouldBe 200L * 10L // 10 dim keys x 200 fact rows each
    } finally {
      saved.foreach {
        case (k, Some(v)) => s.conf.set(k, v)
        case (k, None) => s.conf.unset(k)
      }
    }
  }
}
