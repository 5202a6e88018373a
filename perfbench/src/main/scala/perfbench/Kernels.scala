package perfbench

import org.apache.spark.sql.{Column, DataFrame, GraftPlanBridge, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.functions._

import graft.functions._

/** Kernel microbench for the traced run: each native kernel in
  * `graft.functions` as `select(kernel(col))` (or `agg`) into the noop
  * sink, over the fixture column its registry query feeds it.
  *
  * Each kernel is one operation of the traced run: a kernel that throws
  * counts as a failed operation and leaves its metric unset.
  *
  * The input is replicated to the kernel's row count, sized so that one
  * kernel pass takes 0.1–0.3 s on a 4-vCPU host, far above the jitter of
  * a job launch, and cached first, so scan cost is small. `functions.<kernel>.ns_row`
  * is the median kernel pass minus the median baseline pass, divided by
  * the input rows. The baseline has the kernel's shape without the
  * kernel: the input selected as it is for a projection, the same
  * grouping with `count` for an aggregate. Kernel and baseline passes
  * alternate, so drift in host speed hits both alike.
  */
object Kernels {
  val Reps = 5

  private def c(e: Expression): Column = GraftPlanBridge.col(e)
  private def e(col: Column): Expression = GraftPlanBridge.expr(col)

  /** One kernel: its input frame, the rows to replicate the input to,
    * the kernel over that frame and the baseline of the same shape. */
  private final case class Case(name: String, input: DataFrame, rows: Long,
                                kernel: DataFrame => DataFrame,
                                base: DataFrame => DataFrame = identity)

  private def cases(spark: SparkSession, dir: String): Seq[Case] = {
    import spark.implicits._
    val docs = graft.core.Tables.load(spark, dir, "documents")
    val emb = graft.core.Tables.load(spark, dir, "embeddings")
    val toks = docs.select($"doc_id", split(lower($"text"), " ").as("toks"))
    val words = toks.select(explode($"toks").as("w")).filter(length($"w") > 0)
    val vecD = emb.select($"vec_id", $"embedding".cast("array<double>").as("v"))
    val cents = vecD.orderBy($"vec_id").limit(16).as[(Long, Seq[Double])].collect()
    val centBc = spark.sparkContext.broadcast(
      IvfNative.centroidPayload(cents.map(_._1).toIndexedSeq, cents.map(_._2.toIndexedSeq).toIndexedSeq))
    val hashPairs = (salt: Int) => transform(sequence(lit(1), lit(8)), i =>
      struct(xxhash64($"text", i + salt).as("a"), xxhash64(i, $"text").as("b")))
    val bpeRules = Seq("t" -> "h", "th" -> "e", "a" -> "n", "i" -> "n", "e" -> "r", "o" -> "n")
    val count1 = count(lit(1))
    Seq(
      Case("bloom_filters", words.select(xxhash64($"w").as("h")), 1000000,
        _.agg(c(BloomFilterBuildAgg(e($"h"), 2000L, 0.01).toAggregateExpression())),
        _.agg(count1)),
      Case("bpe_apply", words.select(split($"w", "").as("syms")), 400000,
        _.select(c(BpeApplyRules(e($"syms"), bpeRules)))),
      Case("char_bigrams", docs.select($"text"), 20000, _.select(c(CharBigrams(e($"text"))))),
      Case("char_stats", docs.select($"text"), 50000, _.select(c(CharStats(e($"text"))))),
      Case("dsir_bucket_counts", toks.select($"toks"), 10000,
        _.select(c(DsirBucketCounts(e($"toks"), 4096L)))),
      Case("ivf_native", vecD.select($"v"), 100000, _.select(c(IvfCoarseRank(e($"v"), centBc, 4)))),
      Case("media_native", docs.select(hashPairs(0).as("fa"), hashPairs(1).as("fb")), 400000,
        _.select(c(HammingCoverCounts(e($"fa"), e($"fb"), 3)))),
      Case("minhash_sig", toks.select($"toks"), 10000,
        _.select(c(MinHashSig(ShingleHashes(e($"toks")), graft.ops.MinHash.Seeds)))),
      Case("ngrams", toks.select($"toks"), 10000, _.select(c(NGramsGenerator(e($"toks"), e(lit(2)))))),
      Case("quantile_sketch", docs.select($"source", $"n_chars"), 1000000,
        _.groupBy($"source").agg(c(QuantileSketch(e($"n_chars"), 4096,
          Seq(500000L, 900000L)).toAggregateExpression())),
        _.groupBy($"source").agg(count1)),
      Case("space_saving_topk", toks.select($"toks"), 40000,
        _.agg(c(SpaceSavingTopK(e($"toks"), 64).toAggregateExpression())),
        _.agg(count1)),
      Case("vec_cosine", emb.select($"embedding".as("a"), reverse($"embedding").as("b")), 400000,
        _.select(c(VecCosine(e($"a"), e($"b"))))),
      Case("vec_mean", emb.select($"label", $"embedding"), 300000,
        _.groupBy($"label").agg(udaf(VecMean).apply($"embedding")),
        _.groupBy($"label").agg(count1)))
  }

  private def noop(df: DataFrame): Double = {
    val t0 = System.nanoTime()
    df.write.format("noop").mode("overwrite").save()
    (System.nanoTime() - t0).toDouble
  }

  def measure(spark: SparkSession, dir: String, tr: Trace, ops: Ops, m: Metrics): Unit =
    cases(spark, dir).foreach { k =>
      ops.timed(s"functions.${k.name}")(tr.span(s"functions.${k.name}") {
        val base = math.max(1L, k.input.count())
        val reps = math.max(1L, (k.rows + base - 1) / base)
        val in = k.input.crossJoin(spark.range(reps).select(lit(0).as("__rep")))
          .drop("__rep").persist()
        val rows = in.count()
        try {
          noop(k.kernel(in)) // warm-up: codegen and JIT
          val (kernelNs, baseNs) = (1 to Reps).map(_ => (noop(k.kernel(in)), noop(k.base(in)))).unzip
          m.put(s"functions.${k.name}.ns_row", (Stats.median(kernelNs) - Stats.median(baseNs)) / rows, "ns")
        } finally in.unpersist(blocking = true)
      })
    }
}
