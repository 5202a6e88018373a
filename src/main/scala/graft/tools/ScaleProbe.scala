package graft.tools

import org.apache.spark.sql.functions._

/** Dev-side dedup scale probe (NOT part of the driver contract): runs
  * the near-dup pipeline's cost drivers on an arbitrary documents dir
  * and prints one JSON line, so a KX-blown-up corpus
  * (tools/scale_probe_gen.py) can be compared against its base.
  *
  * What it measures, per [[graft.ops.Blocking]]'s Σ|block|² contract:
  *  - block-structure stats of the x02 LSH band join (block count, max
  *    block, over-cap block count, the per-block capped pair bound
  *    Σ min(|b|·(|b|−1)/2, bound) that wall-time should track);
  *  - the DISTINCT candidate-pair count the cap actually emits;
  *  - wall times of x02 (pair detection), x28 (cluster propagation),
  *    x36 (keep-list apply) — every run is printed, not just the min,
  *    because x36's first run pays the one-time stage build and the
  *    later runs show the steady-state scan, and both numbers matter.
  *
  * Usage: runMain graft.tools.ScaleProbe <documentsDir> [nRuns]
  */
object ScaleProbe {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val nRuns = args.lift(1).map(_.toInt).getOrElse(2)
    val spark = graft.core.GraftSession.builder("ScaleProbe").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._

    val docs = graft.core.Tables.load(spark, dir, "documents")
    val nDocs = docs.count()

    // block structure of the band join (pre-cap), and the capped bound
    val cap = graft.ops.Blocking.DefaultBlockCap
    val bands = graft.ops.MinHash.bands(
      graft.ops.MinHash.shingleHashes(docs)).persist()
    val blocks = bands.groupBy($"band", $"k1", $"k2").count()
    val st = blocks.agg(
      count(lit(1)).as("n_blocks"),
      max($"count").as("max_block"),
      sum(when($"count" > cap, 1L).otherwise(0L)).as("over_cap"),
      sum(when($"count" <= cap, ($"count" * ($"count" - 1) / 2).cast("long"))
        .otherwise($"count" - 1)).as("pair_bound"),
      sum(($"count" * ($"count" - 1) / 2).cast("long")).as("uncapped_bound")).head()
    val candidates = graft.ops.Blocking.cappedBandPairs(bands).count()
    bands.unpersist()

    def timeQuery(name: String): Seq[Double] = {
      val q = graft.queries.Registry.all.find(_.name == name)
        .getOrElse(sys.error(s"no query named $name"))
      (1 to nRuns).map { _ =>
        val t0 = System.nanoTime()
        q.run(spark, dir).write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }
    }
    def fmt(xs: Seq[Double]): String =
      xs.map(t => f"$t%.2f").mkString("[", ",", "]")
    val tX02 = timeQuery("x02_minhash_lsh_neardup")
    val tX28 = timeQuery("x28_dedup_clusters")
    val tX36 = timeQuery("x36_dedup_apply")
    val tX81 = timeQuery("x81_gopher_quality")
    val tX82 = timeQuery("x82_boilerplate_spans")

    // x82's scale driver: the boilerplate dictionary's cardinality —
    // grams shared by >= 3 distinct docs. Per-doc work is corpus-linear;
    // the dictionary is what could stop fitting a broadcast (x82
    // deliberately shuffle-joins on the gram key so it never has to)
    val boilerDict = docs
      .withColumn("toks", split($"text", " "))
      .filter(size($"toks") >= 3)
      .select($"doc_id",
        explode(expr(graft.ops.TextGrams.WordTrigramExpr)).as("g"))
      .distinct()
      .groupBy($"g").agg(count(lit(1)).as("n_docs"))
      .filter($"n_docs" >= 3)
      .count()

    println(s"""{"dir":"$dir","docs":$nDocs,"blocks":${st.getLong(0)},""" +
      s""""max_block":${st.getLong(1)},"over_cap_blocks":${st.getLong(2)},""" +
      s""""capped_pair_bound":${st.getLong(3)},"uncapped_pair_bound":${st.getLong(4)},""" +
      s""""candidate_pairs":$candidates,"boiler_dict":$boilerDict,""" +
      s""""sec_x02":${fmt(tX02)},"sec_x28":${fmt(tX28)},"sec_x36":${fmt(tX36)},""" +
      s""""sec_x81":${fmt(tX81)},"sec_x82":${fmt(tX82)}}""")
    spark.stop()
  }
}
