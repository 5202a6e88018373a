package graft.tools

import org.apache.spark.sql.functions._

/** Dev-side scale probe for the MULTIMODAL near-dup family (NOT part
  * of the driver contract): prices x87 (perceptual-hash media
  * near-dup), x88 (audio landmark fingerprint), and x89 (video
  * frame-set near-dup) on an arbitrary documents dir, so a KX-blown-up
  * corpus (tools/scale_probe_gen.py) can be compared against its base
  * — the same growth-shape evidence ScaleProbe gives the text dedup
  * family.
  *
  * Besides wall times (every run printed — first run pays codegen +
  * scan warm-up), it reports the STRUCTURAL terms each operator's
  * scale contract rides on:
  *  - x88: landmark count, the post-df-pruning rare-landmark count,
  *    max landmark df (must be ≤ the maxDf bound — that is what keeps
  *    every inverted-index bucket under the cap by construction);
  *  - x89: distinct frame-hash rows, max (band, v) bucket size and the
  *    over-cap bucket count (over-cap buckets star-degrade — the
  *    documented trade), and the capped candidate-pair count the
  *    verify stage actually scores.
  *
  * Usage: runMain graft.tools.MediaScaleProbe <documentsDir> [nRuns]
  */
object MediaScaleProbe {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val nRuns = args.lift(1).map(_.toInt).getOrElse(2)
    val spark = graft.core.GraftSession.builder("MediaScaleProbe").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._

    val nDocs = graft.core.Tables.load(spark, dir, "documents").count()

    def media = graft.core.Tables.load(spark, dir, "documents")
      .select($"doc_id",
        regexp_replace($"text", "[^\\x00-\\x7F]", "?")
          .cast("binary").as("media"))
      .as[graft.ops.MediaIn]

    // --- x88 structure: landmark df before/after the stop-landmark cut
    val maxDf = math.max(16L, nDocs / 200L)
    val lms = graft.ops.AudioFingerprint.landmarks(
      graft.ops.AudioFingerprint.windowFeatures(media)).persist()
    val dfStats = lms.groupBy($"lh").count()
      .agg(count(lit(1)).as("n_lm"), max($"count").as("max_df"),
        sum(when($"count" > maxDf, 1L).otherwise(0L)).as("stop_lm"))
      .head()
    val rare = graft.ops.AudioFingerprint.rareLandmarks(lms, maxDf)
    val rareCount = rare.count()
    val rareMaxDf = rare.groupBy($"lh").count().agg(max($"count")).head().getLong(0)
    lms.unpersist()

    // --- x89 structure: frame-hash band buckets + capped candidates
    val cap = graft.ops.Blocking.DefaultBlockCap
    val fh = graft.ops.PHash.frameHashKeys(
      graft.ops.Multimodal.framePlanes(media)).persist()
    val fhRows = fh.count()
    val buckets = fh.select($"doc_id",
        posexplode(array(
          shiftright($"k1", 16), $"k1".bitwiseAND(65535L),
          shiftright($"k2", 16), $"k2".bitwiseAND(65535L))))
      .select($"doc_id", $"pos".as("band"), $"col".as("k1"), lit(0L).as("k2"))
      .distinct().persist()
    val bStats = buckets.groupBy($"band", $"k1", $"k2").count()
      .agg(count(lit(1)).as("n_buckets"), max($"count").as("max_bucket"),
        sum(when($"count" > cap, 1L).otherwise(0L)).as("over_cap"))
      .head()
    val candPairs = graft.ops.Blocking.cappedBandPairs(buckets, cap).count()
    buckets.unpersist(); fh.unpersist()

    // --- wall times through the registry entries (noop sink — the
    // bench harness's materialization)
    def times(name: String): Seq[Double] = (1 to nRuns).map { _ =>
      val t0 = System.nanoTime()
      graft.queries.Registry.byName(name).run(spark, dir)
        .write.format("noop").mode("overwrite").save()
      graft.queries.Extensions.clearPersistedIntermediates()
      (System.nanoTime() - t0) / 1e9
    }
    def num(v: Double) =
      String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    def arr(v: Seq[Double]) = v.map(num).mkString("[", ",", "]")
    val t87 = times("x87_phash_neardup")
    val t88 = times("x88_audio_fingerprint")
    val t89 = times("x89_video_frameset_neardup")

    println(s"""{"probe":"media_scale","dir":"$dir","n_docs":$nDocs,""" +
      s""""x88_landmarks":${dfStats.getLong(0)},"x88_max_df":${dfStats.getLong(1)},""" +
      s""""x88_stop_landmarks":${dfStats.getLong(2)},"x88_rare_rows":$rareCount,""" +
      s""""x88_rare_max_df":$rareMaxDf,"x88_max_df_bound":$maxDf,""" +
      s""""x89_frame_hashes":$fhRows,"x89_buckets":${bStats.getLong(0)},""" +
      s""""x89_max_bucket":${bStats.getLong(1)},"x89_over_cap":${bStats.getLong(2)},""" +
      s""""x89_cand_pairs":$candPairs,""" +
      s""""x87_s":${arr(t87)},"x88_s":${arr(t88)},"x89_s":${arr(t89)}}""")
    spark.stop()
  }
}
