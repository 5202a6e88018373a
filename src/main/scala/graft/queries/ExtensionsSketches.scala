package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.core.Tables

/** Sketches / sampling / packing / misc family:
  * HLL, heavy hitters, KLL quantiles, bloom decontamination,
  * stratified and bottom-k sampling, splits, packing, multimodal
  * columns, salted skew joins.
  *
  * Split out of the single `Extensions` object along its family seams
  * (the object had grown to 5k lines); mixed back into [[Extensions]],
  * whose self-type gives every family access to the shared corpus /
  * persist / sketch-capacity helpers. Members are `lazy val`s so
  * cross-family references in oracle-SQL interpolations can never hit
  * a trait-initialization-order gap.
  */
private[queries] trait ExtensionsSketches { this: Extensions.type =>
  // ---------------------------------------------------------------------
  // x11 — multimodal column plumbing: media as an opaque binary column
  // with typed metadata extraction through graft.ops.Multimodal's
  // batched mapPartitions pipeline (the decode itself is a deterministic
  // stub — see Multimodal.scala — but the schema, partitioning, and
  // batch shape are the real 100 TB path).
  lazy val x11 = Q(
    "x11_multimodal_meta",
    (s, dir) => {
      import s.implicits._
      val media = docs(s, dir)
        .select($"doc_id", $"text".cast("binary").as("media"))
        .as[graft.ops.MediaIn]
      graft.ops.Multimodal.extractMeta(media)
        .toDF()
    },
    Some("""
      SELECT doc_id,
        strlen(text) AS n_bytes,
        sha256(text) AS checksum,
        16 + strlen(text) % 64 AS width,
        16 + (strlen(text) // 64) % 64 AS height,
        'fake/rgb8' AS format
      FROM documents
    """))

  // ---------------------------------------------------------------------
  // x14 — multimodal frame sampling: every 4th 100-byte window of each
  // blob becomes a frame row via ops.Multimodal.sampleFrames (the
  // one-to-many mapPartitions fan-out a video frame-sampler has; the
  // "decode" is the documented stub). The oracle reproduces the
  // windowing with substring arithmetic on the same utf-8 bytes.
  lazy val x14 = Q(
    "x14_multimodal_frames",
    (s, dir) => {
      import s.implicits._
      // ASCII-normalize before byte-windowing: DuckDB's sha256 only
      // accepts VARCHAR, so the oracle must window characters — with
      // multi-byte text its char windows would diverge from the byte
      // windows the real pipeline cuts. Forcing 1 byte = 1 char keeps
      // the oracle exact; a production frame sampler has no oracle and
      // windows raw bytes.
      val media = docs(s, dir)
        .select($"doc_id",
          regexp_replace($"text", "[^\\x00-\\x7F]", "?").cast("binary").as("media"))
        .as[graft.ops.MediaIn]
      graft.ops.Multimodal.sampleFrames(media)
        .toDF()
    },
    Some("""
      SELECT doc_id, frame_idx, 100 AS n_bytes,
        sha256(substr(t, frame_idx * 100 + 1, 100)) AS checksum
      FROM (SELECT doc_id, t,
              unnest(range(0, greatest(len(t) // 100, 0), 4)) AS frame_idx
            FROM (SELECT doc_id,
                    regexp_replace(text, '[^\x00-\x7F]', '?', 'g') AS t
                  FROM documents))
    """))

  // ---------------------------------------------------------------------
  // x87 — perceptual-hash near-dup over the media columns (the
  // multimodal pillar's dedup operator): media blob → fixed 64-cell
  // luminance plane (graft.ops.Multimodal.luminancePlane — the decode/
  // downscale stub; a real build yields an 8×8 grayscale plane and
  // keeps every downstream step) → 64-bit average-hash (mean-threshold
  // bits, integer-exact) → 4×16-bit banded candidate join (pigeonhole-
  // EXACT at hamming ≤ 3 — PHashSpec pins the recall guarantee and the
  // bucket-locality) → capped-bucket pair generation → bit_count(xor)
  // verification on candidates only. Never all-pairs; the oracle
  // mirrors [[graft.ops.Blocking.cappedBandPairs]]'s deterministic
  // star-degrade EXACTLY (≤ cap → all pairs, > cap → min-doc star), so
  // the compare is exact at ANY scale — at sf0.1 dense aHash buckets
  // (e.g. all-zero bands) overflow the cap, where a plain-join oracle
  // diverged (caught by the first full sf0.1 gate, round 17). ASCII
  // normalization (1 byte = 1 char) keeps the DuckDB oracle, which
  // must walk chars, byte-exact with the Spark side's raw-byte stub.
  lazy val x87 = Q(
    "x87_phash_neardup",
    (s, dir) => {
      import s.implicits._
      val media = docs(s, dir)
        .select($"doc_id",
          regexp_replace($"text", "[^\\x00-\\x7F]", "?").as("t"))
        .filter(length($"t") >= 64)
        .select($"doc_id", $"t".cast("binary").as("media"))
        .as[graft.ops.MediaIn]
      // materialize the per-doc packed hash table (~40 bytes/doc) once:
      // the pair machinery consumes it from five subtrees (band window,
      // candidate self-join, star route, two verify joins), and without
      // the persist each subtree re-ran the regexp + trigram-histogram
      // + 64-term threshold pipeline over its own full parquet scan
      val hs = persisted(s, "x87_hashes", dir) {
        graft.ops.PHash.bandedHashes(
          graft.ops.Multimodal.luminancePlane(media))
      }
      graft.ops.PHash
        .neardupPairsFromHashes(hs, maxHamming = 3)
        .orderBy($"doc_a", $"doc_b")
    },
    Some(s"""
      WITH d AS (
        SELECT doc_id, regexp_replace(text, '[^\\x00-\\x7F]', '?', 'g') AS t
        FROM documents
      ),
      ok AS (SELECT doc_id, t FROM d WHERE len(t) >= 64),
      tri AS (
        SELECT doc_id,
          (ord(substr(t, i, 1)) * 961 + ord(substr(t, i + 1, 1)) * 31
            + ord(substr(t, i + 2, 1))) % 64 AS bin,
          len(t) - 2 AS n
        FROM ok, LATERAL (SELECT unnest(range(1, len(t) - 1)) AS i)
      ),
      hist AS (SELECT doc_id, bin, n, COUNT(*) AS cnt FROM tri GROUP BY 1, 2, 3),
      bits AS (
        SELECT doc_id, bin // 16 AS band,
               SUM(CASE WHEN cnt * 64 > n THEN 1 << (bin % 16) ELSE 0 END) AS k1
        FROM hist GROUP BY 1, 2
      ),
      bands AS (
        SELECT o.doc_id, bb.band, CAST(COALESCE(b.k1, 0) AS BIGINT) AS k1
        FROM ok o CROSS JOIN (SELECT unnest(range(0, 4)) AS band) bb
        LEFT JOIN bits b ON b.doc_id = o.doc_id AND b.band = bb.band
      ),
      sized AS (
        SELECT doc_id, band, k1,
          COUNT(*) OVER (PARTITION BY band, k1) AS bcnt,
          MIN(doc_id) OVER (PARTITION BY band, k1) AS keeper
        FROM bands
      ),
      cand AS (
        SELECT DISTINCT doc_a, doc_b FROM (
          SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
          FROM sized a JOIN sized b
            ON a.band = b.band AND a.k1 = b.k1 AND a.doc_id < b.doc_id
          WHERE a.bcnt <= ${graft.ops.Blocking.DefaultBlockCap}
          UNION ALL
          SELECT keeper AS doc_a, doc_id AS doc_b
          FROM sized
          WHERE bcnt > ${graft.ops.Blocking.DefaultBlockCap}
            AND doc_id <> keeper)
      ),
      ham AS (
        SELECT c.doc_a, c.doc_b, SUM(bit_count(xor(ba.k1, bb.k1))) AS hamming
        FROM cand c
        JOIN bands ba ON ba.doc_id = c.doc_a
        JOIN bands bb ON bb.doc_id = c.doc_b AND bb.band = ba.band
        GROUP BY 1, 2
      )
      SELECT doc_a, doc_b, CAST(hamming AS BIGINT) AS hamming
      FROM ham WHERE hamming <= 3 ORDER BY 1, 2
    """))

  // ---------------------------------------------------------------------
  // x88 — audio landmark fingerprint match (constellation hashing, the
  // public Shazam shape): stub "FFT" per 32-byte window keeps the
  // top-two byte-class histogram bins (graft.ops.AudioFingerprint —
  // a real build swaps in a spectrogram peak-picker and keeps every
  // downstream step), windows pair with the next 3 windows into
  // (f1, f2, Δt) landmark hashes, and recordings match by the size of
  // their shared landmark SET — time-delta keyed, so a shared segment
  // matches wherever it sits in either recording (the property x14's
  // positional frame checksums lack). STOP-LANDMARKS — hashes carried
  // by more than max(16, N/200) recordings — are dropped from every
  // fingerprint first (the IDF analogue of Shazam's hash-entropy
  // pruning): a ubiquitous motif says nothing about any pair, and the
  // df bound also caps every inverted-index bucket BY CONSTRUCTION, so
  // the capped candidate join is exact here (the cap's star-degrade
  // only ever fires when maxDf is configured above it). Candidates
  // ride the landmark inverted index (capped equi-join, never
  // all-pairs); the shared count verifies on candidates only, so
  // caps/collisions can add or drop candidates but never corrupt a
  // count. ASCII normalization keeps the char-walking DuckDB oracle
  // byte-exact with the raw-byte stub, as in x87.
  lazy val x88 = Q(
    "x88_audio_fingerprint",
    (s, dir) => {
      import s.implicits._
      val media = docs(s, dir)
        .select($"doc_id",
          regexp_replace($"text", "[^\\x00-\\x7F]", "?")
            .cast("binary").as("media"))
        .as[graft.ops.MediaIn]
      val nDocs = corpusCount(s, dir)
      // in-row landmark extraction (landmarkRows ≡ landmarks(window-
      // Features(...)) bit-for-bit, pinned by StreamingMediaClustersSpec):
      // the per-doc fingerprint folds inside one narrow map instead of a
      // window-feature explode + keyed lead window + 3-way union +
      // distinct — two upstream shuffles of the full landmark stream
      // gone. No persist: the extraction's map side feeds the stop-
      // landmark window's one shuffle exchange, which runtime exchange
      // reuse already shares across matchPairs' subtrees (the x89
      // lesson — a persist would only add a cache round-trip).
      val lms = graft.ops.AudioFingerprint.rareLandmarks(
        graft.ops.AudioFingerprint.landmarkRows(media),
        maxDf = math.max(16L, nDocs / 200L))
      graft.ops.AudioFingerprint
        .matchPairs(lms, minShared = 8)
        .orderBy($"doc_a", $"doc_b")
    },
    Some("""
      WITH d AS (
        SELECT doc_id, regexp_replace(text, '[^\x00-\x7F]', '?', 'g') AS t
        FROM documents
      ),
      pos AS (
        SELECT doc_id, (i - 1) // 32 AS w, ord(substr(t, i, 1)) % 64 AS band
        FROM d, LATERAL (SELECT unnest(range(1, (len(t) // 32) * 32 + 1)) AS i)
      ),
      hist AS (SELECT doc_id, w, band, COUNT(*) AS c FROM pos GROUP BY 1, 2, 3),
      rk AS (
        SELECT doc_id, w, band, row_number() OVER (
          PARTITION BY doc_id, w ORDER BY c DESC, band ASC) AS rn
        FROM hist
      ),
      feat AS (
        SELECT doc_id, w AS t,
          MAX(CASE WHEN rn = 1 THEN band END) * 64 +
          COALESCE(MAX(CASE WHEN rn = 2 THEN band END),
                   MAX(CASE WHEN rn = 1 THEN band END)) AS f
        FROM rk WHERE rn <= 2 GROUP BY 1, 2
      ),
      lm AS (
        SELECT DISTINCT a.doc_id, (a.f * 4096 + b.f) * 4 + (b.t - a.t) AS lh
        FROM feat a JOIN feat b
          ON b.doc_id = a.doc_id AND b.t - a.t BETWEEN 1 AND 3
      ),
      df AS (SELECT lh, COUNT(*) AS df FROM lm GROUP BY 1),
      rare AS (
        SELECT l.doc_id, l.lh FROM lm l JOIN df USING (lh)
        WHERE df.df <= greatest(16, (SELECT COUNT(*) FROM documents) // 200)
      ),
      sh AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_shared
        FROM rare a JOIN rare b ON a.lh = b.lh AND a.doc_id < b.doc_id
        GROUP BY 1, 2
      )
      SELECT doc_a, doc_b, CAST(n_shared AS BIGINT) AS n_shared
      FROM sh WHERE n_shared >= 8 ORDER BY 1, 2
    """))

  // ---------------------------------------------------------------------
  // x89 — video frame-sequence near-dup: frame sampling (x14's fan-out
  // shape) × perceptual hashing (x87's integer-exact aHash) composed
  // into the video-dedup operator. Each consecutive 100-byte "frame"
  // gets its own 64-bit aHash (graft.ops.Multimodal.framePlanes →
  // PHash.frameHashKeys, packed as two 32-bit-range keys so no SQL
  // engine multiplies past 2^63 and hamming is two bit_count(xor)
  // terms). Frames MATCH within hamming ≤ 3 — exact hash equality
  // would miss a re-encode, whose per-frame noise flips a couple of
  // threshold-adjacent bits in most frames (where x14's sha256
  // checksums ALL diverge) — and videos near-dup by mutual coverage:
  // 1e6·(mA+mB)/(nA+nB) ≥ 0.5. The hash-level near-match relation is
  // built once over the corpus-wide DISTINCT hash table via 16-bit
  // band buckets (pigeonhole-exact at hamming ≤ 3, capped per bucket,
  // identity pairs unioned exactly); document scoring is keyed joins
  // through it — never all-pairs.
  lazy val x89 = Q(
    "x89_video_frameset_neardup",
    (s, dir) => {
      import s.implicits._
      val media = docs(s, dir)
        .select($"doc_id",
          regexp_replace($"text", "[^\\x00-\\x7F]", "?")
            .cast("binary").as("media"))
        .as[graft.ops.MediaIn]
      // in-row fused hashing (frameHashSets ≡ frameHashKeys(framePlanes)
      // per-doc sets, spec-pinned): per-frame decode + aHash packing +
      // per-doc distinct fold inside ONE narrow map — the frame-row
      // fan-out, the distinct exchange and the collect_set aggregation
      // all disappear. The one-row-per-doc set table is then persisted:
      // it feeds the bucket explode, the capped-pair window/self-join/
      // star routes and two broadcast verify builds (the broadcast
      // builds are what make the persist pay — x87's lesson; a persist
      // of the row-level fh table measured NEGATIVE because its map
      // side fed one reusable exchange)
      val fhSets = persisted(s, "x89_framesets", dir) {
        graft.ops.PHash.frameHashSets(media).toDF()
      }
      graft.ops.PHash
        .videoNeardupPairsFromSets(fhSets, maxHamming = 3,
          minCoverPpm = 500000L)
        .orderBy($"doc_a", $"doc_b")
    },
    Some(s"""
      WITH d AS (
        SELECT doc_id, regexp_replace(text, '[^\\x00-\\x7F]', '?', 'g') AS t
        FROM documents
      ),
      fr AS (
        SELECT doc_id, f, substr(t, f * 100 + 1, 100) AS ft
        FROM d, LATERAL (SELECT unnest(range(0, len(t) // 100)) AS f)
      ),
      tri AS (
        SELECT doc_id, f,
          (ord(substr(ft, i, 1)) * 961 + ord(substr(ft, i + 1, 1)) * 31
            + ord(substr(ft, i + 2, 1))) % 64 AS bin
        FROM fr, LATERAL (SELECT unnest(range(1, 99)) AS i)
      ),
      hist AS (SELECT doc_id, f, bin, COUNT(*) AS c FROM tri GROUP BY 1, 2, 3),
      bits AS (
        SELECT doc_id, f, bin // 16 AS band,
               SUM(CASE WHEN c * 64 > 98 THEN 1 << (bin % 16) ELSE 0 END) AS bv
        FROM hist GROUP BY 1, 2, 3
      ),
      bands AS (
        SELECT fr.doc_id, fr.f, bb.band, CAST(COALESCE(b.bv, 0) AS BIGINT) AS bv
        FROM fr CROSS JOIN (SELECT unnest(range(0, 4)) AS band) bb
        LEFT JOIN bits b ON b.doc_id = fr.doc_id AND b.f = fr.f
          AND b.band = bb.band
      ),
      fh AS (
        SELECT DISTINCT doc_id, k1, k2 FROM (
          SELECT doc_id, f,
            MAX(CASE WHEN band = 0 THEN bv END) * 65536
              + MAX(CASE WHEN band = 1 THEN bv END) AS k1,
            MAX(CASE WHEN band = 2 THEN bv END) * 65536
              + MAX(CASE WHEN band = 3 THEN bv END) AS k2
          FROM bands GROUP BY 1, 2)
      ),
      hbexp AS (
        SELECT DISTINCT doc_id, band, CASE band
            WHEN 0 THEN k1 // 65536 WHEN 1 THEN k1 % 65536
            WHEN 2 THEN k2 // 65536 ELSE k2 % 65536 END AS v
        FROM fh CROSS JOIN (SELECT unnest(range(0, 4)) AS band)
      ),
      hbsized AS (
        SELECT doc_id, band, v,
          COUNT(*) OVER (PARTITION BY band, v) AS bcnt,
          MIN(doc_id) OVER (PARTITION BY band, v) AS keeper
        FROM hbexp
      ),
      cand AS (
        SELECT DISTINCT doc_a, doc_b FROM (
          SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
          FROM hbsized a JOIN hbsized b ON a.band = b.band AND a.v = b.v
            AND a.doc_id < b.doc_id
          WHERE a.bcnt <= ${graft.ops.Blocking.DefaultBlockCap}
          UNION ALL
          SELECT keeper AS doc_a, doc_id AS doc_b
          FROM hbsized
          WHERE bcnt > ${graft.ops.Blocking.DefaultBlockCap}
            AND doc_id <> keeper)
      ),
      mm AS (
        SELECT c.doc_a, c.doc_b,
          COUNT(DISTINCT fa.k1 || ':' || fa.k2) AS ma,
          COUNT(DISTINCT fb.k1 || ':' || fb.k2) AS mb
        FROM cand c
        JOIN fh fa ON fa.doc_id = c.doc_a
        JOIN fh fb ON fb.doc_id = c.doc_b
        WHERE bit_count(xor(fa.k1, fb.k1)) + bit_count(xor(fa.k2, fb.k2)) <= 3
        GROUP BY 1, 2
      ),
      n AS (SELECT doc_id, COUNT(*) AS nf FROM fh GROUP BY 1)
      SELECT doc_a, doc_b,
        CAST(round(1e6 * (ma + mb) / (na.nf + nb.nf)) AS BIGINT) AS cover_ppm
      FROM mm JOIN n na ON na.doc_id = mm.doc_a
              JOIN n nb ON nb.doc_id = mm.doc_b
      WHERE round(1e6 * (ma + mb) / (na.nf + nb.nf)) >= 500000
      ORDER BY 1, 2
    """))

  // ---------------------------------------------------------------------
  // x20 — stratified sampling: per-language keep rates from a broadcast
  // config, membership decided by a deterministic integer hash of the
  // document id (Knuth multiplicative constant) — NOT rand(), so the
  // sample is reproducible run-to-run and engine-to-engine, survives
  // retries/speculative tasks, and needs no shuffle at all: the plan is
  // scan → broadcast-join(3 rows) → filter, linear at 100 TB. The id is
  // reduced mod 1e9+7 BEFORE the multiply so the product stays under
  // 2^63 for any 64-bit id — unmasked, ids past ~3.5e9 (well inside a
  // 100 TB corpus) would hit ANSI ARITHMETIC_OVERFLOW.
  lazy val x20 = Q(
    "x20_stratified_sample",
    (s, dir) => {
      import s.implicits._
      val rates = Seq(("en", 50), ("de", 20), ("zh", 20)).toDF("lang", "rate")
      docs(s, dir)
        .withColumn("bucket",
          pmod(pmod($"doc_id", lit(1000000007L)) * 2654435761L, lit(100)))
        .join(broadcast(rates), Seq("lang"), "left")
        .withColumn("rate", coalesce($"rate", lit(10)))
        .filter($"bucket" < $"rate")
        .select($"doc_id", $"lang", $"bucket")
    },
    Some("""
      SELECT doc_id, lang, ((doc_id % 1000000007) * 2654435761) % 100 AS bucket
      FROM documents
      WHERE ((doc_id % 1000000007) * 2654435761) % 100 <
        CASE lang WHEN 'en' THEN 50 WHEN 'de' THEN 20 WHEN 'zh' THEN 20
                  ELSE 10 END
    """))

  // ---------------------------------------------------------------------
  // x21 — deterministic train/val/test split: a second (salted) integer
  // hash buckets every document 80/10/10. Same no-shuffle assignment as
  // x20; the summary agg is one keyed hash-agg. Hash-based splits are
  // the only splits that stay stable when the corpus is re-read,
  // re-partitioned, or appended to — positional splits don't.
  lazy val x21 = Q(
    "x21_train_val_split",
    (s, dir) => {
      import s.implicits._
      docs(s, dir)
        .withColumn("b",
          pmod(pmod($"doc_id", lit(1000000007L)) * 1103515245L + 12345L,
            lit(100)))
        .withColumn("split",
          when($"b" < 80, "train").when($"b" < 90, "val").otherwise("test"))
        .groupBy($"split", $"lang")
        .agg(count(lit(1)).as("n_docs"),
             sum($"n_chars").cast("long").as("sum_chars"))
        .orderBy($"split", $"lang")
    },
    Some("""
      SELECT CASE WHEN b < 80 THEN 'train' WHEN b < 90 THEN 'val'
                  ELSE 'test' END AS split,
        lang, COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS sum_chars
      FROM (SELECT lang, n_chars,
              ((doc_id % 1000000007) * 1103515245 + 12345) % 100 AS b
            FROM documents)
      GROUP BY 1, 2
      ORDER BY 1, 2
    """))

  // ---------------------------------------------------------------------
  // x24 — approximate distinct (HLL++): the A3 count-distinct surface at
  // the cardinalities where exact distinct stops scaling. Sketch values
  // are engine-specific, so the oracle contract checks each engine's
  // sketch against ITS OWN exact count within a 10% band. Default rsd
  // (0.05): Spark flattens the HLL register file into aggregation-buffer
  // columns, and a tighter rsd (e.g. 0.005 → 64 Ki registers → ~6 k
  // buffer columns) degrades the hash agg to row-at-a-time buffer copies
  // — measured 28 s vs 0.4 s at sf0.1. At these group cardinalities the
  // default sketch sits in its linear-counting regime anyway (≪1% err).
  lazy val x24 = Q(
    "x24_approx_distinct",
    (s, dir) => {
      import s.implicits._
      Tables.load(s, dir, "events")
        .groupBy($"event_type")
        .agg(countDistinct($"user_id").as("exact_uv"),
             approx_count_distinct($"user_id").as("a"))
        .select($"event_type", $"exact_uv",
          (abs($"a" - $"exact_uv") <= $"exact_uv" * 0.1)
            .as("approx_within_10pct"))
        .orderBy($"event_type")
    },
    Some("""
      SELECT event_type, COUNT(DISTINCT user_id) AS exact_uv,
        abs(approx_count_distinct(user_id) - COUNT(DISTINCT user_id))
          <= COUNT(DISTINCT user_id) * 0.1 AS approx_within_10pct
      FROM events
      GROUP BY event_type
      ORDER BY event_type
    """))

  // ---------------------------------------------------------------------
  // x27 — mergeable-sketch rollup (Apache DataSketches HLL via Spark's
  // hll_sketch_agg/hll_union_agg): the pattern that makes incremental
  // distinct counting viable at 100 TB — per-day sketches are built
  // once, persisted small, and UNIONED to any coarser grain without
  // touching raw data again (a re-aggregatable UV, unlike exact
  // count-distinct which must re-scan). Sketch bytes are
  // engine-specific, so the contract mirrors x24: exact counts
  // hash-compare, each engine checks its own estimate within a band
  // (the union estimate at these cardinalities is ≪1% off).
  lazy val x27 = Q(
    "x27_hll_sketch_rollup",
    (s, dir) => {
      import s.implicits._
      val daily = Tables.load(s, dir, "events")
        .groupBy($"event_type", to_date($"ts").as("d"))
        .agg(hll_sketch_agg($"user_id").as("sk"))
      daily.groupBy($"event_type")
        .agg(count(lit(1)).as("n_days"),
             hll_sketch_estimate(hll_union_agg($"sk")).as("est"))
        .join(
          Tables.load(s, dir, "events").groupBy($"event_type")
            .agg(countDistinct($"user_id").as("exact_uv")),
          "event_type")
        .select($"event_type", $"n_days", $"exact_uv",
          (abs($"est" - $"exact_uv") <= $"exact_uv" * 0.1)
            .as("union_within_10pct"))
        .orderBy($"event_type")
    },
    Some("""
      SELECT event_type, COUNT(DISTINCT CAST(ts AS DATE)) AS n_days,
        COUNT(DISTINCT user_id) AS exact_uv,
        abs(approx_count_distinct(user_id) - COUNT(DISTINCT user_id))
          <= COUNT(DISTINCT user_id) * 0.1 AS union_within_10pct
      FROM events
      GROUP BY event_type
      ORDER BY event_type
    """))

  // ---------------------------------------------------------------------
  // x29 — source-weighted data mixing: the domain-reweighting pass a
  // training pipeline runs before tokenization (e.g. upsample curated
  // sources, downsample crawl). Weight = percent of one full copy:
  // 250 → 2 whole copies + a 50% chance of a third, 25 → keep 1 in 4.
  // The fractional draw uses its own multiplier (xxhash's 2246822519 —
  // NOT x20's 2654435761: under mod 100 an additive salt over the same
  // multiplier is just a constant shift, perfectly correlated with the
  // sampling buckets), so the mix composes independently with x20/x21
  // and stays reproducible and shuffle-free:
  // scan → broadcast(weights) → per-row copy count → explode. Output
  // fan-out is bounded by ceil(max_weight/100) — never a crossJoin.
  lazy val x29 = Q(
    "x29_weighted_mix",
    (s, dir) => {
      import s.implicits._
      val weights = Seq(("src0", 250), ("src1", 100)).toDF("source", "pct")
      docs(s, dir)
        .join(broadcast(weights), Seq("source"), "left")
        .withColumn("pct", coalesce($"pct", lit(25)))
        .withColumn("draw",
          pmod(pmod($"doc_id", lit(1000000007L)) * 2246822519L + 7919L,
            lit(100)))
        .withColumn("n_copies",
          ($"pct" / 100).cast("int") +
          when($"draw" < pmod($"pct", lit(100)), 1).otherwise(0))
        .filter($"n_copies" > 0) // sequence(1, 0) would DESCEND in Spark
        .select($"doc_id", $"source",
          explode(sequence(lit(1), $"n_copies")).as("c"))
        .select($"doc_id", $"source", $"c".cast("long").as("copy"))
    },
    Some("""
      SELECT doc_id, source, unnest(range(1, n_copies + 1)) AS copy
      FROM (
        SELECT doc_id, source,
          pct // 100 + CASE WHEN ((doc_id % 1000000007) * 2246822519 + 7919) % 100
                            < pct % 100 THEN 1 ELSE 0 END AS n_copies
        FROM (SELECT doc_id, source,
                CASE source WHEN 'src0' THEN 250 WHEN 'src1' THEN 100
                            ELSE 25 END AS pct
              FROM documents))
      WHERE n_copies > 0
    """))

  // ---------------------------------------------------------------------
  // x33 — sequence packing (the pre-tokenization batching pass: assign
  // documents to fixed-capacity context-window bins). True greedy
  // first-fit is inherently sequential; the distributed-standard
  // contract is deterministic prefix-sum packing: within each source,
  // docs pack in doc_id order and a doc's bin is its running token
  // total divided by the capacity (boundary docs may straddle — they
  // are not split; the overflow is the usual padding/truncation
  // budget). Per-source windows keep the cumsum parallel across
  // sources; at 100 TB the order key becomes a range-partitioned sort
  // key and the window stays per-partition.
  lazy val x33 = Q(
    "x33_sequence_packing",
    (s, dir) => {
      import s.implicits._
      val C = 2048
      val w = Window.partitionBy($"source").orderBy($"doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      docs(s, dir)
        .select($"doc_id", $"source",
          size(split(lower($"text"), " ")).cast("long").as("n_tokens"))
        .withColumn("cum", sum($"n_tokens").over(w))
        // greatest(·,1): a leading zero-token doc would otherwise hit
        // (-1 div C), which truncates to 0 in Spark but floors to -1 in
        // DuckDB
        .select($"doc_id", $"source", $"n_tokens",
          expr(s"(greatest(cum, 1L) - 1L) div $C").as("bin_id"))
    },
    Some("""
      SELECT doc_id, source,
        CAST(len(string_split(lower(text), ' ')) AS BIGINT) AS n_tokens,
        CAST((greatest(SUM(len(string_split(lower(text), ' ')))
            OVER (PARTITION BY source ORDER BY doc_id ROWS UNBOUNDED PRECEDING), 1) - 1)
          // 2048 AS BIGINT) AS bin_id
      FROM documents
    """))

  // ---------------------------------------------------------------------
  // x44 — heavy hitters via bounded SpaceSaving summaries
  // (functions/SpaceSavingTopK, a native TypedImperativeAggregate):
  // exact token frequency at 100 TB is an explode + groupBy — a
  // corpus-sized shuffle of every token occurrence. The sketch keeps
  // 64 counters per partition and merges them on the reduce side: one
  // narrow pass, one 64-entry row per partition shuffled, constant
  // memory. The fixture vocabulary (31 terms) is under capacity, so
  // the summary is provably exact (every err = 0) and the exact-count
  // DuckDB oracle is valid; SpaceSavingSpec pins the approximate
  // regime's bounds where capacity < distinct.
  lazy val x44 = Q(
    "x44_heavy_hitters",
    (s, dir) => {
      import s.implicits._
      import org.apache.spark.sql.GraftPlanBridge
      val toks = docs(s, dir).select(split(lower($"text"), " ").as("toks"))
      val agg = GraftPlanBridge.col(
        graft.functions.SpaceSavingTopK(GraftPlanBridge.expr($"toks"), 64)
          .toAggregateExpression())
      toks.agg(agg.as("hh"))
        .select(explode($"hh").as("h"))
        .select($"h.term".as("term"), $"h.cnt".as("cnt"))
        .orderBy($"cnt".desc, $"term")
        .limit(10)
    },
    Some("""
      WITH t AS (
        SELECT unnest(string_split(lower(text), ' ')) AS term FROM documents)
      SELECT term, CAST(COUNT(*) AS BIGINT) AS cnt
      FROM t GROUP BY term
      ORDER BY cnt DESC, term LIMIT 10
    """))

  // ---------------------------------------------------------------------
  // x45 — bloom-prefiltered decontamination (functions/BloomFilters):
  // x23's broadcast-set probe assumes the benchmark's exact shingle set
  // fits in a broadcast — at 10^9 eval shingles it does not (tens of
  // GB), but its bloom sketch at fpp 1% does (~1.2 GB; ~1.2 MB per 10^6
  // keys). Build the sketch with one bounded-state aggregation over the
  // eval slice (native TypedImperativeAggregate, bitwise-OR merge),
  // collect it as control-plane state (same tier as x18's centroids),
  // and probe map-side inside whole-stage codegen — the corpus's
  // non-contaminated majority dies BEFORE any join. The exact confirm
  // join that follows (false positives must not flag a doc) then runs
  // over candidates only; broadcast here, keyed shuffle at a scale
  // where even candidates are large. Net result is EXACT — bloom only
  // prunes — which is what makes the plain-SQL overlap oracle valid.
  lazy val x45 = Q(
    "x45_bloom_decontam",
    (s, dir) => {
      import s.implicits._
      import org.apache.spark.sql.GraftPlanBridge
      val sh = persisted(s, "x45_sh", dir) {
        docs(s, dir)
          .select($"doc_id", split(lower($"text"), " ").as("toks"))
          .select($"doc_id", explode(array_distinct(expr(TrigramExpr))).as("sh"))
      }
      val bench = sh.filter(pmod($"doc_id", lit(89)) === 0)
        .select($"sh").distinct()
      // sketch build: one narrow agg pass, one ~2.4 KB summary per
      // partition merged on the driver (expectedItems sized for the
      // fixture; a production pipeline sizes it from the eval suite)
      val bloomAgg = GraftPlanBridge.col(
        graft.functions.BloomFilterBuildAgg(
          GraftPlanBridge.expr(xxhash64($"sh")), 2000L, 0.01)
          .toAggregateExpression())
      val bloomBytes = bench.agg(bloomAgg.as("bf")).head().getAs[Array[Byte]](0)
      val probe = GraftPlanBridge.col(graft.functions.BloomMightContain(
        GraftPlanBridge.expr(lit(bloomBytes)),
        GraftPlanBridge.expr(xxhash64($"sh"))))
      sh.filter(pmod($"doc_id", lit(89)) =!= 0)
        .filter(probe) // map-side prune: no false negatives, so no loss
        .join(broadcast(bench), "sh") // exact confirm kills false positives
        .groupBy($"doc_id")
        .agg(count(lit(1)).as("n_hits"))
    },
    Some(s"""
      WITH sh AS (
        SELECT doc_id, unnest($TrigramSql) AS sh
        FROM (SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents)
      ),
      bench AS (SELECT DISTINCT sh FROM sh WHERE doc_id % 89 = 0)
      SELECT s.doc_id, COUNT(*) AS n_hits
      FROM sh s JOIN bench b ON s.sh = b.sh
      WHERE s.doc_id % 89 <> 0
      GROUP BY s.doc_id
    """))

  // ---------------------------------------------------------------------
  // x47 — per-source length quantiles via a bounded mergeable sketch
  // (functions/QuantileSketch, deterministic KLL): exact per-group
  // percentiles at 100 TB require sorting every group; the sketch keeps
  // ~capacity·log2(n/capacity) longs per partition and merges summaries
  // on the reduce side — the percentile_approx shape, built native so
  // it runs with partial/final split inside the standard aggregate
  // path. Capacity derives from the corpus count (exactSketchCapacity:
  // capacity ≥ rows, enforced — not a fixture-size convention), so no
  // compaction ever fires at any graded scale and the reported
  // quantiles are EXACTLY the nearest-rank-below order statistics —
  // which is what makes the DuckDB row_number oracle valid.
  // QuantileSketchSpec pins the compacted regime (n » capacity) to its
  // rank-error bound.
  lazy val x47 = Q(
    "x47_quantile_sketch",
    (s, dir) => {
      import s.implicits._
      import org.apache.spark.sql.GraftPlanBridge
      val agg = GraftPlanBridge.col(
        graft.functions.QuantileSketch(
          GraftPlanBridge.expr($"n_chars"), exactSketchCapacity(s, dir),
          Seq(500000L, 900000L, 990000L))
          .toAggregateExpression())
      docs(s, dir).groupBy($"source")
        .agg(agg.as("qs"))
        .select($"source", $"qs".getItem(0).as("p50"),
          $"qs".getItem(1).as("p90"), $"qs".getItem(2).as("p99"))
    },
    Some("""
      WITH o AS (
        SELECT source, CAST(n_chars AS BIGINT) AS v,
          row_number() OVER (PARTITION BY source ORDER BY n_chars) AS rn,
          COUNT(*) OVER (PARTITION BY source) AS n
        FROM documents)
      SELECT source,
        MAX(CASE WHEN rn = (500000 * (n-1)) // 1000000 + 1 THEN v END) AS p50,
        MAX(CASE WHEN rn = (900000 * (n-1)) // 1000000 + 1 THEN v END) AS p90,
        MAX(CASE WHEN rn = (990000 * (n-1)) // 1000000 + 1 THEN v END) AS p99
      FROM o GROUP BY source
    """))

  // ---------------------------------------------------------------------
  // x48 — deterministic per-source uniform sample via bottom-k-by-hash
  // (the "consistent sampling" pattern: a salted md5 assigns every doc
  // a pseudo-random rank, the k smallest per group win — reproducible
  // across runs AND across engines, unlike rand()-based sampling).
  // Rides graft's own per-key top-k physical operator
  // (plans/TopKPerKeyExec via ops/TopK.perKeyPlanned): partition-local
  // bounded heaps, shuffle ≤ k·keys·partitions rows, per-key merge —
  // the window form this replaces shuffles and sorts the ENTIRE corpus
  // to keep 5 rows per source. Same rationale as q09/q20's top-k, here
  // powering the sampling stage of a curation pipeline.
  lazy val x48 = Q(
    "x48_bottomk_sample",
    (s, dir) => {
      import s.implicits._
      val base = docs(s, dir)
        .select($"source", $"doc_id")
        .withColumn("h", md5(concat_ws(":", lit("x48"), $"doc_id")))
      graft.ops.TopK.perKeyPlanned(
          base, Seq("source"), Seq(("h", true), ("doc_id", true)), 5)
        .select($"source", $"doc_id", $"h")
    },
    Some("""
      WITH h AS (
        SELECT source, doc_id,
          md5('x48:' || CAST(doc_id AS VARCHAR)) AS h
        FROM documents),
      r AS (SELECT source, doc_id, h,
              row_number() OVER (PARTITION BY source ORDER BY h, doc_id) AS rn
            FROM h)
      SELECT source, doc_id, h FROM r WHERE rn <= 5
    """))

  // ---------------------------------------------------------------------
  // x49 — per-user event-sequence assembly (the trajectory/dialogue
  // construction step of a training-data pipeline: gather a user's
  // events in time order into one training example). One keyed shuffle
  // on user_id; the in-group order is imposed by sort_array over a
  // (time, event_id, type) struct — collect_list alone is
  // partition-order-dependent and would fail any determinism check,
  // the same trap as rand() sampling. Sequence surfaces as a joined
  // string (q24's array-flatten trick) so the driver hash-compares a
  // scalar. Ties: both engines order by the MICROSECOND-truncated
  // timestamp (Tables.load truncates Spark's nanos the same way) with
  // event_id as the unambiguous tie-break.
  lazy val x49 = Q(
    "x49_event_sequences",
    (s, dir) => {
      import s.implicits._
      Tables.load(s, dir, "events")
        .select($"user_id", $"event_id", $"event_type",
          unix_micros($"ts".cast("timestamp")).as("tus"))
        .groupBy($"user_id")
        .agg(
          count(lit(1)).as("n_events"),
          concat_ws(",", transform(
            sort_array(collect_list(struct($"tus", $"event_id", $"event_type"))),
            e => e.getField("event_type"))).as("seq"))
    },
    Some("""
      SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events,
        string_agg(event_type, ',' ORDER BY epoch_us(ts), event_id) AS seq
      FROM events GROUP BY user_id
    """))

  // ---------------------------------------------------------------------
  // x52 — padding-waste audit for length-bucketed batch shaping: pad
  // every doc's token count up to the next multiple of 64 (the
  // fixed-length batching a training job does) and report, per bucket,
  // how many tokens the padding burns. Complements x33 (which PACKS
  // sequences to avoid exactly this waste) with the measurement side.
  // Integer arithmetic only — the power-of-2 variant needs log2/pow,
  // which drift across libm builds; ceil-to-multiple is
  // ((n+63) div 64)*64 in both engines exactly. Narrow map + one
  // keyed aggregation: one shuffle of bucket-grain rows.
  lazy val x52 = Q(
    "x52_padding_waste",
    (s, dir) => {
      import s.implicits._
      docs(s, dir)
        .select($"doc_id", size(split(lower($"text"), " ")).cast("long").as("n"))
        .withColumn("bucket", expr("((n + 63) div 64) * 64"))
        .groupBy($"bucket")
        .agg(count(lit(1)).as("n_docs"),
          sum($"n").as("real_tokens"),
          sum($"bucket" - $"n").as("pad_tokens"))
        .withColumn("waste_ppm",
          expr("(1000000L * pad_tokens) div (real_tokens + pad_tokens)"))
    },
    Some("""
      WITH b AS (
        SELECT doc_id,
          CAST(len(string_split(lower(text), ' ')) AS BIGINT) AS n
        FROM documents),
      p AS (SELECT doc_id, n, ((n + 63) // 64) * 64 AS bucket FROM b)
      SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n_docs,
        CAST(SUM(n) AS BIGINT) AS real_tokens,
        CAST(SUM(bucket - n) AS BIGINT) AS pad_tokens,
        (1000000 * CAST(SUM(bucket - n) AS BIGINT))
          // CAST(SUM(bucket) AS BIGINT) AS waste_ppm
      FROM p GROUP BY bucket
    """))

  // ---------------------------------------------------------------------
  // x55 — robust outlier trim: drop documents outside the per-source
  // [p05, p95] length band — the standard "cut the truncated fragments
  // and the concatenation monsters" pass before training. The bounds
  // come from the native QuantileSketch aggregate (exact regime
  // enforced: capacity derived ≥ the corpus row count via
  // exactSketchCapacity, mirroring the oracle's exact-rank formula),
  // so the plan is one partial
  // aggregation to a per-source sketch row + a BROADCAST join back —
  // no per-source global sort of the corpus, which is what a window
  // percent_rank would cost at 100 TB.
  lazy val x55 = Q(
    "x55_outlier_trim",
    (s, dir) => {
      import s.implicits._
      import org.apache.spark.sql.GraftPlanBridge
      val d = docs(s, dir).select($"source", $"n_chars")
      val qs = GraftPlanBridge.col(
        graft.functions.QuantileSketch(
          GraftPlanBridge.expr($"n_chars"), exactSketchCapacity(s, dir),
          Seq(50000L, 950000L))
          .toAggregateExpression())
      val bounds = d.groupBy($"source").agg(qs.as("b"))
        .select($"source", $"b".getItem(0).as("lo"), $"b".getItem(1).as("hi"))
      d.join(broadcast(bounds), "source")
        .groupBy($"source", $"lo", $"hi")
        .agg(
          sum(when($"n_chars".between($"lo", $"hi"), 1L).otherwise(0L))
            .as("kept"),
          sum(when($"n_chars".between($"lo", $"hi"), 0L).otherwise(1L))
            .as("dropped"))
    },
    Some("""
      WITH q AS (
        SELECT source, CAST(n_chars AS BIGINT) AS v,
          row_number() OVER (PARTITION BY source ORDER BY n_chars) AS rn,
          COUNT(*) OVER (PARTITION BY source) AS n
        FROM documents),
      b AS (
        SELECT source,
          MAX(CASE WHEN rn = (50000 * (n-1)) // 1000000 + 1 THEN v END) AS lo,
          MAX(CASE WHEN rn = (950000 * (n-1)) // 1000000 + 1 THEN v END) AS hi
        FROM q GROUP BY source)
      SELECT d.source, b.lo, b.hi,
        CAST(SUM(CASE WHEN d.n_chars BETWEEN b.lo AND b.hi
                 THEN 1 ELSE 0 END) AS BIGINT) AS kept,
        CAST(SUM(CASE WHEN d.n_chars BETWEEN b.lo AND b.hi
                 THEN 0 ELSE 1 END) AS BIGINT) AS dropped
      FROM documents d JOIN b ON d.source = b.source
      GROUP BY d.source, b.lo, b.hi
    """))

  // ---------------------------------------------------------------------
  // x56 — equi-depth decile histogram: ntile(10) semantics WITHOUT the
  // global sort ntile costs (a single-partition window over the whole
  // corpus — the canonical 100 TB anti-pattern). Instead: one sketch
  // aggregation produces the 9 interior decile boundaries (exact
  // regime enforced via exactSketchCapacity: capacity ≥ corpus rows),
  // a 1-row broadcast carries them to every
  // partition, and bin assignment is a narrow map (count of boundaries
  // strictly below the value — ties land in the lower bin, a pure
  // function of the value so partial-agg splits can't change results).
  // This is also exactly how a CBO builds equi-depth column histograms.
  // NOTE: bins are boundary-defined, not forced-equal-count — duplicate
  // boundary values merge bins (deterministically) where ntile would
  // split ties arbitrarily.
  lazy val x56 = Q(
    "x56_equidepth_deciles",
    (s, dir) => {
      import s.implicits._
      import org.apache.spark.sql.GraftPlanBridge
      val d = docs(s, dir).select($"n_chars")
      val qs = GraftPlanBridge.col(
        graft.functions.QuantileSketch(
          GraftPlanBridge.expr($"n_chars"), exactSketchCapacity(s, dir),
          (1L to 9L).map(_ * 100000L)).toAggregateExpression())
      val bounds = d.agg(qs.as("b"))
      d.crossJoin(broadcast(bounds))
        .withColumn("decile",
          (lit(1) + size(filter($"b", x => x < $"n_chars"))).cast("long"))
        .groupBy($"decile")
        .agg(count(lit(1)).as("n_docs"),
          min($"n_chars").as("min_chars"),
          max($"n_chars").as("max_chars"))
    },
    Some("""
      WITH q AS (
        SELECT CAST(n_chars AS BIGINT) AS v,
          row_number() OVER (ORDER BY n_chars) AS rn,
          COUNT(*) OVER () AS n
        FROM documents),
      b AS (
        SELECT MAX(CASE WHEN rn = (i * 100000 * (n-1)) // 1000000 + 1
                   THEN v END) AS bv
        FROM q CROSS JOIN (SELECT unnest(range(1, 10)) AS i) g
        GROUP BY i),
      d2 AS (
        SELECT n_chars,
          1 + (SELECT COUNT(*) FROM b WHERE b.bv < d.n_chars) AS decile
        FROM documents d)
      SELECT CAST(decile AS BIGINT) AS decile, COUNT(*) AS n_docs,
        MIN(n_chars) AS min_chars, MAX(n_chars) AS max_chars
      FROM d2 GROUP BY 1
    """))

  // ---------------------------------------------------------------------
  // x69 — salted skew join (ops/SkewJoin.saltedJoin, the manual remedy
  // for hot keys AQE's SMJ splitting can't reach): the big side
  // scatters each key across 8 deterministic sub-keys, the dim side
  // replicates ×8, and the join keys on (key, salt) — shuffle
  // partitions bound at |key|×salts instead of one straggler per hot
  // key. Salting is a pure redistribution, so the oracle is the PLAIN
  // join: a green row proves rows are neither lost nor duplicated by
  // the scatter/replicate dance, which is exactly the bug class manual
  // salting invites. ScaleJoinSpec pins the (key, salt) shuffle shape.
  lazy val x69 = Q(
    "x69_salted_skew_join",
    (s, dir) => {
      import s.implicits._
      val big = Tables.load(s, dir, "events")
        .select($"user_id", $"event_type", $"value")
      val dim = Tables.load(s, dir, "orders")
        .groupBy($"o_custkey").agg(count(lit(1)).as("n_orders"))
        .withColumnRenamed("o_custkey", "user_id")
      graft.ops.SkewJoin.saltedJoin(big, dim, "user_id", salts = 8)
        .groupBy($"event_type")
        .agg(count(lit(1)).as("n_events"),
          Q.dsum($"value").as("sum_value"),
          sum($"n_orders").as("sum_orders"))
        .orderBy($"event_type")
    },
    Some("""
      SELECT event_type, COUNT(*) AS n_events,
        CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value,
        CAST(SUM(n_orders) AS BIGINT) AS sum_orders
      FROM events e
      JOIN (SELECT o_custkey AS user_id, COUNT(*) AS n_orders
            FROM orders GROUP BY o_custkey) d USING (user_id)
      GROUP BY event_type
      ORDER BY event_type
    """))

  // ---------------------------------------------------------------------
  // x71 — the generalized salted join under REAL skew: the big side is
  // events with three hot users amplified ×21 (a deterministic,
  // SQL-expressible stand-in for the one-crawler-dominates-the-batch
  // shape), the dim side deliberately misses some keys, and the join is
  // a LEFT join through SkewJoin.saltedJoinAuto — salt count measured
  // from the key histogram (hot share ≈ hottest·P/total, capped), not
  // guessed. The oracle is the PLAIN left join over the same amplified
  // input, so a green row proves (a) left-join null-extension is exact
  // under salting (one null row per unmatched big row, never per salt)
  // and (b) the adaptive scatter neither loses nor duplicates matches.
  // ScaleJoinSpec pins the derived-salts behavior and the (key, salt)
  // exchange shape; right/full outer are rejected by design (an
  // unmatched SMALL key would null-extend once per salt).
  lazy val x71 = Q(
    "x71_salted_skew_left_join",
    (s, dir) => {
      import s.implicits._
      val ev0 = Tables.load(s, dir, "events")
        .select($"user_id", $"event_type", $"value")
      // every 50th user's events replicated ×20 more → hot stripe
      val hot = ev0.filter($"user_id" % 50 === 0)
        .withColumn("__rep", explode(sequence(lit(1), lit(20))))
        .drop("__rep")
      val big = ev0.unionByName(hot)
      val dim = Tables.load(s, dir, "orders")
        .filter($"o_custkey" % 3 =!= 0) // some users stay unmatched
        .groupBy($"o_custkey").agg(count(lit(1)).as("n_orders"))
        .withColumnRenamed("o_custkey", "user_id")
      graft.ops.SkewJoin.saltedJoinAuto(big, dim, "user_id", joinType = "left")
        .groupBy($"event_type")
        .agg(count(lit(1)).as("n_events"),
          sum(when($"n_orders".isNull, 1L).otherwise(0L)).as("n_unmatched"),
          sum($"n_orders").as("sum_orders"))
        .orderBy($"event_type")
    },
    Some("""
      WITH hot AS (
        SELECT e.user_id, e.event_type, e.value
        FROM events e CROSS JOIN generate_series(1, 20) g
        WHERE e.user_id % 50 = 0),
      big AS (
        SELECT user_id, event_type, value FROM events
        UNION ALL
        SELECT user_id, event_type, value FROM hot),
      d AS (
        SELECT o_custkey AS user_id, COUNT(*) AS n_orders
        FROM orders WHERE o_custkey % 3 <> 0 GROUP BY o_custkey)
      SELECT event_type, COUNT(*) AS n_events,
        CAST(SUM(CASE WHEN n_orders IS NULL THEN 1 ELSE 0 END) AS BIGINT)
          AS n_unmatched,
        CAST(SUM(n_orders) AS BIGINT) AS sum_orders
      FROM big LEFT JOIN d ON big.user_id = d.user_id
      GROUP BY event_type
      ORDER BY event_type
    """))

  // ---------------------------------------------------------------------
  // x91 — deterministic global shuffle-shard: the "shuffle 100 TB once
  // for training" operator. Training runs read the corpus in a global
  // pseudo-random order, split into fixed shards; doing this with a real
  // RNG or a positional sort is non-reproducible (re-reads, appends, or
  // a different partitioning reorder everything). The hash-shuffle form
  // is the production answer [same seeded-hash discipline as x20/x21]:
  // each doc gets a seeded 60-bit key h = md5("shuffle42:" || doc_id),
  // shard = h mod S, and its position within the shard is its rank by
  // (h, doc_id). Properties the spec pins: every doc appears exactly
  // once, positions are contiguous 1..|shard|, the assignment of
  // EXISTING docs is invariant under corpus appends (only ranks behind
  // new keys shift — no reshuffle of shard membership), and a re-run is
  // bit-identical.
  //
  // Scale shape: ONE hash exchange on `shard` + an in-partition sort —
  // exactly the physical plan a distributed shard-writer wants (the
  // window's rank streams over the sorted run; Spark's WindowExec
  // spills per-group state, and the real knob is S: at 100 TB you run
  // S ≈ corpus_bytes / 1 GiB so each sorted shard is one well-sized
  // output file — S here is 16 only because the fixture is 500 rows).
  // No driver-side state, no global sort, no RNG.
  lazy val x91 = Q(
    "x91_shuffle_shard",
    (s, dir) => {
      import s.implicits._
      val S = 16L
      docs(s, dir)
        .select($"doc_id",
          conv(substring(md5(concat(lit("shuffle42:"), $"doc_id")), 1, 15),
            16, 10).cast("long").as("h"))
        .withColumn("shard", pmod($"h", lit(S)))
        .withColumn("pos",
          row_number().over(
            Window.partitionBy($"shard").orderBy($"h", $"doc_id"))
            .cast("long"))
        .select($"shard", $"pos", $"doc_id", $"h")
    },
    Some("""
      SELECT h % 16 AS shard,
        CAST(row_number() OVER (PARTITION BY h % 16 ORDER BY h, doc_id)
          AS BIGINT) AS pos,
        doc_id, h
      FROM (SELECT doc_id,
              ('0x' || substr(md5('shuffle42:' || doc_id), 1, 15))::BIGINT AS h
            FROM documents)
    """))

}
