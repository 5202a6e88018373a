package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.core.{ParquetFooter, Tables}

/** Deduplication family: exact, MinHash-LSH, SimHash,
  * n-gram-Jaccard, edit-distance, span, semantic and incremental
  * near-dup; connected-component cluster labels and the apply/
  * keep-best/funnel/drift/leakage-free-split consumers.
  *
  * Split out of the single `Extensions` object along its family seams
  * (the object had grown to 5k lines); mixed back into [[Extensions]],
  * whose self-type gives every family access to the shared corpus /
  * persist / sketch-capacity helpers. Members are `lazy val`s so
  * cross-family references in oracle-SQL interpolations can never hit
  * a trait-initialization-order gap.
  */
private[queries] trait ExtensionsDedup { this: Extensions.type =>
  // ---------------------------------------------------------------------
  // x01 — exact dedup: sha256 over normalized text (lowercase, trimmed,
  // whitespace-collapsed), keep-first by doc_id. One hash-shuffle on the
  // fingerprint; at 100 TB this is the standard first dedup pass.
  lazy val x01 = Q(
    "x01_exact_dedup",
    (s, dir) => {
      import s.implicits._
      docs(s, dir)
        .withColumn("fingerprint", Q.normFingerprint($"text"))
        .groupBy($"fingerprint")
        .agg(min($"doc_id").as("keeper_doc_id"),
             count(lit(1)).as("n_copies"))
    },
    Some("""
      SELECT sha256(regexp_replace(trim(lower(text)), '\s+', ' ', 'g')) AS fingerprint,
             MIN(doc_id) AS keeper_doc_id, COUNT(*) AS n_copies
      FROM documents
      GROUP BY 1
    """))

  // ---------------------------------------------------------------------
  // x02 — MinHash + LSH near-dup detection, the scale path:
  //   shingle (word 3-grams) → ONE md5 per shingle → 60-bit int → K
  //   XOR-seeded minhashes → B bands → bucket equi-join → exact Jaccard
  //   verify on candidates only (by integer hash, not by string).
  // One real hash per shingle with cheap XOR permutations keeps the
  // signature pass bandwidth-bound instead of md5-bound; word-trigram
  // shingles keep bucket cardinality high so band buckets stay small
  // (candidates ≈ true near-dups, not O(n²)).
  // MinHash machinery lives in [[graft.ops.MinHash]] — one definition
  // shared with the streaming detector (StreamingNearDup) so batch and
  // stream provably bucket identically. Local aliases keep the oracle
  // string builders below readable.
  private[queries] lazy val K = graft.ops.MinHash.K
  private[queries] lazy val B = graft.ops.MinHash.B
  private[queries] lazy val TrigramExpr: String = graft.ops.MinHash.TrigramExpr
  private[queries] lazy val Seeds: Seq[Long] = graft.ops.MinHash.Seeds
  /** The DuckDB mirror over a `t` token list (distinct trigram list). */
  private[queries] lazy val TrigramSql: String =
    "list_distinct(list_transform(range(1, greatest(len(t) - 1, 1)), " +
    "i -> t[i] || '_' || t[i+1] || '_' || t[i+2]))"

  /** Per-doc PACKED distinct shingle-hash arrays (documents are
    * length-bounded, so the per-doc set is too), persisted once per
    * (session, dir) — the fingerprint table a real pipeline
    * materializes; feeds x02/x28/x36 and the incremental x37. The
    * packed form makes the K-signature a pure map — array_min over K
    * XOR'd copies, zero shuffle before the band join — and candidate
    * verification an array_intersect over the (tiny) surviving pair
    * set, instead of an exploded fact-sized shingle table feeding a
    * groupBy plus a 3-way self-join. zip_with over shifted slices,
    * NOT transform with element_at(toks, i) lambdas: the lambda form
    * re-evaluates its captured array per generated row (~15x slower
    * measured), and slice(_, _, 0) is empty for short docs where
    * sequence(1, 0) would descend into element_at(toks, 0) crashes. */
  private[queries] def shingleHashes(s: SparkSession, dir: String): DataFrame =
    persisted(s, "x02_hashes", dir) {
      graft.ops.MinHash.shingleHashes(docs(s, dir))
    }

  /** K XOR-permuted minhashes folded into B banded keys per doc —
    * (doc_id, band, k1, k2), one row per band. A pure map over the
    * packed hash arrays (array_min per seed), so band generation never
    * shuffles; only the band equi-join does. */
  private[queries] def minhashBands(hs: DataFrame): DataFrame =
    graft.ops.MinHash.bands(hs)

  /** The MinHash+LSH near-dup pair pipeline (doc_a < doc_b, exact
    * Jaccard ≥ 0.5 verified on candidates): x02's body, shared with
    * x28's cluster assignment. The verified pair table is persisted —
    * like the fingerprint table, a real pipeline materializes it once
    * and both the report (x02) and the clustering (x28) read it. */
  private[queries] def neardupPairs(s: SparkSession, dir: String): DataFrame =
    persisted(s, "x02_pairs", dir) {
      import s.implicits._
      val hs = shingleHashes(s, dir)
      val bands = minhashBands(hs)
      // Candidate pairs through the capped band join ([[graft.ops
      // .Blocking]]): identical to the plain banded self-join while
      // every band bucket holds ≤ cap docs, and degrading an oversized
      // boilerplate bucket to star pairs instead of |bucket|² ones.
      // The SQL oracle mirrors the degrade exactly (sizedbands/cand in
      // NeardupPairsSqlCtes), so the compare holds at any scale — not
      // just while fixture buckets stay under the cap.
      val cand = graft.ops.Blocking.cappedBandPairs(bands)
      // Exact-Jaccard verification on candidates only: join the packed
      // hash sets to the (tiny) pair set and intersect in place. No
      // exploded join, no groupBy; a pair with zero overlap yields
      // ni = 0 naturally instead of needing a left join + fill.
      cand.join(hs.select($"doc_id".as("doc_a"), $"hs".as("ha")), "doc_a")
        .join(hs.select($"doc_id".as("doc_b"), $"hs".as("hb")), "doc_b")
        .withColumn("ni", size(array_intersect($"ha", $"hb")).cast("long"))
        .withColumn("jaccard_ppm",
          round(lit(1e6) * $"ni" / (size($"ha") + size($"hb") - $"ni")).cast("long"))
        .filter($"jaccard_ppm" >= 500000L)
        .select($"doc_a", $"doc_b", $"jaccard_ppm")
  }

  /** x28's cluster-label table, STAGED to parquet once per dataset
    * version ([[graft.ops.Staging]]) — the materialized-intermediate
    * contract: detection → clustering is built and published once, and
    * the composition queries (x36 keep-list apply, x43 keep-best, x65
    * survivorship funnel) each pay one scan of the (tiny: clustered
    * docs only) label table instead of re-running the whole
    * shingle→minhash→band-join→contraction pipeline per
    * invocation. x28 itself still builds from source every time — one
    * query keeps the honest build cost visible on the bench. The build
    * goes through x28's in-session persisted pipeline, so within one
    * session staging adds only the parquet write. */
  private[queries] def stagedClusters(s: SparkSession, dir: String): DataFrame = {
    val path = graft.ops.Staging.ensure("x28_labels", dir,
      Seq("documents"))(x28.run(s, dir))
    ParquetFooter.read(s, path)
  }

  /** Oracle CTE prefix — per-doc shingle hashes, minhash signatures,
    * banded keys — shared by the symmetric pair chain below and the
    * asymmetric incremental x37. */
  private[queries] lazy val MinhashSigSqlCtes: String = s"""toks AS (
        SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents
      ),
      sh AS (
        SELECT doc_id,
          ('0x' || substr(md5(sh), 1, 15))::BIGINT AS h
        FROM (
          SELECT doc_id, unnest($TrigramSql) AS sh
          FROM toks)
      ),
      sig AS (
        SELECT doc_id, ${Seeds.zipWithIndex.map { case (sd, i) => s"min(xor(h, $sd)) AS h$i" }.mkString(", ")},
          COUNT(*) AS n
        FROM sh GROUP BY doc_id
      ),
      bands AS (
        ${(0 until B).map(b => s"SELECT doc_id, $b AS band, h${2 * b} AS k1, h${2 * b + 1} AS k2 FROM sig").mkString(" UNION ALL ")}
      )"""

  /** The oracle CTE chain producing the same `pairs`, shared by the x02
    * and x28 oracles (goes inside a WITH [RECURSIVE] list). */
  private[queries] lazy val NeardupPairsSqlCtes: String = s"""$MinhashSigSqlCtes,
      sizedbands AS (
        SELECT doc_id, band, k1, k2,
          COUNT(*) OVER (PARTITION BY band, k1, k2) AS bcnt,
          MIN(doc_id) OVER (PARTITION BY band, k1, k2) AS keeper
        FROM bands
      ),
      cand AS (
        -- mirrors graft.ops.Blocking.cappedBandPairs EXACTLY (<= cap:
        -- all pairs; > cap: min-doc star), so the compare stays exact
        -- at any scale — a plain pair join diverged at the x100 probe
        -- corpus (100 near-dup variants per doc overflow the 64-doc
        -- signature buckets; sf0.1 and x10 stay under it). Same fix,
        -- same round, as the x87/x89 media oracles.
        SELECT DISTINCT doc_a, doc_b FROM (
          SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
          FROM sizedbands a JOIN sizedbands b
            ON a.band = b.band AND a.k1 = b.k1 AND a.k2 = b.k2
               AND a.doc_id < b.doc_id
          WHERE a.bcnt <= ${graft.ops.Blocking.DefaultBlockCap}
          UNION ALL
          SELECT keeper AS doc_a, doc_id AS doc_b
          FROM sizedbands
          WHERE bcnt > ${graft.ops.Blocking.DefaultBlockCap}
            AND doc_id <> keeper)
      ),
      sizes AS (SELECT doc_id, n FROM sig),
      inter AS (
        SELECT c.doc_a, c.doc_b, COUNT(*) AS ni
        FROM cand c
        JOIN sh ta ON ta.doc_id = c.doc_a
        JOIN sh tb ON tb.doc_id = c.doc_b AND tb.h = ta.h
        GROUP BY c.doc_a, c.doc_b
      ),
      pairs AS (
        SELECT c.doc_a, c.doc_b,
          CAST(round(1e6 * COALESCE(i.ni, 0) / (sa.n + sb.n - COALESCE(i.ni, 0))) AS BIGINT) AS jaccard_ppm
        FROM cand c
        LEFT JOIN inter i ON i.doc_a = c.doc_a AND i.doc_b = c.doc_b
        JOIN sizes sa ON sa.doc_id = c.doc_a
        JOIN sizes sb ON sb.doc_id = c.doc_b
        WHERE round(1e6 * COALESCE(i.ni, 0) / (sa.n + sb.n - COALESCE(i.ni, 0))) >= 500000
      )"""

  /** [[NeardupPairsSqlCtes]] extended with the transitive-closure
    * labeling (`lab(doc_id, cluster_rep)` — component minima, x28's
    * rule). Requires WITH RECURSIVE. Shared by the x65 funnel and the
    * x93 curation funnel so their near-dup stages are one definition. */
  private[queries] lazy val NeardupLabelSqlCtes: String =
    s"""$NeardupPairsSqlCtes,
      edges AS (
        SELECT doc_a AS src, doc_b AS dst FROM pairs
        UNION
        SELECT doc_b, doc_a FROM pairs
      ),
      reach(src, dst) AS (
        SELECT src, dst FROM edges
        UNION
        SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
      ),
      lab AS (
        SELECT src AS doc_id, LEAST(src, MIN(dst)) AS cluster_rep
        FROM reach GROUP BY src
      )"""

  lazy val x02 = Q(
    "x02_minhash_lsh_neardup",
    (s, dir) => neardupPairs(s, dir)
      .orderBy(col("doc_a"), col("doc_b")),
    Some(s"""
      WITH $NeardupPairsSqlCtes
      SELECT doc_a, doc_b, jaccard_ppm FROM pairs ORDER BY 1, 2
    """))

  // ---------------------------------------------------------------------
  // x03 — SimHash document fingerprint (32-bit): per distinct token,
  // md5 → 32-bit int; per bit, sum of ±1 over tokens; fingerprint has
  // bit j set iff the sum is positive. Narrow map + one keyed agg; near
  // -dup candidates would then bucket on fingerprint prefixes.
  lazy val x03 = Q(
    "x03_simhash",
    (s, dir) => {
      import s.implicits._
      val toks = docs(s, dir)
        .select($"doc_id", explode(array_distinct(split(lower($"text"), " "))).as("tok"))
        .filter(length($"tok") > 0)
        .withColumn("h", conv(substring(md5($"tok"), 1, 8), 16, 10).cast("long"))
      val bitSums = (0 until 32).map(j =>
        sum(shiftright($"h", j).bitwiseAND(1) * 2 - 1).as(s"b$j"))
      val fp = (0 until 32).map(j =>
        when(col(s"b$j") > 0, lit(1L << j)).otherwise(lit(0L))).reduce(_ + _)
      toks.groupBy($"doc_id").agg(bitSums.head, bitSums.tail: _*)
        .select($"doc_id", fp.as("simhash"))
    },
    Some(s"""
      WITH toks AS (
        SELECT doc_id, unnest(list_distinct(string_split(lower(text), ' '))) AS tok
        FROM documents
      ), hashed AS (
        SELECT doc_id, ('0x' || substr(md5(tok), 1, 8))::BIGINT AS h
        FROM toks WHERE len(tok) > 0
      ), bits AS (
        SELECT doc_id, ${(0 until 32).map(j => s"SUM(((h >> $j) & 1) * 2 - 1) AS b$j").mkString(", ")}
        FROM hashed GROUP BY doc_id
      )
      SELECT doc_id,
        ${(0 until 32).map(j => s"CASE WHEN b$j > 0 THEN ${1L << j} ELSE 0 END").mkString(" + ")} AS simhash
      FROM bits
    """))

  // ---------------------------------------------------------------------
  // x04 — n-gram (word bigram) Jaccard similarity over BLOCKED candidate
  // pairs: blocking key = (source, lang), plus a doc_id-distance bound so
  // the pair set stays linear in corpus size. The blocked-pairs pattern
  // is how pairwise similarity survives 100 TB; the block key would be a
  // cheap cluster id (LSH bucket, URL host, …) in production.
  lazy val x04 = Q(
    "x04_ngram_jaccard_blocked",
    (s, dir) => {
      import s.implicits._
      val d = docs(s, dir)
        // materialize the token array once: a split() inside the
        // transform lambda would re-tokenize per gram (O(tokens²))
        .select($"doc_id", $"source", $"lang", split(lower($"text"), " ").as("toks"))
        .select($"doc_id", $"source", $"lang",
          // zip_with over shifted slices — same formulation (and the
          // same short-doc safety + speed rationale) as x02's shingles
          array_distinct(expr(
            "zip_with(slice(toks, 1, greatest(size(toks) - 1, 0)), " +
            "slice(toks, 2, greatest(size(toks) - 1, 0)), (x, y) -> concat(x, '_', y))"))
            .as("grams"))
        // pipeline barrier on the block key: without it CollapseProject
        // inlines the gram transform into the join's output projection
        // and recomputes it per PAIR (O(pairs·tokens)) instead of per
        // doc; the exchange also pre-partitions both join sides
        .repartition(col("source"), col("lang"))
      // Candidate pairs with ONLY the cheap blocking conditions in the
      // join, then an optimizer fence (persist) before scoring: without
      // it Catalyst pushes the jaccard threshold into the join condition
      // and orders it BEFORE the cheap distance conjuncts, evaluating
      // array_intersect for every hash-matched pair instead of the few
      // survivors.
      val pairs = persisted(s, "x04_pairs", dir) {
        d.as("a").join(d.as("b"),
            col("a.source") === col("b.source") && col("a.lang") === col("b.lang") &&
            col("a.doc_id") < col("b.doc_id") &&
            col("b.doc_id") - col("a.doc_id") <= 20)
          .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
            col("a.grams").as("ga"), col("b.grams").as("gb"))
      }
      pairs
        .select($"doc_a", $"doc_b",
          size(array_intersect($"ga", $"gb")).as("ni"),
          size(array_union($"ga", $"gb")).as("nu"))
        // greatest(nu,1): two empty-gram docs in one block would hit
        // ANSI DIVIDE_BY_ZERO; with the guard the pair scores 0 and is
        // filtered, matching the oracle's NaN-exclusion
        .withColumn("jaccard_ppm",
          round(lit(1e6) * $"ni" / greatest($"nu", lit(1))).cast("long"))
        .filter($"jaccard_ppm" >= 100000L)
        .select($"doc_a", $"doc_b", $"jaccard_ppm")
        .orderBy($"doc_a", $"doc_b")
    },
    Some("""
      WITH g AS (
        SELECT doc_id, source, lang,
          list_distinct(list_transform(
            range(1, greatest(len(string_split(lower(text), ' ')), 1)),
            i -> string_split(lower(text), ' ')[i] || '_' || string_split(lower(text), ' ')[i+1])) AS grams
        FROM documents
      )
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        CAST(round(1e6 * len(list_intersect(a.grams, b.grams)) /
             (len(a.grams) + len(b.grams) - len(list_intersect(a.grams, b.grams)))) AS BIGINT) AS jaccard_ppm
      FROM g a JOIN g b
        ON a.source = b.source AND a.lang = b.lang
       AND a.doc_id < b.doc_id AND b.doc_id - a.doc_id <= 20
      WHERE round(1e6 * len(list_intersect(a.grams, b.grams)) /
            (len(a.grams) + len(b.grams) - len(list_intersect(a.grams, b.grams)))) >= 100000
      ORDER BY doc_a, doc_b
    """))

  /** Cosine similarity between two double-array columns — the shared
    * [[graft.ops.IvfKit]] formulation (left-to-right fold, NULL on
    * zero norm), single-sourced so the persisted index and this query
    * layer can never drift apart. */
  private[queries] def cosine(a: Column, b: Column): Column = graft.ops.IvfKit.cosine(a, b)

  /** Native codegen'd cosine over RAW `array<float>` columns
    * (functions/VecCosine planted via the plan bridge — no function
    * registry needed, so it works in the plain Verify/Bench sessions).
    * One fused pass, no intermediate arrays, whole-stage codegen —
    * replaces [[cosine]]'s interpreted HOF chain in the pair-scoring
    * hot loops (x05/x06/x13/x39), where the interpreted form measured
    * ~10x slower (x39: 10.1 s warm → sub-second). Bit-parity with
    * [[cosine]] on float inputs is pinned by VecCosineSpec: both
    * accumulate left-to-right in double and divide dot by the sqrt
    * product. Zero-norm gives NaN in the fused loop; the isnan guard
    * maps it to NULL to match [[cosine]]'s when() semantics. [[cosine]]
    * remains for DOUBLE-array call sites (x12's decimal-derived
    * centroids), which VecCosine's float-only contract rejects. */
  private[queries] def cosineF(a: Column, b: Column): Column = {
    import org.apache.spark.sql.GraftPlanBridge
    val c = GraftPlanBridge.col(graft.functions.VecCosine(
      GraftPlanBridge.expr(a), GraftPlanBridge.expr(b)))
    when(!isnan(c), c)
  }

  // ---------------------------------------------------------------------
  // x13 — embedding-cosine near-duplicate pairs: the semantic-dedup
  // complement to x02's lexical MinHash. Candidates come from B=4
  // INDEPENDENT 8-bit sign-bucket LSH bands (disjoint dimension sets,
  // OR'd by a union + distinct — the classic banding construction, same
  // as x02's MinHash bands). A single 8-bit band catches a cos≥0.9 pair
  // with p ≈ 0.856⁸ ≈ 0.29; four bands lift recall to 1-(1-0.29)⁴ ≈
  // 0.75 while random pairs still collide at only ~B/256, so candidates
  // stay ~n²/64 — an equi-join on the (band, bucket) key, never a
  // crossJoin. Norms are precomputed per vector; per-pair work is one
  // dot product. Pairs ≥ 0.9 become (keeper, dup) edges — keeper =
  // lower vec_id, the same keep-first rule as x01. Recall vs a single
  // band is asserted on planted near-dups in ExtensionsSemanticsSpec.
  /** Band b reads the 8 sign bits at dims b*16+1, b*16+3, …, b*16+15
    * (disjoint across bands, covering 32 of the 64 dims). */
  private[graft] lazy val X13Bands: Seq[Seq[Int]] =
    (0 until 4).map(b => (0 until 8).map(k => b * 16 + 2 * k + 1))

  lazy val x13 = Q(
    "x13_embedding_neardup",
    (s, dir) => {
      import s.implicits._
      def bucket(v: Column, dims: Seq[Int]): Column = concat(
        dims.map(i =>
          when(element_at(v, i) >= 0, lit("1")).otherwise(lit("0"))): _*)
      // raw float vectors through the banded self-join (half the
      // shuffle bytes of the double cast), scored by the fused native
      // expression — norms fold into the single codegen'd pass instead
      // of a precomputed column each side carries
      val e = emb(s, dir)
        .select($"vec_id", $"embedding", explode(array(
          X13Bands.zipWithIndex.map { case (dims, b) =>
            struct(lit(b).as("band"), bucket($"embedding", dims).as("bucket")) }: _*)).as("bb"))
        .select($"vec_id", $"embedding",
          $"bb.band".as("band"), $"bb.bucket".as("bucket"))
      e.as("a").join(e.as("b"),
          col("a.band") === col("b.band") && col("a.bucket") === col("b.bucket") &&
          col("a.vec_id") < col("b.vec_id"))
        .select(col("a.vec_id").as("keeper_id"), col("b.vec_id").as("dup_id"),
          round(lit(1e6) * cosineF(col("a.embedding"), col("b.embedding")))
            .cast("long").as("cos_ppm"))
        .filter($"cos_ppm" >= 900000L)
        .distinct()  // a pair may collide in several bands — emit once
        .orderBy($"keeper_id", $"dup_id")
    },
    Some(s"""
      WITH e AS (
        SELECT vec_id, embedding::DOUBLE[] AS v,
          sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS norm,
          ${X13Bands.zipWithIndex.map { case (dims, b) =>
            "(" + dims.map(i => s"CASE WHEN embedding[$i] >= 0 THEN '1' ELSE '0' END")
              .mkString(" || ") + s") AS bucket$b" }.mkString(", ")}
        FROM embeddings
      ),
      banded AS (
        ${X13Bands.indices.map(b =>
          s"SELECT vec_id, v, norm, $b AS band, bucket$b AS bucket FROM e")
          .mkString(" UNION ALL ")}
      )
      SELECT DISTINCT keeper_id, dup_id, cos_ppm FROM (
        SELECT a.vec_id AS keeper_id, b.vec_id AS dup_id,
          CAST(round(1e6 * (list_dot_product(a.v, b.v) / (a.norm * b.norm))) AS BIGINT) AS cos_ppm
        FROM banded a JOIN banded b
          ON a.band = b.band AND a.bucket = b.bucket AND a.vec_id < b.vec_id)
      WHERE cos_ppm >= 900000
      ORDER BY keeper_id, dup_id
    """))

  // ---------------------------------------------------------------------
  // x28 — dedup cluster assignment: near-dup PAIRS (x02) become
  // connected-component CLUSTERS, each doc labeled with its component's
  // min doc_id (the canonical keeper a dedup pass retains). The labels
  // come from [[neardupLabels]], the same table x73 reads; x28 is the
  // name the dedup consumers (stagedClusters → x36/x43/x65/x77/x93)
  // and the scale probe build on. The oracle computes the same fixpoint
  // as a recursive transitive closure.
  /** Connected-components oracle over the near-dup pair graph —
    * recursive transitive closure to the per-node component minimum.
    * Shared verbatim by x28, x73 and x74: an independent fixpoint
    * (SQL closure, not contraction) that each row is graded against. */
  private[queries] lazy val CcOracleSql: String = s"""
      WITH RECURSIVE $NeardupPairsSqlCtes,
      edges AS (
        SELECT doc_a AS src, doc_b AS dst FROM pairs
        UNION
        SELECT doc_b, doc_a FROM pairs
      ),
      reach(src, dst) AS (
        SELECT src, dst FROM edges
        UNION
        SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
      )
      SELECT src AS doc_id, LEAST(src, MIN(dst)) AS cluster_rep
      FROM reach GROUP BY src
    """

  /** Component-minimum labels `(id, rep)` of the near-dup pair graph,
    * by [[graft.ops.ConnectedComponents.starContraction]] (Kiveris et
    * al., SoCC 2014), persisted once per (session, dir): x28 and x73
    * are two registry names over this one table. */
  private def neardupLabels(s: SparkSession, dir: String): DataFrame =
    persisted(s, "neardup_labels", dir) {
      graft.ops.ConnectedComponents.starContraction(
        neardupPairs(s, dir).select(col("doc_a").as("a"), col("doc_b").as("b")))
    }

  lazy val x28 = Q(
    "x28_dedup_clusters",
    (s, dir) => {
      import s.implicits._
      neardupLabels(s, dir).select($"id".as("doc_id"), $"rep".as("cluster_rep"))
    },
    Some(CcOracleSql))

  // ---------------------------------------------------------------------
  // x31 — edit-distance near-dup (fuzzy dedup, the character-level
  // complement of x02's token-level MinHash): candidate pairs come from
  // prefix blocking — docs sharing their first 16 normalized chars —
  // and only those pairs pay the banded levenshtein. Pair generation
  // goes through [[graft.ops.Blocking.cappedPrefixPairs]]: the block
  // key is (16-char prefix, length bucket of width threshold+1) with
  // ±1-bucket expansion — semantically free pruning, since a length
  // delta past the threshold already bounds the distance out — plus
  // the per-block cap that keeps a boilerplate-skewed corpus from
  // making any one block quadratic. The oracle mirrors
  // [[graft.ops.Blocking.cappedPrefixPairs]] EXACTLY — under-cap cells
  // pair across ±1 length buckets, over-cap cells star to their
  // min-doc keeper and leave the neighbor join entirely — so the
  // compare is exact at any scale, not just while fixture blocks stay
  // under the cap (the x02/x87 round-17 lesson applied here before it
  // could bite).
  // x31's edit-distance threshold — ONE definition interpolated into
  // the Spark call sites AND the oracle SQL (the same shared-constant
  // rule as DefaultBlockCap), so a threshold change cannot silently
  // desynchronize the mirror.
  private val EditThreshold = 25

  lazy val x31 = Q(
    "x31_edit_distance_neardup",
    (s, dir) => {
      import s.implicits._
      val items = docs(s, dir).select($"doc_id", lower($"text").as("t"))
      // The 3-arg levenshtein bounds the DP to a 2·EditThreshold+1 band
      // with an O(1) length-delta reject up front and returns -1 past
      // the threshold: O(len·thr) per pair, not O(len²). The doc_a < doc_b
      // guard is ALREADY satisfied by the pair table, but stays as a
      // when() wrapper around the DP: Catalyst pushes the dist filter
      // into the pair join and reorders conjuncts freely, and a
      // measured ordering once put levenshtein ahead of the ordering
      // cut — scoring every block-matched pair including the N
      // identical self-pairs, a 6x slowdown at sf0.1. CaseWhen's lazy
      // arms keep the cheap comparison in front of the DP wherever the
      // conjunct lands.
      graft.ops.Blocking.cappedPrefixPairs(items, prefixLen = 16,
          threshold = EditThreshold)
        .select($"doc_a", $"doc_b",
          when($"doc_a" < $"doc_b", levenshtein($"ta", $"tb", EditThreshold))
            .cast("long").as("dist"))
        .filter($"dist" >= 0)
    },
    // cap + threshold + bucket width interpolated from the SAME
    // constants the Spark side reads (Blocking.DefaultBlockCap,
    // EditThreshold, EditThreshold+1), and
    // the length bucket computed from the SAME string the Spark side
    // buckets on (t = lower(text) — a raw length(text) diverges on
    // chars whose lowercase mapping changes length, e.g. 'İ'), so a
    // future cap/threshold change or a non-ASCII corpus cannot
    // silently invalidate the mirror.
    Some(s"""
      WITH b AS (
        SELECT doc_id, lower(text) AS t, substr(lower(text), 1, 16) AS blk,
          CAST(floor(length(lower(text)) / ${EditThreshold + 1}) AS INT) AS lb
        FROM documents),
      sized AS (
        SELECT *, COUNT(*) OVER (PARTITION BY blk, lb) AS bcnt,
          MIN(doc_id) OVER (PARTITION BY blk, lb) AS keeper
        FROM b),
      cand AS (
        SELECT a.doc_id AS doc_a, c.doc_id AS doc_b, a.t AS ta, c.t AS tb
        FROM sized a JOIN sized c ON a.blk = c.blk
          AND abs(a.lb - c.lb) <= 1 AND a.doc_id < c.doc_id
        WHERE a.bcnt <= ${graft.ops.Blocking.DefaultBlockCap}
          AND c.bcnt <= ${graft.ops.Blocking.DefaultBlockCap}
        UNION ALL
        SELECT k.doc_id AS doc_a, o.doc_id AS doc_b, k.t AS ta, o.t AS tb
        FROM sized o JOIN sized k
          ON o.blk = k.blk AND o.lb = k.lb AND k.doc_id = o.keeper
        WHERE o.bcnt > ${graft.ops.Blocking.DefaultBlockCap}
          AND o.doc_id <> o.keeper)
      SELECT doc_a, doc_b, CAST(levenshtein(ta, tb) AS BIGINT) AS dist
      FROM cand WHERE levenshtein(ta, tb) <= $EditThreshold
    """))

  // ---------------------------------------------------------------------
  // x32 — span-level exact substring dedup (the Lee et al.,
  // "Deduplicating Training Data Makes Language Models Better", 2022
  // shape): flag documents sharing any exact K-token span with another
  // document — catches boilerplate and quotation overlap that
  // whole-document fingerprints (x01) and MinHash (x02) both miss.
  // K = 8 here (the paper uses 50 BPE tokens; the fixture docs are
  // short). Spans build as a zip_with chain over K shifted slices (the
  // x02 lesson: no element_at lambdas), hash to md5 hex (identical in
  // DuckDB), and dedup per doc BEFORE the explode, so the span table
  // carries each (doc, span) once. One keyed shuffle groups spans to
  // count carriers; the join back is on the same key. At 100 TB the
  // span table is ~tokens-sized — the same footprint the paper's
  // suffix-array pass reads — and both shuffles are hash-keyed, never
  // all-pairs.
  lazy val x32 = Q(
    "x32_span_substring_dedup",
    (s, dir) => {
      import s.implicits._
      val K = 8
      val m = s"greatest(size(toks) - ${K - 1}, 0)"
      val spanChain = (2 to K).foldLeft(s"slice(toks, 1, $m)") { (acc, j) =>
        s"zip_with($acc, slice(toks, $j, $m), (x, y) -> concat(x, ' ', y))"
      }
      // 60-bit int span keys (not the 32-char md5 hex): halves the
      // bytes both shuffles carry; both engines derive the same int
      // from the same hex so parity is unconditional. Persisted: the
      // span table feeds the carrier-count groupBy AND the join back —
      // without the fence the tokenize+md5+explode pipeline (the
      // dominant cost) executes once per consumer.
      val spans = persisted(s, "x32_spans", dir) { docs(s, dir)
        .select($"doc_id", split(lower($"text"), " ").as("toks"))
        .filter(size($"toks") >= K)
        .select($"doc_id", explode(array_distinct(
          expr(s"transform($spanChain, g -> " +
            "cast(conv(substring(md5(g), 1, 15), 16, 10) as bigint))"))).as("sh"))
      }
      val freq = spans.groupBy($"sh").agg(count(lit(1)).as("n_docs"))
      spans.join(freq, "sh")
        .groupBy($"doc_id")
        .agg(count(lit(1)).as("n_spans"),
             sum(when($"n_docs" >= 2, 1L).otherwise(0L)).as("n_shared"))
        .select($"doc_id", $"n_spans", $"n_shared",
          expr("1000000L * n_shared div n_spans").as("shared_ppm"))
    },
    Some("""
      WITH b AS (
        SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents
        WHERE len(string_split(lower(text), ' ')) >= 8),
      sp AS (
        SELECT doc_id, unnest(list_distinct(list_transform(
          range(1, greatest(len(t) - 6, 1)),
          i -> ('0x' || substr(md5(array_to_string(t[i:i+7], ' ')), 1, 15))::BIGINT))) AS sh
        FROM b),
      f AS (SELECT sh, COUNT(*) AS n_docs FROM sp GROUP BY sh)
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_spans,
        CAST(SUM(CASE WHEN f.n_docs >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_shared,
        CAST((1000000 * SUM(CASE WHEN f.n_docs >= 2 THEN 1 ELSE 0 END)) // COUNT(*) AS BIGINT) AS shared_ppm
      FROM sp JOIN f USING (sh)
      GROUP BY doc_id
    """))

  // ---------------------------------------------------------------------
  // x36 — dedup APPLY: the keep-list materialization that turns x28's
  // cluster assignment into the deduplicated corpus a pipeline actually
  // ships — keep every cluster representative plus every unclustered
  // doc, drop the rest. Reads the STAGED cluster-label table
  // (stagedClusters): detection → clustering is materialized once per
  // dataset and this apply step pays one scan of it — the production
  // pipeline shape, not a per-invocation rebuild. The anti-join keys
  // on doc_id (hash, skew-free); the drop list is
  // cluster-members-minus-reps, orders of magnitude smaller than the
  // corpus, so at 100 TB it broadcast-joins.
  lazy val x36 = Q(
    "x36_dedup_apply",
    (s, dir) => {
      import s.implicits._
      val drop = stagedClusters(s, dir)
        .filter($"doc_id" =!= $"cluster_rep")
        .select($"doc_id")
      docs(s, dir)
        .join(broadcast(drop), Seq("doc_id"), "left_anti")
        .select($"doc_id", $"source", $"n_chars".cast("long").as("n_chars"))
    },
    Some(s"""
      WITH RECURSIVE $NeardupPairsSqlCtes,
      edges AS (
        SELECT doc_a AS src, doc_b AS dst FROM pairs
        UNION
        SELECT doc_b, doc_a FROM pairs
      ),
      reach(src, dst) AS (
        SELECT src, dst FROM edges
        UNION
        SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
      ),
      lab AS (
        SELECT src AS doc_id, LEAST(src, MIN(dst)) AS rep
        FROM reach GROUP BY src
      )
      SELECT d.doc_id, d.source, CAST(d.n_chars AS BIGINT) AS n_chars
      FROM documents d LEFT JOIN lab ON d.doc_id = lab.doc_id
      WHERE lab.doc_id IS NULL OR lab.rep = d.doc_id
    """))

  // ---------------------------------------------------------------------
  // x37 — INCREMENTAL near-dup: dedup an incoming ingest batch against
  // the historical corpus without re-pairing history against itself —
  // the production shape of continuous dedup (history is deduped once,
  // offline; each new batch only band-joins against it). The fixture
  // splits on doc_id % 10 (batch = 0, history = rest). Batch ≪ history,
  // so the batch bands BROADCAST: at 100 TB the band join is one
  // map-side pass over history — no history shuffle, no history
  // self-join — and the verification join keys on the (tiny) candidate
  // set. Output: one row per rejected batch doc with its best
  // historical match (highest Jaccard, lowest doc_id tie-break).
  lazy val x37 = Q(
    "x37_incremental_neardup",
    (s, dir) => {
      import s.implicits._
      val hs = shingleHashes(s, dir)
      val bands = minhashBands(hs)
      val cand = bands.filter($"doc_id" % 10 =!= 0).as("h")
        .join(broadcast(bands.filter($"doc_id" % 10 === 0).as("n")),
          col("h.band") === col("n.band") && col("h.k1") === col("n.k1") &&
          col("h.k2") === col("n.k2"))
        .select(col("n.doc_id").as("batch_id"), col("h.doc_id").as("hist_id"))
        .distinct()
      val scored = cand
        .join(hs.select($"doc_id".as("batch_id"), $"hs".as("ha")), "batch_id")
        .join(hs.select($"doc_id".as("hist_id"), $"hs".as("hb")), "hist_id")
        .withColumn("ni", size(array_intersect($"ha", $"hb")).cast("long"))
        .withColumn("jaccard_ppm",
          round(lit(1e6) * $"ni" / (size($"ha") + size($"hb") - $"ni")).cast("long"))
        .filter($"jaccard_ppm" >= 500000L)
      val w = Window.partitionBy($"batch_id").orderBy($"jaccard_ppm".desc, $"hist_id")
      scored.withColumn("rnk", row_number().over(w))
        .filter($"rnk" === 1)
        .select($"batch_id", $"hist_id".as("matched_doc"), $"jaccard_ppm")
        .orderBy($"batch_id")
    },
    Some(s"""
      WITH $MinhashSigSqlCtes,
      cand AS (
        SELECT DISTINCT n.doc_id AS batch_id, h.doc_id AS hist_id
        FROM bands n JOIN bands h
          ON n.band = h.band AND n.k1 = h.k1 AND n.k2 = h.k2
        WHERE n.doc_id % 10 = 0 AND h.doc_id % 10 <> 0
      ),
      inter AS (
        SELECT c.batch_id, c.hist_id, COUNT(*) AS ni
        FROM cand c
        JOIN sh ta ON ta.doc_id = c.batch_id
        JOIN sh tb ON tb.doc_id = c.hist_id AND tb.h = ta.h
        GROUP BY c.batch_id, c.hist_id
      ),
      scored AS (
        SELECT c.batch_id, c.hist_id,
          CAST(round(1e6 * COALESCE(i.ni, 0) / (sa.n + sb.n - COALESCE(i.ni, 0))) AS BIGINT) AS jaccard_ppm
        FROM cand c
        LEFT JOIN inter i ON i.batch_id = c.batch_id AND i.hist_id = c.hist_id
        JOIN sig sa ON sa.doc_id = c.batch_id
        JOIN sig sb ON sb.doc_id = c.hist_id
        WHERE round(1e6 * COALESCE(i.ni, 0) / (sa.n + sb.n - COALESCE(i.ni, 0))) >= 500000
      )
      SELECT batch_id, hist_id AS matched_doc, jaccard_ppm FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY batch_id
                                     ORDER BY jaccard_ppm DESC, hist_id) AS rnk
        FROM scored)
      WHERE rnk = 1
      ORDER BY batch_id
    """))

  // ---------------------------------------------------------------------
  // x39 — semantic dedup (SemDeDup, Abbas et al., "SemDeDup: Data-
  // efficient learning at web-scale through semantic deduplication",
  // 2023): k-means clusters as the blocking key, pairwise cosine within
  // each cluster, pairs above threshold become (keeper, dup) edges —
  // keeper = lower vec_id, x01's keep-first rule. Candidate generation
  // is the cluster equi-join — Σ|cluster|² work, with K chosen ∝ corpus
  // size in production (SemDeDup runs K ~ 10⁵ so clusters stay bounded;
  // the fixture reuses x18's K=4). The plan shape — narrow assignment
  // map, then an equi-self-join on the cluster key — is unchanged by K.
  // Threshold 0.40 is fixture-calibrated (the synthetic embeddings top
  // out near cos 0.51, so production's ~0.95 would gate zero rows and
  // grade nothing); the constant doesn't change the operator shape.
  lazy val x39 = Q(
    "x39_semantic_dedup",
    (s, dir) => {
      import s.implicits._
      // float vectors through the cluster-blocked self-join, scored by
      // the fused native cosine — the interpreted HOF dot product made
      // this the bench's worst query (10 s warm at sf0.1; Σ|cluster|²
      // pairs × an interpreted 64-element lambda chain each). The
      // cluster assignment is STAGED (ops/Staging, the same
      // materialized-intermediate contract as x36's label table):
      // SemDeDup's clustering is a precomputed pipeline stage in
      // practice, and re-running the Lloyd iterations' driver-synced
      // jobs per invocation priced the build, not the dedup. x18 (the
      // k-means report itself) still pays the honest build cost.
      val a = persisted(s, "x39_assign", dir) {
        val path = graft.ops.Staging.ensure("km_assign2", dir,
          Seq("embeddings"))(kmeansAssign2(s, dir))
        ParquetFooter.read(s, path)
      }.select($"vec_id", $"embedding", $"cluster")
      a.as("x").join(a.as("y"),
          col("x.cluster") === col("y.cluster") && col("x.vec_id") < col("y.vec_id"))
        .select(col("x.cluster").as("cluster"),
          col("x.vec_id").as("keeper_id"), col("y.vec_id").as("dup_id"),
          round(lit(1e6) * cosineF(col("x.embedding"), col("y.embedding")))
            .cast("long").as("cos_ppm"))
        .filter($"cos_ppm" >= 400000L)
        .orderBy($"keeper_id", $"dup_id")
    },
    Some(s"""
      WITH $KmAssign2SqlCtes,
      n AS (SELECT vec_id, v, cluster,
              sqrt(list_dot_product(v, v)) AS norm FROM a2)
      SELECT x.cluster AS cluster, x.vec_id AS keeper_id, y.vec_id AS dup_id,
        CAST(round(1e6 * (list_dot_product(x.v, y.v) / (x.norm * y.norm))) AS BIGINT) AS cos_ppm
      FROM n x JOIN n y ON x.cluster = y.cluster AND x.vec_id < y.vec_id
      WHERE round(1e6 * (list_dot_product(x.v, y.v) / (x.norm * y.norm))) >= 400000
      ORDER BY keeper_id, dup_id
    """))

  // ---------------------------------------------------------------------
  // x43 — cluster representative by QUALITY: x36 keeps each near-dup
  // cluster's min-doc_id member; real pipelines keep the best-quality
  // member (longest, highest score). Reads x28's STAGED cluster labels
  // (stagedClusters — one scan, no pipeline rebuild), ranks
  // members by (token count desc, doc_id asc), and reports each
  // cluster's keeper plus its size. One keyed shuffle: row_number and
  // the member count share the same cluster_rep window partitioning, so
  // Catalyst plans a single exchange; clusters are near-dup components
  // (tiny), so no window partition can skew.
  lazy val x43 = Q(
    "x43_cluster_keep_best",
    (s, dir) => {
      import s.implicits._
      val quality = docs(s, dir)
        .select($"doc_id",
          size(split(lower($"text"), " ")).cast("long").as("n_tokens"))
      val byQuality = Window.partitionBy($"cluster_rep")
        .orderBy($"n_tokens".desc, $"doc_id".asc)
      stagedClusters(s, dir)
        .join(quality, "doc_id")
        .withColumn("rn", row_number().over(byQuality))
        .withColumn("n_members",
          count(lit(1)).over(Window.partitionBy($"cluster_rep")))
        .filter($"rn" === 1)
        .select($"cluster_rep", $"doc_id".as("best_doc_id"),
          $"n_tokens".as("best_tokens"), $"n_members")
    },
    Some(s"""
      WITH RECURSIVE $NeardupLabelSqlCtes,
      q AS (
        SELECT doc_id,
          CAST(len(string_split(lower(text), ' ')) AS BIGINT) AS n_tokens
        FROM documents),
      j AS (
        SELECT lab.cluster_rep, lab.doc_id, q.n_tokens,
          row_number() OVER (PARTITION BY cluster_rep
                             ORDER BY n_tokens DESC, doc_id) AS rn,
          COUNT(*) OVER (PARTITION BY cluster_rep) AS n_members
        FROM lab JOIN q USING (doc_id))
      SELECT cluster_rep, doc_id AS best_doc_id, n_tokens AS best_tokens,
        CAST(n_members AS BIGINT) AS n_members
      FROM j WHERE rn = 1
    """))

  // ---------------------------------------------------------------------
  // x53 — shared-prefix boilerplate detection: documents opening with
  // the same first-5-token prefix are flagged as boilerplate-headed
  // (site templates, license headers, scraped navigation — the
  // paragraph-level cleanup pass that whole-document dedup never
  // catches because the BODIES differ). One keyed aggregation on the
  // prefix + one keyed join back; the prefix key is bounded (5 tokens)
  // so the shuffle payload per row is constant regardless of document
  // size — at 100 TB this is two hash shuffles of (id, small-key)
  // pairs, never of document text.
  lazy val x53 = Q(
    "x53_boilerplate_prefix",
    (s, dir) => {
      import s.implicits._
      val p = docs(s, dir).select($"doc_id",
        concat_ws(" ", slice(split(lower($"text"), " "), 1, 5)).as("pk"))
      val c = p.groupBy($"pk").agg(count(lit(1)).as("shared_by"))
      p.join(c, "pk")
        .select($"doc_id", $"shared_by",
          when($"shared_by" >= 3, 1L).otherwise(0L).as("is_boiler"))
    },
    Some("""
      WITH b AS (
        SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents),
      p AS (SELECT doc_id, array_to_string(t[1:5], ' ') AS pk FROM b),
      c AS (SELECT pk, CAST(COUNT(*) AS BIGINT) AS shared_by
            FROM p GROUP BY pk)
      SELECT doc_id, shared_by,
        CAST(CASE WHEN shared_by >= 3 THEN 1 ELSE 0 END AS BIGINT) AS is_boiler
      FROM p JOIN c USING (pk)
    """))

  // ---------------------------------------------------------------------
  // x65 — dedup survivorship funnel: documents remaining after each
  // dedup stage in sequence (raw → exact fingerprint keep-first →
  // near-dup cluster keep-rep) — the observability report every real
  // dedup pipeline publishes per run. Stage 2 removes non-representative
  // cluster members from stage 1's survivors; a cluster whose rep was
  // itself an exact dup loses all members (both engines apply the same
  // rule, and a funnel over-counting removals is the conservative
  // direction). Reuses x01's fingerprint definition and x28's STAGED
  // label table (stagedClusters) — at 100 TB the three counts are one
  // narrow aggregation each over already-built, disk-staged
  // intermediates, and that is now literally the plan.
  lazy val x65 = Q(
    "x65_dedup_funnel",
    (s, dir) => {
      import s.implicits._
      val d = docs(s, dir)
      val keep1 = d.select($"doc_id", Q.normFingerprint($"text").as("fp"))
        .groupBy($"fp").agg(min($"doc_id").as("doc_id"))
        .select($"doc_id")
      val dup = stagedClusters(s, dir)
        .filter($"doc_id" =!= $"cluster_rep").select($"doc_id")
      val keep2 = keep1.join(dup, Seq("doc_id"), "left_anti")
      d.agg(count(lit(1)).as("n_docs"))
        .select(lit("0_raw").as("stage"), $"n_docs")
        .unionByName(keep1.agg(count(lit(1)).as("n_docs"))
          .select(lit("1_exact").as("stage"), $"n_docs"))
        .unionByName(keep2.agg(count(lit(1)).as("n_docs"))
          .select(lit("2_neardup").as("stage"), $"n_docs"))
    },
    Some(s"""
      WITH RECURSIVE $NeardupLabelSqlCtes,
      k1 AS (
        SELECT MIN(doc_id) AS doc_id
        FROM (SELECT doc_id,
                sha256(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g'))
                  AS fp
              FROM documents)
        GROUP BY fp),
      dup AS (SELECT doc_id FROM lab WHERE doc_id <> cluster_rep),
      k2 AS (
        SELECT doc_id FROM k1
        WHERE doc_id NOT IN (SELECT doc_id FROM dup))
      SELECT '0_raw' AS stage, CAST(COUNT(*) AS BIGINT) AS n_docs
      FROM documents
      UNION ALL
      SELECT '1_exact', CAST(COUNT(*) AS BIGINT) FROM k1
      UNION ALL
      SELECT '2_neardup', CAST(COUNT(*) AS BIGINT) FROM k2
    """))

  // ---------------------------------------------------------------------
  // x70 — dedup-rate drift per ingest batch: the per-crawl-batch
  // duplicate-rate report a continuously-ingesting pipeline publishes —
  // a sudden dup-ppm spike in one batch means a crawler re-fetched a
  // site or an upstream source re-shipped a shard, and is the first
  // alarm that fires in practice. Batches are doc_id ranges (the
  // fixture's ingest order); a doc is a duplicate iff it is not its
  // normalized fingerprint's canonical keeper (min doc_id — exactly
  // x01's keep-first rule, same Q.normFingerprint, so the drift report
  // provably agrees with the dedup pass it monitors). One hash shuffle
  // on the fingerprint (the keeper is a window min over it — no second
  // join shuffle), then a tiny batch-grain aggregation; integer ppm.
  lazy val x70 = Q(
    "x70_dedup_rate_drift",
    (s, dir) => {
      import s.implicits._
      val w = Window.partitionBy($"fp")
      docs(s, dir)
        .select($"doc_id", Q.normFingerprint($"text").as("fp"))
        .withColumn("keeper", min($"doc_id").over(w))
        .select(expr("doc_id div 100").as("batch"),
          when($"doc_id" =!= $"keeper", 1L).otherwise(0L).as("is_dup"))
        .groupBy($"batch")
        .agg(count(lit(1)).as("n_docs"),
          sum($"is_dup").as("n_dups"),
          expr("1000000L * sum(is_dup) div count(1)").as("dup_ppm"))
    },
    Some("""
      WITH fp AS (
        SELECT doc_id,
          sha256(regexp_replace(trim(lower(text)), '\s+', ' ', 'g')) AS fp
        FROM documents),
      k AS (
        SELECT doc_id, MIN(doc_id) OVER (PARTITION BY fp) AS keeper
        FROM fp)
      SELECT doc_id // 100 AS batch, COUNT(*) AS n_docs,
        CAST(SUM(CASE WHEN doc_id <> keeper THEN 1 ELSE 0 END) AS BIGINT)
          AS n_dups,
        CAST((1000000 * SUM(CASE WHEN doc_id <> keeper THEN 1 ELSE 0 END))
          // COUNT(*) AS BIGINT) AS dup_ppm
      FROM k
      GROUP BY 1
    """))

  // ---------------------------------------------------------------------
  // x73 — dedup clusters by large-star/small-star contraction
  // ([[graft.ops.ConnectedComponents]] — Kiveris et al., SoCC 2014):
  // the O(log n)-round algorithm, whose round count is insensitive to
  // component shape (a boilerplate template chaining 10⁵ crawl
  // documents into a path costs min-label propagation its diameter in
  // rounds) and whose edge set SHRINKS as it converges. Same table as
  // x28 ([[neardupLabels]]); the registry keeps both names because
  // the benchmark samples x73 and the dedup consumers build on x28.
  // (StarContractionSpec pins the log-round behavior on a deep
  // synthetic chain.)
  lazy val x73 = Q(
    "x73_cc_star_contraction",
    (s, dir) => {
      import s.implicits._
      neardupLabels(s, dir).select($"id".as("doc_id"), $"rep".as("cluster_rep"))
    },
    Some(CcOracleSql))

  // ---------------------------------------------------------------------
  // x74 — INCREMENTAL cluster maintenance: the label-side counterpart
  // of x37's incremental pair detection. Continuous dedup cannot
  // re-cluster the full corpus per ingest batch; instead the deduped
  // history is carried as its STAR EDGES — one (doc, cluster_rep) edge
  // per non-representative doc, a frame no larger than the label table
  // itself and far smaller than history's pair set — and each batch
  // contributes only its incremental pairs (batch↔history and
  // batch↔batch, x37's split: doc_id % 10 = 0 is the arriving batch).
  // Star contraction over (history stars ∪ incremental pairs) then
  // re-converges in rounds bounded by the NEW structure's depth, since
  // history components are already height-1. The graded invariant is
  // the one that makes the pattern safe to operate: the incremental
  // result must be BYTE-IDENTICAL to a full-graph recompute — same
  // oracle as x28 and x73, so one-shot and incremental contraction are
  // two routes pinned to one fixpoint
  // (star edges preserve exactly history's connectivity, incremental
  // pairs are exactly the pairs touching the batch, and component
  // minima are unchanged because star edges keep original node ids).
  lazy val x74 = Q(
    "x74_cc_incremental",
    (s, dir) => {
      import s.implicits._
      // the history label table is what a continuous pipeline already
      // HOLDS when a batch arrives — staged once per dataset version
      // (the x28_labels precedent), so the query prices exactly the
      // incremental work: history star edges + the batch's pairs, one
      // contraction. The inner persisted() registers the build's
      // cached fixpoint with the session cache so the bench's
      // clearPersistedIntermediates releases it.
      val histPath = graft.ops.Staging.ensure("x74_hist_labels", dir,
        Seq("documents")) {
        persisted(s, "x74_hist_labels_build", dir) {
          graft.ops.ConnectedComponents.starContraction(
            neardupPairs(s, dir)
              .filter($"doc_a" % 10 =!= 0 && $"doc_b" % 10 =!= 0)
              .select($"doc_a".as("a"), $"doc_b".as("b")))
        }
      }
      persisted(s, "x74_labels", dir) {
        // batch = the arriving tenth (x37's split)
        val incr = neardupPairs(s, dir)
          .filter($"doc_a" % 10 === 0 || $"doc_b" % 10 === 0)
          .select($"doc_a".as("a"), $"doc_b".as("b"))
        val histStars = ParquetFooter.read(s, histPath)
          .filter($"id" =!= $"rep")
          .select($"id".as("a"), $"rep".as("b"))
        graft.ops.ConnectedComponents.starContraction(
          histStars.unionByName(incr))
      }.select($"id".as("doc_id"), $"rep".as("cluster_rep"))
    },
    Some(CcOracleSql))

  // ---------------------------------------------------------------------
  // x77 — LEAKAGE-FREE train/val/test split: x21's deterministic hash
  // split keyed on the dedup CLUSTER REPRESENTATIVE instead of the doc
  // id, so a near-dup family can never straddle train and eval — the
  // classic eval-inflation bug (test documents whose near-copies sit
  // in train) eliminated structurally rather than audited after the
  // fact. Unclustered docs key on their own id (same hash, same
  // 80/10/10 bands as x21, so the two splits agree wherever leakage
  // isn't at stake). The straddle count — near-dup pairs whose
  // endpoints landed in different splits — is CARRIED IN THE GRADED
  // OUTPUT and must be zero: any drift between the cluster labels and
  // the split assignment turns the invariant's violation into a red
  // correctness row, not a silent quality regression. Shape: the
  // staged label table (tiny: clustered docs only) broadcast-joins
  // onto the corpus scan; assignment stays a narrow map; the audit
  // join runs on the (small) pair table.
  lazy val x77 = Q(
    "x77_leakage_free_split",
    (s, dir) => {
      import s.implicits._
      val labels = stagedClusters(s, dir)
      val d = docs(s, dir)
        .join(broadcast(labels), Seq("doc_id"), "left")
        .withColumn("split_key", coalesce($"cluster_rep", $"doc_id"))
        .withColumn("b",
          pmod(pmod($"split_key", lit(1000000007L)) * 1103515245L + 12345L,
            lit(100)))
        .withColumn("split",
          when($"b" < 80, "train").when($"b" < 90, "val").otherwise("test"))
      val sp = d.select($"doc_id", $"split")
      val leak = neardupPairs(s, dir).select($"doc_a", $"doc_b")
        .join(sp.select($"doc_id".as("doc_a"), $"split".as("sa")), Seq("doc_a"))
        .join(sp.select($"doc_id".as("doc_b"), $"split".as("sb")), Seq("doc_b"))
        .agg(coalesce(sum(when($"sa" =!= $"sb", 1L).otherwise(0L)), lit(0L))
          .as("n_leaked_pairs"))
      d.groupBy($"split")
        .agg(count(lit(1)).as("n_docs"),
          sum(when($"cluster_rep".isNotNull, 1L).otherwise(0L))
            .as("n_clustered_docs"),
          sum($"n_chars").cast("long").as("sum_chars"))
        .crossJoin(broadcast(leak))
        .orderBy($"split")
    },
    Some(s"""
      WITH RECURSIVE $NeardupPairsSqlCtes,
      edges AS (
        SELECT doc_a AS src, doc_b AS dst FROM pairs
        UNION
        SELECT doc_b, doc_a FROM pairs
      ),
      reach(src, dst) AS (
        SELECT src, dst FROM edges
        UNION
        SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
      ),
      labels AS (
        SELECT src AS doc_id, LEAST(src, MIN(dst)) AS cluster_rep
        FROM reach GROUP BY src
      ),
      sp AS (
        SELECT doc_id, cluster_rep, n_chars,
          CASE WHEN b < 80 THEN 'train' WHEN b < 90 THEN 'val'
               ELSE 'test' END AS split
        FROM (
          SELECT d.doc_id, l.cluster_rep, d.n_chars,
            ((COALESCE(l.cluster_rep, d.doc_id) % 1000000007)
              * 1103515245 + 12345) % 100 AS b
          FROM documents d LEFT JOIN labels l ON l.doc_id = d.doc_id)
      ),
      leak AS (
        SELECT CAST(COALESCE(SUM(
            CASE WHEN a.split <> b.split THEN 1 ELSE 0 END), 0) AS BIGINT)
          AS n_leaked_pairs
        FROM pairs p
        JOIN sp a ON a.doc_id = p.doc_a
        JOIN sp b ON b.doc_id = p.doc_b
      )
      SELECT split, COUNT(*) AS n_docs,
        CAST(SUM(CASE WHEN cluster_rep IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
          AS n_clustered_docs,
        CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
        (SELECT n_leaked_pairs FROM leak) AS n_leaked_pairs
      FROM sp GROUP BY split ORDER BY split
    """))

  // ---------------------------------------------------------------------
  // x95 — TIME-WINDOWED (TTL'd / reingest-window) near-dup detection,
  // the bounded-state streaming semantics graded CROSS-ENGINE, over an
  // ingest stream derived from the events fixture: every 13th event
  // re-ingests document (event_id % |documents|) at its event time,
  // deduped to one (doc, day) row at the day's max ts. A bucket's
  // keeper is forgotten once the watermark passes its last sighting +
  // 5 days, so candidate pairs exist only WITHIN a reingest window —
  // re-ingested content re-anchors fresh instead of being flagged
  // against an expired keeper.
  //
  // Execution (r21): the GROUPED-DAY FOLD replay
  // (StreamingNearDup.replayWithTtlFold) — one keyed shuffle whose
  // per-bucket fold applies exactly the per-day transition rule the
  // real detector (StreamingNearDup.withTtl, the EventTimeTimeout
  // anchor state machine every TTL'd modality twin rides) exhibits
  // under the deterministic day-batched replay schedule. The r20
  // version drove 30 real micro-batches through a MemoryStream fed by
  // a driver-side collect of the corpus-proportional ingest rows; the
  // engine's per-trigger floor (~0.33 s of offset/commit-log and
  // driver bookkeeping per batch, measured) priced engine overhead
  // rather than detection, and the collect was the r20 VERDICT's
  // scale-killer item. Fold ≡ stream is pinned by
  // StreamingNearDupSpec on the adversarial expiry corpus AND
  // randomized corpora (exact multiset of emissions, both TTLs); the
  // oracle replays the same window/expiry rule in SQL (recursive
  // per-bucket state over day batches; watermark = running max
  // event-time in ms, one batch of lag, strict >, ms-floored like
  // GroupState's getTime). The window BINDS both ways at sf0.01 AND
  // sf0.1: pairs the unbounded detector emits are excluded by expiry
  // (28 / 444), and post-expiry re-anchoring produces pairs under the
  // new keeper the unbounded route never sees (12 / 120).
  private[queries] val X95Sample = 13L
  private[queries] val X95TtlDays = 5L

  lazy val x95 = Q(
    "x95_ttl_neardup",
    (s, dir) => {
      import s.implicits._
      val nd = docs(s, dir).count()
      // the day-batched feed, fully distributed: NO driver-side
      // collect (the r20 version materialized the corpus-proportional
      // (doc, day) rows onto the driver as the MemoryStream transport
      // — a scale-killer the r20 VERDICT item-listed). The ingest
      // frame is banded ONCE as a batch map and replayed one day per
      // micro-batch from per-day files; a deployment runs the same
      // detector over its real stream — StreamingFunnel's TTL stage.
      val ing = Tables.load(s, dir, "events")
        .filter(col("event_id") % X95Sample === 0)
        .select((col("event_id") % nd).as("doc_id"),
          date_trunc("day", col("ts")).as("day"), col("ts"))
        .groupBy(col("doc_id"), col("day"))
        .agg(max(col("ts")).as("eventTime"))
        .join(docs(s, dir).select(col("doc_id"), col("text")), "doc_id")
        .select(col("day"), col("doc_id"), col("text"), col("eventTime"))
        .persist()
      try {
        val bands = graft.ops.MinHash.bandRows(ing,
          carry = Seq("day", "eventTime"))
        val ingestDays = ing.groupBy(col("day"))
          .agg(max(col("eventTime")).as("eventTime"))
        graft.streaming.StreamingNearDup.replayWithTtlFold(
            bands, ingestDays, java.time.Duration.ofDays(X95TtlDays))
          .toDF()
          .select(col("keeperId").as("keeper_id"),
            col("dupId").as("dup_id"), col("band"))
          .distinct()
          .orderBy(col("keeper_id"), col("dup_id"), col("band"))
      } finally { ing.unpersist(); () }
    },
    Some(s"""
      WITH RECURSIVE $MinhashSigSqlCtes,
      ingday AS (
        -- the reingest stream: every ${X95Sample}th event re-ingests
        -- doc (event_id % |documents|), one row per (doc, day) at the
        -- day's max ts (ms-floored — GroupState stores getTime millis)
        SELECT (e.event_id % (SELECT COUNT(*) FROM documents)) AS doc_id,
               date_trunc('day', e.ts) AS day, max(epoch_ms(e.ts)) AS tsms
        FROM events e WHERE e.event_id % $X95Sample = 0
        GROUP BY 1, 2
      ),
      brow AS (  -- per-day bucket occupancy of the ingested docs
        SELECT b.band, b.k1, b.k2, i.doc_id, i.day, i.tsms
        FROM bands b JOIN ingday i USING (doc_id)
      ),
      bday AS (  -- one row per (bucket, data day): the batch content
        SELECT band, k1, k2, day, min(doc_id) AS mindoc,
               max(tsms) AS maxts,
               row_number() OVER (PARTITION BY band, k1, k2
                                  ORDER BY day) AS j
        FROM brow GROUP BY 1, 2, 3, 4
      ),
      gday AS (  -- global ingest days in replay order
        SELECT day, max(tsms) AS mx,
               row_number() OVER (ORDER BY day) AS gi
        FROM ingday GROUP BY day
      ),
      gw AS (
        -- timers fire only in data batches (no-data batches disabled),
        -- with the watermark ENTERING the batch = max event ms over
        -- earlier batches; the strongest check a silent bucket sees
        -- before its next data day d is at the day just before d,
        -- whose entering watermark is the running max two days back
        SELECT day,
          max(mx) OVER (ORDER BY gi
            ROWS BETWEEN UNBOUNDED PRECEDING AND 2 PRECEDING) AS prevmax,
          lag(day) OVER (ORDER BY gi) AS pd
        FROM gday
      ),
      st AS (  -- per-bucket anchor state after each of its data days
        SELECT band, k1, k2, j, day, mindoc AS anchor, maxts AS lastseen
        FROM bday WHERE j = 1
        UNION ALL
        SELECT b.band, b.k1, b.k2, b.j, b.day,
          -- expired iff an intermediate batch existed (pd <> previous
          -- bucket day) whose entering watermark passed lastseen + ttl
          -- (strict — Spark fires timeoutTs < watermark)
          CASE WHEN gw.pd <> s.day
                AND gw.prevmax > s.lastseen + ${X95TtlDays * 86400000L}
               THEN b.mindoc ELSE s.anchor END,
          CASE WHEN gw.pd <> s.day
                AND gw.prevmax > s.lastseen + ${X95TtlDays * 86400000L}
               THEN b.maxts ELSE greatest(s.lastseen, b.maxts) END
        FROM st s
        JOIN bday b ON b.band = s.band AND b.k1 = s.k1 AND b.k2 = s.k2
                   AND b.j = s.j + 1
        JOIN gw ON gw.day = b.day
      ),
      emit AS (  -- every doc in a batch emits vs the post-transition
                 -- anchor (the anchor row itself never self-pairs)
        SELECT st.anchor AS keeper_id, r.doc_id AS dup_id, r.band
        FROM st JOIN brow r ON r.band = st.band AND r.k1 = st.k1
                           AND r.k2 = st.k2 AND r.day = st.day
        WHERE r.doc_id <> st.anchor
      )
      SELECT DISTINCT keeper_id, dup_id, band FROM emit ORDER BY 1, 2, 3
    """))

  // ---------------------------------------------------------------------
  // x96 — TAKEDOWN PROPAGATION through the cluster journal, graded
  // CROSS-ENGINE (the x94/x95 pattern applied to the r19 takedown
  // feature, which was spec-pinned only): journal the verified
  // near-dup pairs (x02's table) into the versioned edge store, take
  // down every doc with doc_id % 7 = 0 (9 of 25 pairs incident at
  // sf0.01, 61 of 256 at sf0.1 — the takedown is load-bearing, not
  // decorative), and consult the labels. deleteNodes removes the
  // taken-down nodes' incident EDGES exactly (one bucket-scoped
  // deleteKeys commit, broadcast-join predicate), so components a
  // victim alone bridged SPLIT and survivors whose only evidence was
  // a victim drop out of the clustered set entirely — the oracle
  // recomputes the transitive closure over the surviving pairs only.
  lazy val x96 = Q(
    "x96_cluster_takedown",
    (s, dir) => persisted(s, "x96_labels", dir) {
      import s.implicits._
      val store = java.nio.file.Files
        .createTempDirectory("x96_journal").toString + "/edges"
      val pairs = neardupPairs(s, dir)
        .select($"doc_a".as("keeperId"), $"doc_b".as("dupId"))
      // journal fan-out sized to the batch's own edge count (the table
      // is created here, from this one batch): 64 near-empty bucket
      // files per generation was the measured dominant cost of this
      // lifecycle at fixture scale, and a real deployment sizes (or
      // rebuckets) its journal to the observed edge volume too. The
      // SizeFromBatch sentinel derives the count from the commit's own
      // stats probe — the separate pairs.count() action this used to
      // pay (one full pipeline materialization) is gone.
      graft.streaming.StreamingClusters.updateBatch(store,
        nBuckets = graft.ops.DimStore.SizeFromBatch)(
        pairs.toDF(), 0L)
      val ids = docs(s, dir).filter($"doc_id" % 7 === 0)
        .select($"doc_id".as("id"))
      graft.streaming.StreamingClusters.deleteNodes(s, store, ids)
      graft.streaming.StreamingClusters.labels(s, store)
        .select($"id".as("doc_id"), $"rep".as("cluster_rep"))
        .orderBy($"doc_id")
    },
    Some(s"""
      WITH RECURSIVE $NeardupPairsSqlCtes,
      kept AS (
        -- the surviving evidence: every pair incident to a taken-down
        -- doc is deleted from the journal
        SELECT doc_a, doc_b FROM pairs
        WHERE doc_a % 7 <> 0 AND doc_b % 7 <> 0
      ),
      edges AS (
        SELECT doc_a AS src, doc_b AS dst FROM kept
        UNION
        SELECT doc_b, doc_a FROM kept
      ),
      reach(src, dst) AS (
        SELECT src, dst FROM edges
        UNION
        SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
      )
      SELECT src AS doc_id, LEAST(src, MIN(dst)) AS cluster_rep
      FROM reach GROUP BY src ORDER BY 1
    """))

  // ---------------------------------------------------------------------
  // x97 — the MAINTAINED-route takedown twin of x96. The label table
  // holds only the (id, rep) star — no pairwise evidence — so its
  // takedown semantics deliberately DIFFER from the journal route's:
  // survivors KEEP their transitive component (they cannot re-split;
  // the edges are gone), and a component whose rep was taken down
  // re-elects the minimum surviving member. Oracle: transitive
  // closure over ALL pairs → drop the taken-down ids → re-elect
  // min(surviving) per original component. Grades
  // updateBatchMaintained + deleteNodesMaintained (the stale-batchId-
  // guarded DataFrame route) end-to-end, cross-engine — together
  // with x96 both takedown routes now sit under the oracle gate.
  lazy val x97 = Q(
    "x97_cluster_takedown_maintained",
    (s, dir) => persisted(s, "x97_labels", dir) {
      import s.implicits._
      val store = java.nio.file.Files
        .createTempDirectory("x97_labels").toString + "/labels"
      val pairs = neardupPairs(s, dir)
        .select($"doc_a".as("keeperId"), $"doc_b".as("dupId"))
      // label-table fan-out sized to the batch (x96's rationale, via
      // the same SizeFromBatch sentinel — no separate count() action)
      graft.streaming.StreamingClusters
        .updateBatchMaintained(store,
          nBuckets = graft.ops.DimStore.SizeFromBatch)(
          pairs.toDF(), 0L)
      val ids = docs(s, dir).filter($"doc_id" % 7 === 0)
        .select($"doc_id".as("id"))
      graft.streaming.StreamingClusters
        .deleteNodesMaintained(s, store, ids, batchId = 1L)
      graft.streaming.StreamingClusters.maintainedLabels(s, store)
        .select($"id".as("doc_id"), $"rep".as("cluster_rep"))
        .orderBy($"doc_id")
    },
    Some(s"""
      WITH RECURSIVE $NeardupLabelSqlCtes,
      surv AS (
        SELECT doc_id, cluster_rep FROM lab WHERE doc_id % 7 <> 0
      ),
      newrep AS (
        -- a surviving rep IS its component's minimum, so min(survivor)
        -- equals it; a taken-down rep's component re-elects
        SELECT cluster_rep, MIN(doc_id) AS nrep FROM surv GROUP BY 1
      )
      SELECT s.doc_id, n.nrep AS cluster_rep
      FROM surv s JOIN newrep n USING (cluster_rep)
      ORDER BY 1
    """))

}
