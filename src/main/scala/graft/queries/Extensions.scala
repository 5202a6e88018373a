package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.core.Tables

/** LLM-training-data pipeline operators over the `documents` and
  * `embeddings` fixtures: deduplication (exact, MinHash+LSH [Broder,
  * "On the resemblance and containment of documents", 1997], SimHash
  * [Charikar, "Similarity estimation techniques from rounding
  * algorithms", STOC 2002], n-gram Jaccard), similarity search
  * (brute-force + LSH-bucketed + IVF ANN), and text analysis (stats,
  * language-ID, tokenization, fingerprints [Schleimer/Wilkerson/Aiken,
  * "Winnowing: local algorithms for document fingerprinting", SIGMOD
  * 2003]).
  *
  * Every operator is designed for the 100 TB shape first:
  *   - no all-pairs `crossJoin` anywhere — candidate generation is always
  *     an equi-join on a bucket key (LSH band, sign-bit bucket, bounded
  *     blocking key), so the shuffle is keyed and skew-safe;
  *   - per-document work (shingling, hashing, stats) is a narrow map —
  *     scales linearly, no shuffle;
  *   - similarity verification runs only on candidate pairs.
  *
  * Determinism: all similarity scores are reported as round(1e6*x)
  * BIGINT ("ppm") so the DuckDB hash-compare never sees raw doubles,
  * and all hashes are md5/sha256 hex (identical in both engines).
  */
object Extensions extends ExtensionsDedup with ExtensionsAnn
    with ExtensionsTextQuality with ExtensionsTextVocab
    with ExtensionsSketches {

  private[queries] def docs(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "documents")
  private[queries] def emb(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "embeddings")

  /** Bounded persist: one cached copy per (session, label, dir), so
    * repeated runs of the same query reuse one materialization instead
    * of stranding a new cached copy per invocation. Sessions key a
    * WeakHashMap — a stopped/collected session's entries go with it
    * (no leak, no identity-hash collision with a later session). */
  private[queries] lazy val persistCaches =
    new java.util.WeakHashMap[SparkSession,
      scala.collection.concurrent.TrieMap[(String, String), DataFrame]]()
  private[queries] def persisted(s: SparkSession, label: String, dir: String)
                       (build: => DataFrame): DataFrame = {
    val cache = persistCaches.synchronized {
      var c = persistCaches.get(s)
      if (c == null) {
        c = scala.collection.concurrent.TrieMap.empty
        persistCaches.put(s, c)
      }
      c
    }
    // MEMORY_AND_DISK, not the default MEMORY_ONLY: DataFrame caches
    // are compressed columnar batches at any level (so there is no
    // object-graph GC cost to avoid, and _SER would only add a serde
    // pass per access), but MEMORY_ONLY silently DROPS batches under
    // memory pressure and recomputes them per access — with 30
    // extension queries' intermediates cached in one bench JVM, the
    // drop-recompute spiral is what turned x30 into a 25 s outlier.
    // Spilling the overflow to disk keeps rebuilds bounded.
    cache.getOrElseUpdate((label, dir),
      build.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
  }

  /** Unpersist and forget every cached intermediate — Bench calls this
    * between its warm-up and timed passes so timed numbers include the
    * (dominant) cache-build cost instead of reusing warm-up state. */
  def clearPersistedIntermediates(): Unit = persistCaches.synchronized {
    val it = persistCaches.values().iterator()
    while (it.hasNext) {
      it.next().values.foreach { df =>
        // blocking: async eviction would leave the previous query's
        // blocks resident (and their removal running) inside the NEXT
        // query's timed window — the cross-query interference this
        // hook exists to remove
        try df.unpersist(blocking = true) catch { case _: Throwable => () }
      }
    }
    persistCaches.clear()
  }

  /** Rows of the `documents` corpus under `dir`, counted once per
    * session and dir (a cached, metadata-only count). Sessions key a
    * WeakHashMap, as in [[persistCaches]]: two sessions never share an
    * entry, and a collected session's counts go with it. */
  private lazy val corpusCounts =
    new java.util.WeakHashMap[SparkSession,
      java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]]()
  private[queries] def corpusCount(s: SparkSession, dir: String): Long =
    corpusCounts.synchronized(corpusCounts.computeIfAbsent(s,
      _ => new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()))
      .computeIfAbsent(dir, _ => java.lang.Long.valueOf(docs(s, dir).count()))
      .longValue

  /** Capacity that provably keeps a QuantileSketch in its EXACT regime
    * for this dataset: compaction first fires past `capacity` values,
    * so capacity ≥ corpus row count ⇒ the summary retains every value
    * and the reported quantiles are exactly the nearest-rank order
    * statistics — the invariant the plain-SQL oracles of
    * x47/x50/x55/x56/x64 rely on. This used to be a fixture-size
    * convention (1024 ≥ 500 docs at sf0.01) that nothing enforced —
    * at sf0.1 the global sketches would have silently left the exact
    * regime; deriving capacity from a (cached, metadata-only) corpus
    * count enforces it at any graded scale. The approximate regime —
    * the actual 100 TB operating mode, bounded capacity + KLL
    * rank-error bound — is pinned separately by QuantileSketchSpec;
    * a corpus too large to hold exactly fails loudly here rather
    * than silently approximating against an exact-rank oracle. */
  private[queries] def exactSketchCapacity(s: SparkSession, dir: String): Int = {
    val n = corpusCount(s, dir)
    require(n <= (1L << 24),
      s"exact-regime sketch requested for $n rows; " +
      "switch the query to the approximate regime and an error-banded oracle")
    math.max(1024L, n).toInt
  }

  def queries: Seq[Q] = Seq(
    x01, x02, x03, x04, x05, x06, x07, x08, x09, x10, x11, x12, x13, x14,
    x15, x16, x17, x18, x19, x20, x21, x22, x23, x24, x25, x26, x27, x28,
    x29, x30, x31, x32, x33, x34, x35, x36, x37, x38, x39, x40, x41, x42,
    x43, x44, x45, x46, x47, x48, x49, x50, x51, x52, x53, x54, x55, x56,
    x57, x58, x59, x60, x61, x62, x63, x64, x65, x66, x67, x68, x69, x70,
    x71, x72, x73, x74, x75, x76, x77, x78, x79, x80, x81, x82, x83, x84,
    x85, x86, x87, x88, x89, x90, x91, x92, x93, x94, x95, x96, x97)
}
