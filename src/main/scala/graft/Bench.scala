package graft
import org.apache.spark.sql.SparkSession

/** Benchmark main: times every registered query on SPARK_GRAFT_SF_DIR and
  * prints ONE JSON line. Materializes through the noop sink so the full
  * plan (including final sorts and all projected columns) executes —
  * `.count()` would let Catalyst prune most of the work.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = core.GraftSession.builder("graft-bench")
      // ContextCleaner only reclaims dead broadcast/shuffle state when a
      // GC actually runs; its default periodic full GC is every 30 min —
      // longer than the whole bench. 200+ query executions accumulate
      // state faster than incidental GCs collect it (observed as 10-90x
      // late-registry inflation on an identical-code rerun).
      .config("spark.cleaner.periodicGC.interval", "1min")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    def runOnce(fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Unit =
      fn(spark, sfDir).write.format("noop").mode("overwrite").save()

    val qs = queries.Registry.all
    // "<class>: <message>" of each query's latest failure; a query that
    // fails in every timed run reports it on its BENCH_LAST.json row
    val errors = scala.collection.mutable.Map.empty[String, String]
    def recordFailure(q: queries.Q, phase: String, e: Throwable): Unit = {
      val msg = Option(e.getMessage).flatMap(_.linesIterator.nextOption()).getOrElse("")
      errors(q.name) = s"${e.getClass.getName}: $msg"
      System.err.println(s"[bench] ${q.name} failed ($phase): ${errors(q.name)}")
    }
    // Warm-up: JIT, parquet footer cache, codegen compilation. One light
    // pass over everything keeps the timed pass comparable run-to-run.
    // Caches clear per query here too — the same memory conditions the
    // timed pass runs under.
    val (c0, cms0) = (core.GraftSession.compiles, core.GraftSession.compileMs)
    qs.foreach { q =>
      try runOnce(q.run) catch { case e: Throwable => recordFailure(q, "warm-up", e) }
      queries.Extensions.clearPersistedIntermediates()
    }
    // Janino compiles of the warm-up pass: the distinct generated classes
    // one full pass needs, the working set GraftSession sizes its cache to.
    val warmupCompiles = core.GraftSession.compiles - c0
    val warmupCompileMs = core.GraftSession.compileMs - cms0
    // compiles and their ms inside each query's timed runs, all passes
    val compiled = scala.collection.mutable.Map.empty[String, (Long, Double)]
      .withDefaultValue((0L, 0.0))
    var sinceGc = 0
    def timeOne(q: queries.Q): Double = {
      val (c, cms) = (core.GraftSession.compiles, core.GraftSession.compileMs)
      val t0 = System.nanoTime()
      val ok = try { runOnce(q.run); true }
        catch { case e: Throwable => recordFailure(q, "timed", e); false }
      val dt = (System.nanoTime() - t0) / 1e9
      val (n, ms) = compiled(q.name)
      compiled(q.name) = (n + core.GraftSession.compiles - c,
        ms + core.GraftSession.compileMs - cms)
      // Release this query's cached intermediates BEFORE the next timed
      // query: leaving all 80+ queries' persisted blocks resident made
      // the unified memory manager squeeze execution memory for
      // late-registry queries (x12/x13 inflated 4-6x in r4's driver run
      // with no code change). Each query pays its own cache-build cost
      // inside its timed window; the unpersist itself is between
      // windows. Queries sharing an intermediate (x28 reuses x02's pair
      // table) rebuild it — the honest standalone cost of each.
      queries.Extensions.clearPersistedIntermediates()
      // Nudge the ContextCleaner between timed windows (after the
      // unpersist has dropped the references): broadcast and shuffle
      // state dies only at GC, and waiting for the periodic sweep still
      // let minutes of dead state pile up mid-run.
      sinceGc += 1
      if (sinceGc >= 16) { System.gc(); sinceGc = 0 }
      if (ok) dt else -1.0
    }
    def timedPass(): Seq[(String, Double)] = qs.map(q => q.name -> timeOne(q))
    // Two timed passes, min per query. The sandbox host shows multi-
    // second stall bursts (hypervisor-level: identical-code reruns
    // inflated DIFFERENT consecutive-in-time query blocks 10-90x while
    // guest load stayed low and cgroup throttle counters stayed zero).
    // A burst would have to hit the SAME query in BOTH passes to
    // survive the min — per-query steady-state capability is what the
    // number is for. A query that fails in both passes reports -1;
    // one clean pass is trusted.
    val p1 = timedPass()
    val p2 = timedPass()
    // Tie-break pass: a query whose two timings DIVERGE (>1.5x and
    // >0.3 s apart — one pass plausibly hit a burst) gets a THIRD
    // timed run, so a real regression is distinguishable from noise:
    // if the burst was noise, two of the three samples now agree and
    // the spread entry disappears; if all three disagree the query
    // stays flagged. Bounded extra cost: only flagged queries re-run.
    def diverges(a: Double, b: Double): Boolean =
      a >= 0 && b >= 0 &&
        math.max(a, b) > 1.5 * math.min(a, b) &&
        math.max(a, b) - math.min(a, b) > 0.3
    val flagged = p1.zip(p2).collect {
      case ((n, d1), (_, d2)) if diverges(d1, d2) || (d1 < 0) != (d2 < 0) => n
    }.toSet
    val p3: Map[String, Double] =
      qs.filter(q => flagged(q.name)).map(q => q.name -> timeOne(q)).toMap
    val samples: Seq[(String, Seq[Double])] = p1.zip(p2).map {
      case ((n, d1), (_, d2)) => n -> (Seq(d1, d2) ++ p3.get(n))
    }
    val results = samples.map { case (n, ss) =>
      val ok = ss.filter(_ >= 0)
      n -> (if (ok.isEmpty) -1.0 else ok.min)
    }
    // Locale.ROOT: the default-locale f-interpolator would print a
    // comma decimal separator on e.g. de_DE JVMs and break json.load
    def num(v: Double): String =
      String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    // Short per-query keys (the unique q##/w##/x## prefix): the harness
    // that consumes this line keeps only the final ~2000 chars of
    // output, and 81 full query names push the line's opening brace out
    // of that window, truncating it mid-object and failing the parse.
    // With 5-char keys the whole line is ~1.2 KB and fits with room for
    // the build tool's epilogue lines.
    def shortKey(name: String): String = name.split('_').head
    require(results.map(r => shortKey(r._1)).distinct.size == results.size,
      "short bench keys must stay unique")
    val qj = results.map { case (k, v) => "\"" + shortKey(k) + "\":" + num(v) }
      .mkString("{", ",", "}")
    val total = results.map(_._2).filter(_ >= 0).sum
    val failed = results.filter(_._2 < 0).map(_._1)
    val headlineNames = qs.filter(_.headline).map(_.name).toSet
    // a failed flagship query must not shrink the headline into a
    // better-looking number: mark the group invalid instead
    val headline =
      if (failed.exists(headlineNames)) -1.0
      else results.filter(r => headlineNames(r._1)).map(_._2).sum
    val failedJson = failed.map("\"" + shortKey(_) + "\"").mkString("[", ",", "]")
    // Min-of-N reports capability, but a reviewer must be able to tell
    // a stall-burst min from a stable timing. A spread entry survives
    // only when the TWO BEST samples still diverge — i.e. even after
    // the tie-break pass no two runs agree, so the timing is genuinely
    // unstable (or regressed mid-run), not one-burst noise. The JSON
    // line must stay small (the consumer parses only the tail of
    // stdout); full per-pass detail goes to the sidecar file.
    val spreadJson = samples.collect {
      case (n, ss) if ss.count(_ >= 0) >= 2 && {
        val sorted = ss.filter(_ >= 0).sorted
        diverges(sorted(0), sorted(1))
      } =>
        val sorted = ss.filter(_ >= 0).sorted
        "\"" + shortKey(n) + "\":" + num(sorted(1) - sorted(0))
    }.mkString("{", ",", "}")
    def passJson(p: Seq[(String, Double)]): String =
      p.map { case (k, v) => "\"" + shortKey(k) + "\":" + num(v) }
        .mkString("{", ",", "}")
    val p3Json = p3.toSeq.sortBy(_._1)
      .map { case (k, v) => "\"" + shortKey(k) + "\":" + num(v) }
      .mkString("{", ",", "}")
    try java.nio.file.Files.writeString(
      java.nio.file.Paths.get("target/bench_passes.json"),
      s"""{"sf":"$sfDir","pass1":${passJson(p1)},"pass2":${passJson(p2)},"pass3":$p3Json}""")
    catch { case _: java.io.IOException => () } // diagnostics only
    // BENCH_LAST.json — the machine-readable sidecar, committed per
    // round: the stdout line survives only as the tail of a build log
    // (whose parse has shipped as null since r10), so round-over-round
    // diffs read THIS file instead of re-parsing strings. Full query
    // names here (no tail-window budget), same `wall` as the line, plus
    // the compiles of each query's timed runs (0 once the codegen cache
    // holds the working set).
    val qjFull = results
      .map { case (k, v) =>
        val (n, ms) = compiled(k)
        val error = if (v < 0) ",\"error\":" + Verify.jsonString(errors(k)) else ""
        "\"" + k + "\":{\"wall\":" + num(v) + ",\"compiles\":" + n +
          ",\"compile_ms\":" + num(ms) + error + "}"
      }
      .mkString("{", ",", "}")
    val failedFull = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    try java.nio.file.Files.writeString(
      java.nio.file.Paths.get("BENCH_LAST.json"),
      s"""{"metric":"total","value":${num(total)},"unit":"sec","headline":${
        num(headline)},"failed":$failedFull,"warmup":{"compiles":$warmupCompiles,"compile_ms":${
        num(warmupCompileMs)}},"queries":$qjFull,"sf":"$sfDir"}""" + "\n")
    catch { case _: java.io.IOException => () } // diagnostics only
    println(s"""{"metric":"total","value":${num(total)},"unit":"sec","headline":${num(headline)},"failed":$failedJson,"spread":$spreadJson,"queries":$qj,"sf":"$sfDir"}""")
    spark.stop()
  }
}
