package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Dev-side connected-components scaling probe (NOT part of the driver
  * contract): measures, with wall-clock and round counts, why the
  * engine carries BOTH component algorithms — x28's min-label
  * propagation (one hop per round ⇒ O(diameter) rounds) and x73's
  * large-star/small-star contraction (height halves per round pair ⇒
  * O(log n) rounds, shrinking edge set).
  *
  * Shapes probed:
  *   - `chain n`: a single n-node path — the adversarial shape a
  *     shared boilerplate template produces in a crawl corpus.
  *     Propagation needs ~diameter rounds (capped here, reported DNF);
  *     contraction stays logarithmic.
  *   - `rand n e`: e random edges over n nodes — the realistic
  *     near-dup shape (many tiny components). Both converge fast; the
  *     probe shows contraction is not paying for its generality.
  *
  * Prints one JSON line per (shape, algo) run:
  *   {"shape":…,"n":…,"edges":…,"algo":"star"|"prop","rounds":…,
  *    "converged":…,"components":…,"sec":…}
  *
  * Usage: runMain graft.tools.CcProbe [propCap]
  */
object CcProbe {
  def main(args: Array[String]): Unit = {
    val propCap = args.headOption.map(_.toInt).getOrElse(64)
    val spark = graft.core.GraftSession.builder("CcProbe").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._

    def chain(n: Long): DataFrame =
      spark.range(0, n - 1).select($"id".as("a"), ($"id" + 1).as("b"))

    /** Deterministic pseudo-random edges (Knuth multiplicative hash of
      * the row index — reproducible run-to-run, no RNG). */
    def rand(n: Long, e: Long): DataFrame =
      spark.range(0, e).select(
        pmod($"id" * 2654435761L, lit(n)).as("a"),
        pmod(($"id" + 7919L) * 2246822519L, lit(n)).as("b"))

    /** x28's propagation loop, generalized to an (a,b) edge frame —
      * same seeded-first-hop + min-agg round + label-sum witness. */
    def propagate(edges: DataFrame, cap: Int): (Long, Int, Boolean) = {
      val sym = edges.union(edges.select($"b".as("a"), $"a".as("b")))
        .filter($"a" =!= $"b").toDF("src", "dst").localCheckpoint(true)
      var labels = sym.groupBy($"src").agg(min($"dst").as("mn"))
        .select($"src".as("id"), least($"src", $"mn").as("lbl"))
        .localCheckpoint(true)
      def lblSum(df: DataFrame): Long =
        df.agg(coalesce(sum($"lbl"), lit(0L))).head().getLong(0)
      var prev = lblSum(labels)
      var rounds = 0
      var done = false
      while (!done && rounds < cap) {
        val nbr = sym.join(labels, sym("dst") === labels("id"))
          .groupBy(sym("src").as("nid")).agg(min(labels("lbl")).as("nbr_lbl"))
        val next = labels.join(nbr, labels("id") === nbr("nid"), "left")
          .select(labels("id"),
            least(labels("lbl"), coalesce($"nbr_lbl", labels("lbl"))).as("lbl"))
          .localCheckpoint(true)
        val cur = lblSum(next)
        labels.unpersist()
        labels = next
        done = cur == prev
        prev = cur
        rounds += 1
      }
      val comps = labels.select(countDistinct($"lbl")).head().getLong(0)
      labels.unpersist(); sym.unpersist()
      (comps, rounds, done)
    }

    def star(edges: DataFrame): (Long, Int, Boolean) = {
      val labels = graft.ops.ConnectedComponents.starContraction(edges)
      val comps = labels.select(countDistinct($"rep")).head().getLong(0)
      val rounds = graft.ops.ConnectedComponents.lastRounds.get()
      labels.unpersist()
      (comps, rounds, true)
    }

    def run(shape: String, n: Long, edges: DataFrame,
            algos: Seq[String] = Seq("star", "prop")): Unit = {
      val eCount = edges.count()
      for (algo <- algos) {
        val t0 = System.nanoTime()
        val (comps, rounds, converged) =
          if (algo == "star") star(edges) else propagate(edges, propCap)
        val sec = (System.nanoTime() - t0) / 1e9
        println(f"""{"shape":"$shape","n":$n,"edges":$eCount,"algo":"$algo","rounds":$rounds,"converged":$converged,"components":$comps,"sec":$sec%.2f}""")
      }
    }

    run("chain", 1024, chain(1024))
    run("chain", 4096, chain(4096))
    run("rand", 100000, rand(100000, 80000))
    run("rand", 1000000, rand(1000000, 800000))
    // `big` arg: the ×100 star-only point (propagation at this scale
    // would spend its 64-round cap on ~hour-long join churn — the
    // probe's table already shows it DNFs two orders of magnitude
    // earlier)
    if (args.contains("big"))
      run("rand", 10000000, rand(10000000L, 8000000L), Seq("star"))
    spark.stop()
  }
}
