package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Dev-side connected-components scaling probe (NOT part of the driver
  * contract): wall-clock and round counts of
  * [[graft.ops.ConnectedComponents.starContraction]] (height halves
  * per round pair ⇒ O(log n) rounds, shrinking edge set) on graphs
  * the fixtures do not reach.
  *
  * Shapes probed:
  *   - `chain n`: a single n-node path — the adversarial shape a
  *     shared boilerplate template produces in a crawl corpus; the
  *     round count stays logarithmic.
  *   - `rand n e`: e random edges over n nodes — the realistic
  *     near-dup shape (many tiny components). At 800k edges and above
  *     these are the only runs that take the distributed loop (past
  *     `ConnectedComponents.DriverFoldMaxEdges`).
  *
  * Prints one JSON line per shape:
  *   {"shape":…,"n":…,"edges":…,"rounds":…,"components":…,"sec":…}
  *
  * Usage: runMain graft.tools.CcProbe [big]   (`big` adds the
  * 10M-node, 8M-edge random graph)
  */
object CcProbe {
  def main(args: Array[String]): Unit = {
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

    def run(shape: String, n: Long, edges: DataFrame): Unit = {
      val eCount = edges.count()
      val t0 = System.nanoTime()
      val labels = graft.ops.ConnectedComponents.starContraction(edges)
      val comps = labels.select(countDistinct($"rep")).head().getLong(0)
      val rounds = graft.ops.ConnectedComponents.lastRounds.get()
      labels.unpersist()
      val sec = (System.nanoTime() - t0) / 1e9
      println(f"""{"shape":"$shape","n":$n,"edges":$eCount,"rounds":$rounds,"components":$comps,"sec":$sec%.2f}""")
    }

    run("chain", 1024, chain(1024))
    run("chain", 4096, chain(4096))
    run("rand", 100000, rand(100000, 80000))
    run("rand", 1000000, rand(1000000, 800000))
    if (args.contains("big"))
      run("rand", 10000000, rand(10000000L, 8000000L))
    spark.stop()
  }
}
