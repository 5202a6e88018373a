package graft.tools

import org.apache.spark.sql.functions._

/** Cross-PROCESS commit-race probe (dev-side, NOT part of the driver
  * contract). `VersionedStoreSpec` races concurrent committers inside
  * one JVM; that cannot distinguish a truly filesystem-atomic claim
  * from one accidentally serialized by in-process locks. This probe
  * runs the same race from SEPARATE JVMs against a shared store, so
  * the only thing standing between two simultaneous committers and a
  * lost update is the posix hard-link create-if-absent itself — the
  * primitive the commit protocol's scaladoc stakes its correctness on.
  *
  * Modes:
  *  - `write <path> <writerId> <n>`: n single-pk upsert commits
  *    (pks namespaced by writer, values carry writer+seq).
  *  - `check <path> <writers> <n>`: asserts the log is the GAPLESS
  *    chain 1..writers·n (every lost race retried, no version
  *    overwritten, none skipped) and every writer's every pk holds its
  *    final value (no batch's effects dropped). Prints one JSON line;
  *    exits nonzero on violation.
  *
  * Drive it: `sbt package`, then two parallel spark-submit `write`
  * invocations followed by one `check` (see SCALEPROBE.md).
  */
object RaceProbe {
  def main(args: Array[String]): Unit = {
    val mode = args(0)
    val path = args(1)
    val spark = graft.core.GraftSession.builder("RaceProbe", cores = 8).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._
    mode match {
      case "write" =>
        val writer = args(2).toInt
        val n = args(3).toInt
        (1 to n).foreach { i =>
          graft.ops.DimStore.upsert(spark, path,
            Seq((writer * 100000L + i, s"w$writer-$i", i.toLong))
              .toDF("id", "payload", "ver"),
            "id", "ver", nBuckets = 4)
        }
        println(s"""{"probe":"race_write","writer":$writer,"commits":$n}""")
      case "check" =>
        val writers = args(2).toInt
        val n = args(3).toInt
        val vs = graft.ops.DimStore.history(path)
        val expectVs = (1L to (writers.toLong * n))
        val gapless = vs == expectVs
        val rows = graft.ops.DimStore.read(spark, path)
          .select($"id", $"payload").as[(Long, String)].collect().toMap
        val allPresent = (1 to writers).forall(w => (1 to n).forall(i =>
          rows.get(w * 100000L + i).contains(s"w$w-$i")))
        println(s"""{"probe":"race_check","versions":${vs.size},""" +
          s""""expected":${expectVs.size},"gapless":$gapless,""" +
          s""""rows":${rows.size},"all_effects_present":$allPresent}""")
        if (!gapless || !allPresent) {
          spark.stop()
          sys.exit(1)
        }
      case other => sys.error(s"unknown mode '$other' (write|check)")
    }
    spark.stop()
  }
}
