package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.core.Tables
import graft.queries.Registry

/** Dialect-parity differential: the same oracle SQL the driver runs in
  * DuckDB is also run through spark.sql over temp views, and compared
  * row-for-row with the DataFrame-API implementation. Queries written in
  * portable ANSI SQL must agree across all three engines (DataFrame plan,
  * Spark SQL, DuckDB); DuckDB-only constructs (strftime, epoch_us,
  * list_*, ::casts) are expected to fail to parse and are skipped — the
  * pinned list below is the portable core that must keep passing. */
class SqlParitySpec extends AnyFunSuite with Matchers with SparkFixture {

  /** Oracles known to be ANSI enough for Spark SQL; parity is REQUIRED
    * for these. Extend as queries are added. */
  private val pinned = Set(
    "q01_pricing_summary", "q02_filter_project", "q03_star_join_broadcast",
    "q04_fact_join", "q05_semi_join", "q06_anti_join", "q07_outer_join",
    "q09_window_topn_per_key", "q10_window_running", "q11_rollup",
    "q12_cube", "q13_grouping_sets", "q14_set_ops", "q18_string_functions",
    "q19_conditional_agg", "q20_topk", "q21_pivot",
    "q23_correlated_subquery", "q26_grouping_id", "q27_preagg_join",
    "q29_range_join", "q31_funnel", "q33_multi_exists",
    "q34_above_avg_never_error", "q35_rank_functions",
    "q37_full_outer_join", "q38_unpivot", "x31_edit_distance_neardup",
    "w01_cdc_op_filter", "w02_dirty_side_output", "w03_five_way_split",
    "w12_json_serialize", "x15_length_histogram", "x19_zorder_curve",
    "x20_stratified_sample", "x21_train_val_split", "x24_approx_distinct",
    "x27_hll_sketch_rollup")

  private def canon(v: Any): String = v match {
    case null => "NULL"
    case d: Double => f"$d%.6g"
    case f: Float => f"$f%.6g"
    case b: java.math.BigDecimal => b.stripTrailingZeros.toPlainString
    case x => x.toString
  }

  test("oracle SQL runs unmodified through spark.sql and matches the DataFrame plan") {
    val s = spark
    val dir = sf0001
    // every fixture table as a temp view, under the name the oracle
    // SQL reads
    Tables.names.foreach(n => Tables.load(s, dir, n).createOrReplaceTempView(n))
    var matched = List.empty[String]
    var mismatched = List.empty[String]
    var skipped = List.empty[String]
    Registry.all.foreach { q =>
      q.oracle.foreach { sql =>
        val viaSql =
          try Some(s.sql(sql))
          catch { case _: Exception => None } // DuckDB-only syntax
        viaSql match {
          case None => skipped ::= q.name
          case Some(df) =>
            def rows(d: org.apache.spark.sql.DataFrame): Seq[String] = {
              val cols = d.columns.sorted
              d.collect().map(r =>
                cols.map(c => canon(r.get(r.fieldIndex(c)))).mkString("|"))
                .toSeq.sorted
            }
            // the DataFrame implementation is the PRODUCT — its failure
            // is never a dialect skip; let it fail the test loudly
            val dfRows = rows(q.run(s, dir))
            try {
              if (rows(df) == dfRows) matched ::= q.name
              else mismatched ::= q.name
            } catch {
              // oracle parses but uses a function with different
              // runtime semantics/typing — non-portable, skipped
              case _: Exception => skipped ::= q.name
            }
        }
      }
    }
    info(s"matched (${matched.size}): ${matched.sorted.mkString(", ")}")
    info(s"mismatched (${mismatched.size}): ${mismatched.sorted.mkString(", ")}")
    info(s"skipped (${skipped.size}): ${skipped.sorted.mkString(", ")}")
    // every pinned query must run via spark.sql AND agree with the
    // DataFrame implementation
    (pinned -- matched.toSet) shouldBe empty
    // anything that runs through spark.sql but DISAGREES with the
    // DataFrame plan is a real dialect/semantics bug — fail loudly
    mismatched shouldBe empty
  }
}
