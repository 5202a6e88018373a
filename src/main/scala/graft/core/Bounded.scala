package graft.core

import org.apache.spark.sql.{DataFrame, Row}

/** Driver collects with a stated bound. */
object Bounded {
  /** All rows of `df` if it has at most `bound` of them, else `None`:
    * one `limit(bound + 1).collect()`, so at most `bound + 1` rows ever
    * reach the driver and a short result is the whole frame. */
  def collect(df: DataFrame, bound: Int): Option[Array[Row]] = {
    val rows = df.limit(bound + 1).collect()
    if (rows.length > bound) None else Some(rows)
  }
}
