package graft.ops

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Encoder, Encoders, Row}
import org.apache.spark.sql.functions.col

/** Per-key top-k with map-side pruning.
  *
  * The window-function form (`row_number() over (partition by k order
  * by v) <= n`, q09) shuffles EVERY row and sorts each partition;
  * Spark's global `TakeOrderedAndProject` (q20) does bounded heaps but
  * only for a single global key. This operator brings the heap trick
  * to the per-key case:
  *
  *   partition-local bounded heaps  →  shuffle ≤ k rows · key · partition
  *   →  per-key merge with the same heaps
  *
  * At 100 TB with, say, k=3 and 10⁶ rows per key, the exchange moves
  * ~k/rows-per-key-per-partition of the data the window form would.
  * Heap memory is bounded at k · |keys in partition|.
  *
  * Results equal the window form under the same total order (ties
  * must be broken by the `order` columns for determinism).
  */
object TopK {

  /** @param order (column, ascending) pairs; the first k rows of this
    *              order are kept per key. */
  def perKey(df: DataFrame, keyCols: Seq[String],
             order: Seq[(String, Boolean)], k: Int): DataFrame = {
    require(k > 0, "k must be positive")
    val schema = df.schema
    val keyIdx = keyCols.map(schema.fieldIndex).toArray
    val ordIdx = order.map { case (c, asc) => (schema.fieldIndex(c), asc) }.toArray
    implicit val enc: Encoder[Row] = Encoders.row(schema)

    // total order over the ordering columns; nulls first (matches the
    // default NULLS FIRST of ascending sorts)
    val cmp: Ordering[Row] = (a: Row, b: Row) => {
      var i = 0
      var res = 0
      while (i < ordIdx.length && res == 0) {
        val (idx, asc) = ordIdx(i)
        val av = a.get(idx)
        val bv = b.get(idx)
        val c =
          if (av == null && bv == null) 0
          else if (av == null) -1
          else if (bv == null) 1
          else av.asInstanceOf[Comparable[Any]].compareTo(bv)
        res = if (asc) c else -c
        i += 1
      }
      res
    }

    // keep the k cmp-least rows per key (max-heap head = worst kept)
    def prune(it: Iterator[Row]): Iterator[Row] = {
      val heaps = mutable.HashMap.empty[Seq[Any], mutable.PriorityQueue[Row]]
      it.foreach { r =>
        val key = keyIdx.map(r.get(_)).toSeq
        val h = heaps.getOrElseUpdate(key, mutable.PriorityQueue.empty(cmp))
        if (h.size < k) h.enqueue(r)
        else if (cmp.compare(r, h.head) < 0) { h.dequeue(); h.enqueue(r) }
      }
      heaps.valuesIterator.flatMap(_.iterator)
    }

    df.mapPartitions(prune)               // map-side: ≤ k per key per partition
      .repartition(keyCols.map(col): _*)  // one shuffle, pruned payload
      .mapPartitions(prune)               // final per-key merge
  }

  /** The same operator as a first-class plan node
    * (graft.plans.TopKPerKey → partial/final TopKPerKeyExec), planned
    * by Catalyst via the strategy `GraftExtensions` injects into every
    * `GraftSession.builder` session. On a session whose planner lacks
    * that strategy (a plain session) this is [[perKey]] over the same
    * frame — the same rows — and the session is left as it was. Prefer
    * this form where the planner must see the operator (e.g. under
    * further rule rewrites); `perKey` where a library-level transform
    * suffices. */
  def perKeyPlanned(df: DataFrame, keyCols: Seq[String],
                    order: Seq[(String, Boolean)], k: Int): DataFrame = {
    import org.apache.spark.sql.catalyst.expressions.{Ascending, Descending, SortOrder}
    import graft.plans.{TopKPerKey, TopKPerKeyStrategy}
    val spark = df.sparkSession
    if (!spark.sessionState.planner.strategies.contains(TopKPerKeyStrategy))
      perKey(df, keyCols, order, k)
    else {
      val analyzed = df.queryExecution.analyzed
      def attr(name: String) = analyzed.output.find(_.name == name).getOrElse(
        throw new IllegalArgumentException(s"column $name not in ${analyzed.output.map(_.name)}"))
      val sortOrder = order.map { case (c, asc) =>
        SortOrder(attr(c), if (asc) Ascending else Descending) }
      org.apache.spark.sql.GraftPlanBridge.ofRows(spark,
        TopKPerKey(k, keyCols.map(attr), sortOrder, analyzed))
    }
  }
}
