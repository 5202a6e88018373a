package graft.plans

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan, Project, Window}
import org.apache.spark.sql.catalyst.rules.Rule

/** Optimizer rule: rewrite the ubiquitous top-n-per-group idiom
  *
  *   SELECT <cols, no rn> FROM (
  *     SELECT *, row_number() OVER (PARTITION BY p ORDER BY o) rn …)
  *   WHERE rn <= k
  *
  * into the [[TopKPerKey]] operator, whose partial/final heap execution
  * shuffles at most k rows per key per partition instead of sorting and
  * shuffling everything (see TopKPerKey.scala). Users keep writing the
  * window form; the planner takes the cheap path.
  *
  * Matched shapes:
  *   - Project(Filter(Window)) — the DataFrame-native form;
  *   - Project(Filter(Project(Window))) — the SQL-subquery form, where
  *     an inner projection passes rn through by attribute and an outer
  *     one drops it;
  *   - `rank() = 1` in either shape → TopKPerKey(k = 1, withTies):
  *     rank keeps every row tying the best sort value, which the
  *     operator reproduces exactly — NOT rewritten to row_number
  *     semantics, which would pick an arbitrary single winner among
  *     ties. (rank() <= k for k > 1 is left to the window form: its
  *     "k-th distinct value plus ties" frontier doesn't fit a bounded
  *     heap.)
  *
  * Guards (rewrite only when provably equivalent):
  *   - a single row_number/rank window expression, its attribute used
  *     ONLY in the limit filter and absent from the projection above
  *     (for the subquery form: passed through the inner projection as a
  *     bare attribute, referenced by no other projected expression);
  *   - non-empty partition and order specs (a global window would put
  *     every row on one key — the window form is equally degenerate,
  *     but we leave it alone).
  *
  * Registered via GraftExtensions (injectOptimizerRule) or
  * `spark.experimental.extraOptimizations`; a session runs the window
  * form unrewritten with
  * `spark.sql.optimizer.excludedRules=graft.plans.RowNumberTopKRewrite`.
  */
object RowNumberTopKRewrite extends Rule[LogicalPlan] {

  private def limitOf(cond: Expression, rn: Attribute): Option[Int] = cond match {
    case LessThanOrEqual(a: Attribute, Literal(v: Int, _)) if a.semanticEquals(rn) => Some(v)
    case LessThan(a: Attribute, Literal(v: Int, _)) if a.semanticEquals(rn) => Some(v - 1)
    case EqualTo(a: Attribute, Literal(1, _)) if a.semanticEquals(rn) => Some(1)
    case _ => None
  }

  private def rankKind(e: Expression): Option[Boolean] = e match {
    case WindowExpression(_: RowNumber, _) => Some(false) // withTies = false
    case WindowExpression(_: Rank, _) => Some(true)       // withTies = true
    case _ => None
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    // DataFrame form: the filter sits directly on the window
    case p @ Project(projectList,
        Filter(cond,
          Window(Seq(alias @ Alias(we, _)), partitionSpec, orderSpec, child, _)))
        if rankKind(we).isDefined && partitionSpec.nonEmpty && orderSpec.nonEmpty =>
      val rn = alias.toAttribute
      val ties = rankKind(we).get
      limitOf(cond, rn) match {
        case Some(k) if k > 0 && (!ties || k == 1) &&
            !projectList.exists(_.references.contains(rn)) =>
          Project(projectList,
            TopKPerKey(k, partitionSpec, orderSpec, child, withTies = ties))
        case _ => p
      }

    // SQL-subquery form: an inner projection between filter and window
    // passes rn through; the outer projection drops it
    case p @ Project(outerList,
        Filter(cond,
          Project(innerList,
            Window(Seq(alias @ Alias(we, _)), partitionSpec, orderSpec, child, _))))
        if rankKind(we).isDefined && partitionSpec.nonEmpty && orderSpec.nonEmpty =>
      val rn = alias.toAttribute
      val ties = rankKind(we).get
      // rn may only appear in the inner list as a bare pass-through
      // attribute; any expression COMPUTED from it blocks the rewrite
      val rnPassThrough = innerList.collect {
        case a: Attribute if a.semanticEquals(rn) => a
      }
      val othersCleanOfRn = innerList.forall {
        case a: Attribute => true
        case e => !e.references.contains(rn)
      }
      limitOf(cond, rn) match {
        case Some(k) if k > 0 && (!ties || k == 1) &&
            rnPassThrough.nonEmpty && othersCleanOfRn &&
            !outerList.exists(_.references.contains(rn)) =>
          val innerNoRn = innerList.filterNot {
            case a: Attribute => a.semanticEquals(rn)
            case _ => false
          }
          Project(outerList,
            Project(innerNoRn,
              TopKPerKey(k, partitionSpec, orderSpec, child, withTies = ties)))
        case _ => p
      }
  }
}
