package graft.functions

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** Engine extension installer — the supported hook for native
  * functions, planner strategies and optimizer rules. Every graft
  * session gets it from [[graft.core.GraftSession.builder]]; a foreign
  * session can add it with
  * `spark.sql.extensions=graft.functions.GraftExtensions`.
  *
  * After installation `vec_cosine(a, b)` is available in SQL and
  * `expr("vec_cosine(...)")`, planned as a native codegen'd expression.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction(GraftExtensions.vecCosine)
    ext.injectFunction(GraftExtensions.ngrams)
    ext.injectFunction(GraftExtensions.charStats)
    ext.injectFunction(GraftExtensions.charBigrams)
    ext.injectPlannerStrategy(_ => graft.plans.TopKPerKeyStrategy)
    ext.injectOptimizerRule(_ => graft.plans.RowNumberTopKRewrite)
  }
}

object GraftExtensions {
  /** Arity guard for binary function builders: SQL like `ngrams(arr)`
    * must surface as an AnalysisException naming the expected
    * signature, not an IndexOutOfBoundsException from `children(1)`. */
  private def binary(name: String)(f: (Expression, Expression) => Expression)
      : Seq[Expression] => Expression = {
    case Seq(a, b) => f(a, b)
    case other => throw new org.apache.spark.sql.AnalysisException(
      errorClass = "WRONG_NUM_ARGS.WITHOUT_SUGGESTION",
      messageParameters = Map(
        "functionName" -> s"`$name`",
        "expectedNum" -> "2",
        "actualNum" -> other.size.toString,
        "docroot" -> "https://spark.apache.org/docs/latest"))
  }

  private val vecCosine = (
    new FunctionIdentifier("vec_cosine"),
    new ExpressionInfo(classOf[VecCosine].getName, null, "vec_cosine",
      "vec_cosine(a, b) - cosine similarity of two float vectors",
      "", "", "", "", "", "", "built-in"),
    binary("vec_cosine")(VecCosine(_, _)))

  private val ngrams = (
    new FunctionIdentifier("ngrams"),
    new ExpressionInfo(classOf[NGramsGenerator].getName, null, "ngrams",
      "ngrams(tokens, n) - table function generating joined token n-grams",
      "", "", "", "", "", "", "built-in"),
    binary("ngrams")(NGramsGenerator(_, _)))

  private def unary(name: String)(f: Expression => Expression)
      : Seq[Expression] => Expression = {
    case Seq(a) => f(a)
    case other => throw new org.apache.spark.sql.AnalysisException(
      errorClass = "WRONG_NUM_ARGS.WITHOUT_SUGGESTION",
      messageParameters = Map(
        "functionName" -> s"`$name`",
        "expectedNum" -> "1",
        "actualNum" -> other.size.toString,
        "docroot" -> "https://spark.apache.org/docs/latest"))
  }

  private val charStats = (
    new FunctionIdentifier("char_stats"),
    new ExpressionInfo(classOf[CharStats].getName, null, "char_stats",
      "char_stats(s) - [code_points, distinct_code_points, sum n_c*(n_c-1)]",
      "", "", "", "", "", "", "built-in"),
    unary("char_stats")(CharStats(_)))

  private val charBigrams = (
    new FunctionIdentifier("char_bigrams"),
    new ExpressionInfo(classOf[CharBigrams].getName, null, "char_bigrams",
      "char_bigrams(s) - distinct adjacent code-point pairs packed as (a << 21) | b",
      "", "", "", "", "", "", "built-in"),
    unary("char_bigrams")(CharBigrams(_)))
}
