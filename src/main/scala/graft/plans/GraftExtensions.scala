package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, If, IsNull, Literal}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.IntegerType

/** SQL-surface registration for the engine's native expressions and
  * optimizer rules, installed by `spark.sql.extensions=
  * graft.plans.GraftExtensions` at session build (every session
  * `graft.Session` builds carries it).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    GraftFunctions.descriptors.foreach { case (ident, info, builder) =>
      e.injectFunction((ident, info, builder))
    }
    e.injectOptimizerRule(_ => HammingIdentityFold)
    e.injectOptimizerRule(_ => DotToNormSq)
  }
}

/** `Rule[LogicalPlan]` demo of the custom-optimization extension point:
  * `graft_hamming(x, x)` over a deterministic x folds to 0 (null-safe),
  * removing the byte-loop from the plan entirely. Registered via
  * [[GraftExtensions]].
  */
object HammingIdentityFold extends Rule[LogicalPlan] {
  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.transformAllExpressions {
      case StringHammingDistance(a, b) if a.deterministic && a.semanticEquals(b) =>
        If(IsNull(a), Literal(null, IntegerType), Literal(0, IntegerType))
    }
}

/** Algebraic strength reduction: `graft_dot(a, a)` over a deterministic
  * `a` IS `graft_norm_sq(a)` — one array traversal instead of a paired
  * walk, and the single-child form lets Catalyst's common-subexpression
  * elimination share it with an explicit norm column in the same
  * projection (the exact shape every cosine query in
  * `graft.operators.Similarity` produces).
  */
object DotToNormSq extends Rule[LogicalPlan] {
  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.transformAllExpressions {
      case LongArrayDot(a, b) if a.deterministic && a.semanticEquals(b) =>
        LongArrayNormSq(a)
    }
}

object GraftFunctions {

  /** SQL numeric literals arrive as Int/Long/Double OR as
    * `types.Decimal` (the parser's default for `0.5`); normalize.
    */
  private def litDouble(e: Expression): Double = e.eval() match {
    case d: org.apache.spark.sql.types.Decimal => d.toDouble
    case n: Number => n.doubleValue()
    case other => other.toString.toDouble
  }

  val descriptors: Seq[(FunctionIdentifier, ExpressionInfo,
      Seq[Expression] => Expression)] = Seq(
    (FunctionIdentifier("graft_hamming"),
      new ExpressionInfo(classOf[StringHammingDistance].getName, "graft_hamming"),
      (exprs: Seq[Expression]) => StringHammingDistance(exprs(0), exprs(1))),
    (FunctionIdentifier("graft_dot"),
      new ExpressionInfo(classOf[LongArrayDot].getName, "graft_dot"),
      (exprs: Seq[Expression]) => LongArrayDot(exprs(0), exprs(1))),
    (FunctionIdentifier("graft_norm_sq"),
      new ExpressionInfo(classOf[LongArrayNormSq].getName, "graft_norm_sq"),
      (exprs: Seq[Expression]) => LongArrayNormSq(exprs(0))),
    (FunctionIdentifier("graft_damerau"),
      new ExpressionInfo(classOf[DamerauLevenshtein].getName, "graft_damerau"),
      (exprs: Seq[Expression]) => DamerauLevenshtein(exprs(0), exprs(1))),
    (FunctionIdentifier("graft_jaro_winkler"),
      new ExpressionInfo(classOf[JaroWinkler].getName, "graft_jaro_winkler"),
      (exprs: Seq[Expression]) => JaroWinkler(exprs(0), exprs(1))),
    // scale is a literal int: graft_quantize(vec, 10000)
    (FunctionIdentifier("graft_quantize"),
      new ExpressionInfo(classOf[FloatArrayQuantize].getName, "graft_quantize"),
      (exprs: Seq[Expression]) => FloatArrayQuantize(exprs(0),
        exprs(1).eval().asInstanceOf[Number].intValue())),
    // n is a literal int: graft_char_ngrams(s, 2)
    (FunctionIdentifier("graft_char_ngrams"),
      new ExpressionInfo(classOf[CharNGrams].getName, "graft_char_ngrams"),
      (exprs: Seq[Expression]) => CharNGrams(exprs(0),
        exprs(1).eval().asInstanceOf[Number].intValue())),
    // the mergeable-quantile contract through the SQL front door:
    // graft_kll_agg(x, 1024) -> binary sketch; graft_kll_merge(sk)
    // re-aggregates partials; graft_kll_quantile(sk, 0.5) /
    // graft_kll_quantiles(sk, array(0.25, 0.5)) read it out. k and the
    // p's are literals (analysis-time), like graft_quantize's scale.
    (FunctionIdentifier("graft_kll_agg"),
      new ExpressionInfo(classOf[KllSketchAgg].getName, "graft_kll_agg"),
      (exprs: Seq[Expression]) => KllSketchAgg(exprs(0),
        exprs(1).eval().asInstanceOf[Number].intValue())),
    (FunctionIdentifier("graft_kll_merge"),
      new ExpressionInfo(classOf[KllMergeAgg].getName, "graft_kll_merge"),
      (exprs: Seq[Expression]) => KllMergeAgg(exprs(0))),
    (FunctionIdentifier("graft_kll_quantile"),
      new ExpressionInfo(classOf[KllQuantileExpr].getName, "graft_kll_quantile"),
      (exprs: Seq[Expression]) => KllQuantileExpr(exprs(0), litDouble(exprs(1)))),
    (FunctionIdentifier("graft_kll_quantiles"),
      new ExpressionInfo(classOf[KllQuantilesExpr].getName, "graft_kll_quantiles"),
      (exprs: Seq[Expression]) => KllQuantilesExpr(exprs(0), exprs(1) match {
        case org.apache.spark.sql.catalyst.expressions.CreateArray(children, _) =>
          children.map(litDouble)
        case arr =>
          arr.eval().asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
            .toObjectArray(arr.dataType
              .asInstanceOf[org.apache.spark.sql.types.ArrayType].elementType)
            .map {
              case d: org.apache.spark.sql.types.Decimal => d.toDouble
              case n: Number => n.doubleValue()
            }.toSeq
      })))
}
