package graft.plans

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.SparkStrategy
import org.apache.spark.sql.types.{ArrayType, DoubleType, FloatType}
import graft.functions.{FloatDot, FloatDotSafe}

/** Session-extension entry point (the PUBLIC registration path, tier
  * (c) of the extension preference order): install with
  *
  *   spark.sql.extensions=graft.plans.GraftExtensions
  *
  * or `SparkSession.builder().withExtensions(new GraftExtensions)`.
  * Injects:
  *   - `float_dot(a, b)` as a SQL function (no manual register call)
  *   - [[FloatDotRewrite]], an optimizer rule that turns the
  *     declarative HOF dot product into the whole-stage-codegen'd
  *     native expression
  *   - the planner strategies of [[GraftStrategies]]
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    // SQL-text call sites are arbitrary user expressions → the
    // null-safe variant (ragged/null-element input gives NULL, not a
    // silently-wrong value). The fast FloatDot stays reserved for
    // internal Column-API call sites that control their inputs.
    ext.injectFunction((
      FunctionIdentifier("float_dot"),
      new ExpressionInfo(classOf[FloatDotSafe].getCanonicalName, "float_dot"),
      (exprs: Seq[Expression]) => FloatDotSafe(exprs.head, exprs(1))))
    ext.injectOptimizerRule(_ => FloatDotRewrite)
    GraftStrategies.all.foreach(st => ext.injectPlannerStrategy(_ => st))
  }
}

/** graft's planner strategies, and their install on a session built
  * without [[GraftExtensions]]:
  *   - [[TopKPerGroupStrategy]] plans `TopKPerGroupPlan` to its
  *     map-side-pruning physical operator (tier (c));
  *   - [[ExchangeReuseStrategy]] keeps built exchanges across queries:
  *     broadcast relations, and the map outputs of the shuffles below
  *     aggregates and global sorts, over files that have not changed. */
object GraftStrategies {
  val all: Seq[SparkStrategy] = Seq(TopKPerGroupStrategy, ExchangeReuseStrategy)

  /** Add each strategy to `s`'s `experimental.extraStrategies` unless
    * the session's planner already has it. Cheap and idempotent: the
    * table readers call it on every read. */
  def install(s: SparkSession): Unit = {
    val have = s.sessionState.planner.strategies
    val missing = all.filterNot(have.contains)
    if (missing.nonEmpty)
      s.experimental.extraStrategies = s.experimental.extraStrategies ++ missing
  }
}

/** Rewrite `aggregate(zip_with(x, y, (a, b) -> a * b), 0.0,
  * (acc, v) -> acc + v)` over float arrays into [[FloatDotSafe]].
  *
  * The rewrite is TOTAL: FloatDotSafe folds left-to-right in double —
  * the SAME IEEE op sequence as the HOF chain — and implements the
  * full HOF null semantics natively (null array, unequal lengths, or
  * a null element all yield NULL, via a separate null-scan pass that
  * keeps the FP loop clean), so no runtime guard expression is
  * needed. User call sites that can GUARANTEE equal-length non-null
  * inputs should call float_dot directly for the fast variant. The
  * STATIC requirement is that the zip lambda multiplies in double
  * (see [[isPairwiseMul]]); a raw-float multiply rounds each product
  * to float before widening and is not bit-equivalent. */
object FloatDotRewrite extends Rule[LogicalPlan] {

  private def isFloatArray(e: Expression): Boolean = e.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  /** strip casts, then require the expression to BE the given bound
    * lambda variable (matched by exprId — lambda vars are
    * NamedLambdaVariable after analysis, not AttributeReferences). */
  private def sameVar(e: Expression, arg: NamedExpression): Boolean =
    (stripCast(e), arg) match {
      case (v: NamedLambdaVariable, a: NamedLambdaVariable) =>
        v.exprId == a.exprId
      case _ => false
    }

  /** body is (a cast/raw) * (b cast/raw) of exactly the two lambda
    * variables in order, AND the multiply itself evaluates in double.
    * Without the dataType check a raw-float `(a, b) -> a * b` (where
    * the analyzer only casts at the outer Add) would match, but there
    * each product rounds to float before widening while FloatDot
    * multiplies widened doubles — low-order bits differ. */
  private def isPairwiseMul(body: Expression,
                            args: Seq[NamedExpression]): Boolean = body match {
    case m @ Multiply(l, r, _) if m.dataType == DoubleType =>
      sameVar(l, args.head) && sameVar(r, args(1))
    case _ => false
  }

  private def isPairwiseAdd(body: Expression,
                            args: Seq[NamedExpression]): Boolean = body match {
    case Add(l, r, _) => sameVar(l, args.head) && sameVar(r, args(1))
    case _ => false
  }

  private def stripCast(e: Expression): Expression = e match {
    case Cast(c, _, _, _) => stripCast(c)
    case other => other
  }

  private def isIdentity(f: Expression): Boolean = f match {
    case LambdaFunction(body, Seq(arg), _) => sameVar(body, arg)
    case _ => false
  }

  /** Bottom-up recursion; the output (FloatDotSafe) can never re-match
    * the ArrayAggregate pattern, so the rule is trivially idempotent
    * under the optimizer batch's fixed-point re-runs. */
  private def rewriteExpr(e: Expression): Expression =
    e.mapChildren(rewriteExpr) match {
      case ArrayAggregate(
            ZipWith(x, y, LambdaFunction(mulBody, mulArgs, _)),
            Literal(0.0, DoubleType),
            LambdaFunction(addBody, addArgs, _),
            finish)
          if isFloatArray(x) && isFloatArray(y) &&
            isPairwiseMul(mulBody, mulArgs) &&
            isPairwiseAdd(addBody, addArgs) &&
            isIdentity(finish) =>
        FloatDotSafe(x, y)
      case other => other
    }

  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.transformUp { case p => p.mapExpressions(rewriteExpr) }
}
