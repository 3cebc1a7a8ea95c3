package graft.functions

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.trees.TreePattern.HIGH_ORDER_FUNCTION
import org.apache.spark.sql.types.{DoubleType, FloatType, IntegerType}

/** The one list of graft's Catalyst extensions, injected when a
  * session is built (registered by [[graft.GraftSession.builder]]),
  * so every graft session plans with the same rules from its first
  * query, and so does every `newSession()` of it:
  *
  *  - SQL functions `vec_dot`, `duck_round`, `shingle_explode` and
  *    `span_explode`, so `spark.sql` plans the native expressions;
  *  - optimizer rules, in the operator-optimization batch:
  *    RewriteVecDot (the interpreted HOF dot-product spelling
  *    `aggregate(zip_with(a, b, (x,y) -> x*y), 0.0D, (acc,v) -> acc+v)`
  *    becomes the codegen'd VecDot), RewriteSimTopK, RewriteWindowTopK
  *    and MetadataCount;
  *  - the TopKPerKey planner strategy;
  *  - CollectSort, an AQE query-stage-preparation rule.
  *
  * Users keep writing declarative code; the optimizer picks the fast
  * plan. Extensions are injected here and nowhere else: a session
  * without them (a rules-off differential) is the factory minus its
  * one registration call.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    e.injectFunction(GraftExtensions.vecDotDescription)
    e.injectFunction(GraftExtensions.duckRoundDescription)
    e.injectFunction(GraftExtensions.shingleExplodeDescription)
    e.injectFunction(GraftExtensions.spanExplodeDescription)
    e.injectOptimizerRule(_ => RewriteVecDot)
    e.injectOptimizerRule(_ => graft.plans.RewriteSimTopK)
    e.injectOptimizerRule(_ => graft.plans.RewriteWindowTopK)
    e.injectOptimizerRule(_ => graft.plans.MetadataCount)
    e.injectPlannerStrategy(_ => graft.plans.TopKPerKeyStrategy)
    e.injectQueryStagePrepRule(_ => graft.plans.CollectSort)
  }
}

object GraftExtensions {
  val vecDotDescription: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("vec_dot"),
    new ExpressionInfo(classOf[VecDot].getName, "vec_dot"),
    (exprs: Seq[Expression]) => {
      require(exprs.length == 2, "vec_dot(a, b) takes exactly 2 arguments")
      VecDot(exprs.head, exprs(1))
    })

  /** duck_round(x, n): the engine's oracle-parity rounding (DuckDB's
    * multiply → half-away → divide; see DuckRoundExpr) as a SQL
    * function — `spark.sql` users get the same boundary-pinned
    * rounding the DataFrame ops use, and a SQL-spelled brute cosine
    * top-k becomes recognizable to RewriteSimTopK (the scale must be
    * an INT literal — it is part of the expression's semantics). */
  val duckRoundDescription: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("duck_round"),
    new ExpressionInfo(classOf[DuckRound].getName, "duck_round"),
    (exprs: Seq[Expression]) => {
      require(exprs.length == 2, "duck_round(x, n) takes exactly 2 arguments")
      DuckRound(exprs.head, intLit(exprs(1), "duck_round"))
    })

  /** The generator width must be a compile-time constant: it fixes
    * the output schema, so a column-valued n cannot work. */
  private def intLit(e: Expression, fn: String): Int = e match {
    case Literal(v: Int, IntegerType) => v
    case _ => throw new IllegalArgumentException(
      s"$fn(text, n): n must be an INT literal, got $e")
  }

  val shingleExplodeDescription: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("shingle_explode"),
    new ExpressionInfo(classOf[ShingleExplode].getName, "shingle_explode"),
    (exprs: Seq[Expression]) => {
      require(exprs.length == 2, "shingle_explode(text, n) takes exactly 2 arguments")
      ShingleExplode(exprs.head, intLit(exprs(1), "shingle_explode"))
    })

  val spanExplodeDescription: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("span_explode"),
    new ExpressionInfo(classOf[SpanExplode].getName, "span_explode"),
    (exprs: Seq[Expression]) => {
      require(exprs.length == 2, "span_explode(text, n) takes exactly 2 arguments")
      SpanExplode(exprs.head, intLit(exprs(1), "span_explode"))
    })
}

/** aggregate(zip_with(a, b, multiply), 0.0, add) → VecDot(a, b).
  *
  * Pattern details: the zip lambda must be a product of the two lambda
  * variables (possibly under numeric casts to double); the fold lambda
  * must be acc + v with zero literal 0.0; the finish lambda must be
  * identity. VecDot's null semantics (null element / length mismatch
  * ⇒ null) match the HOF fold exactly, so the rewrite is
  * semantics-preserving.
  */
object RewriteVecDot extends Rule[LogicalPlan] {

  private def isDoubleOf(e: Expression, v: NamedLambdaVariable): Boolean = e match {
    case `v` => v.dataType == DoubleType
    case Cast(`v`, DoubleType, _, _) => v.dataType == DoubleType || v.dataType == FloatType
    case _ => false
  }

  // every graft session runs this rule on every plan: skip plans
  // without a higher-order function on their cached pattern bits
  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.transformAllExpressionsWithPruning(_.containsPattern(HIGH_ORDER_FUNCTION)) {
      case ArrayAggregate(
            ZipWith(a, b,
              LambdaFunction(Multiply(mx, my, _), Seq(x: NamedLambdaVariable, y: NamedLambdaVariable), _)),
            Literal(0.0, DoubleType),
            LambdaFunction(Add(accRef: NamedLambdaVariable, vRef: NamedLambdaVariable, _),
              Seq(acc: NamedLambdaVariable, v: NamedLambdaVariable), _),
            LambdaFunction(finishRef: NamedLambdaVariable, Seq(finishArg: NamedLambdaVariable), _))
          if (isDoubleOf(mx, x) && isDoubleOf(my, y)) &&
             accRef.exprId == acc.exprId && vRef.exprId == v.exprId &&
             finishRef.exprId == finishArg.exprId =>
        VecDot(a, b)
    }
}
