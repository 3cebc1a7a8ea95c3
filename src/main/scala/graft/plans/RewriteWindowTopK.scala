package graft.plans

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan, Project, Window, WindowGroupLimit}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.trees.TreePattern.WINDOW
import org.apache.spark.sql.types._

/** Optimizer rule: rewrite the idiomatic window top-k pattern
  *
  * {{{
  *   Project [no rank column]
  *     Filter rank <= k            (also rank < k, rank = 1)
  *       Window [row_number() over (partition by keys
  *                                  order by score DESC, tie ASC)]
  * }}}
  *
  * into [[TopKPerKeyPlan]] — per-key bounded heaps instead of a full
  * per-key sort. Users keep the declarative spelling; the optimizer
  * picks the O(n log k) plan (same philosophy as RewriteVecDot).
  *
  * The rewrite fires only when it is provably semantics-preserving:
  *
  *  - the Window computes exactly one expression, a row_number —
  *    any other window column is consumed downstream and must survive;
  *  - the rank attribute's ONLY use is the filter: the Project above
  *    must not reference it (the DataFrame `.drop("rn")` shape);
  *  - ordering is `score DESC NULLS LAST, tie ASC NULLS FIRST` — the
  *    exact order TopKPerKeyExec's heap implements;
  *  - score is NON-nullable and of a type whose cast to double is
  *    exact (double/float/int/short/byte — long and decimal casts can
  *    collapse distinct values and change the selection); the exec
  *    drops null scores, the window ranks them last, so nullability
  *    must be impossible for the two to agree on short groups;
  *  - tie is an integral type (exact cast to long).
  *
  * Activated via GraftExtensions (optimizer rule + planner strategy).
  */
object RewriteWindowTopK extends Rule[LogicalPlan] {

  private def exactDoubleCast(dt: DataType): Boolean = dt match {
    case DoubleType | FloatType | IntegerType | ShortType | ByteType => true
    case _ => false
  }

  private def integral(dt: DataType): Boolean = dt match {
    case LongType | IntegerType | ShortType | ByteType => true
    case _ => false
  }

  /** rank-limit predicate → k (number of rows kept per key). */
  private def limitOf(cond: Expression, rn: Attribute): Option[Int] = cond match {
    case LessThanOrEqual(a: AttributeReference, Literal(k: Int, IntegerType))
      if a.exprId == rn.exprId && k >= 1 => Some(k)
    case LessThanOrEqual(a: AttributeReference, Literal(k: Long, LongType))
      if a.exprId == rn.exprId && k >= 1L && k <= Int.MaxValue => Some(k.toInt)
    case LessThan(a: AttributeReference, Literal(k: Int, IntegerType))
      if a.exprId == rn.exprId && k >= 2 => Some(k - 1)
    case EqualTo(a: AttributeReference, Literal(1, IntegerType))
      if a.exprId == rn.exprId => Some(1)
    case _ => None
  }

  // every graft session runs this rule on every plan: skip plans
  // without a Window on their cached pattern bits
  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.transformWithPruning(_.containsPattern(WINDOW)) {
      case Project(projectList, Filter(cond, w: Window))
          if w.partitionSpec.nonEmpty =>
        val rewritten = for {
          rnAttr <- w.windowExpressions match {
            case Seq(a @ Alias(WindowExpression(_: RowNumber, _), _)) =>
              Some(a.toAttribute)
            case _ => None
          }
          k <- limitOf(cond, rnAttr)
          (score, tie) <- w.orderSpec match {
            case Seq(SortOrder(s, Descending, NullsLast, _),
                     SortOrder(t, Ascending, NullsFirst, _))
                if !s.nullable && exactDoubleCast(s.dataType) &&
                   integral(t.dataType) => Some((s, t))
            case _ => None
          }
          // rank must die here: project references only child columns
          if projectList.forall(_.references.subsetOf(w.child.outputSet))
        } yield {
          // Spark's InferWindowGroupLimit inserts a sort-based
          // WindowGroupLimit under the Window for exactly this pattern
          // if it ran first — redundant under the heap operator, which
          // has its own sort-free partial phase. Strip it.
          val child = w.child match {
            case wgl: WindowGroupLimit if wgl.limit >= k => wgl.child
            case c => c
          }
          Project(projectList,
            TopKPerKeyPlan(w.partitionSpec,
              Cast(score, DoubleType), Cast(tie, LongType), k, child))
        }
        rewritten.getOrElse(Project(projectList, Filter(cond, w)))
    }
}
