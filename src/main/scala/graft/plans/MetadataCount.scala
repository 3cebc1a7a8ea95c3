package graft.plans

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Alias, NamedExpression}
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Count}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, LocalRelation, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.trees.TreePattern.AGGREGATE
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}

import graft.sinks.{ManifestFileIndex, TableLog}

/** Optimizer rule: a bare row count of a TableLog snapshot is answered
  * from the manifest's committed footer row counts.
  *
  * {{{
  *   Aggregate [] [count(1) AS c, …]          LocalRelation [c, …]
  *     Project* (zero or more)            →     [Σ FileStats.rows, …]
  *       LogicalRelation (TableLog snapshot)
  * }}}
  *
  * `Dataset.count()`, `count(*)` and `count(1)` over a TableLog read
  * otherwise plan a parquet scan (two Spark jobs under AQE) to
  * recompute a number the log recorded at commit — the Delta
  * stats-at-commit pattern. Projections never change a row count, so
  * only they may sit between the aggregate and the relation; any
  * Filter, Limit, Sample, Join, Generate, Union or Distinct keeps the
  * scan, as does any count of a nullable or non-constant argument,
  * DISTINCT or FILTER.
  *
  * The relation qualifies when it is a `HadoopFsRelation` over a
  * [[ManifestFileIndex]] — the plain scan of `TableLog`'s readers
  * (`read`, time travel, `readAppendsSince`) and of the `graftlog`
  * face — and [[TableLog.exactRows]] knows its listing's count. A
  * file without stats keeps the scan; a file carrying a deletion
  * vector is never in such a listing, so a DV'd version keeps the
  * scan until a compact materializes the vectors.
  *
  * Injected with the other extensions by
  * [[graft.functions.GraftExtensions]].
  */
object MetadataCount extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.transformUpWithPruning(_.containsPattern(AGGREGATE)) {
      case a: Aggregate if a.groupingExpressions.isEmpty &&
          a.aggregateExpressions.forall(constCount) =>
        exactRows(a.child) match {
          case Some(n) =>
            LocalRelation(a.output, Seq(InternalRow.fromSeq(a.aggregateExpressions.map(_ => n))))
          case None => a
        }
    }

  /** `count(e, …)` of foldable non-null arguments, no DISTINCT, no FILTER. */
  private def constCount(e: NamedExpression): Boolean = e match {
    case Alias(AggregateExpression(Count(args), _, false, None, _), _) =>
      args.forall(arg => arg.foldable && !arg.nullable)
    case _ => false
  }

  /** The exact row count of a chain of Projects over a TableLog scan. */
  private def exactRows(p: LogicalPlan): Option[Long] = p match {
    case Project(_, child) => exactRows(child)
    case lr: LogicalRelation if !lr.isStreaming => lr.relation match {
      case HadoopFsRelation(idx: ManifestFileIndex, _, _, _, _, _) =>
        TableLog.exactRows(idx.m, idx.files)
      case _ => None
    }
    case _ => None
  }
}
