package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, SortOrder}
import org.apache.spark.sql.catalyst.expressions.codegen.LazilyGeneratedOrdering
import org.apache.spark.sql.catalyst.plans.physical.{Partitioning, RangePartitioning}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{LeafExecNode, SortExec, SparkPlan, UnaryExecNode}
import org.apache.spark.sql.execution.exchange.{ENSURE_REQUIREMENTS, ShuffleExchangeExec}

/** AQE query-stage-preparation rule: a total ORDER BY at the ROOT of
  * an adaptive plan is sorted on the driver when the result is
  * collected.
  *
  * {{{
  *   Sort [keys], global=true                 CollectSort [keys], n
  *     Exchange rangepartitioning(keys, n)  →   child
  *       child
  * }}}
  *
  * A collected global sort pays, for rows that end on the driver
  * anyway, a RangePartitioner sampling job, a range-shuffle map job
  * and an AQE re-plan; sorting the collected array costs a TimSort
  * over rows the driver already holds (the Dremel root-assembly
  * pattern). The rule fires only on the exact pair EnsureRequirements
  * inserts for a global sort (origin ENSURE_REQUIREMENTS), and only at
  * the root: sorts below anything else, user repartitions,
  * `orderBy.limit` (TakeOrderedAndProject) and V1 file writes (whose
  * adaptive root is the write node) keep their plan. Sessions with AQE
  * off never run query-stage-preparation rules.
  *
  * Injected with the other extensions by
  * [[graft.functions.GraftExtensions]].
  */
object CollectSort extends Rule[SparkPlan] {
  override def apply(plan: SparkPlan): SparkPlan = plan match {
    case s @ SortExec(order, true,
        ShuffleExchangeExec(RangePartitioning(_, n), child, ENSURE_REQUIREMENTS, _), _) =>
      val node = CollectSortExec(order, n, child)
      node.copyTagsFrom(s)
      node
    case _ => plan
  }
}

/** The replaced `Sort(global) ← Exchange rangepartitioning` pair.
  *
  * `executeCollect` collects the child and sorts the rows on the
  * driver with the same SortOrder (stable TimSort through
  * LazilyGeneratedOrdering): the child's collect enforces
  * `spark.driver.maxResultSize` as before, and the sort adds only
  * TimSort's scratch array to the rows collect already holds.
  *
  * Every other entry point (`rdd`, `cache`, `localCheckpoint`,
  * `toLocalIterator`, `foreach`, `executeTake`/`executeTail`, V2 writes
  * such as `noop`) reaches `doExecute`, which runs exactly the replaced
  * plan rebuilt over the current child. The node reports that plan's
  * partitioning and ordering, so caches and checkpoints carry correct
  * metadata.
  */
final case class CollectSortExec(sortOrder: Seq[SortOrder], numPartitions: Int,
                                 child: SparkPlan) extends UnaryExecNode {

  override def output: Seq[Attribute] = child.output

  override def outputPartitioning: Partitioning = RangePartitioning(sortOrder, numPartitions)

  override def outputOrdering: Seq[SortOrder] = sortOrder

  @transient private lazy val rangeSort: SparkPlan =
    SortExec(sortOrder, global = true,
      ShuffleExchangeExec(outputPartitioning, child, ENSURE_REQUIREMENTS))

  override protected def doExecute(): RDD[InternalRow] = rangeSort.execute()

  override def executeCollect(): Array[InternalRow] = executeQuery {
    val collected = child.executeCollect()
    // a leaf (LocalTableScan, CommandResult) hands out the array it
    // keeps for later executions; every other collect builds a new one
    val rows = child match {
      case _: LeafExecNode => collected.clone()
      case _ => collected
    }
    java.util.Arrays.sort(rows, new LazilyGeneratedOrdering(sortOrder, child.output))
    rows
  }

  override protected def withNewChildInternal(newChild: SparkPlan): CollectSortExec =
    copy(child = newChild)
}
