package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkStrategy
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, Expression, SortOrder, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution}
import org.apache.spark.sql.execution.{SparkPlan, UnaryExecNode}
import org.apache.spark.sql.graftbridge.{ColumnBridge, DatasetBridge}
import org.apache.spark.sql.types.DoubleType

/** Custom whole-operator: top-k rows per key WITHOUT sorting each
  * key's full row set.
  *
  * The idiomatic spelling — row_number over (partition by key order
  * by score) then rank <= k — sorts every key group in full; at
  * 100 TB with millions of rows per key that sort dominates. This
  * operator keeps a bounded k-heap per key within each partition
  * (requiredChildDistribution clusters by key first), so memory is
  * O(keys_in_partition x k) and time is O(n log k) — the same reason
  * global top-k runs as TakeOrderedAndProject, applied per key.
  *
  * Full custom-operator stack (SURVEY.md §7.3 preference (c)):
  * logical UnaryNode (built by RewriteWindowTopK or directly by
  * TopKPerKey.apply) → planner Strategy (injected by GraftExtensions,
  * so only a graft session can plan the node) → UnaryExecNode whose
  * doExecute runs the heap. Semantics: score descending, tiebreak
  * ascending — identical to the window formulation (TopKSpec proves
  * equality row-for-row).
  */
final case class TopKPerKeyPlan(
    keys: Seq[Expression], score: Expression, tiebreak: Expression,
    k: Int, child: LogicalPlan) extends UnaryNode {
  override def output: Seq[Attribute] = child.output
  override protected def withNewChildInternal(newChild: LogicalPlan): TopKPerKeyPlan =
    copy(child = newChild)
}

object TopKPerKeyStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case TopKPerKeyPlan(keys, score, tiebreak, k, child) =>
      // Two-phase, like partial aggregation: the map-side (partial)
      // heap pass runs before the exchange, so at most k rows per key
      // PER INPUT PARTITION are shuffled — top-k of per-partition
      // top-ks is the global top-k. At 100 TB this turns the shuffle
      // from "the whole table" into "k × keys × partitions" rows.
      TopKPerKeyExec(keys, score, tiebreak, k,
        TopKPerKeyExec(keys, score, tiebreak, k, planLater(child),
          partial = true)) :: Nil
    case _ => Nil
  }
}

final case class TopKPerKeyExec(
    keys: Seq[Expression], score: Expression, tiebreak: Expression,
    k: Int, child: SparkPlan, partial: Boolean = false) extends UnaryExecNode {

  override def output: Seq[Attribute] = child.output

  override def nodeName: String =
    if (partial) "TopKPerKeyPartial" else "TopKPerKey"

  override def requiredChildDistribution: Seq[Distribution] =
    if (partial) super.requiredChildDistribution
    else ClusteredDistribution(keys) :: Nil

  override protected def doExecute(): RDD[InternalRow] = {
    val keyExprs = keys
    val scoreExpr = score
    val tieExpr = tiebreak
    val limit = k
    val childOutput = child.output
    child.execute().mapPartitions { rows =>
      val keyProj = UnsafeProjection.create(keyExprs, childOutput)
      val scoreEval = UnsafeProjection.create(Seq(scoreExpr), childOutput)
      val tieEval = UnsafeProjection.create(Seq(tieExpr), childOutput)
      // PriorityQueue.head is the MAX under the ordering; rank the
      // WORST entry (lowest score, largest tiebreak) as max so it is
      // the one evicted. Scores compare via java.lang.Double.compare
      // (total order, NaN greatest) — the window formulation's
      // descending sort ranks NaN first, and primitive </> would
      // silently drop NaN rows once the heap fills.
      type Entry = (Double, Long, InternalRow)
      val worstFirst = new Ordering[Entry] {
        def compare(a: Entry, b: Entry): Int = {
          val c = java.lang.Double.compare(b._1, a._1)
          if (c != 0) c else java.lang.Long.compare(a._2, b._2)
        }
      }
      val heaps = new java.util.HashMap[InternalRow, scala.collection.mutable.PriorityQueue[Entry]]()
      rows.foreach { row =>
        val scoreRow = scoreEval(row)
        if (!scoreRow.isNullAt(0)) { // null scores never rank
          val key = keyProj(row).copy()
          var heap = heaps.get(key)
          if (heap == null) {
            heap = scala.collection.mutable.PriorityQueue.empty[Entry](worstFirst)
            heaps.put(key, heap)
          }
          val s = scoreRow.getDouble(0)
          // null tiebreak sorts first (best), matching the window
          // formulation's ascending nulls-first ordering — without the
          // explicit check a null would silently read as 0
          val tieRow = tieEval(row)
          val t = if (tieRow.isNullAt(0)) Long.MinValue else tieRow.getLong(0)
          if (heap.size < limit) heap.enqueue((s, t, row.copy()))
          else {
            val (ws, wt, _) = heap.head
            val c = java.lang.Double.compare(s, ws)
            if (c > 0 || (c == 0 && t < wt)) { heap.dequeue(); heap.enqueue((s, t, row.copy())) }
          }
        }
      }
      import scala.jdk.CollectionConverters._
      heaps.values().iterator().asScala.flatMap(_.iterator.map(_._3))
    }
  }

  override protected def withNewChildInternal(newChild: SparkPlan): TopKPerKeyExec =
    copy(child = newChild)
}

object TopKPerKey {
  /** Top `k` rows per key by `score` descending (ties: `tiebreak`
    * ascending, nulls first, integral column — the ANSI cast to LONG
    * throws on malformed strings, same as the window formulation
    * would). Columns are referenced by name and
    * resolved against the analyzed child (the Column → Expression
    * bridge would hand the custom node unresolved attributes). Output
    * order within keys is unspecified — orderBy downstream if needed. */
  def apply(df: DataFrame, keyCols: Seq[String], scoreCol: String,
            tiebreakCol: String, k: Int): DataFrame = {
    import org.apache.spark.sql.catalyst.expressions.Cast
    import org.apache.spark.sql.types.LongType
    val spark = df.sparkSession
    val analyzed = df.queryExecution.analyzed
    def attr(n: String): Expression =
      analyzed.output.find(_.name == n).getOrElse(
        throw new IllegalArgumentException(
          s"column '$n' not in ${analyzed.output.map(_.name).mkString(", ")}"))
    DatasetBridge.ofRows(spark,
      TopKPerKeyPlan(
        keyCols.map(attr),
        Cast(attr(scoreCol), DoubleType),
        Cast(attr(tiebreakCol), LongType),
        k, analyzed))
  }
}
