package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.sources.Tables

/** RewriteWindowTopK: the declarative row_number-over-window top-k
  * pattern is rewritten to the TopKPerKey bounded-heap plan — same
  * rows, no Window/per-key Sort — and the rewrite declines every
  * shape where it could change results.
  */
class RewriteTopKSpec extends SparkSpec {
  import spark.implicits._

  private def ordersNn = Tables.orders(spark, sf("sf0.001"))
    .select($"o_custkey", $"o_orderkey",
      coalesce($"o_totalprice".cast("double"), lit(0.0)).as("price"))

  private val w = Window.partitionBy($"o_custkey")
    .orderBy($"price".desc, $"o_orderkey".asc)

  test("window top-k pattern plans TopKPerKey, not Window") {
    val df = ordersNn.withColumn("rn", row_number().over(w))
      .filter($"rn" <= 3).drop("rn")
    val physical = df.queryExecution.executedPlan.toString
    assert(physical.contains("TopKPerKey "), physical)
    // map-side partial heap before the exchange (shuffle carries at
    // most k rows per key per input partition)
    assert(physical.contains("TopKPerKeyPartial "), physical)
    // Spark's own sort-based WindowGroupLimit is stripped too
    assert(!physical.contains("Window"), physical)
    assert(!physical.contains("Sort "), physical)
  }

  test("rewritten plan returns exactly the window formulation's rows") {
    val declarative = ordersNn.withColumn("rn", row_number().over(w))
      .filter($"rn" <= 3).drop("rn")
    // reference rows computed with the rule unable to fire (rank kept)
    val reference = ordersNn.withColumn("rn", row_number().over(w))
      .filter($"rn" <= 3)
    assert(declarative.count() == reference.count())
    assert(declarative.except(reference.drop("rn")).count() == 0)
    assert(reference.drop("rn").except(declarative).count() == 0)
  }

  test("rank = 1 (argmax) also rewrites") {
    val df = ordersNn.withColumn("rn", row_number().over(w))
      .filter($"rn" === 1).drop("rn")
    val physical = df.queryExecution.executedPlan.toString
    assert(physical.contains("TopKPerKey "), physical)
    val perKey = df.groupBy($"o_custkey").count()
      .agg(max($"count")).collect().head.getLong(0)
    assert(perKey == 1L)
  }

  test("strict-inequality form rn < k rewrites with limit k-1") {
    val df = ordersNn.withColumn("rn", row_number().over(w))
      .filter($"rn" < 4).drop("rn")
    val physical = df.queryExecution.executedPlan.toString
    assert(physical.contains("TopKPerKey "), physical)
    val want = ordersNn.withColumn("rn", row_number().over(w))
      .filter($"rn" <= 3)
    assert(df.count() == want.count())
  }

  test("declines when the rank column survives the projection") {
    val df = ordersNn.withColumn("rn", row_number().over(w))
      .filter($"rn" <= 3) // rn still in output
    val physical = df.queryExecution.executedPlan.toString
    assert(physical.contains("Window"), physical)
    assert(!physical.contains("TopKPerKey "), physical)
  }

  test("declines when the score is nullable") {
    val df = Tables.orders(spark, sf("sf0.001"))
      .select($"o_custkey", $"o_orderkey",
        $"o_totalprice".cast("double").as("price")) // parquet: nullable
      .withColumn("rn", row_number().over(
        Window.partitionBy($"o_custkey").orderBy($"price".desc, $"o_orderkey".asc)))
      .filter($"rn" <= 3).drop("rn")
    val physical = df.queryExecution.executedPlan.toString
    assert(physical.contains("Window"), physical)
  }

  test("declines without a total-order tiebreak") {
    val df = ordersNn.withColumn("rn", row_number().over(
        Window.partitionBy($"o_custkey").orderBy($"price".desc)))
      .filter($"rn" <= 3).drop("rn")
    val physical = df.queryExecution.executedPlan.toString
    assert(physical.contains("Window"), physical)
  }
}
