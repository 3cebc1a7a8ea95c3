package graft

/** Smoke guard: every declared query runs and returns rows at sf0.001
  * (the driver's t1-level check, locally enforced so an empty result
  * never ships silently).
  */
class QueriesSpec extends SparkSpec {

  SparkEntry.allQueries.foreach { q =>
    test(s"${q.name} runs and returns rows at sf0.001") {
      assert(q.run(spark, sf("sf0.001")).count() > 0)
    }
  }

  test("q143 contract audit is one lazy plan: Q.run starts no job, rows equal the eager audit") {
    import org.apache.spark.sql.functions._
    val d = sf("sf0.001")
    // the audit as four eager actions, the way q143 used to run it
    val li = graft.sources.Tables.lineitem(spark, d)
    val orders = graft.sources.Tables.orders(spark, d)
    def cnt(c: org.apache.spark.sql.Column) = sum(when(c, 1L).otherwise(0L))
    val row = li.agg(
      cnt(col("l_orderkey").isNull), cnt(col("l_quantity") <= 0),
      cnt(col("l_discount") < 0 || col("l_discount") > 0.1),
      cnt(col("l_quantity") > 45), cnt(col("l_extendedprice") <= 0)).head
    val eager = Seq(
      "null_orderkey" -> row.getLong(0), "nonpositive_qty" -> row.getLong(1),
      "discount_range" -> row.getLong(2), "qty_over_45" -> row.getLong(3),
      "nonpositive_price" -> row.getLong(4),
      "dup_pk" -> li.groupBy("l_orderkey", "l_linenumber").count()
        .filter(col("count") > 1).count(),
      "orphan_lineitems" -> li.join(orders, col("l_orderkey") === col("o_orderkey"),
        "left_anti").count(),
      "ship_before_order" -> li.join(orders, col("l_orderkey") === col("o_orderkey"))
        .filter(col("l_shipdate") < col("o_orderdate")).count())
      .sortBy(_._1)
    val (plan, jobs) = jobsIn(SparkEntry.queries("q143_contract_audit")(spark, d))
    assert(jobs == 0, s"Q.run started $jobs jobs")
    assert(plan.collect().map(r => r.getString(0) -> r.getLong(1)).toSeq == eager)
  }

  test("q182 row-count invariants read the manifest: Q.run starts 5 jobs (9 before), rows unchanged") {
    import org.apache.spark.sql.functions._
    val d = sf("sf0.001")
    val q = SparkEntry.queries("q182_table_merge_compact")
    q(spark, d) // warm: the first corpus read infers the documents schema
    val (plan, jobs) = jobsIn(q(spark, d))
    // the two compaction checks each counted with a 2-job aggregate
    assert(jobs == 5, s"Q.run started $jobs jobs")
    val want = graft.sources.Tables.documents(spark, d)
      .filter(col("doc_id") % 2 === 0 || col("doc_id") % 3 === 0)
      .select(col("doc_id"),
        when(col("doc_id") % 2 === 0, col("source")).otherwise(lit("UPSERTED")))
      .orderBy("doc_id").collect().toSeq
    assert(plan.collect().toSeq == want)
  }

  test("entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every oracle name matches a query name") {
    assert(SparkEntry.oracleSql.keySet.subsetOf(SparkEntry.queries.keySet))
  }
}
