package graft

import org.apache.spark.sql.functions._
import graft.sources.Tables

/** GraftExtensions: SQL function registration + the HOF→VecDot
  * optimizer rewrite, on the factory session as built — no suite
  * registers anything itself. */
class ExtensionsSpec extends SparkSpec {
  import spark.implicits._

  test("vec_dot callable from SQL") {
    Tables.embeddings(spark, sf("sf0.001")).limit(5).createOrReplaceTempView("emb_ext")
    val rows = spark.sql(
      "SELECT vec_id, vec_dot(embedding, embedding) AS n2 FROM emb_ext").collect()
    assert(rows.length == 5 && rows.forall(_.getDouble(1) > 0))
  }

  test("optimizer rewrites aggregate(zip_with(...)) to native VecDot") {
    val e = Tables.embeddings(spark, sf("sf0.001"))
    val hof = e.select(
      aggregate(
        zip_with($"embedding", $"embedding", (x, y) => x.cast("double") * y.cast("double")),
        lit(0.0), (acc, v) => acc + v).as("n2"))
    val optimized = hof.queryExecution.optimizedPlan.toString
    assert(optimized.contains("vecdot"), optimized)
    // and the rewritten plan computes the same values as interpreted HOF
    val nat = e.select(graft.functions.VecExpressions.vec_dot($"embedding", $"embedding").as("n2"))
    assert(hof.except(nat).count() == 0 && nat.except(hof).count() == 0)
  }

  test("a newSession() of the factory session carries every extension") {
    // extensions are injected at build, so a child session shares them;
    // a live-session registration would have touched only its parent
    val child = spark.newSession()
    child.createDataFrame(Seq((1L, Seq(1.0, 2.0)))).toDF("id", "v")
      .createOrReplaceTempView("v_child")
    assert(child.sql("SELECT vec_dot(v, v) FROM v_child").head().getDouble(0) == 5.0)
    // q57's declarative window top-k plans the heap operator
    val w = org.apache.spark.sql.expressions.Window.partitionBy($"o_custkey")
      .orderBy($"price".desc, $"o_orderkey".asc)
    val topk = Tables.orders(child, sf("sf0.001"))
      .select($"o_custkey", $"o_orderkey",
        coalesce($"o_totalprice".cast("double"), lit(0.0)).as("price"))
      .withColumn("rn", row_number().over(w))
      .filter($"rn" <= 3).drop("rn")
    val physical = topk.queryExecution.executedPlan.toString
    assert(physical.contains("TopKPerKey "), physical)
  }

  test("shingle_explode and span_explode callable from SQL") {
    Seq((1L, "a b c d"), (2L, "x y")).toDF("doc_id", "text")
      .createOrReplaceTempView("docs_ext")
    val sh = spark.sql(
      "SELECT doc_id, shingle_explode(text, 3) AS s FROM docs_ext").collect()
    assert(sh.map(r => (r.getLong(0), r.getString(1))).toSet ==
      Set((1L, "a b c"), (1L, "b c d")))
    val sp = spark.sql(
      "SELECT doc_id, span_explode(text, 2) FROM docs_ext").collect()
    assert(sp.map(r => (r.getLong(0), r.getInt(1), r.getString(2))).toSet ==
      Set((1L, 1, "a b"), (1L, 2, "b c"), (1L, 3, "c d"), (2L, 1, "x y")))
    // the width fixes the output schema, so it must be a literal
    val e = intercept[Exception] {
      spark.sql("SELECT span_explode(text, doc_id) FROM docs_ext").collect()
    }
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).take(5)
      .exists(t => Option(t.getMessage).exists(_.contains("INT literal"))), e.toString)
  }

  test("rewrite does not fire on non-dot folds") {
    val e = Tables.embeddings(spark, sf("sf0.001"))
    val sumFold = e.select(
      aggregate(zip_with($"embedding", $"embedding", (x, y) => x.cast("double") + y.cast("double")),
        lit(0.0), (acc, v) => acc + v).as("s"))
    assert(!sumFold.queryExecution.optimizedPlan.toString.contains("vecdot"))
  }
}
