package graft

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.QueryExecutionListener

/** plans.CollectSort: a collected root ORDER BY sorts on the driver;
  * every other way of running the plan range-sorts as before. Rows
  * are compared against Spark's own range sort: the node's fallback
  * (`toLocalIterator`) and a session with AQE off, where the rule
  * never runs. */
class CollectSortSpec extends SparkSpec {
  import spark.implicits._

  private val EtlOps = Seq("q01_", "q05_", "q06_", "q08_", "q10_", "q12_", "q14_", "q15_",
    "q16_", "q19_", "q28_", "q60_", "q143_", "q146_")

  private def op(prefix: String): String =
    SparkEntry.allQueries.map(_.name).find(_.startsWith(prefix)).get

  /** A row as text: binary and nested values compare by content. */
  private def canon(r: Row): String = r.toSeq.map {
    case b: Array[Byte] => b.map(x => f"$x%02x").mkString
    case null => "<null>"
    case x => x.toString
  }.mkString("|")

  private def rows(it: java.util.Iterator[Row]): Seq[String] = {
    val b = Seq.newBuilder[String]
    while (it.hasNext) b += canon(it.next())
    b.result()
  }

  private def plan(df: DataFrame): String = df.queryExecution.executedPlan.toString

  private def withoutAqe[T](body: => T): T = {
    val key = "spark.sql.adaptive.enabled"
    val before = spark.conf.get(key)
    spark.conf.set(key, "false")
    try body finally spark.conf.set(key, before)
  }

  /** Collects `build()` on the driver sort, and checks it against the
    * range-sorted fallback and an AQE-off collect, in order. */
  private def assertRangeParity(build: () => DataFrame): Unit = {
    val df = build()
    val got = df.collect().map(canon).toSeq
    assert(plan(df).contains("CollectSort"), plan(df))
    assert(rows(df.toLocalIterator()) == got)
    val off = withoutAqe {
      val d = build()
      assert(!plan(d).contains("CollectSort"), plan(d))
      d.collect().map(canon).toSeq
    }
    assert(off == got)
  }

  EtlOps.foreach { prefix =>
    test(s"parity: ${prefix.stripSuffix("_")} collect equals the range-sorted fallback row for row") {
      val name = op(prefix)
      val df = SparkEntry.queries(name)(spark, sf("sf0.001"))
      val got = df.collect().map(canon).toSeq
      assert(got.nonEmpty)
      assert(rows(df.toLocalIterator()) == got, name)
    }
  }

  test("job budget: a collected q14 runs one job, an ordered local Seq none") {
    val q14 = op("q14_")
    SparkEntry.queries(q14)(spark, sf("sf0.001")).collect() // warm the schema cache
    val df = SparkEntry.queries(q14)(spark, sf("sf0.001"))
    assert(plan(df).contains("CollectSort"), plan(df))
    assert(jobsIn(df.collect())._2 == 1)
    val local = Seq((3, "c"), (1, "a"), (2, "b")).toDF("k", "v").orderBy($"k".desc)
    val (got, jobs) = jobsIn(local.collect())
    assert(jobs == 0)
    assert(got.map(_.getInt(0)).toSeq == Seq(3, 2, 1))
  }

  private lazy val mixed: DataFrame = {
    val schema = StructType(Seq(
      StructField("id", IntegerType, nullable = false),
      StructField("i", IntegerType), StructField("s", StringType),
      StructField("dec", DecimalType(10, 2)), StructField("d", DoubleType)))
    val strings = Seq("b", "B", "", "a", "ab", "é", "z", null)
    val doubles = Seq(Double.NaN, -0.0, 0.0, 1.5, -1.5, Double.NegativeInfinity,
      Double.PositiveInfinity, null)
    val data = (0 until 96).map { n =>
      Row(n, if (n % 7 == 0) null else (n * 37) % 11 - 5, strings(n % strings.size),
        if (n % 9 == 0) null else new java.math.BigDecimal(((n * 53) % 19 - 9) * 25).movePointLeft(2),
        doubles(n % doubles.size))
    }
    // several input partitions, so order across partitions matters
    spark.createDataFrame(spark.sparkContext.parallelize(data, 5), schema)
  }

  private def directions(c: Column): Seq[Column] =
    Seq(c.asc_nulls_first, c.asc_nulls_last, c.desc_nulls_first, c.desc_nulls_last)

  test("ordering: asc/desc x nulls first/last on ints, strings, decimals and doubles match Spark") {
    for (name <- Seq("i", "s", "dec", "d"); dir <- directions(col(name)))
      assertRangeParity(() => mixed.orderBy(dir, $"id"))
  }

  test("ordering: multiple keys, NaN and -0.0/0.0 ties match Spark's range sort") {
    assertRangeParity(() => mixed.orderBy($"s".desc_nulls_last, $"d".asc_nulls_first, $"id".desc))
    assertRangeParity(() => mixed.orderBy($"dec".asc, $"i".desc, $"id"))
    // Spark orders -0.0 equal to 0.0 and NaN above +Infinity: the id
    // breaks the zero tie, so a sort that splits the zeros fails here
    val zeros = Seq((-0.0, 1), (0.0, 2), (Double.NaN, 3), (Double.PositiveInfinity, 4), (-0.0, 5))
      .toDF("d", "id").repartition(3)
    assertRangeParity(() => zeros.orderBy($"d", $"id".desc))
    assert(zeros.orderBy($"d", $"id".desc).collect().map(_.getInt(1)).toSeq == Seq(5, 2, 1, 4, 3))
  }

  private def spread: DataFrame = spark.range(0, 4000, 1, 8)
    .select(((col("id") * 7919) % 4001).as("k"), col("id"))

  private def sortedSpread: DataFrame = spread.orderBy($"k".desc, $"id")

  private lazy val expected: Seq[String] =
    spread.collect().sortBy(r => (-r.getLong(0), r.getLong(1))).map(canon).toSeq

  test("fallback: rdd.collect and toLocalIterator keep the global order") {
    val df = sortedSpread
    assert(df.rdd.collect().map(canon).toSeq == expected)
    assert(rows(df.toLocalIterator()) == expected)
    assert(df.collect().map(canon).toSeq == expected)
  }

  test("fallback: cache then join, and localCheckpoint, keep the global order") {
    val cached = sortedSpread.cache()
    try {
      assert(cached.collect().map(canon).toSeq == expected)
      val dim = spark.range(0, 4001).select(col("id").as("k"), (col("id") % 3).as("g"))
      val joined = cached.join(dim, "k").groupBy("g").agg(count(lit(1)), sum("id"))
        .orderBy("g").collect().map(canon).toSeq
      val plain = spread.join(dim, "k").groupBy("g").agg(count(lit(1)), sum("id"))
        .orderBy("g").collect().map(canon).toSeq
      assert(joined == plain)
      assert(cached.collect().map(canon).toSeq == expected)
    } finally cached.unpersist(blocking = true)
    val checkpointed = sortedSpread.localCheckpoint()
    assert(checkpointed.collect().map(canon).toSeq == expected)
    assert(checkpointed.orderBy($"k".desc, $"id").collect().map(canon).toSeq == expected)
  }

  /** The executed plan of every query `body` runs, as text. */
  private def executedPlans(body: => Unit): Seq[String] = {
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val l = new QueryExecutionListener {
      def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        seen.add(qe.executedPlan.toString)
      def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    }
    spark.listenerManager.register(l)
    try {
      body
      org.apache.spark.graftbridge.ListenerBridge.flush(spark.sparkContext)
    } finally spark.listenerManager.unregister(l)
    import scala.jdk.CollectionConverters._
    seen.asScala.toSeq
  }

  test("root only: a write range-sorts, a non-root sort and orderBy.limit keep their plans") {
    val dir = java.nio.file.Files.createTempDirectory("graft-collectsort").toString
    val writes = executedPlans(sortedSpread.write.mode("overwrite").parquet(s"$dir/w"))
    assert(writes.exists(_.contains("rangepartitioning")), writes)
    assert(!writes.exists(_.contains("CollectSort")), writes)
    assert(spark.read.parquet(s"$dir/w").orderBy($"k".desc, $"id").collect().map(canon).toSeq ==
      expected)

    val nonRoot = sortedSpread.withColumn("tag", monotonically_increasing_id())
    val p = plan(nonRoot)
    assert(p.contains("rangepartitioning") && !p.contains("CollectSort"), p)
    assert(nonRoot.collect().map(r => canon(Row(r.getLong(0), r.getLong(1)))).toSeq == expected)

    val top = sortedSpread.limit(5)
    assert(plan(top).contains("TakeOrderedAndProject") && !plan(top).contains("CollectSort"),
      plan(top))
    assert(top.collect().map(canon).toSeq == expected.take(5))
  }

  test("root only: with AQE off there is no CollectSort and the rows are equal") {
    withoutAqe {
      val df = sortedSpread
      assert(!plan(df).contains("CollectSort"), plan(df))
      assert(plan(df).contains("rangepartitioning"), plan(df))
      assert(df.collect().map(canon).toSeq == expected)
    }
  }
}
