package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.execution.datasources.LogicalRelation
import org.apache.spark.sql.functions._

import graft.sinks.TableLog

/** plans.MetadataCount: a bare count of a TableLog snapshot is served
  * from the manifest's footer row counts and starts no Spark job; any
  * other shape, a stat-less file or a DV'd version keeps the scan.
  * Every count is checked against an RDD count of the same read,
  * which the optimizer rule never sees. */
class MetadataCountSpec extends SparkSpec {
  import spark.implicits._

  private def tmpTable(): String =
    Files.createTempDirectory("graft-mcount").toString

  private def batch(ids: Range): DataFrame =
    ids.map(i => (i.toLong, s"doc-$i")).toDF("id", "payload")

  private def graftlog(t: String, v: Long): DataFrame =
    spark.read.format("graftlog").option("versionAsOf", v).load(t)

  /** Three appends, a compact, an upsert and a schema-evolving append:
    * versions 1–6, every file with stats. */
  private lazy val history: String = {
    val t = tmpTable()
    TableLog.append(batch(0 until 10).repartition(2), t)
    TableLog.append(batch(10 until 25), t)
    TableLog.append(batch(25 until 32).repartition(3), t)
    TableLog.compact(spark, t, numFiles = 2)
    TableLog.upsert(batch(28 until 40).withColumn("payload", lit("upserted")), t, Seq("id"))
    TableLog.append(batch(40 until 44).withColumn("flag", lit(true)), t, evolve = true)
    assert(TableLog.headVersion(spark, t) == 6L)
    t
  }

  /** `count` of `build()`, the Spark jobs it started (the read's own
    * construction included), and the RDD count of the same read. */
  private def counted(build: => DataFrame): (Long, Int, Long) = {
    val (n, jobs) = jobsIn(build.count())
    (n, jobs, build.rdd.count())
  }

  private def assertServed(what: String, build: => DataFrame): Long = {
    val (n, jobs, scanned) = counted(build)
    assert(n == scanned, s"$what: count $n, scan $scanned")
    assert(jobs == 0, s"$what: count started $jobs jobs")
    n
  }

  private def assertScanned(what: String, build: => DataFrame): Unit = {
    val (n, jobs, scanned) = counted(build)
    assert(n == scanned, s"$what: count $n, scan $scanned")
    assert(jobs >= 1, s"$what: count started no job")
  }

  // ---------------------------------------------------------- parity and job budget

  test("every version of a read counts from the manifest: scan parity, 0 jobs") {
    val t = history
    val counts = (1L to 6L).map { v =>
      val n = assertServed(s"read v$v", TableLog.read(spark, t, Some(v)))
      assertServed(s"read v$v select", TableLog.read(spark, t, Some(v)).select("payload"))
      n
    }
    assert(counts == Seq(10L, 25L, 32L, 32L, 40L, 44L))
    assertServed("head read", TableLog.read(spark, t))
    assertServed("readAppendsSince", TableLog.readAppendsSince(spark, t, 1L, Some(3L)))
  }

  test("graftlog versionAsOf counts from the pinned manifest: scan parity, 0 jobs") {
    val t = history
    (1L to 6L).foreach { v =>
      assertServed(s"graftlog v$v", graftlog(t, v))
      assertServed(s"graftlog v$v select", graftlog(t, v).select("id"))
    }
  }

  test("count(*), count(1) and several constant counts in SQL and agg are served") {
    val t = history
    TableLog.read(spark, t, Some(4L)).createOrReplaceTempView("mcount_v4")
    val (sqlRow, sqlJobs) = jobsIn(spark.sql(
      "SELECT count(*) AS a, count(1) AS b FROM mcount_v4").collect().head)
    assert((sqlRow.getLong(0), sqlRow.getLong(1), sqlJobs) == (32L, 32L, 0))
    val (aggRow, aggJobs) = jobsIn(TableLog.read(spark, t, Some(2L))
      .agg(count(lit(1)), count(lit("x"))).collect().head)
    assert((aggRow.getLong(0), aggRow.getLong(1), aggJobs) == (25L, 25L, 0))
  }

  // ---------------------------------------------------------- fallbacks

  test("filtered, limited, distinct and column counts keep the scan") {
    val t = history
    assertScanned("readWhere", TableLog.readWhere(spark, t, col("id") < 12, Some(4L)))
    assertScanned("filter", TableLog.read(spark, t).filter(col("id") % 2 === 0))
    assertScanned("limit", TableLog.read(spark, t).limit(7))
    assertScanned("distinct", TableLog.read(spark, t).select("payload").distinct())
    assertScanned("sample", TableLog.read(spark, t).sample(0.5, 7L))
    val (n, jobs) = jobsIn(TableLog.read(spark, t).agg(count("flag")).head.getLong(0))
    assert(n == 4L && jobs >= 1, s"count(flag) = $n in $jobs jobs")
    assertScanned("graftlog filter", graftlog(t, 6L).filter(col("id") > 30))
    // a cached read's count still fills the cache: the cache manager
    // swaps the relation for its InMemoryRelation before the optimizer
    val cached = TableLog.read(spark, t).cache()
    try assertScanned("cached read", cached)
    finally cached.unpersist()
  }

  test("a DV'd version keeps the scan on both faces until a compact materializes it") {
    val t = tmpTable()
    TableLog.append(batch(0 until 20).repartition(2), t)
    val v = TableLog.deleteVectors(spark, t, col("id") % 5 === 0)
    assert(TableLog.manifest(spark, t, Some(v)).dvs.nonEmpty)
    assertScanned("DV'd read", TableLog.read(spark, t, Some(v)))
    assertScanned("DV'd graftlog", graftlog(t, v))
    assert(TableLog.read(spark, t, Some(v)).count() == 16L)
    // the version before the delete is DV-free, and so is the compact
    assertServed("pre-delete read", TableLog.read(spark, t, Some(v - 1)))
    val c = TableLog.compact(spark, t)
    assert(assertServed("compacted read", TableLog.read(spark, t, Some(c))) == 16L)
    assertServed("compacted graftlog", graftlog(t, c))
  }

  test("a manifest with a stat-less file keeps the scan") {
    val t = tmpTable()
    TableLog.append(batch(0 until 6), t)
    TableLog.append(batch(6 until 9), t)
    // drop v1's stats tokens: the legacy / failed-footer shape
    val mPath = Paths.get(s"$t/_log/v00000001.manifest")
    Files.writeString(mPath, Files.readString(mPath).replaceAll("\trows=[^\t\n]*", ""))
    val m = TableLog.manifest(spark, t)
    assert(m.files.exists(f => !m.stats.contains(f)) && m.files.exists(m.stats.contains))
    assertScanned("stat-less read", TableLog.read(spark, t))
    assertScanned("stat-less graftlog", graftlog(t, 2L))
    // the statted v2 delta alone is still served
    assert(assertServed("statted delta", TableLog.readAppendsSince(spark, t, 1L)) == 3L)
  }

  // ---------------------------------------------------------- plan shape

  test("a counted read optimizes to a LocalRelation; a filtered count keeps its relation") {
    val t = history
    def shape(df: DataFrame): (Int, Int) = {
      val p = df.groupBy().count().queryExecution.optimizedPlan
      (p.collect { case l: LocalRelation => l }.size,
        p.collect { case r: LogicalRelation => r }.size)
    }
    assert(shape(TableLog.read(spark, t, Some(3L))) == (1, 0))
    assert(shape(graftlog(t, 3L)) == (1, 0))
    assert(shape(TableLog.read(spark, t, Some(3L)).filter(col("id") > 5)) == (0, 1))
  }

  // ---------------------------------------------------------- detail

  test("detail's n_rows is the count the rule serves, and the scan's on a DV'd version") {
    def nRows(t: String, v: Long) =
      TableLog.detail(spark, t, Some(v)).select("n_rows").head.getLong(0)
    val t = history
    (1L to 6L).foreach { v =>
      assert(nRows(t, v) == TableLog.read(spark, t, Some(v)).count(), s"v$v")
    }
    val dv = tmpTable()
    TableLog.append(batch(0 until 12).coalesce(1), dv)
    val v = TableLog.deleteVectors(spark, dv, col("id") < 3)
    assert(TableLog.manifest(spark, dv, Some(v)).dvs.nonEmpty)
    assert(nRows(dv, v) == TableLog.read(spark, dv, Some(v)).rdd.count())
  }
}
