package graft

import org.apache.spark.sql.functions._
import graft.sources.PagedSource
import graft.sinks.JdbcSink

/** Serializable fixtures: defined outside the suite so executor
  * closures don't capture the (non-serializable) test engine. */
object SourcesSpecFixtures {
  case class Page(page: Int, place_id: String, name: String)
  val goodFetcher: Int => Seq[Page] =
    p => (1 to 3).map(i => Page(p, s"$p-$i", s"r$p$i"))
  val crashyFetcher: Int => Seq[Page] =
    p => if (p == 3) throw new RuntimeException("page crash")
         else Seq(Page(p, s"$p", s"r$p"))
}

/** Sources/sinks added for the reference's ingestion surface. */
class SourcesSpec extends SparkSpec {
  import spark.implicits._
  import SourcesSpecFixtures._

  test("S5 PagedSource: one task per page, executor-side fetch, union of pages") {
    val out = PagedSource.fetch[Page](spark, 4, goodFetcher)
    assert(out.count() == 12)
    assert(out.rdd.getNumPartitions == 4)
    assert(out.filter($"page" === 2).count() == 3)
  }

  test("S5 PagedSource: failed page skipped when tolerated (hello.py:408-413 twin)") {
    val out = PagedSource.fetch[Page](spark, 4, crashyFetcher, tolerateFailures = true)
    assert(out.count() == 3)
    assert(out.filter($"page" === 3).count() == 0)
  }

  test("K2 JdbcSink.upsertBatch: composite-key anti-join + NOT-NULL defaults") {
    val incoming = Seq(
      ("공덕 맛집", "서울 마포구 마포대로 100", Some(37.5), Some(126.9), Some("t.jpg")),
      ("신규 식당", null, None, None, None),
      ("기존 식당", "서울 용산구 1", Some(1.0), Some(2.0), None)
    ).toDF("name", "address", "latitude", "longitude", "thumbnail")
    val existing = Seq(("기존 식당", "서울 용산구 1")).toDF("name", "address")
    val out = JdbcSink.upsertBatch(incoming, existing)
    assert(out.count() == 2)
    val newRow = out.filter($"name" === "신규 식당").collect().head
    assert(newRow.getAs[String]("address") == "")      // NOT-NULL default
    assert(newRow.getAs[Double]("latitude") == 0.0)
    assert(out.filter($"name" === "기존 식당").count() == 0)
  }

  test("S1 table paths are scheme-agnostic: a grafts3:// URI reads through the registered FileSystem") {
    val conf = spark.sparkContext.hadoopConfiguration
    conf.set("fs.grafts3.impl", classOf[FakeObjectStoreFS].getName)
    conf.set("fs.grafts3.impl.disable.cache", "true")
    FakeObjectStoreFS.opens.set(0)
    val viaStore = graft.sources.Tables.nation(spark, "grafts3://" + sf("sf0.001"))
    val viaFile = graft.sources.Tables.nation(spark, sf("sf0.001"))
    assert(viaStore.count() == viaFile.count() && viaStore.count() > 0)
    assert(viaStore.exceptAll(viaFile).count() == 0 &&
      viaFile.exceptAll(viaStore).count() == 0)
    // and the bytes actually flowed through the grafts3 FileSystem —
    // scheme resolution did not silently fall back to file:
    assert(FakeObjectStoreFS.opens.get() > 0,
      "expected parquet reads through FakeObjectStoreFS")
  }

  /** A fresh corpus dir holding a copy of sf0.001's `name` table, so
    * its first read in the session is a schema-cache miss. */
  private def freshCopy(name: String): String = {
    val dir = java.nio.file.Files.createTempDirectory("graft-tables")
    java.nio.file.Files.copy(java.nio.file.Paths.get(sf("sf0.001"), s"$name.parquet"),
      dir.resolve(s"$name.parquet"))
    dir.toString
  }

  test("S6 schema cache: a repeated Tables read in one session starts zero Spark jobs") {
    val d = freshCopy("lineitem")
    val (first, inferJobs) = jobsIn(graft.sources.Tables.lineitem(spark, d))
    val (again, jobs) = jobsIn(graft.sources.Tables.lineitem(spark, d))
    assert(inferJobs > 0, "the first read infers the schema with a Spark job")
    assert(jobs == 0, s"a cached read started $jobs jobs")
    assert(again.schema == first.schema)
    assert(again.count() == first.count() && again.count() > 0)
  }

  test("S6 schema cache: a table rewritten at the same path is re-inferred") {
    val d = java.nio.file.Files.createTempDirectory("graft-tables").toString
    (1 to 5).map(i => (i.toLong, s"v$i")).toDF("k", "v")
      .write.parquet(s"$d/t.parquet")
    assert(graft.sources.Tables(spark, d, "t").columns.toSeq == Seq("k", "v"))
    assert(jobsIn(graft.sources.Tables(spark, d, "t"))._2 == 0)
    (1 to 7).map(i => (i.toLong, s"v$i", i * 2.0)).toDF("k", "v", "extra")
      .write.mode("overwrite").parquet(s"$d/t.parquet")
    val (after, jobs) = jobsIn(graft.sources.Tables(spark, d, "t"))
    assert(jobs > 0, "a rewritten table must be re-inferred")
    assert(after.columns.toSeq == Seq("k", "v", "extra"))
    assert(after.agg(sum($"extra")).head.getDouble(0) == 56.0)
  }

  test("S6 schema cache: a changed parquet conf forces a re-infer") {
    val d = freshCopy("nation")
    graft.sources.Tables.nation(spark, d)
    assert(jobsIn(graft.sources.Tables.nation(spark, d))._2 == 0)
    val nanos = "spark.sql.legacy.parquet.nanosAsLong"
    val nanosBefore = spark.conf.get(nanos)
    try {
      spark.conf.set("spark.sql.parquet.binaryAsString", "true")
      assert(jobsIn(graft.sources.Tables.nation(spark, d))._2 > 0)
      assert(jobsIn(graft.sources.Tables.nation(spark, d))._2 == 0)
      spark.conf.set(nanos, (!nanosBefore.toBoolean).toString)
      assert(jobsIn(graft.sources.Tables.nation(spark, d))._2 > 0)
    } finally {
      spark.conf.unset("spark.sql.parquet.binaryAsString")
      spark.conf.set(nanos, nanosBefore)
    }
    // back to the original confs: the stamp differs from the last
    // entry's, so this is a miss again, then a hit
    assert(jobsIn(graft.sources.Tables.nation(spark, d))._2 > 0)
    assert(jobsIn(graft.sources.Tables.nation(spark, d))._2 == 0)
  }

  test("S6 schema cache: spark.newSession() does not reuse the first session's entries") {
    val d = freshCopy("region")
    graft.sources.Tables.region(spark, d)
    assert(jobsIn(graft.sources.Tables.region(spark, d))._2 == 0)
    val other = spark.newSession()
    val (df, jobs) = jobsIn(graft.sources.Tables.region(other, d))
    assert(jobs > 0, "a new session must infer for itself")
    assert(df.count() == graft.sources.Tables.region(spark, d).count())
  }

  test("S6 schema cache: two cached reads of one table self-join as two plain reads do") {
    val d = sf("sf0.001")
    graft.sources.Tables.orders(spark, d)
    def pairs(a: org.apache.spark.sql.DataFrame, b: org.apache.spark.sql.DataFrame) =
      a.join(b, a("o_custkey") === b("o_custkey") && a("o_orderkey") < b("o_orderkey"))
        .select(a("o_orderkey"), b("o_orderkey"))
    val cached = pairs(graft.sources.Tables.orders(spark, d), graft.sources.Tables.orders(spark, d))
    val plain = pairs(spark.read.parquet(s"$d/orders.parquet"),
      spark.read.parquet(s"$d/orders.parquet"))
    assert(cached.count() == plain.count() && cached.count() > 0)
    assert(cached.exceptAll(plain).count() == 0 && plain.exceptAll(cached).count() == 0)
  }

  test("object-store attach path: fs.s3a.impl wiring round-trips a WRITE + READ on s3a://") {
    // The production attach recipe is exactly two moves: hadoop-aws on
    // the classpath and `fs.s3a.impl` (+ credentials) in the Hadoop
    // conf — no engine code changes. This test performs the SECOND
    // move against the real config key with a local stand-in
    // FileSystem, and proves BOTH directions (K1-style sink write and
    // S1-style read) resolve through it: the write creates objects
    // via FakeS3AFS.create, the read streams them via open, and the
    // round-tripped rows are byte-identical. A typo'd impl key or a
    // silent fallback to file: fails the counters.
    val conf = spark.sparkContext.hadoopConfiguration
    conf.set("fs.s3a.impl", classOf[FakeS3AFS].getName)
    conf.set("fs.s3a.impl.disable.cache", "true")
    FakeS3AFS.opens.set(0)
    FakeS3AFS.creates.set(0)
    val dest = "s3a://" + java.nio.file.Files
      .createTempDirectory("graft-s3a-rt").toString + "/nation"
    val src = graft.sources.Tables.nation(spark, sf("sf0.001"))
    src.write.mode("overwrite").parquet(dest)
    assert(FakeS3AFS.creates.get() > 0,
      "parquet write did not flow through the s3a-registered FileSystem")
    val back = spark.read.parquet(dest)
    assert(back.count() == src.count() && back.count() > 0)
    assert(back.exceptAll(src).count() == 0 && src.exceptAll(back).count() == 0)
    assert(FakeS3AFS.opens.get() > 0,
      "parquet read did not flow through the s3a-registered FileSystem")
  }

  test("object-store profile: real hadoop-aws jar wires s3a scheme resolution when present (lib-aws/)") {
    // The first attach move — the REAL jar on the classpath — is an
    // optional profile in this zero-egress build (build.sbt lib-aws/).
    // When a user drops hadoop-aws there, this test auto-promotes
    // from canceled to executed: the s3a scheme must resolve to the
    // genuine S3AFileSystem via Hadoop's service discovery, with NO
    // fs.s3a.impl override (the override path is the stand-in test
    // above). Without the jar it cancels with the recipe.
    val real = try Some(Class.forName("org.apache.hadoop.fs.s3a.S3AFileSystem"))
      catch { case _: ClassNotFoundException => None }
    assume(real.nonEmpty,
      "hadoop-aws not on classpath — drop hadoop-aws + aws-java-sdk-bundle " +
        "into lib-aws/ to promote this test (see build.sbt)")
    val conf = new org.apache.hadoop.conf.Configuration()
    conf.unset("fs.s3a.impl")
    val resolved = org.apache.hadoop.fs.FileSystem.getFileSystemClass("s3a", conf)
    assert(resolved == real.get,
      s"s3a resolved to ${resolved.getName}, expected the real S3AFileSystem")
  }

  test("A6/U4: dict-of-lists JSON normalizes to rows (explode map values)") {
    import org.apache.spark.sql.types._
    val json = """{"공덕역 식당": [{"placeId":"1","name":"a"},{"placeId":"2","name":"b"}],
                  |"용산 식당": [{"placeId":"3","name":"c"}]}""".stripMargin.replace("\n", "")
    val mapType = MapType(StringType,
      ArrayType(StructType(Seq(StructField("placeId", StringType), StructField("name", StringType)))))
    val out = Seq(json).toDF("v")
      .select(explode(from_json($"v", mapType)).as(Seq("search_query", "rows")))
      .select($"search_query", explode($"rows").as("r"))
      .select($"search_query", $"r.placeId", $"r.name")
    assert(out.count() == 3)
    assert(out.filter($"search_query" === "공덕역 식당").count() == 2)
  }
}
