package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions._

import graft.ops.Layout

/** Z-order layout: key semantics plus the end-to-end pruning effect —
  * the same box predicate over the same rows must emit far fewer rows
  * from the parquet SCAN NODE when the writer clustered by the
  * z-key, because tight per-row-group min/max stats on both
  * dimensions let the reader skip row groups at the footer. */
class LayoutSpec extends SparkSpec {

  private def scanRows(df: DataFrame): Long = {
    df.collect() // populate metrics
    val scans = df.queryExecution.executedPlan.collectLeaves().collect {
      case s: FileSourceScanExec => s
    }
    assert(scans.nonEmpty, "no FileSourceScanExec in plan")
    scans.map(_.metrics("numOutputRows").value).sum
  }

  test("zorderKey interleaves bits (closed-form cases)") {
    import spark.implicits._
    val rows = Seq((0L, 0L), (1L, 0L), (0L, 1L), (1L, 1L), (5L, 3L), (1023L, 0L), (0L, 1023L))
    val got = rows.toDF("x", "y")
      .select(col("x"), col("y"), Layout.zorderKeyN(Seq(col("x"), col("y"))).as("z"))
      .as[(Long, Long, Long)].collect().map(t => (t._1, t._2) -> t._3).toMap
    def morton(x: Long, y: Long): Long =
      (0 until 16).map(b => (((x >> b) & 1L) << (2 * b)) | (((y >> b) & 1L) << (2 * b + 1))).sum
    rows.foreach { case (x, y) => assert(got((x, y)) == morton(x, y), s"($x,$y)") }
    assert(got((1L, 0L)) == 1L && got((0L, 1L)) == 2L && got((1L, 1L)) == 3L)
    // q137's oracle SQL, byte for byte as the 2-dim generator spelled
    // it before the N-dim one took over (x's bit b at 2b, y's at 2b+1)
    val key2 = (0 until 16).flatMap(b => Seq(
      s"(((CAST(c_custkey AS BIGINT) >> $b) & 1) << ${2 * b})",
      s"(((CAST(c_nationkey AS BIGINT) >> $b) & 1) << ${2 * b + 1})")).mkString(" + ")
    assert(SparkEntry.oracleSql("q137_zorder_key") ==
      s"SELECT c_custkey,\n  CAST($key2 AS BIGINT) AS zkey\nFROM customer ORDER BY c_custkey")
  }

  test("zorderKeyN: closed-form 3-dim morton; key-bit budget") {
    import spark.implicits._
    val rows = Seq((1L, 0L, 0L), (0L, 1L, 0L), (0L, 0L, 1L),
      (5L, 3L, 7L), (1023L, 7L, 15L), (0L, 1023L, 1023L))
    val got = rows.toDF("x", "y", "z")
      .select(col("x"), col("y"), col("z"),
        Layout.zorderKeyN(Seq(col("x"), col("y"), col("z")), bits = 10).as("k"))
      .as[(Long, Long, Long, Long)].collect()
      .map(t => (t._1, t._2, t._3) -> t._4).toMap
    def morton3(x: Long, y: Long, z: Long): Long =
      (0 until 10).map(b => (((x >> b) & 1L) << (3 * b)) |
        (((y >> b) & 1L) << (3 * b + 1)) | (((z >> b) & 1L) << (3 * b + 2))).sum
    rows.foreach { case (x, y, z) =>
      assert(got((x, y, z)) == morton3(x, y, z), s"($x,$y,$z)") }
    assert(got((1L, 0L, 0L)) == 1L && got((0L, 1L, 0L)) == 2L && got((0L, 0L, 1L)) == 4L)
    // key-bit budget: 4 dims × 16 bits = 64 > 63 rejects
    intercept[IllegalArgumentException] {
      Layout.zorderKeyN(Seq(col("x"), col("y"), col("z"), col("x")), 16)
    }
  }

  test("3-dim z-ordered write prunes a box on the THIRD dimension at the footer") {
    val n = 200000
    // three independent uniform dims in [0, 1024), deterministic
    val base = spark.range(n.toLong).select(
      col("id"),
      (hash(col("id"), lit(1)).cast("long").bitwiseAND(lit(1023L))).as("x"),
      (hash(col("id"), lit(2)).cast("long").bitwiseAND(lit(1023L))).as("y"),
      (hash(col("id"), lit(3)).cast("long").bitwiseAND(lit(1023L))).as("z"),
      sha2(col("id").cast("string"), 256).as("payload"))
    val opts = Map("parquet.block.size" -> (64 * 1024).toString)
    val dir = java.nio.file.Files.createTempDirectory("graft-layout3").toString
    base.repartition(4).write.mode("overwrite").options(opts).parquet(s"$dir/shuffled")
    Layout.clusterZOrderedN(base, Seq("x", "y", "z"), nFiles = 4, bits = 10)
      .write.mode("overwrite").options(opts).parquet(s"$dir/z3")
    // the box constrains ONLY the third dimension — the one a 2-dim
    // key would leave unclustered (the q137->q193 generalization)
    def box(path: String): DataFrame =
      spark.read.parquet(path).filter(col("z") >= 192 && col("z") < 256)
    val shuffledRows = scanRows(box(s"$dir/shuffled"))
    val zRows = scanRows(box(s"$dir/z3"))
    val a = box(s"$dir/shuffled").agg(count(lit(1)), sum(col("id"))).collect()(0)
    val b = box(s"$dir/z3").agg(count(lit(1)), sum(col("id"))).collect()(0)
    assert(a == b, s"layouts disagree: $a vs $b")
    info(f"third-dim scan rows: shuffled=$shuffledRows z3=$zRows (${shuffledRows.toDouble / zRows}%.1f×)")
    assert(shuffledRows > n * 0.9, s"shuffled scan unexpectedly pruned: $shuffledRows")
    // contract, not magnitude (range-partition sampling varies
    // in-suite): the third dim must prune meaningfully at all
    assert(zRows < shuffledRows / 2,
      s"3-dim z-order pruned nothing on the third dim: $zRows vs $shuffledRows")
  }

  test("box query on a z-ordered write prunes row groups; a shuffled write scans everything") {
    import spark.implicits._
    val n = 200000
    // two independent uniform dims in [0, 1024) + payload, deterministic
    val base = spark.range(n.toLong).select(
      col("id"),
      (hash(col("id"), lit(1)).cast("long").bitwiseAND(lit(1023L))).as("x"),
      (hash(col("id"), lit(2)).cast("long").bitwiseAND(lit(1023L))).as("y"),
      sha2(col("id").cast("string"), 256).as("payload"))
    // small row groups so a single file holds many prunable units
    val opts = Map("parquet.block.size" -> (64 * 1024).toString)
    val dir = java.nio.file.Files.createTempDirectory("graft-layout").toString
    base.repartition(4).write.mode("overwrite").options(opts).parquet(s"$dir/shuffled")
    Layout.writeZOrdered(base, "x", "y", s"$dir/zorder", nFiles = 4, bits = 10,
      writerOptions = opts)

    def box(path: String): DataFrame =
      spark.read.parquet(path)
        .filter(col("x") >= 96 && col("x") < 160 && col("y") >= 192 && col("y") < 256)
    val shuffledRows = scanRows(box(s"$dir/shuffled"))
    val zRows = scanRows(box(s"$dir/zorder"))

    // correctness first: identical survivors either way
    val a = box(s"$dir/shuffled").agg(count(lit(1)), sum(col("id"))).collect()(0)
    val b = box(s"$dir/zorder").agg(count(lit(1)), sum(col("id"))).collect()(0)
    assert(a == b, s"layouts disagree: $a vs $b")

    // the shuffled layout has no usable stats: the scan emits ~all rows;
    // the z-ordered layout skips most row groups at the footer
    info(f"scan rows: shuffled=$shuffledRows zordered=$zRows (${shuffledRows.toDouble / zRows}%.0f×)")
    assert(shuffledRows > n * 0.9, s"shuffled scan unexpectedly pruned: $shuffledRows")
    assert(zRows < shuffledRows / 5,
      s"z-order pruned too little: $zRows vs shuffled $shuffledRows")
  }

  test("writeZOrdered fails loudly on out-of-grid dimension values") {
    import spark.implicits._
    // 70000 >= 2^16: would silently alias onto the low 16 bits and
    // destroy the clustering contract — must error, not degrade
    val dir = java.nio.file.Files.createTempDirectory("graft-zdom").toString
    val bad = Seq((0L, 5L, 7L), (1L, 70000L, 3L)).toDF("id", "x", "y")
    val e = intercept[Exception] {
      Layout.writeZOrdered(bad, "x", "y", s"$dir/out", nFiles = 1)
    }
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => x.toString +: msgs(x.getCause))
    assert(msgs(e).exists(_.contains("z-grid domain")), e.toString)
    // in-grid rows still write (the guard is per-row, not per-frame)
    Layout.writeZOrdered(bad.filter(col("x") < 1024), "x", "y",
      s"$dir/ok", nFiles = 1)
    assert(spark.read.parquet(s"$dir/ok").count() == 1)
  }

  test("bloom-filtered write prunes absent-key point lookups at the footer") {
    val n = 200000
    // high-cardinality UNSORTED key: every row group's min/max spans
    // ~the whole domain, so stats alone can never prune a point lookup
    val base = spark.range(n.toLong).select(
      col("id"),
      (hash(col("id"), lit(3)).cast("long").bitwiseAND(lit(0x7fffffffL))).as("k"))
    val dir = java.nio.file.Files.createTempDirectory("graft-bloom").toString
    val small = Map("parquet.block.size" -> (64 * 1024).toString)
    base.repartition(4).write.mode("overwrite").options(small).parquet(s"$dir/plain")
    base.repartition(4).write.mode("overwrite")
      .options(small ++ Map(
        "parquet.bloom.filter.enabled#k" -> "true",
        "parquet.bloom.filter.expected.ndv#k" -> n.toString))
      .parquet(s"$dir/bloom")

    // a probe value inside the min/max envelope but absent from the data
    val probe = 1234567L
    assert(spark.read.parquet(s"$dir/plain").filter(col("k") === probe).count() == 0)

    val plainRows = scanRows(spark.read.parquet(s"$dir/plain").filter(col("k") === probe))
    val bloomRows = scanRows(spark.read.parquet(s"$dir/bloom").filter(col("k") === probe))
    // without blooms, min/max can't prune (a few groups drop to parquet's
    // dictionary-page filtering — ~11% measured — but the bulk is read)
    assert(plainRows > n * 0.8, s"plain layout unexpectedly pruned: $plainRows")
    // with blooms every row group answers 'definitely absent' at the footer
    assert(bloomRows == 0, s"bloom filters did not prune: $bloomRows rows read")
  }

  test("hive-partitioned write: a static partition filter prunes whole directories at the scan") {
    val docs = graft.sources.Tables.documents(spark, sf("sf0.01"))
    val dir = java.nio.file.Files.createTempDirectory("graft-hivepart").toString
    docs.write.mode("overwrite").partitionBy("lang").parquet(dir)
    val enCount = docs.filter(col("lang") === "en").count()
    val pruned = spark.read.parquet(dir).filter(col("lang") === "en")
      .select("doc_id")
    assert(scanRows(pruned) == enCount,
      "only the lang=en directory's rows may leave the scan")
    val p = pruned.queryExecution.executedPlan.toString
    assert(p.contains("PartitionFilters: [") && p.contains("lang"), p)
    // the predicate is answered by directory listing, not data filters
    assert(!p.contains("PushedFilters: [IsNotNull(lang)"), p)
  }

  test("dynamic partition pruning: a filtered dim prunes the partitioned fact scan at runtime") {
    import spark.implicits._
    val docs = graft.sources.Tables.documents(spark, sf("sf0.01"))
    val dir = java.nio.file.Files.createTempDirectory("graft-dpp").toString
    docs.write.mode("overwrite").partitionBy("lang").parquet(dir)
    // dim written to parquet: DPP requires a scannable filtered side
    val dimDir = java.nio.file.Files.createTempDirectory("graft-dpp-dim").toString
    Seq(("en", "keep"), ("de", "drop"), ("fr", "drop"), ("es", "drop"), ("zh", "drop"))
      .toDF("lang", "tag").write.mode("overwrite").parquet(dimDir)
    val fact = spark.read.parquet(dir)
    val dim = spark.read.parquet(dimDir).filter(col("tag") === "keep")
    val joined = fact.join(dim, Seq("lang")).select("doc_id")
    val enCount = docs.filter(col("lang") === "en").count()
    assert(joined.count() == enCount)
    val p = joined.queryExecution.executedPlan.toString
    assert(p.contains("dynamicpruningexpression"),
      s"fact scan must carry a runtime partition filter:\n$p")
    // the fact scan reads only the partition the dim's survivors name
    joined.collect()
    // AQE buries scans inside QueryStageExec leaves — recurse through
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    def scans(p: SparkPlan): Seq[FileSourceScanExec] = p match {
      case s: FileSourceScanExec => Seq(s)
      case q: QueryStageExec => scans(q.plan)
      case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
      case other => other.children.flatMap(scans)
    }
    val factScan = scans(joined.queryExecution.executedPlan).filter { s =>
      s.metadata.get("Location").exists(_.contains("graft-dpp")) &&
        !s.metadata.get("Location").exists(_.contains("dpp-dim"))
    }
    assert(factScan.nonEmpty)
    assert(factScan.map(_.metrics("numOutputRows").value).sum == enCount,
      "runtime pruning must skip every non-en partition")
  }
}
