package graft

import java.nio.file.Files

import org.apache.spark.sql.functions.col

import graft.sinks.TableLog
import graft.sql.GraftSql

/** GraftSql: the pure-SQL DML face over TableLog — MERGE INTO /
  * DELETE FROM through Spark's own parser, maintenance verbs, view
  * refresh after DML, and loud rejection of every clause shape whose
  * changelog translation would silently diverge from SQL semantics.
  */
class GraftSqlSpec extends SparkSpec {
  import spark.implicits._

  private def tmpTable(): String =
    Files.createTempDirectory("graft-sql").toString

  private def rows(name: String): Seq[(Long, String)] =
    spark.sql(s"SELECT id, payload FROM $name ORDER BY id")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq

  test("SQL MERGE INTO (CDC shape) ≡ the Scala merge verb; the view refreshes so SELECT sees the new head") {
    val t = tmpTable()
    TableLog.append((0L until 10L).map(i => (i, s"p$i")).toDF("id", "payload"), t)
    GraftSql.register(spark, "gsql_t", t)
    Seq((1L, "p1-u", "U"), (2L, null.asInstanceOf[String], "D"),
        (20L, "new", "U"), (21L, "flagged", "D"))
      .toDF("id", "payload", "op").createOrReplaceTempView("gsql_src")
    val res = GraftSql.sql(spark,
      """MERGE INTO gsql_t USING gsql_src s ON gsql_t.id = s.id
        |WHEN MATCHED AND s.op = 'D' THEN DELETE
        |WHEN MATCHED THEN UPDATE SET *
        |WHEN NOT MATCHED AND NOT (s.op = 'D') THEN INSERT *""".stripMargin)
    assert(res.head.getString(1) == "merge" && res.head.getLong(2) == 2L)
    assert(TableLog.manifest(spark, t).action == "merge")
    // id 2 deleted, id 1 updated, id 20 inserted, id 21 (unmatched,
    // delete-flagged) dropped per the guarded-insert contract
    val expected = ((0L until 10L).filterNot(_ == 2L).map(i =>
      (i, if (i == 1L) "p1-u" else s"p$i")) :+ (20L, "new")).sortBy(_._1)
    assert(rows("gsql_t") == expected, "SELECT through the view sees the new head")
    // plain upsert shape, no delete arm
    Seq((3L, "p3-u2"), (30L, "newer")).toDF("id", "payload")
      .createOrReplaceTempView("gsql_src2")
    GraftSql.sql(spark,
      """MERGE INTO gsql_t USING gsql_src2 s ON gsql_t.id = s.id
        |WHEN MATCHED THEN UPDATE SET *
        |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    assert(rows("gsql_t").toMap.get(3L).contains("p3-u2"))
    assert(rows("gsql_t").toMap.get(30L).contains("newer"))
  }

  test("SQL DELETE FROM ≡ TableLog.delete; DESCRIBE HISTORY / OPTIMIZE / RESTORE / VACUUM drive the verbs") {
    val t = tmpTable()
    TableLog.append((0L until 20L).map(i => (i, s"p$i")).toDF("id", "payload")
      .coalesce(2), t)
    GraftSql.register(spark, "gsql_m", t)
    GraftSql.sql(spark, "DELETE FROM gsql_m WHERE id % 2 = 0 AND id < 10")
    assert(rows("gsql_m").map(_._1) ==
      (0L until 20L).filterNot(i => i % 2 == 0 && i < 10))
    val hist = GraftSql.sql(spark, "DESCRIBE HISTORY gsql_m")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(hist == Seq((1L, "append"), (2L, "delete")))
    GraftSql.sql(spark, "OPTIMIZE gsql_m INTO 1 FILES")
    assert(TableLog.manifest(spark, t).action == "compact" &&
      TableLog.manifest(spark, t).files.size == 1)
    assert(rows("gsql_m").size == 15, "optimize preserves content")
    val r = GraftSql.sql(spark, "RESTORE gsql_m TO VERSION AS OF 1")
    assert(r.head.getLong(2) == 4L)
    assert(rows("gsql_m").map(_._1) == (0L until 20L),
      "restore through SQL serves v1 again")
    val vac = GraftSql.sql(spark, "VACUUM gsql_m")
    assert(vac.columns.toSeq == Seq("deleted_path"))
    // a zorder through SQL text
    TableLog.append((20L until 40L).map(i => (i, s"p$i")).toDF("id", "payload"), t)
    GraftSql.sql(spark, "OPTIMIZE gsql_m ZORDER BY (id) INTO 2 FILES")
    assert(TableLog.manifest(spark, t).action == "zorder")
    assert(spark.sql("SELECT * FROM gsql_m").rdd.count() == 40L)
  }

  test("divergent clause shapes reject loudly; SQL MERGE cardinality contract enforced; non-DML delegates to spark.sql") {
    val t = tmpTable()
    TableLog.append((0L until 5L).map(i => (i, s"p$i")).toDF("id", "payload"), t)
    GraftSql.register(spark, "gsql_r", t)
    Seq((1L, "x", "D"), (2L, "y", "U")).toDF("id", "payload", "op")
      .createOrReplaceTempView("gsql_rsrc")
    // update-only: changelog 'U' would INSERT unmatched keys, SQL wouldn't
    val e1 = intercept[IllegalArgumentException](GraftSql.sql(spark,
      """MERGE INTO gsql_r USING gsql_rsrc s ON gsql_r.id = s.id
        |WHEN MATCHED THEN UPDATE SET *""".stripMargin))
    assert(e1.getMessage.contains("Supported shapes"))
    // unguarded INSERT with a delete arm: SQL inserts flagged
    // unmatched rows, the changelog drops them
    val e2 = intercept[IllegalArgumentException](GraftSql.sql(spark,
      """MERGE INTO gsql_r USING gsql_rsrc s ON gsql_r.id = s.id
        |WHEN MATCHED AND s.op = 'D' THEN DELETE
        |WHEN MATCHED THEN UPDATE SET *
        |WHEN NOT MATCHED THEN INSERT *""".stripMargin))
    assert(e2.getMessage.contains("guarded"))
    // duplicate source keys: the SQL cardinality violation
    Seq((1L, "a", "U"), (1L, "b", "U")).toDF("id", "payload", "op")
      .createOrReplaceTempView("gsql_rdup")
    val e3 = intercept[IllegalStateException](GraftSql.sql(spark,
      """MERGE INTO gsql_r USING gsql_rdup s ON gsql_r.id = s.id
        |WHEN MATCHED AND s.op = 'D' THEN DELETE
        |WHEN MATCHED THEN UPDATE SET *
        |WHEN NOT MATCHED AND NOT (s.op = 'D') THEN INSERT *""".stripMargin))
    assert(e3.getMessage.contains("multiple source rows"))
    // a TARGET-qualified clause condition would silently evaluate
    // against the incoming row — rejected by qualifier
    val e4 = intercept[IllegalArgumentException](GraftSql.sql(spark,
      """MERGE INTO gsql_r USING gsql_rsrc s ON gsql_r.id = s.id
        |WHEN MATCHED AND gsql_r.op = 'D' THEN DELETE
        |WHEN MATCHED THEN UPDATE SET *
        |WHEN NOT MATCHED AND NOT (gsql_r.op = 'D') THEN INSERT *""".stripMargin))
    assert(e4.getMessage.contains("TARGET"))
    // a source missing a payload column under SET * would silently
    // null-overwrite it on every matched row — rejected like Delta
    Seq(Tuple1(1L)).toDF("id").createOrReplaceTempView("gsql_rthin")
    val e5 = intercept[IllegalArgumentException](GraftSql.sql(spark,
      """MERGE INTO gsql_r USING gsql_rthin s ON gsql_r.id = s.id
        |WHEN MATCHED THEN UPDATE SET *
        |WHEN NOT MATCHED THEN INSERT *""".stripMargin))
    assert(e5.getMessage.contains("payload column"))
    // a NULL delete-condition row is untranslatable (SQL skips it on
    // both arms) — loud runtime rejection, never silent divergence
    Seq((1L, "x", null.asInstanceOf[String])).toDF("id", "payload", "op")
      .createOrReplaceTempView("gsql_rnull")
    val e6 = intercept[IllegalStateException](GraftSql.sql(spark,
      """MERGE INTO gsql_r USING gsql_rnull s ON gsql_r.id = s.id
        |WHEN MATCHED AND s.op = 'D' THEN DELETE
        |WHEN MATCHED THEN UPDATE SET *
        |WHEN NOT MATCHED AND NOT (s.op = 'D') THEN INSERT *""".stripMargin))
    assert(e6.getMessage.contains("NULL"))
    // delete-only shape works with a key-only source
    Seq(Tuple1(3L)).toDF("id").createOrReplaceTempView("gsql_rdel")
    GraftSql.sql(spark,
      """MERGE INTO gsql_r USING gsql_rdel s ON gsql_r.id = s.id
        |WHEN MATCHED THEN DELETE""".stripMargin)
    assert(rows("gsql_r").map(_._1) == Seq(0L, 1L, 2L, 4L))
    // anything else is plain spark.sql — a SELECT comes back verbatim
    assert(GraftSql.sql(spark, "SELECT 1 AS one").head.getInt(0) == 1)
  }

  test("full-table erasure commits an empty-but-readable version under both DELETE registrations and through MERGE") {
    def filled(): String = {
      val t = tmpTable()
      TableLog.append((0L until 12L).map(i => (i, s"p$i")).toDF("id", "payload")
        .coalesce(2), t)
      t
    }
    def emptyVersion(t: String, name: String, action: String): Unit = {
      val m = TableLog.manifest(spark, t)
      assert(m.version == 2L && m.action == action, s"$name: ${m.version} ${m.action}")
      assert(m.files.size == 1 && m.dvs.isEmpty,
        s"$name: one schema-bearing empty file, no vectors: $m")
      assert(TableLog.read(spark, t).schema.fieldNames.toSeq == Seq("id", "payload"))
      assert(TableLog.read(spark, t).collect().isEmpty && rows(name).isEmpty, name)
      // the erased table is an ordinary table: the next append lands on it
      TableLog.append(Seq((99L, "back")).toDF("id", "payload"), t)
      GraftSql.register(spark, name, t)
      assert(rows(name) == Seq((99L, "back")), name)
    }
    // copy-on-write and merge-on-read registrations commit the same version
    Seq(false, true).foreach { dv =>
      val name = if (dv) "gsql_erase_dv" else "gsql_erase"
      val t = filled()
      GraftSql.register(spark, name, t, deleteVectors = dv)
      GraftSql.sql(spark, s"DELETE FROM $name WHERE true")
      emptyVersion(t, name, "delete")
    }
    // a MERGE whose source deletes every key
    val t = filled()
    GraftSql.register(spark, "gsql_erase_m", t)
    (0L until 12L).toDF("id").createOrReplaceTempView("gsql_erase_src")
    GraftSql.sql(spark,
      """MERGE INTO gsql_erase_m USING gsql_erase_src s ON gsql_erase_m.id = s.id
        |WHEN MATCHED THEN DELETE""".stripMargin)
    emptyVersion(t, "gsql_erase_m", "merge")
  }

  test("register(deleteVectors = true) routes SQL DELETE FROM through the merge-on-read verb") {
    val t = tmpTable()
    TableLog.append((0L until 40L).map(i => (i, s"p$i")).toDF("id", "payload")
      .coalesce(2), t)
    GraftSql.register(spark, "gsql_dv", t, deleteVectors = true)
    val pre = TableLog.manifest(spark, t)
    GraftSql.sql(spark, "DELETE FROM gsql_dv WHERE id % 10 = 3")
    val post = TableLog.manifest(spark, t)
    assert(post.files == pre.files && post.dvs.nonEmpty,
      "the scattered SQL delete must land as deletion vectors")
    assert(rows("gsql_dv").map(_._1) == (0L until 40L).filterNot(_ % 10 == 3),
      "the refreshed view reads through the vectors")
    // DESCRIBE DETAIL: manifest-served metadata, DV accounting exact
    val det = GraftSql.sql(spark, "DESCRIBE DETAIL gsql_dv").head
    assert(det.getAs[Long]("n_rows") == 36L &&
      det.getAs[Long]("dv_rows") == 4L &&
      det.getAs[Long]("n_files") == pre.files.size.toLong, s"got $det")
    // OPTIMIZE WHERE: scoped compaction materializes only the touched
    // files' vectors; out-of-scope files (and their DVs) carry
    val (_, lowFiles) = TableLog.pruneFiles(spark, t, col("id") < 20L)
    assert(lowFiles.size < post.files.size, "fixture: the predicate scopes")
    GraftSql.sql(spark, "OPTIMIZE gsql_dv WHERE id < 20 INTO 1 FILES")
    val m2 = TableLog.manifest(spark, t)
    assert(m2.action == "compact")
    assert((post.files.toSet -- lowFiles.toSet).subsetOf(m2.files.toSet),
      "out-of-scope files carry by identity")
    assert(m2.dvs.keySet == post.dvs.keySet -- lowFiles,
      "only the touched files' vectors materialize")
    assert(rows("gsql_dv").map(_._1) == (0L until 40L).filterNot(_ % 10 == 3),
      "scoped optimize preserves content")
  }
  test("ALTER TABLE ADD/DROP CONSTRAINT drive the check-constraint verbs from SQL") {
    val t = tmpTable()
    TableLog.append((0L until 8L).map(i => (i, s"p$i")).toDF("id", "payload"), t)
    GraftSql.register(spark, "gsql_c", t)
    val r = GraftSql.sql(spark,
      "ALTER TABLE gsql_c ADD CONSTRAINT id_nonneg CHECK (id >= 0)")
    assert(r.head.getString(1) == "add_constraint")
    assert(TableLog.constraintsOf(spark, t) == Map("id_nonneg" -> "id >= 0"))
    assert(GraftSql.sql(spark, "SHOW CONSTRAINTS gsql_c").collect()
      .map(r => (r.getString(0), r.getString(1))).toSeq ==
      Seq(("id_nonneg", "id >= 0")))
    assert(intercept[IllegalArgumentException] {
      TableLog.append(Seq((-1L, "x")).toDF("id", "payload"), t)
    }.getMessage.contains("id_nonneg"))
    GraftSql.sql(spark, "ALTER TABLE gsql_c DROP CONSTRAINT id_nonneg")
    assert(TableLog.constraintsOf(spark, t).isEmpty)
    TableLog.append(Seq((-1L, "x")).toDF("id", "payload"), t)
    assert(TableLog.read(spark, t).rdd.count() == 9L)
  }

}
