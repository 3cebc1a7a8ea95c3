package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.sinks.TableLog

/** CHECK constraints on the table log (Delta's ALTER TABLE … ADD
  * CONSTRAINT): enforced at every row-introducing write, versioned
  * with the table (restore/clone semantics), carried by every commit
  * path — the carry matrix is the load-bearing test (a commit path
  * that forgets to thread the set would silently drop the contract). */
class ConstraintsSpec extends SparkSpec {
  import spark.implicits._

  private def tmpTable(): String =
    Files.createTempDirectory("graft-constraints").toString

  private def batch(ids: Range, payload: String = "ok"): DataFrame =
    ids.map(i => (i.toLong, payload)).toDF("id", "payload")

  test("addConstraint validates existing data; enforced appends name the guilty constraint") {
    val t = tmpTable()
    TableLog.append(batch(0 until 10), t)
    TableLog.addConstraint(spark, t, "id_nonneg", "id >= 0")
    assert(TableLog.constraintsOf(spark, t) == Map("id_nonneg" -> "id >= 0"))
    // a second constraint the existing data violates must refuse
    val ex = intercept[IllegalArgumentException] {
      TableLog.addConstraint(spark, t, "id_big", "id >= 5")
    }
    assert(ex.getMessage.contains("id_big"))
    // appends violating the standing constraint throw with its name
    val ex2 = intercept[IllegalArgumentException] {
      TableLog.append(batch(-3 until -1), t)
    }
    assert(ex2.getMessage.contains("id_nonneg") && ex2.getMessage.contains("id >= 0"))
    // satisfying appends pass; duplicate names refuse
    TableLog.append(batch(10 until 12), t)
    assert(intercept[IllegalArgumentException] {
      TableLog.addConstraint(spark, t, "id_nonneg", "id >= -5")
    }.getMessage.contains("already exists"))
    assert(TableLog.read(spark, t).rdd.count() == 12)
  }

  test("enforcement re-reads the written files with the batch's schema, inferring none") {
    val plain = tmpTable()
    val checked = tmpTable()
    TableLog.append(batch(0 until 10), plain)
    TableLog.append(batch(0 until 10), checked)
    TableLog.addConstraint(spark, checked, "id_nonneg", "id >= 0")
    val (_, plainJobs) = jobsIn(TableLog.append(batch(10 until 20), plain))
    val (_, checkedJobs) = jobsIn(TableLog.append(batch(10 until 20), checked))
    // the enforcement scan alone (limit(1).count: a map and a result
    // job); inferring the written files' schema was a third
    assert(checkedJobs - plainJobs == 2, s"plain $plainJobs, constrained $checkedJobs")
    assert(TableLog.read(spark, checked).rdd.count() == 20)
  }

  test("NULL passes a CHECK (SQL-standard UNKNOWN); IS NOT NULL rejects it") {
    val t = tmpTable()
    TableLog.append(batch(0 until 3), t)
    TableLog.addConstraint(spark, t, "pay_not_bad", "payload <> 'bad'")
    val withNull = Seq((100L, null.asInstanceOf[String])).toDF("id", "payload")
    TableLog.append(withNull, t) // NULL <> 'bad' is UNKNOWN → passes
    assert(TableLog.read(spark, t).filter(col("payload").isNull).count() == 1)
    TableLog.addConstraint(spark, t, "id_nn", "id IS NOT NULL")
    val nullId = Seq((null.asInstanceOf[java.lang.Long], "x")).toDF("id", "payload")
    assert(intercept[IllegalArgumentException] {
      TableLog.append(nullId, t)
    }.getMessage.contains("id_nn"))
  }

  test("a batch omitting a constrained column enforces against its null-fill") {
    val t = tmpTable()
    TableLog.append(batch(0 until 3), t)
    TableLog.addConstraint(spark, t, "pay_not_bad", "payload <> 'bad'")
    // payload omitted entirely: reads null-fill it, NULL passes the
    // CHECK — the append must succeed, not die on an unresolved column
    TableLog.append(Seq(Tuple1(50L)).toDF("id"), t)
    assert(TableLog.read(spark, t).filter(col("id") === 50L)
      .head.isNullAt(1))
    // but an omitted column under IS NOT NULL is a real violation
    // (fresh table: the null-filled row above would refuse the add)
    val t2 = tmpTable()
    TableLog.append(batch(0 until 3), t2)
    TableLog.addConstraint(spark, t2, "pay_nn", "payload IS NOT NULL")
    val ex = intercept[IllegalArgumentException] {
      TableLog.append(Seq(Tuple1(51L)).toDF("id"), t2)
    }
    assert(ex.getMessage.contains("pay_nn") &&
      ex.getMessage.contains("append"), ex.getMessage)
  }

  test("every commit path carries the constraint set (the no-silent-drop matrix)") {
    val t = tmpTable()
    TableLog.append(batch(0 until 40).repartition(4), t)
    TableLog.addConstraint(spark, t, "c1", "id >= 0")
    val want = Map("c1" -> "id >= 0")
    def check(tag: String): Unit =
      assert(TableLog.constraintsOf(spark, t) == want, s"dropped after $tag")
    TableLog.append(batch(40 until 44), t); check("append")
    TableLog.append(batch(44 until 46).withColumn("extra", lit(1)),
      t, evolve = true); check("evolve append")
    TableLog.delete(spark, t, col("id") === 1L); check("delete")
    TableLog.deleteVectors(spark, t, col("id") === 2L); check("deleteVectors")
    TableLog.compact(spark, t, 2); check("compact")
    TableLog.compact(spark, t, 2, zorder = Seq("id")); check("zorder")
    TableLog.compact(spark, t, where = Some(col("id") < 10)); check("compact where")
    TableLog.compactSmallFiles(spark, t, smallBytes = 1L << 30,
      minSmallFiles = 2); check("compactSmallFiles")
    val ch = Seq((5L, 1L, "U", "upd", 2))
      .toDF("id", "seq", "op", "payload", "extra")
    TableLog.merge(spark, t, ch, "id", "seq", "op"); check("merge")
    TableLog.overwrite(TableLog.read(spark, t), t); check("overwrite")
    // checkpoint path: enough append deltas to force a checkpoint,
    // then reconstruct through it
    (0 until 9).foreach(k => TableLog.append(batch(100 + k to 100 + k), t))
    check("checkpointed delta tail")
    // clone carries the source's contract
    val c = tmpTable()
    TableLog.cloneShallow(spark, t, c)
    assert(TableLog.constraintsOf(spark, c) == want, "clone dropped constraints")
    assert(TableLog.detail(spark, t).head.getAs[Long]("n_constraints") == 1L,
      "DESCRIBE DETAIL surfaces the constraint count")
  }

  test("overwriteSchema cannot drop a constraint-referenced column; enforcement sees written rows") {
    val t = tmpTable()
    TableLog.append(batch(0 until 5), t)
    TableLog.addConstraint(spark, t, "pay_ok", "payload <> 'bad'")
    // dropping `payload` via overwriteSchema would strand pay_ok (its
    // null-fill evaluates UNKNOWN = pass, then every later append dies
    // unresolved) — the commit must refuse, naming the constraint
    val ex = intercept[IllegalArgumentException] {
      TableLog.overwrite(Seq(Tuple1(1L)).toDF("id"), t,
        overwriteSchema = true)
    }
    assert(ex.getMessage.contains("pay_ok") &&
      ex.getMessage.contains("payload"), ex.getMessage)
    // a schema overwrite KEEPING the column passes, and enforcement
    // runs against the written files (violating replacement refuses)
    assert(intercept[IllegalArgumentException] {
      TableLog.overwrite(Seq((1L, "bad", 7)).toDF("id", "payload", "extra"),
        t, overwriteSchema = true)
    }.getMessage.contains("pay_ok"))
    TableLog.overwrite(Seq((1L, "fine", 7)).toDF("id", "payload", "extra"),
      t, overwriteSchema = true)
    assert(TableLog.read(spark, t).rdd.count() == 1)
  }

  test("constraints version with the table: restore brings back the old contract") {
    val t = tmpTable()
    TableLog.append(batch(0 until 5), t)            // v1 — no constraints
    TableLog.append(batch(5 until 8), t)            // v2
    TableLog.addConstraint(spark, t, "c", "id < 100") // v3
    assert(TableLog.constraintsOf(spark, t).nonEmpty)
    TableLog.restore(spark, t, 2L)                  // v4 = v2's state
    assert(TableLog.constraintsOf(spark, t).isEmpty,
      "restore must bring back the restored version's (empty) contract")
    TableLog.append(batch(200 until 202), t)        // id 200+ fine again
    assert(TableLog.read(spark, t).rdd.count() == 10)
  }

  test("merge and streaming paths enforce; drop re-opens; incremental consumers ride across") {
    val t = tmpTable()
    TableLog.append(batch(0 until 10), t)
    val vAdd = TableLog.addConstraint(spark, t, "pay_ok", "payload <> 'bad'")
    // incremental consumer: the constraint commit is an EMPTY append,
    // not a rewrite — readAppendsSince rides across it
    assert(TableLog.readAppendsSince(spark, t, 1L).rdd.count() == 0)
    val bad = Seq((3L, 1L, "U", "bad")).toDF("id", "seq", "op", "payload")
    assert(intercept[IllegalArgumentException] {
      TableLog.merge(spark, t, bad, "id", "seq", "op")
    }.getMessage.contains("pay_ok"))
    assert(intercept[IllegalArgumentException] {
      TableLog.appendStreamBatch(batch(90 until 91, "bad"), t, "appc", 1L)
    }.getMessage.contains("pay_ok"))
    assert(intercept[IllegalArgumentException] {
      TableLog.upsert(batch(0 until 2, "bad"), t, Seq("id"))
    }.getMessage.contains("pay_ok"))
    // dropConstraint: loud on a typo, effective on the real name
    assert(intercept[IllegalArgumentException] {
      TableLog.dropConstraint(spark, t, "pay_okk")
    }.getMessage.contains("pay_okk"))
    TableLog.dropConstraint(spark, t, "pay_ok")
    TableLog.append(batch(91 until 92, "bad"), t)
    assert(TableLog.read(spark, t).filter(col("payload") === "bad").count() == 1)
    assert(vAdd >= 2L)
  }
}
