package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import graft.sinks.TableLog

/** Every TableLog write verb through the lose-and-retry path: a rival
  * streaming append (ledger entry `rival -> 0`, rows 100..103) takes
  * the version the verb was about to publish ([[RacingLogStore]]).
  * For each verb: it loses exactly once, lands at base+2 on top of the
  * rival, and the rival's commit survives — its ledger entry is carried
  * forward by every verb, appends keep its rows, and rewriting verbs
  * re-apply on the new head (a delete still removes the rival's rows
  * its predicate matches, and only those). */
class CommitRaceSpec extends SparkSpec {
  import spark.implicits._

  private def batch(ids: Range): DataFrame =
    ids.map(i => (i.toLong, s"doc-$i")).toDF("id", "payload")

  private val rivalIds = 100L until 104L

  private def ids(df: DataFrame): Seq[Long] =
    df.select("id").collect().map(_.getLong(0)).sorted.toSeq

  private def head(t: String): Seq[Long] = ids(TableLog.read(spark, t))

  private def payloads(t: String): Map[Long, String] =
    TableLog.read(spark, t).collect().map(r => r.getLong(0) -> r.getString(1)).toMap

  /** The base table: ids 0..7 in two appends (v1: 0..3, v2: 4..7). */
  private def twoAppends(t: String): Unit = {
    TableLog.append(batch(0 until 4), t)
    TableLog.append(batch(4 until 8), t)
  }

  private val base8 = 0L until 8L

  /** Run `verb` on a fresh racing table prepared by `setup`; the rival
    * commits base+1 inside the verb's first publish. `check` gets the
    * table and base after the shared assertions. */
  private def race(name: String, setup: String => Unit = twoAppends)(verb: String => Long)(
      check: (String, Long) => Unit): Unit =
    RacingLogStore.withStore(spark) { (store, table) =>
      val t = table()
      setup(t)
      val base = TableLog.headVersion(spark, t)
      store.arm(assert(TableLog.appendStreamBatch(
        rivalIds.map(i => (i, s"r$i")).toDF("id", "payload"), t, "rival", 0L)
        .contains(base + 1)))
      val v = verb(t)
      assert(store.losses == 1, s"$name lost ${store.losses} publish races, not 1")
      assert(v == base + 2, s"$name landed at v$v, not v${base + 2}")
      assert(TableLog.headVersion(spark, t) == base + 2)
      val h = TableLog.history(spark, t)
      assert(h.find(_.version == base + 1).map(_.action).contains("append"),
        s"$name: the rival's commit is not v${base + 1}: $h")
      assert(TableLog.manifest(spark, t).txns.get("rival").contains(0L),
        s"$name dropped the rival's ledger entry")
      check(t, base)
    }

  test("append re-bases onto the rival") {
    race("append")(t => TableLog.append(batch(10 until 12), t)) { (t, _) =>
      assert(head(t) == (base8 ++ rivalIds ++ Seq(10L, 11L)).sorted)
    }
  }

  test("appendStreamBatch re-bases onto the rival and records its own ledger entry") {
    race("appendStreamBatch")(t =>
      TableLog.appendStreamBatch(batch(10 until 12), t, "app", 0L).get) { (t, _) =>
      assert(head(t) == (base8 ++ rivalIds ++ Seq(10L, 11L)).sorted)
      assert(TableLog.manifest(spark, t).txns.get("app").contains(0L))
    }
  }

  test("overwrite replaces the new head; the rival's version stays readable") {
    race("overwrite")(t => TableLog.overwrite(batch(50 until 53), t)) { (t, base) =>
      assert(head(t) == (50L until 53L))
      assert(ids(TableLog.read(spark, t, Some(base + 1))) == (base8 ++ rivalIds))
    }
  }

  test("compact rewrites the new head, rival file included") {
    race("compact")(t => TableLog.compact(spark, t, 1)) { (t, _) =>
      assert(head(t) == base8 ++ rivalIds)
      val m = TableLog.manifest(spark, t)
      assert(m.action == "compact" && m.files.size == 1)
    }
  }

  test("compact(where) re-selects its touch set on the new head") {
    race("compact(where)")(t =>
      TableLog.compact(spark, t, 1, where = Some(col("id") >= 4L))) { (t, base) =>
      assert(head(t) == base8 ++ rivalIds)
      val v1 = TableLog.manifest(spark, t, Some(1L)).files
      val rival = TableLog.manifest(spark, t, Some(base + 1)).files
        .filterNot(TableLog.manifest(spark, t, Some(base)).files.toSet)
      val m = TableLog.manifest(spark, t)
      assert(m.action == "compact" && m.files.size == v1.size + 1, m.files)
      assert(v1.toSet.subsetOf(m.files.toSet), "the out-of-scope v1 file carries")
      assert(rival.nonEmpty && rival.toSet.intersect(m.files.toSet).isEmpty,
        "the rival's in-scope file is rewritten")
    }
  }

  test("compact(zorder) clusters the new head") {
    race("compact(zorder)")(t =>
      TableLog.compact(spark, t, 2, zorder = Seq("id"))) { (t, _) =>
      assert(head(t) == base8 ++ rivalIds)
      assert(TableLog.manifest(spark, t).action == "zorder")
    }
  }

  test("compactSmallFiles folds the rival's small file too") {
    race("compactSmallFiles")(t =>
      TableLog.compactSmallFiles(spark, t, smallBytes = 1L << 30, minSmallFiles = 2)) {
      (t, _) =>
        assert(head(t) == base8 ++ rivalIds)
        assert(TableLog.manifest(spark, t).files.size == 1)
    }
  }

  test("upsert re-merges on the new head: the rival's rows win over fresh ones") {
    val fresh = Seq((101L, "new-101"), (200L, "new-200")).toDF("id", "payload")
    race("upsert")(t => TableLog.upsert(fresh, t, Seq("id"))) { (t, _) =>
      val got = payloads(t)
      assert(got.keySet == (base8 ++ rivalIds :+ 200L).toSet)
      assert(got(101L) == "r101", "existing rows win — the rival's row existed")
      assert(got(200L) == "new-200")
    }
  }

  private val changes =
    Seq((101L, 1L, "U", "u101"), (2L, 1L, "D", null: String))
      .toDF("id", "seq", "op", "payload")

  test("merge re-applies its changelog on the new head, rival rows included") {
    race("merge")(t => TableLog.merge(spark, t, changes, "id", "seq", "op")) { (t, _) =>
      val got = payloads(t)
      assert(got.keySet == (base8 ++ rivalIds).toSet - 2L)
      assert(got(101L) == "u101" && got(100L) == "r100")
    }
  }

  test("mergeStreamBatch re-applies on the new head and records its ledger entry") {
    race("mergeStreamBatch")(t => TableLog.mergeStreamBatch(spark, t, changes,
      "id", "seq", "op", "cdc", 0L).get) { (t, _) =>
      val got = payloads(t)
      assert(got.keySet == (base8 ++ rivalIds).toSet - 2L)
      assert(got(101L) == "u101")
      assert(TableLog.manifest(spark, t).txns.get("cdc").contains(0L))
    }
  }

  test("delete re-runs its predicate on the new head: matching rival rows go, the rest stay") {
    race("delete")(t => TableLog.delete(spark, t, col("id") % 2 === 0L)) { (t, _) =>
      assert(head(t) == (base8 ++ rivalIds).filter(_ % 2 == 1))
    }
  }

  test("deleteVectors re-runs its predicate on the new head: matching rival rows go, the rest stay") {
    race("deleteVectors")(t =>
      TableLog.deleteVectors(spark, t, col("id") % 2 === 0L)) { (t, _) =>
      assert(head(t) == (base8 ++ rivalIds).filter(_ % 2 == 1))
      assert(TableLog.manifest(spark, t).action == "delete")
    }
  }

  test("restore lands on top of the rival and carries its ledger forward") {
    race("restore")(t => TableLog.restore(spark, t, 1L)) { (t, base) =>
      assert(head(t) == (0L until 4L))
      assert(ids(TableLog.read(spark, t, Some(base + 1))) == (base8 ++ rivalIds))
    }
  }

  test("addConstraint validates and lands on the new head") {
    race("addConstraint")(t => TableLog.addConstraint(spark, t, "pos", "id >= 0")) {
      (t, _) =>
        assert(TableLog.constraintsOf(spark, t) == Map("pos" -> "id >= 0"))
        assert(head(t) == base8 ++ rivalIds)
    }
  }

  test("dropConstraint lands on the new head") {
    race("dropConstraint", t => {
      twoAppends(t)
      TableLog.addConstraint(spark, t, "pos", "id >= 0")
    })(t => TableLog.dropConstraint(spark, t, "pos")) { (t, _) =>
      assert(TableLog.constraintsOf(spark, t).isEmpty)
      assert(head(t) == base8 ++ rivalIds)
    }
  }
}
