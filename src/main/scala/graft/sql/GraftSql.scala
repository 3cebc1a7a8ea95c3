package graft.sql

import java.util.Locale

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.analysis.{UnresolvedAttribute, UnresolvedRelation}
import org.apache.spark.sql.catalyst.expressions.{EqualTo, Expression, Not}
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.functions.{col, lit, when}
import org.apache.spark.sql.graftbridge.{ColumnBridge, DatasetBridge}

import graft.sinks.TableLog

/** The SQL DML FACE of [[graft.sinks.TableLog]] — `MERGE INTO` /
  * `DELETE FROM` plus the maintenance verbs, reachable from pure SQL
  * text (the r14 verdict's "MERGE/DELETE/RESTORE/VACUUM are
  * Scala-only" gap):
  *
  * {{{
  * GraftSql.register(spark, "reviews", "/data/reviews")   // + temp view
  * GraftSql.sql(spark, """
  *   MERGE INTO reviews USING changes s ON reviews.id = s.id
  *   WHEN MATCHED AND s.op = 'D' THEN DELETE
  *   WHEN MATCHED THEN UPDATE SET *
  *   WHEN NOT MATCHED AND NOT (s.op = 'D') THEN INSERT *""")
  * GraftSql.sql(spark, "DELETE FROM reviews WHERE stale = true")
  * GraftSql.sql(spark, "DESCRIBE HISTORY reviews")
  * GraftSql.sql(spark, "OPTIMIZE reviews ZORDER BY (lat, lon)")
  * GraftSql.sql(spark, "RESTORE reviews TO VERSION AS OF 3")
  * GraftSql.sql(spark, "VACUUM reviews")
  * }}}
  *
  * Architecture — Spark's OWN parser, not a hand-rolled grammar: the
  * statement parses through `sessionState.sqlParser.parsePlan`, and
  * the resulting [[MergeIntoTable]]/[[DeleteFromTable]] node is
  * pattern-matched onto the table-log verbs when its target is a
  * registered graftlog table (every other statement — SELECTs over
  * the registered temp views included — delegates to `spark.sql`
  * verbatim, so this is a superset surface, never a dialect). The
  * ANSI MERGE grammar, clause conditions, aliases and subquery
  * sources all come from Spark; only the execution is rerouted.
  * DESCRIBE HISTORY / VACUUM / RESTORE / OPTIMIZE are not Spark
  * grammar on a session catalog this library does not own — they
  * match as leading-keyword verbs first (the Delta SQL surface).
  *
  * MERGE translation: the clause matrix folds to a CHANGELOG
  * ([[TableLog.merge]]'s exact CDC semantics) — supported shapes:
  *
  *  1. `WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *`
  *     — the upsert: every source row op='U' ('U' on a missing key
  *     inserts, exactly the SQL outcome).
  *  2. shape 1 plus a LEADING `WHEN MATCHED AND <c> THEN DELETE`,
  *     with the insert clause guarded `AND NOT (<c>)` (any `!=`/`<>`
  *     spelling) — the CDC apply: op = <c> ? 'D' : 'U'. The guard is
  *     REQUIRED: an unguarded INSERT * would insert a delete-flagged
  *     unmatched row in SQL while the changelog drops it — rejected
  *     loudly rather than silently diverging.
  *  3. `WHEN MATCHED THEN DELETE` alone — keyed erasure; op='D'.
  *
  * Everything else (column-list UPDATE/INSERT, NOT MATCHED BY
  * SOURCE, update-only, insert-only) rejects with the supported
  * shapes in the message — the three shapes above are the reference's
  * whole DML surface (review-crawler/restaurant_save.py:77-130 is
  * shape 1 one row at a time; its skip-if-seen guard is shape 2's).
  * Source keys must be UNIQUE per the SQL MERGE contract (checked —
  * the standard's cardinality violation, Delta's
  * "multiple source rows matched" error). Clause conditions may
  * reference SOURCE columns only (a target-referencing condition
  * fails resolution loudly). After any DML the registered temp view
  * is re-created, so a follow-up SELECT sees the new head (a USING
  * view pins its relation at CREATE time).
  */
object GraftSql {

  /** name (lowercased) → (table directory, DELETE routes to
    * deleteVectors). */
  private val registry =
    scala.collection.concurrent.TrieMap.empty[String, (String, Boolean)]

  /** Internal changelog column names — chosen to avoid colliding with
    * payload columns ([[TableLog.merge]] requires changes = exactly
    * key+seq+op+payload). */
  private val SEQ = "__graft_seq"
  private val OP = "__graft_op"

  /** Register `name` as the SQL face of the table at `path`: records
    * the DML routing AND (re-)creates the graftlog temp view so plain
    * SELECTs resolve. Call again after out-of-band commits to refresh
    * the view's pinned version. `deleteVectors = true` routes this
    * table's SQL `DELETE FROM` through the merge-on-read verb
    * ([[TableLog.deleteVectors]] — the scattered-erasure default at
    * scale; its per-file maxDvFraction still rewrites dense files). */
  def register(spark: SparkSession, name: String, path: String,
               deleteVectors: Boolean = false): Unit = {
    require(name.matches("[A-Za-z_][A-Za-z0-9_]*"),
      s"GraftSql.register: '$name' is not a plain SQL identifier")
    registry.put(name.toLowerCase(Locale.ROOT), (path, deleteVectors))
    refreshView(spark, name)
  }

  private def refreshView(spark: SparkSession, name: String): Unit = {
    val path = registry(name.toLowerCase(Locale.ROOT))._1
    if (TableLog.headVersion(spark, path) > 0L)
      spark.sql(s"CREATE OR REPLACE TEMPORARY VIEW $name " +
        s"USING graftlog OPTIONS (path '$path')")
  }

  private def lookup(plan: LogicalPlan): Option[(String, String)] = plan match {
    case UnresolvedRelation(parts, _, _) if parts.length == 1 =>
      val n = parts.head.toLowerCase(Locale.ROOT)
      registry.get(n).map(v => n -> v._1)
    case SubqueryAlias(_, child) => lookup(child)
    case _ => None
  }

  private def dvDelete(name: String): Boolean =
    registry.get(name.toLowerCase(Locale.ROOT)).exists(_._2)

  /** Strip qualifiers off every attribute — sound over a single
    * relation (DELETE's target; MERGE's one-relation source), where a
    * qualifier can only name that relation or its alias. */
  private def unqualify(e: Expression): Expression = e transform {
    case a: UnresolvedAttribute if a.nameParts.length > 1 =>
      UnresolvedAttribute(Seq(a.nameParts.last))
  }

  /** The qualifiers that name `plan` (relation name + aliases). */
  private def qualsOf(plan: LogicalPlan): Set[String] = plan match {
    case SubqueryAlias(id, child) =>
      qualsOf(child) + id.name.toLowerCase(Locale.ROOT)
    case UnresolvedRelation(parts, _, _) =>
      Set(parts.last.toLowerCase(Locale.ROOT))
    case _ => Set.empty
  }

  /** MERGE clause conditions may reference SOURCE columns only — the
    * changelog fold has no target row at hand, so a target-qualified
    * reference would silently evaluate against the INCOMING row
    * (r15 review finding). Rejected by qualifier; unqualified names
    * resolve against the source, documented. */
  private def rejectTargetRefs(cond: Expression, targetQuals: Set[String]): Unit =
    cond.foreach {
      case a: UnresolvedAttribute if a.nameParts.length > 1 &&
          targetQuals(a.nameParts.head.toLowerCase(Locale.ROOT)) =>
        rejectMerge(s"clause condition references the TARGET (${a.sql}) — " +
          s"conditions may reference SOURCE columns only (the changelog " +
          s"translation evaluates them over the incoming row)")
      case _ => ()
    }

  private def asColumn(e: Expression): Column =
    ColumnBridge.column(unqualify(e))

  /** One-row result frame for a DML/maintenance verb. */
  private def verbResult(spark: SparkSession, table: String, action: String,
                         version: Long): DataFrame = {
    import spark.implicits._
    Seq((table, action, version)).toDF("table_name", "action", "version")
  }

  // --------------------------------------------------------------- dispatch

  private val DESCRIBE_HISTORY = """(?is)\s*DESCRIBE\s+HISTORY\s+(\w+)\s*""".r
  private val DESCRIBE_DETAIL = """(?is)\s*DESCRIBE\s+DETAIL\s+(\w+)(?:\s+VERSION\s+AS\s+OF\s+(\d+))?\s*""".r
  private val VACUUM = """(?is)\s*VACUUM\s+(\w+)(?:\s+RETAIN\s+(\d+)\s+HOURS)?\s*""".r
  private val RESTORE = """(?is)\s*RESTORE\s+(?:TABLE\s+)?(\w+)\s+TO\s+VERSION\s+AS\s+OF\s+(\d+)\s*""".r
  private val OPTIMIZE = """(?is)\s*OPTIMIZE\s+(\w+)(?:\s+WHERE\s+(.*?))?(?:\s+ZORDER\s+BY\s*\(([^)]+)\))?(?:\s+INTO\s+(\d+)\s+FILES)?\s*""".r
  private val ADD_CONSTRAINT =
    """(?is)\s*ALTER\s+TABLE\s+(\w+)\s+ADD\s+CONSTRAINT\s+([\w-]+)\s+CHECK\s*\((.*)\)\s*""".r
  private val SHOW_CONSTRAINTS =
    """(?is)\s*SHOW\s+CONSTRAINTS\s+(?:ON\s+)?(\w+)\s*""".r
  private val DROP_CONSTRAINT =
    """(?is)\s*ALTER\s+TABLE\s+(\w+)\s+DROP\s+CONSTRAINT\s+([\w-]+)\s*""".r

  private def registered(spark: SparkSession, name: String): String =
    registry.getOrElse(name.toLowerCase(Locale.ROOT),
      throw new IllegalArgumentException(
        s"GraftSql: '$name' is not a registered graftlog table — " +
          s"GraftSql.register(spark, name, path) first"))._1

  /** Run `text`: table-log DML/maintenance when it targets a
    * registered table, plain `spark.sql` otherwise. */
  def sql(spark: SparkSession, text: String): DataFrame = text match {
    case DESCRIBE_HISTORY(name) =>
      import spark.implicits._
      TableLog.history(spark, registered(spark, name))
        .map(h => (h.version, h.action, h.base, h.nFiles, h.nRows))
        .toDF("version", "action", "base", "n_files", "n_rows")
    case VACUUM(name, hours) =>
      import spark.implicits._
      // the Delta default: 7 days — a zero floor would delete files
      // of writers currently between writeData and publish (r15
      // review finding); 'VACUUM t RETAIN 0 HOURS' is the explicit
      // caller-owns-the-quiesce spelling
      val minAge = Option(hours).map(_.toLong * 3600L * 1000L)
        .getOrElse(168L * 3600L * 1000L)
      TableLog.vacuum(spark, registered(spark, name), minAge).toDF("deleted_path")
    case RESTORE(name, v) =>
      val path = registered(spark, name)
      val out = TableLog.restore(spark, path, v.toLong)
      refreshView(spark, name)
      verbResult(spark, name, "restore", out)
    case DESCRIBE_DETAIL(name, v) =>
      TableLog.detail(spark, registered(spark, name),
        Option(v).map(_.toLong))
    case ADD_CONSTRAINT(name, cname, chk) =>
      val out = TableLog.addConstraint(spark, registered(spark, name),
        cname, chk.trim)
      verbResult(spark, name, "add_constraint", out)
    case SHOW_CONSTRAINTS(name) =>
      import spark.implicits._
      TableLog.constraintsOf(spark, registered(spark, name))
        .toSeq.sortBy(_._1).toDF("name", "expression")
    case DROP_CONSTRAINT(name, cname) =>
      val out = TableLog.dropConstraint(spark, registered(spark, name), cname)
      verbResult(spark, name, "drop_constraint", out)
    case OPTIMIZE(name, whereCond, zcols, nf) =>
      val path = registered(spark, name)
      val numFiles = Option(nf).map(_.toInt).getOrElse(4)
      // predicate-scoped OPTIMIZE [ZORDER]: Spark's own expression
      // parser, qualifiers stripped (single relation)
      val out = TableLog.compact(spark, path, numFiles,
        Option(whereCond).filter(_.trim.nonEmpty)
          .map(c => asColumn(spark.sessionState.sqlParser.parseExpression(c))),
        Option(zcols).map(_.split(",").map(_.trim).toSeq).getOrElse(Seq.empty))
      refreshView(spark, name)
      verbResult(spark, name, "optimize", out)
    case _ =>
      val plan =
        try spark.sessionState.sqlParser.parsePlan(text)
        catch { case scala.util.control.NonFatal(_) => null }
      plan match {
        case DeleteFromTable(target, cond) if lookup(target).nonEmpty =>
          val (name, path) = lookup(target).get
          val out =
            if (dvDelete(name)) TableLog.deleteVectors(spark, path, asColumn(cond))
            else TableLog.delete(spark, path, asColumn(cond))
          refreshView(spark, name)
          verbResult(spark, name, "delete", out)
        case m: MergeIntoTable if lookup(m.targetTable).nonEmpty =>
          val (name, path) = lookup(m.targetTable).get
          val out = runMerge(spark, path, m)
          refreshView(spark, name)
          verbResult(spark, name, "merge", out)
        case _ => spark.sql(text)
      }
  }

  // ------------------------------------------------------------------ MERGE

  private def rejectMerge(reason: String): Nothing =
    throw new IllegalArgumentException(
      s"GraftSql MERGE: $reason. Supported shapes: " +
        s"(1) WHEN MATCHED THEN UPDATE SET * / WHEN NOT MATCHED THEN INSERT *; " +
        s"(2) shape 1 plus a leading WHEN MATCHED AND <c> THEN DELETE with " +
        s"the insert clause guarded AND NOT (<c>); " +
        s"(3) WHEN MATCHED THEN DELETE alone.")

  /** The translated clause matrix: the changelog op expression, the
    * delete-only flag (only that shape tolerates a key-only source)
    * and the delete condition (for the runtime NULL check). */
  private final case class MergePlan(op: Column, deleteOnly: Boolean,
                                     deleteCond: Option[Expression])

  /** The changelog translation for the clause matrix, or a loud
    * rejection — see the object scaladoc for why each unsupported
    * shape would silently diverge from SQL semantics. */
  private def opExpr(m: MergeIntoTable): MergePlan = {
    val tq = qualsOf(m.targetTable)
    (m.matchedActions, m.notMatchedActions) match {
      case _ if m.notMatchedBySourceActions.nonEmpty =>
        rejectMerge("WHEN NOT MATCHED BY SOURCE is not translatable to a changelog")
      case (Seq(UpdateStarAction(None)), Seq(InsertStarAction(None))) =>
        MergePlan(lit("U"), deleteOnly = false, None)
      case (Seq(DeleteAction(Some(dc)), UpdateStarAction(None)),
            Seq(InsertStarAction(Some(ic))))
          if unqualify(ic).sql == Not(unqualify(dc)).sql =>
        rejectTargetRefs(dc, tq)
        MergePlan(when(asColumn(dc), lit("D")).otherwise(lit("U")),
          deleteOnly = false, Some(dc))
      case (Seq(DeleteAction(Some(_)), UpdateStarAction(None)),
            Seq(InsertStarAction(other))) =>
        rejectMerge(s"with a conditional DELETE clause the INSERT must be " +
          s"guarded AND NOT (<delete condition>) — got " +
          s"${other.map(_.sql).getOrElse("no guard")}; an unguarded INSERT " +
          s"would insert a delete-flagged unmatched row in SQL while the " +
          s"changelog drops it")
      case (Seq(DeleteAction(None)), Seq()) =>
        MergePlan(lit("D"), deleteOnly = true, None)
      case (ma, nma) =>
        rejectMerge(s"unsupported clause matrix (matched: " +
          s"${ma.map(_.getClass.getSimpleName).mkString(", ")}; not matched: " +
          s"${nma.map(_.getClass.getSimpleName).mkString(", ")})")
    }
  }

  /** The single equi-key of `ON a = b`: both sides must name the SAME
    * column (TableLog.merge keys the changelog on one column present
    * in both relations). */
  private def mergeKey(cond: Expression): String = cond match {
    case EqualTo(a: UnresolvedAttribute, b: UnresolvedAttribute)
        if a.nameParts.last.toLowerCase(Locale.ROOT) ==
           b.nameParts.last.toLowerCase(Locale.ROOT) =>
      a.nameParts.last
    case other => rejectMerge(s"ON must be a single same-named equi-key " +
      s"(target.k = source.k); got ${other.sql}")
  }

  private def runMerge(spark: SparkSession, path: String,
                       m: MergeIntoTable): Long = {
    val key = mergeKey(m.mergeCondition)
    val src = DatasetBridge.ofRows(spark, m.sourceTable)
    // SQL MERGE cardinality contract: at most one source row per key
    // (Delta: "multiple source rows matched"). The changelog fold
    // would otherwise pick one silently.
    val dup = src.groupBy(col(key)).count()
      .filter(col("count") > 1).limit(1).collect()
    if (dup.nonEmpty) throw new IllegalStateException(
      s"GraftSql MERGE: multiple source rows share key " +
        s"${dup.head.get(0)} — the SQL MERGE cardinality contract " +
        s"requires at most one; pre-aggregate the source")
    val plan = opExpr(m)
    // the guarded clause matrix treats a NULL delete-condition as
    // not-fired on BOTH arms (an unmatched null-cond row is NOT
    // inserted in SQL), which a changelog op cannot express — reject
    // at runtime rather than silently diverge (r15 review finding)
    plan.deleteCond.foreach { dc =>
      if (src.where(asColumn(dc).isNull).limit(1).collect().nonEmpty)
        throw new IllegalStateException(
          s"GraftSql MERGE: the DELETE clause condition evaluates NULL for " +
            s"at least one source row — SQL's guarded matrix skips such a " +
            s"row on both arms, which the changelog cannot express; " +
            s"coalesce the condition or clean the source")
    }
    val tableSchema = TableLog.manifest(spark, path).schema
      .getOrElse(TableLog.read(spark, path).schema)
    val payload = tableSchema.fields.toSeq.filterNot(
      _.name.toLowerCase(Locale.ROOT) == key.toLowerCase(Locale.ROOT))
    require(!payload.exists(p => p.name == SEQ || p.name == OP),
      s"GraftSql MERGE: table columns collide with internal names $SEQ/$OP")
    // ONLY a delete-only source may carry just the key (payload rides
    // as typed nulls the fold ignores for 'D'); under UPDATE SET * /
    // INSERT * a missing payload column would silently null-overwrite
    // every matched row — Delta rejects at analysis, so do we
    // (r15 review finding)
    val srcCols = src.columns.map(_.toLowerCase(Locale.ROOT)).toSet
    val missing = payload.filterNot(f => srcCols(f.name.toLowerCase(Locale.ROOT)))
    if (missing.nonEmpty && !plan.deleteOnly)
      rejectMerge(s"UPDATE SET * / INSERT * requires the source to carry " +
        s"every table payload column; missing: " +
        s"${missing.map(_.name).mkString(", ")}")
    val payloadCols = payload.map(f =>
      if (srcCols(f.name.toLowerCase(Locale.ROOT))) col(f.name)
      else lit(null).cast(f.dataType).as(f.name))
    val changes = src.select(
      (col(key) +: lit(0L).as(SEQ) +: plan.op.as(OP) +:
        payloadCols).toIndexedSeq: _*)
    TableLog.merge(spark, path, changes, key, SEQ, OP)
  }
}
