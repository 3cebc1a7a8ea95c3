package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession, SQLContext}
import org.apache.spark.sql.sources.{BaseRelation, CreatableRelationProvider, DataSourceRegister, RelationProvider}
import org.apache.spark.sql.types.StructType

import graft.sinks.{ManifestFileIndex, TableLog}

/** The FORMAT FACE of [[graft.sinks.TableLog]] — `graftlog` as a
  * Spark data source, so every table verb is reachable from the
  * format/SQL surface instead of library calls only (the r13 verdict's
  * "tables are paths + library calls" gap):
  *
  * {{{
  * spark.read.format("graftlog").option("versionAsOf", 2).load(dir)
  * df.write.format("graftlog").mode("append").save(dir)
  * sql("CREATE TEMPORARY VIEW t USING graftlog OPTIONS (path '…')")
  * }}}
  *
  * (`SELECT … FROM graftlog.`path`` direct-on-file SQL is a
  * FileFormat-only surface in Spark — probed, rejected with
  * UNSUPPORTED_DATASOURCE_FOR_DIRECT_QUERY; the USING view above is
  * the pure-SQL face.)
  *
  * Architecture — the Delta connector's own route, not a hand-rolled
  * reader: `createRelation` resolves the pinned manifest and returns a
  * [[HadoopFsRelation]] over a [[graft.sinks.ManifestFileIndex]] whose
  * file listing IS the manifest (plus Spark's stock parquet format) —
  * the same relation `TableLog.read` plans — so the
  * scan path is the engine's own vectorized parquet reader with
  * predicate pushdown, column pruning and whole-stage codegen
  * unchanged. MANIFEST-STATS SKIPPING engages through the standard
  * planner seam: `FileSourceStrategy` hands the pushed data filters to
  * `FileIndex.listFiles`, where each file's committed footer stats run
  * through [[graft.sinks.TableStats.mayContain]] — files that provably cannot
  * match never enter the scan (the `readWhere` prune, now under plain
  * `df.filter`/SQL WHERE with zero caller cooperation). Pruning here
  * is never load-bearing: the scan re-applies the full filter to the
  * survivors, exactly like `readWhere`.
  *
  * Options: `path` (required), `versionAsOf` (time travel; default
  * head). Writes map SaveMode onto the log's verbs: Append →
  * `TableLog.append` (option `evolve=true` widens the schema),
  * Overwrite → `TableLog.overwrite` (option `overwriteSchema=true`
  * replaces it), ErrorIfExists/Ignore honor existing versions. Reads
  * pin their version at relation build — the TableLog reader
  * contract. */
class GraftLogSource extends RelationProvider
    with CreatableRelationProvider with DataSourceRegister {

  override def shortName(): String = "graftlog"

  private def tablePath(parameters: Map[String, String]): String =
    parameters.getOrElse("path", throw new IllegalArgumentException(
      "graftlog: option 'path' (the TableLog table directory) is required"))

  override def createRelation(sqlContext: SQLContext,
                              parameters: Map[String, String]): BaseRelation = {
    val spark = sqlContext.sparkSession
    val table = tablePath(parameters)
    val version = parameters.get("versionAsOf").map(_.toLong)
    val m = TableLog.manifest(spark, table, version)
    require(m.files.nonEmpty,
      s"graftlog: version ${m.version} of $table is empty")
    // a version carrying DELETION VECTORS cannot be served as a bare
    // file listing (the HadoopFsRelation scan would resurrect deleted
    // rows): it takes the PrunedFilteredScan fallback, whose scan IS
    // TableLog.read's DV-applying plan — correct first; the
    // vectorized fast path returns after a compact materializes the
    // vectors (the standing maintenance answer)
    if (m.dvs.nonEmpty)
      return new GraftLogDvRelation(spark, table, m.version)
    // the TableLog.read scan: the manifest's listing as the file index
    ManifestFileIndex.relation(spark, table, m, m.files)
  }

  override def createRelation(sqlContext: SQLContext, mode: SaveMode,
                              parameters: Map[String, String],
                              data: DataFrame): BaseRelation = {
    val spark = sqlContext.sparkSession
    val table = tablePath(parameters)
    val exists = TableLog.headVersion(spark, table) > 0L
    mode match {
      case SaveMode.Append =>
        TableLog.append(data, table,
          evolve = parameters.get("evolve").exists(_.toBoolean))
      case SaveMode.Overwrite =>
        TableLog.overwrite(data, table,
          overwriteSchema = parameters.get("overwriteSchema").exists(_.toBoolean))
      case SaveMode.ErrorIfExists if exists =>
        throw new IllegalStateException(
          s"graftlog: $table already has committed versions (SaveMode." +
            s"ErrorIfExists) — use append/overwrite")
      case SaveMode.ErrorIfExists => TableLog.append(data, table)
      case SaveMode.Ignore if exists => // no-op by contract
      case SaveMode.Ignore => TableLog.append(data, table)
    }
    createRelation(sqlContext, parameters)
  }
}

/** The DV-aware fallback relation: `buildScan` delegates to
  * [[TableLog.read]]'s deletion-vector-applying plan (anti-join of
  * position sidecars over the DV'd files' scans), with required
  * columns projected and the pushable subset of the filters applied
  * INSIDE that plan — parquet pushdown and manifest-stats pruning
  * still engage through `readWhere`-equivalent machinery downstream;
  * Spark re-evaluates every filter on top (`unhandledFilters` default),
  * so best-effort translation is safe. Slower than the vectorized
  * HadoopFsRelation path (rows convert through an RDD[Row] seam) —
  * the price of correctness between a deleteVectors commit and the
  * compact that materializes it. */
private[sources] class GraftLogDvRelation(
    spark: SparkSession, table: String, version: Long)
    extends BaseRelation with org.apache.spark.sql.sources.PrunedFilteredScan {

  import org.apache.spark.sql.functions.{col, lit}
  import org.apache.spark.sql.sources._

  override def sqlContext: SQLContext = spark.sqlContext

  private val df: DataFrame = TableLog.read(spark, table, Some(version))

  override def schema: StructType = df.schema

  /** sources.Filter → Column, best-effort: None = not translated
    * (Spark re-applies the full predicate above the scan anyway). */
  private def toColumn(f: Filter): Option[org.apache.spark.sql.Column] = f match {
    case EqualTo(a, v) => Some(col(a) === lit(v))
    case GreaterThan(a, v) => Some(col(a) > lit(v))
    case GreaterThanOrEqual(a, v) => Some(col(a) >= lit(v))
    case LessThan(a, v) => Some(col(a) < lit(v))
    case LessThanOrEqual(a, v) => Some(col(a) <= lit(v))
    case In(a, vs) => Some(col(a).isin(vs.toIndexedSeq: _*))
    case IsNull(a) => Some(col(a).isNull)
    case IsNotNull(a) => Some(col(a).isNotNull)
    case StringStartsWith(a, v) => Some(col(a).startsWith(v))
    case And(l, r) => for { lc <- toColumn(l); rc <- toColumn(r) } yield lc && rc
    case Or(l, r) => for { lc <- toColumn(l); rc <- toColumn(r) } yield lc || rc
    case Not(c) => toColumn(c).map(!_)
    case _ => None
  }

  override def buildScan(requiredColumns: Array[String],
                         filters: Array[Filter]): org.apache.spark.rdd.RDD[org.apache.spark.sql.Row] = {
    val filtered = filters.flatMap(toColumn).foldLeft(df)(_ filter _)
    // rows must carry EXACTLY requiredColumns (zero-width for
    // count(*) scans — select() with no args is the empty projection)
    filtered.select(requiredColumns.toIndexedSeq.map(col): _*).rdd
  }
}
