package graft.sinks

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.execution.datasources.{FileIndex, HadoopFsRelation, PartitionDirectory}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types.StructType

/** DV-free `files` of a pinned manifest AS a [[FileIndex]]: listing =
  * those files, `listFiles` = that set minus the files whose committed
  * stats prove no pushed data filter can match ([[TableStats
  * .mayContain]] per conjunct — conservative, any unknown shape keeps
  * the file; the scan re-applies the full filter to the survivors).
  * One `getFileStatus` per file at build time (driver-side metadata,
  * O(files) like the manifest itself).
  *
  * Every plain TableLog scan is this listing — [[TableLog.read]],
  * time travel, `readAppendsSince` and the `graftlog` format face —
  * so the plan itself carries the snapshot it reads: its exact row
  * count is [[TableLog.exactRows]] of `(m, files)`, which
  * [[graft.plans.MetadataCount]] serves for a bare `count()`.
  *
  * A file carrying a deletion vector is refused: a bare listing would
  * resurrect its deleted rows (DV'd files scan under `readFiles`'
  * position anti-join instead). Equality is by table root and file
  * list, as `InMemoryFileIndex`'s is by its paths, so two reads of
  * the same files still share cached data and reused exchanges. */
private[graft] class ManifestFileIndex(
    spark: SparkSession, table: String,
    val m: TableLog.Manifest, val files: Seq[String])
    extends FileIndex {

  require(!files.exists(m.dvs.contains),
    s"ManifestFileIndex: a bare listing of a DV'd file of $table would resurrect deleted rows")

  private val fsys = new Path(table)
    .getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** (relative path in the manifest, resolved status). Clone
    * manifests hold absolute paths — Path(table, rel) resolves both. */
  private val statuses: Seq[(String, FileStatus)] = files.map { rel =>
    rel -> fsys.getFileStatus(new Path(table, rel))
  }

  override val rootPaths: Seq[Path] =
    Seq(fsys.makeQualified(new Path(table)))

  override def listFiles(partitionFilters: Seq[Expression],
                         dataFilters: Seq[Expression]): Seq[PartitionDirectory] = {
    val kept = statuses.collect {
      case (rel, st) if m.stats.get(rel).forall(s =>
        dataFilters.forall(TableStats.mayContain(s, _))) => st
    }
    Seq(PartitionDirectory(InternalRow.empty, kept.toArray))
  }

  override def inputFiles: Array[String] =
    statuses.map(_._2.getPath.toString).toArray

  override def refresh(): Unit = () // pinned at build — the reader contract

  override def sizeInBytes: Long = statuses.map(_._2.getLen).sum

  override def partitionSchema: StructType = StructType(Nil)

  override def equals(o: Any): Boolean = o match {
    case x: ManifestFileIndex => x.rootPaths == rootPaths && x.files == files
    case _ => false
  }

  override def hashCode: Int = (rootPaths, files).hashCode
}

private[graft] object ManifestFileIndex {

  /** The engine's own vectorized parquet scan over `files` of `m`
    * (predicate pushdown, column pruning, whole-stage codegen
    * unchanged). Committed schema when present; legacy pre-schema
    * manifests fall back to one footer read. */
  def relation(spark: SparkSession, table: String, m: TableLog.Manifest,
               files: Seq[String]): HadoopFsRelation = {
    val dataSchema = m.schema.getOrElse(
      spark.read.parquet(new Path(table, files.head).toString).schema)
    HadoopFsRelation(
      location = new ManifestFileIndex(spark, table, m, files),
      partitionSchema = StructType(Nil),
      dataSchema = dataSchema,
      bucketSpec = None,
      fileFormat = new ParquetFileFormat,
      options = Map.empty)(spark)
  }
}
