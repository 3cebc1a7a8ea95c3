package graft.sources

import java.util.concurrent.ConcurrentHashMap
import scala.util.control.NonFatal
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructType, TimestampNTZType, TimestampType}

/** Corpus table loaders (TESTDATA.md). Single place that knows the
  * on-disk layout so queries stay layout-agnostic. Reads are plain
  * parquet scans: Catalyst pushes filters/projections into the scan
  * (visible as PushedFilters/ReadSchema in explain), which at 100 TB
  * is the difference between reading a column slice and the world.
  *
  * PATH CONTRACT — scheme-agnostic by construction: `dir` is any URI
  * Hadoop can resolve (`file:`, `hdfs:`, `s3a:`, ...), because every
  * read goes through `spark.read` → `FileSystem.get(uri, conf)`.
  * Object stores need only their connector on the classpath and the
  * scheme registered, e.g. for S3: the hadoop-aws module plus
  * `spark.hadoop.fs.s3a.impl=org.apache.hadoop.fs.s3a.S3AFileSystem`
  * (+ credentials provider config) — then
  * `Tables.documents(spark, "s3a://bucket/corpus/sf100")` works
  * unchanged. SourcesSpec proves the contract with an in-test
  * FileSystem registered under a fake `grafts3` scheme and asserts
  * the bytes flow through it, not through a `file:` fallback.
  */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** What a cached schema was inferred under: the path's listing
    * (name, length, mtime per entry) and the session's explicitly set
    * parquet / case-sensitivity confs. */
  private final case class Stamp(files: Seq[(String, Long, Long)], confs: Map[String, String])
  private final case class Known(stamp: Stamp, schema: StructType)

  /** session → path → the schema last inferred there. Same keying as
    * [[register]]: the session OBJECT in a WeakHashMap, so
    * `spark.newSession()` starts empty and entries go with the
    * session. One entry per path, replaced when its stamp changes. */
  private val schemas = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[SparkSession, ConcurrentHashMap[String, Known]]())

  /** The stamp of `path`, from ONE `listStatus` (no Spark job). None —
    * read uncached — when the path cannot be listed (missing, a glob,
    * a connector error: `spark.read` then reports it as before) or
    * holds a sub-directory, whose mtime does not cover rewrites of
    * the files below it. */
  private def stampOf(spark: SparkSession, path: String): Option[Stamp] =
    try {
      val p = new Path(path)
      val listing = p.getFileSystem(spark.sessionState.newHadoopConf()).listStatus(p)
      if (listing.exists(_.isDirectory)) None
      else Some(Stamp(
        listing.map(f => (f.getPath.getName, f.getLen, f.getModificationTime)).toSeq.sorted,
        spark.conf.getAll.filter { case (k, _) =>
          k.contains("parquet") || k == "spark.sql.caseSensitive" }))
    } catch { case NonFatal(_) => None }

  /** Read one corpus table. `spark.read.parquet` infers the schema with
    * a footer-reading Spark job on every call; for short gate queries
    * that job costs more than the scan. So the first read of a path in
    * a session infers as before and remembers `df.schema`; later reads
    * whose [[Stamp]] still matches pass it back via
    * `spark.read.schema(known)`, which starts no job. A rewritten
    * table or a changed parquet conf is a miss and re-infers. The
    * stamp is taken BEFORE inferring, so a rewrite racing the read
    * can only make the next stamp differ, never pin a stale schema.
    *
    * Only the schema is cached, never the DataFrame: every call still
    * builds a fresh relation (fresh file listing, fresh expression
    * ids), so two reads of one table self-join exactly as two
    * uncached reads do — a shared relation would alias their
    * attributes and change what `df("col")` resolves to. */
  def apply(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    stampOf(spark, path) match {
      case None => spark.read.parquet(path)
      case Some(stamp) =>
        val known = schemas.computeIfAbsent(spark, _ => new ConcurrentHashMap[String, Known]())
        Option(known.get(path)).filter(_.stamp == stamp) match {
          case Some(k) => spark.read.schema(k.schema).parquet(path)
          case None =>
            val df = spark.read.parquet(path)
            known.put(path, Known(stamp, df.schema))
            df
        }
    }
  }

  def region(s: SparkSession, d: String): DataFrame     = apply(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame     = apply(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame   = apply(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame   = apply(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame       = apply(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame     = apply(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame   = apply(s, d, "lineitem")
  /** events.parquet has shipped two physical spellings of `ts`:
    * TIMESTAMP(NANOS) — which Spark's parquet reader rejects, so
    * sessions set spark.sql.legacy.parquet.nanosAsLong and the column
    * arrives as LongType nanos, truncated here to micros (the same
    * ns→us conversion DuckDB applies; verified: floor, not round) —
    * and plain micros with isAdjustedToUTC=false, which Spark reads
    * as TIMESTAMP_NTZ. Sessions pin spark.sql.session.timeZone=UTC,
    * so the NTZ→TIMESTAMP cast relabels the same micros value that
    * DuckDB's naive read sees; every downstream unix_micros /
    * date_format(…, UTC) then agrees across engines. Idempotent:
    * matches on the INPUT's type, already-TimestampType passes
    * through. */
  def normalizeEventTs(raw: DataFrame): DataFrame =
    raw.schema("ts").dataType match {
      case LongType =>
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampNTZType =>
        raw.withColumn("ts", col("ts").cast(TimestampType))
      case _ => raw
    }

  def events(s: SparkSession, d: String): DataFrame =
    normalizeEventTs(apply(s, d, "events"))
  def documents(s: SparkSession, d: String): DataFrame  = apply(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = apply(s, d, "embeddings")

  /** Register all corpus tables as temp views so `spark.sql` works
    * too. Idempotent per (session, dir): repeated calls with the same
    * dir skip re-creating the 10 views; a dir CHANGE re-registers
    * (views always reflect the last requested dir). The reads share
    * [[apply]]'s per-session schema cache, so a re-registration, or a
    * later `Tables.x` read of a registered table, starts no
    * schema-inference job while the table's listing stamp (file
    * names, lengths, mtimes) and the session's parquet confs are
    * unchanged. Temp views are
    * per-SparkSession, so the cache key is the session OBJECT (a
    * WeakHashMap: reference identity, no identityHashCode collisions,
    * and entries evict when a session is GC'd instead of leaking) —
    * keying by applicationId would silently skip registration for a
    * second session (spark.newSession()) in the same application. */
  private val lastRegistered = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[SparkSession, String]())
  def register(spark: SparkSession, dir: String): Unit = {
    val prev = lastRegistered.put(spark, dir)
    if (prev != dir)
      all.foreach { n =>
        // events goes through the normalizing accessor so SQL-path
        // queries see the micros TimestampType column, not raw nanos
        val df = if (n == "events") events(spark, dir) else apply(spark, dir, n)
        df.createOrReplaceTempView(n)
      }
  }
}
