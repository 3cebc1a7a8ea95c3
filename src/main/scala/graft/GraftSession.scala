package graft

import org.apache.spark.sql.SparkSession
import graft.functions.GraftExtensions
import graft.sinks.{GraftLocalFileSystem, GraftLocalFs}

/** Canonical session factory: the configuration every graft
  * deployment wants, sized by a cores hint instead of Spark's
  * 200-partition default. On a real cluster the same settings apply
  * with cores = total executor cores (AQE then coalesces shuffle
  * partitions at runtime, so the static number is a ceiling, not a
  * tuning knob to chase).
  */
object GraftSession {

  /** The harness overlay every `main` builds through: the factory on
    * `local[cores]` plus the codegen-unit cache.
    *
    * Codegen-unit cache (static conf, default 100 entries): the
    * suite's join-heavy queries compile 100-250 janino units per
    * RUN, so the default LRU evicts everything between best-of-2
    * repeats and the second run re-pays the full compile bill
    * (q166/q167/q206 measured 18-45 s of METRIC_COMPILATION_TIME
    * per run with executors <30% busy — driver codegen was the
    * critical path). Sized to hold the whole suite's units; scale-
    * independent (the cache is per-JVM and generated source is
    * deterministic), overridable via SPARK_GRAFT_CODEGEN_CACHE.
    */
  def local(cores: Int): SparkSession.Builder =
    builder(s"local[$cores]", cores)
      .config("spark.sql.codegen.cache.maxEntries",
        sys.env.getOrElse("SPARK_GRAFT_CODEGEN_CACHE", "10000"))

  def builder(master: String, cores: Int): SparkSession.Builder =
    SparkSession.builder()
      .master(master)
      .appName("graft")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      // the corpus events table stores TIMESTAMP(NANOS); read as long
      // + Tables.events normalizes to micros
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      // local files without a chmod/readlink child process per file
      // (graft.sinks.GraftRawLocalFileSystem)
      .config("spark.hadoop.fs.file.impl", classOf[GraftLocalFileSystem].getName)
      .config("spark.hadoop.fs.AbstractFileSystem.file.impl", classOf[GraftLocalFs].getName)
      // graft's rules, strategy and SQL functions (CollectSort,
      // MetadataCount, the top-k rewrites, vec_dot, ...)
      .withExtensions(new GraftExtensions)
}
