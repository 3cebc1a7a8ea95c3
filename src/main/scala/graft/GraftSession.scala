package graft

import org.apache.spark.sql.SparkSession

/** Canonical session factory: the configuration every graft
  * deployment wants, sized by a cores hint instead of Spark's
  * 200-partition default. On a real cluster the same settings apply
  * with cores = total executor cores (AQE then coalesces shuffle
  * partitions at runtime, so the static number is a ceiling, not a
  * tuning knob to chase).
  */
object GraftSession {

  def local(cores: Int = Runtime.getRuntime.availableProcessors()): SparkSession =
    builder(s"local[$cores]", cores).getOrCreate()

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
      // a collected root ORDER BY sorts on the driver (plans.CollectSort);
      // a bare count of a TableLog snapshot reads the manifest
      // (plans.MetadataCount)
      .withExtensions { e =>
        e.injectQueryStagePrepRule(_ => graft.plans.CollectSort)
        e.injectOptimizerRule(_ => graft.plans.MetadataCount)
      }
}
