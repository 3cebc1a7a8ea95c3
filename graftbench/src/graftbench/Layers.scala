package graftbench

/** The per-layer table of a traced run. Counts and times are per warm
  * pass (batch) or per warm cycle (ingest) unless the name says
  * otherwise; every workload prints every name, 0 where a layer is not
  * exercised. */
object Layers {
  type M = Seq[(String, (Double, String))]

  /** Modules whose jobs are billed by call site. `pipeline` and
    * `streaming` start no job of their own (their frames are lazy, the
    * caller's action runs them), so they are not listed. */
  val callSiteModules: Seq[String] = Seq("analytics", "ops", "queries", "sinks", "sources")

  private def per(n: Int)(x: Double): Double = x / math.max(1, n)

  /** spark.* and the call-site split, over the spans `passes`. */
  def spark(trace: Trace, passes: Seq[Span], cores: Int): M = {
    val n = passes.length
    val ids = passes.map(_.id).toSet
    val t = trace.sum(s => ids.contains(s.id))
    val wallMs = passes.map(s => s.endMs - s.startMs).sum.toDouble
    val p = per(n) _
    val driver = passes.map(trace.driverMs).sum.toDouble
    Seq(
      "spark.jobs" -> (p(t.jobs), "count"),
      "spark.stages" -> (p(t.stages), "count"),
      "spark.tasks" -> (p(t.tasks), "count"),
      "spark.empty_task_frac" -> (t.emptyTasks.toDouble / math.max(1L, t.tasks), "ratio"),
      "spark.busy_frac" -> (t.runMs / math.max(1.0, wallMs * cores), "ratio"),
      "spark.driver_ms" -> (p(driver), "ms"),
      "spark.plan_ms" -> (p(t.planMs), "ms"),
      "spark.scan_ms" -> (p(t.scanMs), "ms"),
      "spark.read_mb" -> (p(t.readBytes / 1048576.0), "MiB"),
      "spark.shuffle_mb" -> (p(t.shuffleBytes / 1048576.0), "MiB"),
      "spark.gc_ms" -> (p(t.gcMs), "ms")) ++
      callSiteModules.flatMap(m => Seq(
        s"$m.jobs" -> (p(t.moduleJobs(m)), "count"),
        s"$m.job_ms" -> (p(t.moduleJobMs(m)), "ms")))
  }

  private def med(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else Stats.median(xs)

  private def tail(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else Stats.quantile(xs, Stats.tailQ(xs.length))

  /** Time of the named spans that start inside `passes`, per pass. */
  private def spanMs(trace: Trace, passes: Seq[Span], layer: String, name: String): Double = {
    val inPass = trace.all.filter(s => s.layer == layer && s.name == name &&
      passes.exists(p => p.startMs <= s.startMs && s.startMs <= p.endMs))
    per(passes.length)(inPass.map(s => s.endMs - s.startMs).sum.toDouble)
  }

  def batch(trace: Trace, warm: Seq[Span], cores: Int, cgCold: (Long, Double),
            blocksMb: Double): M =
    spark(trace, warm, cores) ++ Seq(
      "spark.codegen_ms" -> (cgCold._2, "ms"),
      "spark.codegen_units" -> (cgCold._1.toDouble, "count"),
      "spark.blocks_mb" -> (blocksMb, "MiB"),
      "queries.call_ms" -> (spanMs(trace, warm, "queries", "call"), "ms")) ++ ingestZeros

  private val ingestNames: Seq[(String, String)] = Seq(
    "pipeline.new_reviews_ms" -> "ms", "pipeline.restaurants_ms" -> "ms",
    "pipeline.drop_p50_ms" -> "ms", "pipeline.drop_tail_ms" -> "ms",
    "pipeline.dead_letters" -> "count",
    "sinks.append_ms" -> "ms", "sinks.files_per_commit" -> "count", "sinks.log_mb" -> "MiB",
    "sinks.write_amp" -> "ratio", "sinks.read_where_ms" -> "ms", "sinks.read_changes_ms" -> "ms",
    "sinks.read_p50_ms" -> "ms", "sinks.read_tail_ms" -> "ms",
    "sinks.files_read_frac" -> "ratio", "sinks.compact_ms" -> "ms",
    "streaming.trigger_ms" -> "ms", "streaming.plan_ms" -> "ms", "streaming.wal_ms" -> "ms",
    "streaming.list_ms" -> "ms")

  private def ingestZeros: M = ingestNames.map { case (k, u) => k -> (0.0, u) }

  private def batchZeros: M = Seq(
    "spark.codegen_ms" -> (0.0, "ms"), "spark.codegen_units" -> (0.0, "count"),
    "queries.call_ms" -> (0.0, "ms"))

  def ingest(trace: Trace, warm: Seq[Span], cores: Int, opMs: Map[String, Seq[Double]],
             filesPerCommit: Double, logMb: Double, writeAmp: Double,
             filesReadFrac: Double, deadLetters: Long, blocksMb: Double): M = {
    def op(k: String) = opMs.getOrElse(k, Nil)
    val reads = Seq("read_where", "read_changes", "time_travel", "api_batch").flatMap(op)
    val triggers = math.max(1L, trace.triggers - trace.idleTriggers)
    def stream(keys: String*) = keys.map(trace.streamMs).sum.toDouble / triggers
    val values: Map[String, Double] = Map(
      "pipeline.new_reviews_ms" -> spanMs(trace, warm, "pipeline", "new_reviews"),
      "pipeline.restaurants_ms" -> med(op("restaurants")),
      "pipeline.drop_p50_ms" -> med(op("drop")),
      "pipeline.drop_tail_ms" -> tail(op("drop")),
      "pipeline.dead_letters" -> deadLetters.toDouble,
      "sinks.append_ms" -> spanMs(trace, warm, "sinks", "append"),
      "sinks.files_per_commit" -> filesPerCommit,
      "sinks.log_mb" -> logMb,
      "sinks.write_amp" -> writeAmp,
      "sinks.read_where_ms" -> med(op("read_where")),
      "sinks.read_changes_ms" -> med(op("read_changes")),
      "sinks.read_p50_ms" -> med(reads),
      "sinks.read_tail_ms" -> tail(reads),
      "sinks.files_read_frac" -> filesReadFrac,
      "sinks.compact_ms" -> med(op("compact")),
      "streaming.trigger_ms" -> stream("triggerExecution"),
      "streaming.plan_ms" -> stream("queryPlanning"),
      "streaming.wal_ms" -> stream("walCommit", "commitOffsets"),
      "streaming.list_ms" -> stream("latestOffset"))
    spark(trace, warm, cores) ++ Seq("spark.blocks_mb" -> (blocksMb, "MiB")) ++ batchZeros ++
      ingestNames.map { case (k, u) => k -> (values(k), u) }
  }
}
