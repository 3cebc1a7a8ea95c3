package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** In-plan size guards for the deliberate quadratic baselines.
  *
  * An eager `require(df.agg(...).head...)` guard costs a separate
  * job — the input is scanned once for the check and again for the
  * query. The lazy spelling here keeps the guard INSIDE the plan:
  * the size aggregate becomes a 1-row frame whose only column — the
  * join key — is `when(measure > cap, raise_error(...)).otherwise(1)`.
  * The caller broadcast-hash-joins that row on the constant key under
  * the build side of the join it bounds; the broadcast exchange
  * executes before the stage that streams against it, so the check
  * still fires before any quadratic row materializes, but it now
  * belongs to the same query execution (one entry in the SQL tab, no
  * extra pre-job).
  *
  * The guard key cannot be pruned away: it IS the equi-join key, so
  * column pruning must keep it, and `raise_error` over a non-foldable
  * aggregate never constant-folds.
  */
object Guards {

  /** 1-row guard frame: column `_g` = 1, or raises
    * `prefix + <measure> + suffix` when `measure` exceeds `cap`.
    * `sized` must be a 1-row aggregate containing `measure`. */
  def lazyGuard(sized: DataFrame, measure: Column, cap: Long,
                prefix: String, suffix: String): DataFrame =
    sized.select(
      when(measure > cap,
        raise_error(concat(lit(prefix), measure.cast("string"), lit(suffix))))
        .otherwise(lit(1)).cast("int").as("_g"))

  /** Hash-join `guard` under `df` on a constant-1 key. The key is
    * spelled non-foldably — pmod(id, 1) + 1, with `id` any non-null
    * numeric column of `df` — because a literal key constant-folds
    * OUT of the join condition and Catalyst then plans a
    * BroadcastNestedLoopJoin (one row, harmless, but it breaks the
    * engine-wide no-nested-loop invariant and the codegen span). */
  def gate(df: DataFrame, id: Column, guard: DataFrame): DataFrame =
    df.withColumn("_g", (pmod(id, lit(1L)) + lit(1L)).cast("int"))
      .join(broadcast(guard), Seq("_g")).drop("_g")

  /** Parallelism FLOOR for CPU-dense stages fed by small scans
    * (round 16). A parquet file is splittable only at row-group
    * boundaries, so a catalog/model-sized table in one row group scans
    * as ONE partition — and every downstream map-side stage (sha-256
    * shingle ranking, codec decodes, levenshtein scoring, dot-product
    * fan-outs) inherits single-core execution no matter how many cores
    * the session has (measured: q46's 4M-pair cosine verify ran its
    * whole 2.8 s on one task; the ER audit's scoring likewise).
    * Repartitions ONLY when the frame's planned partition count is
    * below the session default parallelism: at real scale inputs
    * already split past the core count and this is a no-op — no
    * unconditional shuffle is added to any scale path. Keyless
    * round-robin (with Spark's sort-before-repartition determinism)
    * so no key skew is introduced.
    *
    * SHUFFLE-FREE INPUTS ONLY, enforced (round 17, the r16 ADVICE
    * item): reading the partition count via `df.rdd` finalizes an
    * adaptive plan, and on a frame with an upstream Exchange that
    * MATERIALIZES the shuffle stages at floor-call time — the
    * returned `df.repartition(n)` then builds a fresh plan that
    * re-executes them (double execution). Every legitimate call site
    * is a scan/select/generate (the single-row-group fixture shape),
    * so the check is an ALLOWLIST of operators known not to shuffle:
    * relation leaves (file scans, checkpointed `LogicalRDD`s — they
    * hide their upstream and stay floorable — local relations,
    * ranges), Project, Filter, Generate and Union. A frame whose
    * optimized plan holds anything else (an aggregate, join, window, sort,
    * typed `groupByKey`/`cogroup`, or an operator this list has never
    * heard of) gets its parallelism from AQE and is returned
    * UNCHANGED — and `.rdd` is never touched for it. The check reads
    * the LOGICAL plan because exchanges are only inserted by the
    * executedPlan preparation rules, and building THAT under AQE is
    * exactly the materialization this guard exists to avoid. OpsSpec
    * G1/G2/G3 pin pass-through and floor. */
  def parallelismFloor(df: DataFrame): DataFrame = {
    if (df.isStreaming) return df // .rdd is illegal on streaming frames
    import org.apache.spark.sql.catalyst.plans.logical._
    import org.apache.spark.sql.execution.LogicalRDD
    import org.apache.spark.sql.execution.datasources.LogicalRelation
    val unknown = df.queryExecution.optimizedPlan.exists {
      case _: LogicalRelation | _: LogicalRDD | _: LocalRelation | _: Range |
           _: Project | _: Filter | _: Generate | _: Union => false
      case _ => true
    }
    if (unknown) return df // AQE owns post-shuffle parallelism
    val target = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions < target) df.repartition(target) else df
  }
}
