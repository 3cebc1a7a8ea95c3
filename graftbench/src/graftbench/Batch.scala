package graftbench

import scala.collection.mutable

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types.StructType
import graft.queries.Q

/** A batch workload: passes over a fixed op list from `SparkEntry`. The
  * first pass in the fresh JVM is the cold pass and runs in registry
  * order; the warm passes after it run in an order the seed permutes.
  * Each op is `Q.run` plus a `collect()` of the whole result, which the
  * client keeps: the cold pass's outputs are written out after that
  * pass for run.py to check against each op's DuckDB oracle, and every
  * warm pass's output must have the cold output's fingerprint. After
  * every op the dedup-family caches and the retained similarity frames
  * are released, so no op is served from an earlier op's cache.
  */
final class Batch(a: Main.Args, ops: Seq[Q]) extends Workload {

  /** Set-up: the session, and the corpus registered as views. */
  def setup(spark: SparkSession, i: Int): Unit = graft.sources.Tables.register(spark, a.data)

  private def hygiene(spark: SparkSession): Unit = {
    graft.queries.DedupQueries.releaseCaches(spark)
    graft.analytics.Similarity.releaseRetained(spark)
  }

  def measure(spark: SparkSession, trace: Trace): Result = {
    val rng = new scala.util.Random(a.seed)
    val times = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
    val passes = mutable.ArrayBuffer.empty[Double]
    val retained = mutable.ArrayBuffer.empty[Double]
    var warmRows = 0L
    // the cold pass's outputs, written out for the check after that pass
    val outputs = mutable.HashMap.empty[String, (Array[Row], StructType)]
    val coldPrint = mutable.HashMap.empty[String, (Int, Long)]
    val checkDir = s"${a.work}/check"
    var checked = Seq.empty[String] // ops whose cold output was written
    var blocksMax = 0.0
    var attempted, failed = 0L
    val passSpans = mutable.ArrayBuffer.empty[Span]
    val cg0 = Codegen.snap()
    var cgCold = (0L, 0.0)
    var warmStart = 0L // --seconds counts the warm passes
    def elapsed = (System.nanoTime() - warmStart) / 1e9
    while (passes.length < Batch.MIN_PASSES || elapsed < a.seconds) {
      // the cold pass runs in registry order, the warm ones permuted
      val order = if (passes.isEmpty) ops else rng.shuffle(ops)
      val (passMs, _) = trace.span("bench", s"pass${passes.length}") {
        order.map { q =>
          attempted += 1
          val (out, ms) = trace.span("queries", q.name) {
            try {
              val df = trace.span("queries", "call")(q.run(spark, a.data))._1
              Some((df.collect(), df))
            } catch {
              case scala.util.control.NonFatal(e) =>
                System.err.println(s"[graftbench] ${q.name} failed: ${e.getMessage}")
                None
            }
          }
          out match { // checked outside the op's timed span
            case Some((got, df)) if passes.isEmpty =>
              outputs(q.name) = (got, df.schema)
              coldPrint(q.name) = Batch.fingerprint(got)
            case Some((got, _)) =>
              warmRows += got.length
              if (!coldPrint.get(q.name).contains(Batch.fingerprint(got))) {
                failed += 1
                System.err.println(s"[graftbench] ${q.name}: warm pass ${passes.length} output " +
                  "differs from the cold pass's")
              }
            case None => failed += 1
          }
          hygiene(spark)
          blocksMax = math.max(blocksMax, Stats.blocksHeldMb(spark))
          times.getOrElseUpdate(q.name, mutable.ArrayBuffer.empty) += ms
          ms
        }.sum
      }
      if (passes.isEmpty) {
        cgCold = Codegen.delta(cg0)
        checked = outputs.keys.toSeq
        outputs.foreach { case (name, (got, schema)) =>
          spark.createDataFrame(java.util.Arrays.asList(got: _*), schema)
            .coalesce(1).write.mode("overwrite").parquet(s"$checkDir/$name")
        }
        outputs.clear()
      }
      retained += Stats.heapAfterGcMb(spark)
      if (passes.isEmpty) warmStart = System.nanoTime()
      passes += passMs / 1e3
      passSpans ++= trace.all.filter(s => s.layer == "bench" && s.name == s"pass${passes.length - 1}")
    }

    val oracles = graft.SparkEntry.oracleSql
    Json.writeStringMap(s"$checkDir/oracle_sql.json",
      ops.flatMap(q => oracles.get(q.name).map(q.name -> _)).toMap)

    val warm = passes.drop(1)
    // per-op medians over the warm passes: a burst of host contention
    // inflates one pass's ops, not the median
    val warmMedians = times.values.map(v => Stats.median(v.drop(1).toSeq)).toSeq
    val medianPassS = warmMedians.sum / 1e3
    val endToEnd = Seq(
      "cold_pass_s" -> (passes.head, "s"),
      "pass_s" -> (medianPassS, "s"),
      "op_geomean_ms" -> (Stats.geomean(warmMedians), "ms"),
      "rows_per_s" -> (warmRows / warm.length / medianPassS, "rows/s"),
      "retained_mb" -> (retained.min, "MiB"))
    val layers = if (!trace.enabled) Nil else
      Layers.batch(trace, passSpans.drop(1).toSeq, a.cores, cgCold, blocksMax)
    Result(endToEnd, layers, attempted, failed, checked)
  }
}

object Batch {
  /** The cold pass plus at least two warm ones. */
  val MIN_PASSES = 3

  /** Order-independent fingerprint of a result: (rows, sum of row
    * hashes over a canonical rendering of each row). */
  def fingerprint(rows: Array[Row]): (Int, Long) = {
    def canon(v: Any): String = v match {
      case null => "<null>"
      case b: Array[Byte] => b.map(x => f"$x%02x").mkString
      case r: Row => r.toSeq.map(canon).mkString("(", ",", ")")
      case m: scala.collection.Map[_, _] =>
        m.toSeq.map { case (k, x) => canon(k) + "->" + canon(x) }.sorted.mkString("{", ",", "}")
      case xs: scala.collection.Seq[_] => xs.map(canon).mkString("[", ",", "]")
      case x => x.toString
    }
    (rows.length, rows.iterator.map(r => scala.util.hashing.MurmurHash3.stringHash(canon(r)).toLong).sum)
  }

  private def pick(p: String => Boolean): Seq[Q] = graft.SparkEntry.allQueries.filter(q => p(q.name))

  /** Gate queries from q01–q28 (SURVEY §2's inventory), one per kind:
    * TPC-H-style aggregate, anti and semi joins, union, explode, window,
    * null defaults (validation), regex projection, surrogate key, LIMIT
    * and fingerprint dedup; plus three nightly training-data ops whose
    * own code runs Spark actions, so the call-site split has a job in
    * each module: token packing (q60, `ops.PrefixSum`), the data
    * contract audit (q143, `queries`) and BM25 retrieval (q146,
    * `analytics.Retrieval`). */
  val etlOps: Seq[Q] = {
    val names = Seq("q01_", "q05_", "q06_", "q08_", "q10_", "q12_", "q14_", "q15_",
      "q16_", "q19_", "q28_", "q60_", "q143_", "q146_")
    names.flatMap(p => pick(_.startsWith(p)))
  }
}

/** Whole-stage-codegen compile counters (count, ms), process-wide. */
object Codegen {
  def snap(): (Long, Double) = {
    val h = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
    (h.getCount, h.getSnapshot.getMean * h.getCount)
  }
  def delta(from: (Long, Double)): (Long, Double) = {
    val now = snap()
    (now._1 - from._1, math.max(0.0, now._2 - from._2))
  }
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def writeStringMap(path: String, m: Map[String, String]): Unit = {
    new java.io.File(path).getParentFile.mkdirs()
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path),
      m.map { case (k, v) => s"${str(k)}: ${str(v)}" }.mkString("{", ",", "}"))
  }
}
