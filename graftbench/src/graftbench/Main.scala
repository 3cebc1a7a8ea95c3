package graftbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** The benchmark process: sets up a graft session several times,
  * runs one workload for a fixed time from a closed-loop client, and
  * writes its metrics as one JSON object to `--out`. `graftbench/run.py`
  * builds this program, generates the inputs from the seed, runs it,
  * checks the outputs and prints the result line.
  *
  * Arguments: --workload NAME --seed N --seconds S --trace 0|1
  * --data CORPUS_DIR --drops DROPS_DIR --work SCRATCH_DIR --out FILE
  * [--cores N]. Workloads: etl_batch, review_ingest, and selftest (the
  * measurement self-test).
  */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
                        data: String, drops: String, work: String, out: String, cores: Int)

  /** Set-ups per run. The first, in the fresh JVM, pays class loading
    * and JIT and is reported apart (the info line's `cold_setup_s`);
    * setup_s is the median of the others. */
  val SETUPS = 4

  def parse(argv: Array[String]): Args = {
    val kv = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(kv("workload"), kv("seed").toLong, kv("seconds").toDouble, kv("trace") == "1",
      kv("data"), kv.getOrElse("drops", ""), kv("work"), kv("out"),
      kv.get("cores").map(_.toInt).getOrElse(Runtime.getRuntime.availableProcessors()))
  }

  /** The graft session the repo's mains use, plus the codegen-cache
    * overlay of Bench/Verify, with every local dir inside `work`. */
  def session(a: Args): SparkSession = {
    val s = graft.GraftSession.builder(s"local[${a.cores}]", a.cores)
      .config("spark.sql.codegen.cache.maxEntries", "10000")
      .config("spark.local.dir", s"${a.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${a.work}/warehouse")
      .config("spark.sql.streaming.checkpointLocation", s"${a.work}/checkpoints")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def stopSession(s: SparkSession): Unit = {
    s.streams.active.foreach(_.stop())
    s.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    new java.io.File(a.work).mkdirs()
    if (a.workload == "selftest") { SelfTest.run(a); return }
    val workload: Workload = a.workload match {
      case "etl_batch" => new Batch(a, Batch.etlOps)
      case "review_ingest" => new Ingest(a)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    graft.Calibrate.threads = a.cores
    graft.Calibrate.ioDir = a.work
    val calStart = graft.Calibrate.probe(0)

    val setups = mutable.ArrayBuffer.empty[Double]
    var spark: SparkSession = null
    (1 to SETUPS).foreach { i =>
      if (spark != null) { workload.teardown(spark); stopSession(spark) }
      val t0 = System.nanoTime()
      spark = session(a)
      workload.setup(spark, i)
      setups += (System.nanoTime() - t0) / 1e9
    }
    val trace = new Trace(spark, a.trace)
    val r = workload.measure(spark, trace)
    trace.stop()
    trace.write(s"${a.work}/spans.jsonl")
    workload.teardown(spark)
    val calEnd = graft.Calibrate.probe(1)
    stopSession(spark)

    def cal(w: graft.Calibrate.Window) =
      f"""{"alu":${w.alu}%.4f,"mem":${w.mem}%.4f,"io":${w.io}%.4f,"load":${w.load}%.2f}"""
    def obj(m: Seq[(String, (Double, String))]) =
      m.map { case (k, (v, u)) => s""""$k":{"value":${Stats.num(v)},"unit":"$u"}""" }
        .mkString("{", ",", "}")
    val endToEnd = obj(Seq("setup_s" -> (Stats.median(setups.toSeq.drop(1)), "s")) ++ r.endToEnd)
    val json = s"""{"attempted":${r.attempted},"failed":${r.failed},""" +
      s""""end_to_end":$endToEnd,"per_layer":${obj(r.layers)},""" +
      s""""check_ops":${r.checkOps.map(o => s""""$o"""").mkString("[", ",", "]")},""" +
      s""""cold_setup_s":${Stats.num(setups.head)},""" +
      s""""calibrate":{"start":${cal(calStart)},"end":${cal(calEnd)}}}"""
    java.nio.file.Files.writeString(java.nio.file.Paths.get(a.out), json)
  }
}

/** What a workload hands back: its end-to-end and (traced runs only)
  * per-layer metrics as name -> (value, unit), the request counts, and
  * the batch ops whose outputs run.py checks against their DuckDB
  * oracle. */
final case class Result(endToEnd: Layers.M, layers: Layers.M, attempted: Long,
                        failed: Long, checkOps: Seq[String] = Nil)

trait Workload {
  /** One set-up on a fresh session; `i` counts from 1. */
  def setup(spark: SparkSession, i: Int): Unit
  def teardown(spark: SparkSession): Unit = ()
  def measure(spark: SparkSession, trace: Trace): Result
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile (`q` in [0, 1]). */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.sorted
    val pos = q * (s.length - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.length - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def geomean(xs: Seq[Double]): Double = math.exp(xs.map(x => math.log(math.max(x, 1e-9))).sum / xs.length)

  /** The highest percentile with at least ten samples beyond it. */
  def tailQ(n: Int): Double = math.max(0.5, 1.0 - 10.0 / n)

  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString

  /** Heap in use after full collections, MiB: the listener bus is
    * drained first (queued events hold query plans), and a second
    * collection frees what the first one's reference processing let
    * go (cleaned broadcasts and shuffles). */
  def heapAfterGcMb(spark: SparkSession): Double = {
    org.apache.spark.graftbridge.ListenerBridge.flush(spark.sparkContext)
    System.gc()
    System.gc()
    val m = java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage
    m.getUsed / 1048576.0
  }

  /** Block-manager storage still held (memory + disk), MiB. */
  def blocksHeldMb(spark: SparkSession): Double = {
    val sc = spark.sparkContext
    val mem = sc.getExecutorMemoryStatus.values.map { case (max, free) => max - free }.sum
    val disk = sc.getRDDStorageInfo.map(_.diskSize).sum
    (mem + disk) / 1048576.0
  }
}
