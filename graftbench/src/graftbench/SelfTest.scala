package graftbench

/** Measurement self-test of the span billing. Prints one `selftest`
  * line per case and exits 1 if any fails:
  *  - a span around one `count()` bills exactly one job (an RDD count:
  *    a DataFrame count under AQE is two jobs, the aggregate's map
  *    stage and the result);
  *  - a span around a lazy `select` bills none;
  *  - a job submitted from a thread without the span property (a
  *    `Par.both` lane) bills to the span open at the time.
  */
object SelfTest {
  def run(a: Main.Args): Unit = {
    val spark = Main.session(a)
    val trace = new Trace(spark, enabled = true)
    val rdd = spark.sparkContext.parallelize(1 to 1000, a.cores)
    val df = spark.range(1000).toDF("x")
    rdd.count() // warm up outside the spans
    trace.span("test", "count")(rdd.count())
    trace.span("test", "select")(df.select((df("x") + 1).as("y")))
    trace.span("test", "lane") {
      // a pool thread made before the span has no span property
      val lane = new Thread(() => { spark.sparkContext.setLocalProperty(Trace.PROP, null); rdd.count(); () })
      lane.start()
      lane.join()
    }
    def jobs(name: String) = trace.sum(s => s.layer == "test" && s.name == name).jobs
    val cases = Seq(
      "count() bills exactly 1 job" -> jobs("count"),
      "lazy select bills 0 jobs" -> jobs("select"),
      "a lane job bills to the open span" -> jobs("lane"))
    val want = Seq(1L, 0L, 1L)
    val ok = cases.zip(want).map { case ((c, got), w) =>
      println(s"selftest ${if (got == w) "PASS" else "FAIL"} $c (got $got)")
      got == w
    }
    trace.stop()
    Main.stopSession(spark)
    if (ok.contains(false)) sys.exit(1)
  }
}
