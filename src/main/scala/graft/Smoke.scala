package graft

/** Driver-style smoke: run the flagship entry on sf0.001 and assert
  * rows > 0 — mirrors the harness t1 check so it can be driven
  * locally before a round ends. Exit code 0 iff the smoke passes.
  */
object Smoke {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.local(4).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val n = SparkEntry.entry(spark).count()
    println(s"[smoke] entry rows=$n queries=${SparkEntry.queries.size} oracles=${SparkEntry.oracleSql.size}")
    spark.stop()
    if (n <= 0) sys.exit(1)
  }
}
