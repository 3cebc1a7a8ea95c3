package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.execution.ExplainMode

/** Dumps `explain formatted` for named declared queries to
  * plans/<dir>/<query>_<tag>.txt — the optimization-round evidence
  * files (judge-checkable plan claims). NOT driver surface.
  *
  * Usage: sbt "runMain graft.PlanDump <dir> <tag> <q1,q2,...> [sfDir]"
  * e.g.   sbt "runMain graft.PlanDump r17 before q166_entity_resolution"
  * `sfDir` is the corpus the queries read (default: the sf0.001
  * test corpus, as before).
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    require(args.length == 3 || args.length == 4,
      "usage: PlanDump <dir> <tag> <q1,q2,...> [sfDir]")
    val Array(dir, tag, names) = args.take(3)
    val sfDir = args.lift(3).getOrElse("/root/testdata/sf0.001")
    // Bench's session (so a dump shows the plan collect-driven
    // callers execute, CollectSort root included)
    val spark = GraftSession.local(4).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val out = Paths.get(s"plans/$dir")
    Files.createDirectories(out)
    names.split(",").map(_.trim).filter(_.nonEmpty).foreach { name =>
      val df = SparkEntry.queries(name)(spark, sfDir)
      val plan = df.queryExecution.explainString(ExplainMode.fromString("formatted"))
      Files.write(out.resolve(s"${name}_$tag.txt"), plan.getBytes("UTF-8"))
      println(s"wrote plans/$dir/${name}_$tag.txt")
    }
    spark.stop()
  }
}
