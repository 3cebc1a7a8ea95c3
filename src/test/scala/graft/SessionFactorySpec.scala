package graft

import java.nio.file.{Files, Path, Paths}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Source guard for the one session factory: every `main` builds its
  * session through [[GraftSession]], so the plans the harness times
  * are the plans the library ships (its rules, its confs, its codegen
  * cache), and hand-written config blocks cannot drift back in. The
  * rules themselves have one registration: injected by
  * [[graft.functions.GraftExtensions]] when the factory builds a
  * session, never added to a live one. */
class SessionFactorySpec extends AnyFunSuite {

  private lazy val sources: Seq[(String, String)] = {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the project root: $root")
    val walk = Files.walk(root)
    try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      .map((p: Path) => p.getFileName.toString -> Files.readString(p))
    finally walk.close()
  }

  test("SparkSession.builder() and the codegen-cache overlay are spelled only in GraftSession.scala") {
    assert(sources.exists(_._1 == "GraftSession.scala"))
    val builders = sources.collect { case (f, s) if s.contains("SparkSession.builder()") => f }
    assert(builders == Seq("GraftSession.scala"))
    val caches = sources.collect {
      case (f, s) if s.contains("spark.sql.codegen.cache.maxEntries") => f }
    assert(caches == Seq("GraftSession.scala"))
  }

  test("every main builds its session through GraftSession") {
    val mains = sources.filter(_._2.contains("def main("))
    assert(mains.nonEmpty)
    val handBuilt = mains.collect { case (f, s) if !s.contains("GraftSession.") => f }
    assert(handBuilt.isEmpty, s"mains not on the factory: $handBuilt")
  }

  test("graft's extensions are injected in GraftExtensions.scala and registered once, at session build") {
    val injectors = sources.collect {
      case (f, s) if """inject[A-Z]\w*\(""".r.findFirstIn(s).isDefined => f }
    assert(injectors == Seq("GraftExtensions.scala"), s"inject* calls in $injectors")
    val registrations = sources.flatMap { case (f, s) =>
      """withExtensions\(""".r.findAllMatchIn(s).map(_ => f) }
    assert(registrations == Seq("GraftSession.scala"), s"withExtensions in $registrations")
    val factory = sources.collect { case ("GraftSession.scala", s) => s }.head
    assert(factory.contains(".withExtensions(new GraftExtensions)"))
    Seq("spark.experimental", "createOrReplaceTempFunction", "def install",
        "TopKPerKeyStrategy.setup").foreach { live =>
      val hits = sources.collect { case (f, s) if s.contains(live) => f }
      assert(hits.isEmpty, s"live-session registration '$live' in $hits")
    }
  }

  private def occurrences(needle: String): Seq[String] =
    sources.flatMap { case (f, s) =>
      Iterator.iterate(s.indexOf(needle))(i => s.indexOf(needle, i + 1))
        .takeWhile(_ >= 0).map(_ => f) }

  test("DuckDB's scalar rounding arithmetic is spelled once, beside DuckRound") {
    // the generated-code string spells `Math.floor($s + 0.5)`, not this
    assert(occurrences("floor(s + 0.5)") == Seq("DuckRoundExpr.scala"))
  }

  test("the UTF-8 byte compare is defined once") {
    assert(occurrences("def utf8Cmp(") == Seq("TableStats.scala"))
  }

  test("no src/main file reads the retired probe scale knobs") {
    Seq("SPARK_GRAFT_SFT_SCALE", "SPARK_GRAFT_TRI_SCALE").foreach { knob =>
      assert(occurrences(knob).isEmpty, s"$knob read in ${occurrences(knob)}")
    }
  }
}
