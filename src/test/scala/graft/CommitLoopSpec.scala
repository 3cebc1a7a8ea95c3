package graft

import java.nio.file.{Files, Paths}
import org.scalatest.funsuite.AnyFunSuite

/** Source guard for TableLog's one commit protocol: every write verb
  * runs the one optimistic retry loop, a won delta checkpoints at one
  * site, `append`/`appendStreamBatch` share one body, compaction has
  * one entry point (plus the `compactSmallFiles` policy), and no verb
  * carries a test-only hook — races are driven through the LogStore
  * seam instead. */
class CommitLoopSpec extends AnyFunSuite {

  private lazy val src: String = {
    val p = Paths.get("src/main/scala/graft/sinks/TableLog.scala")
    assert(Files.isRegularFile(p), s"run from the project root: $p")
    Files.readString(p)
  }

  /** The file's top-level `def`s as (name, text up to the next def). */
  private lazy val defs: Seq[(String, String)] = {
    val starts = """(?m)^  (?:private(?:\[\w+\])? )?def (\w+)""".r.findAllMatchIn(src).toSeq
    starts.zip(starts.drop(1).map(_.start) :+ src.length).map { case (m, end) =>
      m.group(1) -> src.substring(m.start, end)
    }
  }

  private def count(s: String, needle: String): Int = needle.r.findAllMatchIn(s).size

  test("one optimistic retry loop and one lost-race error; cloneShallow's one-shot v1 publish is the exception") {
    assert(count(src, """while\s*\(\s*\w+\s*<=\s*MaxRetries\s*\)""") == 1,
      "every write verb must run the one commit loop")
    assert(count(src, "lost the publish race") == 2)
    assert(count(src, """lost the publish race \$MaxRetries times""") == 1)
    val clone = defs.collect { case ("cloneShallow", body) => body }
    assert(clone.size == 1 && clone.head.contains("lost the publish race on"),
      "the only other lost-race message is cloneShallow's")
  }

  test("a won delta checkpoints at one site") {
    val sites = defs.collect { case (n, body) if n != "maybeCheckpoint" &&
      body.contains("maybeCheckpoint(") => n }
    assert(sites == Seq("commitLoop"), s"maybeCheckpoint called from $sites")
  }

  test("append and appendStreamBatch share one body") {
    // a def that writes the caller's frame and commits it as a delta
    // is an append body; there is exactly one
    val bodies = defs.collect { case (n, body) if body.contains("writeData(df, table)") &&
      (body.contains("Delta(") || body.contains("\"delta\"")) => n }.distinct
    assert(bodies.size == 1, s"append bodies: $bodies")
    Seq("append", "appendStreamBatch").foreach { v =>
      val body = defs.collect { case (`v`, b) => b }
      assert(body.size == 1 && !body.head.contains("writeData("),
        s"$v must delegate to the shared append body")
    }
  }

  test("one compact entry point plus the compactSmallFiles policy") {
    val public = """(?m)^  def (compact\w*)\(""".r.findAllMatchIn(src).map(_.group(1)).toSeq
    assert(public.sorted == Seq("compact", "compactSmallFiles"), s"public compactions: $public")
    assert(!src.contains("def rewriteCommit"))
  }

  test("no write verb carries a test-only onRetry/beforeCommit hook") {
    assert(!src.contains("onRetry") && !src.contains("beforeCommit"))
  }
}
