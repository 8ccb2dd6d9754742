package graft

import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

/** Every tool a reader is told to run must exist: README.md, BASELINE.md
  * and the verify skill name tools as `graft.tools.<Name>` or
  * `tools/<Name>`, and each name must be a source file under
  * src/main/scala/graft/tools/. Round records (VERDICT, OPTIMIZATION_r06,
  * CHANGES, BENCH_r*) describe code as it was and are not scanned. */
class DocToolsSpec extends AnyFunSuite {

  private val docs = Seq("README.md", "BASELINE.md", ".claude/skills/verify/SKILL.md")
  private val toolRef = """(?:graft\.tools\.|tools/)([A-Z]\w*)""".r
  private val toolsDir = Paths.get("src/main/scala/graft/tools")

  test("documents name only tools whose source exists") {
    assert(Files.isDirectory(toolsDir), s"run from the repository root: $toolsDir")
    val named = for {
      doc <- docs
      m <- toolRef.findAllMatchIn(Files.readString(Paths.get(doc)))
    } yield (doc, m.group(1))
    assert(named.exists(_._2 == "Smoke"), "no document names graft.tools.Smoke")
    val missing = named.filterNot { case (_, name) =>
      Files.exists(toolsDir.resolve(s"$name.scala")) }
    assert(missing.isEmpty, s"documents name tools that do not exist: ${missing.distinct}")
  }
}
