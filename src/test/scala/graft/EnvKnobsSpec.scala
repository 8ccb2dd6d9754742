package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Every environment variable src/main reads is on the pinned list below,
  * and every pinned name is still read: a change that adds a knob (or
  * drops one) must edit this list in the same change. Reads are found as
  * `sys.env…("NAME")` and `System.getenv("NAME")`; a read whose name is
  * not a string literal fails the check, since it cannot be pinned. */
class EnvKnobsSpec extends AnyFunSuite {

  private val pinned = Set(
    "GRAFT_BENCH_DOCS", "GRAFT_BENCH_REPS", "GRAFT_BENCH_TMP",
    "GRAFT_EXTRA_ONLY", "GRAFT_EXTRA_PLANS", "GRAFT_EXTRA_REPS",
    "GRAFT_EXTRA_SUFFIX", "GRAFT_SMOKE_TMP",
    "SPARK_GRAFT_CPUS", "SPARK_GRAFT_SF_DIR", "SPARK_MASTER")

  private val mainDir = Paths.get("src/main")
  private val anyRead = """sys\.env\b|System\.getenv\b""".r
  private val namedRead = """(?:sys\.env(?:\.\w+)?|System\.getenv)\(\s*"([^"]+)"""".r

  test("src/main reads exactly the pinned environment variables") {
    assert(Files.isDirectory(mainDir), s"run from the repository root: $mainDir")
    val sources: Seq[Path] = Files.walk(mainDir).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    val texts = sources.map(p => p -> Files.readString(p))
    val unnamed = texts.filter { case (_, t) =>
      anyRead.findAllMatchIn(t).size != namedRead.findAllMatchIn(t).size
    }.map(_._1)
    assert(unnamed.isEmpty, s"environment reads without a literal name in: $unnamed")
    val read = texts.flatMap { case (_, t) =>
      namedRead.findAllMatchIn(t).map(_.group(1)) }.toSet
    assert(read.contains("SPARK_GRAFT_CPUS"), "the scan found no known read")
    assert((read -- pinned).isEmpty,
      s"new environment variables; add them to the pinned list: ${read -- pinned}")
    assert((pinned -- read).isEmpty,
      s"pinned variables no longer read; drop them from the list: ${pinned -- read}")
  }
}
