package graft

import java.nio.file.Files

import graft.tools.{BenchHarness, Smoke}

/** Runs the `segment` scenario of `graft.tools.Smoke` at spec size: 20480
  * docs in one segment with 2^10-slot marker chunks (20 chunks, 19 seams).
  * Every closed-form check the scenario makes at 5x10^7 docs runs here too:
  * counts, seam scans, BM25 scores, search_after and marker layout, then
  * delete by query, purge and the live statistics. */
class SmokeSpec extends SparkSuite {

  test("segment smoke: closed-form checks hold across 19 chunk seams, before and after purge") {
    val base = Files.createTempDirectory("graft-smoke").toString
    try {
      val line = Smoke.segment(spark, base, 20480, 1 << 10)
      assert(line.contains("\"url_chunks\":20,"))
      // 19 multiples of 1024 plus 20 chunk-final ranks
      assert(line.contains("\"scan_edge_rows\":39,"))
      assert(line.contains("\"deleted\":21,"))
      assert(line.endsWith("\"all_closed_form_checks\":\"pass\"}"))
    } finally BenchHarness.deleteDir(base)
  }
}
