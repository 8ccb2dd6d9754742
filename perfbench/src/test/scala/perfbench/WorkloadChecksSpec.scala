package perfbench

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.corpus.{Corpus, Ingest}
import graft.index.{Deletes, IndexBuilder, IndexConfig}
import graft.search.{IndexHandle, OracleSearch}

/** Each workload's output check on a tiny input: it passes on the
  * program's answer and rejects a deliberately wrong one. */
class WorkloadChecksSpec extends AnyFunSuite {
  lazy val spark: SparkSession = graft.tools.BenchHarness.session(
    "perfbench-test", 2, Files.createTempDirectory("perfbench-local").toString)

  private def run(): Run = {
    val work = Files.createTempDirectory("perfbench-work").toString
    new Run(spark, Args("serve", 5, 1, trace = false, work, s"$work/out.json",
      s"$work/spans.json", "", ""), 2, Tracer.off(spark))
  }

  test("serve/build: served, distributed, second page and oracle agree") {
    val r = run()
    import spark.implicits._
    val docs = (0L until 300L).map { i =>
      val p = Corpus.genPage(i, 5, Gen.VocabSize, 30); (p.url, p.text)
    }
    val dir = r.dir("idx")
    val cfg = IndexConfig(numSegments = 4, blockSize = 16)
    IndexBuilder.build(spark, docs.toDF("url", "text"), dir, cfg)
    val h = new IndexHandle(spark, dir)
    try {
      val mix = Gen.queryMix(5, 12)
      Common.checkHandle(r, "tiny", h, docs, cfg.numSegments, mix)
      assert(r.problems.isEmpty, r.problems)
      // the same check against a wrong expected answer must fail
      val q = mix.find(_.kind == "text").get.query
      val want = OracleSearch.boolTopK(docs, q, 10, cfg.numSegments)
      assert(want.nonEmpty)
      val wrong = want.updated(0, want(0).copy(score = want(0).score * 1.01))
      assert(Checks.sameHits("wrong", h.servedSearch(q, 10), wrong).isDefined)
    } finally { h.close(); Run.delete(r.args.work) }
  }

  test("update: live count and post-purge ranking follow the ledger") {
    val r = run()
    import spark.implicits._
    val cfg = IndexConfig(numSegments = 2, blockSize = 16)
    val ledger = new Gen.Ledger(5, 200, 30)
    ledger.addBase((0L until 200L).iterator.map { i =>
      val p = Corpus.genPage(i, 5, Gen.VocabSize, 30); (i, p.url, p.text)
    })
    val dir = r.dir("idx")
    IndexBuilder.build(spark, ledger.liveDocs.toDF("url", "text"), dir, cfg)
    val b = ledger.next(20, 10, 5)
    val prepared = Ingest.prepareBatch(b.raw.toDS().toDF())
    assert(prepared.count() == b.expectedPrepared)
    IndexBuilder.upsert(spark, prepared, dir)
    Deletes.delete(spark, dir, b.deletes)
    Deletes.purge(spark, dir)
    val h = new IndexHandle(spark, dir)
    try {
      assert(Checks.liveCount("tiny", h.snap.numDocs - h.snap.deletedDocs,
        ledger.live.size).isEmpty)
      assert(Checks.liveCount("tiny", h.snap.numDocs - h.snap.deletedDocs,
        ledger.live.size + 1).isDefined)
      Gen.queryMix(6, 8).foreach { q =>
        val all = OracleSearch.boolTopK(ledger.liveDocs, q.query, Int.MaxValue,
          cfg.numSegments)
        val got = h.search(q.query, 10)
        assert(Checks.topKByUrl("tiny", got, all, 10).isEmpty)
        assert(Checks.noneDeleted("tiny", got, b.deletes.toSet).isEmpty)
      }
      // an oracle that still holds a deleted page ranks differently
      val q = Gen.queryMix(6, 8).head.query
      val stale = ledger.liveDocs ++ b.deletes.map(u => (u, "data " * 50))
      val wrong = OracleSearch.boolTopK(stale, q, Int.MaxValue, cfg.numSegments)
      assert(Checks.topKByUrl("wrong", h.search(q, 10), wrong, 10).isDefined)
    } finally { h.close(); Run.delete(r.args.work) }
  }
}
