package graft

import java.nio.file.Files

import graft.corpus.Corpus
import graft.index.{Deletes, Hashing, IndexBuilder, IndexConfig, Snapshot}
import graft.search.Searcher
import graft.streaming.IndexStream

/** Streaming index maintenance: one appended generation per micro-batch,
  * query results equal to a batch build over the same documents, and
  * replayed batches are no-ops (exactly-once from the snapshot log). */
class IndexStreamSpec extends SparkSuite {
  import spark.implicits._

  private val cfg = IndexConfig(numSegments = 4, blockSize = 16)

  // three file chunks -> three micro-batches (maxFilesPerTrigger=1)
  private def stage(): (String, Seq[(String, String)]) = {
    val src = Files.createTempDirectory("graft-istream-src").toString
    val all = Corpus.pages(spark, 300, seed = 7, vocabSize = 300, medianLen = 30)
      .select("url", "text").as[(String, String)].collect().toSeq
    all.grouped(100).zipWithIndex.foreach { case (chunk, i) =>
      chunk.toDF("url", "text").coalesce(1)
        .write.parquet(s"$src/chunk-$i")
    }
    // the file source reads leaf files; flatten chunk dirs into src
    val flat = Files.createTempDirectory("graft-istream-flat").toString
    (0 until 3).foreach { i =>
      val part = java.nio.file.Paths.get(s"$src/chunk-$i")
      val f = Files.list(part).filter(_.toString.endsWith(".parquet")).findFirst().get()
      Files.copy(f, java.nio.file.Paths.get(flat, f"part-$i%03d.parquet"))
    }
    (flat, all)
  }

  test("streamed appends answer like a batch build over the same docs") {
    val (src, all) = stage()
    val idxDir = Files.createTempDirectory("graft-istream-idx").toString
    val ckpt = Files.createTempDirectory("graft-istream-ckpt").toString
    val q = IndexStream.appendStream(spark, src, idxDir, cfg, ckpt,
      maxFilesPerTrigger = Some(1))
    try q.processAllAvailable() finally q.stop()

    val snap = Snapshot.latest(idxDir).get
    assert(snap.isComplete)
    assert(snap.generations === 3)
    assert(snap.numDocs === 300)

    val batchDir = Files.createTempDirectory("graft-istream-batch").toString
    IndexBuilder.build(spark, all.toDF("url", "text"), batchDir, cfg)
    Seq("the data", "merge sort", "w10x", "crawl web page").foreach { query =>
      val streamed = Searcher.topK(spark, idxDir, query, 10)
      val batch = Searcher.topK(spark, batchDir, query, 10)
      // docIds differ (generation segIds); (url, score) must agree — scores
      // depend only on tf/df/dl/N which generations preserve exactly
      assert(streamed.map(h => (h.url, h.score)).toSet ===
        batch.map(h => (h.url, h.score)).toSet, s"query: $query")
    }
  }

  test("replayed micro-batch is a committed no-op; partial appends resume") {
    val (_, all) = stage()
    val idxDir = Files.createTempDirectory("graft-istream-replay").toString
    val chunks = all.grouped(100).toSeq
    IndexStream.applyBatch(spark, idxDir, cfg)(chunks(0).toDF("url", "text"), 0L)
    IndexStream.applyBatch(spark, idxDir, cfg)(chunks(1).toDF("url", "text"), 1L)
    val before = Snapshot.latest(idxDir).get
    assert(before.generations === 2)
    // replay of the last batch (post-commit crash) must not duplicate docs
    IndexStream.applyBatch(spark, idxDir, cfg)(chunks(1).toDF("url", "text"), 1L)
    val after = Snapshot.latest(idxDir).get
    assert(after.id === before.id)
    assert(after.numDocs === 200)
    // crash mid-append: only some segments of generation 2 commit...
    IndexBuilder.append(spark, chunks(2).toDF("url", "text"), idxDir,
      simulateOnlySegments = Some(Set(8, 9)))
    assert(!Snapshot.latest(idxDir).get.isComplete)
    // ...the replayed batch resumes and completes that generation
    IndexStream.applyBatch(spark, idxDir, cfg)(chunks(2).toDF("url", "text"), 2L)
    val done = Snapshot.latest(idxDir).get
    assert(done.isComplete)
    assert(done.generations === 3)
    assert(done.numDocs === 300)
  }

  test("replay across a merge: the merged batch stays a no-op, a new one appends") {
    val (_, all) = stage()
    val idxDir = Files.createTempDirectory("graft-istream-merge").toString
    val chunks = all.grouped(100).toSeq
    IndexStream.applyBatch(spark, idxDir, cfg)(chunks(0).toDF("url", "text"), 0L)
    IndexStream.applyBatch(spark, idxDir, cfg)(chunks(1).toDF("url", "text"), 1L)
    // the batch's first url is deleted, and the merge drops it from the
    // url tables while folding both batches into generation 0
    Deletes.delete(spark, idxDir, Seq(chunks(1).head._1))
    val merged = IndexBuilder.compact(spark, idxDir)
    assert(merged.generations === 1 && merged.numDocs === 199)
    // replay of the batch applied just before the merge: still a no-op
    IndexStream.applyBatch(spark, idxDir, cfg)(chunks(1).toDF("url", "text"), 1L)
    assert(Snapshot.latest(idxDir).get.id === merged.id)
    // the next batch is not mistaken for a replay
    IndexStream.applyBatch(spark, idxDir, cfg)(chunks(2).toDF("url", "text"), 2L)
    val next = Snapshot.latest(idxDir).get
    assert(next.generations === 2 && next.numDocs === 299)
    // and replaying it is a no-op again
    IndexStream.applyBatch(spark, idxDir, cfg)(chunks(2).toDF("url", "text"), 2L)
    assert(Snapshot.latest(idxDir).get.id === next.id)
  }

  test("foreign batch cannot complete a crashed generation; rollback remediates") {
    val (_, all) = stage()
    val idxDir = Files.createTempDirectory("graft-istream-foreign").toString
    val chunks = all.grouped(100).toSeq
    IndexStream.applyBatch(spark, idxDir, cfg)(chunks(0).toDF("url", "text"), 0L)
    val complete = Snapshot.latest(idxDir).get
    // crash mid-append of chunk 1 (generation 1, segs 4..7; only 4,5 commit)
    IndexBuilder.append(spark, chunks(1).toDF("url", "text"), idxDir,
      simulateOnlySegments = Some(Set(4, 5)))
    assert(!Snapshot.latest(idxDir).get.isComplete)
    // a cleared-checkpoint restart feeds DIFFERENT content as its batch 0:
    // completing the crashed generation with it would mix generations —
    // the dispatch must refuse with the rollback remediation instead
    val e = intercept[IllegalStateException](
      IndexStream.applyBatch(spark, idxDir, cfg)(chunks(2).toDF("url", "text"), 0L))
    assert(e.getMessage.contains("rollback"))
    // remediation: roll back to the last complete snapshot (Iceberg-style
    // copy commit), vacuum the orphaned partial generation, re-apply
    IndexBuilder.rollback(idxDir, complete.id)
    val rolled = Snapshot.latest(idxDir).get
    assert(rolled.isComplete)
    assert(rolled.generations === 1)
    assert(rolled.numDocs === 100)
    IndexBuilder.vacuum(idxDir)
    IndexStream.applyBatch(spark, idxDir, cfg)(chunks(2).toDF("url", "text"), 1L)
    val done = Snapshot.latest(idxDir).get
    assert(done.isComplete && done.numDocs === 200)
    // the SAME-batch resume path still passes the content evidence
    IndexBuilder.append(spark, chunks(1).toDF("url", "text"), idxDir,
      simulateOnlySegments = Some(Set(8, 9)))
    assert(!Snapshot.latest(idxDir).get.isComplete)
    IndexStream.applyBatch(spark, idxDir, cfg)(chunks(1).toDF("url", "text"), 2L)
    assert(Snapshot.latest(idxDir).get.isComplete)
    assert(Snapshot.latest(idxDir).get.numDocs === 300)
  }

  test("resume refuses a near-miss batch; the verbatim batch resumes to the one-shot result") {
    val (_, all) = stage()
    val idxDir = Files.createTempDirectory("graft-istream-near").toString
    val chunks = all.grouped(100).toSeq
    val P = cfg.numSegments
    IndexStream.applyBatch(spark, idxDir, cfg)(chunks(0).toDF("url", "text"), 0L)
    // crash mid-append of chunk 1 (generation 1, segs 4..7; only 4,5 commit)
    val committed = Set(4, 5)
    IndexBuilder.append(spark, chunks(1).toDF("url", "text"), idxDir,
      simulateOnlySegments = Some(committed))
    val partial = Snapshot.latest(idxDir).get
    def routesToCommitted(u: String) =
      committed.contains(P + Hashing.segmentOf(u, P))
    val dropped = chunks(1).find(d => routesToCommitted(d._1)).get
    val foreign = chunks(2).find(d => routesToCommitted(d._1)).get
    // one url short of a committed segment (the url count refuses it), one
    // foreign url in it, or one swapped for a foreign one (the resolver
    // check refuses it with the count intact)
    val short = chunks(1).filterNot(_ == dropped)
    Seq(short, chunks(1) :+ foreign, short :+ foreign).foreach { b =>
      val e = intercept[IllegalStateException](
        IndexStream.applyBatch(spark, idxDir, cfg)(b.toDF("url", "text"), 1L))
      assert(e.getMessage.contains("rollback"))
      assert(Snapshot.latest(idxDir).get.id === partial.id)
    }
    IndexStream.applyBatch(spark, idxDir, cfg)(chunks(1).toDF("url", "text"), 1L)
    val oneShot = Files.createTempDirectory("graft-istream-near1").toString
    IndexBuilder.build(spark, chunks(0).toDF("url", "text"), oneShot, cfg)
    IndexBuilder.append(spark, chunks(1).toDF("url", "text"), oneShot)
    def segs(dir: String) = Snapshot.latest(dir).get.segments
      .map(m => (m.segId, m.docs, m.terms, m.postings, m.sumDocLen))
    assert(Snapshot.latest(idxDir).get.isComplete)
    assert(segs(idxDir) === segs(oneShot))
    Seq("the data", "merge sort", "crawl web page").foreach { q =>
      assert(Searcher.topK(spark, idxDir, q, 10).map(h => (h.docId, h.url, h.score)).toSeq ===
        Searcher.topK(spark, oneShot, q, 10).map(h => (h.docId, h.url, h.score)).toSeq,
        s"query: $q")
    }
  }

  test("inTopGeneration detects committed urls only") {
    val (_, all) = stage()
    val idxDir = Files.createTempDirectory("graft-istream-top").toString
    def url(u: String) = Seq(u).toDF("url")
    assert(!IndexStream.inTopGeneration(spark, idxDir, url(all.head._1)))
    IndexStream.applyBatch(spark, idxDir, cfg)(
      all.take(100).toDF("url", "text"), 0L)
    assert(IndexStream.inTopGeneration(spark, idxDir, url(all.head._1)))
    assert(!IndexStream.inTopGeneration(spark, idxDir, url(all(150)._1)))
  }
}
