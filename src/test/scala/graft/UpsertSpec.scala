package graft

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.util.QueryExecutionListener

import graft.analysis.Analyzer
import graft.corpus.{Corpus, Html, Ingest}
import graft.index.{Deletes, Hashing, IndexBuilder, IndexConfig, Snapshot}
import graft.search.{BoolQuery, IndexHandle, Searcher}

/** Recrawl lifecycle: `IndexBuilder.upsert` (tombstone old version + append
  * new generation, latest wins) and snapshot time travel (a handle pinned
  * to a pre-upsert snapshot id still answers from the old state). */
class UpsertSpec extends SparkSuite {
  import spark.implicits._

  private val cfg = IndexConfig(numSegments = 4, blockSize = 16)
  private lazy val pages = Corpus.pages(spark, 200, seed = 11,
    vocabSize = 400, medianLen = 40).cache()
  private lazy val docs: Seq[(String, String)] =
    pages.select("url", "text").as[(String, String)].collect().toSeq

  private def freshIndex(): String = {
    val dir = Files.createTempDirectory("graft-ups").toString
    IndexBuilder.build(spark, pages.toDF(), dir, cfg)
    dir
  }

  // every 5th doc gets recrawled with fresh text carrying a marker token
  private def recrawl: Seq[(String, String)] = docs.zipWithIndex
    .collect { case ((url, text), i) if i % 5 == 0 =>
      (url, text + " zzrecrawled fresh tokens") }

  /** PushedFilters of every posting scan that `body` executes, taken from
    * the executed plans. */
  private def pushedScans[T](body: => T): (T, Seq[String]) = {
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val walk = new AdaptiveSparkPlanHelper {}
    val listener = new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        walk.foreach(qe.executedPlan) {
          case s: FileSourceScanExec => s.metadata.get("PushedFilters").foreach(seen.add)
          case _ =>
        }
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      val r = body
      org.apache.spark.ListenerDrain(spark.sparkContext)
      (r, seen.asScala.toSeq)
    } finally spark.listenerManager.unregister(listener)
  }

  private val urlTerm = s"EqualTo(term,${IndexBuilder.TermUrls})"

  /** The segIds a scan's pushed `In`/`EqualTo` filter on segId admits. */
  private def pushedSegs(filters: String): Set[Int] =
    ("""In\(segId, \[([0-9, ]+)\]\)""".r.findFirstMatchIn(filters)
      .map(_.group(1).split(",").map(_.trim.toInt).toSet) orElse
      """EqualTo\(segId,(\d+)\)""".r.findFirstMatchIn(filters)
        .map(m => Set(m.group(1).toInt)))
      .getOrElse(fail(s"no segId filter pushed: $filters"))

  test("upsert candidate segments stay batch-bounded as the index grows") {
    // the regression guard for streaming-upsert flatness: the url resolver
    // scans exactly |distinct s0(batch urls)| x generations segments —
    // O(batch x generations), NEVER O(index). Timing lives in the
    // perfbench `update` workload (refresh cost on 2000-, 8000- and
    // 16000-page bases, perfbench/README.md); this pins the count formula.
    val dir = freshIndex()
    val P = cfg.numSegments
    val batchUrls = docs.take(7).map(_._1)
    val s0 = batchUrls.map(u => Hashing.segmentOf(u, P)).distinct
    Seq(1, 2, 4).foreach { gens =>
      while (Snapshot.latest(dir).get.generations < gens) {
        val g = Snapshot.latest(dir).get.generations
        val extra = Corpus.pages(spark, 60, seed = 11, vocabSize = 400,
          medianLen = 40, startId = 1000L * g).select("url", "text").toDF()
        IndexBuilder.append(spark, extra, dir)
      }
      assert(Snapshot.latest(dir).get.generations === gens)
      val batch = batchUrls.map(u => (u, s"probe text $gens")).toDF("url", "text")
      val (after, scans) = pushedScans(IndexBuilder.upsert(spark, batch, dir))
      val urlScans = scans.filter(_.contains(urlTerm))
      assert(urlScans.size === 1, s"url-table scans: $scans")
      assert(pushedSegs(urlScans.head) ===
        s0.flatMap(x => (0 until gens).map(_ * P + x)).toSet)
      // end state: each batch url has one live doc, in the new generation
      assert(after.generations === gens + 1)
      val hits = Searcher.search(spark, dir, BoolQuery(ids = Some(batchUrls)), 20)
      assert(hits.map(_.url).sorted.toSeq === batchUrls.sorted)
      assert(hits.forall(h => (h.docId >> IndexBuilder.SegShift) >= gens * P))
    }
  }

  test("upsert: latest version wins for search and ids; stats keep old versions") {
    val dir = freshIndex()
    val snap = IndexBuilder.upsert(spark, recrawl.toDF("url", "text"), dir)
    assert(snap.generations === 2)
    assert(snap.deletedDocs === recrawl.size)
    // N/avgdl count old + new versions until purge (ES/Lucene semantics)
    assert(snap.numDocs === docs.size + recrawl.size)

    // the marker term matches exactly the recrawled urls — via their NEW docIds
    val hits = Searcher.search(spark, dir,
      BoolQuery(must = Seq("zzrecrawled")), docs.size)
    assert(hits.map(_.url).toSet === recrawl.map(_._1).toSet)
    assert(hits.forall(h => (h.docId >> IndexBuilder.SegShift) >= cfg.numSegments),
      "matches must come from the appended generation")

    // an ids lookup of a recrawled url resolves to exactly its live version
    val h = new IndexHandle(spark, dir, warm = false)
    val u = recrawl.head._1
    val idHits = h.search(BoolQuery(ids = Some(Seq(u))), 10)
    assert(idHits.map(_.url).toSeq === Seq(u))
    assert((idHits.head.docId >> IndexBuilder.SegShift) >= cfg.numSegments)
  }

  test("upsert marker scan is batch-bounded: candidate segments only") {
    val dir = freshIndex()
    val P = cfg.numSegments
    IndexBuilder.upsert(spark, recrawl.toDF("url", "text"), dir)
    val snap = Snapshot.latest(dir).get
    assert(snap.generations === 2)
    // a single url: the resolver scans {g*P + segmentOf(url, P)} exactly,
    // with the marker-term equality and the segId prune both pushed into
    // the parquet scan (it reads O(batch) segments, not the whole index)
    val u = recrawl.head._1
    val s0 = Hashing.segmentOf(u, P)
    val (found, scans) = pushedScans(IndexBuilder.resolveUrls(
      IndexBuilder.snapshotPostings(spark, dir, snap), snap, Seq(u),
      0 until snap.generations))
    assert(scans.size === 1, s"scans: $scans")
    assert(scans.head.contains(urlTerm), s"term pushdown missing: ${scans.head}")
    assert(pushedSegs(scans.head) === Set(s0, P + s0))
    // both versions resolve, the tombstoned generation-0 one included
    assert(found.keySet === Set(u))
    assert(found(u).map(_._1).sorted.toSeq === Seq(s0, P + s0))
    // end-to-end: the pruned upsert behaves identically (third version wins)
    val after = IndexBuilder.upsert(spark, Seq((u, "one fresh doc")).toDF("url", "text"), dir)
    assert(after.generations === 3)
    val hits = Searcher.search(spark, dir, BoolQuery(ids = Some(Seq(u))), 10)
    assert(hits.map(_.url).toSeq === Seq(u))
    assert((hits.head.docId >> IndexBuilder.SegShift) >= 2 * P)
  }

  test("upsert of never-seen urls == plain append (no tombstone commit)") {
    val dir = freshIndex()
    val before = Snapshot.latest(dir).get
    val newDocs = Corpus.pages(spark, 30, seed = 77, vocabSize = 400,
      medianLen = 40, startId = 1000)
    val snap = IndexBuilder.upsert(spark, newDocs.select("url", "text"), dir)
    assert(snap.deletedDocs === 0L)
    assert(snap.id === before.id + 1, "exactly one commit: the append")
    assert(snap.numDocs === docs.size + 30)
  }

  test("upsert + purge == fresh build over the final corpus") {
    val dir = freshIndex()
    IndexBuilder.upsert(spark, recrawl.toDF("url", "text"), dir)
    val purged = Deletes.purge(spark, dir)
    assert(purged.deletedDocs === 0L)
    assert(purged.numDocs === docs.size)

    val replaced = recrawl.map(_._1).toSet
    val finalCorpus = docs.filterNot(d => replaced.contains(d._1)) ++ recrawl
    val freshDir = Files.createTempDirectory("graft-ups-fresh").toString
    IndexBuilder.build(spark, finalCorpus.toDF("url", "text"), freshDir, cfg)
    Seq("the data", "zzrecrawled", "merge sort join", "fresh tokens").foreach { q =>
      val a = Searcher.topK(spark, dir, q, 10).map(h => (h.url, h.score)).toSeq
      val b = Searcher.topK(spark, freshDir, q, 10).map(h => (h.url, h.score)).toSeq
      assert(a === b, s"purged-upsert vs fresh drift for: $q")
    }
  }

  test("second upsert of the same url replaces again (three versions, one live)") {
    val dir = freshIndex()
    val u = docs.head._1
    IndexBuilder.upsert(spark, Seq((u, "version two alpha")).toDF("url", "text"), dir)
    val snap = IndexBuilder.upsert(spark,
      Seq((u, "version three omega")).toDF("url", "text"), dir)
    assert(snap.generations === 3)
    assert(snap.deletedDocs === 2L) // v1 and v2 both dead
    assert(Searcher.search(spark, dir, BoolQuery(must = Seq("alpha")), 5).isEmpty)
    val hits = Searcher.search(spark, dir, BoolQuery(must = Seq("omega")), 5)
    assert(hits.map(_.url).toSeq === Seq(u))
    val idHits = Searcher.search(spark, dir, BoolQuery(ids = Some(Seq(u))), 5)
    assert(idHits.size === 1 && idHits.head.url === u)
  }

  test("every snapshot an upsert commits serves each batch url once") {
    // a reader opening LATEST between a tombstone commit and an append
    // commit would find no live version of a recrawled url
    val dir = freshIndex()
    val before = Snapshot.latest(dir).get.id
    val fresh = (0 until 5).map(i => (s"https://fresh.example/$i", "fresh page"))
    val batch = recrawl ++ fresh
    val urls = batch.map(_._1)
    IndexBuilder.upsert(spark, batch.toDF("url", "text"), dir)
    val committed = Snapshot.list(dir).filter(_.id > before)
    assert(committed.nonEmpty)
    committed.foreach { s =>
      val h = new IndexHandle(spark, dir, warm = false, snapshotId = Some(s.id))
      val hits = h.search(BoolQuery(ids = Some(urls)), 2 * urls.size)
      assert(hits.map(_.url).sorted.toSeq === urls.sorted, s"snapshot ${s.id}")
    }
  }

  test("time travel: a pinned snapshot answers from the pre-upsert state") {
    val dir = freshIndex()
    val v1 = Snapshot.latest(dir).get
    IndexBuilder.upsert(spark, recrawl.toDF("url", "text"), dir)

    val pinned = new IndexHandle(spark, dir, warm = false, snapshotId = Some(v1.id))
    try {
      assert(pinned.snap.id === v1.id)
      assert(pinned.snap.numDocs === docs.size)
      // the recrawl never happened in this snapshot
      assert(pinned.search(BoolQuery(must = Seq("zzrecrawled")), 10).isEmpty)
      // and the old version of a recrawled doc is still its live one
      val u = recrawl.head._1
      assert(pinned.search(BoolQuery(ids = Some(Seq(u))), 5)
        .map(_.url).toSeq === Seq(u))
    } finally pinned.close()

    // history chain is enumerable and parent-linked
    val snaps = Snapshot.list(dir)
    assert(snaps.map(_.id) === snaps.map(_.id).sorted)
    assert(snaps.size === 2) // build, upsert
    snaps.sliding(2).foreach { case Seq(a, b) => assert(b.parent === a.id) }

    // the same url resolves to DIFFERENT docIds in the two snapshots: the
    // pinned reader serves the generation-0 version, LATEST the appended one
    val latest = new IndexHandle(spark, dir, warm = false)
    try {
      val u = recrawl.head._1
      val pinnedAgain = new IndexHandle(spark, dir, warm = false,
        snapshotId = Some(v1.id))
      try {
        val oldId = pinnedAgain.search(BoolQuery(ids = Some(Seq(u))), 5).head.docId
        val newId = latest.search(BoolQuery(ids = Some(Seq(u))), 5).head.docId
        assert((oldId >> IndexBuilder.SegShift) < cfg.numSegments,
          "pinned snapshot must serve the generation-0 version")
        assert((newId >> IndexBuilder.SegShift) >= cfg.numSegments,
          "LATEST must serve the appended-generation version")
        assert(oldId !== newId)
      } finally pinnedAgain.close()
      val marker = Searcher.search(spark, dir, BoolQuery(must = Seq("zzrecrawled")), 5)
      assert(marker.nonEmpty)
    } finally latest.close()
  }

  test("refresh job budget: upsert and warm open, no schema inference") {
    // deterministic counters behind the refresh wall-clock: every index
    // read carries its known schema (no footer-inference job), every
    // commit count is observed during its write (no read-back job), and
    // the old versions are tombstoned by url in one execution
    val dir = freshIndex()
    // the batch has the benchmark's shape: read from files and persisted
    // by Ingest.prepareScoped, then counted, so collecting its urls runs
    // a job (a local relation's collect would run none)
    val crawl = pages.collect().toSeq.zipWithIndex.collect { case (p, i) if i % 5 == 0 =>
      val text = p.text + " zzrecrawled fresh tokens"
      p.copy(warc_ts = new java.sql.Timestamp(p.warc_ts.getTime + 86400000L),
        html = Html.wrap(p.url, text), text = text)
    }
    val src = Files.createTempDirectory("graft-ups-crawl").toString + "/crawl"
    crawl.toDS().write.parquet(src)
    val batch = Ingest.prepareScoped(spark.read.parquet(src), Set.empty)
    val (_, up) =
      try {
        assert(batch.count() === crawl.size)
        JobLog.of(spark)(IndexBuilder.upsert(spark, batch, dir))
      } finally batch.unpersist()
    assert(Snapshot.latest(dir).get.deletedDocs === crawl.size)
    val (h, open) = JobLog.of(spark)(new IndexHandle(spark, dir, warm = true))
    h.close()
    info(s"upsert ${up.count} jobs, warm open ${open.count} jobs")
    assert(up.schemaInference.isEmpty && open.schemaInference.isEmpty,
      s"schema-inference jobs:\n$up\n--\n$open")
    assert(up.count <= 7, s"upsert jobs:\n$up")
    assert(open.count <= 4, s"warm open jobs:\n$open")
  }
}
