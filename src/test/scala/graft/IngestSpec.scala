package graft

import java.nio.file.Files
import java.sql.Timestamp

import graft.corpus.{Corpus, Html, Ingest}
import graft.index.{Deletes, IndexBuilder, IndexConfig, Snapshot}
import graft.search.{BoolQuery, Searcher}

/** Crawl-ingestion front-end: latest-edition-per-url, html->text extraction
  * invariant enforcement, lang scoping, and upsert-based index refresh. */
class IngestSpec extends SparkSuite {
  import spark.implicits._

  private val cfg = IndexConfig(numSegments = 4, blockSize = 16)

  // crawl 0: 150 pages; crawl 1: re-captures of every 3rd url (newer
  // warc_ts, mutated text) plus 20 fresh urls
  private lazy val crawl0 = Corpus.pages(spark, 150, seed = 5,
    vocabSize = 400, medianLen = 30).collect().toSeq
  private lazy val crawl1 = {
    val recaptured = crawl0.zipWithIndex.collect { case (p, i) if i % 3 == 0 =>
      val newText = p.text + " zzedition two"
      p.copy(warc_ts = new Timestamp(p.warc_ts.getTime + 86400000L),
        html = Html.wrap(p.url, newText), text = newText)
    }
    val fresh = Corpus.pages(spark, 20, seed = 6, vocabSize = 400,
      medianLen = 30, startId = 5000).collect().toSeq
    recaptured ++ fresh
  }

  test("latestPerUrl keeps exactly the newest edition of each url") {
    val both = (crawl0 ++ crawl1).toDF()
    val latest = Ingest.latestPerUrl(both)
    assert(latest.count() === crawl0.size + 20)
    val texts = latest.select("url", "text").as[(String, String)]
      .collect().toMap
    crawl0.zipWithIndex.foreach { case (p, i) =>
      if (i % 3 == 0) assert(texts(p.url).endsWith("zzedition two"), p.url)
      else assert(texts(p.url) === p.text, p.url)
    }
  }

  test("extractValidate enforces the byte-identity invariant and routes violations") {
    val corrupted = crawl0.zipWithIndex.map { case (p, i) =>
      if (i % 10 == 0) p.copy(html = p.html.take(p.html.length / 2)) // truncated capture
      else if (i % 10 == 1) p.copy(text = "") // lost text column
      else p
    }
    val (valid, invalid) = Ingest.extractValidate(corrupted.toDF())
    assert(valid.count() === crawl0.size - 2 * (crawl0.size / 10))
    val reasons = invalid.groupBy("explanation").count()
      .as[(String, Long)].collect().toMap
    assert(reasons("extract_mismatch") === crawl0.size / 10)
    assert(reasons("empty_text") === crawl0.size / 10)
    // every valid row's text IS re-extractable from its html bytes
    val check = valid.select("url", "html", "text")
      .as[(String, Array[Byte], String)].collect()
    check.foreach { case (u, h, t) => assert(Html.extract(h) === t, u) }
  }

  test("refreshIndex == fresh build over the latest valid editions") {
    val dir = Files.createTempDirectory("graft-ingest").toString
    IndexBuilder.build(spark,
      crawl0.toDF().select("url", "text"), dir, cfg)
    Ingest.refreshIndex(spark, crawl1.toDF(), dir)
    Deletes.purge(spark, dir)

    val latestTexts = {
      val re = crawl1.map(p => p.url -> p.text).toMap
      crawl0.map(p => p.url -> re.getOrElse(p.url, p.text)) ++
        crawl1.filterNot(p => crawl0.exists(_.url == p.url))
          .map(p => p.url -> p.text)
    }
    val freshDir = Files.createTempDirectory("graft-ingest-fresh").toString
    IndexBuilder.build(spark, latestTexts.toDF("url", "text"), freshDir, cfg)
    Seq("the data", "zzedition", "merge sort").foreach { q =>
      def canon(hits: Array[graft.search.Hit]) =
        hits.map(h => (h.url, h.score)).sortBy { case (u, s) => (-s, u) }.toSeq
      val a = canon(Searcher.topK(spark, dir, q, latestTexts.size + 5))
      val b = canon(Searcher.topK(spark, freshDir, q, latestTexts.size + 5))
      assert(a === b, s"ingest vs fresh drift for: $q")
    }
    // editions: every recaptured url serves its crawl-1 text
    val hits = Searcher.search(spark, dir, BoolQuery(must = Seq("zzedition")), 200)
    assert(hits.map(_.url).toSet ===
      crawl0.zipWithIndex.collect { case (p, i) if i % 3 == 0 => p.url }.toSet)
  }

  test("a url whose NEWEST capture is corrupt keeps its indexed edition") {
    // crawl 1 re-captures url U with a corrupt (truncated-html) newest
    // edition AND carries an older valid edition: prepareBatch must drop U
    // (newest-wins is per url), so the index keeps serving crawl-0's text —
    // validating before latest-per-url would resurrect the older valid
    // edition and roll the index back in time
    val u = crawl0.head
    val olderValid = u.copy(
      warc_ts = new Timestamp(u.warc_ts.getTime - 86400000L))
    val newestCorrupt = {
      val t = u.text + " zznewest"
      u.copy(warc_ts = new Timestamp(u.warc_ts.getTime + 86400000L),
        html = Html.wrap(u.url, t).take(10), text = t) // truncated capture
    }
    val batch = Ingest.prepareBatch(
      Seq(olderValid, newestCorrupt).toDF())
    assert(batch.count() === 0L, "corrupt-newest url must drop from the batch")

    val dir = Files.createTempDirectory("graft-ingest-corrupt").toString
    IndexBuilder.build(spark,
      crawl0.toDF().select("url", "text"), dir, cfg)
    val before = Snapshot.latest(dir).get
    val after = Ingest.refreshIndex(spark,
      Seq(olderValid, newestCorrupt).toDF(), dir)
    assert(after.id === before.id, "empty batch must not commit")
    // the indexed edition still serves crawl-0 content
    val hits = Searcher.search(spark, dir, BoolQuery(ids = Some(Seq(u.url))), 5)
    assert(hits.length === 1)
  }

  test("refreshIndex runs no job of its own; an empty batch commits nothing") {
    // an empty batch returns LATEST, even when the index is incomplete
    val partialDir = Files.createTempDirectory("graft-ingest-partial").toString
    IndexBuilder.build(spark, crawl0.toDF().select("url", "text"), partialDir,
      cfg, simulateOnlySegments = Some(Set(0, 1)))
    val partial = Snapshot.latest(partialDir).get
    assert(!partial.isComplete)
    val same = Ingest.refreshIndex(spark, crawl1.toDF(), partialDir, langs = Set("xx"))
    assert(same.id === partial.id)
    assert(Snapshot.latest(partialDir).get.id === partial.id)
    // a non-empty batch runs the jobs of preparing and upserting it, no more
    def base(): String = {
      val d = Files.createTempDirectory("graft-ingest-jobs").toString
      IndexBuilder.build(spark, crawl0.toDF().select("url", "text"), d, cfg)
      d
    }
    val (d1, d2) = (base(), base())
    val (viaRefresh, refreshJobs) =
      JobLog.of(spark)(Ingest.refreshIndex(spark, crawl1.toDF(), d1))
    val (direct, directJobs) = JobLog.of(spark) {
      val batch = Ingest.prepareScoped(crawl1.toDF(), Set.empty)
      try IndexBuilder.upsert(spark, batch, d2) finally batch.unpersist()
    }
    assert(viaRefresh.id === direct.id && viaRefresh.deletedDocs === direct.deletedDocs)
    assert(refreshJobs.count === directJobs.count,
      s"refreshIndex:\n$refreshJobs\n--\nprepare + upsert:\n$directJobs")
  }

  test("lang scoping: refreshIndex indexes only the requested languages") {
    val dir = Files.createTempDirectory("graft-ingest-lang").toString
    val en = crawl0.filter(_.lang == "en")
    assert(en.nonEmpty && en.size < crawl0.size)
    // seed index from an empty-safe build of the en slice of crawl0
    IndexBuilder.build(spark, en.toDF().select("url", "text"), dir, cfg)
    Ingest.refreshIndex(spark, crawl1.toDF(), dir, langs = Set("en"))
    val snap = Snapshot.latest(dir).get
    val en1 = crawl1.filter(_.lang == "en")
    val expectedDocs = en.size + en1.size // upserts tombstone, not shrink N
    assert(snap.numDocs === expectedDocs)
    val nonEn = crawl1.find(_.lang != "en")
    nonEn.foreach { p =>
      assert(Searcher.search(spark, dir, BoolQuery(ids = Some(Seq(p.url))), 5)
        .isEmpty, "non-en url must not be indexed")
    }
  }
}
