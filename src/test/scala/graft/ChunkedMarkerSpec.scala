package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions.col

import graft.corpus.Corpus
import graft.index.{Deletes, IndexBuilder, IndexConfig, PostingRow, Snapshot}
import graft.search.{BoolQuery, IndexHandle, OracleSearch, Searcher}

/** Format v2: per-segment url/doc-length marker tables are BLOCK-CHUNKED
  * (one row per IndexConfig.markerChunkDocs rank slots) so a segment is
  * never capped by the 2 GiB JVM-array ceiling of a single parquet cell
  * (~3×10⁷ urls at ~60 B/url, while the documented sizing range goes to
  * 10⁸ docs/segment). These tests force tiny chunks (7 slots) so every
  * reader crosses many chunk boundaries at spec scale, and pin full
  * result identity against a single-chunk build of the same corpus
  * through the whole lifecycle (search, served, ids, count, scan, upsert,
  * delete, append, and the merge behind purge and compact). */
class ChunkedMarkerSpec extends SparkSuite {
  import spark.implicits._

  private val P = 2
  private val cfgChunked =
    IndexConfig(numSegments = P, blockSize = 16, markerChunkDocs = 7)
  private val cfgMono =
    IndexConfig(numSegments = P, blockSize = 16, markerChunkDocs = 1 << 20)

  private lazy val pages = Corpus.pages(spark, 230, seed = 11,
    vocabSize = 300, medianLen = 40).cache()
  private lazy val docs: Seq[(String, String)] =
    pages.select("url", "text").as[(String, String)].collect().toSeq

  private def build(cfg: IndexConfig): String = {
    val dir = Files.createTempDirectory("graft-chunk").toString
    IndexBuilder.build(spark, pages.toDF(), dir, cfg)
    dir
  }
  private lazy val chunkedDir = build(cfgChunked)
  private lazy val monoDir = build(cfgMono)

  private def markerRows(dir: String, term: String): Seq[PostingRow] = {
    val snap = Snapshot.latest(dir).get
    spark.read.parquet(snap.dataDirs.map(d => s"$dir/$d"): _*)
      .as[PostingRow].filter(_.term == term).collect().toSeq
  }

  test("chunking invariant: non-final chunks hold exactly markerChunkDocs slots") {
    val urls = markerRows(chunkedDir, IndexBuilder.TermUrls)
    assert(urls.groupBy(_.segId).forall(_._2.size > 1), "chunking not exercised")
    urls.groupBy(_.segId).foreach { case (_, rows) =>
      val sorted = rows.sortBy(_.chunk)
      assert(sorted.map(_.chunk) === sorted.indices)
      sorted.dropRight(1).foreach(r => assert(r.df === 7L))
      assert(sorted.last.df <= 7L && sorted.last.df > 0L)
      // lens chunks align 1:1 with url chunks
    }
    val lens = markerRows(chunkedDir, IndexBuilder.TermLens)
    assert(lens.groupBy(_.segId).view.mapValues(_.map(_.chunk).sorted).toMap ===
      urls.groupBy(_.segId).view.mapValues(_.map(_.chunk).sorted).toMap)
  }

  test("snapshot stats are sums over chunk rows and match the mono build") {
    val a = Snapshot.latest(chunkedDir).get
    val b = Snapshot.latest(monoDir).get
    assert(a.numDocs === 230L)
    assert(a.numDocs === b.numDocs)
    assert(a.sumDocLen === b.sumDocLen)
    assert(a.markerChunkDocs === 7)
    assert(a.termdictRows > 0 && a.termdictRows === b.termdictRows)
    assert(a.formatVersion === Snapshot.CurrentFormat)
  }

  test("distributed, warm and served top-k are identical across chunkings") {
    val queries = Seq("the", "data merge", "w1x w2x w3x", "crawl")
    val warm = new IndexHandle(spark, chunkedDir, warm = true)
    try {
      queries.foreach { q =>
        val mono = Searcher.topK(spark, monoDir, q, 10)
          .map(h => (h.docId, h.url, h.score)).toSeq
        assert(Searcher.topK(spark, chunkedDir, q, 10)
          .map(h => (h.docId, h.url, h.score)).toSeq === mono, s"cold: $q")
        assert(warm.topK(q, 10).map(h => (h.docId, h.url, h.score)).toSeq
          === mono, s"warm: $q")
        assert(warm.servedTopK(q, 10).map(h => (h.docId, h.url, h.score)).toSeq
          === mono, s"served: $q")
      }
    } finally warm.close()
  }

  test("ids resolution crosses chunk boundaries (executor-side probe)") {
    // pick urls that land at ranks around the 7-slot boundaries: the url
    // table of each segment is sorted, so take a spread across positions
    val someUrls = docs.map(_._1).sorted.grouped(13).map(_.head).toSeq
    val q = BoolQuery(ids = Some(someUrls))
    val mono = Searcher.search(spark, monoDir, q, 50)
      .map(h => (h.docId, h.url, h.score)).toSeq
    val chunked = Searcher.search(spark, chunkedDir, q, 50)
      .map(h => (h.docId, h.url, h.score)).toSeq
    assert(chunked === mono)
    assert(chunked.nonEmpty)
  }

  test("count + scan enumeration identical across chunkings (lockstep walk)") {
    val qs = Seq(BoolQuery.text("the"), BoolQuery.text("data crawl"),
      BoolQuery(must = Seq("data"), mustNot = Seq("the")))
    qs.foreach { q =>
      assert(Searcher.count(spark, chunkedDir, q) ===
        Searcher.count(spark, monoDir, q))
      val a = Searcher.matches(spark, chunkedDir, q)
        .orderBy("docId").as[(Long, String, Int)].collect().toSeq
      val b = Searcher.matches(spark, monoDir, q)
        .orderBy("docId").as[(Long, String, Int)].collect().toSeq
      assert(a === b)
      assert(a.nonEmpty)
    }
  }

  test("upsert joins the chunked marker scan correctly (rank bases per chunk)") {
    // fresh dirs (upsert mutates)
    val dirA = build(cfgChunked)
    val dirB = build(cfgMono)
    // recrawl a spread of EXISTING urls with new content + some new urls
    val existing = docs.map(_._1).sorted.grouped(11).map(_.head).toSeq
    val batch = (existing.map(u => (u, "fresh recrawl content zz9")) ++
      Seq(("https://new.example/a", "fresh recrawl content zz9"))).toDF("url", "text")
    IndexBuilder.upsert(spark, batch, dirA)
    IndexBuilder.upsert(spark, batch, dirB)
    val qa = Searcher.topK(spark, dirA, "zz9", 50).map(h => h.url -> h.score).toSeq
    val qb = Searcher.topK(spark, dirB, "zz9", 50).map(h => h.url -> h.score).toSeq
    assert(qa === qb)
    assert(qa.map(_._1).toSet === (existing :+ "https://new.example/a").toSet)
    // old versions are tombstoned: an ids query returns only the new docs
    val ids = Searcher.search(spark, dirA, BoolQuery(ids = Some(existing)), 100)
    assert(ids.length === existing.size)
    assert(ids.forall(_.docId >= IndexBuilder.segBase(P))) // generation 1
  }

  /** Every stored row of `dir`'s latest snapshot, arrays as sequences. */
  private def storedRows(dir: String) = {
    val snap = Snapshot.latest(dir).get
    spark.read.parquet(snap.dataDirs.map(d => s"$dir/$d"): _*).as[PostingRow]
      .collect().map(r => (r.segId, r.term, r.chunk, r.df, r.cf, r.maxTf,
        r.minDl, r.docBytes.toSeq, r.tfBytes.toSeq, r.blockLast.toSeq,
        r.blockMaxTf.toSeq, r.blockMinDl.toSeq, r.blockDocOff.toSeq,
        r.blockTfOff.toSeq))
      .sortBy(r => (r._1, r._2, r._3)).toSeq
  }

  test("delete + purge rewrite dense chunk tables equal to a fresh live build") {
    val dir = build(cfgChunked)
    val deadUrls = docs.map(_._1).sorted.grouped(9).map(_.head).toSet
    Deletes.delete(spark, dir, deadUrls.toSeq)
    Deletes.purge(spark, dir)
    val snap = Snapshot.latest(dir).get
    assert(snap.numDocs === (230 - deadUrls.size).toLong)
    val live = docs.filterNot(d => deadUrls.contains(d._1))
    val freshDir = Files.createTempDirectory("graft-chunk-fresh").toString
    IndexBuilder.build(spark, live.toDF("url", "text"), freshDir, cfgChunked)
    // the purge renumbers: dead slots leave the url tables, so every row —
    // chunk ordinals and the 7-slot chunking invariant included — equals
    // the fresh build's
    assert(storedRows(dir) === storedRows(freshDir))
    Seq("the", "data crawl", "w1x w5x").foreach { q =>
      val engine = Searcher.topK(spark, dir, q, 10)
      val oracle = OracleSearch.topK(live, q, 10, P)
      assert(engine.map(h => (h.docId, h.url, h.score)).toSeq ===
        oracle.map(h => (h.docId, h.url, h.score)).toSeq, s"query: $q")
    }
  }

  test("append + compact rechunk to a fresh build; results stay identical") {
    val dirA = build(cfgChunked)
    // urls are a function of the row id: start past the base corpus
    val extra = Corpus.pages(spark, 40, seed = 99, vocabSize = 300,
      medianLen = 40, startId = 230).toDF().select("url", "text")
    IndexBuilder.append(spark, extra, dirA)
    IndexBuilder.compact(spark, dirA)
    val all = docs ++ extra.as[(String, String)].collect().toSeq
    val freshDir = Files.createTempDirectory("graft-chunk-fresh").toString
    IndexBuilder.build(spark, all.toDF("url", "text"), freshDir, cfgChunked)
    assert(storedRows(dirA) === storedRows(freshDir))
    val after = Searcher.topK(spark, dirA, "the data", 10)
      .map(h => (h.docId, h.url, h.score)).toSeq
    assert(after === OracleSearch.topK(all, "the data", 10, P)
      .map(h => (h.docId, h.url, h.score)).toSeq)
  }

  test("format gate: a snapshot without formatVersion (v1 file) is refused loudly") {
    val dir = Files.createTempDirectory("graft-fmt").toString
    IndexBuilder.build(spark, pages.toDF(), dir,
      IndexConfig(numSegments = 1, blockSize = 16))
    val snapFile = Paths.get(dir, "snapshots", "snap-00001.json")
    val json = Files.readString(snapFile)
    assert(json.contains("\"formatVersion\" : 3"))
    // a pre-chunking (v1) snapshot file has no formatVersion field; a v2
    // file's termdict rows carry no segment sets
    val v1 = json.replaceAll(",?\\s*\"formatVersion\"\\s*:\\s*3", "")
    val v2 = json.replace("\"formatVersion\" : 3", "\"formatVersion\" : 2")
    Seq("v1" -> v1, "v2" -> v2).foreach { case (v, older) =>
      Files.writeString(snapFile, older)
      val e = intercept[IllegalStateException](Snapshot.latest(dir))
      assert(e.getMessage.contains("format"), v)
    }
  }

  test("warm handle open issues no termdict-count job") {
    // a warm open collects the dictionary (one job) and fills the posting
    // cache (three under adaptive execution: the exchange's map stage and
    // the fill); its admission gate reads the snapshot's (segment, term)
    // count, so no count() job runs
    val (h, jobs) = JobLog.of(spark)(new IndexHandle(spark, monoDir, warm = true))
    try {
      assert(jobs.count <= 4, s"warm open jobs:\n$jobs")
      assert(!jobs.jobs.exists(_._1.exists(_.startsWith("count at "))),
        s"warm open ran a count() job:\n$jobs")
      assert(h.search(BoolQuery.text("the data"), 10).nonEmpty)
    } finally h.close()
  }

  test("repeated ids lookups are job-free on a warm handle (per-url LRU)") {
    // first lookup pays the executor-side resolution job; the second —
    // same urls, including one ABSENT url (negative-cached against the
    // pinned snapshot) — must run zero Spark jobs
    val counter = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        counter.incrementAndGet(); ()
      }
    }
    val h = new IndexHandle(spark, chunkedDir, warm = true)
    try {
      val probe = docs.map(_._1).sorted.grouped(17).map(_.head).toSeq :+
        "https://definitely-absent.example/x"
      val first = h.resolveDocIds(probe)
      assert(first.valuesIterator.map(_.length).sum === probe.size - 1)
      def quiesce(): Unit = {
        var last = -1; var stable = 0
        val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
        while (stable < 3 && System.nanoTime() < deadline) {
          Thread.sleep(100)
          val c = counter.get()
          if (c == last) stable += 1 else { stable = 0; last = c }
        }
      }
      spark.sparkContext.addSparkListener(listener)
      try {
        quiesce()
        val before = counter.get()
        val second = h.resolveDocIds(probe)
        quiesce()
        assert(counter.get() === before,
          "a repeated ids lookup ran a Spark job - the per-url LRU missed")
        assert(second.view.mapValues(_.toSeq).toMap ===
          first.view.mapValues(_.toSeq).toMap)
      } finally spark.sparkContext.removeSparkListener(listener)
    } finally h.close()
  }

  test("empty segments still commit one chunk-0 marker pair") {
    val dir = Files.createTempDirectory("graft-empty").toString
    val two = pages.limit(2).toDF()
    IndexBuilder.build(spark, two.select("url", "text"), dir,
      IndexConfig(numSegments = 8, blockSize = 16, markerChunkDocs = 7))
    val snap = Snapshot.latest(dir).get
    assert(snap.isComplete)
    val urls = spark.read.parquet(snap.dataDirs.map(d => s"$dir/$d"): _*)
      .as[PostingRow].filter(_.term == IndexBuilder.TermUrls).collect()
    assert(urls.length === 8)
    assert(urls.forall(_.chunk === 0))
  }

  test("blob columns are written without a dictionary; rows unchanged") {
    // a url chunk never repeats, so a dictionary only hashes every cell
    val hc = spark.sparkContext.hadoopConfiguration
    val blobs = Set("docBytes", "tfBytes")
    val keys = blobs.toSeq.map(c => s"parquet.enable.dictionary#$c")
    // the same index with the dictionary turned on, as a user may choose
    val withDict = {
      keys.foreach(hc.setBoolean(_, true))
      try build(cfgChunked) finally keys.foreach(hc.unset)
    }
    val plain = build(cfgChunked)
    /** Columns of the data dir files under `dir` with a dictionary page. */
    def dictColumns(dir: String): Set[String] = {
      val walk = Files.walk(Paths.get(dir, "data"))
      val files =
        try walk.iterator().asScala.filter(_.toString.endsWith(".parquet")).toSeq
        finally walk.close()
      assert(files.nonEmpty, s"no data files under $dir")
      files.flatMap { f =>
        val r = org.apache.parquet.hadoop.ParquetFileReader.open(
          org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
            new org.apache.hadoop.fs.Path(f.toString), hc))
        try r.getFooter.getBlocks.asScala.flatMap(_.getColumns.asScala)
          .filter(c => c.hasDictionaryPage ||
            c.getEncodings.asScala.exists(_.usesDictionary))
          .map(_.getPath.toDotString).toSeq
        finally r.close()
      }.toSet
    }
    assert(dictColumns(withDict).intersect(blobs).nonEmpty,
      "the forced dictionary left no trace: the check went blind")
    assert(dictColumns(plain).intersect(blobs).isEmpty, dictColumns(plain))
    def rows(dir: String): Seq[Seq[Any]] = {
      val snap = Snapshot.latest(dir).get
      spark.read.parquet(snap.dataDirs.map(d => s"$dir/$d"): _*).as[PostingRow]
        .collect().toSeq.map(_.productIterator.map {
          case a: Array[_] => a.toSeq
          case x => x
        }.toSeq)
        .sortBy(r => (r(0).asInstanceOf[Int], r(1).asInstanceOf[String],
          r(13).asInstanceOf[Int]))
    }
    assert(rows(plain) === rows(withDict))
  }
}
