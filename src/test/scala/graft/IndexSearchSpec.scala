package graft

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.catalyst.optimizer.BuildRight
import org.apache.spark.sql.catalyst.plans.LeftOuter
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec

import graft.corpus.Corpus
import graft.index.{IndexBuilder, IndexConfig, Snapshot}
import graft.search.{OracleSearch, Searcher}

/** The north-rule acceptance spec: the distributed block-max WAND engine
  * returns rank-identical docIds AND bit-identical BM25 scores vs the
  * exhaustive in-repo oracle on a fixed seeded query set; builds resume from
  * the snapshot log; index bytes are independent of input partitioning. */
class IndexSearchSpec extends SparkSuite {
  import spark.implicits._

  private val cfg = IndexConfig(numSegments = 8, blockSize = 16)
  private lazy val pages = Corpus.pages(spark, 600, seed = 42,
    vocabSize = 800, medianLen = 60).cache()
  private lazy val docs: Seq[(String, String)] =
    pages.select("url", "text").as[(String, String)].collect().toSeq
  private lazy val indexDir = {
    val dir = Files.createTempDirectory("graft-idx").toString
    IndexBuilder.build(spark, pages.toDF(), dir, cfg)
    dir
  }

  // fixed seeded query set: head terms, tail terms, multi-term, analyzer
  // edge cases, absent terms (FIXTURES.md §3)
  private val queries = Seq(
    "the", "data", "spark fast", "merge sort join", "the data spark",
    "wi-fi", "Wi-Fi routers", "o'brien's", "anti-TNF", "crawl web page",
    "block max cache disk", "w500x", "w700x w600x", "nosuchterm",
    "nosuchterm data", "the the the", "value order group window",
    "posting shard segment score rank", "a", "w100x w200x w300x w400x")

  test("rank-identical top-10 docIds and bit-identical scores vs oracle") {
    queries.foreach { q =>
      val engine = Searcher.topK(spark, indexDir, q, 10)
      val oracle = OracleSearch.topK(docs, q, 10, cfg.numSegments)
      assert(engine.map(_.docId).toSeq === oracle.map(_.docId).toSeq, s"query: $q")
      assert(engine.map(_.url).toSeq === oracle.map(_.url).toSeq, s"query: $q")
      engine.zip(oracle).foreach { case (e, o) =>
        assert(e.score === o.score, s"score drift for '$q' doc ${e.docId}")
      }
    }
  }

  test("warm IndexHandle (zero-shuffle path) is rank-identical too") {
    val handle = new graft.search.IndexHandle(spark, indexDir, warm = true)
    try queries.take(8).foreach { q =>
      val engine = handle.topK(q, 10)
      val oracle = OracleSearch.topK(docs, q, 10, cfg.numSegments)
      assert(engine.map(h => (h.docId, h.score)).toSeq ===
        oracle.map(h => (h.docId, h.score)).toSeq, s"query: $q")
    } finally handle.close()
  }

  test("suggest artifact: built with the snapshot, termdict-consistent, purge-rebuilt") {
    import org.apache.spark.sql.functions.{col, explode, udf}
    val dir = Files.createTempDirectory("graft-suggest-idx").toString
    val p = Corpus.pages(spark, 120, seed = 7, vocabSize = 200, medianLen = 30)
    IndexBuilder.build(spark, p.toDF(), dir,
      IndexConfig(numSegments = 4, blockSize = 16, suggest = true))
    val snap = Snapshot.latest(dir).get
    assert(snap.suggestDir.isDefined)

    // artifact rows == explode of the committed termdict through the SAME
    // ngram analyzer (distinct grams per term), cf preserved
    val ng = udf((t: String) => graft.analysis.Analyzer.ngrams(t).distinct)
    val fromDict = spark.read.parquet(s"$dir/${snap.termdictDir.get}")
      .select(explode(ng(col("term"))).as("gram"), col("term"), col("cf"))
      .as[(String, String, Long)].collect().toSet
    val artifact = spark.read.parquet(s"$dir/${snap.suggestDir.get}")
      .as[(String, String, Long)].collect()
    assert(artifact.toSet === fromDict)
    assert(snap.suggestRows === artifact.length.toLong)

    // the serving API: top-k by (cf desc, term asc) per fragment, equal to
    // a driver-side recompute over the artifact rows; out-of-range
    // fragments empty; missing-artifact handles fail loudly
    val handle = new graft.search.IndexHandle(spark, dir, warm = false)
    val byGram = artifact.groupBy(_._1)
    byGram.keys.take(20).foreach { g =>
      val expect = byGram(g).map { case (_, t, cf) => (t, cf) }
        .sortBy { case (t, cf) => (-cf, t) }.take(5).toSeq
      assert(handle.suggest(g, 5).toSeq === expect, s"gram: $g")
      assert(handle.suggest(g, 5).toSeq === expect, s"gram memo: $g") // cached path
    }
    assert(handle.suggest("abc", 5).isEmpty)      // < minGram
    assert(handle.suggest("a" * 11, 5).isEmpty)   // > maxGram
    val noArtifact = new graft.search.IndexHandle(spark, indexDir, warm = false)
    val e = intercept[IllegalArgumentException](noArtifact.suggest("data", 3))
    assert(e.getMessage.contains("suggest"))

    // tombstones leave the artifact alone (ES semantics: suggest fields
    // don't see deletes until merge); purge REBUILDS it from the new
    // termdict, and vacuum never touches the referenced copy
    graft.index.Deletes.deleteByQuery(spark, dir,
      graft.search.BoolQuery(filter = Seq("the")))
    assert(Snapshot.latest(dir).get.suggestDir === snap.suggestDir)
    graft.index.Deletes.purge(spark, dir)
    val purged = Snapshot.latest(dir).get
    assert(purged.suggestDir.isDefined)
    assert(purged.suggestDir !== snap.suggestDir)
    IndexBuilder.vacuum(dir)
    val afterVacuum = spark.read.parquet(s"$dir/${purged.suggestDir.get}")
      .as[(String, String, Long)].collect().toSet
    val purgedDict = spark.read.parquet(s"$dir/${purged.termdictDir.get}")
      .select(explode(ng(col("term"))).as("gram"), col("term"), col("cf"))
      .as[(String, String, Long)].collect().toSet
    assert(afterVacuum === purgedDict)
    // the pre-purge suggest dir is unreferenced now — vacuum reclaimed it
    assert(!Files.exists(java.nio.file.Paths.get(s"$dir/${snap.suggestDir.get}")))

    // a crashed append's PARTIAL commit carries no suggestDir; resuming
    // must still rebuild the artifact — stickiness reads the snapshot
    // CHAIN, not just the immediate (incomplete) prior
    import org.apache.spark.sql.functions.concat_ws
    val extra = Corpus.pages(spark, 40, seed = 9, vocabSize = 200, medianLen = 20)
      .toDF().withColumn("url", concat_ws("", org.apache.spark.sql.functions.lit("x-"), col("url")))
    IndexBuilder.append(spark, extra, dir,
      simulateOnlySegments = Some(Set(4, 5)))
    assert(Snapshot.latest(dir).get.suggestDir.isEmpty) // incomplete commit
    IndexBuilder.append(spark, extra, dir, resume = true)
    val resumed = Snapshot.latest(dir).get
    assert(resumed.isComplete)
    assert(resumed.suggestDir.isDefined)
    assert(resumed.suggestRows > 0L)
  }

  test("fetchSource (_source includes): hit decoration with a pruned corpus scan") {
    val dir = Files.createTempDirectory("graft-src").toString
    pages.toDF().write.mode("overwrite").parquet(s"$dir/pages")
    val corpus = spark.read.parquet(s"$dir/pages")
    val hits = Searcher.topK(spark, indexDir, "merge sort join", 5)
    val fetched = Searcher.fetchSource(spark, hits, corpus, Seq("text", "lang"))
    val plan = fetched.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(plan.contains("ReadSchema: struct<url:string,text:string,lang:string>"),
      plan.linesIterator.filter(_.contains("ReadSchema")).mkString("\n"))
    val byUrl = docs.toMap
    val rows = fetched.collect()
    assert(rows.map(_.getAs[String]("url")).toSeq === hits.map(_.url).toSeq)
    // the broadcast hint lands on the side a left outer join can build
    val joins = new AdaptiveSparkPlanHelper {}.collect(fetched.queryExecution.executedPlan) {
      case j: BroadcastHashJoinExec => (j.joinType, j.buildSide)
    }
    assert(joins === Seq((LeftOuter, BuildRight)), fetched.queryExecution.executedPlan)
    rows.foreach(r =>
      assert(r.getAs[String]("text") === byUrl(r.getAs[String]("url"))))
  }

  test("served (driver-hot) path is rank-identical, including cache hits") {
    val handle = new graft.search.IndexHandle(spark, indexDir, warm = true)
    try (queries.take(8) ++ queries.take(8)).foreach { q => // second pass = hot
      val engine = handle.servedTopK(q, 10)
      val oracle = OracleSearch.topK(docs, q, 10, cfg.numSegments)
      assert(engine.map(h => (h.docId, h.url, h.score)).toSeq ===
        oracle.map(h => (h.docId, h.url, h.score)).toSeq, s"query: $q")
    } finally handle.close()
  }

  test("top-k at k=3 and k=50 also match") {
    Seq(3, 50).foreach { k =>
      Seq("the data", "merge sort join").foreach { q =>
        val engine = Searcher.topK(spark, indexDir, q, k)
        val oracle = OracleSearch.topK(docs, q, k, cfg.numSegments)
        assert(engine.map(h => (h.docId, h.score)).toSeq ===
          oracle.map(h => (h.docId, h.score)).toSeq, s"k=$k q=$q")
      }
    }
  }

  test("empty and absent queries return empty") {
    assert(Searcher.topK(spark, indexDir, "zzzznope", 10).isEmpty)
    assert(Searcher.topK(spark, indexDir, "!!! ---", 10).isEmpty)
  }

  test("build resumes from last committed snapshot and completes") {
    val dir = Files.createTempDirectory("graft-idx-resume").toString
    // simulate a run killed after committing segments 0..3
    val partial = IndexBuilder.build(spark, pages.toDF(), dir, cfg,
      simulateOnlySegments = Some(Set(0, 1, 2, 3)))
    assert(!partial.isComplete)
    assert(partial.completedSegIds === Set(0, 1, 2, 3))
    assert(Snapshot.latest(dir).get.termdictDir.isEmpty)
    // resume: only missing segments are built, then the full commit lands
    val done = IndexBuilder.build(spark, pages.toDF(), dir, cfg, resume = true)
    assert(done.isComplete)
    assert(done.numDocs === 600)
    assert(done.numDocs > partial.numDocs, "partial stats cover only built segments")
    assert(done.dataDirs.size === 2, "resume must not rewrite committed segments")
    // resumed index answers identically to the one-shot index
    Seq("the data", "merge sort join", "w500x").foreach { q =>
      val a = Searcher.topK(spark, indexDir, q, 10).toSeq
      val b = Searcher.topK(spark, dir, q, 10).toSeq
      assert(a === b, s"query: $q")
    }
    // idempotent: resuming a complete index is a no-op
    val again = IndexBuilder.build(spark, pages.toDF(), dir, cfg, resume = true)
    assert(again.id === done.id)
  }

  test("compaction (forcemerge analogue) folds resume dirs, answers unchanged") {
    val dir = Files.createTempDirectory("graft-idx-compact").toString
    IndexBuilder.build(spark, pages.toDF(), dir, cfg,
      simulateOnlySegments = Some(Set(0, 1, 2)))
    IndexBuilder.build(spark, pages.toDF(), dir, cfg, resume = true)
    assert(Snapshot.latest(dir).get.dataDirs.size === 2)
    val compacted = IndexBuilder.compact(spark, dir)
    assert(compacted.dataDirs.size === 1)
    assert(Snapshot.latest(dir).get.id === compacted.id)
    Seq("the data", "merge sort join", "w500x").foreach { q =>
      val a = Searcher.topK(spark, indexDir, q, 10).toSeq
      val b = Searcher.topK(spark, dir, q, 10).toSeq
      assert(a === b, s"query: $q")
    }
    // idempotent
    assert(IndexBuilder.compact(spark, dir).id === compacted.id)
    // vacuum removes exactly the two superseded build dirs and the
    // termdict the merge replaced, answers intact
    val removed = IndexBuilder.vacuum(dir)
    assert(removed.toSet ===
      Set("data/build-00001", "data/build-00002", "termdict/snap-00002"))
    assert(IndexBuilder.vacuum(dir).isEmpty) // second pass: nothing left
    val after = Searcher.topK(spark, dir, "the data", 10).toSeq
    assert(after === Searcher.topK(spark, indexDir, "the data", 10).toSeq)
  }

  test("index bytes are independent of input partitioning") {
    def canon(dir: String): Seq[(Int, String, Long, Long, String, String)] = {
      val snap = Snapshot.latest(dir).get
      spark.read.parquet(snap.dataDirs.map(d => s"$dir/$d"): _*)
        .selectExpr("segId", "term", "df", "cf", "md5(docBytes) d", "md5(tfBytes) t")
        .as[(Int, String, Long, Long, String, String)]
        .collect().sortBy(r => (r._1, r._2)).toSeq
    }
    val dir2 = Files.createTempDirectory("graft-idx-par").toString
    val repart = Corpus.pages(spark, 600, seed = 42, vocabSize = 800,
      medianLen = 60, numPartitions = 13)
    IndexBuilder.build(spark, repart.toDF(), dir2, cfg)
    assert(canon(indexDir) === canon(dir2))
  }

  test("snapshot metrics diff (QC) reports only real deltas") {
    val dir = Files.createTempDirectory("graft-idx-qc").toString
    val partial = IndexBuilder.build(spark, pages.toDF(), dir, cfg,
      simulateOnlySegments = Some(Set(0, 1)))
    val full = IndexBuilder.build(spark, pages.toDF(), dir, cfg, resume = true)
    val diff = Snapshot.metricsDiff(partial, full)
    assert(diff.forall(_._2 == "added"), diff.take(3).toString)
    assert(diff.map(_._1).toSet === (2 until cfg.numSegments).toSet)
    assert(Snapshot.metricsDiff(full, full).isEmpty)
  }

  test("append: new documents land as a fresh generation, stats updated") {
    val dir = Files.createTempDirectory("graft-idx-append").toString
    val batchA = Corpus.pages(spark, 400, seed = 42, vocabSize = 800,
      medianLen = 60)
    // url-disjoint second batch: ids 400..599 (urls are id-derived)
    val batchB = Corpus.pages(spark, 200, seed = 777, vocabSize = 800,
      medianLen = 60, startId = 400)
    IndexBuilder.build(spark, batchA.toDF(), dir, cfg)
    val appended = IndexBuilder.append(spark, batchB.toDF(), dir)
    assert(appended.isComplete)
    assert(appended.generations === 2)
    assert(appended.numDocs === 600)
    assert(appended.segments.size === 2 * cfg.numSegments)

    // scores must equal a fresh build over the union wherever global stats
    // agree (N, df, avgdl identical by construction) — compare (url, score)
    val union = batchA.union(batchB)
    val freshDir = Files.createTempDirectory("graft-idx-union").toString
    IndexBuilder.build(spark, union.toDF(), freshDir, cfg)
    Seq("the data", "merge sort join", "w500x", "crawl web page").foreach { q =>
      val a = Searcher.topK(spark, dir, q, 10)
        .map(h => (h.url, h.score)).sortBy(_._1).toSeq
      val b = Searcher.topK(spark, freshDir, q, 10)
        .map(h => (h.url, h.score)).sortBy(_._1).toSeq
      assert(a === b, s"query: $q")
    }

    // append is resumable like the initial build
    val dir2 = Files.createTempDirectory("graft-idx-append2").toString
    IndexBuilder.build(spark, batchA.toDF(), dir2, cfg)
    IndexBuilder.append(spark, batchB.toDF(), dir2,
      simulateOnlySegments = Some(Set(8, 9, 10)))
    assert(!Snapshot.latest(dir2).get.isComplete)
    val resumed = IndexBuilder.append(spark, batchB.toDF(), dir2, resume = true)
    assert(resumed.isComplete && resumed.numDocs === 600)
    Seq("the data", "w500x").foreach { q =>
      assert(Searcher.topK(spark, dir2, q, 10).toSeq ===
        Searcher.topK(spark, dir, q, 10).toSeq, s"query: $q")
    }
    // the merge folds the generations into a fresh build over the union,
    // docIds included
    val comp = IndexBuilder.compact(spark, dir2)
    assert(comp.dataDirs.size === 1 && comp.generations === 1)
    assert(Searcher.topK(spark, dir2, "the data", 10).toSeq ===
      Searcher.topK(spark, freshDir, "the data", 10).toSeq)
  }

  test("concurrent queries on one handle are identical and race-free") {
    val handle = new graft.search.IndexHandle(spark, indexDir, warm = true)
    try {
      val qs = queries.take(6)
      val expected = qs.map(q => q -> handle.servedTopK(q, 10).toSeq).toMap
      import scala.concurrent.{Await, Future}
      import scala.concurrent.duration._
      import scala.concurrent.ExecutionContext.Implicits.global
      val futures = (1 to 4).flatMap(_ => qs.map { q =>
        Future(q -> handle.servedTopK(q, 10).toSeq)
      })
      Await.result(Future.sequence(futures), 120.seconds).foreach {
        case (q, hits) => assert(hits === expected(q), s"query: $q")
      }
    } finally handle.close()
  }

  test("segments with zero documents still commit (corpus smaller than P)") {
    val dir = Files.createTempDirectory("graft-idx-sparse").toString
    val few = Seq(
      ("https://a.org/1", "data spark merge"),
      ("https://b.org/2", "spark table"),
      ("https://c.org/3", "data window")).toDF("url", "text")
    val snap = IndexBuilder.build(spark, few, dir,
      IndexConfig(numSegments = 32, blockSize = 16))
    assert(snap.isComplete)
    assert(snap.termdictDir.nonEmpty)
    assert(snap.segments.size === 32)
    assert(snap.segments.map(_.docs).sum === 3)
    val hits = Searcher.topK(spark, dir, "spark", 10)
    assert(hits.length === 2)
    // and a resumed call is a no-op on the complete snapshot
    assert(IndexBuilder.build(spark, few, dir,
      IndexConfig(numSegments = 32, blockSize = 16), resume = true).id === snap.id)
  }

  test("non-ASCII urls: docId determinism holds in UTF-8 byte order") {
    // U+E000 (3-byte UTF-8, single UTF-16 unit 0xE000) sorts ABOVE the
    // surrogate pair U+10000 in UTF-16 code units but BELOW it in UTF-8
    // bytes — the builder (Spark UTF8String) and the oracle must agree.
    val dir = Files.createTempDirectory("graft-idx-utf8").toString
    val urls = Seq("https://x.org//a", "https://x.org/𐀀/b",
      "https://x.org/z", "https://x.org/é")
    val rows = urls.zipWithIndex.map { case (u, i) => (u, s"data spark w$i") }
    IndexBuilder.build(spark, rows.toDF("url", "text"), dir,
      IndexConfig(numSegments = 1, blockSize = 16))
    val engine = Searcher.topK(spark, dir, "data spark", 10)
    val oracle = OracleSearch.topK(rows, "data spark", 10, numSegments = 1)
    assert(engine.map(h => (h.docId, h.url)).toSeq ===
      oracle.map(h => (h.docId, h.url)).toSeq)
    assert(engine.map(_.score).toSeq === oracle.map(_.score).toSeq)
  }

  test("served path fetches doc-length tables only for candidate segments") {
    val handle = new graft.search.IndexHandle(spark, indexDir, warm = false)
    val term = "w500x" // tail term: present in few docs => few segments
    val segsWithTerm = docs
      .filter(d => graft.analysis.Analyzer.tokenize(d._2).contains(term))
      .map(d => graft.index.Hashing.segmentOf(d._1, cfg.numSegments))
      .distinct.size
    assert(segsWithTerm > 0 && segsWithTerm < cfg.numSegments,
      s"fixture assumption: $term must touch some but not all segments")
    assert(handle.lensCacheSize === 0)
    val hits = handle.servedTopK(term, 10)
    assert(hits.nonEmpty)
    assert(handle.lensCacheSize === segsWithTerm)
  }

  test("QC metrics + cross-snapshot diff persist as TSV (S13)") {
    val dir = Files.createTempDirectory("graft-qc").toString
    val base = Seq(("https://q.org/1", "data spark"), ("https://q.org/2", "table merge"))
    val c = IndexConfig(numSegments = 2, blockSize = 16)
    val snap1 = IndexBuilder.build(spark, base.toDF("url", "text"), dir, c)
    val f1 = Snapshot.writeMetricsTsv(dir, snap1)
    val lines = java.nio.file.Files.readAllLines(f1)
    assert(lines.get(0) === "segId\tdocs\tterms\tpostings\tsumDocLen\tdataDir")
    assert(lines.size === 1 + snap1.segments.size)
    val snap2 = IndexBuilder.append(spark,
      Seq(("https://q.org/3", "data window")).toDF("url", "text"), dir)
    val f2 = Snapshot.writeDiffTsv(dir, snap1, snap2)
    val diff = java.nio.file.Files.readAllLines(f2)
    assert(diff.get(0) === "segId\tmetric\told\tnew")
    // the appended generation shows up as added segments with doc deltas
    assert(diff.size > 1)
    assert(diff.asScala.drop(1).exists(_.contains("added")))
  }

  test("per-segment lineage metrics are consistent") {
    val snap = Snapshot.latest(indexDir).get
    assert(snap.segments.map(_.docs).sum === 600)
    assert(snap.segments.size === cfg.numSegments)
    snap.segments.foreach { s =>
      assert(s.postings >= s.terms, s"seg ${s.segId}")
    }
  }

  test("null-text pages index as empty docs; ranks and urls stay aligned") {
    // term_freqs is null-intolerant: without the build-side coalesce a
    // null text would null the doc's whole tf/marker map, explode would
    // emit zero rows for it AFTER row_number assigned its rank, and every
    // later doc in the segment would resolve the wrong url
    val dir = Files.createTempDirectory("graft-nulltext").toString
    val rows = Seq(
      ("https://n.org/a", "alpha beta gamma"),
      ("https://n.org/b", null.asInstanceOf[String]),
      ("https://n.org/c", "alpha delta"),
      ("https://n.org/d", "beta gamma"))
    IndexBuilder.build(spark, rows.toDF("url", "text"), dir,
      IndexConfig(numSegments = 1, blockSize = 16))
    val snap = Snapshot.latest(dir).get
    assert(snap.numDocs === 4) // the null-text doc exists, doclen 0
    val h = new graft.search.IndexHandle(spark, dir, warm = false)
    rows.foreach { case (u, _) =>
      val hits = h.search(graft.search.BoolQuery(ids = Some(Seq(u))), 2)
      assert(hits.map(_.url).toSeq === Seq(u), s"url misaligned: $u")
    }
    assert(Searcher.topK(spark, dir, "alpha", 5).map(_.url).toSet ===
      Set("https://n.org/a", "https://n.org/c"))
  }

  test("empty batches: append and upsert no-op, never an empty generation") {
    val dir = Files.createTempDirectory("graft-emptybatch").toString
    IndexBuilder.build(spark, pages.limit(30).toDF(), dir,
      IndexConfig(numSegments = 2, blockSize = 16))
    val before = Snapshot.latest(dir).get
    val empty = pages.toDF().select("url", "text").limit(0)
    assert(IndexBuilder.append(spark, empty, dir).id === before.id)
    assert(IndexBuilder.upsert(spark, empty, dir).id === before.id)
    val after = Snapshot.latest(dir).get
    assert(after.generations === before.generations && after.id === before.id)
    // resuming an INCOMPLETE generation from an empty batch is refused
    // loudly (completing it with empty segments would lose the batch)
    val extra = Corpus.pages(spark, 20, seed = 77, vocabSize = 200,
      medianLen = 20, startId = 5000).toDF().select("url", "text")
    IndexBuilder.append(spark, extra, dir,
      simulateOnlySegments = Some(Set(2)))
    assert(!Snapshot.latest(dir).get.isComplete)
    val e = intercept[IllegalArgumentException](
      IndexBuilder.append(spark, empty, dir, resume = true))
    assert(e.getMessage.contains("empty batch"))
  }

  test("suggest request survives a crash before the first complete commit") {
    // only COMPLETE commits carry a suggestDir; a first build that
    // crashes partial must persist the REQUEST (suggestWanted) so a resume
    // with a cfg omitting suggest still builds the artifact
    val dir = Files.createTempDirectory("graft-suggest-crash").toString
    val corpus = pages.limit(40).toDF().select("url", "text")
    IndexBuilder.build(spark, corpus, dir,
      IndexConfig(numSegments = 4, blockSize = 16, suggest = true),
      simulateOnlySegments = Some(Set(0, 1)))
    val partial = Snapshot.latest(dir).get
    assert(!partial.isComplete && partial.suggestDir.isEmpty)
    assert(partial.suggestWanted)
    val done = IndexBuilder.build(spark, corpus, dir,
      IndexConfig(numSegments = 4, blockSize = 16), resume = true)
    assert(done.isComplete && done.suggestDir.isDefined && done.suggestRows > 0L)
  }
}
