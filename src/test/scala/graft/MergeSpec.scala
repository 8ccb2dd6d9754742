package graft

import java.nio.file.Files

import scala.collection.mutable

import org.apache.spark.sql.Row

import graft.corpus.Corpus
import graft.index.{Deletes, FieldDef, IndexBuilder, IndexConfig, PostingRow, Snapshot, SnapshotMeta}
import graft.search.{BoolQuery, Hit, OracleSearch, Searcher}

/** The merge (`IndexBuilder.compact`, also run by `Deletes.purge`) returns
  * exactly the index a fresh build over the live documents writes: the
  * same posting, marker, termdict, suggest and doc-suggest rows, the same
  * per-segment metas and snapshot statistics, and so the same top-k hits
  * down to docId ties. Histories mix build, append, upsert, delete and
  * delete-by-query, on a single-field index with suggest and on a
  * multi-field index with doc suggestions. */
class MergeSpec extends SparkSuite {
  import spark.implicits._

  private def tmp(tag: String): String =
    Files.createTempDirectory(s"graft-merge-$tag").toString

  /** A stored row with its arrays as comparable sequences. */
  private def canon(r: PostingRow) =
    (r.segId, r.term, r.chunk, r.df, r.cf, r.maxTf, r.minDl, r.docBytes.toSeq,
      r.tfBytes.toSeq, r.blockLast.toSeq, r.blockMaxTf.toSeq,
      r.blockMinDl.toSeq, r.blockDocOff.toSeq, r.blockTfOff.toSeq)

  private def postingRows(dir: String, snap: SnapshotMeta) =
    IndexBuilder.readPostings(spark, snap.dataDirs.map(d => s"$dir/$d"))
      .as[PostingRow].collect().map(canon).sortBy(r => (r._1, r._2, r._3)).toSeq

  private def rowsOf(dir: String, rels: Seq[String]): Seq[String] =
    if (rels.isEmpty) Nil
    else spark.read.parquet(rels.map(r => s"$dir/$r"): _*).collect()
      .map((r: Row) => r.toSeq.mkString("|")).sorted.toSeq

  /** The snapshot fields a merge must reproduce (ids and dir names aside). */
  private def stats(s: SnapshotMeta) =
    (s.numDocs, s.sumDocLen, s.numSegments, s.generations, s.deletedDocs,
      s.segments.map(_.copy(dataDir = "")), s.termdictRows, s.suggestRows,
      s.suggestWanted, s.docSuggestRows, s.fieldStats, s.fields,
      s.docSuggestFields, s.markerChunkDocs, s.isComplete)

  /** Merge `dir`, then build `live` afresh and compare every artifact. */
  private def assertMergedEqualsFresh(dir: String, live: => org.apache.spark.sql.DataFrame,
      cfg: IndexConfig): (SnapshotMeta, String) = {
    val merged = IndexBuilder.compact(spark, dir)
    val freshDir = tmp("fresh")
    val fresh = IndexBuilder.build(spark, live, freshDir, cfg)
    assert(merged.dataDirs.size === 1)
    assert(merged.segments.map(_.segId) === (0 until cfg.numSegments))
    assert(merged.generations === 1 && merged.deletedDocs === 0L)
    assert(stats(merged) === stats(fresh))
    assert(postingRows(dir, merged) === postingRows(freshDir, fresh))
    assert(rowsOf(dir, merged.termdictDir.toSeq) ===
      rowsOf(freshDir, fresh.termdictDir.toSeq))
    assert(rowsOf(dir, merged.suggestDir.toSeq) ===
      rowsOf(freshDir, fresh.suggestDir.toSeq))
    assert(rowsOf(dir, merged.docSuggestDirs) === rowsOf(freshDir, fresh.docSuggestDirs))
    (merged, freshDir)
  }

  private def hits(hs: Array[Hit]) = hs.map(h => (h.docId, h.url, h.score)).toSeq

  test("single field + suggest: a merged history equals a fresh build, docIds included") {
    val P = 4
    val cfg = IndexConfig(numSegments = P, blockSize = 16, markerChunkDocs = 7,
      suggest = true)
    def pages(n: Int, seed: Long, start: Long) =
      Corpus.pages(spark, n, seed = seed, vocabSize = 300, medianLen = 30,
        startId = start).select("url", "text").as[(String, String)].collect().toSeq
    val live = mutable.LinkedHashMap.empty[String, String]
    val dir = tmp("single")
    val base = pages(160, 21, 0)
    IndexBuilder.build(spark, base.toDF("url", "text"), dir, cfg)
    live ++= base
    val added = pages(50, 22, 160)
    IndexBuilder.append(spark, added.toDF("url", "text"), dir)
    live ++= added
    // recrawl old and appended documents, plus new ones
    val recrawl = (base.take(15) ++ added.take(10)).map { case (u, t) =>
      (u, t + " zzfresh recrawl") } ++ pages(8, 23, 300)
    IndexBuilder.upsert(spark, recrawl.toDF("url", "text"), dir)
    live ++= recrawl
    val victims = live.keys.toSeq.sorted.grouped(9).map(_.head).toSeq
    Deletes.delete(spark, dir, victims)
    live --= victims
    Deletes.deleteByQuery(spark, dir, BoolQuery(filter = Seq("merge")))
    live.filterInPlace { case (_, t) =>
      !graft.analysis.Analyzer.termFreqs(t).contains("merge") }
    assert(Snapshot.latest(dir).get.generations === 3)

    val liveDocs = live.toSeq
    val (_, freshDir) = assertMergedEqualsFresh(dir, liveDocs.toDF("url", "text"), cfg)
    Seq("the data", "zzfresh", "crawl web page", "the").foreach { q =>
      val k = 25
      val got = hits(Searcher.topK(spark, dir, q, k))
      assert(got === hits(Searcher.topK(spark, freshDir, q, k)), s"query: $q")
      assert(got === hits(OracleSearch.topK(liveDocs, q, k, P)), s"oracle: $q")
    }
    // ids resolve to the fresh docIds; deleted urls resolve to nothing
    val probe = liveDocs.take(3).map(_._1)
    assert(Searcher.search(spark, dir, BoolQuery(ids = Some(probe ++ victims.take(2))), 10)
      .map(h => (h.docId, h.url)).sorted.toSeq ===
      Searcher.search(spark, freshDir, BoolQuery(ids = Some(probe)), 10)
        .map(h => (h.docId, h.url)).sorted.toSeq)
  }

  test("multi-field + doc suggest: a merged history equals a fresh build") {
    val P = 3
    val cfg = IndexConfig(numSegments = P, blockSize = 16, markerChunkDocs = 5,
      fields = Seq(FieldDef("title"), FieldDef("body"), FieldDef("lang", keyword = true)),
      docSuggestFields = Seq("title", "lang"))
    def rows(n: Int, seed: Long, start: Long) =
      Corpus.pages(spark, n, seed = seed, vocabSize = 250, medianLen = 30,
        startId = start).select("url", "text").as[(String, String)].collect().toSeq
        .zipWithIndex.map { case ((u, t), i) =>
          val toks = t.split(" ")
          (u, toks.take(4).mkString(" "), toks.drop(4).mkString(" "),
            if (i % 7 == 0) null else Seq("en", "de", "fr")(i % 3))
        }
    val live = mutable.LinkedHashMap.empty[String, (String, String, String, String)]
    def put(ds: Seq[(String, String, String, String)]): Unit = ds.foreach(d => live(d._1) = d)
    def df(ds: Seq[(String, String, String, String)]) = ds.toDF("url", "title", "body", "lang")
    val dir = tmp("multi")
    val base = rows(120, 31, 0)
    IndexBuilder.build(spark, df(base), dir, cfg)
    put(base)
    val added = rows(30, 32, 120)
    IndexBuilder.append(spark, df(added), dir)
    put(added)
    val recrawl = (base.take(12) ++ added.take(6)).map { case (u, _, b, l) =>
      (u, "qqnew title words", b, l) }
    IndexBuilder.upsert(spark, df(recrawl), dir)
    put(recrawl)
    val victims = live.keys.toSeq.sorted.grouped(8).map(_.head).toSeq
    Deletes.delete(spark, dir, victims)
    live --= victims
    Deletes.deleteByQuery(spark, dir, BoolQuery(filter = Seq(BoolQuery.keyword("lang", "de"))))
    live.filterInPlace { case (_, d) => d._4 != "de" }

    val (_, freshDir) = assertMergedEqualsFresh(dir, df(live.values.toSeq), cfg)
    Seq(BoolQuery(should = BoolQuery.fieldText("body", "the data")),
        BoolQuery(should = BoolQuery.fieldText("title", "qqnew title")),
        BoolQuery(must = Seq(BoolQuery.keyword("lang", "en")),
          should = BoolQuery.fieldText("body", "crawl"))).foreach { q =>
      assert(hits(Searcher.search(spark, dir, q, 30)) ===
        hits(Searcher.search(spark, freshDir, q, 30)), s"query: $q")
    }
  }

  test("merge job budget on a refresh-shaped index; a merged index merges for free") {
    val P = 4
    val cfg = IndexConfig(numSegments = P, blockSize = 16)
    val docs = Corpus.pages(spark, 200, seed = 41, vocabSize = 300, medianLen = 30)
      .select("url", "text").as[(String, String)].collect().toSeq
    val dir = tmp("jobs")
    IndexBuilder.build(spark, docs.toDF("url", "text"), dir, cfg)
    (1 to 3).foreach { g =>
      val batch = docs.slice(g * 20, g * 20 + 15).map { case (u, t) => (u, s"$t zzg$g") } ++
        Corpus.pages(spark, 10, seed = 41 + g, vocabSize = 300, medianLen = 30,
          startId = 1000L * g).select("url", "text").as[(String, String)].collect()
      IndexBuilder.upsert(spark, batch.toDF("url", "text"), dir)
    }
    Deletes.delete(spark, dir, docs.take(10).map(_._1))
    val before = Snapshot.latest(dir).get
    assert(before.generations === 4 && before.deletedDocs > 0)
    val (merged, jobs) = JobLog.of(spark)(IndexBuilder.compact(spark, dir))
    info(s"merge: ${jobs.count} jobs")
    assert(jobs.schemaInference.isEmpty, s"schema-inference jobs:\n$jobs")
    assert(jobs.count <= 4, s"merge jobs:\n$jobs")
    assert(merged.segments.size === P)
    val (again, none) = JobLog.of(spark)(Deletes.purge(spark, dir))
    assert(again.id === merged.id)
    assert(none.count === 0, s"purge of a merged index:\n$none")
  }
}
