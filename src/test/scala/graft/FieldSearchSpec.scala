package graft

import java.nio.file.Files

import graft.corpus.Corpus
import graft.index.{FieldDef, IndexBuilder, IndexConfig, Snapshot}
import graft.search.{BoolQuery, OracleSearch, Searcher}

/** Field-scoped search over multi-field indexes (IndexConfig.fields): the
  * reference's mappings declare text+keyword multi-fields on nearly every
  * string (resources/es/sea_mappings.json:13-21) and its queries hit named
  * fields (common/LookupTables.py:100-103). Pinned semantics: terms are
  * field-tagged, df/idf per (field, token), tf within the field, doclen =
  * analyzed fields' total tokens, keyword fields exact/unanalyzed with
  * tf=1 and no doclen. Rank identity vs OracleSearch.fieldTopK. */
class FieldSearchSpec extends SparkSuite {
  import spark.implicits._

  private val fields = Seq(
    FieldDef("title"), FieldDef("body"), FieldDef("lang", keyword = true))
  private val cfg = IndexConfig(numSegments = 4, blockSize = 16, fields = fields)

  // (url, title, body, lang): title = first 4 tokens, body = rest; lang
  // cycles en/de/fr with nulls (not indexed) and a SPACED keyword value
  // (the analyzer could never emit it — exact match must still work)
  private lazy val rows: Seq[(String, String, String, String)] = {
    val pages = Corpus.pages(spark, 250, seed = 33, vocabSize = 300,
      medianLen = 40).select("url", "text")
      .as[(String, String)].collect().toSeq
    pages.zipWithIndex.map { case ((url, text), i) =>
      val toks = text.split(" ")
      val lang =
        if (i % 17 == 0) null
        else if (i % 5 == 0) "en US"
        else Seq("en", "de", "fr")(i % 3)
      (url, toks.take(4).mkString(" "), toks.drop(4).mkString(" "), lang)
    }
  }
  private lazy val docsMap: Seq[(String, Map[String, String])] =
    rows.map { case (u, t, b, l) =>
      u -> (Map("title" -> t, "body" -> b) ++ Option(l).map("lang" -> _))
    }

  private def freshIndex(): String = {
    val dir = Files.createTempDirectory("graft-fields").toString
    IndexBuilder.build(spark,
      rows.toDF("url", "title", "body", "lang"), dir, cfg)
    dir
  }

  // common tokens, derived from the data so queries always hit
  private lazy val topTitleTok = rows.flatMap(_._2.split(" "))
    .groupBy(identity).maxBy(_._2.size)._1
  private lazy val topBodyTok = rows.flatMap(_._3.split(" "))
    .groupBy(identity).maxBy(_._2.size)._1

  private def check(dir: String, q: BoolQuery, k: Int = 15): Unit = {
    val engine = Searcher.search(spark, dir, q, k)
      .map(h => (h.docId, h.url, h.score)).toSeq
    val oracle = OracleSearch.fieldTopK(docsMap, fields, q, k, cfg.numSegments)
      .map(h => (h.docId, h.url, h.score)).toSeq
    assert(engine === oracle, s"query: $q")
    assert(engine.nonEmpty, s"vacuous check (no hits): $q")
  }

  test("field-scoped bool queries are rank+score identical to the oracle") {
    val dir = freshIndex()
    // bool-should across two named fields (the reference's LookupTables
    // shape), keyword filter, field-scoped must/mustNot, ids + field text
    check(dir, BoolQuery(
      should = BoolQuery.fieldText("title", topTitleTok) ++
        BoolQuery.fieldText("body", topBodyTok)))
    check(dir, BoolQuery(
      should = BoolQuery.fieldText("body", s"$topBodyTok $topTitleTok"),
      filter = Seq(BoolQuery.keyword("lang", "en"))))
    check(dir, BoolQuery(
      must = BoolQuery.fieldText("title", topTitleTok),
      mustNot = BoolQuery.fieldText("body", topBodyTok)))
    check(dir, BoolQuery(
      should = BoolQuery.fieldText("title", topTitleTok),
      ids = Some(rows.map(_._1).take(40))))
    // spaced keyword value: exact unanalyzed match
    check(dir, BoolQuery(
      should = BoolQuery.fieldText("body", topBodyTok),
      filter = Seq(BoolQuery.keyword("lang", "en US"))))
  }

  test("field tags isolate term spaces; untagged and wrong-field queries miss") {
    val dir = freshIndex()
    // a token that appears ONLY in bodies (never among first-4 title toks)
    val bodyOnly = rows.flatMap(_._3.split(" ")).toSet
      .diff(rows.flatMap(_._2.split(" ")).toSet)
    assert(bodyOnly.nonEmpty, "fixture regression: every body token also in titles")
    val tok = bodyOnly.head
    assert(Searcher.search(spark, dir,
      BoolQuery(must = BoolQuery.fieldText("body", tok)), 5).nonEmpty)
    assert(Searcher.search(spark, dir,
      BoolQuery(must = BoolQuery.fieldText("title", tok)), 5).isEmpty)
    // untagged terms live in a different (empty) term space here
    assert(Searcher.search(spark, dir, BoolQuery(must = Seq(tok)), 5).isEmpty)
    // keyword is exact: an analyzed-style partial never matches. Use a
    // token guaranteed to hit at least one lang='en' doc so the forall
    // cannot pass vacuously on an empty result set
    val enBodyTok = rows.find(_._4 == "en").get._3.split(" ")
      .find(_.nonEmpty).get
    val kwHits = Searcher.search(spark, dir,
      BoolQuery(filter = Seq(BoolQuery.keyword("lang", "en")),
        should = BoolQuery.fieldText("body", enBodyTok)), 50)
    assert(kwHits.nonEmpty, "vacuous keyword-exactness check")
    assert(kwHits.forall(h => docsMap.toMap.apply(h.url).get("lang").contains("en")))
    // null keyword values are not indexed: no term for them — probe the
    // terms a serialization regression would create ("null", ""), and an
    // ids-scoped filter over the null cohort
    val nullUrls = rows.filter(_._4 == null).map(_._1)
    assert(nullUrls.nonEmpty, "fixture regression: no null-lang docs")
    val h = new graft.search.IndexHandle(spark, dir, warm = false)
    assert(h.countMatches(
      BoolQuery(filter = Seq(BoolQuery.keyword("lang", "null")))) === 0L)
    assert(h.countMatches(
      BoolQuery(filter = Seq(BoolQuery.keyword("lang", "")))) === 0L)
    assert(Searcher.search(spark, dir,
      BoolQuery(ids = Some(nullUrls),
        filter = Seq(BoolQuery.keyword("lang", "en"))), 50).isEmpty)
  }

  test("count and scan-with-query honor field scoping and keyword exactness") {
    val dir = freshIndex()
    val h = new graft.search.IndexHandle(spark, dir, warm = false)
    // keyword-exact count: each lang keyword matches exactly its cohort
    Seq("en", "de", "fr", "en US").foreach { l =>
      val want = rows.count(_._4 == l).toLong
      assert(h.countMatches(
        BoolQuery(filter = Seq(BoolQuery.keyword("lang", l)))) === want, l)
    }
    // scan enumeration returns precisely the cohort's urls
    val enUrls = h.matchesDF(
        BoolQuery(filter = Seq(BoolQuery.keyword("lang", "en US"))))
      .select("url").collect().map(_.getString(0)).toSet
    assert(enUrls === rows.filter(_._4 == "en US").map(_._1).toSet)
    // field isolation carries over: a body-only token counts 0 in title
    val bodyOnly = rows.flatMap(_._3.split(" ")).toSet
      .diff(rows.flatMap(_._2.split(" ")).toSet)
    assert(bodyOnly.nonEmpty, "fixture regression: every body token also in titles")
    val tok = bodyOnly.head
    assert(h.countMatches(
      BoolQuery(must = BoolQuery.fieldText("title", tok))) === 0L)
    assert(h.countMatches(
      BoolQuery(must = BoolQuery.fieldText("body", tok))) ===
      rows.count(_._3.split(" ").contains(tok)).toLong)
  }

  test("append re-derives the pinned field schema from the snapshot") {
    val dir = freshIndex()
    assert(Snapshot.latest(dir).get.fieldDefs === fields)
    val extra = Corpus.pages(spark, 40, seed = 44, vocabSize = 300,
      medianLen = 40, startId = 7000).select("url", "text")
      .as[(String, String)].collect().toSeq
      .map { case (u, t) =>
        val toks = t.split(" ")
        (u, toks.take(4).mkString(" "), toks.drop(4).mkString(" "), "en")
      }
    IndexBuilder.append(spark,
      extra.toDF("url", "title", "body", "lang"), dir)
    val allDocs = docsMap ++ extra.map { case (u, t, b, l) =>
      u -> Map("title" -> t, "body" -> b, "lang" -> l)
    }
    val q = BoolQuery(should = BoolQuery.fieldText("title", topTitleTok) ++
      BoolQuery.fieldText("body", topBodyTok))
    // the oracle models ONE generation (contiguous ranks), the engine two —
    // docIds differ by design; urls and scores must be identical. Compare
    // as canonical (score desc, url) sets so equal-score docId tie-breaks
    // across the generation boundary don't flip adjacent rows.
    def canon(hits: Array[graft.search.Hit]) =
      hits.map(h => (h.url, h.score)).sortBy { case (u, s) => (-s, u) }.toSeq
    val engine = canon(Searcher.search(spark, dir, q, 15))
    val oracle = canon(OracleSearch.fieldTopK(allDocs, fields, q, 15, cfg.numSegments))
    assert(engine === oracle)
  }

  test("per-field norms: snapshot fieldStats match recomputation; served/warm parity") {
    val dir = freshIndex()
    val snap = Snapshot.latest(dir).get
    // fieldStats = (docs with >= 1 ANALYZED token in the field, total
    // analyzed field tokens) — the analyzer chain, not whitespace split
    def dlOf(v: String): Long =
      graft.analysis.Analyzer.termFreqs(v).valuesIterator.sum.toLong
    val expTitle = (rows.count(r => dlOf(r._2) > 0).toLong,
      rows.map(r => dlOf(r._2)).sum)
    val expBody = (rows.count(r => dlOf(r._3) > 0).toLong,
      rows.map(r => dlOf(r._3)).sum)
    val byName = snap.fieldStats.map(f => f.name -> (f.docs, f.sumDl)).toMap
    assert(byName === Map("title" -> expTitle, "body" -> expBody))
    // the served (driver-memoized) and warm paths route per-field norms
    // identically to the cold distributed path
    val q = BoolQuery(should = BoolQuery.fieldText("title", topTitleTok) ++
      BoolQuery.fieldText("body", topBodyTok) ++
      Seq(BoolQuery.keyword("lang", "de")))
    val cold = Searcher.search(spark, dir, q, 15)
      .map(h => (h.docId, h.url, h.score)).toSeq
    val h = new graft.search.IndexHandle(spark, dir, warm = true)
    try {
      assert(h.search(q, 15).map(x => (x.docId, x.url, x.score)).toSeq === cold)
      assert(h.servedSearch(q, 15).map(x => (x.docId, x.url, x.score)).toSeq === cold)
    } finally h.close()
    assert(cold.nonEmpty)
  }

  test("keyword clause in should contributes exactly idf (norms disabled)") {
    val dir = freshIndex()
    val q = BoolQuery(should = Seq(BoolQuery.keyword("lang", "de")))
    val hits = Searcher.search(spark, dir, q, 5)
    val dfDe = rows.count(_._4 == "de").toLong
    val expected = graft.search.Bm25.idf(rows.size.toLong, dfDe)
    assert(hits.nonEmpty)
    hits.foreach(h => assert(h.score === expected))
  }

  test("purge preserves per-field norms (scores == fresh build over live docs)") {
    val dir = freshIndex()
    val dead = rows.map(_._1).sorted.grouped(6).map(_.head).toSet
    graft.index.Deletes.delete(spark, dir, dead.toSeq)
    graft.index.Deletes.purge(spark, dir)
    val live = docsMap.filterNot { case (u, _) => dead.contains(u) }
    val liveRows = rows.filterNot(r => dead.contains(r._1))
    // recomputed live-only fieldStats
    val snap = Snapshot.latest(dir).get
    def dlOf(v: String): Long =
      graft.analysis.Analyzer.termFreqs(v).valuesIterator.sum.toLong
    val byName = snap.fieldStats.map(f => f.name -> (f.docs, f.sumDl)).toMap
    assert(byName("body") ===
      (liveRows.count(r => dlOf(r._3) > 0).toLong,
        liveRows.map(r => dlOf(r._3)).sum))
    // (docId, url, score) identical to a fresh build over the live docs:
    // the purge is the merge, which renumbers like that build
    val q = BoolQuery(should = BoolQuery.fieldText("title", topTitleTok) ++
      BoolQuery.fieldText("body", topBodyTok))
    val engine = Searcher.search(spark, dir, q, 12)
      .map(h => (h.docId, h.url, h.score)).toSeq
    val oracle = OracleSearch.fieldTopK(live, fields, q, 12, cfg.numSegments)
      .map(h => (h.docId, h.url, h.score)).toSeq
    assert(engine === oracle)
    assert(engine.nonEmpty)
  }

  test("differential fuzz: random multi-field corpora + queries vs fieldTopK") {
    // per-field norms feed the block-max bounds (maxScore/blockMaxScore
    // use the FIELD's minDl/avgdl) — a too-tight bound silently DROPS
    // hits, which a single-corpus rank check may never expose. Fuzz
    // random corpora and bool shapes against the exhaustive oracle.
    val rng = new scala.util.Random(4242)
    val vocab = Array("aa", "bb", "cc", "dd", "ee", "ff", "the", "data")
    (1 to 4).foreach { round =>
      val n = 60 + rng.nextInt(120)
      val fuzzRows = (0 until n).map { i =>
        def words(len: Int) =
          Seq.fill(len)(vocab(rng.nextInt(vocab.length))).mkString(" ")
        (s"https://fuzz$round.example/p/$i",
          words(1 + rng.nextInt(4)),          // short title
          words(8 + rng.nextInt(30)),         // long body
          if (rng.nextInt(5) == 0) null else Seq("en", "de")(rng.nextInt(2)))
      }
      val dir = Files.createTempDirectory(s"graft-ffuzz$round").toString
      IndexBuilder.build(spark,
        fuzzRows.toDF("url", "title", "body", "lang"), dir,
        IndexConfig(numSegments = 3, blockSize = 4, fields = fields))
      val docsM = fuzzRows.map { case (u, t, b, l) =>
        u -> (Map("title" -> t, "body" -> b) ++ Option(l).map("lang" -> _))
      }
      def pick(f: String, k: Int) =
        Seq.fill(k)(BoolQuery.inField(f, vocab(rng.nextInt(vocab.length))))
      val queries = Seq(
        BoolQuery(should = pick("title", 2) ++ pick("body", 2)),
        BoolQuery(should = pick("body", 3) :+ BoolQuery.keyword("lang", "de")),
        BoolQuery(must = pick("body", 1), should = pick("title", 2)),
        BoolQuery(should = pick("title", 1),
          mustNot = pick("body", 1)),
        BoolQuery(must = pick("body", 2),
          filter = Seq(BoolQuery.keyword("lang", "en"))))
      queries.foreach { q =>
        val k = 1 + rng.nextInt(12)
        val engine = Searcher.search(spark, dir, q, k)
          .map(h => (h.docId, h.url, h.score)).toSeq
        val oracle = OracleSearch.fieldTopK(docsM, fields, q, k, 3)
          .map(h => (h.docId, h.url, h.score)).toSeq
        assert(engine === oracle, s"round=$round k=$k q=$q")
      }
    }
  }

  test("multi-field deep paging: stitched pages == one-shot, both paths") {
    // per-field norms feed the paging cursor's score equality — a norm
    // drift between pages would desynchronize the (score, docId) cursor
    val dir = freshIndex()
    val q = BoolQuery(should = BoolQuery.fieldText("title", topTitleTok) ++
      BoolQuery.fieldText("body", topBodyTok))
    val h = new graft.search.IndexHandle(spark, dir, warm = false)
    val oneShot = h.search(q, 18).map(x => (x.docId, x.score)).toSeq
    assert(oneShot.size === 18)
    def pages(after: Option[(Double, Long)], served: Boolean) =
      if (served) h.servedSearchAfter(q, 6, after) else h.searchAfter(q, 6, after)
    Seq(false, true).foreach { served =>
      val p1 = pages(None, served)
      val p2 = pages(Some((p1.last.score, p1.last.docId)), served)
      val p3 = pages(Some((p2.last.score, p2.last.docId)), served)
      assert((p1 ++ p2 ++ p3).map(x => (x.docId, x.score)).toSeq === oneShot,
        s"served=$served")
    }
  }

  test("multi-field config is validated loudly") {
    val df = rows.toDF("url", "title", "body", "lang")
    def tryBuild(c: IndexConfig): Unit = {
      val d = Files.createTempDirectory("graft-fields-bad").toString
      IndexBuilder.build(spark, df, d, c)
    }
    intercept[IllegalArgumentException](tryBuild(cfg.copy(fields =
      Seq(FieldDef("title"), FieldDef("title", keyword = true)))))
    intercept[IllegalArgumentException](tryBuild(cfg.copy(fields =
      Seq(FieldDef("lang", keyword = true)))))
    intercept[IllegalArgumentException](tryBuild(cfg.copy(fields =
      Seq(FieldDef("a" + IndexBuilder.FieldSep + "b")))))
    intercept[IllegalArgumentException](tryBuild(cfg.copy(suggest = true)))
  }
}
