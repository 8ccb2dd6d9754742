package graft

import java.nio.file.Files

import graft.corpus.Corpus
import graft.index.{Deletes, IndexBuilder, IndexConfig}
import graft.search.{BoolQuery, IndexHandle, OracleSearch, Searcher}

/** The ES-style bool/term query surface (must / should / filter / mustNot /
  * ids — the reference's runtime query shapes beyond free text,
  * mrtarget/common/LookupTables.py:100-103, modules/SearchObjects.py:336-338):
  * pinned semantics on a known corpus, engine == exhaustive oracle
  * differential fuzz, and served == distributed identity. */
class BoolQuerySpec extends SparkSuite {
  import spark.implicits._

  private val cfg = IndexConfig(numSegments = 4, blockSize = 8)
  private val docs: Seq[(String, String)] = Seq(
    ("https://t.org/p/0", "data spark merge table"),
    ("https://t.org/p/1", "data spark window"),
    ("https://t.org/p/2", "data table window slow"),
    ("https://t.org/p/3", "spark table merge"),
    ("https://t.org/p/4", "data spark table merge window"),
    ("https://t.org/p/5", "other words entirely"),
    ("https://t.org/p/6", "data data data spark"))
  private lazy val dir = {
    val d = Files.createTempDirectory("graft-bool").toString
    IndexBuilder.build(spark, docs.toDF("url", "text"), d, cfg)
    d
  }
  private lazy val handle = new IndexHandle(spark, dir, warm = false)

  private def urlsOf(hits: Array[graft.search.Hit]): Set[String] =
    hits.map(_.url).toSet

  test("must = conjunction; matching docs only") {
    val hits = handle.search(BoolQuery(must = Seq("data", "merge")), 10)
    assert(urlsOf(hits) === Set("https://t.org/p/0", "https://t.org/p/4"))
    assert(hits.forall(_.score > 0.0))
  }

  test("filter narrows but never scores") {
    val scored = handle.search(BoolQuery(must = Seq("data")), 10)
    val filtered = handle.search(
      BoolQuery(must = Seq("data"), filter = Seq("merge")), 10)
    assert(urlsOf(filtered) === Set("https://t.org/p/0", "https://t.org/p/4"))
    // same doc scores identically with and without the extra filter clause
    val byUrl = scored.map(h => h.url -> h.score).toMap
    filtered.foreach(h => assert(h.score === byUrl(h.url), h.url))
  }

  test("pure filter matches score 0.0, ranked by docId asc") {
    val hits = handle.search(BoolQuery(filter = Seq("window")), 10)
    assert(urlsOf(hits) ===
      Set("https://t.org/p/1", "https://t.org/p/2", "https://t.org/p/4"))
    assert(hits.forall(_.score === 0.0))
    assert(hits.map(_.docId).toSeq === hits.map(_.docId).sorted.toSeq)
  }

  test("mustNot vetoes, in both pure-should (WAND) and conjunctive paths") {
    val wand = handle.search(
      BoolQuery(should = Seq("window"), mustNot = Seq("slow")), 10)
    assert(urlsOf(wand) === Set("https://t.org/p/1", "https://t.org/p/4"))
    val conj = handle.search(
      BoolQuery(must = Seq("table"), mustNot = Seq("merge")), 10)
    assert(urlsOf(conj) === Set("https://t.org/p/2"))
  }

  test("should adds score on top of must but does not narrow") {
    val hits = handle.search(
      BoolQuery(must = Seq("data"), should = Seq("window")), 10)
    assert(urlsOf(hits) === Set("https://t.org/p/0", "https://t.org/p/1",
      "https://t.org/p/2", "https://t.org/p/4", "https://t.org/p/6"))
    val mustOnly = handle.search(BoolQuery(must = Seq("data")), 10)
      .map(h => h.url -> h.score).toMap
    hits.foreach { h =>
      val hasWindow = docs.find(_._1 == h.url).get._2.contains("window")
      if (hasWindow) assert(h.score > mustOnly(h.url), h.url)
      else assert(h.score === mustOnly(h.url), h.url)
    }
  }

  test("ids query restricts to listed urls; scored by should when given") {
    val ids = Seq("https://t.org/p/1", "https://t.org/p/3", "https://t.org/p/5",
      "https://t.org/nope")
    val bare = handle.search(BoolQuery(ids = Some(ids)), 10)
    assert(urlsOf(bare) ===
      Set("https://t.org/p/1", "https://t.org/p/3", "https://t.org/p/5"))
    assert(bare.forall(_.score === 0.0))
    val scored = handle.search(BoolQuery.byIds(ids, shouldText = "spark"), 10)
    assert(urlsOf(scored) ===
      Set("https://t.org/p/1", "https://t.org/p/3", "https://t.org/p/5"))
    assert(scored.count(_.score > 0.0) === 2) // p/5 has no 'spark'
  }

  test("unsatisfiable / degenerate queries return empty") {
    assert(handle.search(BoolQuery(must = Seq("nosuchterm")), 10).isEmpty)
    assert(handle.search(
      BoolQuery(must = Seq("data"), mustNot = Seq("data")), 10).isEmpty)
    assert(handle.search(BoolQuery(ids = Some(Seq("https://t.org/nope"))), 10).isEmpty)
    assert(handle.search(BoolQuery(), 10).isEmpty)
    // k = 0: both paths must return empty, not crash (the served path's
    // floor-raise used to call .min on the empty per-segment hit list)
    assert(handle.search(BoolQuery(must = Seq("data")), 0).isEmpty)
    assert(handle.servedSearch(BoolQuery(must = Seq("data")), 0).isEmpty)
    assert(handle.servedSearchAfter(BoolQuery(must = Seq("data")), 0, None).isEmpty)
  }

  test("ids resolve across appended generations") {
    val d2 = Files.createTempDirectory("graft-bool-gen").toString
    IndexBuilder.build(spark, docs.toDF("url", "text"), d2, cfg)
    IndexBuilder.append(spark,
      Seq(("https://t.org/p/7", "appended data spark")).toDF("url", "text"), d2)
    val h2 = new IndexHandle(spark, d2, warm = false)
    val hits = h2.search(
      BoolQuery(ids = Some(Seq("https://t.org/p/0", "https://t.org/p/7"))), 10)
    assert(urlsOf(hits) === Set("https://t.org/p/0", "https://t.org/p/7"))
  }

  test("differential fuzz: engine == oracle over random bool queries") {
    val rng = new scala.util.Random(4321)
    val vocab = Array("a", "b", "c", "d", "e", "f", "g", "h", "the", "of",
      "w1x", "w2x", "w3x", "rare1", "rare2")
    def randomText(): String = {
      val len = 1 + rng.nextInt(25)
      Seq.fill(len)(vocab(
        math.min(rng.nextInt(vocab.length), rng.nextInt(vocab.length))))
        .mkString(" ")
    }
    (1 to 4).foreach { round =>
      val nDocs = 40 + rng.nextInt(80)
      val fdocs = (0 until nDocs).map { i =>
        (f"https://bf$round%02d.org/p/$i%04d", randomText())
      }
      val fcfg = IndexConfig(numSegments = 3, blockSize = 4)
      val fdir = Files.createTempDirectory(s"graft-boolfuzz-$round").toString
      IndexBuilder.build(spark, fdocs.toDF("url", "text"), fdir, fcfg)
      val h = new IndexHandle(spark, fdir, warm = false)
      def pick(n: Int): Seq[String] =
        Seq.fill(n)(vocab(rng.nextInt(vocab.length))).distinct
      val queries = (1 to 12).map { qi =>
        val q = BoolQuery(
          must = pick(rng.nextInt(3)),
          should = pick(rng.nextInt(3)),
          filter = pick(rng.nextInt(2)),
          mustNot = pick(rng.nextInt(2)),
          ids = if (rng.nextInt(4) == 0)
            Some(Seq.fill(1 + rng.nextInt(8))(
              fdocs(rng.nextInt(fdocs.length))._1).distinct)
          else None)
        val k = 1 + rng.nextInt(12)
        val engine = h.search(q, k)
        val served = h.servedSearch(q, k)
        val oracle = OracleSearch.boolTopK(fdocs, q, k, fcfg.numSegments)
        assert(engine.map(x => (x.docId, x.score)).toSeq ===
          oracle.map(x => (x.docId, x.score)).toSeq,
          s"round=$round qi=$qi q=$q k=$k")
        assert(served.map(x => (x.docId, x.score)).toSeq ===
          oracle.map(x => (x.docId, x.score)).toSeq,
          s"served round=$round qi=$qi q=$q k=$k")
        (q, k)
      }

      // a second generation, then tombstones by url and by query: count
      // and scan (warm and cold) match the oracle's live docs, and top-k
      // and its next page agree on warm, cold and served paths
      val extra = (0 until 20 + rng.nextInt(40)).map { i =>
        (f"https://bf$round%02d.org/q/$i%04d", randomText())
      }
      IndexBuilder.append(spark, extra.toDF("url", "text"), fdir)
      val all = fdocs ++ extra
      val byUrl = all.map(_._1).filter(_ => rng.nextInt(8) == 0).toSet
      Deletes.delete(spark, fdir, byUrl.toSeq)
      val dq = BoolQuery(must = Seq("rare1"), mustNot = Seq("rare2"))
      Deletes.deleteByQuery(spark, fdir, dq)
      val dead = byUrl ++ OracleSearch.boolTopK(all, dq, all.size,
        fcfg.numSegments, byUrl).map(_.url)
      val cold = new IndexHandle(spark, fdir, warm = false)
      val warm = new IndexHandle(spark, fdir, warm = true)
      try queries.zipWithIndex.foreach { case ((q, k), qi) =>
        val what = s"two generations round=$round qi=$qi q=$q k=$k"
        // N, avgdl and df count deleted docs until a merge, as the oracle does
        val live = OracleSearch.boolTopK(all, q, all.size, fcfg.numSegments, dead)
          .map(x => (x.url, x.score)).toSet
        val full = cold.search(q, all.size)
        assert(full.map(x => (x.url, x.score)).toSet === live, what)
        Seq(cold, warm).foreach { hh =>
          assert(hh.countMatches(q) === live.size.toLong, what)
          assert(hh.matchesDF(q).select("docId", "url").as[(Long, String)].collect().toSet ===
            full.map(x => (x.docId, x.url)).toSet, what)
        }
        val page1 = cold.search(q, k)
        assert(warm.search(q, k).toSeq === page1.toSeq, what)
        assert(warm.servedSearch(q, k).toSeq === page1.toSeq, what)
        val cursor = page1.lastOption.map(x => (x.score, x.docId))
        val page2 = cold.searchAfter(q, k, cursor)
        assert(warm.searchAfter(q, k, cursor).toSeq === page2.toSeq, what)
        assert(warm.servedSearchAfter(q, k, cursor).toSeq === page2.toSeq, what)
      } finally warm.close()
    }
  }

  test("served path matches distributed path on the known corpus") {
    val qs = Seq(
      BoolQuery(must = Seq("data", "spark"), should = Seq("merge")),
      BoolQuery(filter = Seq("table"), should = Seq("window")),
      BoolQuery(should = Seq("data", "window"), mustNot = Seq("slow")))
    val warm = new IndexHandle(spark, dir, warm = true)
    try qs.foreach { q =>
      assert(warm.servedSearch(q, 10).toSeq === handle.search(q, 10).toSeq, q)
    } finally warm.close()
  }

  test("free-text topK is exactly pure-should search") {
    assert(Searcher.topK(spark, dir, "data spark merge", 5).toSeq ===
      handle.search(BoolQuery.text("data spark merge"), 5).toSeq)
  }

  test("matchesDF: full scan-with-query enumeration, urls rank-exact") {
    // match set AND resolved urls both exact vs the known corpus
    val got = handle.matchesDF(BoolQuery(must = Seq("data"), mustNot = Seq("slow")))
      .select("docId", "url").collect().map(r => r.getLong(0) -> r.getString(1))
    val wantUrls = Set("https://t.org/p/0", "https://t.org/p/1",
      "https://t.org/p/4", "https://t.org/p/6")
    assert(got.map(_._2).toSet === wantUrls)
    // docIds agree with the search path for the same query
    val viaSearch = handle.search(
      BoolQuery(must = Seq("data"), mustNot = Seq("slow")), 10)
      .map(h => h.docId -> h.url).toSet
    assert(got.toSet === viaSearch)
    // degenerate: unknown term -> empty frame, correct schema
    val empty = handle.matchesDF(BoolQuery(must = Seq("nosuchterm")))
    assert(empty.columns.toSeq === Seq("docId", "url", "segId"))
    assert(empty.count() === 0L)
    // ids query path (TermLens/TermUrls group anchoring)
    val byIds = handle.matchesDF(BoolQuery(
      ids = Some(Seq("https://t.org/p/2", "https://t.org/p/5")),
      filter = Seq("window")))
      .select("url").collect().map(_.getString(0)).toSet
    assert(byIds === Set("https://t.org/p/2"))
  }

  test("countMatches: exact total hits (track_total_hits) on the known corpus") {
    // pinned counts, and identity with the search path's match set size
    val qs = Seq(
      BoolQuery(must = Seq("data", "merge")) -> 2L, // p0, p4
      BoolQuery(must = Seq("data", "spark"), should = Seq("merge", "window"),
        filter = Seq("table"), mustNot = Seq("slow")) -> 2L, // p0, p4
      BoolQuery(should = Seq("merge", "window")) -> 5L, // p0-p4
      BoolQuery(must = Seq("nosuchterm")) -> 0L,
      BoolQuery(ids = Some(Seq("https://t.org/p/0", "https://t.org/p/5")),
        filter = Seq("data")) -> 1L) // p5 has no 'data'
    qs.foreach { case (q, want) =>
      assert(handle.countMatches(q) === want, q)
      assert(handle.search(q, docs.size + 1).length.toLong === want, q)
    }
  }

  test("orTree: balanced OR of the given predicates; refuses an empty input") {
    import org.apache.spark.sql.catalyst.expressions.{Expression, Or}
    import org.apache.spark.sql.catalyst.plans.logical.Filter
    import org.apache.spark.sql.functions.col
    intercept[IllegalArgumentException](Searcher.orTree(IndexedSeq.empty))
    // (depth, leaf count) of the OR tree, asserting every OR node splits
    // its leaves evenly (sizes differ by at most one)
    def shape(e: Expression): (Int, Int) = e match {
      case Or(l, r) =>
        val (dl, nl) = shape(l)
        val (dr, nr) = shape(r)
        assert(math.abs(nl - nr) <= 1, s"unbalanced OR node: $e")
        (1 + math.max(dl, dr), nl + nr)
      case _ => (0, 1)
    }
    Seq(1 -> 0, 2 -> 1, 7 -> 3).foreach { case (n, depth) =>
      val ids = (0 until n).map(i => 3L * i)
      val df = spark.range(30).filter(
        Searcher.orTree(ids.map(i => col("id") === i)))
      val cond = df.queryExecution.analyzed.collectFirst {
        case f: Filter => f.condition
      }.get
      assert(shape(cond) === ((depth, n)), s"n=$n: $cond")
      assert(df.as[Long].collect().toSet === ids.toSet, s"n=$n")
    }
  }
}
