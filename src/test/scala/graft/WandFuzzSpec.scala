package graft

import java.nio.file.Files

import graft.index.{IndexBuilder, IndexConfig, PostingRow, Varint}
import graft.search.{Bm25, OracleSearch, PostingIterator, Searcher}

/** Differential fuzzing of the WAND/posting-codec core: random corpora with
  * tiny blocks (block skipping fires constantly) must stay rank- and
  * score-identical to the exhaustive oracle; posting cursors must agree
  * with a full decode under random seek patterns. Seeded — failures are
  * reproducible. */
class WandFuzzSpec extends SparkSuite {
  import spark.implicits._

  // per-test seeds: a single shared Random would make each test's corpora
  // depend on suite execution order/filtering (testOnly -z reruns would
  // generate DIFFERENT inputs than the failing CI run — unreproducible)

  test("random corpora x random queries: engine == oracle (blockSize 4)") {
    val rng = new scala.util.Random(1234)
    val vocab = Array("a", "b", "c", "d", "e", "f", "g", "h", "the", "of",
      "w1x", "w2x", "w3x", "rare1", "rare2")
    (1 to 6).foreach { round =>
      val nDocs = 30 + rng.nextInt(120)
      val docs = (0 until nDocs).map { i =>
        val len = 1 + rng.nextInt(30)
        val text = Seq.fill(len)(vocab(
          math.min(rng.nextInt(vocab.length), rng.nextInt(vocab.length)))) // skew
          .mkString(" ")
        (f"https://fuzz$round%02d.org/p/$i%04d", text)
      }
      val cfg = IndexConfig(numSegments = 4, blockSize = 4)
      val dir = Files.createTempDirectory(s"graft-fuzz-$round").toString
      IndexBuilder.build(spark, docs.toDF("url", "text"), dir, cfg)
      (1 to 8).foreach { _ =>
        val qTerms = Seq.fill(1 + rng.nextInt(4))(vocab(rng.nextInt(vocab.length)))
        val q = qTerms.mkString(" ")
        val k = 1 + rng.nextInt(15)
        val engine = Searcher.topK(spark, dir, q, k)
        val oracle = OracleSearch.topK(docs, q, k, cfg.numSegments)
        assert(engine.map(h => (h.docId, h.score)).toSeq ===
          oracle.map(h => (h.docId, h.score)).toSeq,
          s"round=$round q='$q' k=$k")
      }
    }
  }

  test("external floor: exact results at every boundary (incl. floor == a hit's score)") {
    val rng = new scala.util.Random(2345)
    // floor semantics: result == (true top-k).filter(score >= floor) — a doc
    // scoring exactly the floor must SURVIVE (it can still win the global
    // docId tie-break against the segment that produced the floor)
    (1 to 20).foreach { round =>
      val n = 20 + rng.nextInt(80)
      val segBase = IndexBuilder.segBase(1)
      val lens = Array.fill(n)(5 + rng.nextInt(40))
      val avgdl = lens.sum.toDouble / n
      val terms = Seq("aa", "bb", "cc").take(1 + rng.nextInt(3))
      val postings = terms.map { t =>
        val docs = (1 to n).filter(_ => rng.nextInt(3) > 0) // ~2/3 density
        t -> docs.map(r => (segBase + r, 1 + rng.nextInt(5), lens(r - 1)))
      }.filter(_._2.nonEmpty)
      val blockSize = 1 + rng.nextInt(6)
      val iters = postings.map { case (t, ps) =>
        val row = IndexBuilder.encodeForTest(
          IndexBuilder.TokRowsForTest(1, t, ps.map(_._1).toArray,
            ps.map(_._2).toArray, ps.map(_._3).toArray), blockSize)
        val it = new PostingIterator(row,
          Bm25.idf(n.toLong, ps.size.toLong), blockSize, avgdl, lens)
        it -> (t, ps)
      }
      // brute force, ascending term order (same float order as Wand's eval)
      val byDoc = scala.collection.mutable.LinkedHashMap.empty[Long, Double]
      iters.sortBy(_._2._1).foreach { case (it, (_, ps)) =>
        ps.foreach { case (d, tf, dl) =>
          byDoc(d) = byDoc.getOrElse(d, 0.0) + it.idf * Bm25.tfNorm(tf, dl, avgdl)
        }
      }
      val full = byDoc.toSeq.sortBy { case (d, s) => (-s, d) }
      val scores = full.map(_._2)
      val floors = Seq(Double.NegativeInfinity, scores.head + 1.0) ++
        scores.take(6) ++ // exact boundaries
        scores.take(5).map(_ - 1e-9) // just below
      floors.foreach { f =>
        val k = 1 + rng.nextInt(12)
        val expected = full.take(k).filter(_._2 >= f)
        // cursors are single-use — rebuild per floor
        val fresh = postings.map { case (t, ps) =>
          val row = IndexBuilder.encodeForTest(
            IndexBuilder.TokRowsForTest(1, t, ps.map(_._1).toArray,
              ps.map(_._2).toArray, ps.map(_._3).toArray), blockSize)
          val it = new PostingIterator(row,
            Bm25.idf(n.toLong, ps.size.toLong), blockSize, avgdl, lens)
          it.start()
          it
        }.sortBy(_.term).toArray
        val got = graft.search.Wand.topK(fresh, k, floor = f)
        assert(got.map(h => (h.docId, h.score)).toSeq === expected,
          s"round=$round k=$k floor=$f")
      }
    }
  }

  /** A started cursor over segment 1's postings (docId, tf, dl). */
  private def segCursor(term: String, ps: Seq[(Long, Int, Int)], blockSize: Int,
      idf: Double = 0.0, avgdl: Double = 1.0,
      lens: Array[Int] = null): PostingIterator = {
    val row = IndexBuilder.encodeForTest(
      IndexBuilder.TokRowsForTest(1, term, ps.map(_._1).toArray,
        ps.map(_._2).toArray, ps.map(_._3).toArray), blockSize)
    val it = new PostingIterator(row, idf, blockSize, avgdl, lens)
    it.start()
    it
  }

  test("conjunction driver: matches == (required ∩ ids) − excluded (set algebra)") {
    val rng = new scala.util.Random(4567)
    val segBase = IndexBuilder.segBase(1)
    (1 to 60).foreach { round =>
      val n = 10 + rng.nextInt(90)
      val blockSize = 1 + rng.nextInt(6)
      def subset(density: Int): Seq[Long] =
        (1 to n).filter(_ => rng.nextInt(density) == 0).map(segBase + _)
      val lastDoc = segBase + n
      // round % 3: 0 = ids with no required term; 1 = a required list that
      // ends early, so the ids (which always list the last doc) run past
      // its end; 2 = a required list holding the last doc
      val req: Option[Seq[Long]] =
        if (round % 3 == 0) None
        else Some {
          val r = subset(2)
          if (round % 3 == 1) r.take(r.size / 2).padTo(1, segBase + 1)
          else (r :+ lastDoc).distinct
        }
      val ids: Option[Seq[Long]] =
        if (req.nonEmpty && rng.nextInt(3) == 0) None
        else Some((subset(3) :+ lastDoc).distinct)
      // even rounds exclude the last doc
      val excl: Seq[Seq[Long]] =
        Seq.fill(if (round % 2 == 0) 1 + rng.nextInt(2) else rng.nextInt(3))(subset(4))
          .map(e => if (round % 2 == 0) (e :+ lastDoc).distinct else e)
          .filter(_.nonEmpty)
      val universe = (1 to n).map(segBase + _)
      val expected = universe
        .filter(d => req.forall(_.contains(d)) && ids.forall(_.contains(d)))
        .filterNot(d => excl.exists(_.contains(d)))

      def walk() = new graft.search.Conjunction(
        req.toArray.map(r => segCursor("aa", r.map(d => (d, 1, 1)), blockSize)),
        excl.zipWithIndex.map { case (e, i) =>
          segCursor(s"ex$i", e.map(d => (d, 1, 1)), blockSize) }.toArray,
        ids.map(_.toArray).orNull, segBase)
      val ctx = s"round=$round bs=$blockSize req=${req.map(_.size)} " +
        s"ids=${ids.map(_.size)} excl=${excl.map(_.size)}"
      assert(walk().matches.toSeq === expected, ctx)
      // nextFrom at random ascending targets == the first match at or after
      val w = walk()
      var target = segBase + 1
      while (target <= lastDoc + 1) {
        val want = expected.find(_ >= target).getOrElse(-1L)
        assert(w.nextFrom(target) === want, s"$ctx target=$target")
        target += 1 + rng.nextInt(8)
      }
    }
  }

  test("conjunctiveTopK: floor and search_after cursor == brute force") {
    val rng = new scala.util.Random(5678)
    val segBase = IndexBuilder.segBase(1)
    (1 to 30).foreach { round =>
      val n = 20 + rng.nextInt(80)
      val blockSize = 1 + rng.nextInt(6)
      // coarse lengths and tfs => exact score ties cross page boundaries
      val lens = Array.fill(n)(5 + 5 * rng.nextInt(4))
      val avgdl = lens.sum.toDouble / n
      def postings(density: Int): Seq[(Long, Int, Int)] =
        (1 to n).filter(_ => rng.nextInt(density) == 0)
          .map(r => (segBase + r, 1 + rng.nextInt(3), lens(r - 1)))
      val must = postings(2) match { case Seq() => postings(1); case p => p }
      val should = Seq("bb" -> postings(2), "cc" -> postings(3)).filter(_._2.nonEmpty)
      val scoringTerms = (("aa" -> must) +: should).sortBy(_._1)
      val idf = scoringTerms.map { case (t, ps) =>
        t -> Bm25.idf(n.toLong, ps.size.toLong) }.toMap
      val ids: Option[Seq[Long]] =
        if (rng.nextBoolean()) None
        else Some((1 to n).filter(_ => rng.nextInt(3) > 0).map(segBase + _))
      val excl = Seq.fill(rng.nextInt(3))(postings(5)).filter(_.nonEmpty)
      val excluded = excl.flatten.map(_._1).toSet
      // brute force, ascending term order (the scorer's float order)
      val full = must.map(_._1)
        .filter(d => ids.forall(_.contains(d)) && !excluded.contains(d))
        .map { d =>
          var s = 0.0
          scoringTerms.foreach { case (t, ps) =>
            ps.find(_._1 == d).foreach { case (_, tf, dl) =>
              s += idf(t) * Bm25.tfNorm(tf, dl, avgdl) }
          }
          (d, s)
        }.sortBy { case (d, s) => (-s, d) }
      val afters = None +: full.take(8).map(Some(_))
      val floors = Seq(Double.NegativeInfinity) ++ full.take(4).map(_._2) ++
        full.take(2).map(_._2 - 1e-9)
      for (after <- afters; f <- floors) {
        val k = 1 + rng.nextInt(10)
        val expected = full.filter { case (d, s) => after.forall { case (ad, as) =>
          s < as || (s == as && d > ad) } }.take(k).filter(_._2 >= f)
        // cursors are single-use — rebuild per case
        val scoring = scoringTerms.map { case (t, ps) =>
          segCursor(t, ps, blockSize, idf(t), avgdl, lens) }.toArray
        val got = graft.search.BooleanScorer.conjunctiveTopK(
          Array(scoring(scoringTerms.indexWhere(_._1 == "aa"))), scoring,
          excl.zipWithIndex.map { case (e, i) =>
            segCursor(s"ex$i", e, blockSize) }.toArray,
          ids.map(_.toArray).orNull, segBase, k, floor = f,
          after = after.map { case (d, s) => graft.search.SegHit(d, s) }.orNull)
        assert(got.map(h => (h.docId, h.score)).toSeq === expected,
          s"round=$round bs=$blockSize k=$k floor=$f after=$after")
      }
    }
  }

  test("search_after paging: stitched pages == one-shot top-k (fuzz)") {
    val rng = new scala.util.Random(3456)
    import graft.search.{BoolQuery, IndexHandle}
    val vocab = Array("a", "b", "c", "d", "the", "of", "w1x")
    (1 to 5).foreach { round =>
      val nDocs = 40 + rng.nextInt(120)
      // tiny vocab + coarse lengths => many EXACTLY equal scores => page
      // boundaries regularly land inside tie runs
      val docs = (0 until nDocs).map { i =>
        val len = 1 + rng.nextInt(20)
        val text = Seq.fill(len)(vocab(rng.nextInt(vocab.length))).mkString(" ")
        (f"https://page$round%02d.org/p/$i%04d", text)
      }
      val cfg = IndexConfig(numSegments = 4, blockSize = 4)
      val dir = Files.createTempDirectory(s"graft-page-$round").toString
      IndexBuilder.build(spark, docs.toDF("url", "text"), dir, cfg)
      val h = new IndexHandle(spark, dir, warm = false)
      (1 to 5).foreach { _ =>
        val q =
          if (rng.nextBoolean())
            BoolQuery.text(Seq.fill(1 + rng.nextInt(3))(
              vocab(rng.nextInt(vocab.length))).mkString(" "))
          else BoolQuery(must = Seq(vocab(rng.nextInt(4))),
            should = Seq(vocab(rng.nextInt(vocab.length))))
        val total = 5 + rng.nextInt(25)
        val oneShot = h.search(q, total).map(x => (x.docId, x.score)).toSeq
        val pageSize = 1 + rng.nextInt(7)
        def stitch(fetch: (Int, Option[(Double, Long)]) => Array[graft.search.Hit])
            : Seq[(Long, Double)] = {
          var acc = Vector.empty[(Long, Double)]
          var after: Option[(Double, Long)] = None
          var done = false
          while (!done && acc.size < total) {
            val page = fetch(math.min(pageSize, total - acc.size), after)
            if (page.isEmpty) done = true
            else {
              acc ++= page.map(x => (x.docId, x.score))
              after = Some((page.last.score, page.last.docId))
            }
          }
          acc
        }
        assert(stitch(h.searchAfter(q, _, _)) === oneShot,
          s"round=$round q=$q p=$pageSize (distributed)")
        assert(stitch(h.servedSearchAfter(q, _, _)) === oneShot,
          s"round=$round q=$q p=$pageSize (served)")
      }
    }
  }

  test("search_after: exact tie run across the page boundary (docId tie-break)") {
    val rng = new scala.util.Random(4567)
    import graft.search.{BoolQuery, IndexHandle}
    // 7 docs with IDENTICAL text => identical scores; pages of 2 repeatedly
    // cut inside the tie run — the cursor's (score ==, docId >) edge
    val docs = (0 until 7).map(i => (f"https://tie.org/p/$i%02d", "a a b"))
    val dir = Files.createTempDirectory("graft-page-tie").toString
    IndexBuilder.build(spark, docs.toDF("url", "text"), dir,
      IndexConfig(numSegments = 3, blockSize = 4))
    val h = new IndexHandle(spark, dir, warm = false)
    val q = BoolQuery.text("a")
    val oneShot = h.search(q, 7).map(x => (x.docId, x.score)).toSeq
    assert(oneShot.size === 7)
    assert(oneShot.map(_._2).distinct.size === 1, "scores must all tie")
    assert(oneShot.map(_._1) === oneShot.map(_._1).sorted, "docId asc within tie")
    var acc = Vector.empty[(Long, Double)]
    var after: Option[(Double, Long)] = None
    (1 to 4).foreach { _ =>
      val page = h.searchAfter(q, 2, after)
      acc ++= page.map(x => (x.docId, x.score))
      if (page.nonEmpty) after = Some((page.last.score, page.last.docId))
    }
    assert(acc === oneShot)
    // and paging past the end returns empty
    assert(h.searchAfter(q, 2, after).isEmpty)
  }

  test("posting cursor: random seeks agree with full decode") {
    val rng = new scala.util.Random(5678)
    (1 to 50).foreach { it =>
      val n = 1 + rng.nextInt(300)
      val segBase = IndexBuilder.segBase(3)
      val docIds = {
        var cur = segBase
        Array.fill(n) { cur += 1 + rng.nextInt(20); cur }
      }
      val tfs = Array.fill(n)(1 + rng.nextInt(9))
      val lens = Array.fill(n)(5 + rng.nextInt(50))
      val blockSize = 1 + rng.nextInt(8)
      // encode via the real builder encoder
      val rows = IndexBuilder.TokRowsForTest(3, "t", docIds, tfs, lens)
      val encoded = IndexBuilder.encodeForTest(rows, blockSize)
      assert(encoded.df === n)
      assert(Varint.decodeDeltas(encoded.docBytes, segBase).toSeq === docIds.toSeq)

      // random monotone seek pattern vs linear reference
      val cursor = new PostingIterator(encoded, 1.0, blockSize, 25.0, null)
      cursor.start()
      var target = segBase
      while (target < docIds.last + 5) {
        target += 1 + rng.nextInt(30)
        cursor.seek(target)
        val expectedIdx = docIds.indexWhere(_ >= target)
        if (expectedIdx < 0) assert(cursor.exhausted, s"it=$it target=$target")
        else {
          assert(cursor.curDoc === docIds(expectedIdx), s"it=$it target=$target")
          assert(cursor.curTf === tfs(expectedIdx), s"it=$it target=$target")
        }
      }
    }
  }
}
