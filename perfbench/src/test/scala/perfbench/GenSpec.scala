package perfbench

import org.scalatest.funsuite.AnyFunSuite

import graft.corpus.{Corpus, Html}

class GenSpec extends AnyFunSuite {

  test("the query mix is a function of the seed") {
    assert(Gen.queryMix(7, 50) == Gen.queryMix(7, 50))
    assert(Gen.queryMix(7, 50) != Gen.queryMix(8, 50))
    val mix = Gen.queryMix(7, 200)
    assert(mix.distinct.size == 200)
    val kinds = mix.groupBy(_.kind).map { case (k, v) => k -> v.size }
    assert(kinds == Map("text" -> 100, "bool" -> 60, "page" -> 40))
    assert(mix.forall(q => !q.query.contradictory))
  }

  test("client streams are a function of seed and client") {
    assert(Gen.clientStream(3, 1, 60).take(100).toSeq ==
      Gen.clientStream(3, 1, 60).take(100).toSeq)
    assert(Gen.clientStream(3, 1, 60).take(100).toSeq !=
      Gen.clientStream(3, 2, 60).take(100).toSeq)
  }

  test("the corpus generator is a function of the seed") {
    assert(Corpus.genPage(5, 9, Gen.VocabSize, 120).text ==
      Corpus.genPage(5, 9, Gen.VocabSize, 120).text)
    assert(Corpus.genPage(5, 9, Gen.VocabSize, 120).text !=
      Corpus.genPage(5, 10, Gen.VocabSize, 120).text)
  }

  test("page lengths follow one distribution whatever the seed") {
    def meanTokens(seed: Long): Double =
      (0L until 2000L).map(i => Gen.page(i, seed, 120).text.count(_ == ' ') + 1).sum / 2000.0
    val means = (1L to 5L).map(meanTokens)
    assert(means.max / means.min < 1.05, means)
    assert(Gen.page(3, 1, 120).text == Gen.page(3, 1, 120).text)
    assert(Gen.page(3, 1, 120).url == Corpus.genPage(3, 9, Gen.VocabSize, 120).url)
  }

  private def ledger(seed: Long): Gen.Ledger = {
    val l = new Gen.Ledger(seed, 300, 40)
    l.addBase((0L until 300L).iterator.map { i =>
      val p = Corpus.genPage(i, seed, Gen.VocabSize, 40)
      (i, p.url, p.text)
    })
    l
  }

  test("refresh batches are a function of the seed") {
    val (a, b, c) = (ledger(1), ledger(1), ledger(2))
    val as = Seq.fill(3)(a.next(30, 10, 5))
    val bs = Seq.fill(3)(b.next(30, 10, 5))
    val cs = Seq.fill(3)(c.next(30, 10, 5))
    def key(r: RefreshBatch) = (r.raw.map(p => (p.url, p.warc_ts, p.text)), r.deletes)
    assert(as.map(key) == bs.map(key))
    assert(as.map(key) != cs.map(key))
    assert(a.live == b.live)
  }

  test("the ledger expects what ingestion must keep") {
    val l = ledger(4)
    val before = l.live.size
    val r = l.next(40, 10, 5)
    assert(l.live.size == before + 10 - 5)
    assert(r.deletes.forall(u => !l.live.valuesIterator.exists(_._1 == u)))
    // newest valid capture per url, plus the fresh pages
    val newest = r.raw.groupBy(_.url).map(_._2.maxBy(_.warc_ts.getTime))
    val valid = newest.count(p => Html.extract(p.html) == p.text)
    assert(valid == r.expectedPrepared)
    newest.filter(p => Html.extract(p.html) == p.text).foreach { p =>
      assert(l.live.valuesIterator.contains((p.url, p.text)))
    }
  }
}
