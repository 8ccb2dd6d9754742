package perfbench

import java.sql.Timestamp

import scala.collection.mutable

import graft.corpus.{Corpus, Html, Page}
import graft.search.BoolQuery

/** One query of the seeded mix. `page` queries are asked for their second
  * page through search_after. */
final case class Q(kind: String, query: BoolQuery)

/** One refresh batch: the raw crawl rows handed to `Ingest.prepareBatch`,
  * the urls handed to `Deletes.delete`, and what the benchmark's own
  * ledger expects to be live afterwards. */
final case class RefreshBatch(
    raw: Seq[Page],
    deletes: Seq[String],
    expectedPrepared: Int)

/** Seeded input generators. Every input is a pure function of the seed and
  * the generator's arguments; the program under test sees only the result. */
object Gen {
  val VocabSize = 5000

  /** splitmix64 finalizer. */
  def mix(x: Long): Long = {
    var z = x + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  /** Page `id` of the corpus for `seed`: `Corpus.genPage` with a seed of
    * its own per page. `Corpus.pages` seeds page i's generator with
    * seed * c + i, and consecutive seeds make the first draws of
    * java.util.Random correlated, so the mean document length swings from
    * about 80 to 210 tokens between seeds (median 120 intended). A seed
    * mixed per page restores the intended distribution; the url still
    * depends on the id alone. */
  def page(id: Long, seed: Long, medianLen: Int): Page =
    Corpus.genPage(id, mix(seed ^ mix(id)), VocabSize, medianLen)

  private def zipfCdf(n: Int, s: Double): Array[Double] = {
    val w = Array.tabulate(n)(i => math.pow(i + 1.0, -s))
    val total = w.sum
    w.scanLeft(0.0)(_ + _).tail.map(_ / total)
  }
  private lazy val cdf = zipfCdf(VocabSize, 1.0)

  /** A term drawn Zipf(1.0) over the corpus vocabulary: mostly head terms
    * with long posting lists, with a tail of rare ones. */
  def term(rng: java.util.Random): String = {
    val u = rng.nextDouble()
    val i = java.util.Arrays.binarySearch(cdf, u)
    Corpus.vocab(VocabSize)(math.min(VocabSize - 1, if (i >= 0) i else -i - 1))
  }

  private def terms(rng: java.util.Random, lo: Int, hi: Int): String =
    Seq.fill(lo + rng.nextInt(hi - lo + 1))(term(rng)).mkString(" ")

  /** `n` distinct queries: of every ten, five free text of 1-4 terms,
    * three bool with must/filter/mustNot and two second-page
    * search_after. A draw that analyzes to nothing, contradicts itself or
    * repeats an earlier query is drawn again. */
  def queryMix(seed: Long, n: Int): IndexedSeq[Q] = {
    val rng = new java.util.Random(seed * 0x9e3779b97f4a7c15L + 17)
    def draw(slot: Int): Q = slot % 10 match {
      case s if s < 5 => Q("text", BoolQuery.text(terms(rng, 1, 4)))
      case s if s < 8 => Q("bool", BoolQuery.text(
        shouldText = terms(rng, 0, 2),
        mustText = terms(rng, 1, 1),
        filterText = if (rng.nextBoolean()) terms(rng, 1, 1) else "",
        mustNotText = terms(rng, 1, 1)))
      case _ => Q("page", BoolQuery.text(terms(rng, 1, 3)))
    }
    val seen = mutable.LinkedHashSet.empty[Q]
    (0 until n).foreach { slot =>
      var q = draw(slot)
      while (seen.contains(q) || q.query.contradictory ||
          (q.query.must.isEmpty && q.query.should.isEmpty)) q = draw(slot)
      seen += q
    }
    seen.toIndexedSeq
  }

  /** Deterministic per-client stream of indices into the query mix. */
  def clientStream(seed: Long, client: Int, mixSize: Int): Iterator[Int] = {
    val rng = new java.util.Random(seed * 31 + client * 0x632be59bd9b4e019L)
    Iterator.continually(rng.nextInt(mixSize))
  }

  /** Refresh batches against a ledger of live pages (id -> (url, text)).
    * Each batch recrawls live pages (a quarter with a stale older edition
    * beside the newest one, one in twenty with a corrupt newest capture
    * that ingestion must drop), adds fresh urls and deletes live pages
    * that the batch does not touch otherwise. The ledger is updated to
    * what must be live after the batch. */
  final class Ledger(seed: Long, baseDocs: Long, medianLen: Int) {
    val live = mutable.LinkedHashMap.empty[Long, (String, String)]
    private var nextId = baseDocs
    private var batchNo = 0

    def addBase(pages: Iterator[(Long, String, String)]): Unit =
      pages.foreach { case (id, url, text) => live(id) = (url, text) }

    def liveDocs: Seq[(String, String)] = live.valuesIterator.toSeq

    def next(recrawl: Int, fresh: Int, deletes: Int): RefreshBatch = {
      batchNo += 1
      val rng = new java.util.Random(seed * 0x2545f4914f6cdd1dL + batchNo)
      val ids = live.keysIterator.toIndexedSeq
      val picked = mutable.LinkedHashSet.empty[Long]
      while (picked.size < math.min(recrawl + deletes, ids.size))
        picked += ids(rng.nextInt(ids.size))
      val (re, del) = picked.toSeq.splitAt(math.min(recrawl, picked.size))
      val tsNew = new Timestamp(1735689600000L + batchNo * 3600000L)
      val tsOld = new Timestamp(tsNew.getTime - 60000L)
      val textSeed = seed * 1000003L + batchNo
      val raw = mutable.ArrayBuffer.empty[Page]
      var prepared = 0
      re.foreach { id =>
        val url = live(id)._1
        val text = page(id, textSeed, medianLen).text
        val lang = "en"
        if (rng.nextInt(4) == 0) {
          val stale = page(id, textSeed + 1, medianLen).text
          raw += Page(url, tsOld, Html.wrap(url, stale), stale, lang)
        }
        if (rng.nextInt(20) == 0) {
          // the extracted text will not match the text column
          raw += Page(url, tsNew, Html.wrap(url, text + " x"), text, lang)
        } else {
          raw += Page(url, tsNew, Html.wrap(url, text), text, lang)
          live(id) = (url, text)
          prepared += 1
        }
      }
      (0 until fresh).foreach { _ =>
        val p = page(nextId, seed, medianLen)
        raw += p.copy(warc_ts = tsNew)
        live(nextId) = (p.url, p.text)
        nextId += 1
        prepared += 1
      }
      val delUrls = del.map(id => live.remove(id).get._1)
      RefreshBatch(raw.toSeq, delUrls, prepared)
    }
  }
}
