package perfbench

import graft.search.Hit

/** Output checks. Each returns None when the program's answer agrees with
  * the computation it is checked against, or a one-line reason. */
object Checks {

  private def show(h: Hit): String = s"(${h.rank}, ${h.url}, ${h.score})"

  /** Same hits: rank, url and score, in order. */
  def sameHits(what: String, got: Array[Hit], want: Array[Hit]): Option[String] =
    if (got.length != want.length)
      Some(s"$what: ${got.length} hits, expected ${want.length}")
    else got.indices.collectFirst {
      case i if got(i).rank != want(i).rank || got(i).url != want(i).url ||
          got(i).score != want(i).score =>
        s"$what: hit $i is ${show(got(i))}, expected ${show(want(i))}"
    }

  /** A search_after second page equals ranks k+1..2k of a top-2k query. */
  def secondPage(what: String, page2: Array[Hit], top2k: Array[Hit],
      k: Int): Option[String] =
    sameHits(what, page2,
      top2k.drop(k).zipWithIndex.map { case (h, i) => h.copy(rank = i + 1) })

  /** No returned url was deleted. */
  def noneDeleted(what: String, hits: Array[Hit],
      deleted: String => Boolean): Option[String] =
    hits.find(h => deleted(h.url)).map(h => s"$what: returned deleted ${h.url}")

  /** Top-k against an exhaustive ranking of the same live pages whose doc
    * ids differ (ids move when pages are rewritten): every returned url
    * carries the oracle's score for it, and the urls scoring above the
    * k-th score are exactly the oracle's. Ties at the k-th score may be
    * broken by different ids. */
  def topKByUrl(what: String, got: Array[Hit], oracleAll: Array[Hit],
      k: Int): Option[String] = {
    val want = oracleAll.take(k)
    val scores = oracleAll.iterator.map(h => h.url -> h.score).toMap
    if (got.length != want.length)
      Some(s"$what: ${got.length} hits, expected ${want.length}")
    else got.collectFirst {
      case h if !scores.get(h.url).contains(h.score) =>
        s"$what: ${h.url} scored ${h.score}, expected ${scores.get(h.url)}"
    }.orElse {
      val kth = if (want.isEmpty) Double.MaxValue else want.last.score
      val above = (hs: Array[Hit]) => hs.filter(_.score > kth).map(_.url).toSet
      if (above(got) == above(want)) None
      else Some(s"$what: urls above the k-th score differ")
    }
  }

  /** Live documents counted by the index equal the ledger's. */
  def liveCount(what: String, indexLive: Long, ledgerLive: Long): Option[String] =
    if (indexLive == ledgerLive) None
    else Some(s"$what: index holds $indexLive live docs, ledger $ledgerLive")
}
