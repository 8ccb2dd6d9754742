package perfbench

import org.scalatest.funsuite.AnyFunSuite

import graft.search.Hit

class ChecksSpec extends AnyFunSuite {
  private val hits = Array(Hit(1, 11, "u1", 3.0), Hit(2, 12, "u2", 2.0),
    Hit(3, 13, "u3", 2.0), Hit(4, 14, "u4", 1.0))

  test("sameHits accepts equal hits and rejects any difference") {
    assert(Checks.sameHits("q", hits, hits.clone()).isEmpty)
    assert(Checks.sameHits("q", hits, hits.take(3)).isDefined)
    assert(Checks.sameHits("q", hits,
      hits.updated(1, hits(1).copy(score = 2.0000001))).isDefined)
    assert(Checks.sameHits("q", hits, hits.updated(2, hits(2).copy(url = "x"))).isDefined)
  }

  test("a second page must be ranks k+1..2k of the top 2k") {
    val page2 = Array(Hit(1, 13, "u3", 2.0), Hit(2, 14, "u4", 1.0))
    assert(Checks.secondPage("q", page2, hits, 2).isEmpty)
    assert(Checks.secondPage("q", page2.reverse, hits, 2).isDefined)
    assert(Checks.secondPage("q", hits.take(2), hits, 2).isDefined)
  }

  test("no deleted url may come back") {
    assert(Checks.noneDeleted("q", hits, Set("u9")).isEmpty)
    assert(Checks.noneDeleted("q", hits, Set("u2")).isDefined)
  }

  test("top-k by url tolerates other ids and ties at the k-th score") {
    // u2 and u3 tie at the k-th score; either may fill rank 2
    val other = Array(Hit(1, 99, "u1", 3.0), Hit(2, 98, "u3", 2.0))
    assert(Checks.topKByUrl("q", other, hits, 2).isEmpty)
    // a wrong score, a url above the k-th score missing, a short answer
    assert(Checks.topKByUrl("q", Array(Hit(1, 1, "u1", 3.5), Hit(2, 2, "u2", 2.0)),
      hits, 2).isDefined)
    assert(Checks.topKByUrl("q", Array(Hit(1, 1, "u2", 2.0), Hit(2, 2, "u3", 2.0)),
      hits, 2).isDefined)
    assert(Checks.topKByUrl("q", other.take(1), hits, 2).isDefined)
  }

  test("live count must equal the ledger") {
    assert(Checks.liveCount("b", 10, 10).isEmpty)
    assert(Checks.liveCount("b", 11, 10).isDefined)
  }
}
