package graft.search

/** One segment's match walk — the conjunction driver behind top-k, count,
  * scan and delete-by-query alike (Lucene's bool-query walk, the runtime
  * the reference leaves to Elasticsearch, SURVEY.md §2.8): the docs held by
  * every `required` cursor and, when `ids` is non-null, listed in the
  * segment's sorted ids allowlist, minus the docs an `excluded` cursor
  * (mustNot term or tombstone row) holds. The required cursors and the
  * allowlist leapfrog: each seeks to the largest doc any of them sits on
  * until all agree, skipping via block metadata (PostingIterator.seek), so
  * the rarest clause drives the walk at its own posting density.
  *
  * Counts and scans must agree exactly with top-k, so there is one walk;
  * the scorers and the enumerators only differ in what they do with each
  * match. `nextFrom` must be called with ascending targets: every cursor
  * only moves forward. */
private[graft] final class Conjunction(
    required: Array[PostingIterator],
    excluded: Array[PostingIterator],
    ids: Array[Long],
    segBase: Long) {
  require(required.nonEmpty || ids != null,
    "a conjunction needs a required clause; pure-should queries take Wand")

  private var idsPos = 0

  /** The first live match at or after `doc`, or -1 when none is left. */
  def nextFrom(doc: Long): Long = {
    var candidate = doc
    while (true) {
      if (ids != null) {
        while (idsPos < ids.length && ids(idsPos) < candidate) idsPos += 1
        if (idsPos == ids.length) return -1L
        candidate = ids(idsPos)
      }
      var maxReq = candidate
      var i = 0
      while (i < required.length) {
        val r = required(i)
        r.seek(candidate)
        if (r.exhausted) return -1L
        if (r.curDoc > maxReq) maxReq = r.curDoc
        i += 1
      }
      if (maxReq > candidate) candidate = maxReq // leapfrog realign
      else if (Conjunction.vetoed(excluded, candidate)) candidate += 1
      else return candidate
    }
    -1L
  }

  /** Every match of the segment, ascending and lazily. */
  def matches: Iterator[Long] = new Iterator[Long] {
    private var nextDoc = nextFrom(segBase + 1)
    def hasNext: Boolean = nextDoc >= 0
    def next(): Long = { val d = nextDoc; nextDoc = nextFrom(d + 1); d }
  }
}

private[graft] object Conjunction {
  /** The one exclusion check (conjunction, pure-should union walk and
    * WAND): does an excluded cursor hold `doc`? Docs ascend between calls,
    * so the seeks only move forward, and a cursor skipped by the early
    * return catches up at its next seek. Exclusion only removes
    * candidates, so every score bound stays exact. */
  def vetoed(excluded: Array[PostingIterator], doc: Long): Boolean = {
    var e = 0
    while (e < excluded.length) {
      val x = excluded(e)
      x.seek(doc)
      if (x.curDoc == doc) return true
      e += 1
    }
    false
  }
}

/** Conjunctive document-at-a-time scorer for [[BoolQuery]] queries with
  * required clauses (must / filter / ids): it scores each match the
  * [[Conjunction]] walk yields over the must∪should cursors, probed in
  * ascending term order — bit-identical to OracleSearch.boolTopK — and
  * keeps the best in a [[SegTopK]].
  *
  * Pruning: once the collector holds k hits whose worst score >= the
  * static sum of the scoring terms' upper bounds, no later doc can
  * strictly beat it (equal scores lose the docId-asc tie-break), so the
  * walk stops. The conjunction itself is the dominant prune.
  *
  * Pure-should queries do NOT come here — they take the block-max WAND path
  * (Wand.topK), which prunes by score upper bounds instead. */
object BooleanScorer {

  /** `required` = must+filter cursors; `scoring` = must∪should cursors
    * sorted by term asc; `ids` = sorted seg-local docIds or null when the
    * query has no ids clause. All cursors must be started. `floor` and
    * `after` are the external bound and the paging cursor of
    * [[Wand.topK]]. */
  def conjunctiveTopK(
      required: Array[PostingIterator],
      scoring: Array[PostingIterator],
      excluded: Array[PostingIterator],
      ids: Array[Long],
      segBase: Long,
      k: Int,
      floor: Double = Double.NegativeInfinity,
      after: SegHit = null): Array[SegHit] = {
    val walk = new Conjunction(required, excluded, ids, segBase)
    if (k <= 0) return Array.empty
    val top = new SegTopK(k, floor, after)
    var staticBound = 0.0
    var i = 0
    while (i < scoring.length) { staticBound += scoring(i).maxScore; i += 1 }
    var doc = segBase + 1
    while (doc >= 0 && top.admits(staticBound)) {
      doc = walk.nextFrom(doc)
      if (doc >= 0) {
        var s = 0.0
        var j = 0
        while (j < scoring.length) { // ascending term order
          val it = scoring(j)
          it.seek(doc)
          if (it.curDoc == doc) s += it.curScore
          j += 1
        }
        top.offer(doc, s)
        doc += 1
      }
    }
    top.result
  }
}
