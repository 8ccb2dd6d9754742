package graft.search

import scala.collection.mutable

final case class SegHit(docId: Long, score: Double)

object SegHit {
  /** ONE home for the paging contract: global order is (score desc,
    * docId asc), so a hit lies strictly after a cursor iff its score is
    * lower, or equal with a higher docId. Both scorers apply it through
    * [[SegTopK]]. */
  @inline def strictlyAfter(cursor: SegHit, docId: Long, score: Double): Boolean =
    cursor == null || score < cursor.score ||
      (score == cursor.score && docId > cursor.docId)

  /** The public (score, docId) cursor tuple as the scorers' SegHit form. */
  def fromCursor(after: Option[(Double, Long)]): SegHit =
    after.map { case (s, d) => SegHit(d, s) }.orNull

  /** Heap ordering — the dual of [[strictlyAfter]] under the same global
    * (score desc, docId asc) order: in a min-heap the head is the WEAKEST
    * kept hit, so smaller score compares "greater", and at equal score the
    * larger docId is the weaker hit. [[SegTopK]]'s heap order. */
  val worstFirst: Ordering[SegHit] = (a: SegHit, b: SegHit) => {
    val c = java.lang.Double.compare(b.score, a.score)
    if (c != 0) c else java.lang.Long.compare(a.docId, b.docId)
  }
}

/** One segment's bounded top-k under the global (score desc, docId asc)
  * order — the collector both scorers share (Wand.topK and
  * BooleanScorer.conjunctiveTopK), so heap, theta, the `after` cursor and
  * the floor behave the same for every query shape. `k` must be positive.
  *
  * `floor` is an optional EXTERNAL pruning bound: any valid lower bound on
  * the GLOBAL (cross-segment) kth-best score. A doc with score strictly
  * below the global kth can never enter the global top-k no matter its
  * docId, so dropping on `bound < floor` is exact; equality is NOT
  * dropped (an equal score can still win the global docId-asc tie-break
  * against the segment that produced the floor). The local rule keeps its
  * `<=` drop — within one segment a later equal score always loses — and
  * the two rules prune independently.
  *
  * `after` is the search_after paging cursor (the LAST hit of the previous
  * page): only docs strictly after it may enter. Scores are deterministic
  * (pinned float accumulation order), so the equality compare is exact
  * across pages. An upper-bound filter cannot drive skipping, so the
  * scorers' own theta pruning still does all the work. */
private[search] final class SegTopK(k: Int, floor: Double, after: SegHit) {
  // min-heap on (score asc, docId desc): head = weakest kept hit
  private val heap = mutable.PriorityQueue.empty[SegHit](SegHit.worstFirst)

  /** The kth-best score so far; -inf until k hits are held. */
  private def theta: Double =
    if (heap.size < k) Double.NegativeInfinity else heap.head.score

  /** Can a doc whose score is at most `bound` still enter? It must
    * strictly beat theta (docs ascend, so a later equal score loses the
    * tie-break) and reach the floor. */
  @inline def admits(bound: Double): Boolean = bound > theta && bound >= floor

  def offer(doc: Long, score: Double): Unit =
    if (SegHit.strictlyAfter(after, doc, score)) {
      if (heap.size < k) heap.enqueue(SegHit(doc, score))
      else if (score > heap.head.score) { heap.dequeue(); heap.enqueue(SegHit(doc, score)) }
    }

  /** Best first; sub-floor hits that entered before the bounds tightened
    * are dropped — they cannot reach the global top-k. */
  def result: Array[SegHit] =
    heap.dequeueAll.reverse.filter(_.score >= floor).toArray
}

/** Document-at-a-time block-max WAND top-k over one segment's posting
  * cursors (the runtime the reference delegates to Elasticsearch/Lucene —
  * SURVEY.md §2.8 "top-k retrieval"; algorithm per Broder et al. 2003 and
  * Ding & Suel 2011, public literature) for pure-should queries.
  *
  * Correctness invariants:
  *  - results are exact top-k under (score desc, docId asc): a candidate is
  *    pruned only when its score upper bound is not admitted by the
  *    [[SegTopK]] collector, and an equal score arriving later necessarily
  *    has a larger docId (ascending traversal), so it loses the tie anyway;
  *  - full evaluation accumulates term contributions in ascending term
  *    order (`iters` is term-sorted) so floats are bit-identical to the
  *    exhaustive oracle;
  *  - excluded docs (mustNot, tombstones) go through the same check as the
  *    conjunction's ([[Conjunction.vetoed]]).
  */
object Wand {

  /** `iters` must be sorted by term asc and started; each cursor carries
    * its own norm source (PostingIterator.curScore — global, per-field or
    * norms-disabled). `exclude` cursors (bool mustNot, tombstones) veto
    * documents without contributing score. `floor` and `after` are
    * [[SegTopK]]'s. */
  def topK(
      iters: Array[PostingIterator],
      k: Int,
      exclude: Array[PostingIterator] = Array.empty,
      floor: Double = Double.NegativeInfinity,
      after: SegHit = null): Array[SegHit] = {
    val n = iters.length
    if (n == 0 || k <= 0) return Array.empty

    val top = new SegTopK(k, floor, after)
    // refs sorted by curDoc for pivoting; `iters` keeps term order for eval
    val refs: Array[PostingIterator] = iters.clone()

    def sortRefs(): Unit = {
      // insertion sort: nearly-sorted between iterations, tiny n
      var i = 1
      while (i < refs.length) {
        val x = refs(i)
        var j = i - 1
        while (j >= 0 && refs(j).curDoc > x.curDoc) { refs(j + 1) = refs(j); j -= 1 }
        refs(j + 1) = x
        i += 1
      }
    }

    def evalDoc(doc: Long): Unit = {
      if (!Conjunction.vetoed(exclude, doc)) {
        var s = 0.0
        var i = 0
        while (i < n) { // ascending term order — float-order pinned
          val it = iters(i)
          if (it.curDoc == doc) s += it.curScore
          i += 1
        }
        top.offer(doc, s)
      }
      var i = 0
      while (i < n) {
        if (iters(i).curDoc == doc) iters(i).next()
        i += 1
      }
    }

    var continue = true
    while (continue) {
      sortRefs()
      if (refs(0).exhausted) { continue = false }
      else {
        // pivot: first prefix whose summed upper bounds the collector admits
        var acc = 0.0
        var p = 0
        var found = false
        while (p < n && !found) {
          if (refs(p).exhausted) p = n
          else {
            acc += refs(p).maxScore
            if (top.admits(acc)) found = true else p += 1
          }
        }
        if (!found) continue = false
        else {
          val pivotDoc = refs(p).curDoc
          if (refs(0).curDoc == pivotDoc) {
            // extend to every cursor sitting on the pivot document
            var q = p
            while (q + 1 < n && refs(q + 1).curDoc == pivotDoc) q += 1
            // block-max refinement over cursors 0..q
            var bm = 0.0
            var i = 0
            while (i <= q) {
              refs(i).shallowSeek(pivotDoc)
              bm += refs(i).blockMaxScore
              i += 1
            }
            if (top.admits(bm)) evalDoc(pivotDoc)
            else {
              // skip past the smallest block boundary among 0..q, but not
              // past the next cursor's document
              var d = Long.MaxValue
              i = 0
              while (i <= q) {
                val bl = refs(i).blockLastDoc
                if (bl < d) d = bl
                i += 1
              }
              var target = if (d == Long.MaxValue) Long.MaxValue else d + 1
              if (target <= pivotDoc) target = pivotDoc + 1
              if (q + 1 < n && refs(q + 1).curDoc < target) target = refs(q + 1).curDoc
              i = 0
              while (i <= q) { refs(i).seek(target); i += 1 }
            }
          } else {
            // align cursors below the pivot onto it: docs in between can only
            // contain terms whose summed bounds the collector refused
            var i = 0
            while (i < p) {
              if (refs(i).curDoc < pivotDoc) refs(i).seek(pivotDoc)
              i += 1
            }
          }
        }
      }
    }
    top.result
  }
}
