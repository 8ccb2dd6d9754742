package graft.index

import org.apache.spark.sql.{Dataset, Encoder}
import org.apache.spark.sql.functions.{col, lit, when}

/** One segment's doc-length tables: the global analyzed-total table plus,
  * for multi-field indexes, one rank-aligned table per analyzed field. */
private[graft] final case class SegLens(
    global: Array[Int], byField: Map[String, Array[Int]])

private[graft] object SegLens {

  /** Assemble from one segment's TermLens and field-lens rows, in any
    * order; field tables are keyed by (unprefixed) field name. */
  def of(rows: Seq[PostingRow]): SegLens = {
    val (global, fields) = rows.partition(_.term == IndexBuilder.TermLens)
    SegLens(IndexBuilder.concatLens(global),
      fields.groupBy(_.term).map { case (t, rs) => t.substring(1) -> IndexBuilder.concatLens(rs) })
  }
}

/** One segment as the [[SegmentReader]] yields it: its buffered tombstone,
  * clause-term and (when asked) doc-length rows, and the streamed rows of
  * the heavy marker, ascending chunk. */
private[graft] final class Segment(
    val segId: Int,
    val dels: Seq[PostingRow],
    val terms: Seq[PostingRow],
    lensRows: Seq[PostingRow],
    val markers: Iterator[PostingRow]) {
  /** Decoded on first use: a segment no caller scores decodes no table. */
  lazy val lens: SegLens = SegLens.of(lensRows)
}

/** The one per-segment (leaf) walk behind top-k search, count, scan,
  * delete-by-query and the merge's live-url walk, each a different `body`.
  *
  * Memory contract: tombstone, clause-term and doc-length rows are
  * buffered per segment (the cursor machinery needs them up front; they
  * are compressed tombstones, the QUERY's terms and O(docs) ints, not the
  * segment's postings). The marker rows, the segment's DOMINANT bytes (one
  * url per document), are NEVER buffered: the sort puts them after the
  * buffered classes in chunk order, and `body` receives them as a
  * streaming iterator, one chunk row referenced at a time; the reader
  * drains what `body` leaves of them, so the next segment never starts
  * mid-segment. */
private[graft] object SegmentReader {

  /** Run `body` once per segment of `rows`. `clustered` rows already hold
    * each segment in one partition (a warm cache) and only sort locally;
    * any other read repartitions by segId once. */
  def perSegment[T: Encoder](rows: Dataset[PostingRow], clustered: Boolean,
      marker: Option[String], keepLens: Boolean)(body: Segment => Iterator[T]): Dataset[T] = {
    val parted = if (clustered) rows else rows.repartition(col("segId"))
    // the class column exists only when a marker rides along (a bare
    // lit(0) in ORDER BY would be read as ordinal position 0)
    val cls = marker.map(m => when(col("term") === lit(m), lit(1)).otherwise(lit(0)))
    parted.sortWithinPartitions((col("segId") +: cls.toSeq :+ col("chunk")): _*)
      .mapPartitions((it: Iterator[PostingRow]) => split(it, marker, keepLens).flatMap(body))
  }

  /** Split rows sorted by (segId, marker class, chunk) into segments.
    * TermLens rows without `keepLens` only anchor their segment. */
  private def split(rows: Iterator[PostingRow], marker: Option[String],
      keepLens: Boolean): Iterator[Segment] = {
    val it = rows.buffered
    new Iterator[Segment] {
      private var open: Iterator[PostingRow] = Iterator.empty
      def hasNext: Boolean = {
        open.foreach(_ => ())
        it.hasNext
      }
      def next(): Segment = {
        if (!hasNext) throw new NoSuchElementException("no segment left")
        val segId = it.head.segId
        val dels = Seq.newBuilder[PostingRow]
        val terms = Seq.newBuilder[PostingRow]
        val lens = Seq.newBuilder[PostingRow]
        while (it.hasNext && it.head.segId == segId && !marker.contains(it.head.term)) {
          val r = it.next()
          if (r.term == IndexBuilder.TermDels) dels += r
          // TermLens ("") and the field-lens rows ("\u0000" + field)
          else if (r.term < IndexBuilder.TermUrls) { if (keepLens) lens += r }
          else terms += r
        }
        open = new Iterator[PostingRow] {
          def hasNext: Boolean = it.hasNext && it.head.segId == segId
          def next(): PostingRow = it.next()
        }
        new Segment(segId, dels.result(), terms.result(), lens.result(), open)
      }
    }
  }
}
