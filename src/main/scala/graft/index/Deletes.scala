package graft.index

import org.apache.spark.sql.{Dataset, Observation, SparkSession}
import org.apache.spark.sql.functions._

import graft.search.{BoolQuery, IndexHandle}

/** One input row of the tombstone writer (`Deletes.writeTombstones`):
  * docIds of segment `segId` to kill, or its prior TermDels row `prior`
  * (null when the row carries ids). */
private[index] case class TombIn(segId: Int, prior: PostingRow, ids: Array[Long])

/** Document deletion with ES/Lucene semantics over the snapshot log.
  *
  * The reference's store supports delete-by-query / re-index cycles through
  * Elasticsearch (indexes are dropped and re-created per release,
  * mrtarget/common/esutil.py:38-67; Lucene soft-deletes back every ES
  * delete). This module reproduces the two-phase lifecycle from scratch:
  *
  *  1. **Tombstone (soft delete)** — `delete` / `deleteByQuery` commit a new
  *     snapshot whose data dirs gain per-segment TermDels marker rows
  *     (varint docId sets). Queries exclude tombstoned docs by feeding the
  *     rows as zero-idf exclusion cursors into the existing mustNot
  *     machinery — no scorer changes, no driver-held delete state, and the
  *     per-segment tombstone shards scale exactly like postings do.
  *     Collection statistics (N, avgdl, df) still INCLUDE deleted docs —
  *     precisely Lucene's behavior between a delete and a merge.
  *  2. **Purge (the merge)** — `purge` runs [[IndexBuilder.compact]]: the
  *     index is rewritten into the rows a fresh build over its live
  *     documents writes, P segments in one data dir, tombstones gone and
  *     every statistic live-only. Like a Lucene merge it renumbers: docIds
  *     move, so a `search_after` cursor from before it is not valid after
  *     it.
  *
  * Both steps are snapshot commits: readers holding the previous
  * SnapshotMeta are unaffected (snapshot isolation), and `vacuum`
  * reclaims the pre-merge dirs.
  *
  * Tombstone-volume guidance: every delete path is executor-side.
  * `delete` (by url; upsert tombstones its batch's old versions the same
  * way) and `deleteDocIds` (by id) are one Spark execution through one
  * writer: a scan of the affected segments' tombstone rows (and, by url,
  * of their url chunks, searched in-task), one shuffle by segment that
  * keeps each segment's newest tombstone row, and a write that
  * consolidates it with the batch's ids, streaming over encoded bytes —
  * per-call cost is bounded by the affected segments' tombstone BYTES
  * per task plus the (batch-bounded) id sets (measured in DeleteSpec: 4
  * segments x 10^6 prior ids re-consolidate in seconds).
  * `deleteByQuery` enumerates and encodes matches per-segment inside
  * executor tasks; newly-dead counts on every path are observed during
  * the tombstone write (no second query over what was just written),
  * never from decoding postings.
  * Under sustained mass-delete workloads run `Deletes.purge`
  * periodically — the merge drops the dead docs and resets tombstone
  * volume to zero. */
object Deletes {

  /** Tombstone documents by url (ES delete-by-id). Unknown urls are ignored
    * (ES `delete` 404 semantics); re-deleting a dead doc is a no-op. One
    * Spark execution, [[tombstoneUrls]]. */
  def delete(spark: SparkSession, indexDir: String, urls: Seq[String]): SnapshotMeta = {
    val snap = Snapshot.latest(indexDir)
      .getOrElse(throw new IllegalStateException(s"no snapshot under $indexDir"))
    require(snap.isComplete, "delete requires a complete index")
    tombstoneUrls(spark, indexDir, snap, urls)
  }

  /** Tombstone every document of `urls` in every generation of `snap`, the
    * latest complete snapshot, in ONE Spark execution: a pushed-down scan
    * of the url chunks and tombstone rows of the candidate segments
    * {g*P + segmentOf(url, P)} (the resolver's, `IndexBuilder.resolveUrls`),
    * where each url chunk binary-searches its probes executor-side and
    * passes on the docIds it holds; then [[writeTombstones]]. No (segId,
    * docId) pair crosses to the driver. The probes travel as one broadcast
    * destroyed after the write. Cost beyond the resolver's scan: the
    * candidate segments' tombstone rows, reduced map-side to the newest
    * per segment, which weigh less than the url chunks already scanned. */
  private[graft] def tombstoneUrls(spark: SparkSession, indexDir: String,
      snap: SnapshotMeta, urls: scala.collection.Seq[String]): SnapshotMeta = {
    import spark.implicits._
    val P = snap.numSegments
    val chunkDocs = snap.markerChunkDocs
    val (probes, segs) = IndexBuilder.routeUrls(urls, P, 0 until snap.generations)
    if (segs.isEmpty) return snap
    val bc = spark.sparkContext.broadcast(probes)
    try writeTombstones(spark, indexDir, snap,
      IndexBuilder.snapshotPostings(spark, indexDir, snap)
        .filter((col("term") === IndexBuilder.TermUrls ||
          col("term") === IndexBuilder.TermDels) && col("segId").isin(segs: _*))
        .flatMap { r =>
          if (r.term == IndexBuilder.TermDels) Iterator.single(TombIn(r.segId, r, NoIds))
          else {
            val ids = IndexBuilder.findInChunk(r, bc.value, P, chunkDocs).map(_._2).toArray
            if (ids.isEmpty) Iterator.empty else Iterator.single(TombIn(r.segId, null, ids))
          }
        })
    finally bc.destroy()
  }

  /** Tombstone every document matching `q` (ES delete-by-query) via a
    * DISTRIBUTED per-segment match-enumeration sink: each candidate
    * segment enumerates its live matches with the same cursor machinery
    * the scorers use (already-deleted docs are exclusion cursors, so they
    * are never re-matched), merges in its prior tombstones, and varint-
    * encodes the consolidated TermDels row inside the task — the match
    * set is never ranked, never collected, and never crosses to the
    * driver, so a delete matching ~all of a 10^12-doc index streams
    * segment-parallel like the build does. Only the newly-dead count,
    * observed during the write, reaches the driver for the commit. */
  def deleteByQuery(spark: SparkSession, indexDir: String, q: BoolQuery): SnapshotMeta = {
    import spark.implicits._
    IndexBuilder.ensureLargeCellWriterConf(spark)
    val h = new IndexHandle(spark, indexDir, warm = false)
    val rel = f"data/del-${h.snap.id + 1}%05d"
    // each row carries its segment's count of NEW matches (tombstoned docs
    // are exclusion cursors, never matches) — summed during the write
    val dead = Observation()
    h.matchTombstoneRows(q)
      .observe(dead, coalesce(sum(col("_2")), lit(0L)).as("n"))
      .map(_._1)
      .write.mode("overwrite").parquet(s"$indexDir/$rel")
    commitTombstones(indexDir, h.snap, rel, dead.get("n").asInstanceOf[Long])
  }

  /** Commit the tombstone dir `rel` holding `newlyDead` newly-dead docs,
    * or drop it and keep `snap` when the write killed nothing new. */
  private def commitTombstones(indexDir: String, snap: SnapshotMeta,
      rel: String, newlyDead: Long): SnapshotMeta = {
    if (newlyDead == 0) {
      deleteDir(s"$indexDir/$rel")
      return snap
    }
    val neu = snap.copy(id = snap.id + 1, parent = snap.id,
      dataDirs = snap.dataDirs :+ rel,
      deletedDocs = snap.deletedDocs + newlyDead)
    Snapshot.commit(indexDir, neu)
    neu
  }

  private def deleteDir(abs: String): Unit =
    IndexBuilder.deleteTree(java.nio.file.Paths.get(abs))

  /** Commit tombstones for per-segment docId sets, through the writer
    * url deletes and upserts use ([[writeTombstones]]), in one Spark
    * execution. The id sets travel to the tasks as ONE broadcast keyed by
    * segment — 8 B per id, held once per executor (they are on the driver
    * already) — and only the affected segIds form a local relation, which
    * joins the affected segments' prior tombstone rows in the writer's one
    * shuffle. A local relation of the ids themselves would be serialized
    * into the write's task binary, megabytes per task for a mass delete. */
  def deleteDocIds(
      spark: SparkSession,
      indexDir: String,
      bySeg: Map[Int, Array[Long]]): SnapshotMeta = {
    import spark.implicits._
    val snap = Snapshot.latest(indexDir)
      .getOrElse(throw new IllegalStateException(s"no snapshot under $indexDir"))
    require(snap.isComplete, "delete requires a complete index")
    val requested = bySeg.filter(_._2.nonEmpty)
    if (requested.isEmpty) return snap
    val affected = requested.keys.toSeq
    val ids = spark.sparkContext.broadcast(requested)
    try writeTombstones(spark, indexDir, snap,
      affected.toDS().map(s => TombIn(s, null, ids.value(s)))
        .union(IndexBuilder.snapshotPostings(spark, indexDir, snap)
          .filter(col("term") === IndexBuilder.TermDels &&
            col("segId").isin(affected: _*))
          .map(r => TombIn(r.segId, r, NoIds))))
    finally ids.destroy()
  }

  private val NoIds = Array.emptyLongArray

  /** The one tombstone writer. `in` holds, for some segments of `snap`,
    * docIds to kill and prior TermDels rows. One shuffle by segment keeps
    * each segment's newest prior row (the superset chain makes the max-df
    * row the segment's whole dead set, older rows redundant; map-side
    * partial reduce) and gathers its ids; a segment with ids gets ONE
    * consolidated TermDels row in the new data dir, its prior row
    * stream-merged with the ids and re-encoded inside the task, so prior
    * tombstones move varint-encoded and are never materialized as arrays.
    * A segment with no ids writes no row. The newly-dead count is observed
    * during the write: Σ written df − Σ df of the merged prior rows. When
    * nothing new died the dir is dropped and `snap` stays latest. */
  private def writeTombstones(spark: SparkSession, indexDir: String,
      snap: SnapshotMeta, in: Dataset[TombIn]): SnapshotMeta = {
    import spark.implicits._
    IndexBuilder.ensureLargeCellWriterConf(spark)
    val bs = snap.blockSize
    val rel = f"data/del-${snap.id + 1}%05d"
    val dead = Observation()
    in.groupByKey(_.segId)
      .reduceGroups { (a, b) =>
        val newer = if (b.prior == null || (a.prior != null && a.prior.df >= b.prior.df))
          a.prior else b.prior
        TombIn(a.segId, newer, a.ids ++ b.ids)
      }
      .flatMap { case (seg, t) =>
        if (t.ids.isEmpty) None
        else {
          val p = Option(t.prior)
          val oldIt = p.map(IndexBuilder.docIdStream).getOrElse(Iterator.empty)
          Some((IndexBuilder.encodeDocIdStream(seg, graft.search.MatchEnum
            .mergeDistinct(Seq(t.ids.distinct.sorted.iterator, oldIt)), bs),
            p.map(_.df).getOrElse(0L)))
        }
      }
      .observe(dead, coalesce(sum(col("_1.df")), lit(0L)).as("written"),
        coalesce(sum(col("_2")), lit(0L)).as("prior"))
      .map(_._1)
      .write.mode("overwrite").parquet(s"$indexDir/$rel")
    // zero when every id was already dead
    val newlyDead = dead.get("written").asInstanceOf[Long] -
      dead.get("prior").asInstanceOf[Long]
    commitTombstones(indexDir, snap, rel, newlyDead)
  }

  /** Expunge tombstoned docs: the merge, [[IndexBuilder.compact]]. After
    * it the index equals a fresh build over its live documents (docIds
    * included), and on an index with nothing to expunge it runs no job. */
  def purge(spark: SparkSession, indexDir: String): SnapshotMeta =
    IndexBuilder.compact(spark, indexDir)
}
