package graft.index

import org.apache.spark.sql.{Observation, SparkSession}
import org.apache.spark.sql.functions._

import graft.search.{BoolQuery, IndexHandle}

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
  * Tombstone-volume guidance: both delete paths are executor-side.
  * `deleteDocIds` (the id-list path — by-url deletes and upsert's
  * per-batch tombstoning) consolidates each AFFECTED segment's prior
  * tombstones against the batch inside a task, streaming over encoded
  * bytes — per-call cost is bounded by the affected segments' tombstone
  * BYTES per task plus the (batch-bounded) id sets (measured in
  * DeleteSpec: 4 segments x 10^6 prior ids re-consolidate in seconds).
  * `deleteByQuery` enumerates and encodes matches per-segment inside
  * executor tasks; newly-dead counts on both paths are observed during
  * the tombstone write (no second query over what was just written),
  * never from decoding postings.
  * Under sustained mass-delete workloads run `Deletes.purge`
  * periodically — the merge drops the dead docs and resets tombstone
  * volume to zero. */
object Deletes {

  /** Tombstone documents by url (ES delete-by-id). Unknown urls are ignored
    * (ES `delete` 404 semantics); re-deleting a dead doc is a no-op. */
  def delete(spark: SparkSession, indexDir: String, urls: Seq[String]): SnapshotMeta = {
    val snap = Snapshot.latest(indexDir)
      .getOrElse(throw new IllegalStateException(s"no snapshot under $indexDir"))
    require(snap.isComplete, "delete requires a complete index")
    deleteDocIds(spark, indexDir, IndexBuilder.docIdsBySeg(IndexBuilder.resolveUrls(
      IndexBuilder.snapshotPostings(spark, indexDir, snap), snap, urls,
      0 until snap.generations).valuesIterator))
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

  /** Commit tombstones for per-segment docId sets. The new data dir holds
    * one CONSOLIDATED TermDels row per affected segment (prior tombstones
    * for that segment become redundant subsets — exclusion is idempotent,
    * and a merge drops them); unaffected segments are untouched.
    *
    * Consolidation is EXECUTOR-side: the batch's id sets join the newest
    * prior tombstone row per affected segment (the superset chain makes
    * older rows redundant), and each task stream-merges its prior row with
    * the batch ids and re-encodes — prior tombstones move between
    * executors varint-encoded and are never materialized as arrays
    * anywhere, so cost scales with tombstone BYTES held per task, not
    * with accumulated dead-doc count on the driver. The newly-dead count
    * is observed during the write: Σ new df − Σ df of the joined prior
    * rows (the superset chain makes the max-df row the segment's distinct
    * dead count).
    *
    * The id sets travel to the tasks as ONE broadcast keyed by segment —
    * 8 B per id, held once per executor (they are on the driver already) —
    * and only the affected segIds form a local relation. A local relation
    * of the ids themselves would be serialized into the write's task
    * binary, megabytes per task for a mass delete. */
  def deleteDocIds(
      spark: SparkSession,
      indexDir: String,
      bySeg: Map[Int, Array[Long]]): SnapshotMeta = {
    import spark.implicits._
    IndexBuilder.ensureLargeCellWriterConf(spark)
    val snap = Snapshot.latest(indexDir)
      .getOrElse(throw new IllegalStateException(s"no snapshot under $indexDir"))
    require(snap.isComplete, "delete requires a complete index")
    val requested = bySeg.filter(_._2.nonEmpty)
    if (requested.isEmpty) return snap
    val affected = requested.keys.toSeq
    val bs = snap.blockSize
    val rel = f"data/del-${snap.id + 1}%05d"

    // newest prior tombstone row per affected segment (pushed-down scan;
    // rows stay varint-encoded through the shuffle)
    val priorNewest = IndexBuilder.snapshotPostings(spark, indexDir, snap)
      .filter(col("term") === IndexBuilder.TermDels &&
        col("segId").isin(affected: _*))
      .groupByKey(_.segId)
      .reduceGroups((a, b) => if (a.df >= b.df) a else b)

    val ids = spark.sparkContext.broadcast(
      requested.map { case (s, v) => s -> v.distinct.sorted })
    val segs = affected.toDS()
    val dead = Observation()
    try segs.joinWith(priorNewest, segs("value") === priorNewest("key"), "left_outer")
      .map { case (seg, prior) =>
        val p = Option(prior).map(_._2)
        val oldIt = p.map(IndexBuilder.docIdStream).getOrElse(Iterator.empty)
        (IndexBuilder.encodeDocIdStream(seg, graft.search.MatchEnum
          .mergeDistinct(Seq(ids.value(seg).iterator, oldIt)), bs),
          p.map(_.df).getOrElse(0L))
      }
      .observe(dead, coalesce(sum(col("_1.df")), lit(0L)).as("written"),
        coalesce(sum(col("_2")), lit(0L)).as("prior"))
      .map(_._1)
      .write.mode("overwrite").parquet(s"$indexDir/$rel")
    finally ids.destroy()
    // zero when every requested id was already dead
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
