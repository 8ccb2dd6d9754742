package graft.index

import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
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
  * reclaims the pre-merge dirs. An upsert writes its tombstone dir the
  * same way but commits it in its build's snapshot, so no snapshot holds
  * a url's old version dead without its new one.
  *
  * Tombstone-volume guidance: every delete path is executor-side.
  * `delete` (by url; upsert tombstones its batch's old versions the same
  * way) and `deleteDocIds` (by id) are one Spark execution through one
  * writer: a scan of the affected segments' tombstone rows (and, by url,
  * of their url chunks, searched in-task), one shuffle by segment whose
  * built-in aggregates keep each segment's newest tombstone row and
  * gather the ids, and a write that consolidates the two, streaming over
  * encoded bytes — per-call cost is bounded by the affected segments'
  * tombstone BYTES per task plus the (batch-bounded) id sets (measured in
  * DeleteSpec: 4 segments x 10^6 prior ids re-consolidate in seconds).
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
    * Spark execution, [[tombstoneUrls]], and its own snapshot commit. */
  def delete(spark: SparkSession, indexDir: String, urls: Seq[String]): SnapshotMeta = {
    val snap = Snapshot.latest(indexDir)
      .getOrElse(throw new IllegalStateException(s"no snapshot under $indexDir"))
    require(snap.isComplete, "delete requires a complete index")
    commitTombstones(indexDir, snap, tombstoneUrls(spark, indexDir, snap, urls))
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
    * per segment, which weigh less than the url chunks already scanned.
    * Returns the written, uncommitted dir and its newly-dead count (None
    * when nothing new died): `delete` commits it alone, an upsert with its
    * build. */
  private[graft] def tombstoneUrls(spark: SparkSession, indexDir: String,
      snap: SnapshotMeta, urls: scala.collection.Seq[String]): Option[(String, Long)] = {
    val P = snap.numSegments
    val chunkDocs = snap.markerChunkDocs
    val (probes, segs) = IndexBuilder.routeUrls(urls, P, 0 until snap.generations)
    if (segs.isEmpty) return None
    val bc = spark.sparkContext.broadcast(probes)
    val found = udf((segId: Int, chunk: Int, table: Array[Byte]) =>
      IndexBuilder.findInChunk(segId, chunk, table, bc.value, P, chunkDocs)
        .map(_._2).toArray)
    try writeTombstones(spark, indexDir, snap, tombstoneInput(spark, indexDir, snap,
      segs, Some(found(col("segId"), col("chunk"), col("tfBytes")))))
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
    commitTombstones(indexDir, h.snap,
      kept(indexDir, rel, dead.get("n").asInstanceOf[Long]))
  }

  /** The tombstone dir `rel` with its `newlyDead` count, or None, the dir
    * dropped, when the write killed nothing new. */
  private def kept(indexDir: String, rel: String, newlyDead: Long): Option[(String, Long)] =
    if (newlyDead > 0) Some((rel, newlyDead))
    else {
      IndexBuilder.deleteTree(java.nio.file.Paths.get(s"$indexDir/$rel"))
      None
    }

  /** Commit the tombstone dir `written` (dir, newly-dead count) on top of
    * `snap`; with none, `snap` stays latest. */
  private def commitTombstones(indexDir: String, snap: SnapshotMeta,
      written: Option[(String, Long)]): SnapshotMeta = written match {
    case None => snap
    case Some((rel, newlyDead)) =>
      val neu = snap.copy(id = snap.id + 1, parent = snap.id,
        dataDirs = snap.dataDirs :+ rel,
        deletedDocs = snap.deletedDocs + newlyDead)
      Snapshot.commit(indexDir, neu)
      neu
  }

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
    // a typed map, not a projection: the optimizer evaluates a projection
    // of a local relation on the driver, which would inline the ids
    val asked = affected.toDS().map(s => (s, ids.value(s))).toDF("segId", "ids")
      .select(col("segId"), lit(null).cast(PriorType).as("prior"), col("ids"))
    try commitTombstones(indexDir, snap, writeTombstones(spark, indexDir, snap,
      asked.unionByName(tombstoneInput(spark, indexDir, snap, affected, None))))
    finally ids.destroy()
  }

  /** The writer's input `(segId, prior, ids)` from a pushed-down scan of
    * segments `segs` of `snap`: each TermDels row as `prior` (its `df` and
    * `docBytes`) and, given `urlChunkIds`, each url chunk with the docIds
    * that column yields for it as `ids`. */
  private def tombstoneInput(spark: SparkSession, indexDir: String,
      snap: SnapshotMeta, segs: Seq[Int], urlChunkIds: Option[Column]): DataFrame = {
    val dels = col("term") === IndexBuilder.TermDels
    val urls = col("term") === IndexBuilder.TermUrls
    IndexBuilder.readPostings(spark, snap.dataDirs.map(d => s"$indexDir/$d"))
      .filter((if (urlChunkIds.isDefined) dels || urls else dels) &&
        col("segId").isin(segs: _*))
      .select(col("segId"),
        when(dels, struct(col("df"), col("docBytes"))).as("prior"),
        urlChunkIds.fold(lit(null).cast("array<bigint>"))(when(urls, _)).as("ids"))
  }

  private val PriorType = "struct<df: bigint, docBytes: binary>"

  /** The one tombstone writer. `in` holds rows `(segId, prior, ids)`: a
    * prior TermDels row of a segment of `snap` as `prior` (df, docBytes),
    * or docIds to kill as `ids`. One shuffle by segment keeps each
    * segment's newest prior (the superset chain makes the max-df row the
    * segment's whole dead set, older rows redundant) and gathers its ids,
    * both built-in aggregates reduced map-side. A segment with ids gets
    * ONE consolidated TermDels row in the new data dir: its ids, sorted in
    * a primitive array, stream-merged with its prior's varint-encoded ids
    * and re-encoded inside the task, so prior tombstones are never
    * materialized as arrays. A segment with no ids writes no row. The
    * newly-dead count is observed during the write: Σ written df − Σ df of
    * the merged priors. Returns the dir and that count, uncommitted, or
    * None, the dir dropped, when nothing new died. */
  private def writeTombstones(spark: SparkSession, indexDir: String,
      snap: SnapshotMeta, in: DataFrame): Option[(String, Long)] = {
    import spark.implicits._
    IndexBuilder.ensureLargeCellWriterConf(spark)
    val bs = snap.blockSize
    val rel = f"data/del-${snap.id + 1}%05d"
    val dead = Observation()
    in.groupBy("segId")
      .agg(max_by(col("prior"), col("prior.df")).as("prior"),
        flatten(collect_list(col("ids"))).as("ids"))
      .select(col("segId"), coalesce(col("prior.df"), lit(0L)),
        col("prior.docBytes"), col("ids"))
      .as[(Int, Long, Array[Byte], Array[Long])]
      .flatMap { case (seg, priorDf, priorBytes, ids) =>
        if (ids.isEmpty) None
        else {
          java.util.Arrays.sort(ids)
          val old =
            if (priorBytes == null) Iterator.empty
            else IndexBuilder.docIdStream(seg, priorDf, priorBytes)
          Some((IndexBuilder.encodeDocIdStream(seg,
            graft.search.MatchEnum.mergeDistinct(Seq(ids.iterator, old)), bs), priorDf))
        }
      }
      .observe(dead, coalesce(sum(col("_1.df")), lit(0L)).as("written"),
        coalesce(sum(col("_2")), lit(0L)).as("prior"))
      .select(col("_1.*"))
      .write.mode("overwrite").parquet(s"$indexDir/$rel")
    // zero when every id was already dead
    kept(indexDir, rel, dead.get("written").asInstanceOf[Long] -
      dead.get("prior").asInstanceOf[Long])
  }

  /** Expunge tombstoned docs: the merge, [[IndexBuilder.compact]]. After
    * it the index equals a fresh build over its live documents (docIds
    * included), and on an index with nothing to expunge it runs no job. */
  def purge(spark: SparkSession, indexDir: String): SnapshotMeta =
    IndexBuilder.compact(spark, indexDir)
}
