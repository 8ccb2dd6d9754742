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
  *  2. **Purge (expunge-deletes merge)** — `purge` rewrites every posting
  *     list without the dead docs, recomputes per-segment metrics and the
  *     term dictionary, and commits a snapshot whose stats cover live docs
  *     only. Query results afterwards are score-identical to a fresh build
  *     over the live documents. Dead rank slots stay in the url/doc-length
  *     tables (docId = pure function of (url, numSegments) is preserved —
  *     surviving docIds never move, unlike a Lucene merge renumber) and the
  *     consolidated tombstone row is kept so dead ranks stay excluded (an
  *     `ids` query for a purged url returns nothing) and later
  *     delete/purge cycles count live docs correctly.
  *
  * Both steps are snapshot commits: readers holding the previous
  * SnapshotMeta are unaffected (snapshot isolation), `compact` carries
  * tombstone rows along unchanged, and `vacuum` reclaims pre-purge dirs.
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
  * periodically — it rewrites postings without the dead docs and resets
  * tombstone volume to zero. */
object Deletes {

  /** Tombstone documents by url (ES delete-by-id). Unknown urls are ignored
    * (ES `delete` 404 semantics); re-deleting a dead doc is a no-op. */
  def delete(spark: SparkSession, indexDir: String, urls: Seq[String]): SnapshotMeta = {
    val h = new IndexHandle(spark, indexDir, warm = false)
    deleteDocIds(spark, indexDir, h.resolveDocIds(urls))
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
    * and purge/compact collapse them); unaffected segments are untouched.
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
    * dead count). */
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
    val priorNewest = IndexBuilder.readPostings(spark,
        snap.dataDirs.map(d => s"$indexDir/$d"))
      .filter(col("term") === IndexBuilder.TermDels &&
        col("segId").isin(affected: _*))
      .as[PostingRow]
      .groupByKey(_.segId)
      .reduceGroups((a, b) => if (a.df >= b.df) a else b)

    val reqDs = spark.createDataset(
      requested.toSeq.map { case (s, ids) => (s, ids.distinct.sorted) })
    val dead = Observation()
    reqDs.joinWith(priorNewest, reqDs("_1") === priorNewest("key"), "left_outer")
      .map { case ((seg, ids), prior) =>
        val p = Option(prior).map(_._2)
        val oldIt = p.map(IndexBuilder.docIdStream).getOrElse(Iterator.empty)
        (IndexBuilder.encodeDocIdStream(seg,
          graft.search.MatchEnum.mergeDistinct(Seq(ids.iterator, oldIt)), bs),
          p.map(_.df).getOrElse(0L))
      }
      .observe(dead, coalesce(sum(col("_1.df")), lit(0L)).as("written"),
        coalesce(sum(col("_2")), lit(0L)).as("prior"))
      .map(_._1)
      .write.mode("overwrite").parquet(s"$indexDir/$rel")
    // zero when every requested id was already dead
    val newlyDead = dead.get("written").asInstanceOf[Long] -
      dead.get("prior").asInstanceOf[Long]
    commitTombstones(indexDir, snap, rel, newlyDead)
  }

  /** Expunge tombstoned docs from the posting lists (the forcemerge-with-
    * expunge-deletes analogue): one pass re-clustered segment-per-task,
    * streaming re-encode, then metrics + termdict recomputed over live docs
    * only. Post-purge scores match a fresh build over the live documents. */
  def purge(spark: SparkSession, indexDir: String): SnapshotMeta = {
    import spark.implicits._
    IndexBuilder.ensureLargeCellWriterConf(spark)
    val snap = Snapshot.latest(indexDir)
      .getOrElse(throw new IllegalStateException(s"no snapshot under $indexDir"))
    require(snap.isComplete, "purge requires a complete index")
    if (snap.deletedDocs == 0 && snap.dataDirs.size == 1) return snap
    val totalSegs = snap.numSegments * snap.generations
    val bs = snap.blockSize
    val newId = snap.id + 1
    val rel = f"data/purge-$newId%05d"

    IndexBuilder.readPostings(spark, snap.dataDirs.map(d => s"$indexDir/$d"))
      .as[PostingRow]
      .withColumn("part",
        element_at(lit(IndexBuilder.bijectionKeys(totalSegs)), col("segId") + 1))
      .repartition(totalSegs, col("part"))
      .drop("part")
      .as[PostingRow]
      // tombstone rows sort FIRST within each segment (then ascending
      // term, then chunk): purgePartition builds the dead bitset before
      // any other row arrives, so the url chunks — the corpus-scale
      // bytes — stream through unchanged instead of being buffered
      // whole-segment in task memory (8 GB at a 10^8-doc segment)
      .sortWithinPartitions(col("segId"),
        when(col("term") === lit(IndexBuilder.TermDels), lit(0))
          .otherwise(lit(1)),
        col("term"), col("chunk"))
      .mapPartitions(it => purgePartition(it, bs))
      .write.mode("overwrite").parquet(s"$indexDir/$rel")

    val metas = IndexBuilder.segmentMetrics(spark, s"$indexDir/$rel", rel)
    val dictRel = f"termdict/snap-$newId%05d"
    val dictRows = IndexBuilder.writeTermdict(spark, Seq(s"$indexDir/$rel"),
      s"$indexDir/$dictRel", IndexConfig().saltBuckets)
    // the suggest artifact derives from the termdict — rebuild it from the
    // post-purge dictionary when the index carries one
    val (sugRel, sugRows) = snap.suggestDir match {
      case None => (None, 0L)
      case Some(_) =>
        val rel2 = f"suggest/snap-$newId%05d"
        val n = IndexBuilder.writeSuggest(spark, s"$indexDir/$dictRel",
          s"$indexDir/$rel2")
        (Some(rel2), n)
    }
    // doc-suggest artifact: consolidate to one dir holding only the rows
    // of LIVE documents' CURRENT generations — a doc upserted in a later
    // generation loses its superseded rows here (until this point stale
    // grams may surface, exactly like ES's completion suggester serving
    // deleted suggestions until a merge), and tombstoned docs vanish
    val (docSugDirs, docSugRows) =
      if (snap.docSuggestDirs == null || snap.docSuggestDirs.isEmpty) (Nil, 0L)
      else {
        val rel2 = f"docsuggest/purge-$newId%05d"
        val live = IndexBuilder.liveUrlsDF(spark, s"$indexDir/$rel",
          snap.numSegments)
        (Seq(rel2), IndexBuilder.writeCounted(
          spark.read.parquet(snap.docSuggestDirs.map(d => s"$indexDir/$d"): _*)
            .join(live, Seq("url", "gen"), "left_semi")
            .sort("gram", "url"), s"$indexDir/$rel2"))
      }
    val neu = snap.copy(id = newId, parent = snap.id,
      numDocs = metas.map(_.docs).sum,
      sumDocLen = metas.map(_.sumDocLen).sum,
      dataDirs = Seq(rel), termdictDir = Some(dictRel),
      // the purged vocabulary can SHRINK — a stale count would make warm
      // handles refuse the driver dictionary forever after a mass delete
      termdictRows = dictRows,
      segments = metas, deletedDocs = 0L,
      suggestDir = sugRel, suggestRows = sugRows,
      docSuggestDirs = docSugDirs, docSuggestRows = docSugRows,
      // per-field norms follow the same live-docs-only contract
      fieldStats =
        if (snap.fieldDefs.isEmpty) Nil
        else IndexBuilder.fieldStats(spark, Seq(s"$indexDir/$rel")))
    Snapshot.commit(indexDir, neu)
    neu
  }

  /** Rewrite one segment's rows without the tombstoned docs. Input order
    * (the driver-side sort above): TermDels tombstone rows FIRST, then
    * ascending term — TermLens "" < field-lens < TermUrls < real terms.
    * Building the dead bitset before anything else lets the url chunks
    * (the segment's dominant bytes, ~8 GB at a 10^8-doc segment) stream
    * through unchanged and unbuffered. Task memory is bounded by the
    * decoded doc-length int tables + one posting list's block metadata,
    * never by the url bytes. */
  private[index] def purgePartition(
      it0: Iterator[PostingRow], blockSize: Int): Iterator[PostingRow] = {
    if (!it0.hasNext) return Iterator.empty
    val it = it0.buffered
    val segId = it.head.segId
    val segB = IndexBuilder.segBase(segId)
    val dead = new java.util.BitSet()
    while (it.hasNext && it.head.term == IndexBuilder.TermDels) {
      // streamed: the consolidated row after a mass delete can cover ~all
      // docs of the segment — fill the bitset without decoding to an array
      IndexBuilder.docIdStream(it.next())
        .foreach(d => dead.set((d - segB - 1).toInt))
    }
    val nDead = dead.cardinality()
    require(it.hasNext && it.head.term == IndexBuilder.TermLens,
      s"purge: segment $segId missing doc-length marker")
    // marker tables are block-chunked (format v2); the sort delivers
    // chunks in order, but liveChunkRows' rank bases depend on it, so
    // order the int tables defensively in-task (cheap — urls are NOT
    // buffered, see below).
    val lensChunks = scala.collection.mutable.ArrayBuffer.empty[PostingRow]
    while (it.hasNext && it.head.term == IndexBuilder.TermLens)
      lensChunks += it.next()
    // decode chunk rows into ONE contiguous rank-indexed table + the
    // per-chunk value counts (a chunk's slot count after a PRIOR purge is
    // not its live df, so it must come from the decode). Only the
    // concatenated table is retained through the long terms-rewrite phase
    // — keeping the per-chunk arrays too would double the resident
    // doc-length bytes (~2x 400 MB at a 10^8-doc segment).
    def decodeChunks(sorted: Seq[PostingRow]): (Array[Int], Array[Int]) = {
      val parts = sorted.map(r => Varint.decodeInts(r.docBytes))
      val counts = parts.map(_.length).toArray
      val table =
        if (parts.lengthCompare(1) == 0) parts.head
        else Array.concat(parts: _*)
      (table, counts)
    }
    val sortedLens = lensChunks.sortBy(_.chunk).toSeq
    val (lens, lensCounts) = decodeChunks(sortedLens)
    // per-FIELD doc-length chunk groups (multi-field indexes) sort between
    // TermLens and TermUrls; collected per term, live df/cf re-emitted and
    // the concatenated tables feed the tagged-term re-encode's doclen
    val fieldGroups = scala.collection.mutable.LinkedHashMap
      .empty[String, scala.collection.mutable.ArrayBuffer[PostingRow]]
    while (it.hasNext && it.head.term.nonEmpty &&
        it.head.term.charAt(0) == IndexBuilder.FieldLensPrefix.charAt(0)) {
      val r = it.next()
      fieldGroups.getOrElseUpdate(r.term, scala.collection.mutable.ArrayBuffer.empty) += r
    }
    val fieldData: Seq[(String, Seq[PostingRow], Array[Int], Array[Int])] =
      fieldGroups.toSeq.map { case (term, rows) =>
        val sorted = rows.sortBy(_.chunk).toSeq
        val (table, counts) = decodeChunks(sorted)
        (term, sorted, table, counts)
      }
    val fieldLensMap: Map[String, Array[Int]] = fieldData.map {
      case (term, _, table, _) => term.substring(1) -> table
    }.toMap
    require(it.hasNext && it.head.term == IndexBuilder.TermUrls,
      s"purge: segment $segId missing url marker")
    // url chunks pass through UNCHANGED (dead rank slots stay in the
    // tables so surviving docIds never move — the chunking invariant
    // survives purge) and UNBUFFERED: they are the segment's dominant
    // bytes, and the dead bitset is already built, so each chunk row
    // streams from the scan straight to the writer
    val urlRows: Iterator[PostingRow] = new Iterator[PostingRow] {
      def hasNext: Boolean =
        it.hasNext && it.head.term == IndexBuilder.TermUrls
      def next(): PostingRow = it.next()
    }

    // re-emit each lens chunk with ITS rank range's live (df, cf) — the
    // snapshot's docs/sumDocLen are sums over chunk rows (segmentMetrics).
    // For field-lens chunks "present" means live AND nonzero (docCount_f).
    def liveChunkRows(sorted: Seq[PostingRow], table: Array[Int],
        counts: Array[Int], presentNeedsNonzero: Boolean): Seq[PostingRow] = {
      var start = 0
      sorted.indices.map { ci =>
        val n = counts(ci)
        var live = 0L
        var liveSum = 0L
        var j = 0
        while (j < n) {
          val v = table(start + j)
          if (!dead.get(start + j) &&
              (!presentNeedsNonzero || v > 0)) {
            live += 1; liveSum += v
          }
          j += 1
        }
        start += n
        sorted(ci).copy(df = live, cf = liveSum)
      }
    }
    val lensOut =
      liveChunkRows(sortedLens, lens, lensCounts, presentNeedsNonzero = false)
    val fieldOut = fieldData.sortBy(_._1).flatMap {
      case (_, sorted, table, counts) =>
        liveChunkRows(sorted, table, counts, presentNeedsNonzero = true)
    }
    val tombstone: Iterator[PostingRow] =
      if (nDead == 0) Iterator.empty
      else {
        // consolidated tombstone row: dead ranks stay excluded forever
        // (ids lookups of purged urls) and later purges stay exact.
        // Encoded straight off the bitset — no O(nDead) id array (nDead
        // is ~the whole segment right after a mass delete)
        val deadIdIter = new Iterator[Long] {
          private var b = dead.nextSetBit(0)
          def hasNext: Boolean = b >= 0
          def next(): Long = {
            val v = segB + b + 1; b = dead.nextSetBit(b + 1); v
          }
        }
        Iterator.single(
          IndexBuilder.encodeDocIdStream(segId, deadIdIter, blockSize))
      }
    // urlRows must drain before `terms` first pulls from `it`; iterator
    // concatenation guarantees that left-to-right order
    val markers: Iterator[PostingRow] =
      lensOut.iterator ++ fieldOut.iterator ++ tombstone ++ urlRows

    val terms: Iterator[PostingRow] = it.flatMap { r =>
      if (nDead == 0) Iterator.single(r)
      else {
        // streaming pass 1: survivor count decides drop / keep-as-is /
        // re-encode. A stopword row can cover ~all docs of the segment —
        // decodePostings would allocate O(df) arrays in-task (the same
        // executor-OOM class the tombstone paths stream around); two cheap
        // varint passes keep the rewrite O(block metadata).
        var keepCnt = 0L
        IndexBuilder.docIdStream(r).foreach(d =>
          if (!dead.get((d - segB - 1).toInt)) keepCnt += 1)
        if (keepCnt == 0L) Iterator.empty
        else if (keepCnt == r.df) Iterator.single(r)
        else {
          // multi-field indexes: a tagged ANALYZED term re-encodes with
          // its FIELD's doc lengths (blockMinDl must bound field norms);
          // keyword terms score norms-disabled, stored doclen stays inert
          val dlArr: Array[Int] =
            if (fieldLensMap.isEmpty) lens
            else {
              val sep = r.term.indexOf(IndexBuilder.FieldSep)
              if (sep < 0) lens
              else fieldLensMap.getOrElse(r.term.substring(0, sep), null)
            }
          Iterator.single(IndexBuilder.encodeRun(segId, r.term,
            IndexBuilder.postingStream(r)
              .filter { case (id, _) => !dead.get((id - segB - 1).toInt) }
              .map { case (id, tf) =>
                val rank = (id - segB - 1).toInt
                (id, tf, if (dlArr == null) 1 else dlArr(rank))
              },
            blockSize))
        }
      }
    }
    markers ++ terms
  }
}
