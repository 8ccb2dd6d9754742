package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery

import graft.index.{Hashing, IndexBuilder, IndexConfig, Snapshot, SnapshotMeta}

/** Incremental index maintenance from a page stream — the streaming
  * counterpart of the engine's own batch build (SURVEY §2.10 applied to
  * §2.8): each non-empty micro-batch appends ONE generation via
  * `IndexBuilder.append` (Iceberg-append semantics: committed segments,
  * docIds and posting bytes are immutable; global stats and the term
  * dictionary re-derive at commit), so queries see every streamed document
  * as soon as its generation commits.
  *
  * Exactly-once across restarts WITHOUT a side ledger: Structured Streaming
  * replays at most the last unacknowledged micro-batch, and whether that
  * batch's generation already committed is decided from the index itself —
  * some url of the batch either is a document of the TOP generation (fully
  * applied → skip), or the top generation is incomplete (crash mid-append →
  * resume completes it deterministically from the same batch), or neither
  * (apply). Whether a url is in the top generation, and whether a batch
  * is the crashed one ([[resumeMatchesBatch]]), are both asked of the
  * index's one url -> docId resolver (`IndexBuilder.resolveUrls`) over
  * the top generation only, so their cost follows the batch, not the
  * generation count; this object reads no url row itself. A merge
  * (`IndexBuilder.compact`) folds every generation into generation 0,
  * then the only one, and drops deleted documents, so a batch
  * applied before it still resolves there unless every one of its urls was
  * deleted before the merge. The snapshot log doubles as the idempotence
  * ledger. Input contract (BASELINE.json input_hint): url is the primary
  * key — a url must appear in at most one micro-batch. */
object IndexStream {

  def readPages(spark: SparkSession, srcDir: String,
      maxFilesPerTrigger: Option[Int] = None,
      schema: String = "url STRING, text STRING"): DataFrame = {
    val r = spark.readStream.schema(schema)
    maxFilesPerTrigger.foreach(n => r.option("maxFilesPerTrigger", n))
    r.parquet(srcDir)
  }

  /** Shared None/incomplete-snapshot dispatch: fresh build, deterministic
    * resume of a crashed generation, or the stream-specific complete-index
    * action. Both streams' crash behavior lives here, once.
    *
    * Resume is only sound when `pages` IS the batch whose append crashed.
    * Within one checkpoint lineage Structured Streaming guarantees that
    * (it replays the unacknowledged batch verbatim), but after a cleared/
    * new checkpointDir the renumbered batch 0 is typically the whole
    * source — completing the crashed generation with it would commit a
    * silently mixed generation and, on the recrawl path, skip the
    * tombstoning of recaptured urls. `resumeSafe` carries the caller's
    * evidence; when false the dispatch fails loudly with the rollback
    * remediation instead of corrupting the index. */
  private def buildOrResume(spark: SparkSession, indexDir: String,
      cfg: IndexConfig, pages: DataFrame,
      resumeSafe: SnapshotMeta => Boolean)(
      whenComplete: SnapshotMeta => Unit): Unit =
    Snapshot.latest(indexDir) match {
      case None =>
        IndexBuilder.build(spark, pages, indexDir, cfg)
      case Some(p) if !p.isComplete =>
        if (!resumeSafe(p)) {
          val lastComplete = Snapshot.list(indexDir).filter(_.isComplete)
            .lastOption.map(_.id)
          throw new IllegalStateException(
            s"index $indexDir has an incomplete top generation that this " +
              "batch cannot safely complete (different checkpoint lineage " +
              "or batch content). Either restart the stream with its " +
              "ORIGINAL checkpointDir, or roll back first: " +
              lastComplete.map(id => s"IndexBuilder.rollback(indexDir, $id)")
                .getOrElse("no complete snapshot exists - delete the index dir"))
        }
        // crash mid-commit: finish the SAME batch's generation — the build
        // is deterministic, so resume produces the bytes the first attempt
        // would have (gen 0 resumes via build, later gens via append)
        else if (p.generations == 1)
          IndexBuilder.build(spark, pages, indexDir, cfg, resume = true)
        else IndexBuilder.append(spark, pages, indexDir, resume = true)
      case Some(p) => whenComplete(p)
    }

  /** Content evidence that `pages` is the crashed generation's own batch:
    * segment content is a pure function of the batch (urls hash-route to
    * segments, immutably), so EVERY committed segment s of the incomplete
    * generation must hold EXACTLY the batch urls routing to it. The url
    * resolver (`IndexBuilder.resolveUrls`, top generation only) checks
    * that every distinct batch url routing to s resolves into s, and
    * `SegmentMeta(s).docs` — the length of s's url table — must equal
    * their number: together the same url set, without reading url rows.
    * A segment holding a url twice fails the count, so such a resume is
    * refused. Auditing one segment was not enough: a small batch can
    * leave some committed segments url-empty, and a foreign batch with no
    * urls hashing to the audited segment would pass a single-segment
    * check. With every committed segment constrained, a foreign batch must
    * produce the identical url->segment image across all of them —
    * i.e. be content-identical where it matters. The batch's distinct
    * urls are held on the driver once. */
  private[graft] def resumeMatchesBatch(spark: SparkSession, indexDir: String,
      snap: SnapshotMeta, pages: DataFrame): Boolean = {
    import spark.implicits._
    val P = snap.numSegments
    val topGen = snap.generations - 1
    val committedTop = snap.segments.filter(_.segId >= topGen * P)
    if (committedTop.isEmpty) return true // nothing committed constrains the batch
    val routed = pages.select("url").as[String].collect().distinct
      .groupBy(u => topGen * P + Hashing.segmentOf(u, P))
    def routedTo(s: Int) = routed.getOrElse(s, Array.empty[String])
    val found = IndexBuilder.resolveUrls(
      IndexBuilder.snapshotPostings(spark, indexDir, snap), snap,
      committedTop.flatMap(m => routedTo(m.segId)), topGen to topGen)
    committedTop.forall { m =>
      routedTo(m.segId).length == m.docs && routedTo(m.segId).forall(u =>
        found.get(u).exists(_.exists(_._1 == m.segId)))
    }
  }

  /** True iff some url of `pages` is already a document (tombstoned or
    * not) of the latest snapshot's TOP generation: the url resolver over
    * the top generation only, so the per-batch cost stays flat as
    * generations pile up between merges. Any url, not one: a delete
    * followed by a merge removes a url from the tables, and the batch's
    * other urls still tell. The batch's distinct urls are held on the
    * driver once. */
  private[graft] def inTopGeneration(
      spark: SparkSession, indexDir: String, pages: DataFrame): Boolean =
    Snapshot.latest(indexDir) match {
      case None => false
      case Some(snap) =>
        import spark.implicits._
        val top = snap.generations - 1
        IndexBuilder.resolveUrls(IndexBuilder.snapshotPostings(spark, indexDir, snap),
          snap, pages.select("url").as[String].collect(), top to top).nonEmpty
    }

  /** foreachBatch body; public so tests can drive replay scenarios. */
  def applyBatch(spark: SparkSession, indexDir: String, cfg: IndexConfig)(
      batch: DataFrame, batchId: Long): Unit = {
    if (batch.isEmpty) return
    // no side ledger here, so resume safety rests on content evidence
    buildOrResume(spark, indexDir, cfg, batch,
        p => resumeMatchesBatch(spark, indexDir, p, batch)) { _ =>
      if (!inTopGeneration(spark, indexDir, batch))
        IndexBuilder.append(spark, batch, indexDir)
      // else: replayed, already-committed batch → no-op
    }
  }

  /** Start the streaming append: one generation per non-empty micro-batch.
    * Drive with processAllAvailable() for bounded inputs. */
  def appendStream(spark: SparkSession, srcDir: String, indexDir: String,
      cfg: IndexConfig, checkpointDir: String,
      maxFilesPerTrigger: Option[Int] = None): StreamingQuery =
    readPages(spark, srcDir, maxFilesPerTrigger).writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch((b: DataFrame, id: Long) =>
        applyBatch(spark, indexDir, cfg)(b, id))
      .start()

  // ---- streaming RECRAWL ingestion: micro-batches may re-capture urls ----

  /** appendStream's replay detection (is a url of the batch in the top
    * generation?) breaks down when batches legitimately recapture urls, so
    * the recrawl stream keeps an explicit ledger next to the snapshot log,
    * written atomically AFTER the batch's commits. The ledger records
    * (lineage, batchId): batch ids only mean anything within ONE
    * Structured-Streaming checkpoint lineage — a restart with a fresh or
    * cleared checkpointDir renumbers batches from 0, and skipping those
    * against an old lineage's ids would silently drop fresh data. The
    * lineage is therefore the checkpoint's PERSISTENT QUERY ID (the
    * `id` in <checkpointDir>/metadata, written by start()), NOT the
    * path string: a cleared-but-same-path checkpoint gets a fresh query
    * id, which path equality cannot see. A
    * lineage change resets the ledger; the new lineage then re-processes
    * the source, and re-upserting already-indexed content is safe (below)
    * — EXCEPT when the old lineage died mid-append: completing that
    * incomplete generation with foreign batch content would mix
    * generations, so the dispatch demands same-lineage or content
    * evidence and otherwise fails loudly with the
    * `IndexBuilder.rollback` remediation.
    *
    * Crash windows (at-least-once application, exactly-once ids/search
    * MEMBERSHIP): a crash between the upsert's commit and the ledger
    * write re-applies the batch — the re-upsert tombstones the generation
    * it just wrote and appends an identical one. Search results keep
    * serving exactly the latest edition of every url; like every
    * tombstone-not-purged state, N/avgdl/df count the dead duplicate until
    * `Deletes.purge`, so absolute BM25 scores in that window differ from a
    * never-crashed run's (ES between a delete and a merge behaves the same
    * way). A purge on any schedule converges the stats; it is the merge,
    * so it renumbers docIds and ends every open `search_after` cursor. */
  private def ledgerPath(indexDir: String) =
    java.nio.file.Paths.get(indexDir, "snapshots", "STREAM_LEDGER")

  /** The checkpoint's persistent query id — Structured Streaming writes
    * it to <checkpointDir>/metadata at start() and reuses it on every
    * same-checkpoint restart, but mints a NEW id when the dir was
    * cleared. That makes it the correct ledger lineage key: batch ids
    * renumbered by a cleared checkpoint never match the old lineage's
    * ledger entry. Falls back to the path string only if the metadata
    * file is unreadable (it exists by the time any foreachBatch fires). */
  private[graft] def checkpointLineage(
      spark: SparkSession, checkpointDir: String): String = {
    try {
      val p = new org.apache.hadoop.fs.Path(checkpointDir, "metadata")
      val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
      if (!fs.exists(p)) checkpointDir
      else {
        val in = fs.open(p)
        val txt =
          try scala.io.Source.fromInputStream(in, "UTF-8").mkString
          finally in.close()
        """"id"\s*:\s*"([^"]+)"""".r.findFirstMatchIn(txt)
          .map(_.group(1)).getOrElse(checkpointDir)
      }
    } catch { case _: java.io.IOException => checkpointDir }
  }

  private[graft] def lastBatchId(indexDir: String, lineage: String): Long = {
    val p = ledgerPath(indexDir)
    if (!java.nio.file.Files.exists(p)) -1L
    else java.nio.file.Files.readString(p).trim.split('\n') match {
      case Array(lin, id) if lin == lineage => id.toLong
      case _ => -1L // different (or pre-lineage) checkpoint lineage
    }
  }

  private def writeLedger(indexDir: String, lineage: String, batchId: Long): Unit = {
    val p = ledgerPath(indexDir)
    java.nio.file.Files.createDirectories(p.getParent)
    val tmp = p.getParent.resolve(".STREAM_LEDGER.tmp")
    java.nio.file.Files.writeString(tmp, s"$lineage\n$batchId")
    java.nio.file.Files.move(tmp, p,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
  }

  /** foreachBatch body for the recrawl stream: lang-scope, enforce the
    * extraction invariant, latest-edition-per-url within the batch, then
    * upsert (recaptured urls tombstone their old version, fresh urls
    * append). `lineage` identifies the checkpoint lineage the batch ids
    * belong to — refreshStream passes [[checkpointLineage]]'s persistent
    * query id, NOT the checkpoint path: a cleared-then-recreated checkpoint
    * at the same path renumbers batches from 0, and a path-keyed ledger
    * would skip them as acknowledged replays (fresh data silently dropped;
    * RecrawlStreamSpec's clear-and-restart test pins this). Public so
    * tests can drive crash/replay scenarios. */
  def refreshBatch(spark: SparkSession, indexDir: String, cfg: IndexConfig,
      langs: Set[String] = Set.empty, lineage: String = "manual")(
      batch: DataFrame, batchId: Long): Unit = {
    if (batch.isEmpty) return
    if (batchId <= lastBatchId(indexDir, lineage)) return // acknowledged replay
    // shared scope+prepare+persist front half (one home: Ingest)
    val processed = graft.corpus.Ingest.prepareScoped(batch, langs)
    try {
      // a batch emptied by lang scoping / validation must not commit a
      // generation of empty segments (plus a full termdict rebuild) — but
      // it IS acknowledged, so replays skip it
      if (processed.isEmpty) { writeLedger(indexDir, lineage, batchId); return }
      // resume safety: content evidence is REQUIRED, not one of two
      // alternatives. A same-lineage ledger entry only proves this lineage
      // ran against the index before — not that the incomplete top
      // generation is ITS crash (a different-checkpoint stream can die
      // mid-append without touching the ledger; OR-ing would then let this
      // lineage's replayed batch complete the foreign partial generation —
      // silent mixed-generation corruption). The legitimate same-lineage
      // verbatim replay passes the content check anyway, so demanding it
      // always costs one resolver job on the rare crash path and closes
      // the hole; it also covers a first-batch crash with no ledger yet.
      buildOrResume(spark, indexDir, cfg, processed,
          p => resumeMatchesBatch(spark, indexDir, p, processed)) { _ =>
        IndexBuilder.upsert(spark, processed, indexDir)
      }
      writeLedger(indexDir, lineage, batchId)
    } finally processed.unpersist()
  }

  /** Start the streaming recrawl ingestion over a raw crawl directory
    * (url, warc_ts, html, text, lang rows).
    *
    * Cross-batch ORDERING CONTRACT: newest-wins is enforced WITHIN a
    * micro-batch (Ingest.prepareBatch keeps the max-warc_ts edition per
    * url), but the index stores no capture timestamp, so a LATER batch
    * carrying an OLDER capture of an already-indexed url upserts it and
    * rolls that url back in time. The input stream must therefore deliver
    * each url's captures in non-decreasing warc_ts order across batches —
    * the natural order of crawl dumps and of the reference's sequential
    * release processing. Feeding shuffled historical dumps requires a
    * batch boundary per dump in capture order (e.g. one trigger per dump
    * directory). */
  def refreshStream(spark: SparkSession, srcDir: String, indexDir: String,
      cfg: IndexConfig, checkpointDir: String,
      langs: Set[String] = Set.empty,
      maxFilesPerTrigger: Option[Int] = None): StreamingQuery = {
    // lazy: the metadata file exists once start() has run, and the first
    // foreachBatch invocation is the first read; memoized for the stream
    lazy val lin = checkpointLineage(spark, checkpointDir)
    readPages(spark, srcDir, maxFilesPerTrigger,
      schema = "url STRING, warc_ts TIMESTAMP, html BINARY, text STRING, lang STRING")
      .writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch((b: DataFrame, id: Long) =>
        refreshBatch(spark, indexDir, cfg, langs, lineage = lin)(b, id))
      .start()
  }
}
