package graft.index

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{DeserializationFeature, ObjectMapper}
import com.fasterxml.jackson.module.scala.DefaultScalaModule

/** Per-segment lineage + metrics recorded with every commit (the analogue of
  * the reference's per-index QC metric dicts, mrtarget/modules/QC.py:27-126,
  * and of Iceberg's per-manifest stats — the Iceberg runtime is not on the
  * classpath, so this minimal commit log reproduces the needed semantics). */
case class SegmentMeta(
    segId: Int,
    docs: Long,
    terms: Long,
    postings: Long,
    sumDocLen: Long,
    dataDir: String)

/** Per-field collection statistics of a multi-field index (analyzed
  * fields only): docs = documents where the field produced >= 1 token,
  * sumDl = total tokens in the field — ES 7.4's per-field avgdl inputs
  * (avgFieldLength = sumTotalTermFreq / docCount). Like numDocs, these
  * follow Lucene delete semantics: tombstoned docs keep counting until a
  * purge recomputes them over live docs. */
case class FieldStat(name: String, docs: Long, sumDl: Long)

/** One committed index snapshot. numDocs/sumDocLen are exact integer sums
  * over the committed segments' metadata (avgdl derives from them at query
  * time, identically at any parallelism). A snapshot covering all
  * numSegments segments is complete. */
case class SnapshotMeta(
    id: Int,
    parent: Int,
    status: String,
    numDocs: Long,
    sumDocLen: Long,
    numSegments: Int,
    blockSize: Int,
    dataDirs: Seq[String],
    termdictDir: Option[String],
    segments: Seq[SegmentMeta],
    // tombstoned-but-not-purged docs (exact — re-deleting a dead doc does
    // not count). ES/Lucene semantics: numDocs/sumDocLen/df still include
    // them until Deletes.purge rewrites the postings.
    deletedDocs: Long = 0L,
    // precomputed autocomplete artifact (ngram -> term, cf), built from the
    // termdict at commit when IndexConfig.suggest is on — the reference's
    // build-time suggestion fields (mrtarget/modules/SearchObjects.py:54-77
    // + the edgeNGram analyzer, resources/es/sea_settings.json:11-21).
    // suggestRows is its lineage metric (row count). Like ES suggest
    // fields, the table tracks the termdict: tombstones don't touch it,
    // purge/append rebuild it with the termdict.
    suggestDir: Option[String] = None,
    suggestRows: Long = 0L,
    // the suggest REQUEST, persisted on every commit (incl. partials,
    // which carry suggestDir = None): a build(suggest = true) that
    // crashes before its first complete commit leaves intent nowhere
    // else, and a resume with a cfg omitting suggest would otherwise
    // silently drop the artifact the original build asked for.
    suggestWanted: Boolean = false,
    // multi-field schema ("t:name" analyzed / "k:name" keyword), pinned at
    // build time like numSegments — appends re-derive tokenization from
    // it. Empty = the classic single-`text`-column contract.
    fields: Seq[String] = Nil,
    // rank slots per url/doc-length marker CHUNK (format v2 block-chunked
    // tables, see PostingRow docs). Pinned like blockSize: readers derive
    // chunk rank bases (chunk * markerChunkDocs) from this value.
    markerChunkDocs: Int = 0,
    // DOC-level completion artifact (gram -> document + payload; the
    // reference's per-document suggestion inputs, SearchObjects.py:54-77):
    // one dir per generation, latest-wins by `gen` at serve time; purge
    // consolidates to one live-only dir. docSuggestFields is the pinned
    // ordered input-column list; rows counts across all dirs.
    docSuggestDirs: Seq[String] = Nil,
    docSuggestRows: Long = 0L,
    docSuggestFields: Seq[String] = Nil,
    // per-analyzed-field (docCount, sum field length) — the per-field
    // BM25 norm inputs; empty for classic single-field indexes
    fieldStats: Seq[FieldStat] = Nil,
    // distinct-term count of termdictDir, recorded at write time: the
    // next delta commit's input-size estimate. -1 = no termdict
    // (incomplete snapshots carry none).
    termdictRows: Long = -1L,
    // on-disk layout version. Deliberately NO default: jackson-module-scala
    // applies case-class defaults to missing JSON fields, so a default of
    // CurrentFormat would make unversioned v1 files silently pass the read
    // gate — exactly the cross-read (monolithic vs chunked marker tables)
    // the version exists to refuse. Writers pass Snapshot.CurrentFormat;
    // v1 files deserialize the primitive zero and are refused loudly.
    formatVersion: Int) {
  def avgdl: Double = graft.search.Bm25.avgdl(numDocs, sumDocLen)
  /** Per-field average doc length (ES per-field similarity). */
  def fieldAvgdl: Map[String, Double] =
    fieldStats.map(f => f.name -> graft.search.Bm25.avgdl(f.docs, f.sumDl)).toMap
  /** Parsed field schema. */
  def fieldDefs: Seq[FieldDef] = IndexBuilder.parseFields(fields)
  /** Appends create new generations of segments: generation g occupies
    * segIds [g*numSegments, (g+1)*numSegments). */
  def generations: Int =
    if (segments.isEmpty) 1 else segments.map(_.segId).max / numSegments + 1
  def isComplete: Boolean =
    status == "segments" &&
      segments.map(_.segId).distinct.size == numSegments * generations
  def completedSegIds: Set[Int] = segments.map(_.segId).toSet
}

/** Atomic snapshot commit log over a plain filesystem: segment/termdict
  * parquet is written to content-addressed subdirs first, then a single
  * JSON snapshot file is moved into place and the LATEST pointer is
  * atomically renamed. Readers resolve data files only through LATEST, so
  * a killed build is invisible until its commit; restart resumes from the
  * last committed snapshot (SURVEY.md §7 "Snapshot atomicity"). */
object Snapshot {
  /** v3: every termdict row carries its term's sorted segment set
    * (`segs`). v2: block-chunked url/doc-length marker tables (+
    * markerChunkDocs, termdictRows in the snapshot JSON). v1 (unversioned
    * files, field deserializes as 0): monolithic one-cell-per-segment
    * marker tables. Only the current version is read. */
  val CurrentFormat = 3

  private val mapper: ObjectMapper = {
    val m = new ObjectMapper()
    m.registerModule(DefaultScalaModule)
    m.configure(DeserializationFeature.FAIL_ON_UNKNOWN_PROPERTIES, false)
    m
  }

  private def snapsDir(indexDir: String): Path = Paths.get(indexDir, "snapshots")

  private val commitMonitor = new Object

  /** Optimistic-concurrency commit: the snapshot's `parent` must still be
    * the live LATEST at commit time — compare-and-swap semantics, the role
    * a catalog plays for Iceberg. Two committers racing from the same
    * parent → the second fails loudly ("rebase and retry") instead of
    * silently replacing the first's snapshot (lost tombstones / vanished
    * generations). A CRASHED commit's orphan snap file (written before
    * LATEST moved) is still safely overwritten: the restarting committer
    * resumes from the same parent, so the CAS passes and REPLACE_EXISTING
    * reclaims the orphan. The check+rename pair is serialized by a JVM
    * monitor plus an exclusive file lock (multi-threaded drivers and
    * co-located processes); multi-DRIVER deployments need a real
    * catalog/lock service in front of commit, exactly as Iceberg does. */
  def commit(indexDir: String, snap: SnapshotMeta): Unit = commitMonitor.synchronized {
    val dir = snapsDir(indexDir)
    Files.createDirectories(dir)
    // acquire INSIDE the try: if lock() itself throws (interrupt,
    // OverlappingFileLockException from an unexpected in-JVM holder) the
    // channel must still close — tracked nullable so finally can tell how
    // far acquisition got
    var lockCh: java.nio.channels.FileChannel = null
    var lock: java.nio.channels.FileLock = null
    try {
      lockCh = java.nio.channels.FileChannel.open(dir.resolve("COMMIT_LOCK"),
        java.nio.file.StandardOpenOption.CREATE,
        java.nio.file.StandardOpenOption.WRITE)
      lock = lockCh.lock()
      val ptr = dir.resolve("LATEST")
      val cur = if (Files.exists(ptr)) Files.readString(ptr).trim.toInt else -1
      if (cur != snap.parent)
        throw new IllegalStateException(
          s"concurrent commit: snapshot ${snap.id} has parent ${snap.parent} " +
            s"but LATEST is $cur - rebase on the live snapshot and retry")
      val json = mapper.writerWithDefaultPrettyPrinter().writeValueAsString(snap)
      val file = dir.resolve(f"snap-${snap.id}%05d.json")
      val tmp = dir.resolve(f".snap-${snap.id}%05d.json.tmp")
      Files.writeString(tmp, json)
      Files.move(tmp, file, StandardCopyOption.ATOMIC_MOVE,
        StandardCopyOption.REPLACE_EXISTING)
      val latestTmp = dir.resolve(".LATEST.tmp")
      Files.writeString(latestTmp, snap.id.toString)
      Files.move(latestTmp, ptr, StandardCopyOption.ATOMIC_MOVE,
        StandardCopyOption.REPLACE_EXISTING)
    } finally {
      if (lock != null) lock.release()
      if (lockCh != null) lockCh.close()
    }
  }

  /** QC metric diff between two snapshots (the reference's release-over-
    * release QCMetrics.compare_with, mrtarget/modules/QC.py:73-126): one row
    * per (segId, metric) whose value changed, plus added/removed segments. */
  def metricsDiff(old: SnapshotMeta, neu: SnapshotMeta): Seq[(Int, String, Long, Long)] = {
    val a = old.segments.map(m => m.segId -> m).toMap
    val b = neu.segments.map(m => m.segId -> m).toMap
    (a.keySet ++ b.keySet).toSeq.sorted.flatMap { seg =>
      (a.get(seg), b.get(seg)) match {
        case (None, Some(m)) => Seq((seg, "added", 0L, m.docs))
        case (Some(m), None) => Seq((seg, "removed", m.docs, 0L))
        case (Some(x), Some(y)) =>
          Seq(("docs", x.docs, y.docs), ("terms", x.terms, y.terms),
            ("postings", x.postings, y.postings),
            ("sumDocLen", x.sumDocLen, y.sumDocLen))
            .collect { case (n, va, vb) if va != vb => (seg, n, va, vb) }
        case _ => Nil
      }
    }
  }

  /** S13: persist a snapshot's per-segment QC metrics as TSV (the
    * reference writes QC metric tables to TSV for release review,
    * mrtarget/modules/QC.py:27-126). */
  def writeMetricsTsv(indexDir: String, snap: SnapshotMeta): Path = {
    val dir = Paths.get(indexDir, "qc")
    Files.createDirectories(dir)
    val f = dir.resolve(f"metrics-${snap.id}%05d.tsv")
    val header = "segId\tdocs\tterms\tpostings\tsumDocLen\tdataDir"
    val rows = snap.segments.map(m =>
      s"${m.segId}\t${m.docs}\t${m.terms}\t${m.postings}\t${m.sumDocLen}\t${m.dataDir}")
    Files.writeString(f, (header +: rows).mkString("\n") + "\n")
    f
  }

  /** S13: persist the cross-snapshot QC diff as TSV (release-over-release
    * compare, reference QC.py:73-126 compare_with). */
  def writeDiffTsv(indexDir: String, old: SnapshotMeta, neu: SnapshotMeta): Path = {
    val dir = Paths.get(indexDir, "qc")
    Files.createDirectories(dir)
    val f = dir.resolve(f"diff-${old.id}%05d-${neu.id}%05d.tsv")
    val header = "segId\tmetric\told\tnew"
    val rows = metricsDiff(old, neu).map { case (seg, m, a, b) => s"$seg\t$m\t$a\t$b" }
    Files.writeString(f, (header +: rows).mkString("\n") + "\n")
    f
  }

  def latest(indexDir: String): Option[SnapshotMeta] = {
    val ptr = snapsDir(indexDir).resolve("LATEST")
    latestVia(
      () => if (Files.exists(ptr)) Some(Files.readString(ptr).trim.toInt) else None,
      // a vacuum deleting the snap between at()'s exists-check and its
      // read is the same race in a narrower window — retryable miss
      id => try at(indexDir, id)
            catch { case _: java.nio.file.NoSuchFileException => None })
  }

  /** The retry loop of `latest`, over a pointer reader and a snap opener
    * (the seam a spec drives). Between reading LATEST and opening its snap
    * file, a concurrent commit+vacuum can advance the pointer and reclaim
    * the snap we were about to open, so re-read until the open succeeds or
    * the pointer names an id already tried: a revisited id whose snap file
    * is missing is corruption (or a pointer that oscillates), not a race.
    * Every retry adds a new id to `seen`, so the loop makes at most one
    * retry per distinct id the pointer names. */
  private[graft] def latestVia(readPointer: () => Option[Int],
      open: Int => Option[SnapshotMeta]): Option[SnapshotMeta] = {
    @annotation.tailrec
    def loop(seen: Set[Int]): Option[SnapshotMeta] = readPointer() match {
      case None => None
      case Some(id) => open(id) match {
        case some @ Some(_) => some
        case None if !seen(id) => loop(seen + id)
        case None => None
      }
    }
    loop(Set.empty)
  }

  /** Time travel: read a specific committed snapshot by id. Data dirs of
    * non-latest snapshots remain readable until `IndexBuilder.vacuum`
    * reclaims dirs unreferenced by LATEST (Iceberg expire-snapshots
    * semantics) — a pinned reader must finish, or the snapshot be kept
    * latest, before a vacuum. */
  def at(indexDir: String, id: Int): Option[SnapshotMeta] = {
    val file = snapsDir(indexDir).resolve(f"snap-$id%05d.json")
    if (!Files.exists(file)) None
    else {
      val m = mapper.readValue(Files.readString(file), classOf[SnapshotMeta])
      if (m.formatVersion != CurrentFormat)
        throw new IllegalStateException(
          s"snapshot $id under $indexDir has format v${m.formatVersion}, " +
            s"this reader speaks v$CurrentFormat - rebuild the index " +
            "(marker-table and termdict layouts are not cross-readable)")
      Some(m)
    }
  }

  /** All COMMITTED snapshots, ascending by id — the chain reachable from
    * LATEST via `parent` pointers. Deliberately NOT a directory glob:
    * commit() moves snap-NNNNN.json into place BEFORE the LATEST rename,
    * so a crash between the two leaves a fully-readable ORPHAN snap file
    * that was never committed. A glob returns the orphan as history —
    * and vacuum would then take an orphan complete snapshot as the
    * last-complete reference, reclaiming dirs the REAL last-complete
    * snapshot still references (breaking the documented rollback
    * remediation and pinned readers). */
  def list(indexDir: String): Seq[SnapshotMeta] = {
    @annotation.tailrec
    def walk(m: SnapshotMeta, acc: List[SnapshotMeta]): List[SnapshotMeta] = {
      if (m.parent >= m.id)
        throw new IllegalStateException(
          s"snapshot chain corrupt under $indexDir: " +
            s"snap ${m.id} has parent ${m.parent} (must decrease)")
      if (m.parent < 0) m :: acc
      else at(indexDir, m.parent) match {
        case None => m :: acc // pre-history (vacuumed ancestor files)
        case Some(p) => walk(p, m :: acc)
      }
    }
    // the HEAD meta must come from the latest() read itself, never a
    // re-read by id: a concurrent commit+vacuum can delete the head's
    // snap file right after LATEST moved past it, and a re-read would
    // then report a committed index as empty
    latest(indexDir).map(l => walk(l, Nil)).getOrElse(Nil)
  }
}
