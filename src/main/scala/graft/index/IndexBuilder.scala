package graft.index

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Dataset, Encoders, Observation, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import org.apache.spark.util.CollectionAccumulator

import graft.analysis.Analyzer
import graft.search.{Bm25, OracleSearch}

/** One indexed field of a multi-field document (the reference's ES mappings
  * declare text + keyword multi-fields on nearly every string column,
  * mrtarget/resources/es/sea_mappings.json:13-21). `keyword = false` runs
  * the column through the analyzer chain (scored, counts toward document
  * length); `keyword = true` stores the raw value as ONE unanalyzed term
  * (exact-match filters; tf = 1, contributes nothing to document length —
  * like ES keyword fields carrying no norms). A null field value is not
  * indexed (ES semantics). */
case class FieldDef(name: String, keyword: Boolean = false)

/** Index layout / tuning knobs. `numSegments` is a pinned property of the
  * index (doc placement depends on it), not of the cluster: the same input
  * yields bit-identical segments at any parallelism level. */
case class IndexConfig(
    numSegments: Int = 32,
    blockSize: Int = 128,
    // rank slots per marker CHUNK (url/doc-length tables are block-chunked
    // — see PostingRow). Pinned like numSegments/blockSize: readers derive
    // chunk rank bases from it, so appends/purges re-use the snapshot's
    // value. Default 2^20 slots ≈ 60 MB of urls per chunk cell at ~60 B/url
    // — far from the 2 GiB JVM-array ceiling a parquet binary cell has,
    // and small enough that one chunk decode is GC-friendly.
    markerChunkDocs: Int = 1 << 20,
    // build the persisted ngram->term suggest table with each complete
    // commit (opt-in, like an ES mapping declaring suggest fields — costs
    // one termdict-sized explode at build time)
    suggest: Boolean = false,
    // DOC-level completion suggestions (the reference's per-document
    // suggestion inputs, mrtarget/modules/SearchObjects.py:54-77): an
    // ordered list of input columns whose lowercased values feed the
    // gram -> (document, payload) autocomplete artifact. Empty = no doc
    // suggest. Pinned in the snapshot; appends keep extending the
    // artifact, purge filters dead documents out of it.
    docSuggestFields: Seq[String] = Nil,
    // empty = the classic single-field contract (one analyzed `text`
    // column). Non-empty = multi-field: every field's terms are stored
    // behind a `name` tag, queries scope clauses to fields via
    // BoolQuery.fieldText/inField/keyword. Pinned like numSegments —
    // appends/upserts re-derive it from the snapshot.
    fields: Seq[FieldDef] = Nil)

/** On-disk posting row. One row per (segment, term) carrying the full
  * compressed posting list for that segment, plus per-block skip metadata:
  *
  *  - docBytes: delta + varint docIds (ascending within segment)
  *  - tfBytes:  varint term frequencies, aligned with docBytes
  *  - blockLast/blockMaxTf/blockMinDl/blockDocOff/blockTfOff: for every
  *    `blockSize` postings, the last docId, the block's max tf and min
  *    doclen (tfNorm is monotone up in tf / down in doclen, so
  *    tfNorm(maxTf, minDl) bounds every posting in the block for any
  *    avgdl), and the byte offsets where the block's streams start.
  *    Storing (maxTf, minDl) instead of a tf-norm keeps block metadata
  *    independent of global stats — the build is single-pass and a
  *    resumed build needs no stats consistency protocol
  *
  * Marker rows per segment use reserved `term` values the analyzer can
  * never emit: TermLens ("") carries varint doc lengths indexed by
  * seg-local rank, TermUrls ("") the length-prefixed url table, and
  * TermDels ("") the segment's tombstoned docIds (soft deletes).
  * Splitting urls from lens keeps the hot scoring path from deserializing
  * url bytes — urls are fetched only for the final k winners' segments.
  *
  * The url/doc-length tables are BLOCK-CHUNKED (format v2): one row per
  * `IndexConfig.markerChunkDocs` rank slots, ordered by `chunk`. A
  * monolithic per-segment cell would cap a segment at ~3×10⁷ urls (2 GiB
  * JVM byte array) while the documented sizing range goes to 10⁸
  * docs/segment, and every reader of a big segment would pay one huge
  * allocation. Chunking invariant: every non-final chunk holds EXACTLY
  * markerChunkDocs slots, so chunk c's first rank is c·markerChunkDocs —
  * readers (the url resolver, the scan/scroll rank-lockstep walk)
  * derive rank bases per row with no cross-row state. A merge rewrites the
  * tables densely over the live documents, so it keeps the invariant.
  * `chunk` is 0 for posting and tombstone rows.
  */
case class PostingRow(
    segId: Int,
    term: String,
    df: Long,
    cf: Long,
    maxTf: Int,
    minDl: Int,
    docBytes: Array[Byte],
    tfBytes: Array[Byte],
    blockLast: Array[Long],
    blockMaxTf: Array[Int],
    blockMinDl: Array[Int],
    blockDocOff: Array[Int],
    blockTfOff: Array[Int],
    chunk: Int = 0)

/** Row shape entering the streaming encoder. Doc rows (term == TermLens)
  * sort ahead of every real term within their segment. */
case class TokRow(
    segId: Int, term: String, docId: Long, tf: Int, doclen: Int, url: String)

/** Row shape entering the merge ([[IndexBuilder.compact]]): a stored
  * posting or marker row (`url` null), or one url-table slot with its old
  * docId (`row` null). */
case class MergeRow(segId: Int, url: String, docId: Long, row: PostingRow)

/** From-scratch distributed inverted-index build (the half the reference
  * delegates to Elasticsearch — SURVEY.md §2.8). Document-partitioned
  * segments like ES shards (the reference pins 8/16/32 shards per index,
  * per-index settings under mrtarget/resources/es): every segment holds the complete
  * posting lists for its slice of documents, so top-k queries run
  * segment-parallel and merge k-way.
  *
  * Determinism contract (BASELINE.json north_rule): docId is a pure function
  * of (url, numSegments) — segId = floorMod(hash64(url), P), seg-local rank =
  * position of url in the segment's url sort order, docId = segId<<40 | rank.
  * Neither execution order nor parallelism can change any byte of the index.
  *
  * Dataflow (single shuffle + one in-partition sort):
  *   pages(url,text)
  *     -> repartition(P, segId)                     [the only exchange]
  *     -> row_number() over (segId, url)            [reuses the exchange]
  *     -> analyze once, flatMap to doc/posting rows [narrow]
  *     -> sortWithinPartitions(term, docId)         [external sort; segId
  *        is constant per partition, so term leads for a useful sort prefix]
  *     -> mapPartitions streaming encoder           [narrow, run-bounded mem;
  *        per-segment metrics observed on its output]
  *     -> parquet segments + snapshot commit
  *
  * Global stats (N, sum doclen) are exact integer sums over per-segment
  * metadata, derived at commit time — the build is single-pass (one
  * tokenization of the corpus) because no per-posting byte depends on them.
  */

object IndexBuilder {
  val SegShift = 40
  /** Marker terms, kept strictly BELOW every real token by [[safeTerm]]. */
  val TermLens = ""
  val TermUrls = "\u0001"
  /** Tombstone marker (soft-deleted docIds, Lucene live-docs analogue;
    * written by [[Deletes]], never by a build). "Real term" predicates
    * must compare against TermDels, not TermUrls. */
  val TermDels = "\u0002"

  /** Per-FIELD doc-length marker prefix (multi-field indexes): the rows
    * for analyzed field f carry term "\u0000"+f — sorting strictly between
    * TermLens ("") and TermUrls ("\u0001"), excluded from every real-term
    * predicate (all compare against TermDels). Same chunked layout as
    * TermLens; the varint values are the docs' token counts WITHIN the
    * field, rank-aligned (0 = field absent/empty). df = docs with the
    * field present in the chunk, cf = the chunk's field-length sum — the
    * snapshot's per-field (docCount, sumDl) stats aggregate these, giving
    * ES 7.4's per-field similarity inputs (each field scores with its own
    * dl/avgdl; df was already per-field via the tagged term space). */
  val FieldLensPrefix = "\u0000"

  /** Multi-field term tag separator: field f's terms are stored as
    * s"$f$FieldSep$token" (ES field-qualified term space, one shared
    * posting table). U+001F (unit separator) is forbidden in field names,
    * so the mapping field x token -> tagged term is injective; tagged
    * terms start with the field-name's first char (> '\u0003'), so the
    * marker ordering holds without the safeTerm escape. */
  val FieldSep = "\u001F"

  private[index] def serializeFields(fs: Seq[FieldDef]): Seq[String] =
    fs.map(f => (if (f.keyword) "k:" else "t:") + f.name)

  private[index] def parseFields(ss: Seq[String]): Seq[FieldDef] =
    ss.map {
      case s if s.startsWith("k:") => FieldDef(s.substring(2), keyword = true)
      case s if s.startsWith("t:") => FieldDef(s.substring(2))
      case s => throw new IllegalStateException(s"bad field spec in snapshot: $s")
    }

  private[index] def validateFields(fs: Seq[FieldDef]): Unit = {
    fs.foreach { f =>
      require(f.name.nonEmpty && f.name.charAt(0) > '\u0003' &&
        !f.name.contains(FieldSep),
        s"illegal field name '${f.name}': must be non-empty, not start with " +
          "a control char <= U+0003, and not contain U+001F")
    }
    require(fs.map(_.name).distinct.size == fs.size,
      s"duplicate field names: ${fs.map(_.name)}")
    require(fs.exists(!_.keyword),
      "a multi-field index needs at least one analyzed (non-keyword) field")
  }

  /** The marker invariant -- every stored term sorts strictly above
    * TermDels -- is NOT guaranteed by the analyzer alone: word_delimiter's
    * preserve_original keeps the raw lowercased whitespace token, so crawl
    * text containing control bytes can emit tokens (e.g. "\u0001abc")
    * that sort below or between the markers, corrupting the merge's
    * sorted-stream walk and the termdict's `> TermDels` filter. Fix at the
    * index boundary: any term whose first character is <= '\u0003' is
    * stored behind a '\u0003' escape prefix (terms already starting with
    * '\u0003' get doubled, keeping the map injective). Identity for every
    * token a realistic corpus produces; applied identically at build
    * ([[safeTermCol]]) and query-compile time, so matching semantics are
    * unchanged while the marker ordering becomes unconditional. */
  def safeTerm(t: String): String =
    if (t.isEmpty || t.charAt(0) <= '\u0003') "\u0003" + t else t

  /** Inverse of [[safeTerm]] for user-facing surfaces (suggest): strips
    * one escape prefix so the internal marker char never leaks out. */
  def unsafeTerm(t: String): String =
    if (t.nonEmpty && t.charAt(0) == '\u0003') t.substring(1) else t

  /** [[safeTerm]] over a tf-map column (`term < "\u0004"` is exactly
    * "first char <= \u0003 or empty" under binary UTF-8 comparison). */
  def safeTermCol(tfmap: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    transform_keys(tfmap, (k, _) =>
      when(k < lit("\u0004"), concat(lit("\u0003"), k)).otherwise(k))

  /** Analyzed tf map of the classic single-`text`-column contract (the
    * multi-field path tags its per-field maps inline in buildSegments,
    * where the raw maps also feed the per-field doc lengths). null text
    * coalesces to empty text: term_freqs is null-intolerant, and a null
    * map would null the whole map_concat, so explode would erase the
    * doc's marker entries AFTER row_number assigned its rank — every
    * later doc in the segment would resolve the wrong url. */
  private def analyzedTfMap(): org.apache.spark.sql.Column =
    safeTermCol(graft.plans.GraftFunctions.term_freqs(
      coalesce(col("text"), lit(""))))

  /** [[analyzedTfMap]] (as column "tfa") plus the keyword fields' single
    * unanalyzed entries: tf = 1, null values not indexed (ES keyword
    * semantics). Distinct field tags keep map_concat keys collision-free. */
  private def fullTfMap(fields: Seq[FieldDef]): org.apache.spark.sql.Column = {
    val kws = fields.filter(_.keyword).map { f =>
      map_from_entries(filter(
        array(struct(concat(lit(f.name + FieldSep), col(f.name)).as("key"),
          lit(1).as("value"))),
        e => e.getField("key").isNotNull))
    }
    if (kws.isEmpty) col("tfa") else map_concat((col("tfa") +: kws): _*)
  }

  def segBase(segId: Int): Long = segId.toLong << SegShift

  private val postingSchema: StructType = Encoders.product[PostingRow].schema
  private val termdictSchema: StructType =
    StructType.fromDDL("term STRING, df BIGINT, cf BIGINT, maxTf INT, minDl INT, segs ARRAY<INT>")
  private val suggestSchema: StructType =
    StructType.fromDDL("gram STRING, term STRING, cf BIGINT")
  private val docSuggestSchema: StructType = StructType.fromDDL(
    "gram STRING, url STRING, output STRING, payload MAP<STRING, STRING>, weight INT, gen INT")

  /** Posting rows of committed data dirs, read with their known schema:
    * a schema-less `spark.read.parquet` runs one footer-inference Spark
    * job per call, a fixed cost every refresh paid a dozen times.
    * `Snapshot.at` refuses every format but the current one, so the schema
    * is exact. */
  private[graft] def readPostings(spark: SparkSession, paths: Seq[String]): DataFrame =
    spark.read.schema(postingSchema).parquet(paths: _*)

  /** A committed term dictionary, read with its known schema (see
    * [[readPostings]]). */
  private[graft] def readTermdict(spark: SparkSession, path: String): DataFrame =
    spark.read.schema(termdictSchema).parquet(path)

  /** A committed suggest artifact ([[writeSuggest]]), read with its known
    * schema (see [[readPostings]]). */
  private[graft] def readSuggest(spark: SparkSession, path: String): DataFrame =
    spark.read.schema(suggestSchema).parquet(path)

  /** Committed doc-suggest artifacts ([[writeDocSuggest]]), read with their
    * known schema (see [[readPostings]]). */
  private[graft] def readDocSuggest(spark: SparkSession, paths: Seq[String]): DataFrame =
    spark.read.schema(docSuggestSchema).parquet(paths: _*)

  /** Write `df` and return its row count, observed during the write
    * instead of re-read from the output by a second job. */
  private[index] def writeCounted(df: DataFrame, outAbs: String): Long = {
    val rows = Observation()
    df.observe(rows, count(lit(1)).as("n")).write.mode("overwrite").parquet(outAbs)
    rows.get("n").asInstanceOf[Long]
  }

  /** Large-cell parquet writer safety, applied by every segment-writing
    * path. parquet-java sizes a column page only after
    * `parquet.page.size.row.check.min` values (default 100) have been
    * buffered; with multi-10-MB binary cells (url/doc-length chunks at the
    * default markerChunkDocs, stopword posting rows of a 10^7-10^8-doc
    * segment) 100 buffered values overflow the 2 GiB int page buffer and
    * the write dies with `ParquetEncodingException: writing empty page`.
    * Checking after every 2nd value makes big cells flush page-per-value
    * (the check is adaptive afterwards, so small-cell writes keep their
    * batching). The blob columns `docBytes` and `tfBytes` are written
    * without a dictionary: a url or doc-length chunk never repeats, so the
    * dictionary attempt only hashes every cell (multi-MB binaries) before
    * parquet falls back to plain encoding. Each key is set only if the
    * user has not chosen a value. */
  private[index] def ensureLargeCellWriterConf(spark: SparkSession): Unit = {
    val hc = spark.sparkContext.hadoopConfiguration
    if (hc.get("parquet.page.size.row.check.min") == null)
      hc.setInt("parquet.page.size.row.check.min", 2)
    Seq("docBytes", "tfBytes").foreach { c =>
      val key = s"parquet.enable.dictionary#$c"
      if (hc.get(key) == null) hc.setBoolean(key, false)
    }
  }

  /** keys(s) = smallest non-negative int x with pmod(murmur3(x, 42), P) == s,
    * i.e. Spark's HashPartitioning sends a row with value keys(s) to
    * partition s exactly. Pure function of P — safe for resume/determinism. */
  private[index] def bijectionKeys(P: Int): Array[Int] = {
    val keys = new Array[Int](P)
    val found = new Array[Boolean](P)
    var x = 0
    var n = 0
    while (n < P) {
      val b = math.floorMod(
        org.apache.spark.unsafe.hash.Murmur3_x86_32.hashInt(x, 42), P)
      if (!found(b)) { found(b) = true; keys(b) = x; n += 1 }
      x += 1
    }
    keys
  }

  /** Build (or resume) the generation-0 index for `pages` (needs `url`,
    * `text` columns) under `indexDir`. `simulateOnlySegments` lets tests
    * model a build killed partway: only those segments are committed, and a
    * later resumed call completes the rest from the snapshot log. For
    * adding NEW documents to a committed index see `append`. */
  def build(
      spark: SparkSession,
      pages: DataFrame,
      indexDir: String,
      cfg: IndexConfig = IndexConfig(),
      resume: Boolean = false,
      simulateOnlySegments: Option[Set[Int]] = None): SnapshotMeta = {
    if (cfg.docSuggestFields.nonEmpty) {
      val avail = if (cfg.fields.isEmpty) Seq("url", "text")
        else "url" +: cfg.fields.map(_.name)
      require(cfg.docSuggestFields.forall(avail.contains),
        s"docSuggestFields ${cfg.docSuggestFields} not all in input columns $avail")
    }
    if (cfg.fields.nonEmpty) {
      validateFields(cfg.fields)
      // the suggest artifact is a user-facing term surface; field-tagged
      // terms would leak the internal tag — unsupported until a
      // field-aware suggest exists
      require(!cfg.suggest,
        "suggest is not supported on multi-field indexes")
    }
    val prior = if (resume) Snapshot.latest(indexDir) else None
    require(cfg.markerChunkDocs >= 1,
      s"markerChunkDocs must be >= 1: ${cfg.markerChunkDocs}")
    prior.foreach { p =>
      require(p.numSegments == cfg.numSegments && p.blockSize == cfg.blockSize &&
        p.markerChunkDocs == cfg.markerChunkDocs,
        s"resume config mismatch: snapshot P=${p.numSegments}/B=${p.blockSize}" +
          s"/chunk=${p.markerChunkDocs}")
      require(p.fieldDefs == cfg.fields,
        s"resume config mismatch: snapshot fields=${p.fieldDefs}, cfg=${cfg.fields}")
      require(p.docSuggestFields == cfg.docSuggestFields,
        s"resume config mismatch: snapshot docSuggestFields=" +
          s"${p.docSuggestFields}, cfg=${cfg.docSuggestFields}")
      require(p.generations == 1,
        "this index has appended generations; resume them via append()")
      if (p.isComplete) return p
    }
    val done = prior.map(_.completedSegIds).getOrElse(Set.empty[Int])
    val wanted = (0 until cfg.numSegments).filterNot(done.contains)
      .filter(s => simulateOnlySegments.forall(_.contains(s)))
    require(wanted.nonEmpty, "nothing to build: all segments committed")
    buildSegments(spark, pages, indexDir, cfg, prior, segOffset = 0, wanted)
  }

  /** Append NEW documents to a committed index as a fresh generation of
    * segments (Iceberg-append semantics): existing segments, docIds and
    * posting bytes are untouched; the new generation occupies segIds
    * [g*P, (g+1)*P); global stats and the term dictionary are re-derived
    * over all generations at commit. Input contract (BASELINE.json
    * input_hint): url is the primary key — `newPages` urls must be new,
    * appending an existing url creates a second document for it. With `resume = true`, completes a
    * partially-committed top generation from `newPages` instead of
    * starting another one. */
  def append(
      spark: SparkSession,
      newPages: DataFrame,
      indexDir: String,
      resume: Boolean = false,
      simulateOnlySegments: Option[Set[Int]] = None): SnapshotMeta = {
    val prior = Snapshot.latest(indexDir)
      .getOrElse(throw new IllegalStateException(s"no snapshot under $indexDir"))
    val P = prior.numSegments
    if (newPages.isEmpty) {
      // an empty batch must not commit a permanent all-empty generation:
      // generations increment forever, and every future id lookup /
      // candidate-segment scan would pay P extra segments per no-op call
      // (the streaming path guards this itself; the public API must too)
      val topGen0 = prior.generations - 1
      val topDone0 = (topGen0 * P until (topGen0 + 1) * P)
        .forall(prior.completedSegIds.contains)
      require(!(resume && !topDone0),
        "cannot resume an incomplete generation from an empty batch — " +
          "re-supply the original batch or IndexBuilder.rollback")
      return prior
    }
    appendTo(spark, newPages, indexDir, prior, resume, simulateOnlySegments)
  }

  /** [[append]] of a batch known to be non-empty onto `prior`, the latest
    * snapshot, committing `tombstones` with it (see [[buildSegments]]). */
  private def appendTo(spark: SparkSession, newPages: DataFrame,
      indexDir: String, prior: SnapshotMeta, resume: Boolean,
      simulateOnlySegments: Option[Set[Int]],
      tombstones: Option[(String, Long)] = None): SnapshotMeta = {
    val P = prior.numSegments
    // fields are a pinned index property — re-derive from the snapshot so
    // appended generations tokenize identically to the original build
    val cfg = IndexConfig(P, prior.blockSize, fields = prior.fieldDefs,
      markerChunkDocs = prior.markerChunkDocs,
      docSuggestFields = prior.docSuggestFields)
    val done = prior.completedSegIds
    val topGen = prior.generations - 1
    val topGenDone = (topGen * P until (topGen + 1) * P).forall(done.contains)
    val gen =
      if (resume && !topGenDone) topGen
      else {
        require(prior.isComplete,
          s"append requires a complete index (or resume=true): ${prior.segments.size} segments")
        prior.generations
      }
    val wanted = (gen * P until (gen + 1) * P).filterNot(done.contains)
      .filter(s => simulateOnlySegments.forall(_.contains(s)))
    require(wanted.nonEmpty, "nothing to append")
    buildSegments(spark, newPages, indexDir, cfg, Some(prior),
      segOffset = gen * P, wanted, tombstones)
  }

  /** The url -> docId resolver, the engine's lookup by primary key (ES
    * `_id`): for each of `urls`, the (segId, docId) of every document it
    * has in generations `gens`, tombstoned ones included. Segment
    * assignment is a pure function of the url, so a url can only live in
    * segment g*P + segmentOf(url, P) of generation g: only those segments
    * are scanned (term AND segId pushed into the scan), and each of their
    * url chunks binary-searches, executor-side, the probes that route to
    * it (seg-local rank IS the url sort position, and chunk c holds ranks
    * [c*markerChunkDocs, (c+1)*markerChunkDocs)). Only the found pairs,
    * bounded by the probe list, cross to the driver. The probes travel as
    * one broadcast destroyed after the job; captured in the task closure
    * they would be serialized into the task binary. `postings` is the
    * snapshot's posting table: a warm handle probes its cache, every other
    * caller reads [[snapshotPostings]]. */
  private[graft] def resolveUrls(postings: Dataset[PostingRow],
      snap: SnapshotMeta, urls: scala.collection.Seq[String],
      gens: Range): Map[String, Array[(Int, Long)]] = {
    val P = snap.numSegments
    val chunkDocs = snap.markerChunkDocs
    val (probes, segs) = routeUrls(urls, P, gens)
    if (segs.isEmpty) return Map.empty
    val spark = postings.sparkSession
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(probes)
    val found =
      try postings
        .filter(col("term") === lit(TermUrls) && col("segId").isin(segs: _*))
        .mapPartitions { it =>
          val probes = bc.value
          it.flatMap(r => findInChunk(r.segId, r.chunk, r.tfBytes, probes, P, chunkDocs)
            .map { case (u, d) => (u, r.segId, d) })
        }.collect()
      finally bc.destroy()
    found.groupBy(_._1).map { case (u, arr) => u -> arr.map(t => (t._2, t._3)) }
  }

  /** The resolver's probes, the distinct `urls` keyed by the slot
    * segmentOf(url, P) they route to, and the candidate segments
    * {g*P + slot : g in gens} they can live in, ascending by slot. */
  private[index] def routeUrls(urls: scala.collection.Seq[String], P: Int,
      gens: Range): (Map[Int, Array[String]], Seq[Int]) = {
    val probes = urls.distinct.groupBy(u => Hashing.segmentOf(u, P))
      .map { case (s0, us) => s0 -> us.toArray }
    (probes, probes.keys.toSeq.sorted.flatMap(s0 => gens.map(_ * P + s0)))
  }

  /** The (url, docId) of every probe routing to `segId`'s slot that url
    * table chunk `chunk` of that segment (encoded `urls`, a url row's
    * `tfBytes`) holds, dead slots included: the resolver's executor-side
    * search, shared with the tombstone-by-url write. */
  private[index] def findInChunk(segId: Int, chunk: Int, urls: Array[Byte],
      probes: Map[Int, Array[String]], P: Int,
      chunkDocs: Int): Iterator[(String, Long)] = {
    val targets = probes.getOrElse(segId % P, Array.empty[String])
    // range precheck against the chunk's (first, last) urls — a prefix
    // walk, two String allocations — so only the ONE chunk per segment
    // that can bracket a probe pays the full decode (2^20 String
    // allocations); a point lookup against a 10^8-doc segment otherwise
    // decodes ~100 chunks to run ~20 comparisons
    val inRange =
      if (targets.isEmpty) targets
      else Varint.firstLastStrings(urls) match {
        case None => Array.empty[String]
        case Some((first, last)) => targets.filter(u =>
          OracleSearch.utf8Compare(u, first) >= 0 &&
          OracleSearch.utf8Compare(u, last) <= 0)
      }
    if (inRange.isEmpty) Iterator.empty
    else {
      val tab = Varint.decodeStrings(urls)
      val base = segBase(segId) + chunk.toLong * chunkDocs
      inRange.iterator.flatMap { u =>
        val idx = binarySearchUtf8(tab, u)
        if (idx >= 0) Iterator.single((u, base + idx + 1)) else Iterator.empty
      }
    }
  }

  /** Binary search in UTF-8 byte order, the order the build sorts urls by. */
  private def binarySearchUtf8(tab: Array[String], u: String): Int = {
    var lo = 0
    var hi = tab.length - 1
    while (lo <= hi) {
      val mid = (lo + hi) >>> 1
      val c = OracleSearch.utf8Compare(tab(mid), u)
      if (c < 0) lo = mid + 1
      else if (c > 0) hi = mid - 1
      else return mid
    }
    -1
  }

  /** [[resolveUrls]]' pairs grouped by segment, docIds ascending. */
  private[graft] def docIdsBySeg(
      pairs: Iterator[Array[(Int, Long)]]): Map[Int, Array[Long]] =
    pairs.flatten.toArray.groupBy(_._1).map { case (s, arr) => s -> arr.map(_._2).sorted }

  /** Posting rows of every data dir of `snap`. */
  private[graft] def snapshotPostings(spark: SparkSession, indexDir: String,
      snap: SnapshotMeta): Dataset[PostingRow] =
    readPostings(spark, snap.dataDirs.map(d => s"$indexDir/$d"))
      .as(Encoders.product[PostingRow])

  /** (url, docId) of every slot of one url-table chunk row, dead slots
    * included. Chunk c's first rank is c*markerChunkDocs (chunking
    * invariant), so each chunk row maps to docIds with no cross-row state. */
  private def chunkUrls(r: PostingRow, chunkDocs: Int): Iterator[(String, Long)] = {
    val base = segBase(r.segId) + r.chunk.toLong * chunkDocs
    Varint.decodeStrings(r.tfBytes).iterator.zipWithIndex
      .map { case (u, i) => (u, base + i + 1) }
  }

  /** Recrawl/update (ES index-with-same-_id, Iceberg merge-on-read): every
    * document already live for one of `newPages`' urls is tombstoned and
    * the batch is appended as a fresh generation, in ONE snapshot commit,
    * so no reader ever sees a url's old version dead and its new one not
    * yet there; latest version wins for search and `ids` lookups.
    * Contract: one row per url in the batch (a duplicated url would index
    * twice). Existing postings are never rewritten (that is [[compact]]'s
    * job, the merge) and — like ES between a delete and a merge —
    * N/avgdl/df keep counting the replaced versions until a merge. The old
    * versions are tombstoned by url in one Spark execution, the one
    * `Deletes.delete` runs: it scans only the url chunks and tombstone
    * rows of the segments the batch's urls route to, in every generation,
    * so per-batch cost follows the batch and the generation count, not the
    * index size. Its dir is written first and committed with the build's.
    * Memory budget: the batch's distinct urls are held on the driver once,
    * the same bound `Deletes.delete` has for its url list. An empty batch
    * commits nothing and returns the latest snapshot, complete or not. */
  def upsert(
      spark: SparkSession,
      newPages: DataFrame,
      indexDir: String): SnapshotMeta = {
    import spark.implicits._
    val snap = Snapshot.latest(indexDir)
      .getOrElse(throw new IllegalStateException(s"no snapshot under $indexDir"))
    val urls = newPages.select("url").as[String].collect()
    if (urls.isEmpty) return snap
    require(snap.isComplete, "upsert requires a complete index")
    // None when no old version was live (never-seen or already-dead urls)
    val tombstones = Deletes.tombstoneUrls(spark, indexDir, snap, urls)
    appendTo(spark, newPages, indexDir, snap, resume = false,
      simulateOnlySegments = None, tombstones)
  }

  /** Encode and write the `wanted` segments of `pages` into a fresh data
    * dir and commit it on top of `prior`. `tombstones`, a tombstone dir
    * already written over `prior` and its newly-dead count (an upsert's),
    * joins the same commit. */
  private def buildSegments(
      spark: SparkSession,
      pages: DataFrame,
      indexDir: String,
      cfg: IndexConfig,
      prior: Option[SnapshotMeta],
      segOffset: Int,
      wanted: Seq[Int],
      tombstones: Option[(String, Long)] = None): SnapshotMeta = {
    import spark.implicits._
    ensureLargeCellWriterConf(spark)
    val P = cfg.numSegments
    // codegen'd segment assignment (no UDF row-conversion on the hot path)
    def segCol = graft.plans.GraftFunctions.segment_of(col("url"), P) + lit(segOffset)
    val snapId = prior.map(_.id).getOrElse(0) + 1
    val buildDirRel = f"data/build-$snapId%05d"
    val buildDir = s"$indexDir/$buildDirRel"

    val blockSize = cfg.blockSize
    val chunkDocs = cfg.markerChunkDocs
    // One narrow pipeline after the single exchange; everything between the
    // tokenizer UDF and the encoder stays in Tungsten codegen. The
    // per-document marker row (doc length + url, term == TermLens) is
    // synthesized by folding a sentinel entry into the tf map before the
    // native explode — no typed flatMap, no second pass over the corpus.
    val inputCols =
      if (cfg.fields.isEmpty) Seq("text") else cfg.fields.map(_.name)
    val analyzedFields = cfg.fields.filterNot(_.keyword)
    val base0 = pages.select((col("url") +: inputCols.map(col)): _*)
      .withColumn("segId", segCol)
      .filter(col("segId").isin(wanted: _*))
      // Exact 1:1 segment->task mapping: plain repartition(P, segId) is a
      // balls-in-bins trap (a task receiving 3-4 hash-colliding segments
      // becomes a 4x straggler for the whole stage), and repartitionByRange
      // costs an extra sampling pass over the corpus. Instead map segId
      // through a driver-computed murmur3 bijection so hashpartitioning
      // sends segment s exactly to partition s.
      .withColumn("part",
        element_at(lit(bijectionKeys(P)), col("segId") - lit(segOffset) + 1))
      .repartition(P, col("part"))
      .withColumn("rank",
        row_number().over(Window.partitionBy(col("part")).orderBy(col("url"))))
      .withColumn("docId",
        shiftleft(col("segId").cast("long"), SegShift) + col("rank"))
    // analyzed tf map first (doclen counts ONLY analyzed tokens — like
    // ES, keyword fields carry no norms), keyword entries concat after.
    // Multi-field: each field's raw tf map is a NAMED column so the
    // tokenizer runs once per field and feeds both the tagged term map
    // and the per-field doc length (dlmap) — per-field norms are the ES
    // similarity contract (each field scores with its own dl/avgdl).
    val base =
      if (cfg.fields.isEmpty)
        base0.withColumn("tfa", analyzedTfMap())
          .withColumn("doclen",
            aggregate(map_values(col("tfa")), lit(0), (acc, x) => acc + x))
          .withColumn("tfmap", fullTfMap(cfg.fields))
      else {
        val withRaw = analyzedFields.foldLeft(base0)((d, f) =>
          d.withColumn("_tf_" + f.name, graft.plans.GraftFunctions.term_freqs(
            coalesce(col(f.name), lit("")))))
        withRaw
          .withColumn("tfa", map_concat(analyzedFields.map(f =>
            transform_keys(col("_tf_" + f.name),
              (k, _) => concat(lit(f.name + FieldSep), k))): _*))
          .withColumn("dlmap", map(analyzedFields.flatMap(f => Seq(
            lit(f.name), aggregate(map_values(col("_tf_" + f.name)),
              lit(0), (acc, x) => acc + x))): _*))
          .withColumn("doclen",
            aggregate(map_values(col("tfa")), lit(0), (acc, x) => acc + x))
          .withColumn("tfmap", fullTfMap(cfg.fields))
      }
    // marker entries folded into the explode: the global doc row (TermLens)
    // plus, for multi-field, one per-field doc-length row per analyzed
    // field (value = the field's token count, 0 when absent — every rank
    // gets a slot so the encoded tables stay rank-aligned)
    val markerMap =
      if (cfg.fields.isEmpty) map(lit(TermLens), lit(0))
      else map_concat(map(lit(TermLens), lit(0)),
        map(analyzedFields.flatMap(f => Seq(lit(FieldLensPrefix + f.name),
          element_at(col("dlmap"), lit(f.name)))): _*))
    // posting rows of tagged ANALYZED terms carry their FIELD's doc length
    // (feeds blockMinDl, so block-max bounds use field norms); keyword
    // terms score with norms disabled, their stored doclen is inert (1);
    // marker rows (term < TermUrls) keep the global analyzed length
    val doclenCol =
      if (cfg.fields.isEmpty) col("doclen")
      else when(col("term") < lit(TermUrls), col("doclen"))
        .otherwise(coalesce(
          element_at(col("dlmap"), substring_index(col("term"), FieldSep, 1)),
          lit(1)))
    val preExplode =
      if (cfg.fields.isEmpty)
        base.select(col("segId"), col("docId"), col("doclen"), col("url"),
          explode(map_concat(markerMap, col("tfmap"))).as(Seq("term", "tf")))
      else
        base.select(col("segId"), col("docId"), col("doclen"), col("url"),
          col("dlmap"),
          explode(map_concat(markerMap, col("tfmap"))).as(Seq("term", "tf")))
    val tokRows = preExplode
      .select(col("segId"), col("term"), col("docId"), col("tf"), doclenCol.as("doclen"),
        when(col("term") === TermLens, col("url")).as("url"))
      .as[TokRow]

    val wantedSet = wanted.toSet
    val metas = spark.sparkContext.collectionAccumulator[SegmentMeta]("segment metrics")
    tokRows
      // partition == segment (bijection), so segId is constant here and
      // must NOT lead the sort key: Spark derives the radix/sort prefix
      // from the FIRST key only, and a constant prefix forces every
      // comparison through full row deserialization. Leading with term
      // resolves most comparisons in the 8-byte binary prefix.
      .sortWithinPartitions("term", "docId")
      .mapPartitions { it =>
        // partition p holds exactly segment segOffset+p (bijection above).
        // A document-less wanted segment must still commit marker rows, or
        // the snapshot stays permanently incomplete (a corpus with fewer
        // docs than P would brick the index with no remediation).
        val segId = segOffset + org.apache.spark.TaskContext.getPartitionId()
        observeSegments(
          if (it.hasNext) encodePartition(it, blockSize, chunkDocs)
          else if (wantedSet.contains(segId)) emptySegmentRows(segId)
          else Iterator.empty, metas, buildDirRel)
      }
      .write.mode("overwrite").parquet(buildDir)

    val allSegments = (prior.map(_.segments).getOrElse(Nil) ++ metas.value.asScala)
      .sortBy(_.segId)
    val priorDirs = prior.map(_.dataDirs).getOrElse(Nil)
    val allDataDirs = (priorDirs ++ tombstones.map(_._1) :+ buildDirRel).distinct
    // this commit is append-shaped by construction (old dirs are immutable,
    // one fresh dir of segments added; a tombstone dir holds no term or
    // field row), so incremental artifact maintenance below may aggregate
    // over newDirs alone and merge with the prior's exact state
    val newDirs = Seq(buildDirRel).filterNot(priorDirs.toSet)
    val generations = allSegments.map(_.segId).max / P + 1
    val complete = allSegments.map(_.segId).distinct.size == P * generations

    // term dictionary over all committed segments. When the prior commit
    // carries a termdict (every complete commit does), only the NEW dir is
    // aggregated and merged with it — per-commit dictionary read cost is
    // O(vocab + batch metadata), flat in the number of accumulated
    // generations, instead of O(segments x vocab). A prior without a
    // termdict (crashed append being resumed) falls back to the full scan,
    // once.
    val termdictRel = if (complete) Some(f"termdict/snap-$snapId%05d") else None
    val termdictRows = termdictRel.map { rel =>
      val prevDict = prior.flatMap(_.termdictDir).filter(_ => newDirs.nonEmpty)
      val dirs = if (prevDict.isDefined) newDirs else allDataDirs
      // the dictionary's input rows: the prior's one per term plus one
      // per (segment, term) of the aggregated dirs
      val inputRows =
        if (prevDict.isDefined)
          prior.get.termdictRows + metas.value.asScala.map(_.terms).sum
        else allSegments.map(_.terms).sum
      lastTermdictPlan = (if (prevDict.isDefined) "delta:" else "full:") + dirs.size
      writeTermdict(spark, prevDict.map(d => s"$indexDir/$d"),
        dirs.map(d => s"$indexDir/$d"), inputRows, s"$indexDir/$rel")
    }.getOrElse(-1L)

    // suggest artifact: sticky across append/resume — once an index was
    // built with suggest on, every later complete commit rebuilds it
    // alongside the termdict it derives from. Every snapshot records the
    // request (`suggestWanted`), partial commits included, so the prior
    // alone answers it.
    val wantSuggest = cfg.suggest || prior.exists(_.suggestWanted)
    val suggestRel =
      if (complete && wantSuggest) Some(f"suggest/snap-$snapId%05d") else None
    val suggestRows = suggestRel.map { rel =>
      writeSuggest(spark, s"$indexDir/${termdictRel.get}", s"$indexDir/$rel")
    }.getOrElse(0L)

    // per-field stats are maintained the same incremental way: every commit
    // (complete or partial) stores the EXACT per-field aggregate over its
    // dirs, so an append only scans the new dir and sums driver-side.
    val fstats =
      if (cfg.fields.isEmpty) Nil
      else prior match {
        case Some(p) if newDirs.nonEmpty =>
          mergeFieldStats(p.fieldStats, fieldStats(spark, newDirs.map(d => s"$indexDir/$d")))
        case _ => fieldStats(spark, allDataDirs.map(d => s"$indexDir/$d"))
      }

    // doc-suggest rows for THIS generation (the whole batch — a resumed
    // build's final call re-derives the full generation from its batch,
    // which the resume content-evidence pins to the original). Only
    // complete commits write one, like the termdict.
    val gen = segOffset / P
    val priorDocSugDirs = prior.map(_.docSuggestDirs).getOrElse(Nil)
    val docSugNew =
      if (complete && cfg.docSuggestFields.nonEmpty) {
        val rel = f"docsuggest/gen-$gen%05d-snap-$snapId%05d"
        Some(rel -> writeDocSuggest(spark, pages, s"$indexDir/$rel",
          cfg.docSuggestFields, gen))
      } else None
    val allDocSugDirs = priorDocSugDirs ++ docSugNew.map(_._1).toSeq
    // cumulative — recounting every generation's dir per commit would make
    // a streaming index's commit cost O(total artifact), the same cost
    // class the snapshot-log walk above avoids
    val docSugRows = prior.map(_.docSuggestRows).getOrElse(0L) +
      docSugNew.map(_._2).getOrElse(0L)
    val snap = SnapshotMeta(
      id = snapId, parent = prior.map(_.id).getOrElse(-1), status = "segments",
      numDocs = allSegments.map(_.docs).sum,
      sumDocLen = allSegments.map(_.sumDocLen).sum,
      numSegments = P, blockSize = blockSize,
      dataDirs = allDataDirs, termdictDir = termdictRel, segments = allSegments,
      // tombstones committed before this build/append stay live (their
      // TermDels rows ride along in dataDirs) — the counter must too
      deletedDocs = prior.map(_.deletedDocs).getOrElse(0L) +
        tombstones.map(_._2).getOrElse(0L),
      suggestDir = suggestRel, suggestRows = suggestRows,
      // persist the REQUEST too: a partial commit carries suggestDir =
      // None, and a resume must not lose the original build's intent
      suggestWanted = wantSuggest,
      fields = serializeFields(cfg.fields),
      markerChunkDocs = chunkDocs, termdictRows = termdictRows,
      fieldStats = fstats,
      docSuggestDirs = allDocSugDirs, docSuggestRows = docSugRows,
      docSuggestFields = cfg.docSuggestFields,
      formatVersion = Snapshot.CurrentFormat)
    Snapshot.commit(indexDir, snap)
    snap
  }

  /** S11/§2.8 suggest artifact: the persisted ngram -> (term, cf) table the
    * autocomplete path queries, precomputed at build time exactly like the
    * reference's suggestion fields (mrtarget/modules/SearchObjects.py:54-77;
    * ngram filter 4..10 per resources/es/sea_settings.json:11-21). Derived
    * from the committed termdict — cf is the corpus-wide collection
    * frequency — and gram-sorted so a prefix probe is a pushed-down
    * parquet range/equality scan, the same access shape as the termdict.
    * Returns the row count (snapshot lineage metric). */
  private[index] def writeSuggest(
      spark: SparkSession, termdictAbs: String, outAbs: String): Long = {
    // termdict terms carry the safeTerm escape; the artifact is a
    // USER-FACING surface, so both the grams and the emitted term are
    // computed over the unescaped form — the internal marker char must
    // never leak into suggestions
    val unesc = udf((t: String) => unsafeTerm(t))
    val ng = udf((t: String) => Analyzer.ngrams(unsafeTerm(t)).distinct)
    writeCounted(readTermdict(spark, termdictAbs)
      .select(explode(ng(col("term"))).as("gram"),
        unesc(col("term")).as("term"), col("cf"))
      .sort("gram", "term"), outAbs)
  }

  /** S11/§2.8 DOC-level completion artifact: the reference assembles a
    * per-document suggestion object — `input` = ordered field values
    * lowercased, `output` = the name-like first field, `payload` = the
    * field values (mrtarget/modules/SearchObjects.py:54-77) — and ES's
    * completion suggester returns ranked DOCUMENTS for a prefix fragment.
    * Here: one row per (gram, document) with gram ∈ Analyzer.ngrams(4..10)
    * of any input, weight = how many inputs contain the gram (pinned
    * ranking signal; ES ranks by document weight, which the reference
    * never sets), gen = the generation that wrote the row (upserted
    * documents resolve latest-wins at serve time). Gram-sorted so a probe
    * is a pushed-down range scan, the same access shape as the termdict
    * and the vocabulary suggest artifact. */
  private[index] def writeDocSuggest(spark: SparkSession, pages: DataFrame,
      outAbs: String, fieldsIn: Seq[String], gen: Int): Long = {
    val gramsOf = udf((vs: Seq[String]) => {
      val m = scala.collection.mutable.HashMap.empty[String, Int]
      vs.foreach { v =>
        if (v != null)
          Analyzer.ngrams(v.toLowerCase(java.util.Locale.ROOT)).distinct
            .foreach(g => m.update(g, m.getOrElse(g, 0) + 1))
      }
      m.toSeq
    })
    writeCounted(pages.select(col("url"),
        // output = the first configured field with a non-empty value (the
        // reference's name-defaulting treats '' as missing: `if not name:
        // name = id`, SearchObjects.py:35-43) — nullif('') makes coalesce
        // skip empties too; cast matches the payload/gram handling so
        // non-string input columns serve as strings, not a CCE at probe
        coalesce((fieldsIn.map(f =>
          nullif(col(f).cast("string"), lit(""))) :+ col("url")): _*)
          .as("output"),
        map(fieldsIn.flatMap(f => Seq(lit(f), col(f).cast("string"))): _*)
          .as("payload"),
        explode(gramsOf(array(fieldsIn.map(f => col(f).cast("string")): _*)))
          .as("ge"))
      .select(col("ge._1").as("gram"), col("url"), col("output"),
        col("payload"), col("ge._2").as("weight"), lit(gen).as("gen"))
      .sort("gram", "url"), outAbs)
  }

  /** Live (url, generation) pairs of data dirs: the url tables minus
    * tombstoned ranks, enumerated executor-side per segment. An upserted
    * url's OLD docId is tombstoned, so each live url surfaces exactly with
    * its CURRENT generation — the merge's doc-suggest filter joins on both
    * columns to drop superseded-generation rows. */
  private[index] def liveUrlsDF(
      spark: SparkSession, absDirs: Seq[String], numSegments: Int): DataFrame = {
    import spark.implicits._
    // the reader hands each segment's tombstones over before its first url
    // chunk, so the url chunks decode one at a time against a complete
    // dead bitset instead of being buffered whole-segment
    SegmentReader.perSegment(readPostings(spark, absDirs).as[PostingRow]
        .filter(col("term") === lit(TermUrls) || col("term") === lit(TermDels)),
        clustered = false, marker = Some(TermUrls), keepLens = false) { seg =>
      val segB = segBase(seg.segId)
      val gen = seg.segId / numSegments
      val dead = new java.util.BitSet()
      seg.dels.foreach(docIdStream(_).foreach(d => dead.set((d - segB - 1).toInt)))
      var rank = 0
      var expectChunk = 0
      seg.markers.flatMap { c =>
        // the rank walk needs contiguous ascending chunks — refuse
        // loudly if the sort contract is ever broken
        require(c.chunk == expectChunk,
          s"liveUrls: segment ${seg.segId} expected url chunk $expectChunk" +
            s", got ${c.chunk}")
        expectChunk += 1
        Varint.decodeStrings(c.tfBytes).iterator.filter { _ =>
          val live = !dead.get(rank); rank += 1; live
        }.map(u => (u, gen))
      }
    }.toDF("url", "gen")
  }

  /** Observability for the commit-time dictionary plan (mirrors the dedup
    * selector's decision record): "delta:<newDirs>" when the commit merged
    * the prior termdict with a new-dirs-only aggregation, "full:<dirs>"
    * when it rescanned everything. Spec-asserted; a 100x operator watching
    * a streaming index can see per-commit dictionary cost stays flat. */
  @volatile private[graft] var lastTermdictPlan: String = ""

  /** Input rows of the term dictionary per output file. A constant, not a
    * setting: it changes no row, only how many files (and range tasks)
    * the dictionary is split into. */
  private val TermdictRowsPerFile = 1 << 18

  /** Write the global term dictionary of `dirsAbs`, merged with the
    * committed dictionary `priorAbs` when given; returns the distinct-term
    * count, persisted in SnapshotMeta as the next delta commit's input
    * size. Each row carries its term's segment set `segs`, ascending: the
    * segments holding a posting row for the term, which is where a query
    * needing the term can match (the one candidate-segment rule,
    * `IndexHandle.compile`).
    *
    * One exchange: the input, one row per (segment, term) of the dirs plus
    * one per term of the prior, is range-partitioned on term into
    * ceil(`inputRows` / `rowsPerFile`) partitions (at most
    * `spark.sql.shuffle.partitions`), reduced per term over that exchange
    * and sorted within each partition, so the file set is globally
    * term-sorted. At one partition no sampling job runs. No salting: a
    * term has at most one row per segment plus one prior row, so its rows
    * are bounded by the segment count, not by its df.
    *
    * With a prior the result is value-identical to a full rebuild over all
    * dirs (spec-pinned) by algebra: every termdict measure (sum df, sum
    * cf, max maxTf, min minDl, the sorted concatenation of segs) is
    * associative and commutative, and a committed termdict IS the exact
    * reduction of its snapshot's dirs. A segment's (segment, term) row
    * lives in exactly one dir, so the concatenated sets stay disjoint.
    * Cost: O(vocab + new-dir metadata rows) per commit instead of
    * O(segments x vocab). Tombstone rows (term <= TermDels) contribute
    * nothing, matching the df-includes-deleted semantics the termdict
    * keeps until a merge; the merge writes one fresh dir and passes no
    * prior. */
  private[graft] def writeTermdict(spark: SparkSession, priorAbs: Option[String],
      dirsAbs: Seq[String], inputRows: Long, outAbs: String,
      rowsPerFile: Int = TermdictRowsPerFile): Long = {
    val rows = readPostings(spark, dirsAbs).filter(col("term") > TermDels)
      .select(col("term"), col("df"), col("cf"), col("maxTf"), col("minDl"),
        array(col("segId")).as("segs"))
    val all = priorAbs.fold(rows)(p => readTermdict(spark, p).unionByName(rows))
    val n = math.min((inputRows + rowsPerFile - 1) / rowsPerFile,
      spark.sessionState.conf.numShufflePartitions.toLong).max(1L).toInt
    writeCounted(all
      .repartitionByRange(n, col("term"))
      .groupBy("term")
      .agg(sum("df").as("df"), sum("cf").as("cf"),
        max("maxTf").as("maxTf"), min("minDl").as("minDl"),
        array_sort(flatten(collect_list("segs"))).as("segs"))
      .sortWithinPartitions("term"), outAbs)
  }

  /** Driver-side merge of per-field stats (fields are O(schema), both
    * inputs exact aggregates over disjoint dir sets). */
  private[graft] def mergeFieldStats(
      prior: Seq[FieldStat], delta: Seq[FieldStat]): Seq[FieldStat] = {
    val m = scala.collection.mutable.LinkedHashMap.empty[String, FieldStat]
    (prior ++ delta).foreach { f =>
      m.updateWith(f.name) {
        case Some(p) => Some(FieldStat(f.name, p.docs + f.docs, p.sumDl + f.sumDl))
        case None    => Some(f)
      }
    }
    m.values.toSeq.sortBy(_.name)
  }

  /** `rows`, passed on to the writer of data dir `dir`; once they are
    * drained, the lineage metrics of each segment among them are added to
    * `metas`, so a write commits its segments' metrics with no re-read of
    * what it wrote. The TermLens rows' (df, cf) carry (docs, doclen sum)
    * per chunk, so `docs` is the url-table length: a build and a merge
    * both write dense tables (tombstoned docs keep counting until a merge
    * drops them). Any row, an empty segment's marker rows included, puts
    * its segment in. Called in the write's result stage, where Spark
    * applies each task's accumulator update once: a retried or speculative
    * task cannot count a segment twice. */
  private def observeSegments(rows: Iterator[PostingRow],
      metas: CollectionAccumulator[SegmentMeta], dir: String): Iterator[PostingRow] = {
    // segId -> (docs, sumDocLen, terms, postings)
    val bySeg = scala.collection.mutable.HashMap.empty[Int, Array[Long]]
    rows.map { r =>
      val m = bySeg.getOrElseUpdate(r.segId, new Array[Long](4))
      if (r.term == TermLens) { m(0) += r.df; m(1) += r.cf }
      else if (r.term > TermDels) { m(2) += 1; m(3) += r.df }
      r
    } ++ {
      bySeg.foreach { case (s, m) => metas.add(SegmentMeta(s, m(0), m(2), m(3), m(1), dir)) }
      Iterator.empty
    }
  }

  /** Marker rows (doc-length + url tables, both empty) for a segment that
    * received zero documents, so it counts as committed in the snapshot. */
  private def emptySegmentRows(segId: Int): Iterator[PostingRow] = Iterator(
    PostingRow(segId, TermLens, 0L, 0L, 0, 0,
      Array.emptyByteArray, Array.emptyByteArray, Array.emptyLongArray,
      Array.emptyIntArray, Array.emptyIntArray, Array.emptyIntArray,
      Array.emptyIntArray, chunk = 0),
    PostingRow(segId, TermUrls, 0L, 0L, 0, 0,
      Array.emptyByteArray, Varint.encodeStrings(ArrayBuffer.empty[String]),
      Array.emptyLongArray, Array.emptyIntArray, Array.emptyIntArray,
      Array.emptyIntArray, Array.emptyIntArray, chunk = 0))

  /** Test hooks: synthesize a single (segId, term) posting run and run it
    * through the real streaming encoder (used by differential fuzz specs). */
  def TokRowsForTest(segId: Int, term: String, docIds: Array[Long],
      tfs: Array[Int], lens: Array[Int]): Iterator[TokRow] =
    docIds.indices.iterator.map(i =>
      TokRow(segId, term, docIds(i), tfs(i), lens(i), null))

  def encodeForTest(rows: Iterator[TokRow], blockSize: Int): PostingRow =
    encodePartition(rows, blockSize, chunkDocs = Int.MaxValue)
      .toSeq.find(_.term > TermDels).get

  /** Lazily encode one sorted partition: memory is bounded by a single
    * (segId, term) run plus the current segment's doc-length/url tables.
    * Input must be sorted by (segId, term, docId); doc rows lead each seg. */
  private[index] def encodePartition(
      rows: Iterator[TokRow], blockSize: Int,
      chunkDocs: Int): Iterator[PostingRow] =
    new Iterator[PostingRow] {
      private val it = rows.buffered
      private val pending = scala.collection.mutable.Queue.empty[PostingRow]
      // per-(segment, marker-term) chunk counter (the build path holds one
      // segment per partition; tracking segId keeps multi-segment input safe)
      private var chunkSeg = -1
      private var chunkTerm: String = null
      private var chunkNo = 0
      private def nextChunkIdx(segId: Int, term: String): Int = {
        if (segId != chunkSeg || term != chunkTerm) {
          chunkSeg = segId; chunkTerm = term; chunkNo = 0
        }
        val c = chunkNo
        chunkNo += 1
        c
      }

      override def hasNext: Boolean = pending.nonEmpty || it.hasNext

      override def next(): PostingRow = {
        if (pending.nonEmpty) return pending.dequeue()
        val segId = it.head.segId
        if (it.head.term == TermLens) {
          // consume up to chunkDocs of the segment's doc rows (contiguous,
          // rank order) -> ONE (lens, urls) chunk pair. Task memory is
          // bounded by the chunk, never the segment: one monolithic cell
          // would cap a segment at ~3e7 urls (2 GiB JVM byte array) and
          // allocate it wholesale on every read.
          val lens = ArrayBuffer.empty[Int]
          val urls = ArrayBuffer.empty[String]
          var sumLen = 0L
          while (it.hasNext && it.head.segId == segId &&
              it.head.term == TermLens && lens.length < chunkDocs) {
            val r = it.next()
            lens += r.doclen
            urls += r.url
            sumLen += r.doclen
          }
          val c = nextChunkIdx(segId, TermLens)
          pending.enqueue(PostingRow(segId, TermUrls, urls.length.toLong, 0L,
            0, 0, Array.emptyByteArray, Varint.encodeStrings(urls),
            Array.emptyLongArray, Array.emptyIntArray, Array.emptyIntArray,
            Array.emptyIntArray, Array.emptyIntArray, chunk = c))
          PostingRow(segId, TermLens, lens.length.toLong, sumLen, 0, 0,
            Varint.encodeInts(lens), Array.emptyByteArray,
            Array.emptyLongArray, Array.emptyIntArray, Array.emptyIntArray,
            Array.emptyIntArray, Array.emptyIntArray, chunk = c)
        } else if (it.head.term.charAt(0) == FieldLensPrefix.charAt(0)) {
          // per-FIELD doc-length run (multi-field indexes): same chunked
          // layout as TermLens, values = the field's token count per rank
          // (riding in the tf slot), df = docs with the field present,
          // cf = field-length sum — the per-field avgdl inputs
          val term = it.head.term
          val vals = ArrayBuffer.empty[Int]
          var present = 0L
          var sum = 0L
          while (it.hasNext && it.head.segId == segId &&
              it.head.term == term && vals.length < chunkDocs) {
            val r = it.next()
            vals += r.tf
            if (r.tf > 0) present += 1
            sum += r.tf
          }
          PostingRow(segId, term, present, sum, 0, 0,
            Varint.encodeInts(vals), Array.emptyByteArray,
            Array.emptyLongArray, Array.emptyIntArray, Array.emptyIntArray,
            Array.emptyIntArray, Array.emptyIntArray,
            chunk = nextChunkIdx(segId, term))
        } else {
          // consume one (segId, term) posting run
          val term = it.head.term
          encodeRun(segId, term, new Iterator[(Long, Int, Int)] {
            def hasNext: Boolean =
              it.hasNext && it.head.segId == segId && it.head.term == term
            def next(): (Long, Int, Int) = {
              val r = it.next(); (r.docId, r.tf, r.doclen)
            }
          }, blockSize)
        }
      }
    }

  /** Streaming posting-list encoder for one (segment, term) run.
    * `postings` yields (docId, tf, doclen) in strictly ascending docId
    * order; memory is bounded by the block metadata, not the run length. */
  private[index] def encodeRun(
      segId: Int,
      term: String,
      postings: Iterator[(Long, Int, Int)],
      blockSize: Int): PostingRow = {
    val docOut = new java.io.ByteArrayOutputStream()
    val tfOut = new java.io.ByteArrayOutputStream()
    val blockLast = ArrayBuffer.empty[Long]
    val blockMaxTf = ArrayBuffer.empty[Int]
    val blockMinDl = ArrayBuffer.empty[Int]
    val blockDocOff = ArrayBuffer.empty[Int]
    val blockTfOff = ArrayBuffer.empty[Int]
    var prevDoc = segBase(segId)
    var inBlock = 0
    var nPostings = 0L
    var cf = 0L
    var termMaxTf = 0
    var termMinDl = Int.MaxValue
    var bMaxTf = 0
    var bMinDl = Int.MaxValue
    var lastDoc = 0L
    while (postings.hasNext) {
      val (docId, tf, doclen) = postings.next()
      if (inBlock == 0) {
        blockDocOff += docOut.size()
        blockTfOff += tfOut.size()
      }
      Varint.writeLong(docOut, docId - prevDoc)
      Varint.writeInt(tfOut, tf)
      prevDoc = docId
      lastDoc = docId
      if (tf > bMaxTf) bMaxTf = tf
      if (doclen < bMinDl) bMinDl = doclen
      if (tf > termMaxTf) termMaxTf = tf
      if (doclen < termMinDl) termMinDl = doclen
      cf += tf
      nPostings += 1
      inBlock += 1
      if (inBlock == blockSize) {
        blockLast += lastDoc
        blockMaxTf += bMaxTf
        blockMinDl += bMinDl
        inBlock = 0
        bMaxTf = 0
        bMinDl = Int.MaxValue
      }
    }
    if (inBlock > 0) {
      blockLast += lastDoc
      blockMaxTf += bMaxTf
      blockMinDl += bMinDl
    }
    PostingRow(segId, term, nPostings, cf, termMaxTf, termMinDl,
      docOut.toByteArray, tfOut.toByteArray,
      blockLast.toArray, blockMaxTf.toArray, blockMinDl.toArray,
      blockDocOff.toArray, blockTfOff.toArray)
  }

  /** Full sequential decode of one posting row → (docIds, tfs). The delta
    * stream is contiguous across blocks (block offsets only enable mid-list
    * seeks), so a single pass from offset 0 reconstructs the list. */
  private[graft] def decodePostings(r: PostingRow): (Array[Long], Array[Int]) = {
    require(r.df <= Int.MaxValue, s"posting row df=${r.df} exceeds Int range")
    val n = r.df.toInt
    val ids = new Array[Long](n)
    val tfs = new Array[Int](n)
    val dr = new Varint.Reader(r.docBytes, 0)
    val tr = new Varint.Reader(r.tfBytes, 0)
    var prev = segBase(r.segId)
    var i = 0
    while (i < n) {
      prev += dr.readLong()
      ids(i) = prev
      tfs(i) = tr.readInt()
      i += 1
    }
    (ids, tfs)
  }

  /** Lazy docId stream over one posting row — decodes the contiguous
    * delta stream sequentially without materializing the list. The
    * counterpart of [[encodeDocIdStream]] for READING corpus-sized
    * tombstone rows (delete-by-query prior counts, merge bitset fills):
    * [[decodePostings]] would allocate 8 bytes per covered doc in-task,
    * an executor-OOM risk right after a prior mass delete. */
  private[graft] def docIdStream(r: PostingRow): Iterator[Long] =
    docIdStream(r.segId, r.df, r.docBytes)

  /** [[docIdStream]] over the `n` delta-encoded docIds `docBytes` of
    * segment `segId`. */
  private[index] def docIdStream(segId: Int, n: Long,
      docBytes: Array[Byte]): Iterator[Long] =
    new Iterator[Long] {
      // Long counter: a segment holds up to 2^40 docs and these are
      // explicitly the corpus-scale rows (a consolidated tombstone can
      // cover ~all of one) — an Int cast would wrap negative past 2^31
      // and silently DROP the row from merges (deleted docs resurrect)
      private val dr = new Varint.Reader(docBytes, 0)
      private var prev = segBase(segId)
      private var i = 0L
      def hasNext: Boolean = i < n
      def next(): Long = { prev += dr.readLong(); i += 1; prev }
    }

  /** Lazy (docId, tf) stream over one posting row — the streaming
    * counterpart of [[decodePostings]] for REWRITING corpus-sized rows
    * (the merge re-encode): a stopword term's row can cover ~all docs of a
    * segment, and decodePostings would allocate O(df) Long/Int arrays
    * in-task. Pairs with [[encodeRun]] for an O(block) rewrite. */
  private[graft] def postingStream(r: PostingRow): Iterator[(Long, Int)] =
    new Iterator[(Long, Int)] {
      private val n = r.df // Long for the same resurrect-risk as docIdStream
      private val dr = new Varint.Reader(r.docBytes, 0)
      private val tr = new Varint.Reader(r.tfBytes, 0)
      private var prev = segBase(r.segId)
      private var i = 0L
      def hasNext: Boolean = i < n
      def next(): (Long, Int) = {
        prev += dr.readLong(); i += 1; (prev, tr.readInt())
      }
    }

  /** Per-field collection statistics over committed data dirs: docCount
    * (docs where the analyzed field produced >= 1 token) and total field
    * length — the avgdl inputs of ES 7.4's per-field BM25 similarity.
    * Pushed-down scan of the field-lens marker rows' metadata only. */
  private[graft] def fieldStats(
      spark: SparkSession, absDirs: Seq[String]): Seq[FieldStat] =
    readPostings(spark, absDirs)
      .filter(col("term") > lit(TermLens) && col("term") < lit(TermUrls))
      .groupBy("term").agg(sum("df").as("d"), sum("cf").as("c"))
      .collect()
      .map(r => FieldStat(r.getString(0).substring(1), r.getLong(1), r.getLong(2)))
      .sortBy(_.name).toSeq

  /** Concatenate a segment's chunked doc-length marker rows (any input
    * order) into the full rank-indexed table. */
  private[graft] def concatLens(rows: Seq[PostingRow]): Array[Int] = {
    val sorted = rows.sortBy(_.chunk)
    if (sorted.lengthCompare(1) == 0) Varint.decodeInts(sorted.head.docBytes)
    else Array.concat(sorted.map(r => Varint.decodeInts(r.docBytes)): _*)
  }

  /** Encode a sorted docId stream as a TermDels tombstone row (tf/doclen
    * are 1-filled — tombstones are exclusion cursors, never scored).
    * Deliberately stream-only: corpus-sized id sets must never
    * materialize an Array in-task; memory stays O(block metadata). */
  private[graft] def encodeDocIdStream(
      segId: Int, sortedIds: Iterator[Long], blockSize: Int): PostingRow =
    encodeRun(segId, TermDels, sortedIds.map(d => (d, 1, 1)), blockSize)


  /** The merge, the engine's analogue of the reference's post-load
    * forcemerge (mrtarget/common/esutil.py:96-101), which drops deleted
    * docs and renumbers the rest. It rewrites the index into the rows a
    * fresh [[build]] over its live documents writes: for each slot s in
    * [0, P), the live documents of segments {gP + s : g < generations}
    * become segment s, each with the docId a fresh build gives it (the
    * rank of its url within the slot). Posting rows, url and doc-length
    * tables, termdict, suggest, per-field and snapshot statistics equal
    * that build's (generations = 1, deletedDocs = 0); the doc-suggest rows
    * of live documents' current generations are kept, re-keyed to
    * generation 0. No source text is read: [[mergeSlot]] turns the stored
    * rows back into the token stream the build's encoder takes.
    *
    * Contract: docIds MOVE at a merge. A `search_after` cursor (score,
    * docId) taken before the merge is not valid after it. Readers pinned
    * with `Snapshot.at` or `IndexHandle(snapshotId)` keep reading the old
    * files, which stay on disk until [[vacuum]]. An index that is already
    * merged (one data dir, no tombstones) is returned as is, with no Spark
    * job. `Deletes.purge` runs this same merge. */
  def compact(spark: SparkSession, indexDir: String): SnapshotMeta = {
    import spark.implicits._
    ensureLargeCellWriterConf(spark)
    val snap = Snapshot.latest(indexDir)
      .getOrElse(throw new IllegalStateException(s"no snapshot under $indexDir"))
    require(snap.isComplete, "a merge requires a complete index")
    if (snap.dataDirs.size == 1 && snap.deletedDocs == 0) return snap
    val P = snap.numSegments
    val G = snap.generations
    val bs = snap.blockSize
    val chunkDocs = snap.markerChunkDocs
    val fields = snap.fieldDefs
    val newId = snap.id + 1
    val rel = f"data/merge-$newId%05d"
    val dirs = snap.dataDirs.map(d => s"$indexDir/$d")
    // one scan; the url tables enter one row per slot, so the shuffle's
    // sort ranks each slot's urls
    val in = readPostings(spark, dirs).as[PostingRow].flatMap { r =>
      if (r.term == TermUrls)
        chunkUrls(r, chunkDocs).map { case (u, d) => MergeRow(r.segId, u, d, null) }
      else Iterator.single(MergeRow(r.segId, null, 0L, r))
    }
    val term = col("row.term")
    // per slot: tombstones, doc-length tables, url slots by url, then
    // posting rows by (term, generation), the order mergeSlot walks
    val phase = when(col("url").isNotNull, 2).when(term === lit(TermDels), 0)
      .when(term < lit(TermUrls), 1).otherwise(3)
    val metas = spark.sparkContext.collectionAccumulator[SegmentMeta]("segment metrics")
    in.withColumn("part",
        element_at(lit(bijectionKeys(P)), pmod(col("segId"), lit(P)) + 1))
      .repartition(P, col("part"))
      .sortWithinPartitions(phase, col("url"), term, col("segId"),
        col("row.chunk"), col("docId"))
      .drop("part")
      .as[MergeRow]
      .mapPartitions { it =>
        val slot = org.apache.spark.TaskContext.getPartitionId()
        val toks = mergeSlot(it, slot, P, G, fields.nonEmpty)
        observeSegments(
          if (toks.hasNext) encodePartition(toks, bs, chunkDocs)
          else emptySegmentRows(slot), metas, rel)
      }
      .write.mode("overwrite").parquet(s"$indexDir/$rel")

    val segments = metas.value.asScala.toSeq.sortBy(_.segId)
    val dictRel = f"termdict/snap-$newId%05d"
    val dictRows = writeTermdict(spark, None, Seq(s"$indexDir/$rel"),
      segments.map(_.terms).sum, s"$indexDir/$dictRel")
    val (sugRel, sugRows) = snap.suggestDir match {
      case None => (None, 0L)
      case Some(_) =>
        val rel2 = f"suggest/snap-$newId%05d"
        (Some(rel2), writeSuggest(spark, s"$indexDir/$dictRel", s"$indexDir/$rel2"))
    }
    // doc-suggest: only the rows of LIVE documents' CURRENT generations —
    // until a merge, superseded and tombstoned docs' grams keep serving,
    // like ES's completion suggester between a delete and a merge
    val (docSugDirs, docSugRows) =
      if (snap.docSuggestDirs.isEmpty) (Nil, 0L)
      else {
        val rel2 = f"docsuggest/merge-$newId%05d"
        val rows = readDocSuggest(spark, snap.docSuggestDirs.map(d => s"$indexDir/$d"))
        (Seq(rel2), writeCounted(rows
          .join(liveUrlsDF(spark, dirs, P), Seq("url", "gen"), "left_semi")
          .select(rows.columns.map(c => if (c == "gen") lit(0).as(c) else col(c)): _*)
          .sort("gram", "url"), s"$indexDir/$rel2"))
      }
    val neu = snap.copy(id = newId, parent = snap.id,
      numDocs = segments.map(_.docs).sum,
      sumDocLen = segments.map(_.sumDocLen).sum,
      dataDirs = Seq(rel), termdictDir = Some(dictRel),
      // the merged vocabulary can SHRINK — a stale count would make warm
      // handles refuse the driver dictionary forever after a mass delete
      termdictRows = dictRows,
      segments = segments, deletedDocs = 0L,
      suggestDir = sugRel, suggestRows = sugRows,
      docSuggestDirs = docSugDirs, docSuggestRows = docSugRows,
      fieldStats =
        if (fields.isEmpty) Nil else fieldStats(spark, Seq(s"$indexDir/$rel")))
    Snapshot.commit(indexDir, neu)
    neu
  }

  /** The token stream a fresh build encodes for segment `slot`, rebuilt
    * from the stored rows of segments {gP + slot} in [[compact]]'s order:
    * tombstones (dead ranks per generation), doc-length tables (rank-indexed
    * per generation), url slots in url order (each live one takes the next
    * rank), then posting rows by (term, generation), remapped to the new
    * docIds and merged. Task memory is O(docs per segment) ints — dead
    * bitsets, doc-length tables and rank remaps; url strings and posting
    * lists stream. */
  private def mergeSlot(it0: Iterator[MergeRow], slot: Int, P: Int, G: Int,
      multiField: Boolean): Iterator[TokRow] = {
    val it = it0.buffered
    val segB = segBase(slot)
    def stored(p: String => Boolean): Iterator[PostingRow] = new Iterator[PostingRow] {
      def hasNext: Boolean = it.hasNext && it.head.row != null && p(it.head.row.term)
      def next(): PostingRow = it.next().row
    }
    def oldRank(segId: Int, docId: Long): Int = (docId - segBase(segId) - 1).toInt
    val dead = Array.fill(G)(new java.util.BitSet())
    stored(_ == TermDels).foreach { r =>
      docIdStream(r).foreach(d => dead(r.segId / P).set(oldRank(r.segId, d)))
    }
    // marker term -> per-generation rank-indexed table
    val tables: Map[String, Array[Array[Int]]] =
      stored(_ < TermUrls).toSeq.groupBy(_.term).map { case (t, rows) =>
        val byGen = new Array[Array[Int]](G)
        rows.groupBy(_.segId).foreach { case (s, rs) => byGen(s / P) = concatLens(rs) }
        t -> byGen
      }
    val oldLens = tables(TermLens)
    val fieldTerms = tables.keys.filter(_ != TermLens).toSeq.sorted
    val oldField = fieldTerms.map(tables).toArray
    val remap = oldLens.map(t => new Array[Int](t.length))
    val nLive = oldLens.indices
      .map(g => oldLens(g).length - dead(g).get(0, oldLens(g).length).cardinality()).sum
    val lens = new Array[Int](nLive)
    val newField = Array.fill(fieldTerms.size)(new Array[Int](nLive))
    var n = 0
    val docs = new Iterator[MergeRow] {
      def hasNext: Boolean = it.hasNext && it.head.row == null
      def next(): MergeRow = it.next()
    }.flatMap { m =>
      val g = m.segId / P
      val rank = oldRank(m.segId, m.docId)
      if (dead(g).get(rank)) Iterator.empty
      else {
        remap(g)(rank) = n + 1
        lens(n) = oldLens(g)(rank)
        var f = 0
        while (f < newField.length) { newField(f)(n) = oldField(f)(g)(rank); f += 1 }
        n += 1
        Iterator.single(TokRow(slot, TermLens, segB + n, 0, lens(n - 1), m.url))
      }
    }
    def fieldDocs = fieldTerms.indices.iterator.flatMap { f =>
      (0 until n).iterator.map(i =>
        TokRow(slot, fieldTerms(f), segB + i + 1, newField(f)(i), 0, null))
    }
    // a posting's doc length: its field's for an analyzed multi-field term,
    // 1 for a keyword term (norms disabled), the global one otherwise
    val byField = fieldTerms.indices.map(f => fieldTerms(f).substring(1) -> newField(f)).toMap
    def doclens(term: String): Array[Int] =
      if (!multiField) lens
      else byField.getOrElse(term.substring(0, math.max(term.indexOf(FieldSep), 0)), null)
    def postings = new Iterator[Seq[PostingRow]] {
      def hasNext: Boolean = it.hasNext
      def next(): Seq[PostingRow] = {
        val t = it.head.row.term
        stored(_ == t).toSeq
      }
    }.flatMap { rows =>
      val term = rows.head.term
      val dl = doclens(term)
      graft.search.MatchEnum.mergeDistinctBy(rows.map { r =>
        val m = remap(r.segId / P)
        postingStream(r).map { case (id, tf) => (m(oldRank(r.segId, id)), tf) }
          .filter(_._1 > 0)
      })(_._1.toLong).map { case (rank, tf) =>
        TokRow(slot, term, segB + rank, tf, if (dl == null) 1 else dl(rank - 1), null)
      }
    }
    // each part is built only once the one before it is drained
    docs ++ fieldDocs ++ postings
  }

  /** Iceberg-style rollback: re-point LATEST at the state of snapshot
    * `toId` by committing a COPY of it as a new snapshot on top of the
    * current chain — history is preserved (every old snapshot file stays
    * readable for time travel), the abandoned snapshots' data dirs become
    * unreferenced, and a later [[vacuum]] reclaims them. The remediation
    * for an incomplete generation that cannot be safely resumed (e.g. a
    * streaming restart under a NEW checkpoint lineage — see
    * graft.streaming.IndexStream): roll back to the last complete
    * snapshot, then let the stream re-apply from its own source. */
  def rollback(indexDir: String, toId: Int): SnapshotMeta = {
    val cur = Snapshot.latest(indexDir)
      .getOrElse(throw new IllegalStateException(s"no snapshot under $indexDir"))
    if (cur.id == toId) return cur
    val target = Snapshot.at(indexDir, toId)
      .getOrElse(throw new IllegalStateException(
        s"rollback: no snapshot $toId under $indexDir"))
    require(target.isComplete, s"rollback target $toId is not a complete snapshot")
    // a vacuumed-away target would commit a LATEST pointing at deleted
    // dirs — every subsequent query would throw. Verify referenced dirs
    // still exist before re-pointing.
    val missing = (target.dataDirs ++ target.termdictDir.toSeq ++
      target.suggestDir.toSeq ++ target.docSuggestDirs)
      .filterNot(rel =>
        java.nio.file.Files.isDirectory(java.nio.file.Paths.get(indexDir, rel)))
    require(missing.isEmpty,
      s"rollback target $toId references vacuumed dirs: ${missing.mkString(", ")}")
    val neu = target.copy(id = cur.id + 1, parent = cur.id)
    Snapshot.commit(indexDir, neu)
    neu
  }

  /** Delete data/termdict dirs not referenced by the LATEST snapshot (the
    * vacuum step after compaction; snapshots themselves are kept as the
    * lineage log). Returns the deleted relative paths. Readers holding an
    * older SnapshotMeta must re-resolve via LATEST afterwards — same
    * contract as Iceberg's expire-snapshots + remove-orphans. */
  def vacuum(indexDir: String): Seq[String] = {
    val snap = Snapshot.latest(indexDir)
      .getOrElse(throw new IllegalStateException(s"no snapshot under $indexDir"))
    // an INCOMPLETE latest references no termdict/suggest (those commit
    // only with complete snapshots) — vacuuming against it alone would
    // delete the last complete snapshot's dictionaries out from under
    // pinned readers AND break the rollback remediation. Keep the last
    // complete snapshot's dirs referenced whenever LATEST is partial.
    val refSnaps: Seq[SnapshotMeta] =
      if (snap.isComplete) Seq(snap)
      else snap +: Snapshot.list(indexDir).filter(_.isComplete).lastOption.toSeq
    val referenced = refSnaps
      .flatMap(s => s.dataDirs ++ s.termdictDir.toSeq ++ s.suggestDir.toSeq ++
        s.docSuggestDirs).toSet
    def orphansIn(sub: String, prefix: String): Seq[String] = {
      val dir = java.nio.file.Paths.get(indexDir, sub)
      if (!java.nio.file.Files.isDirectory(dir)) Nil
      else {
        val ls = java.nio.file.Files.list(dir)
        try ls.iterator().asScala
          .map(p => s"$prefix/${p.getFileName}")
          .filterNot(referenced.contains)
          .toSeq
        finally ls.close()
      }
    }
    val orphans = orphansIn("data", "data") ++
      orphansIn("termdict", "termdict") ++ orphansIn("suggest", "suggest") ++
      orphansIn("docsuggest", "docsuggest")
    orphans.foreach(rel => deleteTree(java.nio.file.Paths.get(indexDir, rel)))
    orphans
  }

  /** Recursive directory delete (children before parents); no-op when the
    * path is absent. ONE home for the walk/reverse-order idiom — vacuum
    * and the delete sink both reclaim dirs through this. */
  private[graft] def deleteTree(root: java.nio.file.Path): Unit = {
    if (java.nio.file.Files.exists(root)) {
      val walk = java.nio.file.Files.walk(root)
      try walk.sorted(java.util.Comparator.reverseOrder())
        .forEach(p => java.nio.file.Files.delete(p))
      finally walk.close()
    }
  }
}
