package graft.search

import scala.collection.mutable.ArrayBuffer
import scala.collection.parallel.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoder, SparkSession}
import org.apache.spark.sql.functions._

import graft.analysis.Analyzer
import graft.index.{Hashing, IndexBuilder, PostingRow, SegLens, Segment, SegmentReader, Snapshot,
  SnapshotMeta, Varint}

final case class Hit(rank: Int, docId: Long, url: String, score: Double)

/** Distributed BM25 top-k over a committed index snapshot.
  *
  * Query plan: the term dictionary is probed for the query terms (Parquet
  * predicate pushdown on the sorted `term` column — the FST-analogue lookup).
  * Its rows give each term's df, for the idfs, and its segment set, from
  * which the compiled query names the segments that can match. Only those
  * segments' matching posting rows + doc-length rows reach the per-segment
  * reader ([[graft.index.SegmentReader]]; a warm cache is already clustered
  * by segment, a cold read repartitions by segId once), whose scoring body
  * runs block-max WAND for pure-should queries and the leapfrog
  * [[Conjunction]] for must/filter/ids queries — each segment emitting its
  * local top-k. Count, scan and delete-by-query run the same reader with
  * other bodies, which walk the same conjunction ([[MatchEnum]]).
  * The global answer is the k-way merge
  * `orderBy(score desc, docId asc).limit(k)` — Spark's
  * TakeOrderedAndProject. Urls are resolved for the k winners only, touching
  * just the winning segments' url rows. */
object Searcher {

  /** Serializes warm-cache builds' save/set/restore of the in-memory
    * columnar batch-size conf (see IndexHandle.postings). */
  private[search] val cacheBuildLock = new Object

  /** Balanced OR of `ps`: a left-deep reduce(_ || _) builds an OR tree
    * whose depth equals |ps|, and a large-k page touching many url chunks
    * then pays analyzer recursion/optimization cost per level; log depth
    * keeps the exact-pair semantics (and the parquet pushdown of the
    * OR-of-conjunctions) with a flat tree. */
  private[graft] def orTree(ps: IndexedSeq[Column]): Column = {
    require(ps.nonEmpty, "orTree needs at least one predicate")
    if (ps.length == 1) ps.head
    else {
      val (l, r) = ps.splitAt(ps.length / 2)
      orTree(l) || orTree(r)
    }
  }

  def topK(spark: SparkSession, indexDir: String, query: String, k: Int): Array[Hit] =
    new IndexHandle(spark, indexDir, warm = false).topK(query, k)

  def search(spark: SparkSession, indexDir: String, q: BoolQuery, k: Int): Array[Hit] =
    new IndexHandle(spark, indexDir, warm = false).search(q, k)

  /** Deep paging (see IndexHandle.searchAfter): next k hits strictly after
    * the (score, docId) cursor under (score desc, docId asc). */
  def searchAfter(spark: SparkSession, indexDir: String, q: BoolQuery, k: Int,
      after: Option[(Double, Long)]): Array[Hit] =
    new IndexHandle(spark, indexDir, warm = false).searchAfter(q, k, after)

  /** Exact total-hit count (see IndexHandle.countMatches): ES
    * `track_total_hits=true` / `Search.count()`. */
  def count(spark: SparkSession, indexDir: String, q: BoolQuery): Long =
    new IndexHandle(spark, indexDir, warm = false).countMatches(q)

  /** Query-filtered full enumeration (see IndexHandle.matchesDF): ES
    * scan-with-query / scroll, as a DataFrame. */
  def matches(spark: SparkSession, indexDir: String, q: BoolQuery): DataFrame =
    new IndexHandle(spark, indexDir, warm = false).matchesDF(q)

  /** DataFrame form for SparkEntry / driver smoke checks. */
  def topKDF(spark: SparkSession, indexDir: String, query: String, k: Int): DataFrame = {
    import spark.implicits._
    topK(spark, indexDir, query, k).toSeq
      .toDF("rank", "docId", "url", "score")
  }

  /** ES `_source includes` analogue (the reference projects every scan:
    * mrtarget/modules/Association.py:308, common/LookupTables.py:103):
    * decorate hits with `includes` columns of the corpus table. The source
    * side is pruned to the k hit urls, so it broadcasts; the corpus scan reads exactly
    * (url ++ includes) — Catalyst prunes the parquet ReadSchema to the
    * requested fields, the whole point of `_source` filtering. Output keeps
    * hit order (rank asc). */
  def fetchSource(spark: SparkSession, hits: Array[Hit], corpus: DataFrame,
      includes: Seq[String], urlCol: String = "url"): DataFrame = {
    import org.apache.spark.sql.functions.{broadcast, col, min, struct}
    import spark.implicits._
    require(urlCol == "url" || !includes.contains("url"),
      "includes may not contain a column named 'url' unless urlCol is 'url'")
    val incs = includes.distinct.filter(_ != urlCol)
    val hitDf = hits.toSeq.toDF("rank", "docId", "url", "score")
    // semi-join prune BEFORE the dedup aggregation (guide §3.2): the hit
    // urls are known driver-side and k-bounded, so the corpus scan reads
    // only their rows (parquet-pushed IN filter) instead of aggregating
    // the whole corpus to then keep k rows of it. Same result: non-hit
    // urls could never join anyway.
    val hitUrls = hits.map(_.url).distinct.toSeq
    val corpusPruned = corpus.filter(col(urlCol).isin(hitUrls: _*))
    // exactly one deterministic source row per url: a recrawl-shaped corpus
    // may hold several editions of a hit url, and ES returns one _source
    // per hit, never a fan-out (min(struct) = deterministic pick, the same
    // idiom as ops.Lookup)
    val src =
      if (incs.isEmpty)
        corpusPruned.select(col(urlCol).as("url")).distinct()
      else corpusPruned.select((urlCol +: incs).map(col): _*)
        .withColumnRenamed(urlCol, "url")
        .groupBy(col("url"))
        .agg(min(struct(incs.map(col): _*)).as("_src"))
        .select(col("url") +: incs.map(c => col(s"_src.$c").as(c)): _*)
    // a left outer join cannot build its preserved (hit) side
    hitDf.join(broadcast(src), Seq("url"), "left")
      .orderBy(col("rank"))
      .select(Seq("rank", "docId", "url", "score").map(col) ++
        incs.map(col): _*)
  }
}

/** Compiled form of a [[BoolQuery]] against one snapshot: clause term
  * arrays, idfs for the scoring terms, ids resolved to per-segment sorted
  * docId allowlists, and `segs`, the segments that can hold a match
  * (ascending, never empty), which every read evaluates. Plain data —
  * serializable into executor closures without dragging the
  * session-holding handle along. */
private[search] final case class CompiledQuery(
    must: Array[String],
    filter: Array[String],
    mustNot: Array[String],
    scoringTerms: Array[String], // must ∪ should, sorted asc
    idf: Map[String, Double],
    hasIds: Boolean,
    idsBySeg: Map[Int, Array[Long]],
    segs: Array[Int]) {
  def hasRequired: Boolean = must.nonEmpty || filter.nonEmpty || hasIds
  def allTerms: Array[String] =
    (must ++ filter ++ mustNot ++ scoringTerms).distinct
}

/** Driver-side LRU bounded by APPROXIMATE BYTES. Entry-COUNT caps never
  * bind when an index has few, large segments (numSegments=32 is the
  * default — a 4096-segment cap would happily hold every doc-length table
  * of a 10^9-doc index, the exact driver OOM the caches exist to avoid).
  * Eviction walks LRU-first; the most recent entry always survives even
  * when it alone exceeds the budget (the caller is about to use it).
  * NOT internally synchronized — callers hold their own lock, matching
  * the fetch paths' lock-free-Spark-fetch discipline. */
private[search] final class BytesLru[K, V](maxBytes: Long,
    sizeOf: (K, V) => Long) {
  private var bytes = 0L
  private val map = new java.util.LinkedHashMap[K, V](64, 0.75f, true)
  def get(k: K): V = map.get(k)
  def put(k: K, v: V): Unit = {
    val old = map.put(k, v)
    if (old != null) bytes -= sizeOf(k, old)
    bytes += sizeOf(k, v)
    val it = map.entrySet().iterator() // access-order: LRU first
    while (bytes > maxBytes && map.size() > 1) {
      val e = it.next()
      bytes -= sizeOf(e.getKey, e.getValue)
      it.remove()
    }
  }
  def size: Int = map.size()
  private[search] def heldBytes: Long = bytes
}

private[search] object BytesLru {
  /** Approximate retained bytes of one posting row (compressed streams +
    * block metadata + object overhead). */
  def rowBytes(r: PostingRow): Long =
    r.docBytes.length.toLong + r.tfBytes.length + 8L * r.blockLast.length +
      4L * (r.blockMaxTf.length + r.blockMinDl.length +
        r.blockDocOff.length + r.blockTfOff.length) + 64L

  def urlBytes(us: Array[String]): Long =
    us.foldLeft(16L)((a, u) => a + 2L * u.length + 48L)

  /** Approximate retained bytes of one dictionary entry: the term, its df
    * and its segment set. */
  def dictBytes(term: String, segs: Array[Int]): Long =
    64L + 2L * term.length + 4L * segs.length

  /** Approximate retained bytes of one autocomplete memo entry: the gram,
    * and per row its strings (UTF-16) plus object overhead. */
  def suggestBytes(gram: String, rows: Array[_ <: Product]): Long =
    rows.foldLeft(48L + 2L * gram.length)((a, r) =>
      r.productIterator.foldLeft(a + 32L) {
        case (b, v: String) => b + 40L + 2L * v.length
        case (b, _) => b + 16L
      })
}

/** Per-snapshot norm routing (plain data — serializable into executor
  * closures): classic single-field indexes score every term against the
  * segment's global doc-length table; multi-field indexes score each
  * field-tagged term against ITS field's table and avgdl (ES 7.4 per-field
  * similarity — the avgdl inputs come from SnapshotMeta.fieldStats), and
  * keyword fields score norms-disabled (null lens — see PostingIterator). */
private[search] final case class NormCtx(
    avgdl: Double,
    multiField: Boolean,
    fieldAvgdl: Map[String, Double],
    keywordFields: Set[String]) {
  /** (lens, avgdl) for one term. Every stored term of a multi-field index
    * is field-tagged by construction. */
  def select(term: String, segLens: SegLens): (Array[Int], Double) =
    if (!multiField) (segLens.global, avgdl)
    else {
      val i = term.indexOf(graft.index.IndexBuilder.FieldSep)
      val f = if (i < 0) "" else term.substring(0, i)
      if (keywordFields.contains(f)) (null, 1.0)
      else (segLens.byField(f), fieldAvgdl(f))
    }
}

/** What scoring and match enumeration share for one segment: its posting
  * rows by term, the ids allowlist (null = no ids clause), one exclusion
  * cursor per tombstone row, and ONE cursor per term, shared across the
  * required, scoring and excluded roles: a must term otherwise
  * decompresses its posting list twice per segment per query. Sharing is
  * sound because every per-candidate access seeks the SAME target and
  * PostingIterator.seek is a no-op when curDoc >= target (forward-only) —
  * the roles only ever converge a shared cursor, never need it in two
  * places. Without `segLens` (count, scan, delete-by-query) the cursors
  * only navigate: idf, avgdl and lens are irrelevant without scoring. */
private[search] final class SegmentScope(
    segId: Int,
    byTerm: scala.collection.Map[String, PostingRow],
    val ids: Array[Long],
    tombstones: Seq[PostingIterator],
    c: CompiledQuery,
    blockSize: Int,
    segLens: SegLens,
    norms: NormCtx) {

  private val memo = new scala.collection.mutable.HashMap[String, PostingIterator]
  private def cursor(t: String): PostingIterator = memo.getOrElseUpdate(t,
    if (segLens == null) SegmentScope.cursor(byTerm(t), blockSize)
    else {
      val (lensArr, avg) = norms.select(t, segLens)
      val it = new PostingIterator(byTerm(t), c.idf.getOrElse(t, 0.0),
        blockSize, avg, lensArr)
      it.start()
      it
    })

  def segBase: Long = IndexBuilder.segBase(segId)
  def required: Array[PostingIterator] = (c.must ++ c.filter).map(cursor)
  /** must∪should cursors present here, ascending by term. */
  def scoring: Array[PostingIterator] = c.scoringTerms.filter(byTerm.contains).map(cursor)
  def excluded: Array[PostingIterator] =
    c.mustNot.filter(byTerm.contains).map(cursor) ++ tombstones
}

private[search] object SegmentScope {

  /** The scope of segment `segId` under `c`, or None when the segment
    * cannot match: a required term is missing, or the ids clause lists no
    * document of this segment. Scoring passes the segment's doc-length
    * tables and norm routing; enumeration passes neither. */
  def of(segId: Int, rows: Seq[PostingRow], dels: Seq[PostingRow],
      c: CompiledQuery, blockSize: Int, segLens: SegLens = null,
      norms: NormCtx = null): Option[SegmentScope] = {
    val byTerm = new scala.collection.mutable.HashMap[String, PostingRow]
    rows.foreach(r => byTerm.update(r.term, r))
    if (!c.must.forall(byTerm.contains) || !c.filter.forall(byTerm.contains) ||
        (c.hasIds && !c.idsBySeg.contains(segId))) None
    else Some(new SegmentScope(segId, byTerm,
      if (c.hasIds) c.idsBySeg(segId) else null,
      // tombstoned docs (Deletes) are zero-idf exclusion cursors — the same
      // veto machinery as mustNot, so WAND/conjunction pruning stays exact
      dels.map(cursor(_, blockSize)), c, blockSize, segLens, norms))
  }

  /** A started zero-idf cursor: navigation only, no scoring. */
  def cursor(r: PostingRow, blockSize: Int): PostingIterator = {
    val it = new PostingIterator(r, 0.0, blockSize, 1.0, null)
    it.start()
    it
  }
}

/** Per-segment evaluation shared by the distributed and served paths. */
private[search] object BoolEval {

  def scoreSegment(
      segId: Int,
      rows: Seq[PostingRow],
      segLens: SegLens,
      dels: Seq[PostingRow],
      c: CompiledQuery,
      blockSize: Int,
      norms: NormCtx,
      k: Int,
      // external lower bound on the global kth-best score (SegTopK docs)
      floor: Double = Double.NegativeInfinity,
      // search_after paging cursor (SegTopK docs)
      after: SegHit = null): Iterator[(Long, Double, Int)] = {
    val scope = SegmentScope.of(segId, rows, dels, c, blockSize, segLens, norms)
      .getOrElse(return Iterator.empty)
    val scoring = scope.scoring
    val hits =
      if (c.hasRequired)
        BooleanScorer.conjunctiveTopK(scope.required, scoring, scope.excluded,
          scope.ids, scope.segBase, k, floor, after)
      else if (scoring.isEmpty) Array.empty[SegHit]
      else Wand.topK(scoring, k, scope.excluded, floor, after)
    hits.iterator.map(h => (h.docId, h.score, segId))
  }
}

/** Match ENUMERATION (no scoring, no top-k) for count, scan and
  * delete-by-query: every live docId of one segment matching a compiled
  * query, ascending. A query with a required clause (must, filter or ids)
  * walks the scorers' own [[Conjunction]]; a pure-should query walks the
  * union of its term cursors through the same exclusion check. Matches
  * are emitted lazily — nothing is ranked, heaped, or collected, so the
  * tombstone sink can stream corpus-sized match sets segment-parallel. */
private[graft] object MatchEnum {

  def enumerate(
      segId: Int,
      rows: Seq[PostingRow],
      dels: Seq[PostingRow],
      c: CompiledQuery,
      blockSize: Int): Iterator[Long] = {
    val scope = SegmentScope.of(segId, rows, dels, c, blockSize)
      .getOrElse(return Iterator.empty)
    val excluded = scope.excluded
    if (c.hasRequired)
      new Conjunction(scope.required, excluded, scope.ids, scope.segBase).matches
    else {
      // pure-should: union of the scoring cursors' docs
      val cursors = scope.scoring
      if (cursors.isEmpty) return Iterator.empty
      new Iterator[Long] {
        private var nextDoc = advance()
        private def advance(): Long = {
          while (true) {
            var min = Long.MaxValue
            var i = 0
            while (i < cursors.length) {
              if (cursors(i).curDoc < min) min = cursors(i).curDoc
              i += 1
            }
            if (min == Long.MaxValue) return -1L
            // veto before advancing: a should term that is also excluded
            // shares its cursor with the exclusion list
            val live = !Conjunction.vetoed(excluded, min)
            i = 0
            while (i < cursors.length) {
              if (cursors(i).curDoc == min) cursors(i).next()
              i += 1
            }
            if (live) return min
          }
          -1L
        }
        def hasNext: Boolean = nextDoc >= 0
        def next(): Long = { val d = nextDoc; nextDoc = advance(); d }
      }
    }
  }

  /** k-way merge of strictly-ascending sorted Long iterators with dedup
    * (prior tombstone rows may overlap each other; matches are disjoint
    * from them by construction). Streaming — O(k) state. */
  def mergeDistinct(sources: Seq[Iterator[Long]]): Iterator[Long] =
    mergeDistinctBy(sources)(identity)

  /** [[mergeDistinct]] over elements ordered by a Long `key`; of elements
    * with equal keys, the one from the earliest source is kept. */
  def mergeDistinctBy[T](sources: Seq[Iterator[T]])(key: T => Long): Iterator[T] = {
    val its = sources.map(_.buffered)
    new Iterator[T] {
      def hasNext: Boolean = its.exists(_.hasNext)
      def next(): T = {
        var min = Long.MaxValue
        var best: BufferedIterator[T] = null
        its.foreach(it => if (it.hasNext && (best == null || key(it.head) < min)) {
          min = key(it.head); best = it
        })
        val v = best.next()
        its.foreach(it => while (it.hasNext && key(it.head) == min) it.next())
        v
      }
    }
  }
}

/** A queryable snapshot. Top-k search, count, scan and delete-by-query
  * all run one per-segment reader ([[graft.index.SegmentReader]]) with a
  * different body; only where its rows come from differs. Which segments
  * a query reads is decided once, by `compile` from the dictionary's
  * segment sets, and the served path scores the same segments. With
  * `warm = true` the posting table is re-clustered by segment and
  * persisted in executor memory, and the term dictionary is collected to
  * a driver map (bounded by `DictLimit`), so a steady-state top-k or count
  * is ONE shuffle-free Spark job: filter the cached postings to the
  * query's terms and segments (in-memory batch pruning on `term`) ->
  * local sort by segment -> the reader over the colocated segments ->
  * global TakeOrderedAndProject (or the per-segment counts). The cold
  * path (warm = false) reads parquet directly, probes the dictionary with
  * a pushed-down filter, reads only the query's segments and repartitions
  * by segId once.
  *
  * Standard Spark cache-sharing caveat: two warm handles on the same index
  * and session produce the SAME logical plan, so the second reuses the
  * first's cache, and close() on EITHER handle unpersists the shared cache
  * for both. One warm handle per (session, index) is the intended
  * deployment. */
final class IndexHandle(spark: SparkSession, indexDir: String, warm: Boolean = true,
    // time travel: pin the handle to a specific committed snapshot id
    // instead of LATEST (Iceberg `VERSION AS OF`); readers holding a pinned
    // handle are isolated from concurrent append/delete/upsert commits,
    // whose data dirs stay readable until a vacuum
    snapshotId: Option[Int] = None) {
  import spark.implicits._

  val snap: SnapshotMeta = snapshotId
    .map(i => Snapshot.at(indexDir, i).getOrElse(
      throw new IllegalStateException(s"no snapshot $i under $indexDir")))
    .getOrElse(Snapshot.latest(indexDir)
      .getOrElse(throw new IllegalStateException(s"no snapshot under $indexDir")))
  require(snap.isComplete,
    s"index incomplete: ${snap.segments.size}/${snap.numSegments} segments")

  private val dataPaths = snap.dataDirs.map(d => s"$indexDir/$d")
  private val avgdl = snap.avgdl
  private val blockSize = snap.blockSize
  // per-field norm routing (multi-field indexes score each field with its
  // own dl/avgdl, keyword fields norms-disabled — ES per-field similarity)
  private val fieldLensTerms: Seq[String] = snap.fieldDefs.filterNot(_.keyword)
    .map(f => IndexBuilder.FieldLensPrefix + f.name)
  private val normCtx = NormCtx(avgdl, snap.fieldDefs.nonEmpty,
    snap.fieldAvgdl, snap.fieldDefs.filter(_.keyword).map(_.name).toSet)

  private val termdict: DataFrame =
    IndexBuilder.readTermdict(spark, s"$indexDir/${snap.termdictDir.get}")
  // driver-side dictionary for warm handles: term -> (df, segs), collected
  // when it fits DictLimit bytes. The gate bounds what the collect holds,
  // its (segment, term) pairs — one segs entry each, and at worst a term
  // of its own per pair, so each is charged DictPairBytes. The snapshot
  // records their number (Σ segments.terms), so the gate runs no job.
  private val DictLimit = 256L << 20
  private val DictPairBytes = 128L
  private val driverDict: Option[Map[String, (Long, Array[Int])]] =
    if (warm && snap.segments.map(_.terms).sum * DictPairBytes <= DictLimit)
      Some(dictRows(termdict))
    else None

  /** (term, df, segs) rows of a dictionary probe, collected. */
  private def dictRows(df: DataFrame): Map[String, (Long, Array[Int])] =
    df.select("term", "df", "segs").collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getSeq[Int](2).toArray)).toMap

  private val postings: Dataset[PostingRow] = {
    val ds = IndexBuilder.readPostings(spark, dataPaths).as[PostingRow]
    if (warm) {
      // cluster by segment (query path then needs no exchange) and sort by
      // term within partitions: the in-memory columnar cache keeps min/max
      // stats per batch, so the per-query term filter prunes whole batches
      // instead of decompressing every posting blob.
      // Partition count min(totalSegments, shuffle.partitions / 2):
      // per-query scoring tasks are short, so halving the task count
      // halves the per-query scheduling floor while keeping the cores
      // busy — measured on a 2M-doc/256-seg index at local[32], 32 -> 16
      // partitions cut warm p50 from ~128 to ~80 ms. Per-partition
      // grouping in the query path is correct at ANY value (segments never
      // split across partitions). Derived from shuffle.partitions (stable,
      // user-tunable), NOT defaultParallelism — under dynamic allocation
      // the latter can read 2 before executors register and would
      // collapse the cache to one partition for the handle's lifetime.
      val parts = math.max(1, math.min(snap.numSegments * snap.generations,
        spark.sessionState.conf.numShufflePartitions / 2))
      // In-memory columnar batch size of the cache. Posting rows carry
      // multi-KB..MB compressed blobs, and a cached batch decompresses
      // WHOLESALE when any of its rows match — at Spark's default 10k
      // rows/batch a 3-term query decodes tens of MB per touched batch for
      // three needed rows. 1k keeps batch decode proportional to what the
      // query reads and tightens min/max term pruning 10x (measured ~214 ->
      // ~128 ms p50 at 32 partitions).
      val cacheBatchRows = 1000
      // the batch-size conf is read when the InMemoryRelation is built;
      // set it for this cache only and restore right after
      // materialization. The save/set/restore triple is serialized by a
      // JVM-global lock: two handles interleaving would otherwise restore
      // each other's TEMPORARY value into the session permanently.
      Searcher.cacheBuildLock.synchronized {
        val key = "spark.sql.inMemoryColumnarStorage.batchSize"
        val prev = spark.conf.getOption(key)
        spark.conf.set(key, cacheBatchRows.toString)
        try {
          val c = ds.repartition(parts, col("segId"))
            .sortWithinPartitions("term", "segId").cache()
          // fill the cache with an action that only reads it: a count()
          // adds a single-partition exchange, one more job, and a `noop`
          // write plans and commits a write. Computing a partition of the
          // cached relation stores it whole, so the iterator is not drained
          c.queryExecution.toRdd.foreachPartition(_ => ())
          c
        } finally prev match {
          case Some(v) => spark.conf.set(key, v)
          case None => spark.conf.unset(key)
        }
      }
    } else ds
  }

  // warm handles memoize decoded url CHUNKS on the driver: the second
  // per-query Spark job disappears once the chunks a segment's winners
  // land in have been seen. BYTE-budgeted LRU (like the other driver
  // caches): url tables are the LARGEST per-segment artifact (one String
  // per document), and a count cap never binds on a few-big-segments
  // index — the map would grow toward the whole corpus's url bytes on a
  // long-lived handle answering lookups across every segment.
  private val urlCache =
    new BytesLru[(Int, Int), Array[String]](512L << 20,
      (_, v) => BytesLru.urlBytes(v))

  // per-url ids-resolution memo: url -> (segId, docId) per generation it
  // exists in (empty = absent, negative-cached against the pinned
  // snapshot). The entry weight counts the url KEY too — it DOMINATES a
  // negative entry (empty array), and a long-lived handle probing
  // millions of distinct mostly-absent urls must be bounded by what the
  // map actually retains, not by result bytes alone.
  private val idsCache =
    new BytesLru[String, Array[(Int, Long)]](64L << 20,
      (u, arr) => 96L + 2L * u.length + 24L * arr.length)

  // served path: hot posting rows + doc-length tables memoized on the
  // driver (bounded LRU), so repeated-term queries never touch the cluster
  // — the role the reference's LRU-cached ES lookups play
  // (mrtarget/common/LookupTables.py:54-142). Cold terms cost one filtered
  // Spark fetch; everything after is local WAND over the query's segments.
  private val postingCache =
    new BytesLru[String, Array[PostingRow]](1024L << 20,
      (t, rs) => rs.foldLeft(16L + 2L * t.length)((a, r) =>
        a + BytesLru.rowBytes(r)))
  // per-segment doc-length tables + tombstone rows are fetched per query
  // segment (`CompiledQuery.segs`) and LRU-bounded: an all-segments eager collect would hold
  // O(numDocs) ints on the driver forever — GBs at 10⁹ docs. The
  // distributed path never touches this.
  private val segCache =
    new BytesLru[Int, (SegLens, Seq[PostingRow])](512L << 20,
      { case (_, (sl, dels)) =>
        4L * sl.global.length +
          sl.byField.valuesIterator.map(4L * _.length).sum +
          dels.iterator.map(BytesLru.rowBytes).sum + 64L
      })

  // per-fragment autocomplete memos (both surfaces): the top
  // `suggestFetch` rows per gram, read through cachedFetch like the other
  // driver caches and bounded by bytes like them — doc-suggest rows carry
  // `output` field values of any length, so an entry count bounds
  // nothing. Asks for more rows than are memoized bypass the memo.
  private val suggestFetch = 100
  private[graft] val suggestMemoBytes = 32L << 20
  private val suggestCache = new BytesLru[String, Array[(String, Long)]](
    suggestMemoBytes, BytesLru.suggestBytes)
  private val docSuggestCache = new BytesLru[String, Array[(String, String, Int)]](
    suggestMemoBytes, BytesLru.suggestBytes)

  // Each cache has its own lock, and NEITHER lock is held across a Spark
  // fetch: a cold term/segment must not serialize the concurrent hot
  // queries that the served path exists for (a racing double-fetch of the
  // same key is benign — both compute identical rows from the pinned
  // snapshot, last install wins).
  private val segLock = new Object
  private val postingLock = new Object

  /** One home for the LRU-fetch discipline of every driver cache
    * (postings, doc lengths, url chunks, ids, dictionary probes and the
    * autocomplete memos): collect hits under the lock, fetch ONLY the missing
    * keys from Spark with NO lock held, install under the lock, return
    * hits ++ filled. `absent` fills keys the fetch did not return;
    * `cacheAbsent` decides whether those fills are negative-cached
    * (terms: yes — the pinned snapshot cannot grow one later; url
    * tables: no). Keeping the pattern in one place pins the
    * no-lock-across-Spark-fetch rule once. */
  private def cachedFetch[K, V](cache: BytesLru[K, V], lock: AnyRef,
      keys: Seq[K])(fetchMissing: Seq[K] => Map[K, V],
      absent: Option[K => V] = None,
      cacheAbsent: Boolean = true): Map[K, V] = {
    val hit = lock.synchronized {
      keys.flatMap(k => Option(cache.get(k)).map(k -> _)).toMap
    }
    val missing = keys.filterNot(hit.contains)
    if (missing.isEmpty) hit
    else {
      val fetched = fetchMissing(missing)
      val filled: Map[K, V] = absent match {
        case Some(d) =>
          missing.iterator.map(k => k -> fetched.getOrElse(k, d(k))).toMap
        case None => fetched
      }
      val toInstall = if (cacheAbsent) filled else fetched
      lock.synchronized(toInstall.foreach { case (k, v) => cache.put(k, v) })
      hit ++ filled
    }
  }

  private def fetchLens(segs: Seq[Int]): Map[Int, (SegLens, Seq[PostingRow])] =
    cachedFetch(segCache, segLock, segs) { missing =>
      val wantedMarkers = IndexBuilder.TermLens +: IndexBuilder.TermDels +:
        fieldLensTerms
      postings.filter(
          col("term").isin(wantedMarkers: _*) &&
          col("segId").isin(missing: _*))
        .collect().groupBy(_.segId)
        .map { case (s, rows) =>
          val (dels, lens) = rows.toSeq.partition(_.term == IndexBuilder.TermDels)
          s -> (SegLens.of(lens), dels)
        }
    }

  /** Test hook: current number of cached per-segment doc-length tables. */
  private[graft] def lensCacheSize: Int = segLock.synchronized(segCache.size)

  private def fetchPostings(terms: Seq[String]): Map[String, Array[PostingRow]] =
    cachedFetch(postingCache, postingLock, terms)(
      missing =>
        postings.filter(col("term").isin(missing: _*)).collect()
          .groupBy(_.term),
      // absent terms cache an empty list too — the pinned snapshot cannot
      // grow one later, and refetching a hot absent term every query would
      // be a per-query Spark job
      absent = Some(_ => Array.empty[PostingRow]))

  /** Fetch (and memoize, LRU) decoded url CHUNKS keyed (segId, chunk) —
    * never a whole segment's table: at the documented segment sizing
    * (10^8 docs) a full url table is multi-GB of driver strings, while a
    * chunk is bounded by markerChunkDocs regardless of segment size (the
    * point of the block-chunked v2 marker format). The result map holds
    * strong references, so entries evicted between calls are simply
    * refetched — never observed half-missing. Absent chunks resolve
    * empty but are deliberately NOT negative-cached. */
  private def urlChunks(keys: Seq[(Int, Int)])
      : Map[(Int, Int), Array[String]] =
    cachedFetch(urlCache, urlCache, keys.distinct)(
      missing => {
        // an OR of exact (segId, chunk) conjunctions — NOT the
        // (segId IN, chunk IN) cross product, whose superset rows (up to
        // |segs|×|chunks| multi-MB url blobs for k wanted cells) would
        // all cross to the driver before any post-filter could drop them.
        val pred = Searcher.orTree(missing.toIndexedSeq.map { case (s, ch) =>
          col("segId") === s && col("chunk") === ch
        })
        postings
          .filter(col("term") === IndexBuilder.TermUrls && pred)
          .collect().iterator
          .map(r => (r.segId, r.chunk) -> Varint.decodeStrings(r.tfBytes))
          .toMap
      },
      absent = Some(_ => Array.empty[String]),
      cacheAbsent = false)

  /** Decorate scored rows with urls: rank -> (chunk ordinal, offset) via
    * the chunking invariant (chunk c starts at rank c*markerChunkDocs),
    * fetching only the chunks the k winners land in. */
  private def decorateHits(rows: Array[(Long, Double, Int)]): Array[Hit] = {
    val chunkDocs = snap.markerChunkDocs
    val keys = rows.map { case (d, _, s) =>
      (s, ((d - IndexBuilder.segBase(s) - 1) / chunkDocs).toInt)
    }.toSeq
    val chunks = urlChunks(keys)
    rows.zipWithIndex.map { case ((docId, score, seg), i) =>
      val rank = docId - IndexBuilder.segBase(seg) - 1
      val tab = chunks((seg, (rank / chunkDocs).toInt))
      Hit(i + 1, docId, tab((rank % chunkDocs).toInt), score)
    }
  }

  // per-term (df, segs) memo for handles WITHOUT the full driver
  // dictionary: both are immutable against the pinned snapshot, so a
  // repeated term (paging cursors re-compile the same query per page; a
  // served handle re-probes its hot terms) never re-runs the termdict
  // probe job. Absent terms negative-cache as None — the snapshot cannot
  // grow one later.
  private val dictCache =
    new BytesLru[String, Option[(Long, Array[Int])]](8L << 20,
      (t, e) => BytesLru.dictBytes(t, e.fold(Array.emptyIntArray)(_._2)))
  private val dictLock = new Object

  private def dictLookup(terms: Seq[String]): Map[String, (Long, Array[Int])] =
    driverDict match {
      case Some(m) => terms.iterator.flatMap(t => m.get(t).map(t -> _)).toMap
      case None =>
        if (terms.isEmpty) Map.empty
        else cachedFetch(dictCache, dictLock, terms)(
          missing => dictRows(termdict.filter(col("term").isin(missing: _*)))
            .map { case (t, e) => t -> Option(e) },
          absent = Some(_ => None))
          .collect { case (t, Some(e)) => t -> e }
    }

  /** ids (urls) -> per-segment sorted docIds of every generation,
    * tombstoned docs included (they are vetoed at scoring time): the LRU
    * over [[IndexBuilder.resolveUrls]], probing this handle's postings. */
  private[graft] def resolveDocIds(urls: Seq[String]): Map[Int, Array[Long]] =
    IndexBuilder.docIdsBySeg(cachedFetch(idsCache, idsCache, urls.distinct)(
      IndexBuilder.resolveUrls(postings, snap, _, 0 until snap.generations),
      // the handle pins its snapshot, so an absent url stays absent —
      // negative-cache it (same argument as fetchPostings), making
      // repeated ids lookups job-free (the S10 LRU point-lookup surface)
      absent = Some(_ => Array.empty[(Int, Long)])).valuesIterator)

  /** Compile against this snapshot; None = provably-empty result. */
  private def compile(q0: BoolQuery): Option[CompiledQuery] = {
    val qn = q0.normalized
    if (qn.contradictory) return None
    // the index stores marker-colliding tokens behind the safeTerm escape
    // (IndexBuilder.safeTerm) — map clause terms identically so matching
    // semantics are the injective image of the unmapped ones
    val q = qn.copy(
      must = qn.must.map(IndexBuilder.safeTerm),
      should = qn.should.map(IndexBuilder.safeTerm),
      filter = qn.filter.map(IndexBuilder.safeTerm),
      mustNot = qn.mustNot.map(IndexBuilder.safeTerm))
    val dict = dictLookup((q.must ++ q.should ++ q.filter ++ q.mustNot).distinct)
    if (q.must.exists(!dict.contains(_)) || q.filter.exists(!dict.contains(_)))
      return None // conjunction over an absent term
    val scoring = (q.must ++ q.should.filter(dict.contains)).distinct.sorted.toArray
    if (!q.hasRequired && scoring.isEmpty) return None
    // The one candidate-segment rule. A match needs every required term,
    // so only segments holding all of them qualify; a pure-should match
    // needs one scoring term; an ids query with neither may match in any
    // segment of its ids. An ids clause then narrows to its ids' segments.
    // The sets are exact, so no segment holding a match is dropped.
    val required = (q.must ++ q.filter).distinct
    val termSegs: Option[Set[Int]] =
      if (required.nonEmpty) {
        // intersect FROM the rarest required term's segments: the working
        // set is bounded by the rarest term
        val sets = required.map(t => dict(t)._2).sortBy(_.length)
        Some(sets.tail.foldLeft(sets.head.toSet)((cur, s) => s.iterator.filter(cur).toSet))
      } else if (q.ids.isDefined) None
      else Some(scoring.iterator.flatMap(t => dict(t)._2).toSet)
    if (termSegs.exists(_.isEmpty)) return None
    val idsBySeg = q.ids.fold(Map.empty[Int, Array[Long]])(resolveDocIds)
    val segs = (termSegs ++ q.ids.map(_ => idsBySeg.keySet)).reduce(_ intersect _)
    if (segs.isEmpty) return None
    Some(CompiledQuery(q.must.toArray, q.filter.toArray,
      q.mustNot.filter(dict.contains).toArray, scoring,
      scoring.map(t => t -> Bm25.idf(snap.numDocs, dict(t)._1)).toMap,
      q.ids.isDefined, idsBySeg, segs.toArray.sorted))
  }

  /** Free-text top-k (ES `match`): pure-should over the analyzed terms. */
  def topK(query: String, k: Int): Array[Hit] =
    search(BoolQuery.text(query), k)

  /** Hot-serving free-text top-k — rank-identical to `topK` (same scorer,
    * same ascending-term evaluation, same (score desc, docId asc) merge),
    * but segments are scored sequentially on the driver from memoized
    * postings. */
  def servedTopK(query: String, k: Int): Array[Hit] =
    servedSearch(BoolQuery.text(query), k)

  /** Distributed bool-query top-k over the snapshot. */
  def search(q: BoolQuery, k: Int): Array[Hit] = searchAfter(q, k, None)

  /** Deep paging (ES search_after; the reference pages query-filtered
    * result sets with scroll='4h'/size=1000, modules/Association.py:
    * 309-311): `after` = (score, docId) of the LAST hit of the previous
    * page, and the result is the next k hits strictly after that position
    * under the global (score desc, docId asc) order — every segment's
    * scorer applies the cursor as an upper-bound filter while its own
    * heap theta keeps the usual WAND/conjunction pruning, so page N+1
    * costs one top-k pass, never a recompute with k' = (N+1)*k. Scores
    * are deterministic across calls (pinned float order), so the cursor's
    * equality tie-break is exact. Ranks restart at 1 per page. */
  def searchAfter(q: BoolQuery, k: Int,
      after: Option[(Double, Long)]): Array[Hit] = {
    val rows = searchRaw(q, k, after)
    if (rows.isEmpty) return Array.empty
    decorateHits(rows)
  }

  /** [[search]] without url resolution: (docId, score, segId) rows —
    * top-k-bounded (corpus-sized match enumeration lives in
    * [[matchTombstoneRows]], which never collects). */
  private[graft] def searchRaw(q: BoolQuery, k: Int,
      after: Option[(Double, Long)] = None): Array[(Long, Double, Int)] = {
    val kk = k
    val bs = blockSize
    val aft: SegHit = SegHit.fromCursor(after)
    val nc = normCtx // local copy — the closure must not capture the handle
    val scored = readSegments[(Long, Double, Int)](q, marker = None, keepLens = true) {
      (c, seg) =>
        BoolEval.scoreSegment(seg.segId, seg.terms, seg.lens, seg.dels, c, bs, nc,
          kk, after = aft)
    }.getOrElse(return Array.empty)
    scored
      .toDF("docId", "score", "segId")
      .orderBy(desc("score"), asc("docId"))
      .limit(k)
      .collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getInt(2)))
  }

  /** The one read behind search, count, scan and delete-by-query: compile
    * `q` and run `body` over each of its segments (`c.segs`) in the
    * per-segment reader ([[SegmentReader]], which holds the memory
    * contract). None when `q` cannot match. A warm cache is clustered by
    * segId, so it only sorts locally; a cold read repartitions by segId
    * once. Rows of other segments never cross the exchange.
    *
    * Rows read: TermDels, the clause terms, `marker` when given, and the
    * doc-length tables when `keepLens`. An ids query with neither would
    * have no row in a listed segment holding none of its clause terms,
    * where it can still match; TermLens rides along to anchor those
    * segments, and the reader drops its rows unread. */
  private def readSegments[T: Encoder](q: BoolQuery, marker: Option[String],
      keepLens: Boolean)(body: (CompiledQuery, Segment) => Iterator[T]): Option[Dataset[T]] =
    compile(q).map { c =>
      val lensTerms =
        if (keepLens) IndexBuilder.TermLens +: fieldLensTerms
        else if (c.hasIds && marker.isEmpty) Seq(IndexBuilder.TermLens)
        else Nil
      val wanted = marker.toSeq ++ lensTerms ++ (IndexBuilder.TermDels +: c.allTerms.toSeq)
      val rows = postings.filter(col("term").isin(wanted: _*) && col("segId").isin(c.segs: _*))
      SegmentReader.perSegment(rows, clustered = warm, marker, keepLens)(body(c, _))
    }

  /** Distributed match-enumeration sink (ES delete-by-query at corpus
    * scale): one CONSOLIDATED TermDels row per segment with >= 1 NEW match
    * — prior tombstones of that segment merged in (streaming k-way merge;
    * exclusion cursors already keep dead docs out of the match set) —
    * paired with that segment's count of new matches, the docs the row
    * newly kills. The match set never touches the driver: enumeration,
    * merge and varint encode all happen inside the per-segment task, and
    * the returned Dataset is written straight to the tombstone dir.
    * Segments with no new match emit nothing (their prior rows stay
    * referenced in the old data dirs). */
  private[graft] def matchTombstoneRows(q: BoolQuery): Dataset[(PostingRow, Long)] = {
    val bs = blockSize
    readSegments[(PostingRow, Long)](q, marker = None, keepLens = false) {
      (c, seg) =>
        var fresh = 0L
        val matches = MatchEnum.enumerate(seg.segId, seg.terms, seg.dels, c, bs)
          .map { d => fresh += 1; d }.buffered
        if (!matches.hasNext) Iterator.empty
        else {
          // prior tombstones stream off their compressed bytes
          // (IndexBuilder.docIdStream) — decodePostings would materialize
          // 8 bytes per previously-deleted doc in-task, an executor-OOM
          // risk right after a prior mass delete, exactly the workload
          // this sink exists for
          val merged = MatchEnum.mergeDistinct(
            matches +: seg.dels.map(IndexBuilder.docIdStream))
          val row = IndexBuilder.encodeDocIdStream(seg.segId, merged, bs)
          Iterator.single((row, fresh))
        }
    }.getOrElse(spark.emptyDataset[(PostingRow, Long)])
  }

  /** Exact live-match count for `q` (the ES `track_total_hits=true` /
    * `Search.count()` contract, mrtarget/modules/SearchObjects.py:289,334):
    * each segment read enumerates its matches with the same cursor
    * machinery the scorers use (deleted docs are exclusion cursors) and
    * emits ONE Long — no scoring, no k, and only O(segments) counts cross
    * to the driver. */
  def countMatches(q: BoolQuery): Long = {
    val bs = blockSize
    readSegments[Long](q, marker = None, keepLens = false) { (c, seg) =>
      Iterator.single(MatchEnum.enumerate(seg.segId, seg.terms, seg.dels, c, bs)
        .foldLeft(0L)((n, _) => n + 1))
    }.fold(0L)(_.collect().sum)
  }

  /** ES scan-with-query (`Search().query(q).scan()` + scroll paging — the
    * reference walks query-filtered result sets for hours this way,
    * mrtarget/modules/Association.py:309-311): enumerate EVERY live match
    * of `q` as a DataFrame of (docId, url, segId) — no scoring, no k.
    * Each of the query's segments enumerates its matches with the scorers'
    * cursor machinery (tombstones are exclusion cursors) and walks its
    * length-prefixed url table in rank lockstep — matches arrive in
    * ascending docId = ascending rank order, so the walk is a streaming
    * merge with O(1) state, never a materialized url array. The result
    * being a DataFrame is the point at scale: pageable, joinable,
    * writable — what the reference's scroll loops feed downstream. */
  def matchesDF(q: BoolQuery): DataFrame = {
    // TermUrls feeds the url walk AND anchors the segment — every committed
    // segment carries one (even empty segments), so no TermLens rides
    // along even for ids queries
    val chunkDocs = snap.markerChunkDocs
    val bs = blockSize
    readSegments[(Long, String, Int)](q, marker = Some(IndexBuilder.TermUrls),
        keepLens = false) {
      (c, seg) =>
        val segId = seg.segId
        val segB = IndexBuilder.segBase(segId)
        // rank-lockstep walk over the STREAMED url chunks: matches ascend
        // and chunk rows arrive in ascending chunk order, so the walk
        // pulls forward chunk-by-chunk — chunks the match stream jumps
        // over are pulled but never decoded (chunk c starts at rank
        // c*chunkDocs, the chunking invariant), within a chunk
        // non-matching urls are skipped by length prefix, and only ONE
        // chunk's bytes are referenced at a time — O(1) state however
        // large the segment
        var cur: PostingRow = null
        var rd: Varint.Reader = null
        var rank = 0L
        MatchEnum.enumerate(segId, seg.terms, seg.dels, c, bs).map { d =>
          val want = d - segB - 1
          while (cur == null || want >= (cur.chunk + 1).toLong * chunkDocs) {
            require(seg.markers.hasNext,
              s"url table of segment $segId ended before rank $want")
            cur = seg.markers.next()
            rd = null
          }
          if (rd == null) {
            rd = new Varint.Reader(cur.tfBytes, 0)
            rank = cur.chunk.toLong * chunkDocs
          }
          while (rank < want) { // skip non-matching urls, streaming
            val len = rd.readInt(); rd.pos += len; rank += 1
          }
          val len = rd.readInt()
          val url = new String(cur.tfBytes, rd.pos, len,
            java.nio.charset.StandardCharsets.UTF_8)
          rd.pos += len; rank += 1
          (d, url, segId)
        }
    }.map(_.toDF("docId", "url", "segId")).getOrElse(
      spark.emptyDataset[(Long, String, Int)].toDF("docId", "url", "segId"))
  }

  /** Hot-serving bool-query top-k: rank-identical to `search`, evaluated on
    * the driver from the memoized posting/doc-length caches. */
  def servedSearch(q: BoolQuery, k: Int): Array[Hit] =
    servedSearchAfter(q, k, None)

  /** [[searchAfter]] on the hot-serving path — rank-identical paging from
    * the driver-memoized caches. */
  def servedSearchAfter(q: BoolQuery, k: Int,
      after: Option[(Double, Long)]): Array[Hit] = {
    val c = compile(q) match {
      case None => return Array.empty
      case Some(x) => x
    }
    val aft: SegHit = SegHit.fromCursor(after)
    val wantedTerms = c.allTerms.toSeq
    val rowsByTerm = fetchPostings(wantedTerms)
    // only the query's segments' doc-length/tombstone tables are pulled
    // (LRU-kept)
    val candSegs = c.segs.toSeq
    val lens = fetchLens(candSegs)
    // one pass groups each term's rows by segment (term order preserved
    // within a segment — the scorer's float-accumulation order contract);
    // re-filtering every term's whole row array per segment would be
    // O(segments × total rows) per query
    val rowsBySeg = {
      val m = scala.collection.mutable.HashMap.empty[Int, ArrayBuffer[PostingRow]]
      wantedTerms.foreach { t =>
        rowsByTerm(t).foreach(r =>
          m.getOrElseUpdate(r.segId, ArrayBuffer.empty) += r)
      }
      m
    }
    // segments score independently; parallelize across driver cores (the
    // per-segment scorer state is private; merge order is pinned
    // afterwards). Finished segments publish their local kth-best score
    // into a shared floor — a monotone lower bound of the GLOBAL kth-best
    // (any superset's kth max >= a subset's kth max) — so later segments'
    // WAND/conjunction runs prune against it from the start. Serving cost
    // then stops scaling with segment count: after the first wave the
    // floor sits near the final theta and whole segments/blocks skip.
    val floorBits = new java.util.concurrent.atomic.AtomicLong(
      java.lang.Double.doubleToRawLongBits(Double.NegativeInfinity))
    def floorNow: Double = java.lang.Double.longBitsToDouble(floorBits.get())
    def raiseFloor(v: Double): Unit = {
      var cur = floorBits.get()
      while (v > java.lang.Double.longBitsToDouble(cur) &&
          !floorBits.compareAndSet(cur, java.lang.Double.doubleToRawLongBits(v)))
        cur = floorBits.get()
    }
    val hits = candSegs.par.flatMap { segId =>
      lens.get(segId) match {
        case None => Seq.empty
        case Some((l, dels)) =>
          val rows = rowsBySeg.get(segId).map(_.toSeq).getOrElse(Nil)
          val segHits = BoolEval.scoreSegment(segId, rows, l, dels, c,
            blockSize, normCtx, k, floorNow, aft).toSeq
          // k <= 0 yields empty segHits and lengthCompare(0) >= 0 —
          // guard nonEmpty or .min throws on the k=0 no-op query
          if (segHits.nonEmpty && segHits.lengthCompare(k) >= 0)
            raiseFloor(segHits.iterator.map(_._2).min)
          segHits
      }
    }.seq.toArray
    val top = hits.sortBy { case (docId, score, _) => (-score, docId) }.take(k)
    if (top.isEmpty) return Array.empty
    decorateHits(top)
  }

  /** Autocomplete over the snapshot's persisted suggest artifact (built at
    * index time when `IndexConfig.suggest` is on — the reference's
    * precomputed suggestion fields + ES completion query,
    * mrtarget/modules/SearchObjects.py:54-77,334-347): top-k terms
    * containing `fragment` (ngram semantics, 4..10 chars), ranked by
    * collection frequency desc then term asc. The probe is a pushed-down
    * parquet equality scan on the gram-sorted artifact — the same access
    * shape as a termdict probe; results are memoized per fragment
    * (LRU-bounded) so a hot prefix never re-touches the cluster. */
  def suggest(fragment: String, k: Int): Array[(String, Long)] = {
    require(snap.suggestDir.isDefined,
      "this snapshot has no suggest artifact - build with IndexConfig(suggest = true)")
    // Locale.ROOT like Analyzer.tokenize — the default locale would fold
    // differently (tr_TR dotless-i) and miss grams the artifact holds
    val key = fragment.toLowerCase(java.util.Locale.ROOT)
    if (key.length < 4 || key.length > 10) return Array.empty
    memoized(suggestCache, key, k)(n =>
      IndexBuilder.readSuggest(spark, s"$indexDir/${snap.suggestDir.get}")
        .filter(col("gram") === key)
        .orderBy(col("cf").desc, col("term").asc)
        .limit(n)
        .select("term", "cf").collect()
        .map(r => (r.getString(0), r.getLong(1))))
  }

  /** DOC-level autocomplete over the snapshot's doc-suggest artifact
    * (IndexConfig.docSuggestFields — the reference's per-document
    * suggestion inputs + ES completion suggester returning ranked
    * documents, mrtarget/modules/SearchObjects.py:54-77,334-347): top-k
    * (url, output, weight) for a prefix fragment, ranked by (weight desc,
    * url asc) with weight = how many inputs contain the fragment's gram.
    * Documents re-written by upsert resolve LATEST-wins WITHIN a shared
    * gram via the artifact's generation column; a gram only the OLD
    * edition contains (and tombstoned docs' grams) keeps serving the
    * superseded row until `Deletes.purge` consolidates the artifact to
    * live current generations — the same staleness window ES's completion
    * suggester has between a delete and a segment merge (DocSuggestSpec
    * pins both sides). The probe is a pushed-down gram scan; the top-k
    * cut runs distributed, so only k rows reach the driver. Memoized per
    * fragment like [[suggest]]. */
  def suggestDocs(fragment: String, k: Int): Array[(String, String, Int)] = {
    require(snap.docSuggestDirs.nonEmpty,
      "this snapshot has no doc-suggest artifact - build with " +
        "IndexConfig(docSuggestFields = ...)")
    val key = fragment.toLowerCase(java.util.Locale.ROOT)
    if (key.length < 4 || key.length > 10) return Array.empty
    memoized(docSuggestCache, key, k) { n =>
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("url")).orderBy(col("gen").desc)
      IndexBuilder.readDocSuggest(spark, snap.docSuggestDirs.map(d => s"$indexDir/$d"))
        .filter(col("gram") === key)
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1) // upserted docs: newest generation wins
        .orderBy(col("weight").desc, col("url").asc)
        .limit(n)
        .select("url", "output", "weight").collect()
        .map(r => (r.getString(0), r.getString(1), r.getInt(2)))
    }
  }

  private def memoized[V](cache: BytesLru[String, Array[V]], key: String,
      k: Int)(fetch: Int => Array[V]): Array[V] =
    if (k > suggestFetch) fetch(k)
    else cachedFetch(cache, cache, Seq(key))(_ =>
      Map(key -> fetch(suggestFetch)))(key).take(k)

  /** Test hook: approximate bytes the doc-suggest memo holds. */
  private[graft] def docSuggestMemoHeldBytes: Long =
    docSuggestCache.synchronized(docSuggestCache.heldBytes)

  def close(): Unit = if (warm) postings.unpersist()
}

/** Deliberately naive exhaustive scorer — the in-repo "reference
  * implementation" the rank-identical acceptance tests compare against
  * (SURVEY.md §5 item 2). Pure driver-side Scala over raw (url, text) rows:
  * no index, no pruning; shares only Analyzer/Bm25/Hashing so that token
  * streams, docIds and float orders are pinned identically by construction. */
object OracleSearch {

  /** Spark sorts strings as UTF8String binary = unsigned UTF-8 byte order;
    * Scala's String ordering compares UTF-16 code units, which diverges for
    * supplementary characters (a surrogate pair sorts below U+E000 in UTF-16
    * but above it in UTF-8). The oracle must rank urls exactly like the
    * builder's `orderBy(url)` or docIds diverge for non-ASCII urls. */
  private[graft] def utf8Compare(a: String, b: String): Int = {
    val x = a.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val y = b.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val n = math.min(x.length, y.length)
    var i = 0
    while (i < n) {
      val c = (x(i) & 0xff) - (y(i) & 0xff)
      if (c != 0) return c
      i += 1
    }
    x.length - y.length
  }
  private val utf8Ordering: Ordering[String] = (a, b) => utf8Compare(a, b)

  /** docIds exactly as the builder assigns them. */
  private def assignIds(docs: Seq[(String, String)], numSegments: Int)
      : Seq[(Long, String, String)] = docs
    .map { case (url, text) =>
      (Hashing.segmentOf(url, numSegments), url, text)
    }
    .groupBy(_._1).toSeq
    .flatMap { case (seg, rows) =>
      rows.sortBy(_._2)(utf8Ordering).zipWithIndex.map { case ((_, url, text), i) =>
        (IndexBuilder.segBase(seg) + i + 1, url, text)
      }
    }

  def topK(
      docs: Seq[(String, String)], // (url, text)
      query: String,
      k: Int,
      numSegments: Int,
      deletedUrls: Set[String] = Set.empty): Array[Hit] =
    boolTopK(docs, BoolQuery.text(query), k, numSegments, deletedUrls)

  /** Exhaustive bool-query evaluation with the pinned BoolQuery semantics —
    * the differential-fuzz oracle for must/filter/ids/mustNot. */
  def boolTopK(
      docs: Seq[(String, String)],
      q0: BoolQuery,
      k: Int,
      numSegments: Int,
      deletedUrls: Set[String] = Set.empty): Array[Hit] = {
    val q = q0.normalized
    if (q.contradictory) return Array.empty

    val withIds = assignIds(docs, numSegments)
    val tfs = withIds.map { case (id, url, text) => (id, url, Analyzer.termFreqs(text)) }
    val n = tfs.size.toLong
    if (n == 0) return Array.empty
    val sumdl = tfs.iterator.map(_._3.valuesIterator.sum.toLong).sum
    val avgdl = Bm25.avgdl(n, sumdl)
    val scoringAll = (q.must ++ q.should).distinct.sorted
    val dfByTerm = scoringAll.map { t => t -> tfs.count(_._3.contains(t)).toLong }.toMap
    val idsSet = q.ids.map(_.toSet)

    // tombstoned docs are excluded from results but — exactly like
    // Lucene between a delete and a merge — still count in N/avgdl/df
    // (computed above over ALL docs)
    val scored = tfs.flatMap { case (id, url, tf) =>
      val pass = !deletedUrls.contains(url) &&
        idsSet.forall(_.contains(url)) &&
        q.must.forall(t => tf.getOrElse(t, 0) > 0) &&
        q.filter.forall(t => tf.getOrElse(t, 0) > 0) &&
        !q.mustNot.exists(t => tf.getOrElse(t, 0) > 0)
      if (!pass) None
      else {
        val doclen = tf.valuesIterator.sum
        var s = 0.0
        var any = false
        scoringAll.foreach { t => // ascending term order — float parity
          val f = tf.getOrElse(t, 0)
          if (f > 0 && dfByTerm(t) > 0) {
            any = true
            s += Bm25.idf(n, dfByTerm(t)) * Bm25.tfNorm(f, doclen, avgdl)
          }
        }
        if (q.hasRequired || any) Some((id, url, s)) else None
      }
    }
    scored.sortBy { case (id, _, s) => (-s, id) }.take(k)
      .zipWithIndex.map { case ((id, url, s), i) => Hit(i + 1, id, url, s) }
      .toArray
  }

  /** Exhaustive MULTI-FIELD evaluation with the pinned field-scoped
    * semantics (the rank-identity oracle for IndexConfig.fields indexes):
    * df per tagged (field, token) term, idf over the TOTAL doc count
    * (pinned choice — ES uses the per-field docCount; one N keeps idf
    * comparable across a bool query's fields), tf counted within its
    * field, and PER-FIELD norms exactly like ES 7.4's per-field
    * similarity: each analyzed field scores with its own doc length and
    * avgdl (sum field length / docs containing the field); keyword fields
    * score norms-disabled (dl/avgdl pinned to 1 — with tf = 1 the
    * contribution is exactly idf), null values not indexed. Scoring
    * accumulates over the tagged must∪should terms in ascending term
    * order — float-order pinned exactly like the engine. */
  def fieldTopK(
      docs: Seq[(String, Map[String, String])], // url -> field values
      fields: Seq[graft.index.FieldDef],
      q0: BoolQuery,
      k: Int,
      numSegments: Int): Array[Hit] = {
    val q = q0.normalized
    if (q.contradictory) return Array.empty
    val sep = IndexBuilder.FieldSep
    val keywordFields = fields.filter(_.keyword).map(_.name).toSet
    // tagged tf map + per-field analyzed doc lengths
    def tfMapOf(vals: Map[String, String]): (Map[String, Int], Map[String, Int]) = {
      val m = scala.collection.mutable.HashMap.empty[String, Int]
      val dl = scala.collection.mutable.HashMap.empty[String, Int]
      fields.foreach { f =>
        val v = vals.getOrElse(f.name, null)
        if (f.keyword) { if (v != null) m.update(f.name + sep + v, 1) }
        else {
          var n = 0
          Analyzer.termFreqs(if (v == null) "" else v).foreach {
            case (t, c) => m.update(f.name + sep + t, c); n += c
          }
          dl.update(f.name, n)
        }
      }
      (m.toMap, dl.toMap)
    }
    val withIds = docs
      .map { case (url, vals) => (Hashing.segmentOf(url, numSegments), url, vals) }
      .groupBy(_._1).toSeq
      .flatMap { case (seg, rows) =>
        rows.sortBy(_._2)(utf8Ordering).zipWithIndex.map {
          case ((_, url, vals), i) =>
            (IndexBuilder.segBase(seg) + i + 1, url, vals)
        }
      }
    val tfs = withIds.map { case (id, url, vals) =>
      val (m, dl) = tfMapOf(vals); (id, url, m, dl)
    }
    val n = tfs.size.toLong
    if (n == 0) return Array.empty
    // per-field avgdl = sum field length / docs where the field produced
    // >= 1 token (ES avgFieldLength = sumTotalTermFreq / docCount)
    val fieldAvgdl: Map[String, Double] = fields.filterNot(_.keyword).map { f =>
      val present = tfs.count(_._4.getOrElse(f.name, 0) > 0).toLong
      val sumDl = tfs.iterator.map(_._4.getOrElse(f.name, 0).toLong).sum
      f.name -> Bm25.avgdl(present, sumDl)
    }.toMap
    val scoringAll = (q.must ++ q.should).distinct.sorted
    val dfByTerm = scoringAll.map(t => t -> tfs.count(_._3.contains(t)).toLong).toMap
    val idsSet = q.ids.map(_.toSet)
    val scored = tfs.flatMap { case (id, url, tf, dlByField) =>
      val pass = idsSet.forall(_.contains(url)) &&
        q.must.forall(t => tf.getOrElse(t, 0) > 0) &&
        q.filter.forall(t => tf.getOrElse(t, 0) > 0) &&
        !q.mustNot.exists(t => tf.getOrElse(t, 0) > 0)
      if (!pass) None
      else {
        var s = 0.0
        var any = false
        scoringAll.foreach { t => // ascending term order — float parity
          val f = tf.getOrElse(t, 0)
          if (f > 0 && dfByTerm(t) > 0) {
            any = true
            val fld = t.substring(0, t.indexOf(sep))
            val norm =
              if (keywordFields.contains(fld)) Bm25.tfNorm(f, 1, 1.0)
              else Bm25.tfNorm(f, dlByField(fld), fieldAvgdl(fld))
            s += Bm25.idf(n, dfByTerm(t)) * norm
          }
        }
        if (q.hasRequired || any) Some((id, url, s)) else None
      }
    }
    scored.sortBy { case (id, _, s) => (-s, id) }.take(k)
      .zipWithIndex.map { case ((id, url, s), i) => Hit(i + 1, id, url, s) }
      .toArray
  }
}
