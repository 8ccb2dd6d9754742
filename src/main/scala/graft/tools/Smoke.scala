package graft.tools

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.tools.BenchHarness.timed
import graft.index.{Deletes, Hashing, IndexBuilder, IndexConfig, PostingRow, Snapshot}
import graft.ops.SimSearch
import graft.search.{Bm25, BoolQuery, IndexHandle, OracleSearch, Searcher}

/** Scale smokes: each scenario builds one index (or vector table) far past
  * the sizes the specs use, checks it against closed-form or exhaustive
  * expectations, and prints one JSON line on stdout. A failed check throws.
  *
  *  - `segment [docs=5e7]`: one segment, chunked markers, delete + purge
  *    (the merge)
  *  - `segments [docs=2e5] [P=4096]`: thousands of segments, oracle identity
  *    and count/scan agreement
  *  - `big [docs=8e6] [P=512]`: build throughput and bytes per posting
  *  - `ann [n=5e5]`: IVF-flat against brute-force cosine top-k
  *
  * Work dir: `$GRAFT_SMOKE_TMP` (default /dev/shm, else /tmp) +
  * `/graft-smoke-<scenario>`, deleted after a passing run and kept after a
  * failed one. Master: `SPARK_MASTER`, the launcher's, or local[32].
  * Usage: runMain graft.tools.Smoke <scenario> [args] */
object Smoke {

  /** Marker chunk size of the `segment` scenario: 2^20 url slots, so the
    * default 5x10^7 docs cross 47 chunk seams. */
  private val ChunkDocs = 1 << 20

  def main(args: Array[String]): Unit = {
    java.util.Locale.setDefault(java.util.Locale.ROOT) // JSON decimals
    val scenario = args.headOption.getOrElse("")
    def arg(i: Int, default: Long): Long = args.lift(i).map(_.toLong).getOrElse(default)
    val base = sys.env.getOrElse("GRAFT_SMOKE_TMP", BenchHarness.tmpfsRoot) +
      s"/graft-smoke-$scenario"
    val run: SparkSession => String = scenario match {
      case "segment" => segment(_, base, arg(1, 50000000L), ChunkDocs)
      case "segments" => segments(_, base, arg(1, 200000L), arg(2, 4096L).toInt)
      case "big" => big(_, base, arg(1, 8000000L), arg(2, 512L).toInt)
      case "ann" => ann(_, arg(1, 500000L).toInt)
      case other =>
        System.err.println(s"unknown scenario '$other'; usage: " +
          "Smoke segment [docs] | segments [docs] [P] | big [docs] [P] | ann [n]")
        sys.exit(2)
    }
    Files.createDirectories(Paths.get(base))
    val spark = Sessions.withMaster(SparkSession.builder(), "local[32]")
      .appName(s"graft-smoke-$scenario")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.local.dir", s"$base/spark-local")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    var ok = false
    try { println(run(spark)); ok = true }
    finally {
      // stop FIRST, delete after: base holds the session's spark-local
      // dir, and deleting it under a live session races the shutdown
      // cleaner (IOExceptions + re-created files leaking tmpfs)
      spark.stop()
      if (ok) BenchHarness.deleteDir(base)
      else System.err.println(s"[smoke] $scenario failed; work dir kept at $base")
    }
  }

  /** The `segment` corpus: document i is a pure arithmetic function of i,
    * and urls are zero-padded so they sort like ids (url rank == i). */
  private final case class ClosedForm(chunkDocs: Int) {
    def url(i: Long): String =
      f"https://one.seg/section/subsection/archive-2024/item-area/d$i%09d/index.html"
    def isNeedle(i: Long): Boolean = i % 1000 == 0
    def isRare(i: Long): Boolean = i % 9973 == 0
    // planted only at marker-chunk boundary ranks
    def isEdge(i: Long): Boolean =
      (i % chunkDocs == 0 && i > 0) || i % chunkDocs == chunkDocs - 1
    def varyTf(i: Long): Int = (i % 8).toInt
    def dl(i: Long): Long = 3L + varyTf(i) +
      Seq(isNeedle(i), isRare(i), isEdge(i)).count(identity)
    def text(i: Long): String = {
      val sb = new StringBuilder(96)
      sb.append("filler alpha beta")
      var v = varyTf(i)
      while (v > 0) { sb.append(" vary"); v -= 1 }
      if (isNeedle(i)) sb.append(" needle")
      if (isRare(i)) sb.append(" rare")
      if (isEdge(i)) sb.append(" edge")
      sb.toString
    }
  }

  /** `segment`: upper-segment-size and streaming-merge evidence for the
    * block-chunked marker tables. Builds `docs` documents into ONE segment
    * with `chunkDocs`-slot marker chunks (at 5x10^7 docs the url table is
    * about 4 GB, past the ~3x10^7-url / 2 GiB JVM-array ceiling a
    * monolithic per-segment url cell had), then deletes the planted
    * "needle" class by query and purges. Counts, docIds, urls, BM25 scores
    * and live statistics are all computed driver-side in closed form.
    *
    * Checks on the built index:
    *  - numDocs and sumDocLen
    *  - exact counts of needle, edge and the needle&rare conjunction
    *  - the edge scan returns the exact boundary urls across every seam
    *  - bit-identical BM25 top-10 docIds, scores and urls for "vary"
    *  - search_after pages stitch into the one-shot top 30
    *  - one url marker row per chunk, never one monolithic cell
    * and after deleteByQuery("needle") + purge, which merges:
    *  - deletedDocs is the needle count before purge, 0 after; numDocs and
    *    sumDocLen are the live sums
    *  - count(needle) is 0; edge and rare drop by exactly the deleted overlap
    *  - each survivor's docId is its dense rank (old rank minus the needles
    *    before it), with its url
    *  - top-10 scores follow the live df/avgdl (purge rewrote stats)
    *  - no tombstone row remains; the url tables hold ⌈live / chunkDocs⌉
    *    chunks */
  def segment(spark: SparkSession, base: String, docs: Long, chunkDocs: Int): String = {
    import spark.implicits._
    require(docs % 8 == 0, "docs must be a multiple of 8 (closed-form sumdl)")
    // above 1e9 the %09d-padded urls stop sorting numerically, so rank != i
    // and every closed-form check would implicate the engine; the lower
    // bound keeps 10 undeleted tf=7 docs for the top-k expectation
    require(docs >= 10000 && docs <= 1000000000L,
      s"docs must be in [1e4, 1e9] for the closed-form checks: $docs")
    val c = ClosedForm(chunkDocs)
    val corpusDir = s"$base/corpus-$docs-$chunkDocs"
    if (!Files.exists(Paths.get(corpusDir, "_SUCCESS")))
      spark.range(0, docs, 1, 64).map(i => (c.url(i), c.text(i)))
        .toDF("url", "text").write.mode("overwrite").parquet(corpusDir)
    val idxDir = Files.createTempDirectory(Paths.get(base), "idx").toString
    val (_, buildSec) = timed(IndexBuilder.build(spark,
      spark.read.parquet(corpusDir), idxDir,
      IndexConfig(numSegments = 1, blockSize = 128, markerChunkDocs = chunkDocs)))

    // ---- closed-form corpus statistics ----
    def countMod(m: Long): Long = (docs - 1) / m + 1 // |{i < docs : m | i}|
    val nNeedle = countMod(1000)
    val nRare = countMod(9973)
    val nEdge = (docs - 1) / chunkDocs + // multiples of chunkDocs, i > 0
      (if (docs < chunkDocs) 0L else (docs - chunkDocs) / chunkDocs + 1)
    val nBoth = countMod(9973000L) // needle AND rare (lcm = 9973*1000)
    val sumdl = 3 * docs + (docs / 8) * 28 + nNeedle + nRare + nEdge
    // the deleted class is small enough to fold exactly
    val deleted = 0L until docs by 1000
    val liveDocs = docs - nNeedle
    val liveSumdl = sumdl - deleted.map(c.dl).sum

    def stats(what: String, numDocs: Long, sumDocLen: Long): Unit = {
      val snap = Snapshot.latest(idxDir).get
      require(snap.numDocs == numDocs, s"$what numDocs ${snap.numDocs} != $numDocs")
      require(snap.sumDocLen == sumDocLen,
        s"$what sumDocLen ${snap.sumDocLen} != closed-form $sumDocLen")
    }
    def countIs(what: String, q: BoolQuery, expected: Long): Double = {
      val (n, sec) = timed(Searcher.count(spark, idxDir, q))
      require(n == expected, s"$what count $n != $expected")
      sec
    }
    def edgeScan(): (Seq[(Long, String, Int)], Double) = timed(
      Searcher.matches(spark, idxDir, BoolQuery(filter = Seq("edge")))
        .orderBy("docId").as[(Long, String, Int)].collect().toSeq)
    // query "vary": the best class is tf=7, dl=10 (i%8==7, no planted
    // extras); ties break by docId ascending, and docId = rank + 1 = i + 1
    val expI = Iterator.iterate(7L)(_ + 8)
      .filter(i => !c.isNeedle(i) && !c.isRare(i) && !c.isEdge(i))
      .take(10).toSeq
    // the purge's merge renumbers densely: a survivor's rank drops by the
    // needles (multiples of 1000) before it
    def denseId(i: Long): Long = i + 1 - (i + 999) / 1000
    def topK(what: String, numDocs: Long, sumDocLen: Long, dfVary: Long,
        docId: Long => Long): Double = {
      val expScore = Bm25.idf(numDocs, dfVary) *
        Bm25.tfNorm(7, 10, Bm25.avgdl(numDocs, sumDocLen))
      val expIds = expI.map(docId)
      val (hits, sec) = timed(Searcher.topK(spark, idxDir, "vary", 10))
      require(hits.map(_.docId).toSeq == expIds,
        s"$what top-10 docIds ${hits.map(_.docId).toSeq} != $expIds")
      require(hits.forall(_.score == expScore),
        s"$what scores ${hits.map(_.score).toSeq} != closed-form $expScore")
      require(hits.map(_.url).toSeq == expI.map(c.url),
        s"$what top-10 urls drifted")
      sec
    }
    def rows() = IndexBuilder.readPostings(spark,
      Snapshot.latest(idxDir).get.dataDirs.map(d => s"$idxDir/$d")).as[PostingRow]
    def urlCells(what: String, live: Long): Array[Long] = {
      val cells = rows().filter(col("term") === IndexBuilder.TermUrls)
        .map(_.tfBytes.length.toLong).collect()
      val chunks = (live - 1) / chunkDocs + 1
      require(cells.length == chunks,
        s"$what: expected $chunks url chunk rows, got ${cells.length}")
      cells
    }

    // ---- the built index ----
    stats("built", docs, sumdl)
    val tNeedle = countIs("needle", BoolQuery(filter = Seq("needle")), nNeedle)
    val tEdge = countIs("edge", BoolQuery(filter = Seq("edge")), nEdge)
    val tBoth = countIs("needle&rare", BoolQuery(must = Seq("needle", "rare")), nBoth)
    val (edgeRows, tScan) = edgeScan()
    val expectedEdge = (1L until docs).filter(c.isEdge).map(i => (i + 1, c.url(i), 0))
    require(edgeRows == expectedEdge,
      s"edge enumeration drifted: got ${edgeRows.length} rows")
    val tTopK = topK("built", docs, sumdl, docs - docs / 8, _ + 1)
    val h = new IndexHandle(spark, idxDir, warm = false)
    val oneShot = h.search(BoolQuery.text("vary"), 30)
    val p1 = h.searchAfter(BoolQuery.text("vary"), 15, None)
    val p2 = h.searchAfter(BoolQuery.text("vary"), 15, Some((p1.last.score, p1.last.docId)))
    require((p1 ++ p2).map(x => (x.docId, x.score)).toSeq ==
      oneShot.map(x => (x.docId, x.score)).toSeq, "search_after drifted")
    val cells = urlCells("built", docs)

    // ---- delete the needle class, then purge ----
    val (_, delSec) = timed(
      Deletes.deleteByQuery(spark, idxDir, BoolQuery(filter = Seq("needle"))))
    require(Snapshot.latest(idxDir).get.deletedDocs == nNeedle,
      "deleteByQuery tombstoned an unexpected count")
    val (_, purgeSec) = timed(Deletes.purge(spark, idxDir))
    require(Snapshot.latest(idxDir).get.deletedDocs == 0L,
      "purge left deletedDocs nonzero")
    stats("purged", liveDocs, liveSumdl)
    countIs("purged needle", BoolQuery(filter = Seq("needle")), 0L)
    val tEdgePurged = countIs("purged edge", BoolQuery(filter = Seq("edge")),
      nEdge - deleted.count(c.isEdge))
    countIs("purged rare", BoolQuery(filter = Seq("rare")),
      nRare - deleted.count(c.isRare))
    val (survivors, tScanPurged) = edgeScan()
    require(survivors == edgeRows.collect {
        case (docId, url, tf) if !c.isNeedle(docId - 1) => (denseId(docId - 1), url, tf)
      }, s"survivor enumeration drifted: ${survivors.length} rows")
    // every deleted id is a multiple of 1000 = 8 * 125, so none has tf(vary) > 0
    val tTopKPurged = topK("purged", liveDocs, liveSumdl, docs - docs / 8, denseId)
    val purgedCells = urlCells("purged", liveDocs)
    val dels = rows().filter(col("term") === IndexBuilder.TermDels).count()
    require(dels == 0L, s"the purge left $dels tombstone rows")

    f"""{"segment_docs":$docs,"chunk_docs":$chunkDocs,"build_sec":$buildSec%.1f,""" +
      f""""docs_per_sec":${docs / buildSec}%.0f,"url_chunks":${cells.length},""" +
      f""""max_url_cell_bytes":${cells.max},"total_url_bytes":${cells.sum},""" +
      f""""count_needle_sec":$tNeedle%.2f,"count_edge_sec":$tEdge%.2f,""" +
      f""""count_conj_sec":$tBoth%.2f,"scan_edge_rows":${edgeRows.length},""" +
      f""""scan_edge_sec":$tScan%.2f,"topk_sec":$tTopK%.2f,"deleted":$nNeedle,""" +
      f""""delete_sec":$delSec%.1f,"purge_sec":$purgeSec%.1f,""" +
      f""""purge_docs_per_sec":${docs / purgeSec}%.0f,""" +
      f""""purged_url_chunks":${purgedCells.length},""" +
      f""""purged_max_url_cell_bytes":${purgedCells.max},""" +
      f""""purged_count_edge_sec":$tEdgePurged%.2f,""" +
      f""""purged_scan_edge_sec":$tScanPurged%.2f,""" +
      f""""purged_topk_sec":$tTopKPurged%.2f,"all_closed_form_checks":"pass"}"""
  }

  /** `segments`: segment-count scale proof for the 10^12-doc sizing rule
    * (BASELINE.md: 10^6-10^8 docs per segment, so O(10^4-10^5) segments).
    * Builds the seeded corpus into P segments at scaled-down docs/segment
    * and checks snapshot completeness (P/P committed, empty segments
    * included) and top-10 rank+score identity against the exhaustive oracle
    * over the full corpus. On the same build, enumerating a head-term match
    * set (`matchesDF`, aggregated on the executors, nothing corpus-sized
    * reaches the driver) must return exactly `Searcher.count` rows. */
  def segments(spark: SparkSession, base: String, docs: Long, P: Int): String = {
    import spark.implicits._
    val corpus = spark.read.parquet(BenchHarness.stageCorpus(spark, base, docs))
    val idxDir = Files.createTempDirectory(Paths.get(base), "idx").toString
    val (snap, buildSec) = timed(IndexBuilder.build(spark, corpus, idxDir,
      IndexConfig(numSegments = P, blockSize = 128)))
    require(snap.isComplete && snap.segments.size == P,
      s"incomplete: ${snap.segments.size}/$P")
    val segDocs = snap.segments.map(_.docs)
    require(segDocs.sum == docs, s"segments hold ${segDocs.sum} docs, not $docs")
    require(Snapshot.latest(idxDir).exists(_.termdictDir.nonEmpty),
      "no termdict committed")

    // rank+score identity on a doc sample is meaningless at large P — use
    // the full corpus exactly like IndexSearchSpec does
    val pages = corpus.select("url", "text").as[(String, String)].collect().toSeq
    Seq("the data", "merge sort join", "w100x w200x", "wi-fi").foreach { q =>
      val engine = Searcher.topK(spark, idxDir, q, 10).map(h => (h.docId, h.score))
      val oracle = OracleSearch.topK(pages, q, 10, P).map(h => (h.docId, h.score))
      require(engine.toSeq == oracle.toSeq, s"rank/score drift at P=$P for '$q'")
    }

    // "the" is the head term (df ~= 0.75N in the seeded corpus); w100x and
    // w200x are its synthetic tail tokens
    val broad = BoolQuery(filter = Seq("the"))
    val (cBroad, tCount) = timed(Searcher.count(spark, idxDir, broad))
    val (scanAgg, tScan) = timed {
      Searcher.matches(spark, idxDir, broad)
        .groupBy("segId").count()
        .agg(count(lit(1)), coalesce(sum("count"), lit(0L)))
        .collect()(0)
    }
    require(scanAgg.getLong(1) == cBroad,
      s"scan enumeration (${scanAgg.getLong(1)}) != count ($cBroad)")
    val (cNeg, tNeg) = timed(Searcher.count(spark, idxDir,
      BoolQuery(must = Seq("data"), mustNot = Seq("the"))))
    val (cTail, tTail) = timed(Searcher.count(spark, idxDir,
      BoolQuery(must = Seq("w100x", "w200x"))))

    f"""{"segments_docs":$docs,"segments":$P,"build_sec":$buildSec%.1f,""" +
      f""""docs_per_sec":${docs / buildSec}%.0f,""" +
      f""""empty_segments":${segDocs.count(_ == 0)},""" +
      f""""min_docs_per_seg":${segDocs.min},"max_docs_per_seg":${segDocs.max},""" +
      f""""rank_identity":true,"broad_matches":$cBroad,"count_sec":$tCount%.2f,""" +
      f""""scan_sec":$tScan%.2f,"scan_segments":${scanAgg.getLong(0)},""" +
      f""""neg_head_matches":$cNeg,"neg_head_sec":$tNeg%.2f,""" +
      f""""tail_conj_matches":$cTail,"tail_conj_sec":$tTail%.2f}"""
  }

  /** `big`: large-corpus robustness. Builds the seeded corpus into P
    * segments and reports throughput, bytes per posting and segment
    * balance; a warm handle must answer a top-10 query with 10 hits. */
  def big(spark: SparkSession, base: String, docs: Long, P: Int): String = {
    val corpus = spark.read.parquet(BenchHarness.stageCorpus(spark, base, docs))
    val idxDir = Files.createTempDirectory(Paths.get(base), "idx").toString
    val (snap, sec) = timed(IndexBuilder.build(spark, corpus, idxDir,
      IndexConfig(numSegments = P, blockSize = 128)))
    val postings = snap.segments.map(_.postings).sum
    val segDocs = snap.segments.map(_.docs)
    val idxBytes = {
      val walk = Files.walk(Paths.get(idxDir))
      try walk.filter(Files.isRegularFile(_)).mapToLong(Files.size).sum()
      finally walk.close()
    }
    val h = new IndexHandle(spark, idxDir)
    val hits = try h.topK("the data crawl", 10) finally h.close()
    require(hits.length == 10, s"top-10 returned ${hits.length} hits")
    f"""{"big_docs":$docs,"segments":$P,"build_sec":$sec%.1f,""" +
      f""""docs_per_sec":${docs / sec}%.0f,"postings":$postings,""" +
      f""""index_bytes":$idxBytes,""" +
      f""""bytes_per_posting":${idxBytes.toDouble / postings}%.2f,""" +
      f""""min_docs_per_seg":${segDocs.min},"max_docs_per_seg":${segDocs.max},""" +
      f""""top1_score":${hits.head.score},"hits":${hits.length}}"""
  }

  /** `ann`: n deterministic clustered vectors, exact brute-force top-k
    * against the IVF-flat path; reports timings and measured recall. The
    * similarity family's scale claims (sampled-centroid coarse quantizer,
    * shuffle-free assignment, nprobe-bounded candidate volume) get a data
    * point well beyond the sf tables' 500-2000 vectors. Vector id belongs
    * to cluster id % 200 and is center + 0.1 * noise, both splitmix64
    * functions of the id (`Hashing.hash64`): no data files, and reruns are
    * bit-identical. */
  def ann(spark: SparkSession, n: Int): String = {
    val dim = 64
    val clusters = 200
    val nlist = 256
    val nprobe = 8
    val k = 10
    val nProbes = 10
    def unit(s: String): Double = Hashing.hash64(s).toDouble / Long.MaxValue
    val vecUdf = udf { (id: Long) =>
      val c = id % clusters
      Array.tabulate(dim)(d => unit(s"c:$c:$d") + 0.1 * unit(s"n:$id:$d"))
    }
    val emb = spark.range(n)
      .select(col("id").as("vec_id"), vecUdf(col("id")).as("embedding"))
      .cache()
    emb.count() // materialize: measure search, not synthesis
    val probes = emb.filter(col("vec_id") < nProbes).cache()
    probes.count()

    def neighbours(df: DataFrame): Map[Long, Set[Long]] =
      df.collect().groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
    val (brute, bruteSec) = timed(neighbours(
      SimSearch.cosineTopK(emb, probes, "vec_id", "embedding", k)))
    val (ivf, ivfSec) = timed(neighbours(
      SimSearch.ivfTopK(emb, probes, "vec_id", "embedding", k,
        nlist = nlist, nprobe = nprobe)))
    val recalls = (0L until nProbes.toLong).map { p =>
      val truth = brute.getOrElse(p, Set.empty)
      if (truth.isEmpty) 1.0
      else truth.intersect(ivf.getOrElse(p, Set.empty)).size.toDouble / truth.size
    }
    val recall = recalls.sum / recalls.size

    // amortization: brute cost is linear in probe count (each probe scans
    // all n vectors); IVF pays a one-time O(n*nlist*dim) assignment and then
    // ~nprobe/nlist of the table per probe, so at 100x the probes IVF must
    // stay about flat while brute extrapolates linearly
    val manyProbes = emb.filter(col("vec_id") < nProbes * 100).cache()
    manyProbes.count()
    val (_, ivfManySec) = timed(SimSearch.ivfTopK(emb, manyProbes, "vec_id",
      "embedding", k, nlist = nlist, nprobe = nprobe).count())

    f"""{"annsmoke_vectors":$n,"dim":$dim,"clusters":$clusters,""" +
      f""""nlist":$nlist,"nprobe":$nprobe,"k":$k,"probes":$nProbes,""" +
      f""""brute_sec":$bruteSec%.2f,"ivf_sec":$ivfSec%.2f,""" +
      f""""probes_many":${nProbes * 100},"ivf_many_sec":$ivfManySec%.2f,""" +
      f""""brute_many_sec_extrapolated":${bruteSec * 100}%.0f,""" +
      f""""recall_at_$k":$recall%.3f}"""
  }
}
