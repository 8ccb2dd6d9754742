package perfbench

import graft.analysis.Analyzer
import graft.index.{IndexConfig, Snapshot}
import graft.search.{Hit, IndexHandle, OracleSearch}

/** Input sizes, chosen so a whole run of a listed workload stays near one
  * minute on a 4-core host (README: Inputs). The `update` index is small
  * on purpose: a refresh costs its per-commit and per-job fixed cost, which
  * a larger index would only dilute. */
object Sizes {
  val medianLen = 120
  val k = 10

  val buildDocs = 30000L
  val buildCfg = IndexConfig(numSegments = 8, blockSize = 128)
  val warmDocs = 5000

  val serveDocs = 20000L
  val serveCfg = IndexConfig(numSegments = 8, blockSize = 128)
  val serveMix = 60

  // half recaptures and half new urls, as in the engine's own upsert
  // probe (BASELINE.md, UpsertFlatProbe); the deletes and the base size
  // are assumptions (README: Inputs)
  val updateDocs = 2000L
  val updateCfg = IndexConfig(numSegments = 4, blockSize = 128)
  val recrawl = 75
  val fresh = 75
  val deletes = 25
  val batchesPerRound = 3
  val queriesPerBatch = 1

  /** Distinct queries checked against the exhaustive oracle per check. */
  val oracleSample = 2
}

object Common {

  /** Stage the seeded corpus (`Gen.page` for ids 0 until docs) as parquet
    * (url, text). `BenchHarness.stageCorpus` pins seed 42, skips staging
    * once a copy exists and goes through `Corpus.pages`, whose document
    * lengths depend on the seed (see `Gen.page`). */
  def stage(run: Run, docs: Long, dir: String): Unit = {
    val spark = run.spark
    import spark.implicits._
    val seed = run.args.seed
    spark.range(0, docs, 1, run.cpus).as[Long]
      .map(i => Gen.page(i, seed, Sizes.medianLen))
      .select("url", "text").write.mode("overwrite").parquet(dir)
  }

  def collectDocs(run: Run, dir: String): Seq[(String, String)] =
    run.spark.read.parquet(dir).select("url", "text").collect()
      .map(r => (r.getString(0), r.getString(1))).toSeq

  /** (postings, termdict, whole index) bytes of the latest snapshot. */
  def indexBytes(dir: String): (Long, Long, Long) = {
    val snap = Snapshot.latest(dir).get
    (snap.dataDirs.map(d => Run.bytesUnder(s"$dir/$d")).sum,
      snap.termdictDir.map(d => Run.bytesUnder(s"$dir/$d")).getOrElse(0L),
      Run.bytesUnder(dir))
  }

  def putIndexBytes(run: Run, dir: String): Unit = {
    val (postings, termdict, _) = indexBytes(dir)
    run.put("index.postings_bytes", postings.toDouble, "B")
    run.put("index.termdict_bytes", termdict.toDouble, "B")
  }

  /** `Analyzer.termFreqs` on one thread over a sample of the corpus. */
  def tokensPerSecond(run: Run, docs: Seq[(String, String)]): Unit = {
    val sample = docs.take(2000).map(_._2)
    var tokens = 0L
    sample.foreach(t => tokens += Analyzer.termFreqs(t).valuesIterator.sum) // warm
    tokens = 0L
    val t0 = System.nanoTime()
    var passes = 0
    while (passes < 3 || System.nanoTime() - t0 < 500000000L) {
      sample.foreach(t => tokens += Analyzer.termFreqs(t).valuesIterator.sum)
      passes += 1
    }
    run.put("analysis.tokens_per_s", tokens / ((System.nanoTime() - t0) / 1e9),
      "tokens/s")
  }

  /** A served answer for one query of the mix (page queries: the page
    * after the first k hits). */
  def served(h: IndexHandle, q: Q, cursor: Option[(Double, Long)]): Array[Hit] =
    if (q.kind == "page") h.servedSearchAfter(q.query, Sizes.k, cursor)
    else h.servedSearch(q.query, Sizes.k)

  def cursorOf(hits: Array[Hit]): Option[(Double, Long)] =
    hits.lastOption.map(h => (h.score, h.docId))

  /** Runs `f` over `items` on `threads` threads; checks are independent
    * calls, and the handle and the oracle are safe to call concurrently. */
  def parallel[A](threads: Int, items: Seq[A])(f: A => Unit): Unit = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
    try items.map(a => pool.submit(new Runnable { def run(): Unit = f(a) }))
      .foreach(_.get())
    finally pool.shutdown()
  }

  /** The shared build/serve checks on one warm handle over `docs`:
    * served equals distributed for every query given, a second page
    * equals ranks k+1..2k of a top-2k query, and a seeded sample equals
    * the exhaustive plain-Scala BM25 over the staged corpus. */
  def checkHandle(run: Run, what: String, h: IndexHandle,
      docs: Seq[(String, String)], numSegments: Int, mix: Seq[Q]): Unit = {
    val k = Sizes.k
    val rng = new java.util.Random(run.args.seed + 99)
    val sample = Seq.fill(Sizes.oracleSample)(mix(rng.nextInt(mix.size))).distinct
    parallel(run.cpus, sample.map(Left(_)) ++ mix.map(Right(_))) {
      case Left(q) =>
        run.check(Checks.sameHits(s"$what oracle ${q.query}",
          h.servedSearch(q.query, k),
          OracleSearch.boolTopK(docs, q.query, k, numSegments)))
      case Right(q) if q.kind == "page" =>
        val cur = cursorOf(h.search(q.query, k))
        val page2 = h.searchAfter(q.query, k, cur)
        run.check(Checks.sameHits(s"$what served page2 ${q.query}",
          h.servedSearchAfter(q.query, k, cur), page2))
        run.check(Checks.secondPage(s"$what page2 ${q.query}", page2,
          h.search(q.query, 2 * k), k))
      case Right(q) =>
        run.check(Checks.sameHits(s"$what served ${q.query}",
          h.servedSearch(q.query, k), h.search(q.query, k)))
    }
  }
}
