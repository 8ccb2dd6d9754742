package perfbench

import scala.collection.mutable.ArrayBuffer

import graft.corpus.Ingest
import graft.index.{Deletes, IndexBuilder}
import graft.search.{Hit, IndexHandle, OracleSearch, Searcher}

/** Seeded refresh batches against a built index, each followed by
  * distributed queries on a warm handle over the new snapshot; every few
  * batches a purge, compaction and vacuum. Operation: one refresh, from
  * the batch handed over to a warm handle open on the new snapshot. Item:
  * one page recrawled, added or deleted. */
object UpdateWorkload {

  def apply(run: Run): Unit = {
    val spark = run.spark
    import spark.implicits._
    val cfg = Sizes.updateCfg

    // set-up: stage, build the base index and open a warm handle on it
    val corpus = run.dir("corpus")
    val dir = run.dir("idx")
    val (h0, setupS) = Run.timed {
      Common.stage(run, Sizes.updateDocs, corpus)
      run.span("index.build") {
        IndexBuilder.build(spark, spark.read.parquet(corpus), dir, cfg)
      }
      run.span("search.open")(new IndexHandle(spark, dir))
    }
    run.put("setup_s", setupS, "s")
    run.log("set up")
    var handle = h0
    val baseDocs = Common.collectDocs(run, corpus)
    if (run.trace) Common.tokensPerSecond(run, baseDocs)
    val baseText = baseDocs.toMap
    val corpusDf = spark.read.parquet(corpus)

    val ledger = new Gen.Ledger(run.args.seed, Sizes.updateDocs, Sizes.medianLen)
    ledger.addBase(baseDocs.iterator.map { case (url, text) =>
      (url.substring(url.lastIndexOf('/') + 1).toLong, url, text)
    })
    val deleted = scala.collection.mutable.HashSet.empty[String]
    val mix = Gen.queryMix(run.args.seed + 1, 64)
    val qrng = new java.util.Random(run.args.seed * 7 + 3)

    val refresh = ArrayBuffer.empty[Double]
    var items = 0L
    var measured = 0.0
    var batchNo = 0
    var bytesPerLive = 0.0

    def reopen(): Unit = {
      handle.close()
      handle = run.span("search.open")(new IndexHandle(spark, dir))
    }

    /** One refresh batch and the queries after it; returns its refresh
      * seconds and the pages it touched. */
    def batch(): (Double, Long) = {
      batchNo += 1
      val b = ledger.next(Sizes.recrawl, Sizes.fresh, Sizes.deletes)
      val (_, s) = Run.timed(run.attempt("refresh") {
        run.span("update.refresh") {
          val prepared = run.span("corpus.prepare") {
            val p = Ingest.prepareBatch(b.raw.toDS().toDF()).persist()
            val n = p.count()
            run.check(if (n == b.expectedPrepared) None
              else Some(s"update: prepareBatch kept $n rows, ledger expects ${b.expectedPrepared}"))
            p
          }
          try run.span("index.upsert")(IndexBuilder.upsert(spark, prepared, dir))
          finally prepared.unpersist()
          run.span("index.delete")(Deletes.delete(spark, dir, b.deletes))
          handle.close()
          handle = run.span("search.open")(new IndexHandle(spark, dir))
        }
      })
      run.log(f"batch $batchNo: refresh $s%.2f s")
      deleted ++= b.deletes
      b.raw.foreach(p => deleted -= p.url)
      val snap = handle.snap
      run.check(Checks.liveCount(s"update batch $batchNo",
        snap.numDocs - snap.deletedDocs, ledger.live.size))
      queries(run, handle, mix, qrng, corpusDf, baseText, deleted)
      (s, b.raw.map(_.url).distinct.size + b.deletes.size.toLong)
    }

    // refresh times fall through a run as the JVM compiles the refresh path
    // (on 4 cores about 10 s at the first, 6-8 s by the seventh), so a
    // round's median is taken on a slope and jumps with where its middle
    // value lands; the mean of a fixed number of refreshes counts each
    // step of the slope once
    while (measured == 0.0 || measured < run.seconds) {
      val (_, roundSecs) = Run.timed {
        (1 to Sizes.batchesPerRound).foreach { _ =>
          val (s, n) = batch()
          refresh += s
          items += n
        }
        // compaction first: after a purge there is one data dir left and
        // compact would have nothing to merge
        run.attempt("compact")(run.span("index.compact")(IndexBuilder.compact(spark, dir)))
        run.attempt("purge")(run.span("index.purge")(Deletes.purge(spark, dir)))
        run.attempt("vacuum")(run.span("index.vacuum")(IndexBuilder.vacuum(dir)))
        reopen()
      }
      measured += roundSecs
      run.log(f"round of ${Sizes.batchesPerRound} batches: $roundSecs%.2f s")
      bytesPerLive = Run.bytesUnder(dir).toDouble / ledger.live.size
      checkAfterPurge(run, handle, ledger, mix, cfg.numSegments)
      run.log("checked after purge")
    }
    run.put("op_mean_ms", Stats.mean(refresh.toSeq) * 1e3, "ms")
    run.put("items_per_s", items / measured, "1/s")
    run.put("bytes_per_item", bytesPerLive, "B")
    if (run.trace) Common.putIndexBytes(run, dir)
    handle.close()
  }

  /** Seeded distributed queries on the new snapshot; no deleted url may
    * come back, and fetched sources must be the staged base text of each
    * hit (null for urls added after the base build). */
  private def queries(run: Run, h: IndexHandle, mix: IndexedSeq[Q],
      rng: java.util.Random,
      corpusDf: org.apache.spark.sql.DataFrame, baseText: Map[String, String],
      deleted: scala.collection.Set[String]): Unit = {
    val k = Sizes.k
    def checked(what: String, hits: Option[Array[Hit]]): Array[Hit] = {
      hits.foreach(hs => run.check(Checks.noneDeleted(s"update $what", hs, deleted.contains)))
      hits.getOrElse(Array.empty)
    }
    (1 to Sizes.queriesPerBatch).foreach { _ =>
      val q = mix(rng.nextInt(mix.size))
      val kind = if (q.kind == "page") "text" else q.kind
      // the first served queries on a new snapshot fill its driver caches
      checked(s"served $kind", run.attempt("served search")(
        run.span(s"search.served.$kind")(h.servedSearch(q.query, k))))
      val first = checked(kind, run.attempt("search")(
        run.span(s"search.dist.$kind")(h.search(q.query, k))))
      checked("page", run.attempt("search_after")(run.span("search.dist.page")(
        h.searchAfter(q.query, k, Common.cursorOf(first)))))
      run.attempt("count")(run.span("search.dist.count")(h.countMatches(q.query)))
      run.attempt("fetch_source") {
        val rows = run.span("search.fetch_source") {
          Searcher.fetchSource(run.spark, first, corpusDf, Seq("text")).collect()
        }
        val got = rows.map(r => (r.getAs[String]("url"), Option(r.getAs[String]("text"))))
        val want = first.map(hit => (hit.url, baseText.get(hit.url)))
        run.check(if (got.sameElements(want)) None
          else Some(s"update fetchSource ${q.query}: sources differ from the staged base"))
      }
    }
  }

  /** After a purge the index scores like a fresh build over the live
    * pages: per-url scores and the urls above the k-th score must equal
    * the exhaustive oracle over the ledger; match counts too. */
  private def checkAfterPurge(run: Run, h: IndexHandle, ledger: Gen.Ledger,
      mix: IndexedSeq[Q], numSegments: Int): Unit = {
    val live = ledger.liveDocs
    val rng = new java.util.Random(run.args.seed + ledger.live.size)
    Seq.fill(Sizes.oracleSample)(mix(rng.nextInt(mix.size))).distinct.foreach { q =>
      val all = OracleSearch.boolTopK(live, q.query, Int.MaxValue, numSegments)
      run.check(Checks.topKByUrl(s"update after purge ${q.query}",
        h.search(q.query, Sizes.k), all, Sizes.k))
      val n = h.countMatches(q.query)
      run.check(if (n == all.length) None
        else Some(s"update after purge ${q.query}: countMatches $n, oracle ${all.length}"))
    }
  }
}
