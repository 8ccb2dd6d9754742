package graft

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, MaxBy}
import org.apache.spark.sql.execution.{AppendColumnsWithObjectExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.aggregate.TypedAggregateExpression
import org.apache.spark.sql.util.QueryExecutionListener

import graft.analysis.Analyzer
import graft.corpus.Corpus
import graft.index.{Deletes, Hashing, IndexBuilder, IndexConfig, PostingRow, Snapshot, SnapshotMeta}
import graft.search.{BoolQuery, IndexHandle, OracleSearch, Searcher}

/** Delete lifecycle: tombstones (soft deletes, ES/Lucene semantics — docs
  * vanish from results, stats keep counting them) and purge (the merge —
  * post-purge results identical to a fresh build over live docs, docIds
  * included). */
class DeleteSpec extends SparkSuite {
  import spark.implicits._

  private val cfg = IndexConfig(numSegments = 6, blockSize = 16)
  private lazy val pages = Corpus.pages(spark, 400, seed = 7,
    vocabSize = 500, medianLen = 50).cache()
  private lazy val docs: Seq[(String, String)] =
    pages.select("url", "text").as[(String, String)].collect().toSeq

  private def freshIndex(): String = {
    val dir = Files.createTempDirectory("graft-del").toString
    IndexBuilder.build(spark, pages.toDF(), dir, cfg)
    dir
  }

  private val queries = Seq("the data", "merge sort join", "crawl web page",
    "data spark segment", "the")

  private def urlsContaining(term: String, in: Seq[(String, String)] = docs): Set[String] =
    in.filter(d => Analyzer.termFreqs(d._2).contains(term)).map(_._1).toSet

  test("tombstoned docs vanish from results; stats still include them") {
    val dir = freshIndex()
    val deleted = docs.map(_._1).zipWithIndex
      .filter(_._2 % 7 == 0).map(_._1).toSet
    val snap = Deletes.delete(spark, dir, deleted.toSeq)
    assert(snap.deletedDocs === deleted.size)
    assert(snap.numDocs === docs.size) // N/avgdl unchanged until purge
    queries.foreach { q =>
      val engine = Searcher.topK(spark, dir, q, 10)
      val oracle = OracleSearch.topK(docs, q, 10, cfg.numSegments, deleted)
      assert(engine.map(h => (h.docId, h.url, h.score)).toSeq ===
        oracle.map(h => (h.docId, h.url, h.score)).toSeq, s"query: $q")
      assert(engine.forall(h => !deleted.contains(h.url)))
    }
    // re-deleting dead docs is a no-op commit-wise
    val again = Deletes.delete(spark, dir, deleted.take(5).toSeq)
    assert(again.id === snap.id)
  }

  test("track_total_hits: count is live-doc exact and shrinks with deletes") {
    val dir = freshIndex()
    val q = BoolQuery(filter = Seq("data"))
    val matching = urlsContaining("data")
    assert(Searcher.count(spark, dir, q) === matching.size.toLong)
    val victims = matching.toSeq.sorted.take(3)
    Deletes.delete(spark, dir, victims)
    assert(Searcher.count(spark, dir, q) === (matching.size - 3).toLong)
    // the scan-with-query enumeration honors the same tombstones
    val scanned = Searcher.matches(spark, dir, q)
      .select("url").collect().map(_.getString(0)).toSet
    assert(scanned === matching -- victims)
  }

  test("warm and served paths honor tombstones; ids of a deleted url gone") {
    val dir = freshIndex()
    val deleted = docs.map(_._1).take(40).toSet
    Deletes.delete(spark, dir, deleted.toSeq)
    val h = new IndexHandle(spark, dir, warm = true)
    try {
      queries.foreach { q =>
        val oracle = OracleSearch.topK(docs, q, 10, cfg.numSegments, deleted)
        assert(h.topK(q, 10).map(x => (x.docId, x.score)).toSeq ===
          oracle.map(x => (x.docId, x.score)).toSeq, s"warm: $q")
        assert(h.servedTopK(q, 10).map(x => (x.docId, x.score)).toSeq ===
          oracle.map(x => (x.docId, x.score)).toSeq, s"served: $q")
      }
      val dead = deleted.head
      val live = docs.map(_._1).find(u => !deleted.contains(u)).get
      val hits = h.search(BoolQuery(ids = Some(Seq(dead, live))), 10)
      assert(hits.map(_.url).toSeq === Seq(live))
      assert(h.servedSearch(BoolQuery(ids = Some(Seq(dead))), 10).isEmpty)
    } finally h.close()
  }

  test("delete-by-query tombstones exactly the matching docs, idempotent") {
    val dir = freshIndex()
    val matching = urlsContaining("data")
    assert(matching.nonEmpty && matching.size < docs.size)
    val s1 = Deletes.deleteByQuery(spark, dir, BoolQuery(filter = Seq("data")))
    assert(s1.deletedDocs === matching.size)
    // matching runs through the tombstone-aware search: second call no-ops
    val s2 = Deletes.deleteByQuery(spark, dir, BoolQuery(filter = Seq("data")))
    assert(s2.id === s1.id)
    assert(Searcher.search(spark, dir, BoolQuery(must = Seq("data")), 10).isEmpty)
  }

  test("delete-by-query enumerates distributed: broad match, no driver collect") {
    val dir = freshIndex()
    // prior tombstones first — the consolidated row must merge them
    val priorDead = docs.map(_._1).take(25).toSet
    Deletes.delete(spark, dir, priorDead.toSeq)
    // a near-universal pure-should match ("the" hits almost every doc) —
    // the old top-k-collect path; now enumerated per segment
    val h = new IndexHandle(spark, dir, warm = false)
    val plan = h.matchTombstoneRows(BoolQuery(should = Seq("the")))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("TakeOrderedAndProject") && !plan.contains("CollectLimit"),
      s"match enumeration must not rank/collect:\n$plan")
    val matching = urlsContaining("the").diff(priorDead)
    val s1 = Deletes.deleteByQuery(spark, dir, BoolQuery(should = Seq("the")))
    assert(s1.deletedDocs === priorDead.size + matching.size)
    assert(Searcher.search(spark, dir, BoolQuery(must = Seq("the")), 10).isEmpty)
    // survivors behave exactly like the oracle with both delete sets applied
    val allDead = priorDead ++ matching
    queries.foreach { q =>
      val engine = Searcher.topK(spark, dir, q, 10)
      val oracle = OracleSearch.topK(docs, q, 10, cfg.numSegments, allDead)
      assert(engine.map(x => (x.docId, x.score)).toSeq ===
        oracle.map(x => (x.docId, x.score)).toSeq, s"query: $q")
    }
    // idempotent: the same broad delete commits nothing new
    assert(Deletes.deleteByQuery(spark, dir, BoolQuery(should = Seq("the"))).id
      === s1.id)
    // pure-ids delete through the enumeration sink (TermLens group anchor)
    // — fresh index: the broad delete above may have killed every doc
    val dir2 = freshIndex()
    val targets = docs.map(_._1).take(3)
    val s2 = Deletes.deleteByQuery(spark, dir2, BoolQuery(ids = Some(targets)))
    assert(s2.deletedDocs === targets.size)
    assert(Searcher.search(spark, dir2, BoolQuery(ids = Some(targets)), 10).isEmpty)
  }

  test("tombstone-volume pressure: 10^6 ids/segment consolidates in bounded time") {
    // deleteDocIds consolidates PRIOR tombstones of the affected segments
    // executor-side, streaming over encoded bytes (bounded by tombstone
    // bytes per task — purge is the pressure valve). Pin that bound with
    // measured numbers: 4 segments x 10^6 ids, then a second overlapping
    // mass delete that must merge against the full prior volume. (Ids need
    // not resolve to live docs — tombstones are exclusion cursors,
    // encoding is what is under test.)
    val dir = freshIndex()
    val perSeg = 1000000
    def ids(seg: Int, offset: Int): Array[Long] =
      Array.tabulate(perSeg)(i => IndexBuilder.segBase(seg) + offset + i + 1)
    val wave1 = (0 until 4).map(s => s -> ids(s, 0)).toMap
    val t0 = System.nanoTime()
    val s1 = Deletes.deleteDocIds(spark, dir, wave1)
    val d1 = (System.nanoTime() - t0) / 1e9
    assert(s1.deletedDocs === 4L * perSeg)
    // second wave overlaps half of wave 1 per segment
    val wave2 = (0 until 4).map(s => s -> ids(s, perSeg / 2)).toMap
    val t1 = System.nanoTime()
    val s2 = Deletes.deleteDocIds(spark, dir, wave2)
    val d2 = (System.nanoTime() - t1) / 1e9
    assert(s2.deletedDocs === 4L * perSeg + 4L * (perSeg / 2))
    info(f"wave1 (4M fresh ids): $d1%.1f s; wave2 (4M ids vs 4M prior): $d2%.1f s")
    // driver consolidation of ~10^6/segment must stay interactive-scale
    assert(d1 < 120 && d2 < 120, f"consolidation too slow: $d1%.1f / $d2%.1f s")
  }

  test("purge == fresh build over live docs (urls + bit-identical scores)") {
    val dir = freshIndex()
    val matching = urlsContaining("data")
    Deletes.deleteByQuery(spark, dir, BoolQuery(filter = Seq("data")))
    val purged = Deletes.purge(spark, dir)
    assert(purged.deletedDocs === 0L)
    assert(purged.numDocs === docs.size - matching.size)
    assert(purged.dataDirs.size === 1)

    val live = docs.filterNot(d => matching.contains(d._1))
    val freshDir = Files.createTempDirectory("graft-del-fresh").toString
    IndexBuilder.build(spark, live.toDF("url", "text"), freshDir, cfg)
    queries.foreach { q =>
      def hits(d: String) = Searcher.topK(spark, d, q, 10)
        .map(h => (h.docId, h.url, h.score)).toSeq
      assert(hits(dir) === hits(freshDir), s"purged vs fresh drift for: $q")
    }
    // purged urls stay dead for ids lookups (they left the url tables)
    val deadUrl = matching.head
    assert(Searcher.search(spark, dir,
      BoolQuery(ids = Some(Seq(deadUrl))), 10).isEmpty)
  }

  test("second delete+purge cycle stays exact (dead slots never revive)") {
    val dir = freshIndex()
    Deletes.deleteByQuery(spark, dir, BoolQuery(filter = Seq("data")))
    Deletes.purge(spark, dir)
    val live1 = docs.filterNot(d => urlsContaining("data").contains(d._1))

    val matching2 = urlsContaining("merge", live1)
    assert(matching2.nonEmpty)
    val s = Deletes.deleteByQuery(spark, dir, BoolQuery(filter = Seq("merge")))
    assert(s.deletedDocs === matching2.size)
    val purged2 = Deletes.purge(spark, dir)
    val live2 = live1.filterNot(d => matching2.contains(d._1))
    assert(purged2.numDocs === live2.size)

    val freshDir = Files.createTempDirectory("graft-del-fresh2").toString
    IndexBuilder.build(spark, live2.toDF("url", "text"), freshDir, cfg)
    queries.foreach { q =>
      val a = Searcher.topK(spark, dir, q, 10).map(h => (h.url, h.score)).toSeq
      val b = Searcher.topK(spark, freshDir, q, 10).map(h => (h.url, h.score)).toSeq
      assert(a === b, s"cycle-2 purged vs fresh drift for: $q")
    }
  }

  test("compact drops tombstones like purge; vacuum reclaims pre-merge dirs") {
    val dir = freshIndex()
    val deleted = docs.map(_._1).take(30).toSet
    Deletes.delete(spark, dir, deleted.toSeq)
    val merged = IndexBuilder.compact(spark, dir)
    assert(merged.deletedDocs === 0L && merged.dataDirs.size === 1)
    val live = docs.filterNot(d => deleted.contains(d._1))
    queries.foreach { q =>
      val oracle = OracleSearch.topK(live, q, 10, cfg.numSegments)
      assert(Searcher.topK(spark, dir, q, 10)
        .map(h => (h.docId, h.url, h.score)).toSeq ===
        oracle.map(h => (h.docId, h.url, h.score)).toSeq, s"query: $q")
    }
    // purge of the merged index is the same merge: nothing left to do
    assert(Deletes.purge(spark, dir).id === merged.id)
    val removed = IndexBuilder.vacuum(dir)
    assert(removed.toSet === Set("data/build-00001", "data/del-00002",
      "termdict/snap-00001"))
    assert(Searcher.topK(spark, dir, "the data", 10)
      .map(h => (h.docId, h.score)).toSeq ===
      OracleSearch.topK(live, "the data", 10, cfg.numSegments)
        .map(h => (h.docId, h.score)).toSeq)
    assert(Snapshot.latest(dir).get.numDocs === live.size)
  }

  test("deleteDocIds ships its id sets by broadcast, not inside the task") {
    val dir = freshIndex()
    // 6 segments x 20,000 ids = 960 KB of ids; only the 6 affected segIds
    // may travel as a local relation (Spark serializes local relations
    // into the plan every task deserializes)
    val perSeg = 20000
    val bySeg = (0 until cfg.numSegments).map(s =>
      s -> Array.tabulate(perSeg)(i => IndexBuilder.segBase(s) + i + 1)).toMap
    val localBytes = new java.util.concurrent.atomic.AtomicLong(0L)
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      def onSuccess(f: String, qe: org.apache.spark.sql.execution.QueryExecution,
          ns: Long): Unit = qe.optimizedPlan.foreach {
        case l: org.apache.spark.sql.catalyst.plans.logical.LocalRelation =>
          val proj = org.apache.spark.sql.catalyst.expressions.UnsafeProjection
            .create(l.schema)
          localBytes.addAndGet(l.data.map(r => proj(r).getSizeInBytes.toLong).sum)
        case _ =>
      }
      def onFailure(f: String, qe: org.apache.spark.sql.execution.QueryExecution,
          e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    val snap =
      try {
        val s = Deletes.deleteDocIds(spark, dir, bySeg)
        org.apache.spark.ListenerDrain(spark.sparkContext)
        s
      } finally spark.listenerManager.unregister(listener)
    assert(snap.deletedDocs === cfg.numSegments.toLong * perSeg)
    assert(localBytes.get > 0L, "no local relation observed: the check went blind")
    assert(localBytes.get < 4096L,
      s"${localBytes.get} bytes of local relations in the tombstone write")
  }

  test("delete by url ships its url probes by broadcast, not inside the task") {
    val dir = freshIndex()
    // 10^5 urls, about 5 MB, all but five absent: captured in the url
    // resolver's task closure they were serialized into the task binary,
    // which Spark reports as a WARN above 1000 KiB
    val present = docs.take(5).map(_._1)
    val urls = present ++ (0 until 100000).map(i =>
      f"https://absent.example.org/crawl/section-$i%06d/page.html")
    val warned = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val appender = new org.apache.logging.log4j.core.appender.AbstractAppender(
        "task-size", null, null, true,
        org.apache.logging.log4j.core.config.Property.EMPTY_ARRAY) {
      override def append(e: org.apache.logging.log4j.core.LogEvent): Unit = {
        val m = e.getMessage.getFormattedMessage
        if (m.contains("large task binary") || m.contains("very large size"))
          warned.add(m)
      }
    }
    appender.start()
    val loggers = Seq("org.apache.spark.scheduler.DAGScheduler",
        "org.apache.spark.scheduler.TaskSetManager")
      .map(n => org.apache.logging.log4j.LogManager.getLogger(n)
        .asInstanceOf[org.apache.logging.log4j.core.Logger])
    loggers.foreach(_.addAppender(appender))
    val (control, snap) =
      try {
        // a 2 MB closure must be reported, or the check went blind
        val big = new Array[Byte](2 << 20)
        spark.sparkContext.parallelize(Seq(1), 1).map(_ + big.length).count()
        val c = warned.size
        warned.clear()
        (c, Deletes.delete(spark, dir, urls))
      } finally loggers.foreach(_.removeAppender(appender))
    assert(control > 0, "no task-size warning observed: the check went blind")
    assert(snap.deletedDocs === present.size)
    assert(warned.isEmpty, warned.asScala.mkString("\n"))
  }

  test("deletes across appended generations") {
    val dir = Files.createTempDirectory("graft-del-gen").toString
    val batchA = Corpus.pages(spark, 250, seed = 7, vocabSize = 500, medianLen = 50)
    val batchB = Corpus.pages(spark, 150, seed = 99, vocabSize = 500,
      medianLen = 50, startId = 250)
    IndexBuilder.build(spark, batchA.toDF(), dir, cfg)
    IndexBuilder.append(spark, batchB.toDF(), dir)
    val all = batchA.union(batchB).select("url", "text")
      .as[(String, String)].collect().toSeq
    val deleted = (batchA.select("url").as[String].take(10) ++
      batchB.select("url").as[String].take(10)).toSet
    val snap = Deletes.delete(spark, dir, deleted.toSeq)
    assert(snap.deletedDocs === deleted.size)
    val hits = Searcher.topK(spark, dir, "the data", 20)
    assert(hits.nonEmpty && hits.forall(h => !deleted.contains(h.url)))

    val purged = Deletes.purge(spark, dir)
    assert(purged.numDocs === all.size - deleted.size)
    assert(Searcher.search(spark, dir,
      BoolQuery(ids = Some(deleted.toSeq)), 30).isEmpty)
    val live = all.filterNot(d => deleted.contains(d._1))
    val liveUrl = live.head._1
    assert(Searcher.search(spark, dir,
      BoolQuery(ids = Some(Seq(liveUrl))), 10).map(_.url).toSeq === Seq(liveUrl))
  }

  /** Decoded TermDels rows of data dirs `rels` of `dir`, per segment. */
  private def tombstones(dir: String, rels: Seq[String]): Map[Int, Set[Long]] =
    if (rels.isEmpty) Map.empty
    else IndexBuilder.readPostings(spark, rels.map(d => s"$dir/$d"))
      .filter($"term" === IndexBuilder.TermDels).as[PostingRow].collect()
      .groupBy(_.segId).map { case (s, rs) => s -> rs.flatMap(IndexBuilder.docIdStream).toSet }

  private def copyIndex(src: String): String = {
    val dst = Files.createTempDirectory("graft-del-copy")
    val walk = Files.walk(java.nio.file.Paths.get(src))
    try walk.iterator().asScala.foreach { p =>
      val t = dst.resolve(java.nio.file.Paths.get(src).relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(t)
      else Files.copy(p, t, java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    } finally walk.close()
    dst.toString
  }

  private def delDirsOnDisk(dir: String): Set[String] = {
    val ls = Files.list(java.nio.file.Paths.get(dir, "data"))
    try ls.iterator().asScala.map(p => s"data/${p.getFileName}")
      .filter(_.startsWith("data/del-")).toSet
    finally ls.close()
  }

  test("tombstone by url == deleteDocIds over the resolver's pairs, upsert too") {
    // the one-execution url path against the id path fed by the
    // driver-side resolver, each on its own copy of the same index
    val P = cfg.numSegments
    val dir = Files.createTempDirectory("graft-del-parity").toString
    IndexBuilder.build(spark, pages.toDF(), dir, cfg)
    val urls = docs.map(_._1)
    // urls 0..19 get a second document in generation 1 (append does not
    // tombstone), so each is live in two generations
    IndexBuilder.append(spark, (urls.take(20).map(u => (u, "second edition")) ++
      (0 until 20).map(i => (s"https://fresh.example/$i", "fresh page"))).toDF("url", "text"), dir)
    val absent = (0 until 40).map(i => s"https://absent.example/$i")

    def byResolver(d: String, us: Seq[String]): Map[Int, Array[Long]] = {
      val snap = Snapshot.latest(d).get
      IndexBuilder.docIdsBySeg(IndexBuilder.resolveUrls(
        IndexBuilder.snapshotPostings(spark, d, snap), snap, us,
        0 until snap.generations).valuesIterator)
    }
    /** Run `byUrl` on `dir` and `byIds` on a copy; both must commit the
      * same snapshot (`sameCommit`; otherwise the same index state) and
      * the same tombstone rows. */
    def parity(label: String, sameCommit: Boolean = true)(byUrl: String => SnapshotMeta)(
        byIds: String => SnapshotMeta): Map[Int, Set[Long]] = {
      val copy = copyIndex(dir)
      val before = Snapshot.latest(dir).get
      val a = byUrl(dir)
      val b = byIds(copy)
      def state(s: SnapshotMeta) = (s.numDocs, s.sumDocLen, s.deletedDocs,
        s.termdictRows, s.segments.map(_.copy(dataDir = "")))
      if (sameCommit) assert(a === b, label)
      else assert(state(a) === state(b), label)
      def added(s: SnapshotMeta) = s.dataDirs.filterNot(before.dataDirs.contains)
      val rows = tombstones(dir, added(a))
      assert(rows === tombstones(copy, added(b)), label)
      assert(delDirsOnDisk(dir) === a.dataDirs.filter(_.startsWith("data/del-")).toSet, label)
      // each written row is its segment's whole dead set: the newest prior
      // row (a superset of every older one) was the one merged
      val all = tombstones(dir, a.dataDirs)
      rows.foreach { case (s, ids) => assert(ids === all(s), s"$label: segment $s") }
      rows
    }
    def urlDelete(us: Seq[String]): Map[Int, Set[Long]] =
      parity(s"delete ${us.size} urls")(d => Deletes.delete(spark, d, us))(
        d => Deletes.deleteDocIds(spark, d, byResolver(d, us)))

    // absent urls: nothing committed, no dir left behind
    val before0 = Snapshot.latest(dir).get
    assert(urlDelete(absent).isEmpty)
    assert(Snapshot.latest(dir).get.id === before0.id)

    // two waves: every touched segment ends with tombstones in two dirs
    urlDelete(urls.slice(40, 100))
    urlDelete(urls.slice(100, 160))
    // a mix: already dead, live in two generations, new, absent. The
    // two-generation urls route to slots 0-2 only, so the generation-1
    // segments of slots 3-5 are candidates with no match
    val twoGen = urls.take(20).filter(u => Hashing.segmentOf(u, P) < 3)
    val mixed = urls.slice(50, 70) ++ twoGen ++ urls.slice(200, 230) ++ absent
    val rows = urlDelete(mixed)
    assert(twoGen.forall(u => rows.contains(Hashing.segmentOf(u, P) + P)))
    val found = byResolver(dir, mixed).keySet
    assert(rows.keySet === found)
    val idle = mixed.map(u => Hashing.segmentOf(u, P)).distinct
      .flatMap(s => Seq(s, s + P)).toSet -- found
    assert((P + 3 until 2 * P).forall(idle.contains), s"idle candidates: $idle")

    // only already-dead urls: nothing committed, no dir left behind
    val before1 = Snapshot.latest(dir).get
    assert(urlDelete(urls.slice(40, 70)).isEmpty)
    assert(Snapshot.latest(dir).get.id === before1.id)

    // upsert: dead, two-generation, live and fresh urls in one batch. It
    // commits its tombstones with its build, where the id path commits twice
    val batch = (urls.slice(60, 65) ++ urls.slice(10, 20) ++ urls.slice(300, 320) ++
      absent.take(5)).map(u => (u, "zzupserted page"))
    val up = parity("upsert", sameCommit = false)(
        d => IndexBuilder.upsert(spark, batch.toDF("url", "text"), d)) { d =>
      Deletes.deleteDocIds(spark, d, byResolver(d, batch.map(_._1)))
      IndexBuilder.append(spark, batch.toDF("url", "text"), d)
    }
    assert(up.nonEmpty)
  }

  test("the tombstone writer plans built-in aggregates, no typed grouping") {
    // groupByKey adds an AppendColumnsWithObject and reduceGroups a typed
    // aggregate, each running generated row conversion in every task
    val dir = freshIndex()
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]()
    val listener = new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        plans.add(qe.executedPlan)
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    val walk = new AdaptiveSparkPlanHelper {}
    def nodes(label: String)(body: => SnapshotMeta): Seq[SparkPlan] = {
      plans.clear()
      spark.listenerManager.register(listener)
      try {
        assert(body.deletedDocs > 0, label)
        org.apache.spark.ListenerDrain(spark.sparkContext)
      } finally spark.listenerManager.unregister(listener)
      plans.asScala.toSeq.flatMap(p => walk.collect(p) { case n => n })
    }
    val urls = docs.map(_._1)
    Seq(
      nodes("tombstone by url")(Deletes.delete(spark, dir, urls.take(20))),
      nodes("deleteDocIds")(Deletes.deleteDocIds(spark, dir,
        IndexBuilder.docIdsBySeg(IndexBuilder.resolveUrls(
          IndexBuilder.snapshotPostings(spark, dir, Snapshot.latest(dir).get),
          Snapshot.latest(dir).get, urls.slice(20, 40), 0 until 1).valuesIterator)))
    ).foreach { ns =>
      def aggs(n: SparkPlan) = n.expressions.flatMap(_.collect {
        case a: AggregateExpression => a.aggregateFunction })
      assert(!ns.exists(_.isInstanceOf[AppendColumnsWithObjectExec]), ns.mkString("\n"))
      assert(!ns.flatMap(aggs).exists(_.isInstanceOf[TypedAggregateExpression]),
        ns.mkString("\n"))
      assert(ns.flatMap(aggs).exists(_.isInstanceOf[MaxBy]),
        s"no max_by aggregate: the check went blind\n${ns.mkString("\n")}")
    }
  }

  test("refresh job budget: delete and warm open, no schema inference") {
    val dir = freshIndex()
    val victims = docs.map(_._1).take(25)
    val (_, del) = JobLog.of(spark)(Deletes.delete(spark, dir, victims))
    val (h, open) = JobLog.of(spark)(new IndexHandle(spark, dir, warm = true))
    h.close()
    info(s"delete ${del.count} jobs, warm open ${open.count} jobs")
    assert(del.schemaInference.isEmpty && open.schemaInference.isEmpty,
      s"schema-inference jobs:\n$del\n--\n$open")
    assert(del.count <= 2, s"delete jobs:\n$del")
    assert(open.count <= 4, s"warm open jobs:\n$open")
  }

  test("dead-doc accounting: both tombstone writers count only newly dead docs") {
    // brute force from the fixture: deletedDocs must equal |dead urls|
    // after each call, and a call that kills nothing new commits nothing
    // and leaves no tombstone dir behind
    def checkCommitted(dir: String, dead: Set[String]): Unit = {
      val snap = Snapshot.latest(dir).get
      assert(snap.deletedDocs === dead.size.toLong)
      assert(delDirsOnDisk(dir) === snap.dataDirs.filter(_.startsWith("data/del-")).toSet)
    }
    val urls = docs.map(_._1)

    // by url (deleteDocIds): all new, then a mix, then all already dead
    val d1 = freshIndex()
    val first = urls.take(30).toSet
    Deletes.delete(spark, d1, first.toSeq)
    checkCommitted(d1, first)
    val mixed = urls.slice(20, 50).toSet // 10 dead, 20 new
    Deletes.delete(spark, d1, mixed.toSeq)
    checkCommitted(d1, first ++ mixed)
    val before1 = Snapshot.latest(d1).get
    assert(Deletes.delete(spark, d1, urls.slice(10, 40)).id === before1.id)
    assert(Snapshot.latest(d1).get.id === before1.id)
    checkCommitted(d1, first ++ mixed)

    // by query (deleteByQuery): all new, then a mix, then all already dead
    val d2 = freshIndex()
    val data = urlsContaining("data")
    Deletes.deleteByQuery(spark, d2, BoolQuery(filter = Seq("data")))
    checkCommitted(d2, data)
    val merge = urlsContaining("merge")
    assert(merge.intersect(data).nonEmpty && merge.diff(data).nonEmpty)
    Deletes.deleteByQuery(spark, d2, BoolQuery(filter = Seq("merge")))
    checkCommitted(d2, data ++ merge)
    val before2 = Snapshot.latest(d2).get
    assert(Deletes.deleteByQuery(spark, d2, BoolQuery(filter = Seq("merge"))).id
      === before2.id)
    // every match of this query is dead already, through the other writer
    assert(urlsContaining("sort").diff(data ++ merge).nonEmpty)
    Deletes.delete(spark, d2, urlsContaining("sort").toSeq)
    val dead2 = data ++ merge ++ urlsContaining("sort")
    checkCommitted(d2, dead2)
    val before3 = Snapshot.latest(d2).get
    assert(Deletes.deleteByQuery(spark, d2, BoolQuery(filter = Seq("sort"))).id
      === before3.id)
    checkCommitted(d2, dead2)
    assert(Searcher.count(spark, d2, BoolQuery(filter = Seq("sort"))) === 0L)
  }
}
