package graft

import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.catalyst.expressions.{And, Attribute, EqualTo, Expression, In,
  InSet, Literal}
import org.apache.spark.sql.catalyst.plans.logical.Filter
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.util.QueryExecutionListener

import graft.corpus.Corpus
import graft.index.{Deletes, Hashing, IndexBuilder, IndexConfig, PostingRow}
import graft.search.{BoolQuery, IndexHandle}

/** Plan shapes and Spark job budgets of the distributed search surfaces
  * (top-k, search_after, count, scan) on warm and cold handles, and the
  * known-schema reads of the suggest artifacts. */
class SearchPlanSpec extends SparkSuite {
  import spark.implicits._

  private val cfg = IndexConfig(numSegments = 4, blockSize = 16)
  private lazy val dir = {
    val d = Files.createTempDirectory("graft-plan").toString
    IndexBuilder.build(spark, Corpus.pages(spark, 300, seed = 7, vocabSize = 300,
      medianLen = 30).toDF(), d, cfg)
    d
  }

  /** Run `body`; return its result, the `hashpartitioning(segId` exchanges
    * of the plans it executed, and its jobs. */
  private def observed[T](body: => T): (T, Int, JobLog) = {
    val exchanges = new AtomicInteger()
    val walk = new AdaptiveSparkPlanHelper {}
    val listener = new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        exchanges.addAndGet(walk.collect(qe.executedPlan) {
          case e: ShuffleExchangeExec
              if e.outputPartitioning.toString.startsWith("hashpartitioning(segId") => e
        }.size)
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      val (r, jobs) = JobLog.of(spark)(body)
      org.apache.spark.ListenerDrain(spark.sparkContext)
      (r, exchanges.get, jobs)
    } finally spark.listenerManager.unregister(listener)
  }

  test("warm reads sort locally, cold reads repartition by segId once; job budgets") {
    val q = BoolQuery(should = Seq("the", "data"), mustNot = Seq("spark"))
    val k = 10
    val cursor = {
      val last = new IndexHandle(spark, dir, warm = false).search(q, k).last
      Some((last.score, last.docId))
    }
    // (warm?, call, job budget). Top-k adds one url fetch; a cold call
    // adds its dictionary probe, which also names the query's segments,
    // and the exchange's map stage
    val calls: Seq[(Boolean, String, Int, IndexHandle => Any)] = Seq(
      (true, "search", 2, _.search(q, k)),
      (true, "searchAfter", 2, _.searchAfter(q, k, cursor)),
      (true, "countMatches", 1, _.countMatches(q)),
      (true, "matchesDF", 1, _.matchesDF(q).collect()),
      (false, "search", 4, _.search(q, k)),
      (false, "searchAfter", 4, _.searchAfter(q, k, cursor)),
      (false, "countMatches", 3, _.countMatches(q)),
      (false, "matchesDF", 3, _.matchesDF(q).collect()))
    val seen = calls.map { case (warm, name, budget, call) =>
      // a fresh handle per call: no driver cache hides a job
      val h = new IndexHandle(spark, dir, warm = warm)
      val (_, segExchanges, jobs) = try observed(call(h)) finally h.close()
      val what = s"${if (warm) "warm" else "cold"} $name"
      info(s"$what: ${jobs.count} jobs, $segExchanges segId exchanges")
      (what, warm, segExchanges, budget, jobs)
    }
    seen.foreach { case (what, warm, segExchanges, budget, jobs) =>
      assert(segExchanges === (if (warm) 0 else 1), what)
      assert(jobs.count <= budget, s"$what jobs:\n$jobs")
    }
  }

  /** The segId sets of the posting reads `body` ran that fetch tombstone
    * rows: the distributed reader's and the served path's doc-length
    * fetch. The url resolver's and url fetches' reads fetch none. */
  private def segmentReads(body: => Any): Seq[Set[Int]] = {
    val sets = new java.util.concurrent.ConcurrentLinkedQueue[Set[Int]]()
    // the values a top-level conjunct admits for its column (the optimizer
    // turns a one-value IN into an equality)
    def values(e: Expression): Option[Set[Any]] = e match {
      case In(_: Attribute, list) if list.forall(_.isInstanceOf[Literal]) =>
        Some(list.map(_.asInstanceOf[Literal].value).toSet)
      case InSet(_: Attribute, hset) => Some(hset)
      case EqualTo(_: Attribute, l: Literal) => Some(Set(l.value))
      case _ => None
    }
    def conjuncts(e: Expression): Seq[Expression] = e match {
      case And(l, r) => conjuncts(l) ++ conjuncts(r)
      case other => Seq(other)
    }
    def named(e: Expression, n: String) = e.references.exists(_.name == n)
    val tombstones = org.apache.spark.unsafe.types.UTF8String.fromString(IndexBuilder.TermDels)
    val listener = new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        qe.optimizedPlan.foreach {
          case Filter(cond, _) =>
            val ins = conjuncts(cond).filter(values(_).isDefined)
            val readsDels = ins.exists(e => named(e, "term") && values(e).get.contains(tombstones))
            if (readsDels) ins.filter(named(_, "segId"))
              .foreach(e => sets.add(values(e).get.map(_.asInstanceOf[Int])))
          case _ =>
        }
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      body
      org.apache.spark.ListenerDrain(spark.sparkContext)
      sets.asScala.toSeq
    } finally spark.listenerManager.unregister(listener)
  }

  test("served and distributed paths read the same compiled segments") {
    val rows = IndexBuilder.readPostings(spark,
        graft.index.Snapshot.latest(dir).get.dataDirs.map(d => s"$dir/$d"))
      .as[PostingRow].filter(_.term > IndexBuilder.TermDels)
      .map(r => (r.term, r.segId)).collect()
    val segsOf: Map[String, Set[Int]] =
      rows.groupBy(_._1).map { case (t, rs) => t -> rs.map(_._2).toSet }
    val all = (0 until cfg.numSegments).toSet
    val partial = segsOf.toSeq.sortBy(_._1).filter(e => e._2.size == 2)
    // two terms, each in two of the four segments, overlapping in one
    val (a, b) = partial.combinations(2).map { case Seq(x, y) => (x, y) }
      .find { case (x, y) => (x._2 & y._2).size == 1 }.get
    // two single-segment terms in different segments
    val singles = segsOf.toSeq.sortBy(_._1).filter(_._2.size == 1)
    val (s1, s2) = (singles.head, singles.find(_._2 != singles.head._2).get)
    val urls = Corpus.pages(spark, 300, seed = 7, vocabSize = 300, medianLen = 30)
      .select("url").as[String].collect().toSeq
    def segOf(u: String) = Hashing.segmentOf(u, cfg.numSegments)
    // one url in each of three segments, and a term in only one of them
    val ids = urls.groupBy(segOf).toSeq.sortBy(_._1).take(3).map(_._2.head)
    val idSegs = ids.map(segOf).toSet
    val narrow = segsOf.toSeq.sortBy(_._1).find(e => (e._2 & idSegs).size == 1).get
    val cases: Seq[(String, BoolQuery, Set[Int])] = Seq(
      ("must-only", BoolQuery(must = Seq(a._1, b._1)), a._2 & b._2),
      ("should-only", BoolQuery(should = Seq(s1._1, s2._1)), s1._2 ++ s2._2),
      ("ids+mustNot", BoolQuery(ids = Some(ids), mustNot = Seq(a._1)), idSegs),
      ("ids+must", BoolQuery(ids = Some(ids), must = Seq(narrow._1)), narrow._2 & idSegs))
    cases.foreach { case (what, q, expected) =>
      assert(expected.nonEmpty && expected != all, s"$what prunes nothing: $expected")
      Seq(false, true).foreach { warm =>
        def fresh = new IndexHandle(spark, dir, warm = warm)
        val hd = fresh
        val hs = fresh
        try {
          var dist: Seq[Long] = Nil
          var served: Seq[Long] = Nil
          val distReads = segmentReads { dist = hd.search(q, 10).map(_.docId).toSeq }
          val servedReads = segmentReads { served = hs.servedSearch(q, 10).map(_.docId).toSeq }
          assert(distReads === Seq(expected), s"$what distributed (warm=$warm)")
          assert(servedReads === Seq(expected), s"$what served (warm=$warm)")
          assert(served === dist, s"$what hits (warm=$warm)")
        } finally { hd.close(); hs.close() }
      }
    }
  }

  test("suggest, doc-suggest and the doc-suggest merge run no schema inference") {
    val d = Files.createTempDirectory("graft-plan-sug").toString
    val pages = Seq(
      ("https://s.org/a", "alphabet soup"),
      ("https://s.org/b", "alpine lake"),
      ("https://s.org/c", "beta release"))
    IndexBuilder.build(spark, pages.toDF("url", "text"), d,
      IndexConfig(numSegments = 2, blockSize = 16, suggest = true,
        docSuggestFields = Seq("text")))
    // a tombstone gives the merge work to do
    Deletes.delete(spark, d, Seq("https://s.org/c"))
    val h = new IndexHandle(spark, d, warm = false)
    val (terms, sug) = JobLog.of(spark)(h.suggest("alph", 5))
    val (hits, docSug) = JobLog.of(spark)(h.suggestDocs("alph", 5))
    val (_, merge) = JobLog.of(spark)(IndexBuilder.compact(spark, d))
    assert(terms.map(_._1).toSet === Set("alphabet"))
    assert(hits.map(_._1).toSeq === Seq("https://s.org/a"))
    assert(sug.schemaInference.isEmpty, s"suggest jobs:\n$sug")
    assert(docSug.schemaInference.isEmpty, s"doc-suggest jobs:\n$docSug")
    assert(merge.schemaInference.isEmpty, s"merge jobs:\n$merge")
    // the merged artifact still serves, and with the dead document gone
    assert(new IndexHandle(spark, d, warm = false).suggestDocs("rele", 5).isEmpty)
  }
}
