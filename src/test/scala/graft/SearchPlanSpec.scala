package graft

import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.util.QueryExecutionListener

import graft.corpus.Corpus
import graft.index.{Deletes, IndexBuilder, IndexConfig}
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
    // (warm?, call, job budget): the counts measured when each surface
    // moved onto the per-segment reader. Top-k adds one url fetch; a cold
    // call adds its dictionary probe, the candidate pre-scan and the
    // exchange's map stage; matchesDF pre-scans on either handle
    val calls: Seq[(Boolean, String, Int, IndexHandle => Any)] = Seq(
      (true, "search", 2, _.search(q, k)),
      (true, "searchAfter", 2, _.searchAfter(q, k, cursor)),
      (true, "countMatches", 1, _.countMatches(q)),
      (true, "matchesDF", 2, _.matchesDF(q).collect()),
      (false, "search", 5, _.search(q, k)),
      (false, "searchAfter", 5, _.searchAfter(q, k, cursor)),
      (false, "countMatches", 4, _.countMatches(q)),
      (false, "matchesDF", 4, _.matchesDF(q).collect()))
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
