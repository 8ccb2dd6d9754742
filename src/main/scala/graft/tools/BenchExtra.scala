package graft.tools

import java.nio.file.{Files, Paths}

import scala.util.control.NonFatal

/** Round-6 optimization harness (guide §1): per-query timing with REPEATS
  * and plan capture, WITHOUT touching the frozen `graft.Bench` contract.
  *
  *  - methodology mirrors Bench's sweep exactly (same `.count()` action,
  *    same memoized index prewarm, same session shape) so numbers here are
  *    directly comparable to BENCH_r*.json per-query seconds;
  *  - each query is additionally run `GRAFT_EXTRA_REPS` times (default 3)
  *    and the per-query MIN and MEDIAN are reported — on this shared VM the
  *    min is the least-contaminated estimate of the code's cost;
  *  - `GRAFT_EXTRA_PLANS=/path` dumps `.explain("formatted")` per query
  *    (the `plans/r06/` evidence files);
  *  - `GRAFT_EXTRA_ONLY=q11,q29` restricts the sweep while iterating.
  *
  * A failed prewarm, query or explain ends the run with a non-zero exit and
  * an error naming the query: a total that silently leaves a query out
  * compares nothing.
  *
  * Emits one JSON line: {"metric":"extra", "queries":{...}, "queries_med":{...}}.
  */
object BenchExtra {
  def main(args: Array[String]): Unit = {
    java.util.Locale.setDefault(java.util.Locale.ROOT)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val reps = sys.env.getOrElse("GRAFT_EXTRA_REPS", "3").toInt
    val plansDir = sys.env.get("GRAFT_EXTRA_PLANS")
    val only = sys.env.get("GRAFT_EXTRA_ONLY").map(_.split(",").toSet)
    val suffix = sys.env.getOrElse("GRAFT_EXTRA_SUFFIX", "")
    val base = s"${BenchHarness.tmpfsRoot}/graft-bench-extra"
    Files.createDirectories(Paths.get(base))
    val spark = BenchHarness.session("graft-bench-extra", cpus, s"$base/spark-local")
    spark.sparkContext.setLogLevel("WARN")
    try {
      val names = graft.SparkEntry.queries.keys.toSeq.sorted
        .filter(n => only.forall(_.exists(n.startsWith)))
      // same prewarm set as Bench: index-backed queries build/memoize first
      val indexBacked = Seq("q21_bm25_topk", "q31_suggest", "q32_bool_query",
        "q33_ids_filter", "q39_delete_search", "q40_purge_search",
        "q41_upsert_search", "q49_fetch_source", "q51_field_search",
        "q57_scan_midsize")
      // run one step of query `name`, rethrowing its failure with the name
      def step[T](what: String, name: String)(body: => T): T =
        try body catch { case NonFatal(e) =>
          throw new IllegalStateException(s"$name $what failed", e) }
      def countSec(what: String, name: String): Double = step(what, name) {
        val fn = graft.SparkEntry.queries(name)
        BenchHarness.timed(fn(spark, sfDir).count())._2
      }
      spark.sparkContext.setJobDescription("prewarm")
      countSec("prewarm", "q01_pricing_summary")
      val prewarm = indexBacked.filter(n => only.forall(_.exists(n.startsWith)))
        .map(name => name -> countSec("prewarm", name))
      plansDir.foreach { pd =>
        Files.createDirectories(Paths.get(pd))
        names.foreach { name =>
          step("explain", name) {
            val df = graft.SparkEntry.queries(name)(spark, sfDir)
            Files.write(Paths.get(pd, s"$name$suffix.txt"),
              df.queryExecution.explainString(
                org.apache.spark.sql.execution.FormattedMode)
                .getBytes("UTF-8"))
          }
        }
      }
      val samples = (1 to reps).map { r =>
        names.map { name =>
          spark.sparkContext.setJobDescription(s"$name rep$r")
          name -> countSec("query", name)
        }.toMap
      }
      def fmt(m: Map[String, Double]): String =
        names.map(n => "\"" + n + f"\":${m(n)}%.3f").mkString("{", ",", "}")
      val mins = names.map(n => n -> samples.map(_(n)).min).toMap
      val meds = names.map(n => n -> BenchHarness.median(samples.map(_(n)))).toMap
      val pw = prewarm.map { case (k, v) => "\"" + k + f"\":$v%.3f" }
        .mkString("{", ",", "}")
      println(s"""{"metric":"extra","reps":$reps,"prewarm":$pw,"queries_min":${fmt(mins)},"queries_med":${fmt(meds)},"total_min":${"%.3f".format(mins.values.sum)}}""")
    } finally {
      spark.stop()
      BenchHarness.deleteDir(base)
    }
  }
}
