package graft.tools

import java.nio.file.Files

import org.apache.spark.sql.SparkSession

import graft.corpus.Corpus
import graft.index.{IndexBuilder, IndexConfig, Snapshot}
import graft.search.{OracleSearch, Searcher}

/** End-to-end demo CLI: synthesize a seeded corpus, build the inverted
  * index, run BM25 top-k queries, and cross-check against the exhaustive
  * oracle. Usage: runMain graft.tools.Demo [nDocs] [query...] */
object Demo {
  def main(args: Array[String]): Unit = {
    val nDocs = args.headOption.map(_.toLong).getOrElse(2000L)
    val queries = if (args.length > 1) args.drop(1).toSeq
                  else Seq("the data", "merge sort join", "wi-fi")
    val spark = Sessions.withMaster(SparkSession.builder(), "local[8]")
      .appName("graft-demo")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    val dir = Files.createTempDirectory("graft-demo-idx").toString
    val pages = Corpus.pages(spark, nDocs, seed = 42).cache()
    println(s"[demo] corpus: $nDocs pages, building index under $dir")
    val t0 = System.nanoTime()
    val cfg = IndexConfig(numSegments = 8, blockSize = 64)
    val snap = IndexBuilder.build(spark, pages.toDF(), dir, cfg)
    val buildSec = (System.nanoTime() - t0) / 1e9
    println(f"[demo] built snapshot ${snap.id}: ${snap.numDocs} docs, " +
      f"${snap.segments.map(_.postings).sum} postings, $buildSec%.2f s " +
      f"(${snap.numDocs / buildSec}%.0f docs/s)")
    println(s"[demo] snapshot log: ${Snapshot.latest(dir).map(_.status)}")

    // compare on (url, score): urls are unique and the pair is
    // independent of segment layout
    val docs = pages.select("url", "text").as[(String, String)].collect().toSeq
    queries.foreach { q =>
      val hits = Searcher.topK(spark, dir, q, 5)
      val oracle = OracleSearch.topK(docs, q, 5, snap.numSegments)
      println(s"""[demo] query "$q" -> ${hits.length} hits""")
      hits.foreach(h => println(f"  #${h.rank} ${h.url}%-40s ${h.score}%.6f"))
      val ok = hits.map(h => (h.url, h.score)).toSeq ==
        oracle.map(h => (h.url, h.score)).toSeq
      println(s"[demo] oracle rank+score identical: $ok")
      if (!ok) sys.exit(1)
    }
    spark.stop()
    // success cleanup only: a failed run (sys.exit above) leaves the index
    // behind for inspection
    BenchHarness.deleteDir(dir)
    println("[demo] OK")
  }
}
