package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import graft.index.IndexBuilder
import graft.search.{BoolQuery, IndexHandle}

/** A closed loop of `cpus` clients on one warm `IndexHandle`, each sending
  * its next query of the seeded mix when the previous one returns.
  * Operation: one query. Item: one query. */
object ServeWorkload {

  final class Served(val handle: IndexHandle, val dir: String, val corpus: String,
      val cursors: Map[Q, Option[(Double, Long)]])

  /** Stage, build, open and warm: the set-up a serving process pays once. */
  def setUp(run: Run, mix: IndexedSeq[Q]): Served = {
    val spark = run.spark
    val corpus = run.dir("corpus")
    val dir = run.dir("idx")
    Common.stage(run, Sizes.serveDocs, corpus)
    run.span("index.build") {
      IndexBuilder.build(spark, spark.read.parquet(corpus), dir, Sizes.serveCfg)
    }
    val h = run.span("search.open")(new IndexHandle(spark, dir))
    // one query over every term of the mix fills the posting and
    // doc-length caches in one fetch; each query then runs once
    h.servedSearch(BoolQuery(should = mix.flatMap { q =>
      q.query.must ++ q.query.should ++ q.query.filter ++ q.query.mustNot
    }.distinct), Sizes.k)
    val cursors = mix.map { q =>
      q -> (if (q.kind == "page") Common.cursorOf(h.servedSearch(q.query, Sizes.k))
            else None)
    }.toMap
    mix.foreach(q => Common.served(h, q, cursors(q)))
    new Served(h, dir, corpus, cursors)
  }

  def apply(run: Run): Unit = {
    val mix = Gen.queryMix(run.args.seed, Sizes.serveMix)
    val (sv, setupS) = Run.timed(setUp(run, mix))
    run.put("setup_s", setupS, "s")
    run.log("set up")
    val h = sv.handle

    val gcBefore = gcMillis()
    val lat = Array.fill(run.cpus)(ArrayBuffer.empty[Double])
    val deadline = System.nanoTime() + (run.seconds * 1e9).toLong
    val t0 = System.nanoTime()
    val clients = (0 until run.cpus).map { c =>
      new Thread(() => {
        val stream = Gen.clientStream(run.args.seed, c, mix.size)
        while (System.nanoTime() < deadline) {
          val q = mix(stream.next())
          val s0 = System.nanoTime()
          run.attempt("served query") {
            run.span(s"search.served.${q.kind}")(Common.served(h, q, sv.cursors(q)))
          }
          lat(c) += (System.nanoTime() - s0) / 1e9
        }
      }, s"perfbench-client-$c")
    }
    clients.foreach(_.start())
    clients.foreach(_.join())
    val wall = (System.nanoTime() - t0) / 1e9
    val all = lat.flatMap(_.toSeq).toSeq
    run.log(f"${all.size} queries served; p50 ${Stats.median(all) * 1e3}%.3f ms; p99 " +
      Stats.percentile(all, 99)
      .map(s => f"${s * 1e3}%.3f ms").getOrElse("not reportable: fewer than 1000 samples"))
    run.put("op_mean_ms", Stats.mean(all) * 1e3, "ms")
    run.put("items_per_s", all.size / wall, "1/s")
    if (run.trace) run.put("search.served_gc_ms", (gcMillis() - gcBefore).toDouble, "ms")

    val (_, _, total) = Common.indexBytes(sv.dir)
    run.put("bytes_per_item", total.toDouble / Sizes.serveDocs, "B")
    if (run.trace) {
      Common.putIndexBytes(run, sv.dir)
      Common.tokensPerSecond(run, Common.collectDocs(run, sv.corpus).take(2000))
    }
    Common.checkHandle(run, "serve", h, Common.collectDocs(run, sv.corpus),
      Sizes.serveCfg.numSegments, mix)
    h.close()
    run.log("checked")
  }

  private def gcMillis(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum
}
