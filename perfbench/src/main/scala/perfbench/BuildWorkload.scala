package perfbench

import scala.collection.mutable.ArrayBuffer

import graft.index.IndexBuilder
import graft.search.IndexHandle

/** Repeated `IndexBuilder.build` of one staged seeded corpus, each build
  * into a fresh directory. Operation: one build. Item: one document. */
object BuildWorkload {
  def apply(run: Run): Unit = {
    val spark = run.spark
    val docs = Sizes.buildDocs
    val cfg = Sizes.buildCfg

    val corpus = run.dir("corpus")
    run.put("setup_s", Run.timed(Common.stage(run, docs, corpus))._2, "s")
    run.log("set up")
    val docRows = Common.collectDocs(run, corpus)
    if (run.trace) Common.tokensPerSecond(run, docRows)

    // JIT and first-use costs, untimed
    IndexBuilder.build(spark, spark.read.parquet(corpus).limit(Sizes.warmDocs),
      run.dir("warm"), cfg)
    Run.delete(run.dir("warm"))

    run.log("warm-up build done")
    val times = ArrayBuffer.empty[Double]
    val sizes = ArrayBuffer.empty[Long]
    var last: String = null
    var i = 0
    while (times.isEmpty || times.sum < run.seconds) {
      val dir = run.dir(s"idx-$i")
      val (ok, s) = Run.timed(run.attempt("build") {
        run.span("index.build") {
          IndexBuilder.build(spark, spark.read.parquet(corpus), dir, cfg)
        }
      })
      times += s
      if (ok.isDefined) {
        sizes += Common.indexBytes(dir)._3
        if (last != null) Run.delete(last)
        last = dir
      }
      i += 1
    }
    run.log(s"${times.size} timed builds")
    run.put("op_mean_ms", Stats.mean(times.toSeq) * 1e3, "ms")
    run.put("items_per_s", docs * times.size / times.sum, "1/s")
    run.check(if (sizes.distinct.size <= 1) None
      else Some(s"build: index bytes differ between builds of one input: $sizes"))
    if (last != null) {
      run.put("bytes_per_item", sizes.last.toDouble / docs, "B")
      Common.putIndexBytes(run, last)
      val h = new IndexHandle(spark, last)
      try Common.checkHandle(run, "build", h, docRows, cfg.numSegments,
        Gen.queryMix(run.args.seed, 6))
      finally h.close()
      run.log("checked")
    }
  }
}
