package perfbench

/** Metric names and units, and the per-layer figures derived from spans.
  * `BENCHMARK.json` lists the same names (LayersSpec keeps them equal). */
object Layers {

  /** End-to-end metrics, measured untraced on every workload. What an
    * "operation" and an "item" are differs per workload (README). */
  val endToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s",
    "op_mean_ms" -> "ms",
    "items_per_s" -> "1/s",
    "bytes_per_item" -> "B")

  /** The 42 SparkEntry queries that build no index, by family. */
  val families: Seq[(String, Seq[Int])] = Seq(
    "relational" -> (Seq(1, 2, 3, 4, 5, 6, 7, 8, 9, 20, 23, 24, 25, 28, 34, 37)),
    "simjoin" -> Seq(10, 11, 15, 16, 17, 22, 29, 42, 48, 50),
    "text" -> Seq(12, 13, 14, 18, 19, 27, 35, 36, 38),
    "ontology" -> Seq(30, 45, 46, 47),
    "media" -> Seq(26, 43, 44))

  def familyOf(query: String): String = {
    val n = query.drop(1).takeWhile(_.isDigit).toInt
    families.collectFirst { case (f, ns) if ns.contains(n) => f }
      .getOrElse(sys.error(s"$query is not an etl query"))
  }

  /** The etl queries: every SparkEntry query that belongs to a family. */
  lazy val etlQueries: Seq[String] = graft.SparkEntry.queries.keys.toSeq.sorted
    .filter { q =>
      val n = q.drop(1).takeWhile(_.isDigit).toInt
      families.exists(_._2.contains(n))
    }

  /** Queries that must not run beside another: `Ontology.closure` frees
    * every RDD persisted while it checkpoints, whoever persisted it. */
  val runAlone: Set[String] = Set("q46_owl_ancestors", "q47_owl_dag_paths")

  private val served = Seq("text", "bool", "page")
  private val dist = Seq("text", "bool", "page", "count")

  val perLayer: Seq[(String, String)] =
    Seq("analysis.tokens_per_s" -> "tokens/s") ++
    Seq("index.build_s" -> "s", "index.build_jobs" -> "count",
      "index.build_stages" -> "count", "index.build_tasks" -> "count",
      "index.build_task_cpu_s" -> "s", "index.build_task_gc_s" -> "s",
      "index.build_outside_tasks_s" -> "s", "index.build_shuffle_bytes" -> "B",
      "index.build_spill_bytes" -> "B",
      "index.postings_bytes" -> "B", "index.termdict_bytes" -> "B",
      "corpus.prepare_ms" -> "ms",
      "index.upsert_ms" -> "ms", "index.upsert_jobs" -> "count",
      "index.delete_ms" -> "ms", "index.delete_jobs" -> "count",
      "search.open_ms" -> "ms", "search.open_jobs" -> "count",
      "index.purge_ms" -> "ms", "index.purge_jobs" -> "count",
      "index.compact_ms" -> "ms", "index.compact_jobs" -> "count",
      "index.vacuum_ms" -> "ms", "index.commit_bytes_written" -> "B") ++
    served.map(k => s"search.served_${k}_p50_ms" -> "ms") ++
    Seq("search.served_spark_jobs" -> "count",
      "search.served_gc_ms" -> "ms") ++
    dist.map(k => s"search.dist_${k}_p50_ms" -> "ms") ++
    Seq("search.fetch_source_p50_ms" -> "ms",
      "search.dist_jobs_per_query" -> "count",
      "search.dist_tasks_per_query" -> "count",
      "search.dist_outside_tasks_ms" -> "ms") ++
    etlQueries.map(q => s"ops.$q.wall_s" -> "s") ++
    families.flatMap { case (f, _) => Seq(
      s"ops.$f.wall_s" -> "s", s"ops.$f.jobs" -> "count",
      s"ops.$f.tasks" -> "count", s"ops.$f.shuffle_bytes" -> "B",
      s"ops.$f.outside_tasks_s" -> "s") } ++
    Seq("host.canary_cpu_pre" -> "M/s", "host.canary_membw_pre" -> "GB/s",
      "host.canary_cpu_post" -> "M/s", "host.canary_membw_post" -> "GB/s",
      "trace.op_mean_ms" -> "ms", "trace.spans" -> "count")

  /** A per-layer metric of a layer the workload never calls reads 0: no
    * time, no jobs, no bytes spent there. An end-to-end metric is never
    * absent; a missing one is reported as null and fails the run. */
  def absent(name: String): Double =
    if (endToEnd.exists(_._1 == name)) Double.NaN else 0.0

  private def med(xs: Seq[Double]): Option[Double] =
    if (xs.isEmpty) None else Some(Stats.median(xs))

  /** Per-layer figures every workload derives the same way from its spans:
    * per call medians of each span name's duration and counters. */
  def fillCommon(run: Run, spans: Seq[Span]): Unit = {
    val byName = spans.groupBy(_.name)
    def of(name: String): Seq[Span] = byName.getOrElse(name, Nil)
    def putMed(metric: String, name: String, unit: String)(f: Span => Double): Unit =
      med(of(name).map(f)).foreach(run.put(metric, _, unit))

    putMed("index.build_s", "index.build", "s")(_.wallMs / 1e3)
    putMed("index.build_jobs", "index.build", "count")(_.jobs.toDouble)
    putMed("index.build_stages", "index.build", "count")(_.stages.toDouble)
    putMed("index.build_tasks", "index.build", "count")(_.tasks.toDouble)
    putMed("index.build_task_cpu_s", "index.build", "s")(_.taskCpuNs / 1e9)
    putMed("index.build_task_gc_s", "index.build", "s")(_.gcMs / 1e3)
    putMed("index.build_outside_tasks_s", "index.build", "s")(_.outsideTasksMs / 1e3)
    putMed("index.build_shuffle_bytes", "index.build", "B")(_.shuffleBytes.toDouble)
    putMed("index.build_spill_bytes", "index.build", "B")(_.spillBytes.toDouble)

    Seq("corpus.prepare", "index.upsert", "index.delete", "search.open",
        "index.purge", "index.compact", "index.vacuum").foreach { n =>
      putMed(s"${n}_ms", n, "ms")(_.wallMs)
      if (n != "corpus.prepare" && n != "index.vacuum")
        putMed(s"${n}_jobs", n, "count")(_.jobs.toDouble)
    }
    val batches = of("index.upsert").size
    if (batches > 0)
      run.put("index.commit_bytes_written",
        Seq("index.upsert", "index.delete", "index.purge", "index.compact")
          .flatMap(of).map(_.writtenBytes).sum.toDouble / batches, "B")

    val servedSpans = served.flatMap(k => of(s"search.served.$k"))
    served.foreach(k =>
      putMed(s"search.served_${k}_p50_ms", s"search.served.$k", "ms")(_.wallMs))
    if (servedSpans.nonEmpty)
      run.put("search.served_spark_jobs",
        servedSpans.map(_.jobs).sum.toDouble / servedSpans.size, "count")

    dist.foreach(k =>
      putMed(s"search.dist_${k}_p50_ms", s"search.dist.$k", "ms")(_.wallMs))
    putMed("search.fetch_source_p50_ms", "search.fetch_source", "ms")(_.wallMs)
    val distSpans = dist.flatMap(k => of(s"search.dist.$k"))
    med(distSpans.map(_.jobs.toDouble)).foreach(run.put("search.dist_jobs_per_query", _, "count"))
    med(distSpans.map(_.tasks.toDouble)).foreach(run.put("search.dist_tasks_per_query", _, "count"))
    med(distSpans.map(_.outsideTasksMs)).foreach(run.put("search.dist_outside_tasks_ms", _, "ms"))

    etlQueries.foreach(q => putMed(s"ops.$q.wall_s", s"ops.$q", "s")(_.wallMs / 1e3))
    val sweeps = etlQueries.map(q => of(s"ops.$q").size).maxOption.getOrElse(0)
    if (sweeps > 0) families.foreach { case (f, _) =>
      val fs = etlQueries.filter(familyOf(_) == f).flatMap(q => of(s"ops.$q"))
      def perSweep(g: Span => Double): Double = fs.map(g).sum / sweeps
      run.put(s"ops.$f.wall_s", perSweep(_.wallMs / 1e3), "s")
      run.put(s"ops.$f.jobs", perSweep(_.jobs.toDouble), "count")
      run.put(s"ops.$f.tasks", perSweep(_.tasks.toDouble), "count")
      run.put(s"ops.$f.shuffle_bytes", perSweep(_.shuffleBytes.toDouble), "B")
      run.put(s"ops.$f.outside_tasks_s", perSweep(_.outsideTasksMs / 1e3), "s")
    }
    run.put("trace.spans", spans.size.toDouble, "count")
  }
}
