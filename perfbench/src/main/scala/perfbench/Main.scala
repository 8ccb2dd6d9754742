package perfbench

import java.nio.file.{Files, Paths}

import graft.tools.BenchHarness

/** One benchmark run in its own JVM:
  * `perfbench.Main <workload> <seed> <seconds> <trace 0|1> <work dir>
  *  <result json> <span json> <etl table dir> <etl warm-up table dir>`.
  * Writes the result JSON; `perfbench/run.py` prints it. */
object Main {
  val workloads = Seq("build", "serve", "update", "etl")

  /** Bytes the work directory may hold when a workload ends. */
  val WorkBudget: Long = 2L << 30

  def main(argv: Array[String]): Unit = {
    java.util.Locale.setDefault(java.util.Locale.ROOT)
    val a = argv match {
      case Array(w, seed, secs, tr, work, out, spans, sf, warm) if workloads.contains(w) =>
        Args(w, seed.toLong, secs.toInt, tr == "1", work, out, spans, sf, warm)
      case _ =>
        System.err.println(s"usage: perfbench.Main <${workloads.mkString("|")}> " +
          "<seed> <seconds> <trace 0|1> <work dir> <result json> <span json> " +
          "<table dir> <warm-up table dir>")
        sys.exit(2)
    }
    Files.createDirectories(Paths.get(a.work))
    val cpus = Runtime.getRuntime.availableProcessors()
    val canaryPre = if (a.trace) Some(BenchHarness.canary()) else None
    val spark = BenchHarness.session(s"perfbench-${a.workload}", cpus,
      s"${a.work}/spark-local")
    spark.sparkContext.setLogLevel("WARN")
    val tracer = if (a.trace) Tracer.install(spark) else Tracer.off(spark)
    val run = new Run(spark, a, cpus, tracer)
    try {
      a.workload match {
        case "build" => BuildWorkload(run)
        case "serve" => ServeWorkload(run)
        case "update" => UpdateWorkload(run)
        case "etl" => EtlWorkload(run)
      }
      if (a.trace) {
        val spans = tracer.spans
        Layers.fillCommon(run, spans)
        val (cpuPost, memPost) = BenchHarness.canary()
        run.put("host.canary_cpu_pre", canaryPre.get._1, "M/s")
        run.put("host.canary_membw_pre", canaryPre.get._2, "GB/s")
        run.put("host.canary_cpu_post", cpuPost, "M/s")
        run.put("host.canary_membw_post", memPost, "GB/s")
        tracer.writeJson(a.spans)
      }
      val used = Run.bytesUnder(a.work)
      run.check(if (used <= WorkBudget) None
        else Some(s"work directory holds $used bytes, budget $WorkBudget"))
      Files.writeString(Paths.get(a.out), resultJson(run))
    } finally {
      run.log("stopping")
      spark.stop()
      run.log("stopped")
    }
  }

  def resultJson(run: Run): String = {
    import scala.jdk.CollectionConverters._
    val wanted = if (run.trace) Layers.perLayer else Layers.endToEnd
    val ms = wanted.map { case (name, unit) =>
      val v = run.metrics.get(name).map(_._1).getOrElse(Layers.absent(name))
      s"${Json.str(name)}:{\"value\":${fmt(v)},\"unit\":${Json.str(unit)}}"
    }
    val problems = run.problems.asScala.map(Json.str).mkString("[", ",", "]")
    s"""{"correct":${run.problems.isEmpty},"attempted":${run.attempted.get},""" +
      s""""failed":${run.failed.get},"problems":$problems,""" +
      s""""metrics":${ms.mkString("{", ",", "}")}}""" + "\n"
  }

  /** All measured digits; JSON has no NaN or infinity. */
  def fmt(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.lang.Double.toString(v)
}

/** The one JSON string escaper of the benchmark. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
