package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer

import graft.SparkEntry

/** The 42 `SparkEntry.queries` that build no index, each result written in
  * full to a parquet sink. One untimed warm-up sweep, then whole timed
  * sweeps in a seeded order. Operation: one sweep, the pipeline run a user
  * waits for. Item: one query. The written
  * files are checked against DuckDB by `perfbench/run.py`. */
object EtlWorkload {

  def apply(run: Run): Unit = {
    val spark = run.spark
    val sf = run.args.sfDir
    val queries = Layers.etlQueries
    run.check(if (queries.size == 42) None
      else Some(s"etl: ${queries.size} queries, expected 42"))
    queries.filterNot(SparkEntry.oracleSql.contains).foreach(q =>
      run.check(Some(s"etl: $q has no oracle SQL")))

    def write(q: String, tables: String, dir: String): Unit =
      SparkEntry.queries(q)(spark, tables).write.mode("overwrite").parquet(dir)

    // set-up: the warm-up sweep. It reads the smaller copy of the tables:
    // the plans and code paths are the same, and it is the first use of
    // each, not the rows, that costs. The queries run over `cpus` threads,
    // except q46 and q47, which run alone afterwards, as in the timed
    // sweeps: their closures free every RDD persisted while they
    // checkpoint, a concurrent query's blocks too (FOUND in CHANGES.md).
    // A warm-up query that throws is a failed operation like any other.
    val warm = run.dir("warm")
    val warmTables = run.args.warmDir
    def warmUp(q: String): Unit =
      run.attempt(s"warm-up $q")(write(q, warmTables, s"$warm/$q"))
    val (alone, beside) = queries.partition(Layers.runAlone.contains)
    val (_, setupS) = Run.timed {
      Common.parallel(run.cpus, beside)(warmUp)
      alone.foreach(warmUp)
    }
    Run.delete(warm)
    run.log("warm-up sweep done")
    run.put("setup_s", setupS, "s")

    val out = run.dir("etl-out")
    val times = ArrayBuffer.empty[Double]
    val sweepTimes = ArrayBuffer.empty[Double]
    var sweeps = 0
    val rng = new scala.util.Random(run.args.seed)
    while (sweeps == 0 || times.sum < run.seconds) {
      val t0 = times.sum
      rng.shuffle(queries).foreach { q =>
        val dir = s"$out/$q"
        val (ok, s) = Run.timed(run.attempt(q)(run.span(s"ops.$q")(write(q, sf, dir))))
        if (ok.isEmpty) Run.delete(dir)
        times += s
      }
      sweepTimes += times.sum - t0
      sweeps += 1
      run.log(f"sweep $sweeps: ${times.sum - t0}%.2f s")
    }
    run.put("op_mean_ms", Stats.mean(sweepTimes.toSeq) * 1e3, "ms")
    run.put("items_per_s", times.size / times.sum, "1/s")

    val bytes = queries.map(q => Paths.get(s"$out/$q")).filter(Files.isDirectory(_))
      .map { d =>
        val s = Files.list(d)
        try s.filter(_.toString.endsWith(".parquet")).mapToLong(Files.size(_)).sum()
        finally s.close()
      }.sum
    run.put("bytes_per_item", bytes.toDouble / queries.size, "B")
    Files.writeString(Paths.get(s"$out/oracle_sql.json"), oracleJson(queries))
  }

  /** The oracle SQL of the given queries, in the form the DuckDB compare
    * reads. */
  def oracleJson(queries: Seq[String]): String =
    queries.filter(SparkEntry.oracleSql.contains)
      .map(k => s"${Json.str(k)}: ${Json.str(SparkEntry.oracleSql(k))}")
      .mkString("{", ",", "}")
}
