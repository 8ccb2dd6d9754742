package perfbench

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** Command-line arguments of one benchmark run. */
final case class Args(
    workload: String,
    seed: Long,
    seconds: Int,
    trace: Boolean,
    work: String, // scratch directory, deleted by the caller
    out: String, // result JSON
    spans: String, // span JSON, written in traced runs
    sfDir: String, // input tables of the etl workload
    warmDir: String) // the same tables, smaller, for the etl warm-up

/** State of one run: the session, the tracer, operation counts, failed
  * checks and the metrics reported at the end. */
final class Run(val spark: SparkSession, val args: Args, val cpus: Int,
    val tracer: Tracer) {
  val attempted = new AtomicLong
  val failed = new AtomicLong
  val problems = new java.util.concurrent.ConcurrentLinkedQueue[String]()
  val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]

  private val born = System.nanoTime()

  /** A progress line on stderr, stamped with seconds since the run began. */
  def log(msg: String): Unit =
    System.err.println(f"[perfbench] ${(System.nanoTime() - born) / 1e9}%7.2f s  $msg")

  def trace: Boolean = args.trace
  def seconds: Double = args.seconds.toDouble
  def dir(name: String): String = s"${args.work}/$name"

  /** One measured operation: a throw counts as a failed operation and the
    * run goes on. */
  def attempt[T](what: String)(body: => T): Option[T] = {
    attempted.incrementAndGet()
    try Some(body)
    catch {
      case NonFatal(e) =>
        failed.incrementAndGet()
        System.err.println(s"[perfbench] $what failed: $e")
        None
    }
  }

  def check(result: Option[String]): Unit = result.foreach { p =>
    if (problems.size < 50) problems.add(p)
    System.err.println(s"[perfbench] check failed: $p")
  }

  def span[T](name: String)(body: => T): T = tracer.span(name)(body)

  /** End-to-end metrics are kept in traced runs too, where only the
    * mean operation time is reported (as `trace.op_mean_ms`): against the
    * untraced runs' figure it gives the tracing overhead. */
  def put(name: String, value: Double, unit: String): Unit = synchronized {
    metrics(name) = (value, unit)
    if (name == "op_mean_ms") metrics("trace.op_mean_ms") = (value, unit)
  }
}

object Run {
  def timed[T](body: => T): (T, Double) = graft.tools.BenchHarness.timed(body)

  def bytesUnder(dir: String): Long = {
    val p = Paths.get(dir)
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.filter(Files.isRegularFile(_)).mapToLong((f: Path) => Files.size(f)).sum()
      finally s.close()
    }
  }

  def delete(dir: String): Unit = graft.tools.BenchHarness.deleteDir(dir)
}
