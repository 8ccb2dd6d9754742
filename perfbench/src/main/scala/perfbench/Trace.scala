package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** One traced call into a layer. Spark work started on the calling thread
  * while the span is innermost is attributed to it by [[SpanListener]]. */
final class Span(val id: Long, val name: String, val parent: Long,
    val startMs: Long, val startNs: Long) {
  var endMs = 0L
  var endNs = 0L
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var taskCpuNs = 0L
  var gcMs = 0L
  var shuffleBytes = 0L // read + written
  var spillBytes = 0L // memory + disk
  var writtenBytes = 0L
  val taskIntervals = ArrayBuffer.empty[(Long, Long)] // epoch ms

  def wallMs: Double = (endNs - startNs) / 1e6
  def outsideTasksMs: Double =
    synchronized(Stats.outside(startMs, endMs, taskIntervals.toSeq)).toDouble

  def json: String = synchronized {
    f"""{"id":$id,"name":"$name","parent":$parent,"start_ms":$startMs,"end_ms":$endMs,""" +
      f""""wall_ms":$wallMs%.3f,"jobs":$jobs,"stages":$stages,"tasks":$tasks,""" +
      f""""task_cpu_s":${taskCpuNs / 1e9}%.6f,"task_gc_s":${gcMs / 1e3}%.3f,""" +
      f""""shuffle_bytes":$shuffleBytes,"spill_bytes":$spillBytes,""" +
      f""""written_bytes":$writtenBytes,"outside_tasks_ms":$outsideTasksMs%.1f}"""
  }
}

/** Spans held in memory for one run. Only [[Tracer.install]] makes an
  * enabled tracer; [[Tracer.off]] runs each body untouched. */
final class Tracer private (spark: SparkSession, val enabled: Boolean) {
  private val ids = new AtomicLong(0)
  private val all = new ConcurrentLinkedQueue[Span]()
  private val byId = new ConcurrentHashMap[Long, Span]()
  private val current = new ThreadLocal[Span]

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val sc = spark.sparkContext
      val parent = current.get()
      val s = new Span(ids.incrementAndGet(), name,
        if (parent == null) 0L else parent.id,
        System.currentTimeMillis(), System.nanoTime())
      byId.put(s.id, s)
      current.set(s)
      sc.setLocalProperty(Tracer.Key, s.id.toString)
      try body
      finally {
        s.endNs = System.nanoTime()
        s.endMs = System.currentTimeMillis()
        all.add(s)
        current.set(parent)
        sc.setLocalProperty(Tracer.Key,
          if (parent == null) null else parent.id.toString)
      }
    }

  private[perfbench] def lookup(id: String): Span =
    if (id == null) null else byId.get(id.toLong)

  /** Every finished span, after the listener bus has drained. */
  def spans: Seq[Span] = {
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    all.asScala.toSeq.sortBy(_.id)
  }

  def writeJson(path: String): Unit = {
    val body = spans.map(_.json).mkString("[\n", ",\n", "\n]\n")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path), body)
  }
}

object Tracer {
  val Key = "perfbench.span"

  def install(spark: SparkSession): Tracer = {
    val t = new Tracer(spark, enabled = true)
    spark.sparkContext.addSparkListener(new SpanListener(t))
    t
  }

  def off(spark: SparkSession): Tracer = new Tracer(spark, enabled = false)
}

/** Attributes jobs, stages and task metrics to the span that was innermost
  * on the thread that submitted the job. */
final class SpanListener(tracer: Tracer) extends SparkListener {
  private val stageSpan = new ConcurrentHashMap[Int, Span]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val s = tracer.lookup(
      Option(e.properties).map(_.getProperty(Tracer.Key)).orNull)
    if (s != null) {
      s.synchronized(s.jobs += 1)
      e.stageIds.foreach(stageSpan.put(_, s))
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val s = stageSpan.get(e.stageInfo.stageId)
    if (s != null) s.synchronized(s.stages += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val s = stageSpan.get(e.stageId)
    if (s != null) s.synchronized {
      s.tasks += 1
      s.taskIntervals += ((e.taskInfo.launchTime, e.taskInfo.finishTime))
      val m = e.taskMetrics
      if (m != null) {
        s.taskCpuNs += m.executorCpuTime
        s.gcMs += m.jvmGCTime
        s.shuffleBytes += m.shuffleReadMetrics.totalBytesRead +
          m.shuffleWriteMetrics.bytesWritten
        s.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        s.writtenBytes += m.outputMetrics.bytesWritten
      }
    }
  }
}
