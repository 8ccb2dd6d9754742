package graft

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** The Spark jobs one call submitted: each job's stage names, and whether
  * it ran inside a SQL execution. */
final case class JobLog(jobs: Seq[(Seq[String], Boolean)]) {
  def count: Int = jobs.size

  /** Parquet footer-inference jobs: a `spark.read.parquet` without a
    * schema runs one at read time, outside any SQL execution, as a job
    * whose only stage is named after the `parquet` call site. */
  def schemaInference: Seq[String] = jobs.collect {
    case (Seq(stage), false) if stage.startsWith("parquet at ") => stage
  }

  override def toString: String = jobs.map { case (stages, sql) =>
    stages.mkString(if (sql) "sql[" else "rdd[", ", ", "]")
  }.mkString("\n")
}

object JobLog {
  private val Tag = "graft.spec.jobTag"

  /** Run `body` and log the jobs it submits from this thread (and from
    * the threads Spark hands its local properties to, e.g. broadcasts). */
  def of[T](spark: SparkSession)(body: => T): (T, JobLog) = {
    val sc = spark.sparkContext
    val tag = java.util.UUID.randomUUID().toString
    val seen = new ConcurrentLinkedQueue[(Int, Seq[String], Boolean)]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val p = e.properties
        if (p != null && p.getProperty(Tag) == tag)
          seen.add((e.jobId, e.stageInfos.sortBy(_.stageId).map(_.name),
            p.getProperty("spark.sql.execution.id") != null))
      }
    }
    org.apache.spark.ListenerDrain(sc)
    sc.addSparkListener(listener)
    val prev = sc.getLocalProperty(Tag)
    sc.setLocalProperty(Tag, tag)
    try {
      val r = body
      org.apache.spark.ListenerDrain(sc)
      (r, JobLog(seen.asScala.toSeq.sortBy(_._1).map(j => (j._2, j._3))))
    } finally {
      sc.setLocalProperty(Tag, prev)
      sc.removeSparkListener(listener)
    }
  }
}
