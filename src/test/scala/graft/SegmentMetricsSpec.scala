package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.corpus.Corpus
import graft.index.{Deletes, FieldDef, IndexBuilder, IndexConfig, SegmentMeta, Snapshot}

/** Every commit takes its per-segment metrics from the encoder's output
  * during the write. They must equal what a re-read of the written dir
  * gives, for every commit kind, and the build must not pay a job for
  * them. */
class SegmentMetricsSpec extends SparkSuite {
  import spark.implicits._

  private def pages(n: Long, seed: Long, startId: Long = 0L) =
    Corpus.pages(spark, n, seed = seed, vocabSize = 300, medianLen = 30,
      startId = startId).select("url", "text").as[(String, String)].collect().toSeq

  /** The reference: a data dir's per-segment metrics by one aggregate over
    * its rows. TermLens rows carry (docs, doclen sum) per chunk in (df,
    * cf); real-term rows count as terms and their df as postings. */
  private def reread(indexDir: String, rel: String): Seq[SegmentMeta] =
    IndexBuilder.readPostings(spark, Seq(s"$indexDir/$rel"))
      .groupBy("segId").agg(
        sum(when(col("term") === IndexBuilder.TermLens, col("df")).otherwise(0L)).as("docs"),
        sum(when(col("term") === IndexBuilder.TermLens, col("cf")).otherwise(0L)).as("sumdl"),
        sum(when(col("term") > IndexBuilder.TermDels, 1L).otherwise(0L)).as("terms"),
        sum(when(col("term") > IndexBuilder.TermDels, col("df")).otherwise(0L)).as("postings"))
      .collect()
      .map(r => SegmentMeta(r.getInt(0), r.getLong(1), r.getLong(3),
        r.getLong(4), r.getLong(2), rel))
      .sortBy(_.segId).toSeq

  /** The latest snapshot commits exactly the segments `expected`, each
    * with the metrics a re-read of its dir gives. */
  private def check(indexDir: String, expected: Seq[Int]): Unit = {
    val snap = Snapshot.latest(indexDir).get
    assert(snap.segments.map(_.segId) === expected)
    snap.segments.groupBy(_.dataDir).foreach { case (rel, metas) =>
      assert(metas.sortBy(_.segId) === reread(indexDir, rel), s"dir $rel")
    }
    assert(snap.numDocs === snap.segments.map(_.docs).sum)
    assert(snap.sumDocLen === snap.segments.map(_.sumDocLen).sum)
  }

  test("a build with more segments than documents: empty segments count") {
    val dir = Files.createTempDirectory("graft-sm-empty").toString
    IndexBuilder.build(spark, pages(5, seed = 3).toDF("url", "text"), dir,
      IndexConfig(numSegments = 16, blockSize = 16))
    check(dir, 0 until 16)
    assert(Snapshot.latest(dir).get.segments.count(_.docs == 0) >= 11)
  }

  test("a resumed build, append and upsert, then the merge") {
    val cfg = IndexConfig(numSegments = 4, blockSize = 16)
    val dir = Files.createTempDirectory("graft-sm-life").toString
    val base = pages(150, seed = 5)
    IndexBuilder.build(spark, base.toDF("url", "text"), dir, cfg,
      simulateOnlySegments = Some(Set(0, 2)))
    check(dir, Seq(0, 2))
    IndexBuilder.build(spark, base.toDF("url", "text"), dir, cfg, resume = true)
    check(dir, 0 until 4)
    IndexBuilder.append(spark, pages(60, seed = 6, startId = 1000L).toDF("url", "text"), dir)
    check(dir, 0 until 8)
    val recrawl = base.take(30).map { case (u, t) => (u, t + " zzagain") } ++
      pages(10, seed = 7, startId = 2000L)
    IndexBuilder.upsert(spark, recrawl.toDF("url", "text"), dir)
    check(dir, 0 until 12)
    Deletes.delete(spark, dir, base.slice(40, 60).map(_._1))
    val merged = IndexBuilder.compact(spark, dir)
    assert(merged.dataDirs.size === 1 && merged.deletedDocs === 0L)
    check(dir, 0 until 4)
  }

  test("a multi-field build") {
    val cfg = IndexConfig(numSegments = 4, blockSize = 16,
      fields = Seq(FieldDef("title"), FieldDef("body"), FieldDef("lang", keyword = true)))
    val rows = pages(80, seed = 9).zipWithIndex.map { case ((u, t), i) =>
      val toks = t.split(" ")
      (u, toks.take(3).mkString(" "), toks.drop(3).mkString(" "),
        if (i % 4 == 0) null else "en")
    }
    val dir = Files.createTempDirectory("graft-sm-fields").toString
    IndexBuilder.build(spark, rows.toDF("url", "title", "body", "lang"), dir, cfg)
    check(dir, 0 until 4)
  }

  test("build job budget: metrics come from the write, no schema inference") {
    val dir = Files.createTempDirectory("graft-sm-jobs").toString
    val docs = pages(200, seed = 11).toDF("url", "text")
    val (_, jobs) = JobLog.of(spark)(IndexBuilder.build(spark, docs, dir,
      IndexConfig(numSegments = 4, blockSize = 16)))
    info(s"build ${jobs.count} jobs")
    assert(jobs.schemaInference.isEmpty, s"schema-inference jobs:\n$jobs")
    assert(jobs.count <= 4, s"build jobs:\n$jobs")
  }
}
