package graft

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import graft.corpus.Corpus
import graft.index.{Deletes, FieldDef, IndexBuilder, IndexConfig, Snapshot}
import graft.search.OracleSearch

/** Incremental commit-time artifact maintenance: an append-shaped commit
  * merges the prior termdict with a new-dirs-only aggregation
  * (`IndexBuilder.writeTermdict` given the prior dictionary) and sums
  * per-field stats driver-side, instead of rescanning every committed dir.
  * These tests pin the two claims that make that safe at 10^12 docs:
  *   1. EXACTNESS — the delta-merged termdict is value-identical to a
  *      full `writeTermdict` rebuild (no prior) over all dirs, across
  *      appends, tombstones (df keeps dead docs until purge) and post-purge
  *      appends;
  *   2. PLAN — the commit actually took the delta path (the structural
  *      guard; timing lives in the perfbench `update` workload), falling back to
  *      the full scan exactly where it must (first build, resume from a
  *      partial commit that carries no termdict). */
class TermdictDeltaSpec extends SparkSuite {
  import spark.implicits._

  private val fields = Seq(
    FieldDef("title"), FieldDef("body"), FieldDef("lang", keyword = true))
  private val cfg =
    IndexConfig(numSegments = 4, blockSize = 16, fields = fields)

  /** (url, title, body, lang) rows with cross-generation vocab overlap. */
  private def fieldedRows(n: Long, seed: Long, startId: Long = 0L) =
    Corpus.pages(spark, n, seed = seed, vocabSize = 300, medianLen = 40,
        startId = startId)
      .select("url", "text").as[(String, String)].collect().toSeq
      .zipWithIndex.map { case ((url, text), i) =>
        val toks = text.split(" ")
        val lang = if (i % 7 == 0) null else Seq("en", "de", "fr")(i % 3)
        (url, toks.take(4).mkString(" "), toks.drop(4).mkString(" "), lang)
      }

  private def toDf(rows: Seq[(String, String, String, String)]) =
    rows.toDF("url", "title", "body", "lang")

  private type DictRow = (String, Long, Long, Int, Int)

  private def readDict(abs: String): Seq[DictRow] =
    spark.read.parquet(abs)
      .select("term", "df", "cf", "maxTf", "minDl")
      .as[DictRow].collect().toSeq.sortBy(_._1)

  /** Ground truth: a full rebuild over ALL committed dirs into a temp dir. */
  private def fullRebuild(indexDir: String): Seq[DictRow] = {
    val snap = Snapshot.latest(indexDir).get
    val out = Files.createTempDirectory("graft-td-full").toString + "/dict"
    IndexBuilder.writeTermdict(spark, None,
      snap.dataDirs.map(d => s"$indexDir/$d"), out)
    readDict(out)
  }

  private def committed(indexDir: String): Seq[DictRow] = {
    val snap = Snapshot.latest(indexDir).get
    readDict(s"$indexDir/${snap.termdictDir.get}")
  }

  private def fullFieldStats(indexDir: String) = {
    val snap = Snapshot.latest(indexDir).get
    IndexBuilder.fieldStats(spark, snap.dataDirs.map(d => s"$indexDir/$d"))
  }

  test("append takes the delta plan; termdict + field stats value-identical to full rebuild") {
    val dir = Files.createTempDirectory("graft-td").toString
    IndexBuilder.build(spark, toDf(fieldedRows(120, seed = 5)), dir, cfg)
    assert(IndexBuilder.lastTermdictPlan === "full:1",
      "the first build has no prior dict to merge with")
    assert(committed(dir) === fullRebuild(dir))

    // two appends: overlapping vocab (same generator vocab) + fresh urls
    Seq(1, 2).foreach { g =>
      IndexBuilder.append(spark,
        toDf(fieldedRows(90, seed = 5 + g, startId = 1000L * g)), dir)
      assert(IndexBuilder.lastTermdictPlan === "delta:1",
        s"append $g must merge the prior dict with the one new dir")
      assert(committed(dir) === fullRebuild(dir),
        s"delta-merged dict after append $g must equal a full rebuild")
      assert(Snapshot.latest(dir).get.fieldStats === fullFieldStats(dir),
        s"delta-merged field stats after append $g must equal a full scan")
    }
    // the persisted count matches the merged dict (warm-open admission gate)
    assert(Snapshot.latest(dir).get.termdictRows === committed(dir).size.toLong)
  }

  test("delta stays exact across tombstones and after purge") {
    val dir = Files.createTempDirectory("graft-td2").toString
    val rows = fieldedRows(120, seed = 9)
    IndexBuilder.build(spark, toDf(rows), dir, cfg)

    // tombstones add a TermDels-only dir and carry the dict forward
    // unchanged (df includes deleted until purge) — the NEXT append's
    // delta must still reduce to the full-rebuild values
    Deletes.delete(spark, dir, rows.take(15).map(_._1))
    IndexBuilder.append(spark,
      toDf(fieldedRows(80, seed = 10, startId = 5000L)), dir)
    assert(IndexBuilder.lastTermdictPlan === "delta:1")
    assert(committed(dir) === fullRebuild(dir))

    // purge rewrites postings to one dir and full-rebuilds its dict; an
    // append on top of the purged snapshot must delta-merge exactly again
    Deletes.purge(spark, dir)
    assert(committed(dir) === fullRebuild(dir))
    IndexBuilder.append(spark,
      toDf(fieldedRows(70, seed = 11, startId = 9000L)), dir)
    assert(IndexBuilder.lastTermdictPlan === "delta:1")
    assert(committed(dir) === fullRebuild(dir))
    assert(Snapshot.latest(dir).get.fieldStats === fullFieldStats(dir))
  }

  test("resume from a partial commit falls back to the full scan, once") {
    val dir = Files.createTempDirectory("graft-td3").toString
    IndexBuilder.build(spark, toDf(fieldedRows(100, seed = 21)), dir, cfg,
      simulateOnlySegments = Some(Set(0, 1)))
    assert(Snapshot.latest(dir).get.termdictDir.isEmpty,
      "partial commits carry no termdict")
    IndexBuilder.build(spark, toDf(fieldedRows(100, seed = 21)), dir, cfg,
      resume = true)
    assert(IndexBuilder.lastTermdictPlan === "full:2",
      "completing a crashed build has no prior dict and must rescan")
    assert(committed(dir) === fullRebuild(dir))
    assert(Snapshot.latest(dir).get.fieldStats === fullFieldStats(dir))
    // and the next append is back on the delta path
    IndexBuilder.append(spark,
      toDf(fieldedRows(60, seed = 22, startId = 3000L)), dir)
    assert(IndexBuilder.lastTermdictPlan === "delta:1")
    assert(committed(dir) === fullRebuild(dir))
  }

  /** The committed termdict's part files, read in part order: each sorted
    * by term, and each file's last term below the next file's first, so a
    * pushed-down term probe can trust the file set's order. */
  private def assertGloballySorted(indexDir: String): Unit = {
    val rel = Snapshot.latest(indexDir).get.termdictDir.get
    val ls = Files.list(java.nio.file.Paths.get(indexDir, rel))
    val parts =
      try ls.iterator().asScala.map(_.toString)
        .filter(_.endsWith(".parquet")).toSeq.sorted
      finally ls.close()
    val files = parts.map(f => spark.read.parquet(f).select("term").as[String]
      .collect().toSeq).filter(_.nonEmpty)
    assert(files.size >= 2, s"order across files is untested: $parts")
    def below(a: String, b: String) = OracleSearch.utf8Compare(a, b) < 0
    files.foreach(ts => ts.sliding(2).foreach {
      case Seq(a, b) => assert(below(a, b), s"$a !< $b within a file of $rel")
      case _ =>
    })
    files.sliding(2).foreach { case Seq(a, b) =>
      assert(below(a.last, b.head), s"${a.last} !< ${b.head} across files of $rel")
    }
  }

  test("the termdict stays globally term-sorted after a full build and a delta commit") {
    // no partition coalescing: the dictionary must land in several files
    val key = "spark.sql.adaptive.coalescePartitions.enabled"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "false")
    try {
      val dir = Files.createTempDirectory("graft-td-order").toString
      IndexBuilder.build(spark, toDf(fieldedRows(120, seed = 31)), dir, cfg)
      assert(IndexBuilder.lastTermdictPlan === "full:1")
      assertGloballySorted(dir)
      IndexBuilder.append(spark,
        toDf(fieldedRows(90, seed = 32, startId = 4000L)), dir)
      assert(IndexBuilder.lastTermdictPlan === "delta:1")
      assertGloballySorted(dir)
    } finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  test("mergeFieldStats sums by name and keeps fields unique to one side") {
    import graft.index.FieldStat
    val merged = IndexBuilder.mergeFieldStats(
      Seq(FieldStat("body", 10, 400), FieldStat("title", 10, 40)),
      Seq(FieldStat("body", 3, 90), FieldStat("lang", 2, 2)))
    assert(merged === Seq(FieldStat("body", 13, 490),
      FieldStat("lang", 2, 2), FieldStat("title", 10, 40)))
  }
}
