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
  *      appends, and to an earlier salted two-phase plan over the same
  *      commit's inputs, kept here as a reference;
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

  private type DictRow = (String, Long, Long, Int, Int, Seq[Int])

  private def readDict(abs: String): Seq[DictRow] =
    spark.read.parquet(abs)
      .select("term", "df", "cf", "maxTf", "minDl", "segs")
      .as[DictRow].collect().toSeq.sortBy(_._1)

  /** Ground truth: a full rebuild over ALL committed dirs into a temp dir. */
  private def fullRebuild(indexDir: String): Seq[DictRow] = {
    val snap = Snapshot.latest(indexDir).get
    val out = Files.createTempDirectory("graft-td-full").toString + "/dict"
    IndexBuilder.writeTermdict(spark, None,
      snap.dataDirs.map(d => s"$indexDir/$d"), snap.segments.map(_.terms).sum, out)
    readDict(out)
  }

  private def committed(indexDir: String): Seq[DictRow] = {
    val snap = Snapshot.latest(indexDir).get
    readDict(s"$indexDir/${snap.termdictDir.get}")
  }

  /** The latest commit's dictionary inputs: its parent's termdict and the
    * dirs it added (a delta commit), or no prior and every dir (full). */
  private def commitInputs(indexDir: String): (Option[String], Seq[String]) = {
    val snap = Snapshot.latest(indexDir).get
    Snapshot.at(indexDir, snap.parent).flatMap(p => p.termdictDir.map(p -> _)) match {
      case Some((p, dict)) => (Some(s"$indexDir/$dict"),
        snap.dataDirs.filterNot(p.dataDirs.toSet).map(d => s"$indexDir/$d"))
      case None => (None, snap.dataDirs.map(d => s"$indexDir/$d"))
    }
  }

  /** An earlier writer's plan over the same inputs, kept as a reference:
    * a two-phase aggregation salted by segId mod 8 (the prior's rows in
    * their own bucket), then reduced per term; the segment sets are the
    * distinct segIds of the dirs' rows plus the prior's sets. */
  private def saltedPlan(prior: Option[String], dirs: Seq[String]): Seq[DictRow] = {
    import org.apache.spark.sql.functions._
    val parts = spark.read.parquet(dirs: _*)
      .filter(col("term") > IndexBuilder.TermDels)
      .select(col("term"), pmod(col("segId"), lit(8)).as("salt"),
        col("df"), col("cf"), col("maxTf"), col("minDl"), array(col("segId")).as("segs"))
    val all = prior.fold(parts)(p => spark.read.parquet(p)
      .select(col("term"), lit(-1).as("salt"),
        col("df"), col("cf"), col("maxTf"), col("minDl"), col("segs"))
      .unionByName(parts))
    all.groupBy(col("term"), col("salt"))
      .agg(sum("df").as("df"), sum("cf").as("cf"),
        max("maxTf").as("maxTf"), min("minDl").as("minDl"),
        array_distinct(flatten(collect_list("segs"))).as("segs"))
      .groupBy("term")
      .agg(sum("df").as("df"), sum("cf").as("cf"),
        max("maxTf").as("maxTf"), min("minDl").as("minDl"),
        sort_array(array_distinct(flatten(collect_list("segs")))).as("segs"))
      .select("term", "df", "cf", "maxTf", "minDl", "segs")
      .as[DictRow].collect().toSeq.sortBy(_._1)
  }

  /** Every committed dictionary row's `segs` is exactly the ascending
    * distinct segIds of its term's posting rows. */
  private def assertExactSegs(indexDir: String, what: String): Unit = {
    import org.apache.spark.sql.functions._
    val snap = Snapshot.latest(indexDir).get
    val truth = IndexBuilder.readPostings(spark, snap.dataDirs.map(d => s"$indexDir/$d"))
      .filter(col("term") > IndexBuilder.TermDels)
      .groupBy("term").agg(sort_array(collect_set("segId")).as("segs"))
      .as[(String, Seq[Int])].collect().toMap
    val dict = committed(indexDir).map(r => r._1 -> r._6).toMap
    assert(dict === truth, s"segment sets after $what")
  }

  /** The committed dictionary equals the salted reference plan over the
    * same commit's inputs (`full`: a merge's, every dir and no prior). */
  private def assertSaltedParity(indexDir: String, full: Boolean = false): Unit = {
    val (prior, dirs) =
      if (full) (None, Snapshot.latest(indexDir).get.dataDirs.map(d => s"$indexDir/$d"))
      else commitInputs(indexDir)
    assert(committed(indexDir) === saltedPlan(prior, dirs),
      s"termdict differs from the salted plan (prior $prior, dirs $dirs)")
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
      assertSaltedParity(dir)
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
    assertSaltedParity(dir)

    // purge rewrites postings to one dir and full-rebuilds its dict; an
    // append on top of the purged snapshot must delta-merge exactly again
    Deletes.purge(spark, dir)
    assert(committed(dir) === fullRebuild(dir))
    assertSaltedParity(dir, full = true)
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

  /** The part files of the dictionary at `abs`, read in part order: each
    * sorted by term, and each file's last term below the next file's
    * first, so a pushed-down term probe can trust the file set's order. */
  private def assertGloballySorted(abs: String): Unit = {
    val ls = Files.list(java.nio.file.Paths.get(abs))
    val parts =
      try ls.iterator().asScala.map(_.toString)
        .filter(_.endsWith(".parquet")).toSeq.sorted
      finally ls.close()
    val files = parts.map(f => spark.read.parquet(f).select("term").as[String]
      .collect().toSeq).filter(_.nonEmpty)
    assert(files.size >= 2, s"order across files is untested: $parts")
    def below(a: String, b: String) = OracleSearch.utf8Compare(a, b) < 0
    files.foreach(ts => ts.sliding(2).foreach {
      case Seq(a, b) => assert(below(a, b), s"$a !< $b within a file of $abs")
      case _ =>
    })
    files.sliding(2).foreach { case Seq(a, b) =>
      assert(below(a.last, b.head), s"${a.last} !< ${b.head} across files of $abs")
    }
  }

  test("the termdict stays globally term-sorted after a full build and a delta commit") {
    val dir = Files.createTempDirectory("graft-td-order").toString
    // a dictionary rewritten from the latest commit's inputs at 50 input
    // rows per file, so it lands in several range-partitioned files
    def rewriteSmall(): Unit = {
      val (prior, dirs) = commitInputs(dir)
      val snap = Snapshot.latest(dir).get
      val rows = prior.fold(snap.segments.map(_.terms).sum)(_ =>
        Snapshot.at(dir, snap.parent).get.termdictRows +
          snap.segments.filter(s => dirs.exists(_.endsWith(s.dataDir))).map(_.terms).sum)
      val out = Files.createTempDirectory("graft-td-small").toString + "/dict"
      val n = IndexBuilder.writeTermdict(spark, prior, dirs, rows, out, rowsPerFile = 50)
      assertGloballySorted(out)
      assert(readDict(out) === saltedPlan(prior, dirs))
      assert(n === committed(dir).size.toLong)
    }
    IndexBuilder.build(spark, toDf(fieldedRows(120, seed = 31)), dir, cfg)
    assert(IndexBuilder.lastTermdictPlan === "full:1")
    assertSaltedParity(dir)
    rewriteSmall()
    IndexBuilder.append(spark,
      toDf(fieldedRows(90, seed = 32, startId = 4000L)), dir)
    assert(IndexBuilder.lastTermdictPlan === "delta:1")
    assertSaltedParity(dir)
    rewriteSmall()
  }

  test("segment sets stay exact through build, append, upsert, deletes and the merge") {
    val dir = Files.createTempDirectory("graft-td-segs").toString
    val rows = fieldedRows(120, seed = 41)
    IndexBuilder.build(spark, toDf(rows), dir, cfg)
    assertExactSegs(dir, "build")
    IndexBuilder.append(spark, toDf(fieldedRows(60, seed = 42, startId = 6000L)), dir)
    assertExactSegs(dir, "append")
    // an upsert of recrawled and new urls: one generation more
    val recrawl = fieldedRows(30, seed = 43).zip(rows.take(30)).map {
      case (fresh, old) => fresh.copy(_1 = old._1) } ++
      fieldedRows(20, seed = 44, startId = 7000L)
    IndexBuilder.upsert(spark, toDf(recrawl), dir)
    assertExactSegs(dir, "upsert")
    Deletes.delete(spark, dir, rows.slice(40, 60).map(_._1))
    assertExactSegs(dir, "delete by url")
    val title = rows(70)._2.split(" ").head
    Deletes.deleteByQuery(spark, dir,
      graft.search.BoolQuery(must = graft.search.BoolQuery.fieldText("title", title)))
    assertExactSegs(dir, "delete by query")
    IndexBuilder.compact(spark, dir)
    assertExactSegs(dir, "the merge")
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
