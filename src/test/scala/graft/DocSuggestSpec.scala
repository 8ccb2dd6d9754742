package graft

import java.nio.file.Files

import graft.analysis.Analyzer
import graft.corpus.Corpus
import graft.index.{Deletes, FieldDef, IndexBuilder, IndexConfig, Snapshot}
import graft.search.IndexHandle

/** DOC-level completion suggestions (the reference's per-document
  * suggestion objects: ordered lowercased field inputs + a completion
  * query returning ranked documents with payloads,
  * mrtarget/modules/SearchObjects.py:54-77,334-347). Pinned semantics:
  * gram ∈ Analyzer.ngrams(4..10) of any input, weight = number of inputs
  * containing the gram, rank = (weight desc, url asc), upserts resolve
  * latest-wins, purge drops dead documents from the artifact. */
class DocSuggestSpec extends SparkSuite {
  import spark.implicits._

  private val fields = Seq(
    FieldDef("title"), FieldDef("body"), FieldDef("lang", keyword = true))
  private val cfg = IndexConfig(numSegments = 4, blockSize = 16,
    fields = fields, docSuggestFields = Seq("title", "lang"))

  private lazy val rows: Seq[(String, String, String, String)] = {
    val pages = Corpus.pages(spark, 150, seed = 55, vocabSize = 250,
      medianLen = 30).select("url", "text")
      .as[(String, String)].collect().toSeq
    pages.zipWithIndex.map { case ((url, text), i) =>
      val toks = text.split(" ")
      (url, toks.take(4).mkString(" "), toks.drop(4).mkString(" "),
        if (i % 7 == 0) null else Seq("en", "de", "fr")(i % 3))
    }
  }

  private def freshIndex(): String = {
    val dir = Files.createTempDirectory("graft-docsuggest").toString
    IndexBuilder.build(spark,
      rows.toDF("url", "title", "body", "lang"), dir, cfg)
    dir
  }

  /** Brute-force expectation: weight = #inputs (title, lang) whose gram
    * set contains the fragment; rank (weight desc, url asc). */
  private def expected(docs: Seq[(String, String, String, String)],
      fragment: String, k: Int): Seq[(String, String, Int)] =
    docs.flatMap { case (url, title, _, lang) =>
      val w = Seq(Option(title), Option(lang)).count(_.exists(v =>
        Analyzer.ngrams(v.toLowerCase(java.util.Locale.ROOT)).contains(fragment)))
      if (w > 0) Some((url, title, w)) else None
    }.sortBy { case (u, _, w) => (-w, u) }.take(k)

  test("suggestDocs returns ranked documents matching the brute-force oracle") {
    val dir = freshIndex()
    val snap = Snapshot.latest(dir).get
    assert(snap.docSuggestDirs.nonEmpty && snap.docSuggestRows > 0)
    assert(snap.docSuggestFields === Seq("title", "lang"))
    val h = new IndexHandle(spark, dir, warm = false)
    // derive live fragments from the data so the check can't go vacuous
    val frag = rows.flatMap(_._2.split(" ")).filter(_.length >= 4)
      .groupBy(identity).maxBy(_._2.size)._1.substring(0, 4)
    Seq(frag, "data", "zzzz").foreach { f =>
      assert(h.suggestDocs(f, 10).toSeq === expected(rows, f, 10), s"frag: $f")
    }
    assert(h.suggestDocs("abc", 10).isEmpty) // < 4 chars
    assert(h.suggestDocs(frag, 10).nonEmpty)
  }

  test("upsert resolves latest-wins; purge drops dead docs from autocomplete") {
    val dir = freshIndex()
    val h0 = new IndexHandle(spark, dir, warm = false)
    val victim = h0.suggestDocs("data", 5).headOption.map(_._1)
      .getOrElse(rows.head._1)
    // recrawl: victim's title loses 'data', gains 'qqfresh'
    val batch = Seq((victim, "qqfresh title now", "some body text", "en"))
      .toDF("url", "title", "body", "lang")
    IndexBuilder.upsert(spark, batch, dir)
    val h1 = new IndexHandle(spark, dir, warm = false)
    // the new version completes under its NEW title immediately
    assert(h1.suggestDocs("qqfresh", 10).toSeq ===
      Seq((victim, "qqfresh title now", 1)))
    // grams the new version LOST still surface from the superseded row
    // until a purge — ES's completion suggester has exactly this staleness
    // (deleted suggestions serve until segments merge); within a SHARED
    // gram the newest generation's row wins. Pre-purge, 'data' results
    // equal the original corpus's expectation verbatim.
    assert(h1.suggestDocs("data", 100).toSeq === expected(rows, "data", 100))

    // purge (upsert left tombstones) expunges the superseded generation:
    // the victim no longer completes under its old title's grams
    Deletes.purge(spark, dir)
    val hp = new IndexHandle(spark, dir, warm = false)
    val updated = rows.map(r =>
      if (r._1 == victim) (victim, "qqfresh title now", "some body text", "en") else r)
    assert(!hp.suggestDocs("data", 200).exists(_._1 == victim))
    assert(hp.suggestDocs("data", 10).toSeq === expected(updated, "data", 10))
    assert(hp.suggestDocs("qqfresh", 10).toSeq ===
      Seq((victim, "qqfresh title now", 1)))

    // tombstone a few docs that complete under 'data', then expunge
    val dead = hp.suggestDocs("data", 3).map(_._1).toSet
    assert(dead.nonEmpty, "fixture regression: no docs complete under 'data'")
    Deletes.delete(spark, dir, dead.toSeq)
    Deletes.purge(spark, dir)
    val h2 = new IndexHandle(spark, dir, warm = false)
    val live = updated.filterNot(r => dead.contains(r._1))
    assert(h2.suggestDocs("data", 10).toSeq === expected(live, "data", 10))
    assert(h2.suggestDocs("qqfresh", 10).toSeq ===
      (if (dead.contains(victim)) Nil
       else Seq((victim, "qqfresh title now", 1))))
    assert(h2.suggestDocs("data", 100).forall(r => !dead.contains(r._1)))
    // the purged artifact is consolidated to one dir
    assert(Snapshot.latest(dir).get.docSuggestDirs.size === 1)
  }

  test("append extends the artifact; vacuum keeps referenced docsuggest dirs") {
    val dir = freshIndex()
    val extra = Seq(
      ("https://ds.example/n1", "dataqq extra title", "body text here", "en"),
      ("https://ds.example/n2", "other title words", "body text here", "de"))
    IndexBuilder.append(spark,
      extra.toDF("url", "title", "body", "lang"), dir)
    val h = new IndexHandle(spark, dir, warm = false)
    assert(h.suggestDocs("dataqq", 5).toSeq ===
      Seq(("https://ds.example/n1", "dataqq extra title", 1)))
    assert(h.suggestDocs("data", 200).toSeq ===
      expected(rows ++ extra, "data", 200))
    IndexBuilder.vacuum(dir)
    // still serves after vacuum (referenced dirs kept)
    val h2 = new IndexHandle(spark, dir, warm = false)
    assert(h2.suggestDocs("dataqq", 5).nonEmpty)
  }

  test("doc-suggest purge is exact when all segments share one shuffle partition") {
    // the purge filter's live-url enumeration streams MULTIPLE segments
    // sequentially within a shuffle partition (they are contiguous after
    // the dels-first sort); the small-P fixtures above usually hash each
    // segment into its own partition, so force the multi-segment shape by
    // collapsing shuffle partitions to 1, and chunk markers tiny so the
    // rank walk also crosses chunk seams inside every segment
    val dir = Files.createTempDirectory("graft-ds-1part").toString
    IndexBuilder.build(spark, rows.toDF("url", "title", "body", "lang"),
      dir, cfg.copy(markerChunkDocs = 7))
    val h0 = new IndexHandle(spark, dir, warm = false)
    val victim = h0.suggestDocs("data", 5).headOption.map(_._1)
      .getOrElse(rows.head._1)
    IndexBuilder.upsert(spark,
      Seq((victim, "qqfresh title now", "some body text", "en"))
        .toDF("url", "title", "body", "lang"), dir)
    val updated = rows.map(r =>
      if (r._1 == victim) (victim, "qqfresh title now", "some body text", "en")
      else r)
    val dead = new IndexHandle(spark, dir, warm = false)
      .suggestDocs("data", 3).map(_._1).toSet - victim
    assert(dead.nonEmpty, "fixture regression: no deletable docs")
    Deletes.delete(spark, dir, dead.toSeq)
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "1")
    try Deletes.purge(spark, dir)
    finally spark.conf.set("spark.sql.shuffle.partitions", prev)
    val live = updated.filterNot(r => dead.contains(r._1))
    val h = new IndexHandle(spark, dir, warm = false)
    assert(h.suggestDocs("data", 200).toSeq === expected(live, "data", 200))
    assert(h.suggestDocs("qqfresh", 10).toSeq ===
      Seq((victim, "qqfresh title now", 1)))
    assert(Snapshot.latest(dir).get.docSuggestDirs.size === 1)
  }

  test("docSuggestFields are validated and pinned") {
    val df = rows.toDF("url", "title", "body", "lang")
    val d = Files.createTempDirectory("graft-ds-bad").toString
    intercept[IllegalArgumentException](IndexBuilder.build(spark, df, d,
      cfg.copy(docSuggestFields = Seq("nope"))))
  }

  test("the doc-suggest memo holds long outputs within its byte budget") {
    // every title is ~30k chars, so one memoized gram (60 rows) weighs
    // ~3.6 MB and the 12 grams together outgrow the budget: an entry-count
    // cap would keep them all, the byte budget must evict
    val grams = "abcdefghijkl".map(c => s"q$c$c$c")
    val pad = Seq.fill(6000)("padd").mkString(" ")
    val docs = (0 until 60).map(i =>
      (f"https://long.example/$i%03d", s"${grams.mkString(" ")} $pad", "b"))
    val dir = Files.createTempDirectory("graft-ds-long").toString
    IndexBuilder.build(spark, docs.toDF("url", "title", "body"), dir,
      IndexConfig(numSegments = 2, blockSize = 16,
        fields = Seq(FieldDef("title"), FieldDef("body")),
        docSuggestFields = Seq("title")))
    val h = new IndexHandle(spark, dir, warm = false)
    val top = docs.take(10).map { case (u, t, _) => (u, t, 1) }
    grams.foreach { g =>
      assert(h.suggestDocs(g, 10).toSeq === top, s"gram $g")
      assert(h.docSuggestMemoHeldBytes <= h.suggestMemoBytes, s"after gram $g")
    }
    // the newest entry survives and is weighed by its outputs' chars
    val outputChars = docs.map(_._2.length.toLong).sum
    assert(h.docSuggestMemoHeldBytes >= 2L * outputChars)
    assert(h.suggestDocs(grams.last, 10).toSeq === top)
    // asks beyond the memoized 100 rows bypass the memo
    val held = h.docSuggestMemoHeldBytes
    assert(h.suggestDocs("padd", 101).length === 60)
    assert(h.docSuggestMemoHeldBytes === held)
  }
}
