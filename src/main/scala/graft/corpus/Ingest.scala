package graft.corpus

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.index.{IndexBuilder, SnapshotMeta}

/** Crawl-ingestion front-end over the raw input table
  * (url, warc_ts, html, text, lang — BASELINE.json input_hint):
  *
  *  - [[latestPerUrl]]: a Common-Crawl dump carries multiple editions of a
  *    url across crawls; latest `warc_ts` wins (deterministic tie-break on
  *    the html bytes' md5 so replays cannot flap between equal-ts rows)
  *  - [[extractValidate]]: re-extract text from the html bytes and enforce
  *    the north rule's per-row invariant — extracted text byte-identical
  *    to the `text` column per url — routing violations (truncated/corrupt
  *    captures) to an invalid channel with an explanation, never into the
  *    index (same dual-route shape as ops.Routing / reference
  *    Evidences.py:290-308)
  *  - [[refreshIndex]]: fold a new crawl into an existing index —
  *    lang-filter, latest-per-url, validate, then `IndexBuilder.upsert`
  *    (recrawled urls tombstone their old version, new urls append; a url
  *    whose newest capture is corrupt keeps its indexed edition)
  *
  * All stages are single-exchange column pipelines: the window in
  * latestPerUrl shuffles on url once; validation is a narrow map. */
object Ingest {

  private val extractUdf =
    udf((html: Array[Byte]) => if (html == null) "" else Html.extract(html))

  /** One row per url: max warc_ts, ties broken by the md5 of ALL payload
    * columns so the winner is a pure function of the row set — two rows
    * equal on (warc_ts, html) but differing in text/lang (a capture that
    * lost a column) must not flap with partition order across replays.
    * Every column is reduced to a presence-tagged FIXED-WIDTH digest
    * before concatenation: (a) a skipped/untagged null would let
    * (text=x, lang=null) hash identically to (text=null, lang=x); (b) a
    * raw variable-length value containing the separator byte would make
    * the concatenation ambiguous across column boundaries — and corrupt
    * captures with control characters are exactly the rows this tie-break
    * exists for. Per-column md5 first removes both. */
  def latestPerUrl(raw: DataFrame): DataFrame = {
    def tagged(c: Column): Column =
      when(c.isNull, lit("0")).otherwise(concat(lit("1"), md5(c)))
    val w = Window.partitionBy(col("url"))
      .orderBy(col("warc_ts").desc,
        md5(concat(tagged(col("html")),
          tagged(col("text")), tagged(col("lang")))).asc)
    raw.withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1).drop("_rn")
  }

  /** Split into (valid, invalid): a row is valid iff `text` is non-empty
    * and byte-identical to `Html.extract(html)`. Invalid rows carry an
    * `explanation` column (first failing rule, via the shared
    * `ops.Routing.explain` cascade). Both halves are views over one
    * tagged plan — a caller consuming both (the dual-route shape) should
    * cache it or go through `Routing.routeValidInvalid`, which does. */
  def extractValidate(raw: DataFrame): (DataFrame, DataFrame) = {
    val tagged = graft.ops.Routing.explain(
      raw.withColumn("_extracted", extractUdf(col("html"))),
      Seq(
        "empty_text" -> (col("text").isNull || length(col("text")) === 0),
        "extract_mismatch" -> (col("_extracted") =!= col("text"))))
    (tagged.filter(col("explanation").isNull).drop("explanation", "_extracted"),
      tagged.filter(col("explanation").isNotNull).drop("_extracted"))
  }

  /** Latest-edition-THEN-validate: pick each url's newest capture first,
    * then enforce the extraction invariant — a url whose NEWEST capture is
    * corrupt is dropped from the batch entirely, so the index keeps the
    * edition it already serves. The reverse order (validate, then latest)
    * would resurrect an older valid edition and upsert it over newer
    * already-indexed content — silently rolling the index back in time.
    * Newest-wins is a per-URL contract, not a per-valid-row one. As a
    * bonus, the extract UDF runs only on winners, not on every edition.
    * Returns the (url, text) upsert batch; both ingest paths (batch
    * [[refreshIndex]] and streaming IndexStream.refreshBatch) go through
    * here so the ordering cannot desync. */
  def prepareBatch(raw: DataFrame): DataFrame =
    extractValidate(latestPerUrl(raw))._1.select("url", "text")

  /** Lang-scope + [[prepareBatch]] + persist — the shared front half of
    * BOTH ingest paths (this batch refreshIndex and the streaming
    * `IndexStream.refreshBatch`), kept in one place so scoping and
    * persist semantics cannot drift between them. Persisted because the
    * extract UDF + latest-per-url window otherwise re-execute for the
    * isEmpty probe, upsert's tombstone-match join AND the append scan —
    * 3x the ingest cost per call. The caller must unpersist. */
  def prepareScoped(rawCrawl: DataFrame, langs: Set[String]): DataFrame = {
    val scoped =
      if (langs.isEmpty) rawCrawl
      else rawCrawl.filter(col("lang").isin(langs.toSeq: _*))
    prepareBatch(scoped).persist()
  }

  /** Ingest a crawl batch into `indexDir`: keep `langs` (empty set = all),
    * latest-edition-per-url, enforce the extraction invariant, then upsert
    * (see [[prepareBatch]] for why in that order). Returns the committed
    * snapshot. The caller routes `invalid` rows from [[extractValidate]]
    * separately if it needs the reject channel. */
  def refreshIndex(
      spark: SparkSession,
      rawCrawl: DataFrame,
      indexDir: String,
      langs: Set[String] = Set.empty): SnapshotMeta = {
    val batch = prepareScoped(rawCrawl, langs)
    // a batch emptied by scoping/validation commits nothing: upsert
    // returns the latest snapshot when its url collect comes back empty
    try IndexBuilder.upsert(spark, batch, indexDir)
    finally batch.unpersist()
  }
}
