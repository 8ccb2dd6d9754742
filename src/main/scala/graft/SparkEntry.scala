package graft

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.corpus.Corpus
import graft.index.{Deletes, IndexBuilder, IndexConfig}
import graft.functions.{Normalize, Scoring}
import graft.ops.{DataDrivenRelation, Dedup, HarmonicSum, Multimodal, Ontology, SimSearch, TextOps, XmlSource}
import graft.search.{BoolQuery, Searcher}

/** Driver contract: one `queries` entry per implemented operator family
  * (SURVEY.md §2), with DuckDB-runnable oracle SQL wherever the semantics
  * are SQL-expressible. Column names and float rounding are aligned on both
  * sides because the driver hash-compares values per sorted column name. */
object SparkEntry {

  /** The driver tables' schemas, in file column order. A schema-less
    * `spark.read.parquet` runs one footer-inference Spark job per read (51
    * of the 205 jobs of a perfbench `etl` sweep at sf0.01). EntrySpec checks
    * each against the files' own schema, so a renamed or missing column
    * fails there instead of reading as nulls. */
  private[graft] val tableSchemas: Map[String, StructType] = Map(
    "region" -> "r_regionkey INT, r_name STRING",
    "nation" -> "n_nationkey INT, n_name STRING, n_regionkey INT",
    "customer" -> ("c_custkey BIGINT, c_name STRING, c_nationkey INT, " +
      "c_acctbal DOUBLE, c_mktsegment STRING"),
    "supplier" -> "s_suppkey BIGINT, s_name STRING, s_nationkey INT, s_acctbal DOUBLE",
    "part" -> ("p_partkey BIGINT, p_name STRING, p_brand STRING, p_type STRING, " +
      "p_size INT, p_retailprice DOUBLE"),
    "orders" -> ("o_orderkey BIGINT, o_custkey BIGINT, o_orderstatus STRING, " +
      "o_totalprice DOUBLE, o_orderdate TIMESTAMP_NTZ, o_orderpriority STRING"),
    "lineitem" -> ("l_orderkey BIGINT, l_partkey BIGINT, l_suppkey BIGINT, " +
      "l_linenumber INT, l_quantity DOUBLE, l_extendedprice DOUBLE, " +
      "l_discount DOUBLE, l_tax DOUBLE, l_returnflag STRING, " +
      "l_linestatus STRING, l_shipdate TIMESTAMP_NTZ"),
    "events" -> ("event_id BIGINT, ts TIMESTAMP_NTZ, user_id BIGINT, " +
      "event_type STRING, value DOUBLE, props STRING"),
    "documents" -> "doc_id BIGINT, text STRING, lang STRING, source STRING, n_chars BIGINT",
    "embeddings" -> "vec_id BIGINT, embedding ARRAY<FLOAT>, label INT"
  ).map { case (k, ddl) => k -> StructType.fromDDL(ddl) }

  private[graft] def t(spark: SparkSession, dir: String, name: String): DataFrame = {
    require(tableSchemas.contains(name), s"no declared schema for table '$name'")
    spark.read.schema(tableSchemas(name)).parquet(s"$dir/$name.parquet")
  }

  /** Flagship on sf0.001: synthesize a seeded web corpus, build the
    * inverted index, answer a BM25 top-10 query (driver checks rows>0). */
  def entry(spark: SparkSession): DataFrame = {
    val dir = Files.createTempDirectory("graft-entry-idx").toString
    val pages = Corpus.pages(spark, 1000, seed = 42)
    IndexBuilder.build(spark, pages.toDF(), dir,
      IndexConfig(numSegments = 8, blockSize = 64))
    // topKDF collects eagerly, so the index dir is reclaimable here — the
    // returned DataFrame is driver-local rows, not a scan of the dir
    val out = Searcher.topKDF(spark, dir, "the data spark", 10)
    IndexBuilder.deleteTree(java.nio.file.Paths.get(dir))
    out
  }

  /** One shared index over the driver's `documents` table per sf dir
    * (q21/q32/q33 all query it). numSegments=1 pins the docId order to the
    * zero-padded-url order == doc_id order, so score ties break identically
    * to the SQL oracles' ORDER BY score DESC, doc_id. */
  private val docIdxCache = new java.util.concurrent.ConcurrentHashMap[String, String]()
  private def docsAsPages(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "documents")
      .select(format_string("doc://%08d", col("doc_id")).as("url"), col("text"))
  private def cachedIndex(key: String)(make: String => Unit): String =
    docIdxCache.computeIfAbsent(key, _ => {
      val idx = Files.createTempDirectory("graft-docs-idx").toString
      // the dirs must outlive every query of the run, so reclamation
      // happens at JVM exit — repeated Verify/Bench runs on a shared host
      // would otherwise accrete index trees in /tmp indefinitely
      idxCleanupHook
      make(idx)
      idx
    })

  private lazy val idxCleanupHook: Unit =
    Runtime.getRuntime.addShutdownHook(new Thread(() =>
      docIdxCache.values().forEach(d =>
        graft.index.IndexBuilder.deleteTree(java.nio.file.Paths.get(d)))))
  private def documentsIndex(spark: SparkSession, dir: String): String =
    cachedIndex(dir) { idx =>
      // suggest = true: this index also commits the persisted ngram->term
      // autocomplete artifact that q31 queries (built once at index time,
      // like the reference's precomputed suggestion fields)
      IndexBuilder.build(spark, docsAsPages(spark, dir), idx,
        IndexConfig(numSegments = 1, blockSize = 64, suggest = true))
    }

  /** q57: a MID-SIZE corpus for scan enumeration — every lineitem becomes
    * a document of derived category tokens (returnflag/linestatus/ship
    * month/quantity bucket), 60k docs at sf0.01, so the scan-with-query
    * surface is oracled at 10^4+ matches instead of double digits. Small
    * markerChunkDocs forces multi-chunk url tables per segment, so the
    * chunked rank-lockstep walk is exercised by a DuckDB-checked query. */
  private def lineitemIndex(spark: SparkSession, dir: String): String =
    cachedIndex(s"$dir#lineitem") { idx =>
      val pages = t(spark, dir, "lineitem").select(
        format_string("li://%010d",
          col("l_orderkey") * 10 + col("l_linenumber")).as("url"),
        concat_ws(" ", lit("item"),
          concat(lit("rf"), lower(col("l_returnflag"))),
          concat(lit("ls"), lower(col("l_linestatus"))),
          format_string("m%02d", month(col("l_shipdate"))),
          concat(lit("qb"), floor(col("l_quantity") / 10).cast("int"))).as("text"))
      IndexBuilder.build(spark, pages, idx,
        IndexConfig(numSegments = 4, blockSize = 128, markerChunkDocs = 4096))
    }

  /** q51: MULTI-FIELD index over documents — title = first 5 tokens, body
    * = the rest (they partition the text, so whole-doc length equals the
    * single-field one), lang as an unanalyzed keyword field. The
    * reference's mapping shape: text+keyword multi-fields queried by name
    * (resources/es/sea_mappings.json:13-21, common/LookupTables.py:100-103). */
  private def multifieldIndex(spark: SparkSession, dir: String): String =
    cachedIndex(s"$dir#fields") { idx =>
      val toks = split(col("text"), " ")
      val pages = t(spark, dir, "documents").select(
        format_string("doc://%08d", col("doc_id")).as("url"),
        concat_ws(" ", slice(toks, 1, 5)).as("title"),
        concat_ws(" ",
          slice(toks, lit(6), greatest(size(toks) - 5, lit(0)))).as("body"),
        col("lang"))
      IndexBuilder.build(spark, pages, idx,
        IndexConfig(numSegments = 1, blockSize = 64, fields = Seq(
          graft.index.FieldDef("title"),
          graft.index.FieldDef("body"),
          graft.index.FieldDef("lang", keyword = true)),
          // doc-level autocomplete inputs (q56): title is the name-like
          // output field, lang rides as a second input + payload
          docSuggestFields = Seq("title", "lang")))
    }

  /** q39: same documents index with every doc containing "merge"
    * tombstoned (ES delete-by-query semantics: excluded from results, but
    * N/avgdl/df still count them until purge). */
  private def tombstonedIndex(spark: SparkSession, dir: String): String =
    cachedIndex(s"$dir#tombstoned") { idx =>
      IndexBuilder.build(spark, docsAsPages(spark, dir), idx,
        IndexConfig(numSegments = 1, blockSize = 64))
      Deletes.deleteByQuery(spark, idx, BoolQuery(filter = Seq("merge")))
    }

  /** q40: the tombstones expunged — stats now cover live docs only, like a
    * fresh build over them. */
  private def purgedIndex(spark: SparkSession, dir: String): String =
    cachedIndex(s"$dir#purged") { idx =>
      IndexBuilder.build(spark, docsAsPages(spark, dir), idx,
        IndexConfig(numSegments = 1, blockSize = 64))
      Deletes.deleteByQuery(spark, idx, BoolQuery(filter = Seq("merge")))
      Deletes.purge(spark, idx)
    }

  /** q41: recrawl — every doc_id % 7 == 0 re-indexed under the SAME url
    * with fresh text (`IndexBuilder.upsert`: tombstone old version + append
    * new generation, latest wins). Like ES between a delete and a merge,
    * N/avgdl/df keep counting the replaced versions until a purge — the
    * oracle recomputes BM25 over BOTH versions' stats, scoring live ones. */
  private def upsertedIndex(spark: SparkSession, dir: String): String =
    cachedIndex(s"$dir#upserted") { idx =>
      IndexBuilder.build(spark, docsAsPages(spark, dir), idx,
        IndexConfig(numSegments = 1, blockSize = 64))
      val re = docsAsPages(spark, dir)
        .filter(expr("cast(substring(url, 7) as bigint) % 7 = 0"))
        .withColumn("text", concat(col("text"), lit(" recrawled fresh data")))
      IndexBuilder.upsert(spark, re, idx)
    }

  /** Iterative-closure results ride on pinned localCheckpoint blocks that
    * Dataset.unpersist cannot release; a query surface invoked repeatedly
    * by bench/driver sweeps must not accumulate them. Materialize the
    * (ontology-small) projected result on the driver, release the pinned
    * blocks, and hand back a local DataFrame. */
  private def localizeOntology(s: SparkSession, pr: Ontology.PinnedResult)(
      f: DataFrame => DataFrame): DataFrame = {
    try {
      val out = f(pr.df)
      val rows = out.collect()
      val schema = out.schema
      s.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
    } finally pr.release() // release on failure too, or the blocks leak
  }

  private def hitsToDocIds(spark: SparkSession,
      hits: Array[graft.search.Hit], withScore: Boolean): DataFrame = {
    import spark.implicits._
    val df = hits.toSeq.toDF("rank", "docId", "url", "score")
      .select(expr("cast(substring(url, 7) as bigint)").as("doc_id"),
        round(col("score"), 6).as("score"))
    if (withScore) df else df.select("doc_id")
  }

  /** BM25 free-text top-k through the full engine (build + WAND query). */
  private def bm25Docs(spark: SparkSession, dir: String): DataFrame =
    hitsToDocIds(spark,
      Searcher.topK(spark, documentsIndex(spark, dir), Bm25Query, 20),
      withScore = true)

  /** ES-style bool query: must (AND, scored) + should (scored) + filter
    * (unscored constant-score) + mustNot — the reference's runtime query
    * shape (mrtarget/modules/SearchObjects.py:336-338,
    * common/LookupTables.py:100-103). */
  private def boolDocs(spark: SparkSession, dir: String): DataFrame =
    hitsToDocIds(spark,
      Searcher.search(spark, documentsIndex(spark, dir), BoolQuery(
        must = Seq("data", "spark"), should = Seq("merge", "window"),
        filter = Seq("table"), mustNot = Seq("slow")), 20),
      withScore = true)

  /** ES `ids` query + unscored term filter (the reference's LRU-cached
    * id lookups, mrtarget/common/LookupTables.py:91-116): docIds resolve by
    * binary search in the segment url tables, no posting bytes touched. */
  private def idsDocs(spark: SparkSession, dir: String): DataFrame = {
    val urls = Seq(3L, 57L, 123L, 250L, 444L, 499L).map(i => f"doc://$i%08d")
    hitsToDocIds(spark,
      Searcher.search(spark, documentsIndex(spark, dir),
        BoolQuery(ids = Some(urls), filter = Seq("data")), 100),
      withScore = false)
  }

  private val Bm25Query = "data spark merge"
  private val Bm25Terms = Seq("data", "spark", "merge")

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- relational / aggregation backbone (SURVEY §2.2-§2.5) ----
    "q01_pricing_summary" -> ((s, d) => {
      t(s, d, "lineitem").groupBy("l_returnflag", "l_linestatus").agg(
        round(sum("l_quantity"), 2).as("sum_qty"),
        round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2)
          .as("revenue"),
        count(lit(1)).as("cnt"))
    }),
    "q02_region_revenue" -> ((s, d) => {
      val dims = t(s, d, "supplier")
        .join(t(s, d, "nation"), col("s_nationkey") === col("n_nationkey"))
        .join(t(s, d, "region"), col("n_regionkey") === col("r_regionkey"))
        .filter(col("r_name") === "AMERICA")
        .select("s_suppkey", "n_name")
      t(s, d, "lineitem").join(broadcast(dims), col("l_suppkey") === col("s_suppkey"))
        .groupBy("n_name")
        .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2)
          .as("revenue"))
    }),
    "q03_top_orders_per_cust" -> ((s, d) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      t(s, d, "orders").withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 3)
        .select("o_custkey", "o_orderkey", "rn")
    }),
    "q04_semi_join" -> ((s, d) => {
      t(s, d, "customer").join(
        t(s, d, "orders").filter(col("o_orderstatus") === "F"),
        col("c_custkey") === col("o_custkey"), "left_semi")
        .select("c_custkey", "c_mktsegment")
    }),
    "q05_anti_join" -> ((s, d) => {
      t(s, d, "customer").join(t(s, d, "orders"),
        col("c_custkey") === col("o_custkey"), "left_anti")
        .select("c_custkey")
    }),
    "q06_full_outer_counts" -> ((s, d) => {
      val o = t(s, d, "orders")
      val a = o.filter(col("o_orderstatus") === "O").groupBy("o_custkey")
        .agg(count(lit(1)).as("open_cnt"))
      val b = o.filter(col("o_orderstatus") === "F").groupBy("o_custkey")
        .agg(count(lit(1)).as("done_cnt"))
      a.join(b, Seq("o_custkey"), "full_outer")
        .select(col("o_custkey"),
          coalesce(col("open_cnt"), lit(0L)).as("open_cnt"),
          coalesce(col("done_cnt"), lit(0L)).as("done_cnt"))
    }),
    "q07_term_df" -> ((s, d) => {
      t(s, d, "documents")
        .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
        .groupBy("term")
        .agg(countDistinct("doc_id").as("df"), count(lit(1)).as("cf"))
    }),
    "q08_harmonic_user" -> ((s, d) => {
      t(s, d, "events").groupBy("user_id")
        .agg(round(HarmonicSum.column(100, 2.0)(col("value")), 6).as("hs"))
    }),
    "q09_event_validate" -> ((s, d) => {
      t(s, d, "events").select(
        when(!col("event_type").isin("click", "view", "purchase"), "unknown_type")
          .when(col("value") > 300.0, "value_out_of_range")
          .when(!col("props").startsWith("{"), "bad_props")
          .otherwise("valid").as("explanation"))
        .groupBy("explanation").agg(count(lit(1)).as("n"))
    }),
    "q23_rollup_qty" -> ((s, d) => {
      t(s, d, "lineitem").rollup("l_returnflag", "l_linestatus")
        .agg(round(sum("l_quantity"), 2).as("sum_qty"))
    }),
    "q24_sessionize" -> ((s, d) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      val gapped = t(s, d, "events")
        .withColumn("us", unix_micros(col("ts").cast("timestamp")))
        .withColumn("prev_us", lag(col("us"), 1).over(w))
        .withColumn("new_sess",
          when(col("prev_us").isNull ||
            col("us") - col("prev_us") > 1800L * 1000000L, 1L)
            .otherwise(0L))
        .withColumn("sess", sum("new_sess")
          .over(w.rowsBetween(Window.unboundedPreceding, 0)))
      val per = gapped.groupBy("user_id", "sess").agg(count(lit(1)).as("n"))
      per.groupBy("user_id").agg(max("sess").as("n_sessions"),
        max("n").as("max_session_events"))
    }),
    "q25_pivot_events" -> ((s, d) => {
      t(s, d, "events").groupBy("user_id")
        .pivot("event_type", Seq("click", "view", "purchase", "error", "signup"))
        .count().na.fill(0L)
    }),
    "q20_unpivot_part" -> ((s, d) => {
      t(s, d, "part").selectExpr("p_partkey",
        "stack(2, 'size', cast(p_size as double), 'retailprice', p_retailprice) as (attr, val)")
    }),

    // ---- dedup family ----
    "q10_dedup_exact" -> ((s, d) =>
      Dedup.exactGroups(t(s, d, "documents"), "doc_id", "text")),
    // COST-BASED plan: one pass measures the simple join's exact output
    // cardinality Σ df·(df−1)/2 and picks the single-shuffle equi-join
    // when it's linear in the input (this corpus) or the skew-immune
    // prefix-filter plan when Zipf head shingles make it quadratic (the
    // 100x web case). Output identical either way — DedupSpec pins all
    // three (simple / prefix / auto) equal; ExplainAudit asserts the
    // selector picks each side on the corpus shaped for it.
    "q11_jaccard_neardup" -> ((s, d) =>
      Dedup.jaccardPairsAuto(t(s, d, "documents"), "doc_id", "text", 3, 0.5)),
    "q17_minhash_neardup" -> ((s, d) =>
      Dedup.minhashLshPairs(t(s, d, "documents"), "doc_id", "text",
        3, 64, 16, 0.5)),
    "q18_simhash_sig" -> ((s, d) =>
      t(s, d, "documents").select(col("doc_id"),
        TextOps.simhashHexUdf(col("text")).as("simhash"))),
    // the PAIRS operator over those signatures: 4x16-bit band-bucket
    // candidates + Hamming<=3 verify; the oracle recomputes signatures,
    // banding and bit-count Hamming entirely in SQL (q18 proved the
    // signature side; this oracles the band join + verify)
    "q48_simhash_pairs" -> ((s, d) =>
      Dedup.simhashPairs(t(s, d, "documents"), "doc_id", "text", 3)
        .select(col("id_a"), col("id_b"), col("hamming").cast("long").as("hamming"))),
    // the Manku 6-block/3-match wide banding — pigeonhole-exact like the
    // 4x16 scheme, so the SAME oracle applies; running both keeps the two
    // plans' equality under the independent DuckDB check, not just the spec
    "q50_simhash_pairs_wide" -> ((s, d) =>
      Dedup.simhashPairsWide(t(s, d, "documents"), "doc_id", "text", 3)
        .select(col("id_a"), col("id_b"), col("hamming").cast("long").as("hamming"))),
    "q16_embedding_neardup" -> ((s, d) =>
      SimSearch.nearDupPairs(t(s, d, "embeddings"), "vec_id", "embedding", 0.4)),

    // ---- similarity search ----
    "q15_cosine_topk" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      SimSearch.cosineTopK(emb, emb.filter(col("vec_id") < 10),
        "vec_id", "embedding", 5)
    }),
    "q22_ann_lsh" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      SimSearch.annTopK(emb, emb.filter(col("vec_id") < 10),
        "vec_id", "embedding", 5)
    }),
    "q42_ivf_ann" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      SimSearch.ivfTopK(emb, emb.filter(col("vec_id") < 10),
        "vec_id", "embedding", 5, nlist = 16, nprobe = 3)
    }),

    // ---- text analysis ----
    "q12_fingerprint" -> ((s, d) =>
      t(s, d, "documents").select(col("doc_id"),
        TextOps.fingerprintExpr(col("text")).as("fp"))),
    "q13_quality" -> ((s, d) =>
      TextOps.qualityFeatures(t(s, d, "documents"), "doc_id", "text")
        .select(col("doc_id"), col("n_tokens").cast("long").as("n_tokens"),
          col("n_distinct").cast("long").as("n_distinct"),
          col("type_token_ratio"), col("avg_token_len"),
          col("n_bytes").cast("long").as("n_bytes"))),
    "q14_langid" -> ((s, d) =>
      t(s, d, "documents").select(col("doc_id"),
        TextOps.langIdExpr(split(col("text"), " ")).as("pred_lang"))),
    "q19_token_regex_stats" -> ((s, d) =>
      t(s, d, "documents").select(col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("n_ws_tokens"),
        regexp_count(col("text"), lit("[a-z]+")).cast("long").as("n_alpha_runs"),
        regexp_count(col("text"), lit("[a-z]{1,4}")).cast("long").as("n_bpe_pieces"))),

    // ---- multimodal plumbing (stubbed codec, real transport) ----
    "q26_media_stats" -> ((s, d) => {
      import s.implicits._
      val media = Multimodal.fromText(t(s, d, "documents"), "doc_id", "text")
        .as[Multimodal.MediaRow]
      Multimodal.extractFeatures(s, media).toDF()
        .select(col("id").as("doc_id"), col("n_bytes").cast("long").as("n_bytes"),
          col("head_byte").cast("long").as("head_byte"),
          col("width").cast("long").as("width"),
          col("height").cast("long").as("height"))
    }),
    // S5 XML source: synthesize one escaped XML document per row, parse it
    // back with the real StAX parser — unescape∘escape must be identity,
    // and the oracle simply reads the original columns. Rows whose lang/
    // source are null (concat would null-propagate the whole xml) or carry
    // identity-breaking controls are excluded SYMMETRICALLY on both sides
    // — the driver corpus has none, so the filter is an invariant guard,
    // not a row change (n_chars is concat'd too, so its null joins the
    // same symmetric exclusion). The class is \x00-\x08 and \x0B-\x1F: tab/LF
    // round-trip; CR does NOT (xmlEscape keeps it but XML 1.0 parsers
    // MUST normalize CR to LF), so it is excluded alongside the chars
    // xmlEscape strips.
    "q45_xml_roundtrip" -> ((s, d) => {
      val c0 = "[\\x00-\\x08\\x0B-\\x1F]"
      val docs = t(s, d, "documents")
        .filter(col("lang").isNotNull && col("source").isNotNull &&
          col("n_chars").isNotNull &&
          !col("lang").rlike(c0) && !col("source").rlike(c0))
      val xml = docs.select(col("doc_id"),
        concat(lit("<doc><lang>"), XmlSource.xmlEscape(col("lang")),
          lit("</lang><source>"), XmlSource.xmlEscape(col("source")),
          lit("</source><n><![CDATA["), col("n_chars").cast("string"),
          lit("]]></n></doc>")).as("xml"))
      XmlSource.extractFields(xml, "xml", Seq("lang", "source", "n"))
        .select(col("doc_id"), col("lang"), col("source"),
          col("n").cast("long").as("n_chars"))
    }),
    // S7 RDF/OWL source: synthesize one RDF/XML class fragment per doc id
    // (binary-tree hierarchy: parent = id DIV 2, id 1 the root), parse the
    // subClassOf edges with the real StAX reader, and materialize
    // root-first ancestor chains by pointer jumping; the oracle recomputes
    // the closure with a recursive CTE
    "q46_owl_ancestors" -> ((s, d) => {
      val ids = t(s, d, "documents").select(col("doc_id").as("id"))
        .filter(col("id").between(1, 120))
      val xml = ids.select(col("id"), concat(
        lit("<rdf:RDF xmlns:rdf=\"http://www.w3.org/1999/02/22-rdf-syntax-ns#\" " +
          "xmlns:rdfs=\"http://www.w3.org/2000/01/rdf-schema#\" " +
          "xmlns:owl=\"http://www.w3.org/2002/07/owl#\"><owl:Class rdf:about=\"N"),
        col("id"), lit("\">"),
        when(col("id") >= 2,
          concat(lit("<rdfs:subClassOf rdf:resource=\"N"),
            (col("id") / 2).cast("long"), lit("\"/>"))).otherwise(lit("")),
        lit("</owl:Class></rdf:RDF>")).as("xml"))
      val edges = Ontology.subClassEdges(xml, "xml", stripPrefix = "N")
      localizeOntology(s, Ontology.ancestorChainManaged(edges))(
        _.select(col("id"),
          concat_ws("/", transform(col("anc"), a => a.cast("string"))).as("path")))
    }),
    // S7 DAG form — the reference's REAL ontology shape: EFO is
    // multi-inheritance and the reference materializes a LIST of class
    // paths per node (mrtarget/modules/EFO.py:147-214 classes_paths;
    // Reactome all_simple_paths, modules/Reactome.py:88). Synthesis gives
    // every id two parents (id/2 and id/3), parsed as TWO subClassOf
    // elements per Class fragment through the real StAX reader, then
    // Ontology.ancestorPaths enumerates every root path by pointer
    // jumping; the oracle re-enumerates them with a recursive CTE.
    "q47_owl_dag_paths" -> ((s, d) => {
      val ids = t(s, d, "documents").select(col("doc_id").as("id"))
        .filter(col("id").between(1, 120))
      val sub = (div: Int) =>
        concat(lit("<rdfs:subClassOf rdf:resource=\"N"),
          (col("id") / div).cast("long"), lit("\"/>"))
      val xml = ids.select(col("id"), concat(
        lit("<rdf:RDF xmlns:rdf=\"http://www.w3.org/1999/02/22-rdf-syntax-ns#\" " +
          "xmlns:rdfs=\"http://www.w3.org/2000/01/rdf-schema#\" " +
          "xmlns:owl=\"http://www.w3.org/2002/07/owl#\"><owl:Class rdf:about=\"N"),
        col("id"), lit("\">"),
        when(col("id") >= 2, sub(2)).otherwise(lit("")),
        when(col("id") >= 3, sub(3)).otherwise(lit("")),
        lit("</owl:Class></rdf:RDF>")).as("xml"))
      val edges = Ontology.subClassEdges(xml, "xml", stripPrefix = "N")
      localizeOntology(s, Ontology.ancestorPathsManaged(edges))(
        _.select(col("id"),
          concat_ws("/", transform(col("anc"), a => a.cast("string"))).as("path")))
    }),
    // real codecs (no stub): synthesize closed-form P6/WAV payloads per
    // doc, parse them with graft.ops.Codecs, and emit decoded features the
    // oracle recomputes arithmetically — decode must invert encode exactly
    "q43_ppm_decode" -> ((s, d) => {
      import s.implicits._
      val ppmUdf = udf(Multimodal.synthPpm _)
      val media = t(s, d, "documents")
        .select(col("doc_id").cast("long").as("id"),
          lit("image/x-portable-pixmap").as("kind"),
          ppmUdf(col("doc_id")).as("media"))
        .as[Multimodal.MediaRow]
      Multimodal.decodeImages(s, media).toDF()
        .select(col("id").as("doc_id"),
          col("width").cast("long").as("width"),
          col("height").cast("long").as("height"),
          round(col("mean_r"), 6).as("mean_r"),
          round(col("mean_g"), 6).as("mean_g"),
          round(col("mean_b"), 6).as("mean_b"),
          round(col("mean_lum"), 6).as("mean_lum"))
    }),
    "q44_wav_decode" -> ((s, d) => {
      import s.implicits._
      val wavUdf = udf(Multimodal.synthWav _)
      val media = t(s, d, "documents")
        .select(col("doc_id").cast("long").as("id"),
          lit("audio/wav").as("kind"),
          wavUdf(col("doc_id")).as("media"))
        .as[Multimodal.MediaRow]
      Multimodal.decodeAudio(s, media).toDF()
        .select(col("id").as("doc_id"),
          col("channels").cast("long").as("channels"),
          col("sample_rate").cast("long").as("sample_rate"),
          col("n_samples").cast("long").as("n_samples"),
          round(col("rms"), 6).as("rms"),
          col("peak").cast("long").as("peak"))
    }),

    // ---- reference scalar score transforms (SURVEY §2.7) ----
    "q27_score_transform" -> ((s, d) =>
      t(s, d, "events").select(col("event_id"),
        round(Scoring.pValueToScoreExpr(col("value") / lit(1000.0)), 6).as("pv_score"),
        round(Scoring.renormalizeExpr(col("value"), (0.0, 500.0), (0.0, 1.0)), 6)
          .as("norm_score"),
        Scoring.sigmoidScalingExpr(col("value")).as("sigmoid"))),

    // ---- per-datasource scoring dispatch tree (§2.7, EvidenceString.py
    // :570-748 shape: branch per datasource, codegen when/otherwise) ----
    "q38_datasource_score" -> ((s, d) =>
      t(s, d, "events").select(col("event_id"),
        round(Scoring.datasourceScoreExpr(col("event_type"), col("value")), 6)
          .as("score"))),

    // ---- A3 hierarchy: datasource -> datatype -> overall harmonic rollup ----
    "q28_harmonic_hierarchy" -> ((s, d) => {
      val e = t(s, d, "events")
        .withColumn("datatype",
          when(col("event_type").isin("click", "view"), "web")
            .when(col("event_type") === "purchase", "commerce")
            .otherwise("account"))
        .withColumn("sc", col("value") / lit(500.0))
      val ds = e.groupBy("user_id", "datatype", "event_type")
        .agg(least(lit(1.0), HarmonicSum.column(100, 2.0)(col("sc"))).as("ds_score"))
      val dt = ds.groupBy("user_id", "datatype")
        .agg(HarmonicSum.column(100, 2.0)(col("ds_score")).as("dt_score"))
      dt.groupBy("user_id")
        .agg(round(least(lit(1.0), HarmonicSum.column(100, 2.0)(col("dt_score"))), 6)
          .as("overall"))
    }),

    // ---- ontology-ancestor propagation (A2 shape: explode ancestors) ----
    "q30_ontology_rollup" -> ((s, d) => {
      val geo = t(s, d, "customer")
        .join(t(s, d, "nation"), col("c_nationkey") === col("n_nationkey"))
        .join(t(s, d, "region"), col("n_regionkey") === col("r_regionkey"))
        .select("c_custkey", "n_name", "r_name")
      t(s, d, "orders").join(broadcast(geo), col("o_custkey") === col("c_custkey"))
        .select(col("o_totalprice"),
          explode(array(col("n_name"), col("r_name"), lit("ROOT"))).as("ancestor"))
        .groupBy("ancestor")
        .agg(round(sum("o_totalprice"), 2).as("rev"), count(lit(1)).as("n_orders"))
    }),

    // ---- ngram suggest (reference edgeNGram_filter: ES ngram 4..10).
    // Served from the PERSISTED suggest artifact the index commit built
    // (IndexBuilder.writeSuggest — the reference's precomputed suggestion
    // fields), not recomputed from the raw corpus: the query is a
    // pushed-down gram probe + per-gram top-3 window. cf in the artifact
    // is the termdict's collection frequency == the corpus token count the
    // oracle derives (whitespace tokens == analyzer tokens on this corpus,
    // the same invariant q21 rests on). ----
    "q31_suggest" -> ((s, d) => {
      val grams = Seq("data", "spar", "merg", "tabl", "wind")
      val idx = documentsIndex(s, d)
      val snap = graft.index.Snapshot.latest(idx).get
      val sug = IndexBuilder.readSuggest(s, s"$idx/${snap.suggestDir.get}")
      val matched = sug.filter(col("gram").isin(grams: _*))
      val w = Window.partitionBy(col("gram")).orderBy(col("cf").desc, col("term").asc)
      matched.withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 3)
        .select(col("gram").as("g"), col("term"), col("cf"), col("rn"))
    }),

    // ---- reference d2d similarity self-join (J9 exact semantics) ----
    "q29_d2d_relation" -> ((s, d) =>
      DataDrivenRelation.weightedOverlapPairs(
        t(s, d, "documents").filter(col("doc_id") < 500), "doc_id", "text", 0.9)),

    // ---- parent/child merge family (A1/A8/J6/J8: the reference's drug
    // merge shape — max/min scalars, collect_set bridge, set-union of
    // child tag arrays, nested top-2 collection; Drug.py:809-906,
    // chembl_lookup.py:83-123). Arrays serialize to sorted canonical
    // strings so the driver's column-hash compare is order-stable. ----
    "q34_parent_merge" -> ((s, d) => {
      t(s, d, "orders").groupBy("o_custkey").agg(
        count(lit(1)).as("n_orders"),
        round(max("o_totalprice"), 2).as("max_price"),
        round(min("o_totalprice"), 2).as("min_price"),
        date_format(max(col("o_orderdate")), "yyyy-MM-dd").as("last_order_date"),
        concat_ws(" ", array_sort(collect_set(col("o_orderstatus")))).as("statuses"),
        concat_ws(" ", array_sort(array_distinct(flatten(collect_list(
          array(col("o_orderstatus"), col("o_orderpriority"))))))).as("tags"),
        concat_ws("|", transform(
          slice(array_sort(collect_list(struct(
            (col("o_totalprice") * -1).as("np"),
            col("o_orderkey").as("k"),
            round(col("o_totalprice") * 100).cast("long").as("cents")))), 1, 2),
          x => format_string("%d:%d", x.getField("k"), x.getField("cents"))))
          .as("top2"))
    }),

    // ---- JSON-lines validation (S6 + §1.3: from_json against a declared
    // schema, parse failures routed with explanations like the reference's
    // evidence validation, Evidences.py:106-283). Corruption is injected
    // deterministically so the invalid channels are non-empty. ----
    "q35_json_validate" -> ((s, d) => {
      val parsed = t(s, d, "events")
        .withColumn("raw",
          when(col("event_id") % 7 === 0, expr("substr(props, 2)"))
            .when(col("event_id") % 11 === 0, lit("{\"wrong\": 1}"))
            .otherwise(col("props")))
        .withColumn("j", from_json(col("raw"), "k INT, _corrupt_record STRING",
          Map("columnNameOfCorruptRecord" -> "_corrupt_record")))
      graft.ops.Routing.explain(parsed, Seq(
        "bad_json" -> col("j").getField("_corrupt_record").isNotNull,
        "missing_k" -> col("j").getField("k").isNull,
        "k_out_of_range" -> (col("j").getField("k") > 90)))
        .select(coalesce(col("explanation"), lit("valid")).as("explanation"))
        .groupBy("explanation").agg(count(lit(1)).as("n"))
    }),

    // ---- NFKD->ascii fold + SaferCast fallback casts (reference
    // Drug.py:116-123, safercast.py:7-89) ----
    "q36_nfkd_cast" -> ((s, d) =>
      t(s, d, "events").select(
        col("event_id"),
        Normalize.nfkdAsciiUdf(
          concat(lit("Crème-Brûlée Ångström île façade "), col("event_type")))
          .as("folded"),
        Normalize.saferDouble(col("event_type"), -1.0).as("et_num"),
        Normalize.saferDouble(col("value").cast("string"), -1.0).as("v_num"))),

    // ---- J4 ambiguity-checked lookup (reference LookupTables.py:91-116:
    // id-resolution joins fail fast on >1 dim hit instead of fanning out;
    // n_hits carries the miss/clean distinction like the dual-route) ----
    "q37_checked_lookup" -> ((s, d) => {
      val dim = t(s, d, "customer").select("c_custkey", "c_mktsegment")
      graft.ops.Lookup.ambiguityChecked(
        t(s, d, "orders").select("o_orderkey", "o_custkey"),
        col("o_custkey"), dim, "c_custkey", strict = true)
        .select(col("o_orderkey"), col("c_mktsegment"), col("n_hits"))
    }),

    // ---- the fulltext engine itself ----
    "q21_bm25_topk" -> ((s, d) => bm25Docs(s, d)),
    "q32_bool_query" -> ((s, d) => boolDocs(s, d)),
    "q33_ids_filter" -> ((s, d) => idsDocs(s, d)),
    // S9 `_source includes` decoration (the reference projects every scan
    // this way, mrtarget/modules/Association.py:308): BM25 top-k through
    // the engine, then Searcher.fetchSource joins the winners against a
    // column-pruned corpus scan for the included fields; the oracle is the
    // q21 BM25 CTE joined back to documents.
    "q49_fetch_source" -> ((s, d) => {
      val hits = Searcher.topK(s, documentsIndex(s, d), Bm25Query, 20)
      val corpus = t(s, d, "documents").select(
        format_string("doc://%08d", col("doc_id")).as("url"),
        col("lang"), col("source"), col("n_chars"))
      Searcher.fetchSource(s, hits, corpus, Seq("lang", "source", "n_chars"))
        .select(expr("cast(substring(url, 7) as bigint)").as("doc_id"),
          round(col("score"), 6).as("score"),
          col("lang"), col("source"), col("n_chars"))
    }),

    // §2.8 FIELD-SCOPED search over the multi-field index: bool-should
    // across two named analyzed fields + an exact keyword filter — the
    // reference's Bool(should=[Match(field1), Match(field2)]) shape
    // (common/LookupTables.py:100-103). Pinned semantics: df/idf per
    // (field, token), tf within its field, doclen = analyzed total; the
    // oracle recomputes the full field-tagged BM25 in SQL.
    "q51_field_search" -> ((s, d) => hitsToDocIds(s,
      Searcher.search(s, multifieldIndex(s, d), BoolQuery(
        should = BoolQuery.fieldText("title", "data spark") ++
          BoolQuery.fieldText("body", "merge"),
        filter = Seq(BoolQuery.keyword("lang", "en"))), 20),
      withScore = true)),

    // §2.8 PER-FIELD BM25 NORMS (ES 7.4 per-field similarity): the same
    // token in two fields of contrasting lengths scores with each field's
    // own dl/avgdl, and a keyword clause in should contributes exactly idf
    // (norms disabled). Oracle recomputes everything from scratch.
    "q55_field_norms" -> ((s, d) => hitsToDocIds(s,
      Searcher.search(s, multifieldIndex(s, d), BoolQuery(
        should = BoolQuery.fieldText("title", "data spark table") ++
          BoolQuery.fieldText("body", "data merge") ++
          Seq(BoolQuery.keyword("lang", "de"))), 20),
      withScore = true)),

    // §2.8 SCAN/SCROLL AT MID SIZE: query-filtered enumeration of 27k+
    // matches (must=linestatus-open, mustNot=shipped-in-january) over a
    // 60k-doc 4-segment index with multi-chunk url tables — the same
    // surface as q54 but at a scale where a driver-side or materializing
    // walk would show, hash-checked row-for-row against DuckDB.
    "q57_scan_midsize" -> ((s, d) =>
      Searcher.matches(s, lineitemIndex(s, d),
        BoolQuery(must = Seq("lso"), mustNot = Seq("m01")))
        .select(expr("cast(substring(url, 6) as bigint)").as("li_key"))),

    // §2.8 DOC-LEVEL COMPLETION (the reference's per-document suggestion
    // inputs + ES completion query returning ranked documents,
    // SearchObjects.py:54-77,334-347): autocomplete fragment 'data' ->
    // ranked documents (weight = #inputs containing the gram, tie-break
    // url asc == doc_id asc), payload-bearing output = the title.
    "q56_doc_suggest" -> ((s, d) => {
      import s.implicits._
      val h = new graft.search.IndexHandle(s, multifieldIndex(s, d), warm = false)
      h.suggestDocs("data", 15).toSeq.toDF("url", "output", "weight")
        .select(expr("cast(substring(url, 7) as bigint)").as("doc_id"),
          col("output"), col("weight").cast("long").as("weight"))
    }),

    // §2.8 DEEP PAGING (search_after; the reference scroll-pages result
    // sets, modules/Association.py:309-311): three pages of 7 stitched via
    // the (score, docId) cursor — each page one top-k pass, no
    // recompute-with-larger-k — must equal the one-shot top-21, which is
    // what the DuckDB oracle computes.
    "q52_search_after" -> ((s, d) => {
      val h = new graft.search.IndexHandle(s, documentsIndex(s, d), warm = false)
      val q = BoolQuery.text(Bm25Query)
      // stop paging on an empty/short page (fewer matches than 3 full
      // pages) instead of cursoring off .last of an empty array
      val pages = Iterator.iterate(h.search(q, 7)) { prev =>
        val c = prev.last
        h.searchAfter(q, 7, Some((c.score, c.docId)))
      }.takeWhile(_.nonEmpty).take(3).toSeq
      hitsToDocIds(s, pages.flatten.toArray, withScore = true)
    }),
    // ES track_total_hits=true / Search.count() (the reference sets it on
    // every lookup and scan, mrtarget/modules/SearchObjects.py:289,334):
    // exact count of live docs matching the q32 bool query — enumerated
    // segment-parallel, no scoring, no k, O(segments) longs to the driver.
    // Oracle: the q32 candidate CTE, counted.
    "q53_track_total" -> ((s, d) => {
      import s.implicits._
      Seq(Searcher.count(s, documentsIndex(s, d), BoolQuery(
        must = Seq("data", "spark"), should = Seq("merge", "window"),
        filter = Seq("table"), mustNot = Seq("slow")))).toDF("total")
    }),
    // ES scan-with-query / scroll (Search().query(q).scan(),
    // mrtarget/modules/Association.py:309-311): the FULL live match set of
    // a bool query as a DataFrame — enumerated segment-parallel, urls
    // resolved by a streaming rank-lockstep walk of each segment's url
    // table. Oracle: the candidate membership recomputed in SQL, with the
    // url re-synthesized from the doc id.
    "q54_scan_query" -> ((s, d) =>
      Searcher.matches(s, documentsIndex(s, d),
          BoolQuery(must = Seq("data"), mustNot = Seq("slow")))
        .select(expr("cast(substring(url, 7) as bigint)").as("doc_id"),
          col("url"))),

    // ---- delete lifecycle (Deletes.scala): soft-deleted docs excluded
    // with Lucene stats semantics (q39), then expunged so stats re-derive
    // over live docs (q40) ----
    "q39_delete_search" -> ((s, d) => hitsToDocIds(s,
      Searcher.topK(s, tombstonedIndex(s, d), Bm25Query, 20), withScore = true)),
    "q40_purge_search" -> ((s, d) => hitsToDocIds(s,
      Searcher.topK(s, purgedIndex(s, d), Bm25Query, 20), withScore = true)),
    "q41_upsert_search" -> ((s, d) => hitsToDocIds(s,
      Searcher.topK(s, upsertedIndex(s, d), Bm25Query, 20), withScore = true))
  )

  def oracleSql: Map[String, String] = Map(
    "q01_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus, round(sum(l_quantity),2) AS sum_qty,
         round(sum(l_extendedprice*(1-l_discount)),2) AS revenue,
         count(*) AS cnt FROM lineitem GROUP BY 1,2""",
    "q02_region_revenue" ->
      """SELECT n_name, round(sum(l_extendedprice*(1-l_discount)),2) AS revenue
         FROM lineitem JOIN supplier ON l_suppkey=s_suppkey
         JOIN nation ON s_nationkey=n_nationkey
         JOIN region ON n_regionkey=r_regionkey
         WHERE r_name='AMERICA' GROUP BY 1""",
    "q03_top_orders_per_cust" ->
      """SELECT o_custkey, o_orderkey, rn FROM (
           SELECT o_custkey, o_orderkey,
                  row_number() OVER (PARTITION BY o_custkey
                    ORDER BY o_totalprice DESC, o_orderkey) AS rn
           FROM orders) WHERE rn <= 3""",
    "q04_semi_join" ->
      """SELECT c_custkey, c_mktsegment FROM customer c
         WHERE EXISTS (SELECT 1 FROM orders o
                       WHERE o.o_custkey=c.c_custkey AND o.o_orderstatus='F')""",
    "q05_anti_join" ->
      """SELECT c_custkey FROM customer c
         WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey=c.c_custkey)""",
    "q06_full_outer_counts" ->
      """SELECT COALESCE(a.o_custkey, b.o_custkey) AS o_custkey,
                COALESCE(a.open_cnt, 0) AS open_cnt,
                COALESCE(b.done_cnt, 0) AS done_cnt
         FROM (SELECT o_custkey, count(*) AS open_cnt FROM orders
               WHERE o_orderstatus='O' GROUP BY 1) a
         FULL JOIN (SELECT o_custkey, count(*) AS done_cnt FROM orders
                    WHERE o_orderstatus='F' GROUP BY 1) b
           ON a.o_custkey=b.o_custkey""",
    "q07_term_df" ->
      """SELECT term, count(DISTINCT doc_id) AS df, count(*) AS cf
         FROM (SELECT doc_id, unnest(string_split(text,' ')) AS term
               FROM documents) GROUP BY 1""",
    "q08_harmonic_user" ->
      """SELECT user_id, round(sum(value/pow(rn,2)),6) AS hs FROM (
           SELECT user_id, value, row_number() OVER (PARTITION BY user_id
             ORDER BY value DESC, event_id) AS rn FROM events)
         WHERE rn <= 100 GROUP BY 1""",
    "q09_event_validate" ->
      """SELECT CASE
           WHEN event_type NOT IN ('click','view','purchase') THEN 'unknown_type'
           WHEN value > 300.0 THEN 'value_out_of_range'
           WHEN props NOT LIKE '{%' THEN 'bad_props'
           ELSE 'valid' END AS explanation, count(*) AS n
         FROM events GROUP BY 1""",
    "q23_rollup_qty" ->
      """SELECT l_returnflag, l_linestatus, round(sum(l_quantity),2) AS sum_qty
         FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)""",
    "q24_sessionize" ->
      """WITH g AS (
           SELECT user_id, event_id, ts,
                  lag(epoch_us(ts)) OVER w AS prev_us,
                  CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
                         OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000
                       THEN 1 ELSE 0 END AS new_sess
           FROM events
           WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
         s AS (
           SELECT user_id,
                  CAST(sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS sess
           FROM g),
         per AS (SELECT user_id, sess, count(*) AS n FROM s GROUP BY 1,2)
         SELECT user_id, max(sess) AS n_sessions,
                max(n) AS max_session_events FROM per GROUP BY 1""",
    "q25_pivot_events" ->
      """SELECT user_id,
           CAST(sum(CASE WHEN event_type='click' THEN 1 ELSE 0 END) AS BIGINT) AS click,
           CAST(sum(CASE WHEN event_type='view' THEN 1 ELSE 0 END) AS BIGINT) AS view,
           CAST(sum(CASE WHEN event_type='purchase' THEN 1 ELSE 0 END) AS BIGINT) AS purchase,
           CAST(sum(CASE WHEN event_type='error' THEN 1 ELSE 0 END) AS BIGINT) AS error,
           CAST(sum(CASE WHEN event_type='signup' THEN 1 ELSE 0 END) AS BIGINT) AS signup
         FROM events GROUP BY 1""",
    "q20_unpivot_part" ->
      """SELECT p_partkey, 'size' AS attr, CAST(p_size AS DOUBLE) AS val FROM part
         UNION ALL
         SELECT p_partkey, 'retailprice' AS attr, p_retailprice AS val FROM part""",
    "q10_dedup_exact" ->
      """SELECT md5(text) AS h, count(*) AS n, min(doc_id) AS keeper
         FROM documents GROUP BY 1""",
    "q11_jaccard_neardup" ->
      JaccardSql,
    "q17_minhash_neardup" ->
      JaccardSql, // LSH recall is 1.0 on this corpus (verified in DedupSpec):
                  // candidates >= all true pairs at jaccard >= 0.5
    // full simhash recomputation: md5-derived 64-bit token hashes
    // (Hashing.md5Hash64 == ('0x'||substr(md5(t),1,16))::UBIGINT), weighted
    // bit votes (ties -> 0), emitted as the same 16-hex-digit string.
    // Assumes whitespace-tokenized corpus == analyzer tokens (true for the
    // driver documents table; same assumption as q21).
    "q18_simhash_sig" ->
      s"""$SimhashCte
         SELECT doc_id, lower(lpad(to_hex(sh), 16, '0')) AS simhash FROM v""",
    // band join + XOR bit_count Hamming, recomputed end-to-end from the
    // raw text (shares the signature CTE with q18). The banded candidate
    // generation is provably lossless at maxHamming<=3: 3 differing bits
    // touch at most 3 of the 4 16-bit bands (pigeonhole), so candidates ==
    // all qualifying pairs and the oracle may band too (keeping its join
    // O(collisions), not O(n^2)).
    "q48_simhash_pairs" -> SimhashPairsSql,
    // identical output contract to q48 (both bandings are recall-exact at
    // Hamming<=3), so the oracle is the SAME recomputation — one shared
    // val, so a banding/verify change cannot silently miss one copy
    "q50_simhash_pairs_wide" -> SimhashPairsSql,
    // full LSH recomputation: md5-derived hyperplanes (identical doubles to
    // SimSearch.hyperplane), sign buckets per (table, plane), candidate
    // bucket join, exact cosine re-rank — the oracle runs the ENTIRE ANN
    // pipeline independently. dim=64 pinned by the driver embeddings table.
    "q22_ann_lsh" ->
      """WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
                    FROM embeddings),
         planes AS (
           SELECT t, p, list(comp ORDER BY d) AS pv FROM (
             SELECT t, p, d,
               (CASE WHEN ub >= 9223372036854775808::UBIGINT
                     THEN ub::HUGEINT - 18446744073709551616::HUGEINT
                     ELSE ub::HUGEINT END)::DOUBLE / 9223372036854775807.0 AS comp
             FROM (SELECT t.range AS t, p.range AS p, d.range AS d,
                     ('0x'||substr(md5('plane:'||CAST(t.range*12+p.range AS VARCHAR)
                       ||':'||CAST(d.range AS VARCHAR)),1,16))::UBIGINT AS ub
                   FROM range(0,4) t, range(0,12) p, range(0,64) d))
           GROUP BY 1,2),
         buckets AS (
           SELECT e.vec_id, pl.t AS tbl,
                  CAST(sum(CASE WHEN list_dot_product(e.v, pl.pv) >= 0
                                THEN (1::UBIGINT << pl.p) ELSE 0::UBIGINT END)
                    AS UBIGINT) AS bucket
           FROM e CROSS JOIN planes pl GROUP BY 1,2),
         cand AS (
           SELECT DISTINCT p.vec_id AS probe_id, n.vec_id AS nbr_id
           FROM buckets p JOIN buckets n ON p.tbl = n.tbl AND p.bucket = n.bucket
           WHERE p.vec_id < 10 AND n.vec_id <> p.vec_id),
         scored AS (
           SELECT c.probe_id, c.nbr_id,
                  round(list_cosine_similarity(nv.v, pv.v), 6) AS cos
           FROM cand c JOIN e pv ON pv.vec_id = c.probe_id
                       JOIN e nv ON nv.vec_id = c.nbr_id),
         ranked AS (
           SELECT probe_id, nbr_id, cos,
                  row_number() OVER (PARTITION BY probe_id
                    ORDER BY cos DESC, nbr_id) AS rnk
           FROM scored)
         SELECT probe_id, nbr_id, rnk, cos FROM ranked WHERE rnk <= 5""",
    // full IVF recomputation: md5-ranked deterministic centroid sample,
    // nearest-cell assignment by 6-dp-rounded cosine (tie -> lowest
    // centroid id), nprobe=3 probed cells, exact cosine re-rank — the
    // oracle runs the ENTIRE IVF pipeline independently (nlist=16).
    "q42_ivf_ann" ->
      """WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
                    FROM embeddings),
         h AS (SELECT vec_id, v,
                 (CASE WHEN ub >= 9223372036854775808::UBIGINT
                       THEN ub::HUGEINT - 18446744073709551616::HUGEINT
                       ELSE ub::HUGEINT END) AS hv
               FROM (SELECT vec_id, v,
                       ('0x'||substr(md5('ivf:'||CAST(vec_id AS VARCHAR)),1,16))::UBIGINT AS ub
                     FROM e)),
         cent AS (SELECT vec_id AS cid, v AS cv
                  FROM h ORDER BY hv, vec_id LIMIT 16),
         asg AS (SELECT vec_id, cid FROM (
                   SELECT e.vec_id, c.cid,
                     row_number() OVER (PARTITION BY e.vec_id
                       ORDER BY round(list_cosine_similarity(e.v, c.cv), 6) DESC,
                                c.cid) AS rn
                   FROM e CROSS JOIN cent c) WHERE rn = 1),
         pcells AS (SELECT vec_id AS probe_id, cid FROM (
                   SELECT e.vec_id, c.cid,
                     row_number() OVER (PARTITION BY e.vec_id
                       ORDER BY round(list_cosine_similarity(e.v, c.cv), 6) DESC,
                                c.cid) AS rn
                   FROM e CROSS JOIN cent c WHERE e.vec_id < 10) WHERE rn <= 3),
         cand AS (SELECT p.probe_id, a.vec_id AS nbr_id
                  FROM pcells p JOIN asg a ON a.cid = p.cid
                  WHERE a.vec_id <> p.probe_id),
         scored AS (SELECT c.probe_id, c.nbr_id,
                      round(list_cosine_similarity(nv.v, pv.v), 6) AS cos
                    FROM cand c JOIN e pv ON pv.vec_id = c.probe_id
                                JOIN e nv ON nv.vec_id = c.nbr_id),
         ranked AS (SELECT probe_id, nbr_id, cos,
                      row_number() OVER (PARTITION BY probe_id
                        ORDER BY cos DESC, nbr_id) AS rnk
                    FROM scored)
         SELECT probe_id, nbr_id, rnk, cos FROM ranked WHERE rnk <= 5""",
    "q16_embedding_neardup" ->
      """WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
                    FROM embeddings)
         SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                round(list_cosine_similarity(a.v, b.v), 6) AS cos
         FROM e a JOIN e b ON a.vec_id < b.vec_id
         WHERE round(list_cosine_similarity(a.v, b.v), 6) >= 0.4""",
    "q15_cosine_topk" ->
      """WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
                    FROM embeddings),
         scored AS (
           SELECT p.vec_id AS probe_id, n.vec_id AS nbr_id,
                  round(list_cosine_similarity(n.v, p.v), 6) AS cos
           FROM e p JOIN e n ON n.vec_id <> p.vec_id
           WHERE p.vec_id < 10),
         ranked AS (
           SELECT probe_id, nbr_id, cos,
                  row_number() OVER (PARTITION BY probe_id
                    ORDER BY cos DESC, nbr_id) AS rnk
           FROM scored)
         SELECT probe_id, nbr_id, rnk, cos FROM ranked WHERE rnk <= 5""",
    "q12_fingerprint" ->
      """SELECT doc_id,
           md5(array_to_string(list_sort(list_distinct(string_split(lower(text),' '))),' ')) AS fp
         FROM documents""",
    "q13_quality" ->
      """SELECT doc_id,
           len(string_split(text,' ')) AS n_tokens,
           len(list_distinct(string_split(text,' '))) AS n_distinct,
           round(len(list_distinct(string_split(text,' ')))*1.0
                 / len(string_split(text,' ')), 6) AS type_token_ratio,
           round((length(text) - len(string_split(text,' ')) + 1)*1.0
                 / len(string_split(text,' ')), 6) AS avg_token_len,
           strlen(text) AS n_bytes
         FROM documents""",
    "q14_langid" ->
      """WITH toks AS (SELECT doc_id, list_distinct(string_split(text,' ')) AS tk
                       FROM documents),
         v AS (SELECT doc_id,
            len(list_intersect(tk, ['the','a','of','and','is'])) AS c_en,
            len(list_intersect(tk, ['el','la','de','y','es'])) AS c_es,
            len(list_intersect(tk, ['der','die','das','und','ist'])) AS c_de,
            len(list_intersect(tk, ['le','la','de','et','est'])) AS c_fr
           FROM toks),
         m AS (SELECT doc_id, c_en, c_es, c_de, c_fr,
                      greatest(c_en, c_es, c_de, c_fr) AS best FROM v)
         SELECT doc_id, CASE
           WHEN best = 0 THEN 'und'
           WHEN (CASE WHEN c_de=best THEN 1 ELSE 0 END +
                 CASE WHEN c_en=best THEN 1 ELSE 0 END +
                 CASE WHEN c_es=best THEN 1 ELSE 0 END +
                 CASE WHEN c_fr=best THEN 1 ELSE 0 END) > 1 THEN 'und'
           WHEN c_de=best THEN 'de' WHEN c_en=best THEN 'en'
           WHEN c_es=best THEN 'es' ELSE 'fr' END AS pred_lang
         FROM m""",
    "q19_token_regex_stats" ->
      """SELECT doc_id,
           len(string_split(text,' ')) AS n_ws_tokens,
           len(regexp_extract_all(text,'[a-z]+')) AS n_alpha_runs,
           len(regexp_extract_all(text,'[a-z]{1,4}')) AS n_bpe_pieces
         FROM documents""",
    "q26_media_stats" ->
      """SELECT doc_id, strlen(text) AS n_bytes,
           CAST(CASE WHEN length(text)=0 THEN 0 ELSE ascii(substr(text,1,1)) END AS BIGINT) AS head_byte,
           strlen(text) % 640 AS width,
           (strlen(text) * 7) % 480 AS height
         FROM documents""",
    "q45_xml_roundtrip" ->
      """SELECT doc_id, lang, source, n_chars FROM documents
         WHERE lang IS NOT NULL AND source IS NOT NULL
           AND n_chars IS NOT NULL
           AND NOT regexp_matches(lang, '[\x00-\x08\x0B-\x1F]')
           AND NOT regexp_matches(source, '[\x00-\x08\x0B-\x1F]')""",
    // transitive ancestor closure recomputed with a recursive CTE; d DESC
    // puts the topmost ancestor first, matching the engine's root-first
    // chain order
    "q46_owl_ancestors" ->
      """WITH RECURSIVE
         ids AS (SELECT doc_id AS id FROM documents WHERE doc_id BETWEEN 1 AND 120),
         edges AS (SELECT id, id // 2 AS parent FROM ids WHERE id >= 2),
         anc AS (
           SELECT e.id, e.parent AS node, 1 AS d FROM edges e
           UNION ALL
           SELECT a.id, e.parent, a.d + 1 FROM anc a JOIN edges e ON e.id = a.node
         )
         SELECT id, string_agg(CAST(node AS VARCHAR), '/' ORDER BY d DESC) AS path
         FROM anc GROUP BY id""",
    // DAG all-paths: the recursive CTE carries the path STRING and
    // branches per parent edge; a row is a maximal path exactly when its
    // top node has no parent edge. The two edge branches are made DISJOINT
    // (id//3 <> id//2 guard) instead of relying on UNION dedup: DuckDB
    // inlines non-recursive CTEs into the recursive member, where the
    // union's distinct can be pushed past the join and the doubly-asserted
    // (3,1) edge would match twice, duplicating every path through node 3.
    // This mirrors the engine's edge-SET dedup in ancestorPaths.
    "q47_owl_dag_paths" ->
      """WITH RECURSIVE
         ids AS (SELECT doc_id AS id FROM documents WHERE doc_id BETWEEN 1 AND 120),
         edges AS (
           SELECT id, id // 2 AS parent FROM ids WHERE id >= 2
           UNION ALL
           SELECT id, id // 3 AS parent FROM ids
           WHERE id >= 3 AND id // 3 <> id // 2),
         anc AS (
           SELECT e.id, e.parent AS node, CAST(e.parent AS VARCHAR) AS path
           FROM edges e
           UNION ALL
           SELECT a.id, e.parent, CAST(e.parent AS VARCHAR) || '/' || a.path
           FROM anc a JOIN edges e ON e.id = a.node)
         SELECT id, path FROM anc
         WHERE node NOT IN (SELECT id FROM edges)""",
    // closed-form recomputation of the synthesized P6 pixels: the engine
    // decodes real PPM bytes; the oracle never sees bytes, only the
    // generating arithmetic. Channel sums are small exact integers, so the
    // means agree bit-for-bit before rounding.
    "q43_ppm_decode" ->
      """WITH d AS (SELECT doc_id, 4 + (doc_id % 5) AS w, 3 + (doc_id % 4) AS h
                    FROM documents),
         px AS (SELECT d.doc_id, d.w, d.h, r.range AS o,
                  (d.doc_id * 31 + r.range) % 256 AS v
                FROM d, range(0, 144) r WHERE r.range < d.w * d.h * 3),
         ch AS (SELECT doc_id, w, h,
                  avg(CASE WHEN o % 3 = 0 THEN v END) AS mr,
                  avg(CASE WHEN o % 3 = 1 THEN v END) AS mg,
                  avg(CASE WHEN o % 3 = 2 THEN v END) AS mb
                FROM px GROUP BY 1, 2, 3)
         SELECT doc_id, w AS width, h AS height,
           round(mr, 6) AS mean_r, round(mg, 6) AS mean_g,
           round(mb, 6) AS mean_b,
           round(0.299 * mr + 0.587 * mg + 0.114 * mb, 6) AS mean_lum
         FROM ch""",
    // same pattern for the synthesized mono PCM WAV payloads
    "q44_wav_decode" ->
      """WITH d AS (SELECT doc_id, 50 + (doc_id % 100) AS n FROM documents),
         s AS (SELECT d.doc_id, d.n,
                 ((d.doc_id * 7919 + r.range * 104729) % 65536) - 32768 AS v
               FROM d, range(0, 150) r WHERE r.range < d.n),
         agg AS (SELECT doc_id, n, sqrt(sum(v * v)::DOUBLE / n) AS rms,
                   max(abs(v)) AS peak
                 FROM s GROUP BY 1, 2)
         SELECT doc_id, 1::BIGINT AS channels, 8000::BIGINT AS sample_rate,
           n AS n_samples, round(rms, 6) AS rms, peak AS peak
         FROM agg""",
    "q27_score_transform" ->
      """SELECT event_id,
           round(LEAST(1.0, GREATEST(0.0,
             (1.0 * ((CASE WHEN value > 0 THEN log10(value/1000.0)
                           ELSE -10.0 END) - 0.0)) / (-10.0) + 0.0)), 6) AS pv_score,
           round(LEAST(1.0, GREATEST(0.0,
             (1.0 * (value - 0.0)) / 500.0 + 0.0)), 6) AS norm_score,
           round(2.0 / (1.0 + exp((1.0/100.0) * (value - 1.0))), 3) AS sigmoid
         FROM events""",
    "q28_harmonic_hierarchy" ->
      """WITH scored AS (
           SELECT user_id, event_id, event_type,
                  CASE WHEN event_type IN ('click','view') THEN 'web'
                       WHEN event_type='purchase' THEN 'commerce'
                       ELSE 'account' END AS datatype,
                  value/500.0 AS sc
           FROM events),
         r1 AS (SELECT user_id, datatype, event_type, sc,
                  row_number() OVER (PARTITION BY user_id, event_type
                    ORDER BY sc DESC, event_id) AS rn FROM scored),
         ds AS (SELECT user_id, datatype, event_type,
                  LEAST(1.0, sum(sc/pow(rn,2))) AS ds_score
                FROM r1 WHERE rn <= 100 GROUP BY 1,2,3),
         r2 AS (SELECT user_id, datatype, ds_score,
                  row_number() OVER (PARTITION BY user_id, datatype
                    ORDER BY ds_score DESC, event_type) AS rn FROM ds),
         dt AS (SELECT user_id, datatype, sum(ds_score/pow(rn,2)) AS dt_score
                FROM r2 WHERE rn <= 100 GROUP BY 1,2),
         r3 AS (SELECT user_id, dt_score,
                  row_number() OVER (PARTITION BY user_id
                    ORDER BY dt_score DESC, datatype) AS rn FROM dt)
         SELECT user_id, round(LEAST(1.0, sum(dt_score/pow(rn,2))),6) AS overall
         FROM r3 WHERE rn <= 100 GROUP BY 1""",
    "q30_ontology_rollup" ->
      """SELECT ancestor, round(sum(o_totalprice),2) AS rev, count(*) AS n_orders
         FROM (SELECT o_totalprice, unnest([n_name, r_name, 'ROOT']) AS ancestor
               FROM orders JOIN customer ON o_custkey=c_custkey
               JOIN nation ON c_nationkey=n_nationkey
               JOIN region ON n_regionkey=r_regionkey)
         GROUP BY 1""",
    "q31_suggest" ->
      """WITH terms AS (SELECT term, count(*) AS cf FROM
           (SELECT unnest(string_split(text,' ')) AS term FROM documents)
           GROUP BY 1),
         m AS (SELECT p.g, t.term, t.cf FROM terms t
               JOIN (VALUES ('data'),('spar'),('merg'),('tabl'),('wind')) p(g)
                 ON contains(t.term, p.g)),
         r AS (SELECT g, term, cf,
                 row_number() OVER (PARTITION BY g ORDER BY cf DESC, term) AS rn
               FROM m)
         SELECT g, term, cf, rn FROM r WHERE rn <= 3""",
    "q29_d2d_relation" ->
      """WITH d AS (SELECT doc_id, text FROM documents WHERE doc_id < 500),
         toks AS (SELECT DISTINCT doc_id, unnest(string_split(text,' ')) AS tok FROM d),
         nn AS (SELECT count(*) AS n FROM d),
         w AS (SELECT tok, count(*)*1.0/(SELECT n FROM nn) AS w FROM toks GROUP BY 1),
         tw AS (SELECT doc_id, toks.tok, w.w FROM toks JOIN w ON toks.tok = w.tok),
         sums AS (SELECT doc_id, sum(w) AS ws FROM tw GROUP BY 1),
         inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, sum(a.w) AS iw
                   FROM tw a JOIN tw b ON a.tok = b.tok AND a.doc_id < b.doc_id
                   GROUP BY 1,2)
         SELECT id_a, id_b,
                round(sqrt(iw/(sa.ws + sb.ws - iw)), 6) AS sim
         FROM inter JOIN sums sa ON sa.doc_id = id_a
                    JOIN sums sb ON sb.doc_id = id_b
         WHERE round(sqrt(iw/(sa.ws + sb.ws - iw)), 6) >= 0.9""",
    "q21_bm25_topk" ->
      s"""$Bm25ScoreCte
         SELECT doc_id, round(score,6) AS score FROM
           (SELECT doc_id, score FROM sc ORDER BY score DESC, doc_id LIMIT 20)""",
    // q52: the engine stitches 3 search_after pages of 7; the oracle is
    // simply the one-shot top-21 of the same BM25 ranking — page stitching
    // must be indistinguishable from a single larger query
    "q52_search_after" ->
      s"""$Bm25ScoreCte
         SELECT doc_id, round(score,6) AS score FROM
           (SELECT doc_id, score FROM sc ORDER BY score DESC, doc_id LIMIT 21)""",
    // q53: exact total-hit count of the q32 bool query (ES
    // track_total_hits) — the q32 candidate membership CTE, counted
    "q53_track_total" ->
      """WITH toks AS (SELECT doc_id, unnest(string_split(text,' ')) AS term
                       FROM documents),
         cand AS (
           SELECT DISTINCT t.doc_id FROM toks t
           WHERE EXISTS (SELECT 1 FROM toks x WHERE x.doc_id=t.doc_id AND x.term='data')
             AND EXISTS (SELECT 1 FROM toks x WHERE x.doc_id=t.doc_id AND x.term='spark')
             AND EXISTS (SELECT 1 FROM toks x WHERE x.doc_id=t.doc_id AND x.term='table')
             AND NOT EXISTS (SELECT 1 FROM toks x WHERE x.doc_id=t.doc_id AND x.term='slow'))
         SELECT count(*) AS total FROM cand""",
    // q54: full match-set enumeration of must=data mustNot=slow; the url
    // is a pure function of doc_id in the driver corpus
    "q54_scan_query" ->
      """WITH toks AS (SELECT doc_id, unnest(string_split(text,' ')) AS term
                       FROM documents),
         cand AS (
           SELECT DISTINCT t.doc_id FROM toks t
           WHERE EXISTS (SELECT 1 FROM toks x WHERE x.doc_id=t.doc_id AND x.term='data')
             AND NOT EXISTS (SELECT 1 FROM toks x WHERE x.doc_id=t.doc_id AND x.term='slow'))
         SELECT doc_id, printf('doc://%08d', doc_id) AS url FROM cand""",
    // NB: the top-20 cuts order by the UNROUNDED score (inner query), exactly
    // like the engine ranks by the exact double — rounding happens after the
    // cut on both sides, so a <5e-7 boundary tie cannot flip the doc set.
    "q32_bool_query" ->
      s"""WITH toks AS (SELECT doc_id, unnest(string_split(text,' ')) AS term
                       FROM documents),
         dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY 1),
         st AS (SELECT count(*) AS n, sum(dl) AS sumdl FROM dl),
         cand AS (
           SELECT d.doc_id FROM dl d
           WHERE EXISTS (SELECT 1 FROM toks t WHERE t.doc_id=d.doc_id AND t.term='data')
             AND EXISTS (SELECT 1 FROM toks t WHERE t.doc_id=d.doc_id AND t.term='spark')
             AND EXISTS (SELECT 1 FROM toks t WHERE t.doc_id=d.doc_id AND t.term='table')
             AND NOT EXISTS (SELECT 1 FROM toks t WHERE t.doc_id=d.doc_id AND t.term='slow')),
         tf AS (SELECT doc_id, term, count(*) AS tf FROM toks
                WHERE term IN ('data','merge','spark','window') GROUP BY 1,2),
         df AS (SELECT term, count(DISTINCT doc_id) AS df FROM toks
                WHERE term IN ('data','merge','spark','window') GROUP BY 1),
         sc AS (SELECT tf.doc_id,
                  ${Bm25ScoreExprSql}
                    AS score
                FROM tf JOIN df USING(term) JOIN dl USING(doc_id) CROSS JOIN st
                WHERE tf.doc_id IN (SELECT doc_id FROM cand)
                GROUP BY 1)
         SELECT doc_id, round(score,6) AS score FROM
           (SELECT doc_id, score FROM sc ORDER BY score DESC, doc_id LIMIT 20)""",
    "q33_ids_filter" ->
      """SELECT doc_id FROM documents d
         WHERE doc_id IN (3,57,123,250,444,499)
           AND EXISTS (SELECT 1 FROM
                 (SELECT unnest(string_split(d.text,' ')) AS term) t
                 WHERE t.term='data')""",
    "q34_parent_merge" ->
      """SELECT o_custkey,
           count(*) AS n_orders,
           round(max(o_totalprice),2) AS max_price,
           round(min(o_totalprice),2) AS min_price,
           strftime(max(o_orderdate), '%Y-%m-%d') AS last_order_date,
           array_to_string(list_sort(list(DISTINCT o_orderstatus)), ' ') AS statuses,
           array_to_string(list_sort(list_distinct(flatten(
             list([o_orderstatus, o_orderpriority])))), ' ') AS tags,
           array_to_string(list_transform(
             list_sort(list([-o_totalprice, CAST(o_orderkey AS DOUBLE),
                             CAST(round(o_totalprice*100) AS DOUBLE)]))[1:2],
             x -> printf('%d:%d', CAST(x[2] AS BIGINT), CAST(x[3] AS BIGINT))),
             '|') AS top2
         FROM orders GROUP BY 1""",
    "q35_json_validate" ->
      """SELECT CASE
           WHEN NOT json_valid(raw) THEN 'bad_json'
           WHEN json_extract(raw, '$.k') IS NULL THEN 'missing_k'
           WHEN CAST(json_extract(raw, '$.k') AS INTEGER) > 90 THEN 'k_out_of_range'
           ELSE 'valid' END AS explanation, count(*) AS n
         FROM (SELECT CASE WHEN event_id % 7 = 0 THEN substr(props, 2)
                           WHEN event_id % 11 = 0 THEN '{"wrong": 1}'
                           ELSE props END AS raw FROM events)
         GROUP BY 1""",
    "q37_checked_lookup" ->
      """SELECT o_orderkey, c_mktsegment,
           CASE WHEN c_custkey IS NULL THEN 0 ELSE 1 END AS n_hits
         FROM orders LEFT JOIN customer ON o_custkey = c_custkey""",
    "q38_datasource_score" ->
      """SELECT event_id, round(CASE
           WHEN event_type='click' THEN LEAST(1.0, GREATEST(0.0,
             (1.0 * ((CASE WHEN value > 0 THEN log10(value/1000.0)
                           ELSE -10.0 END) - 0.0)) / (-10.0) + 0.0))
           WHEN event_type='view' THEN LEAST(1.0, value/100.0)
           WHEN event_type='purchase' THEN
             LEAST(1.0, GREATEST(0.5, 0.5*(value-0.0)/500.0 + 0.5)) * 0.7
           WHEN event_type='signup' THEN
             CASE WHEN value < 100 THEN 0.1 WHEN value < 300 THEN 0.5 ELSE 1.0 END
           ELSE round(2.0 / (1.0 + exp((1.0/100.0) * (value - 1.0))), 3)
           END, 6) AS score
         FROM events""",
    // q39: tombstone phase — docs containing 'merge' are excluded from
    // results, but N/avgdl/df (dl/st/df CTEs) still count them, exactly
    // like Lucene between a delete and a merge.
    "q39_delete_search" ->
      s"""WITH toks AS (SELECT doc_id, unnest(string_split(text,' ')) AS term
                        FROM documents),
         del AS (SELECT DISTINCT doc_id FROM toks WHERE term = 'merge'),
         dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY 1),
         st AS (SELECT count(*) AS n, sum(dl) AS sumdl FROM dl),
         tf AS (SELECT doc_id, term, count(*) AS tf FROM toks
                WHERE term IN (${Bm25Terms.map("'" + _ + "'").mkString(",")})
                GROUP BY 1,2),
         df AS (SELECT term, count(DISTINCT doc_id) AS df FROM toks
                WHERE term IN (${Bm25Terms.map("'" + _ + "'").mkString(",")})
                GROUP BY 1),
         sc AS (SELECT tf.doc_id,
                  ${Bm25ScoreExprSql}
                    AS score
                FROM tf JOIN df USING(term) JOIN dl USING(doc_id) CROSS JOIN st
                WHERE tf.doc_id NOT IN (SELECT doc_id FROM del)
                GROUP BY 1)
         SELECT doc_id, round(score,6) AS score FROM
           (SELECT doc_id, score FROM sc ORDER BY score DESC, doc_id LIMIT 20)""",
    // q40: purge phase — the expunged index must score exactly like a fresh
    // build over the live docs, so every stat derives from live toks only.
    "q40_purge_search" ->
      s"""WITH toks0 AS (SELECT doc_id, unnest(string_split(text,' ')) AS term
                         FROM documents),
         del AS (SELECT DISTINCT doc_id FROM toks0 WHERE term = 'merge'),
         toks AS (SELECT * FROM toks0
                  WHERE doc_id NOT IN (SELECT doc_id FROM del)),
         dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY 1),
         st AS (SELECT count(*) AS n, sum(dl) AS sumdl FROM dl),
         tf AS (SELECT doc_id, term, count(*) AS tf FROM toks
                WHERE term IN (${Bm25Terms.map("'" + _ + "'").mkString(",")})
                GROUP BY 1,2),
         df AS (SELECT term, count(DISTINCT doc_id) AS df FROM toks
                WHERE term IN (${Bm25Terms.map("'" + _ + "'").mkString(",")})
                GROUP BY 1),
         sc AS (SELECT tf.doc_id,
                  ${Bm25ScoreExprSql}
                    AS score
                FROM tf JOIN df USING(term) JOIN dl USING(doc_id) CROSS JOIN st
                GROUP BY 1)
         SELECT doc_id, round(score,6) AS score FROM
           (SELECT doc_id, score FROM sc ORDER BY score DESC, doc_id LIMIT 20)""",
    // q41: recrawl upsert — both versions of a recrawled doc count in
    // N/avgdl/df (tombstone-not-purged, ES/Lucene semantics); only the
    // LATEST version is a candidate. Engine tie-break is docId asc and
    // every appended-generation docId sorts above every original one, so
    // the oracle's tie key is (isnew, doc_id).
    "q41_upsert_search" ->
      s"""WITH allv AS (
           SELECT doc_id, text, (doc_id % 7 = 0) AS dead, 0 AS isnew
           FROM documents
           UNION ALL
           SELECT doc_id, text || ' recrawled fresh data' AS text,
                  false AS dead, 1 AS isnew
           FROM documents WHERE doc_id % 7 = 0),
         toks AS (SELECT doc_id, isnew, dead,
                         unnest(string_split(text,' ')) AS term FROM allv),
         dl AS (SELECT doc_id, isnew, dead, count(*) AS dl FROM toks
                GROUP BY 1,2,3),
         st AS (SELECT count(*) AS n, sum(dl) AS sumdl FROM dl),
         tf AS (SELECT doc_id, isnew, dead, term, count(*) AS tf FROM toks
                WHERE term IN (${Bm25Terms.map("'" + _ + "'").mkString(",")})
                GROUP BY 1,2,3,4),
         df AS (SELECT term, count(*) AS df FROM
                  (SELECT DISTINCT doc_id, isnew, term FROM toks
                   WHERE term IN (${Bm25Terms.map("'" + _ + "'").mkString(",")}))
                GROUP BY 1),
         sc AS (SELECT tf.doc_id, tf.isnew,
                  ${Bm25ScoreExprSql}
                    AS score
                FROM tf JOIN df USING(term)
                     JOIN dl ON dl.doc_id = tf.doc_id AND dl.isnew = tf.isnew
                     CROSS JOIN st
                WHERE NOT tf.dead
                GROUP BY 1,2)
         SELECT doc_id, round(score,6) AS score FROM
           (SELECT doc_id, score FROM sc ORDER BY score DESC, isnew, doc_id
            LIMIT 20)""",
    // q49: the q21 BM25 top-20 (same shared CTE) joined back to the corpus
    // for the `_source includes` fields — the oracle for fetchSource's
    // decoration
    "q49_fetch_source" ->
      s"""$Bm25ScoreCte,
         top AS (SELECT doc_id, score FROM sc ORDER BY score DESC, doc_id LIMIT 20)
         SELECT t.doc_id, round(t.score, 6) AS score, d.lang, d.source, d.n_chars
         FROM top t JOIN documents d USING (doc_id)""",
    "q36_nfkd_cast" ->
      """SELECT event_id,
           strip_accents('Crème-Brûlée Ångström île façade ' || event_type) AS folded,
           COALESCE(try_cast(event_type AS DOUBLE), -1.0) AS et_num,
           COALESCE(try_cast(CAST(value AS VARCHAR) AS DOUBLE), -1.0) AS v_num
         FROM events""",
    // q51: full field-tagged BM25 recomputation — title = tokens 1..5,
    // body = the rest (exactly the engine's multifieldIndex derivation),
    // df per (field, term), tf within the field, and PER-FIELD norms (ES
    // 7.4 per-field similarity): each field scores with its own dl and
    // avgdl = sum(field length)/docs-with-field; idf over the TOTAL doc
    // count (pinned choice, same in OracleSearch.fieldTopK). Candidates =
    // the keyword filter (lang='en'); docs with no should match are hits
    // scoring 0.0 (pinned pure-filter semantics), hence the LEFT JOIN.
    // Top-20 cut on the UNROUNDED score like q21.
    "q51_field_search" ->
      s"""$FieldBm25Ctes,
         q(f, term) AS (VALUES ('title','data'),('title','spark'),('body','merge')),
         $FieldBm25ScoreCte,
         cand AS (SELECT b.doc_id, coalesce(sc.score, 0.0) AS score
                  FROM base b LEFT JOIN sc ON sc.doc_id = b.doc_id
                  WHERE b.lang = 'en')
         SELECT doc_id, round(score,6) AS score FROM
           (SELECT doc_id, score FROM cand ORDER BY score DESC, doc_id LIMIT 20)""",
    // q55: per-field norms made VISIBLE — a bool-should across two fields
    // of deliberately contrasting lengths (title ~5 tokens, body the rest:
    // the same token scores very differently per field because each field
    // normalizes by ITS dl/avgdl) plus a SCORING keyword clause
    // (norms-disabled: tf=1, dl/avgdl pinned to 1 -> contribution exactly
    // idf). Oracle recomputes both parts from scratch.
    "q55_field_norms" ->
      s"""$FieldBm25Ctes,
         q(f, term) AS (VALUES ('title','data'),('title','spark'),
                              ('title','table'),('body','data'),('body','merge')),
         $FieldBm25ScoreCte,
         dfk AS (SELECT count(*) AS dfk FROM base WHERE lang = 'de'),
         kw AS (SELECT b.doc_id,
                  ln(1 + (st.n - dfk.dfk + 0.5)/(dfk.dfk + 0.5)) AS score
                FROM base b CROSS JOIN st CROSS JOIN dfk
                WHERE b.lang = 'de'),
         allsc AS (SELECT doc_id, sum(score) AS score FROM
                    (SELECT * FROM sc UNION ALL SELECT * FROM kw)
                   GROUP BY 1)
         SELECT doc_id, round(score,6) AS score FROM
           (SELECT doc_id, score FROM allsc ORDER BY score DESC, doc_id LIMIT 20)""",
    // q56: doc-level completion recompute — inputs = (title = tokens 1..5,
    // lang), a doc matches fragment 'data' iff any token of an input
    // CONTAINS it (contains == gram membership for len-4..10 fragments,
    // same trick as q31), weight = #inputs matching, rank (weight desc,
    // doc_id asc) — url asc == doc_id asc by construction.
    "q56_doc_suggest" ->
      """WITH base AS (SELECT doc_id, string_split(text,' ') AS l, lang
                       FROM documents),
         toks AS (
           SELECT doc_id, 1 AS inp, unnest(l[1:5]) AS tok FROM base
           UNION ALL
           SELECT doc_id, 2 AS inp, lang AS tok FROM base
           WHERE lang IS NOT NULL),
         m AS (SELECT doc_id, count(DISTINCT inp) AS weight FROM toks
               WHERE contains(tok, 'data') GROUP BY 1)
         SELECT m.doc_id, array_to_string(b.l[1:5], ' ') AS output, m.weight
         FROM m JOIN base b ON b.doc_id = m.doc_id
         ORDER BY m.weight DESC, m.doc_id LIMIT 15""",
    // q57: the scan's match SET recomputed relationally — the engine
    // enumerates via posting/exclusion cursors + the chunked url walk,
    // DuckDB via the defining predicates; equality is row-for-row.
    "q57_scan_midsize" ->
      """SELECT l_orderkey * 10 + l_linenumber AS li_key FROM lineitem
         WHERE lower(l_linestatus) = 'o' AND month(l_shipdate) <> 1"""
  )

  /** Shared multi-field oracle plumbing (q51/q55): title/body token split
    * mirroring multifieldIndex, per-field dl and per-field (docCount,
    * sumdl) — the ES per-field similarity inputs — plus the total-N st. */
  private val FieldBm25Ctes =
    """WITH base AS (SELECT doc_id, string_split(text,' ') AS l, lang
                     FROM documents),
       st AS (SELECT count(*) AS n FROM base),
       ftoks AS (
         SELECT doc_id, 'title' AS f, unnest(l[1:5]) AS term FROM base
         UNION ALL
         SELECT doc_id, 'body' AS f, unnest(l[6:]) AS term FROM base),
       dlf AS (SELECT doc_id, f, count(*) AS dl FROM ftoks GROUP BY 1, 2),
       stf AS (SELECT f, count(*) AS nf, sum(dl) AS sumdl FROM dlf GROUP BY 1)"""

  /** Per-field BM25 score CTE over [[FieldBm25Ctes]] + a q(f, term) values
    * CTE: idf(total N, per-field df) * tfNorm(tf, dl_field, avgdl_field). */
  private val FieldBm25ScoreCte =
    """tf AS (SELECT ft.doc_id, ft.f, ft.term, count(*) AS tf FROM ftoks ft
              JOIN q ON q.f = ft.f AND q.term = ft.term GROUP BY 1,2,3),
       df AS (SELECT ft.f, ft.term, count(DISTINCT ft.doc_id) AS df FROM ftoks ft
              JOIN q ON q.f = ft.f AND q.term = ft.term GROUP BY 1,2),
       sc AS (SELECT tf.doc_id,
                sum( ln(1 + (st.n - df.df + 0.5)/(df.df + 0.5))
                     * tf.tf*2.2
                     / (tf.tf + 1.2*(0.25 + 0.75*dlf.dl*stf.nf/CAST(stf.sumdl AS DOUBLE))) )
                  AS score
              FROM tf JOIN df ON tf.f = df.f AND tf.term = df.term
              JOIN dlf ON dlf.doc_id = tf.doc_id AND dlf.f = tf.f
              JOIN stf ON stf.f = tf.f CROSS JOIN st
              GROUP BY 1)"""

  /** Full simhash recomputation shared by q18/q48: md5-derived 64-bit token
    * hashes (Hashing.md5Hash64 == ('0x'||substr(md5(t),1,16))::UBIGINT),
    * weighted bit votes (ties -> 0). Assumes whitespace tokens == analyzer
    * tokens (true for the driver documents table; same assumption as q21). */
  private val SimhashCte =
    """WITH tf AS (SELECT doc_id, term, count(*) AS tf FROM
         (SELECT doc_id, unnest(string_split(text,' ')) AS term FROM documents)
         GROUP BY 1,2),
       h AS (SELECT doc_id, tf,
               ('0x'||substr(md5(term),1,16))::UBIGINT AS hv FROM tf),
       bits AS (SELECT doc_id, b.b AS b,
                  CASE WHEN sum(CASE WHEN (hv >> b.b) & 1 = 1
                                     THEN tf ELSE -tf END) > 0
                       THEN 1 ELSE 0 END AS bit
                FROM h CROSS JOIN (SELECT unnest(range(0,64)) AS b) b
                GROUP BY 1,2),
       v AS (SELECT doc_id,
               CAST(sum(CASE WHEN bit=1 THEN (1::UBIGINT << b)
                             ELSE 0::UBIGINT END) AS UBIGINT) AS sh
             FROM bits GROUP BY 1)""".stripMargin

  /** Band join + XOR bit_count Hamming verify over [[SimhashCte]]'s
    * signatures — the shared oracle of q48 (4x16 banding) and q50 (Manku
    * wide banding): both plans are pigeonhole-exact at Hamming<=3, so
    * their output contract is identical. */
  private lazy val SimhashPairsSql =
    s"""$SimhashCte,
       bands AS (SELECT doc_id, sh, b.range AS band,
                   (sh >> CAST(b.range * 16 AS INTEGER)) & 65535::UBIGINT AS key
                 FROM v, range(0, 4) b),
       cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
                       a.sh AS sh_a, b.sh AS sh_b
                FROM bands a JOIN bands b
                  ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id)
       SELECT id_a, id_b, CAST(bit_count(xor(sh_a, sh_b)) AS BIGINT) AS hamming
       FROM cand WHERE bit_count(xor(sh_a, sh_b)) <= 3"""

  /** q21's whole BM25 scoring pipeline (toks -> dl -> st -> tf -> df ->
    * sc) over `documents`, shared verbatim with q49's decorated variant so
    * a scoring-constant change cannot diverge the two oracles. */
  /** The ONE home of the BM25 scoring expression every oracle interpolates
    * (ES 7.4 defaults k1=1.2, b=0.75 -> tf*(k1+1) = tf*2.2 and
    * 1-b+b*dl/avgdl = 0.25 + 0.75*dl*n/sumdl): six oracles score with it
    * (q21/q49/q52 via Bm25ScoreCte, q32, q39-q41, q51), so a scoring
    * constant exists in exactly one string and cannot desynchronize one
    * oracle from the rest. Expects CTE aliases tf/df/dl/st. */
  private val Bm25ScoreExprSql =
    """sum( ln(1 + (st.n - df.df + 0.5)/(df.df + 0.5))
                       * tf.tf*2.2
                       / (tf.tf + 1.2*(0.25 + 0.75*dl.dl*st.n/CAST(st.sumdl AS DOUBLE))) )"""

  private lazy val Bm25ScoreCte =
    s"""WITH toks AS (SELECT doc_id, unnest(string_split(text,' ')) AS term
                      FROM documents),
       dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY 1),
       st AS (SELECT count(*) AS n, sum(dl) AS sumdl FROM dl),
       tf AS (SELECT doc_id, term, count(*) AS tf FROM toks
              WHERE term IN (${Bm25Terms.map("'" + _ + "'").mkString(",")})
              GROUP BY 1,2),
       df AS (SELECT term, count(DISTINCT doc_id) AS df FROM toks
              WHERE term IN (${Bm25Terms.map("'" + _ + "'").mkString(",")})
              GROUP BY 1),
       sc AS (SELECT tf.doc_id,
                ${Bm25ScoreExprSql}
                  AS score
              FROM tf JOIN df USING(term) JOIN dl USING(doc_id) CROSS JOIN st
              GROUP BY 1)"""

  // tokenization matches Dedup.shingles: split on single spaces, DROP empty
  // tokens (whitespace runs), positions renumbered over the kept tokens
  private val JaccardSql =
    """WITH toks AS (
         SELECT doc_id, unnest(lst) AS tok, unnest(range(1, len(lst)+1)) AS pos
         FROM (SELECT doc_id,
                      list_filter(string_split(text,' '), t -> t <> '') AS lst
               FROM documents)),
       sh AS (
         SELECT DISTINCT a.doc_id AS id, a.tok || ' ' || b.tok || ' ' || c.tok AS s
         FROM toks a JOIN toks b ON a.doc_id=b.doc_id AND b.pos=a.pos+1
                     JOIN toks c ON a.doc_id=c.doc_id AND c.pos=a.pos+2),
       sz AS (SELECT id, count(*) AS sz FROM sh GROUP BY 1),
       inter AS (SELECT x.id AS id_a, y.id AS id_b, count(*) AS i
                 FROM sh x JOIN sh y ON x.s=y.s AND x.id<y.id GROUP BY 1,2)
       SELECT id_a, id_b, round(i*1.0/(sa.sz+sb.sz-i),6) AS jaccard
       FROM inter JOIN sz sa ON sa.id=id_a JOIN sz sb ON sb.id=id_b
       WHERE i*1.0/(sa.sz+sb.sz-i) >= 0.5"""
}
