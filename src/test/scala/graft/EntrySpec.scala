package graft

/** Driver-contract smoke: entry() yields rows; every query runs at
  * sf0.001 without a schema-inference job; every oracleSql key exists in
  * queries; the declared table schemas match the test data's files. */
class EntrySpec extends SparkSuite {

  test("entry returns BM25 hits") {
    val df = SparkEntry.entry(spark)
    assert(df.count() > 0)
    assert(df.columns.toSeq === Seq("rank", "docId", "url", "score"))
  }

  test("oracleSql keys are a subset of queries") {
    val qs = SparkEntry.queries.keySet
    val extra = SparkEntry.oracleSql.keySet.diff(qs)
    assert(extra.isEmpty, s"oracle without query: $extra")
    // the current contract is stronger: EVERY query is independently
    // oracled (no rows-only checks left) — keep it that way
    val unoracled = qs.diff(SparkEntry.oracleSql.keySet)
    assert(unoracled.isEmpty, s"query without oracle: $unoracled")
  }

  test("every query runs on sf0.001; structurally-nonempty ones return rows") {
    val dir = "/root/testdata/sf0.001"
    // queries whose result CANNOT legitimately be empty at any SF (per-row
    // transforms of base tables, or top-k over a guaranteed-hit query) —
    // a silent all-rows-filtered regression must fail, not count()==0.
    // (q05 anti-join and similar are legitimately empty/small at tiny SF.)
    val nonEmpty = Set("q01_pricing_summary", "q10_dedup_exact",
      "q12_fingerprint", "q13_quality", "q14_langid", "q19_token_regex_stats",
      "q20_unpivot_part", "q21_bm25_topk", "q23_rollup_qty", "q25_pivot_events",
      "q27_score_transform", "q36_nfkd_cast", "q38_datasource_score",
      "q56_doc_suggest", "q57_scan_midsize")
    // and none reads a file through a Parquet footer-inference job: the
    // driver tables and every index artifact have declared schemas
    val inferring = SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
      val (n, jobs) = JobLog.of(spark)(fn(spark, dir).count())
      if (nonEmpty.contains(name)) assert(n > 0, s"$name returned 0 rows")
      jobs.schemaInference.map(stage => s"$name: $stage")
    }
    assert(inferring.isEmpty, inferring.mkString("\n"))
  }

  test("declared table schemas equal every test-data dir's parquet schemas") {
    // the test-data root that holds sf0.001 (perfbench's default, ~/testdata)
    val root = new java.io.File(sys.props("user.home"), "testdata")
    val dirs = Option(root.listFiles()).toSeq.flatten
      .filter(f => f.isDirectory && f.getName.startsWith("sf")).sortBy(_.getName)
    assert(dirs.nonEmpty, "no sf* test-data dir")
    assert(SparkEntry.tableSchemas.size === 10)
    for (dir <- dirs; (table, declared) <- SparkEntry.tableSchemas) {
      // a column missing from the declaration reads as nulls, silently
      val onDisk = spark.read.parquet(s"$dir/$table.parquet").schema
      assert(declared.map(f => (f.name, f.dataType)) === onDisk.map(f => (f.name, f.dataType)),
        s"${dir.getName}/$table")
    }
    val e = intercept[IllegalArgumentException](
      SparkEntry.t(spark, dirs.head.toString, "no_such_table"))
    assert(e.getMessage.contains("no_such_table"))
  }
}
