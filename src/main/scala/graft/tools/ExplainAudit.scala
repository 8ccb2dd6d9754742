package graft.tools

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

import graft.corpus.Corpus
import graft.index.{IndexBuilder, IndexConfig}

/** Physical-plan audit: prints the formatted plans of the load-bearing
  * pipelines and greps them for the properties the engine's design claims —
  * Parquet filter/column pushdown, broadcast joins for dims, absence of
  * cartesian/nested-loop fallbacks in the similarity joins. (The index
  * build's single-exchange shape is structural — repartition then narrow
  * ops only — and is noted informationally below, not plan-checked: the
  * build DataFrame is internal to IndexBuilder.) Run after any planner-
  * visible change; failures print ✗ lines.
  * Usage: runMain graft.tools.ExplainAudit [sfDir] */
object ExplainAudit {

  // temp index dirs built during the audit, reclaimed in main's finally
  private val auditDirs = scala.collection.mutable.ArrayBuffer.empty[String]

  private def plan(df: DataFrame): String =
    df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))

  private def check(name: String, p: String, want: Seq[(String, Boolean)]): Unit = {
    println(s"== $name ==")
    want.foreach { case (needle, expected) =>
      val found = p.contains(needle)
      val ok = found == expected
      println(s"  ${if (ok) "ok " else "✗✗ "} ${if (expected) "has" else "lacks"} '$needle' -> $found")
    }
  }

  private def checkRegex(name: String, p: String, want: Seq[(String, Boolean)]): Unit = {
    println(s"== $name ==")
    want.foreach { case (pattern, expected) =>
      val found = pattern.r.findFirstIn(p).isDefined
      val ok = found == expected
      println(s"  ${if (ok) "ok " else "✗✗ "} ${if (expected) "matches" else "lacks"} /$pattern/ -> $found")
    }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val spark = SparkSession.builder()
      .master("local[8]")
      .appName("graft-explain-audit")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // stop Spark and reclaim audit index dirs on EVERY exit path (the
    // decision-drift require below exits mid-run otherwise)
    try {

    // 1. predicate + column pushdown on a plain scan
    val li = spark.read.parquet(s"$sfDir/lineitem.parquet")
      .filter(col("l_quantity") > 45.0).select("l_orderkey", "l_quantity")
    val p1 = plan(li)
    check("scan pushdown", p1, Seq(
      "PushedFilters: [IsNotNull(l_quantity), GreaterThan(l_quantity,45.0)]" -> true,
      "ReadSchema: struct<l_orderkey:bigint,l_quantity:double>" -> true))

    // 2. broadcast join for small dims (q02)
    val p2 = plan(graft.SparkEntry.queries("q02_region_revenue")(spark, sfDir))
    check("q02 broadcast dims", p2, Seq(
      "BroadcastHashJoin" -> true,
      "SortMergeJoin" -> false))

    // 3. index build: exactly one exchange, window reuses it, codegen spans
    val pages = Corpus.pages(spark, 1000, seed = 42).toDF()
    val dir = Files.createTempDirectory("graft-audit-idx").toString
    auditDirs += dir // reclaimed in the main's finally
    // reconstruct the build pipeline lazily for explain (same code path as
    // build() up to the encoder)
    IndexBuilder.build(spark, pages, dir, IndexConfig(numSegments = 8, blockSize = 64))
    val snap = graft.index.Snapshot.latest(dir).get

    // 4. query path: term predicate pushed into the posting scan
    val postings = spark.read.parquet(snap.dataDirs.map(d => s"$dir/$d"): _*)
      .filter(col("term").isin("data", "spark", ""))
    val p4 = plan(postings)
    check("posting scan term pushdown", p4, Seq(
      "PushedFilters: [In(term, [,data,spark])]" -> true))

    // 5. termdict probe: pushdown on sorted dictionary
    val dict = spark.read.parquet(s"$dir/${snap.termdictDir.get}")
      .filter(col("term") === "data").select("term", "df")
    check("termdict probe pushdown", plan(dict), Seq(
      "PushedFilters: [IsNotNull(term), EqualTo(term,data)]" -> true,
      "ReadSchema: struct<term:string,df:bigint>" -> true))

    // 6. q16 embedding near-dup: the blocked all-pairs join must plan as a
    // hash-partitioned groupByKey (one Exchange), never a cartesian /
    // nested-loop product — the round-1 scale-killer this replaced.
    val p6 = plan(graft.SparkEntry.queries("q16_embedding_neardup")(spark, sfDir))
    check("q16 no cartesian", p6, Seq(
      "CartesianProduct" -> false,
      "BroadcastNestedLoopJoin" -> false))

    // 7. q29 d2d weighted-overlap: candidates come from the weighted
    // prefix filter (head tokens never join keys), so the plan must never
    // degrade to a nested-loop/cartesian product; AQE is free to broadcast
    // a post-prune small side at this SF.
    val p7 = plan(graft.SparkEntry.queries("q29_d2d_relation")(spark, sfDir))
    check("q29 no nested-loop / vocab broadcast", p7, Seq(
      "CartesianProduct" -> false,
      "BroadcastNestedLoopJoin" -> false))

    // 7a. q11 shingle near-dup is COST-BASED: on this corpus's bounded-df
    // shingles the selector must pick the single-shuffle simple join (no
    // Window node — the per-doc df-ordering window is the prefix plan's
    // structural marker)...
    // one decided call per corpus: it IS q11's construction (same selector,
    // same shingle stats), so planning its DataFrame avoids re-running the
    // O(corpus) selector aggregation a second time through SparkEntry
    val docsTbl = spark.read.parquet(s"$sfDir/documents.parquet")
    val (plainDf, decPlain) = graft.ops.Dedup.jaccardPairsAutoDecided(
      docsTbl, "doc_id", "text", 3, 0.5)
    println(s"[explain] q11 decision (bounded-df): ${decPlain.describe}")
    val p7a = plan(plainDf)
    check("q11 auto picks simple join on bounded-df corpus", p7a, Seq(
      "Window" -> false,
      "CartesianProduct" -> false,
      "BroadcastNestedLoopJoin" -> false))
    // ...and on a corpus with universal head shingles (df == n_docs ⇒
    // quadratic join output) it must pick the prefix-filter plan, where
    // head shingles never become candidate join keys. 12 distinct head
    // tokens ⇒ 12 universal shingles, each contributing N·(N−1)/2 pairs —
    // decisively over the 8·rows budget at any test SF (measured: ratio
    // 5.2 → 46 at sf0.01 going 3 → 12 head tokens).
    val headPfx = (0 until 12).map(i => s"h$i").mkString("", " ", " ")
    val skewed = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(org.apache.spark.sql.functions.col("doc_id"),
        org.apache.spark.sql.functions.concat(
          org.apache.spark.sql.functions.lit(headPfx),
          org.apache.spark.sql.functions.col("text")).as("text"))
    val (skewDf, decSkew) = graft.ops.Dedup.jaccardPairsAutoDecided(
      skewed, "doc_id", "text", 3, 0.5)
    println(s"[explain] q11 decision (head-skew): ${decSkew.describe}")
    require(!decPlain.usePrefix && decSkew.usePrefix,
      "selector decisions drifted from the planted corpora")
    val p7skew = plan(skewDf)
    check("q11 auto picks prefix-filter plan under head skew", p7skew, Seq(
      "Window" -> true,
      "CartesianProduct" -> false,
      "BroadcastNestedLoopJoin" -> false))

    // 7a'. q22 hyperplane-LSH: the candidate dedup must group on the two
    // id columns ONLY — a HashAggregate keyed on (probe_id, nbr_id) with
    // no dim-sized vector column in the keys (the round-2 scale finding).
    val p7c = plan(graft.SparkEntry.queries("q22_ann_lsh")(spark, sfDir))
    checkRegex("q22 id-only candidate distinct + probe broadcast", p7c, Seq(
      """Keys \[2\]: \[probe_id#\d+L?, nbr_id#\d+L?\]""" -> true,
      """Keys \[\d+\]: \[[^\]]*pv#""" -> false,
      // the exact re-rank's probe-vector re-join must broadcast (no
      // candidate-set exchange on probe_id): a BHJ keyed on probe_id alone
      """Left keys \[1\]: \[probe_id#\d+L?\]""" -> true))

    // 7b. q42 IVF ANN: candidates must come from the cell equi-join (one
    // vector = one cell), never a cartesian/nested-loop fallback
    val p7b = plan(graft.SparkEntry.queries("q42_ivf_ann")(spark, sfDir))
    check("q42 no cartesian / nested-loop", p7b, Seq(
      "CartesianProduct" -> false,
      "BroadcastNestedLoopJoin" -> false))

    // 8. exchange count in the build plan (build again lazily to explain)
    // the tokRows pipeline is private; approximate by checking the written
    // plan of a fresh build via the UI-less listener is overkill — instead
    // assert on the final q21-style pipeline shape: a single Exchange before
    // the window, none after.
    println("== notes ==")
    println("  build pipeline: repartition(P, part) -> window -> explode -> " +
      "sortWithinPartitions -> encoder; one Exchange by construction")
    } finally {
      spark.stop()
      auditDirs.foreach(d =>
        IndexBuilder.deleteTree(java.nio.file.Paths.get(d)))
    }
  }
}
