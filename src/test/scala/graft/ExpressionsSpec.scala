package graft

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.BoundReference
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.analysis.Analyzer
import graft.plans.{BlockPairsExpr, GraftFunctions}

/** Native Catalyst expressions equal the pinned Analyzer, both in codegen
  * and interpreted (nullSafeEval) paths, and register as SQL functions; the
  * block pair generator equals a brute-force pair set and is lazy. */
class ExpressionsSpec extends SparkSuite {
  import spark.implicits._

  private val texts = Seq("Wi-Fi routers", "O'Brien's dog", "", "the the a",
    "anti-TNF   therapy", "ENSG00000139618 gene")

  test("graft_term_freqs equals Analyzer.termFreqs (codegen path)") {
    val got = texts.toDF("t")
      .select(col("t"), GraftFunctions.term_freqs(col("t")).as("m"))
      .as[(String, Map[String, Int])].collect().toMap
    texts.foreach(t => assert(got(t) === Analyzer.termFreqs(t), s"text: $t"))
  }

  test("graft_tokenize equals Analyzer.tokenize, order preserved") {
    val got = texts.toDF("t")
      .select(col("t"), GraftFunctions.tokenize(col("t")).as("a"))
      .as[(String, Seq[String])].collect().toMap
    texts.foreach(t => assert(got(t) === Analyzer.tokenize(t).toSeq, s"text: $t"))
  }

  test("graft_segment_of equals Hashing.segmentOf (codegen; incl. non-ASCII)") {
    val urls = Seq("doc://00000001", "https://a.example/x?q=1", "",
      "héllo wörld", "日本語のページ", "emoji 🚀 url", "😀plane1")
    Seq(1, 7, 32, 256).foreach { p =>
      val got = urls.toDF("u")
        .select(col("u"), GraftFunctions.segment_of(col("u"), p).as("s"))
        .as[(String, Int)].collect().toMap
      urls.foreach { u =>
        assert(got(u) === graft.index.Hashing.segmentOf(u, p), s"url: $u, P=$p")
        assert(got(u) >= 0 && got(u) < p)
      }
    }
  }

  test("null input yields null (nullIntolerant)") {
    val r = Seq[Option[String]](None).toDF("t")
      .select(GraftFunctions.tokenize(col("t"))).head()
    assert(r.isNullAt(0))
  }

  test("SQL registration works") {
    GraftFunctions.register(spark)
    val n = spark.sql(
      "SELECT size(graft_tokenize('Wi-Fi routers')) AS n").head().getInt(0)
    assert(n === 4)
    val m = spark.sql(
      "SELECT graft_term_freqs('a a b')['a'] AS c").head().getInt(0)
    assert(m === 2)
  }

  test("expression runs inside whole-stage codegen projections") {
    val df = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(size(GraftFunctions.tokenize(col("text"))).as("n"),
        GraftFunctions.term_freqs(col("text")).as("m"))
      .filter(col("n") > 0)
    assert(df.count() > 0)
    val plan = df.queryExecution.executedPlan.toString
    // "*(n)" prefixes mark operators fused into WholeStageCodegen stage n
    assert(plan.contains("*(1) Project"), plan.take(500))
    assert(plan.contains("graft_tokenize"), "expression missing from plan")
    // explode(graft_tokenize(...)) also works (Generate sits outside WSCG
    // by Spark's own planning, not because the expression is interpreted)
    val exploded = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(explode(GraftFunctions.tokenize(col("text"))).as("tok"))
      .groupBy("tok").count()
    assert(exploded.count() > 0)
  }

  private def pairGen(payload: DataType): BlockPairsExpr = BlockPairsExpr(BoundReference(0,
    ArrayType(new StructType().add("id", LongType).add("p", payload), containsNull = false),
    nullable = true))

  /** Generator output and the brute-force set — every (x, y) with
    * x.id < y.id, one per pair of list positions — both as sorted rows. */
  private def pairsAndBrute(payload: DataType, elems: Seq[(Long, Any)])
      : (Seq[String], Seq[String]) = {
    val rows = elems.map { case (id, p) => InternalRow(id, p) }
    val types = Seq(LongType, payload)
    val got = pairGen(payload).eval(InternalRow(new GenericArrayData(rows.toArray[Any])))
      .iterator.map(_.toSeq(types ++ types).mkString(",")).toSeq.sorted
    val brute = for (x <- rows; y <- rows if x.getLong(0) < y.getLong(0))
      yield (x.toSeq(types) ++ y.toSeq(types)).mkString(",")
    (got, brute.sorted)
  }

  test("block pairs: empty list, one element and null input yield no pairs") {
    assert(pairsAndBrute(IntegerType, Nil) === ((Nil, Nil)))
    assert(pairsAndBrute(IntegerType, Seq(7L -> 3)) === ((Nil, Nil)))
    assert(pairGen(IntegerType).eval(InternalRow(null)).iterator.isEmpty)
  }

  test("block pairs: unsorted input with duplicate ids equals brute force") {
    // id 5 three times, id 2 twice: a duplicate id never pairs with itself
    val elems = Seq(9L -> 1, 5L -> 2, 2L -> 3, 5L -> 4, 7L -> 5, 2L -> 6, 5L -> 7, 1L -> 8)
    val (got, brute) = pairsAndBrute(IntegerType, elems)
    assert(got === brute)
    assert(got.length === 28 - 3 - 1) // C(8,2) minus the same-id pairs
  }

  test("block pairs: sz, ws and sh payloads ride each side unchanged") {
    val rnd = new scala.util.Random(11)
    def ids(n: Int) = Seq.fill(n)(rnd.nextInt(20).toLong)
    Seq[(DataType, () => Any)](
      IntegerType -> (() => rnd.nextInt(50)),   // sz: shingle-set size
      DoubleType -> (() => rnd.nextDouble()),   // ws: weight sum
      LongType -> (() => rnd.nextLong())        // sh: simhash signature
    ).foreach { case (t, draw) =>
      (1 to 5).foreach { _ =>
        val elems = ids(1 + rnd.nextInt(30)).map(id => id -> draw())
        val (got, brute) = pairsAndBrute(t, elems)
        assert(got === brute, s"payload $t: $elems")
      }
    }
  }

  test("block pairs: the first pair of a 10^6-element list needs no C(n,2) rows") {
    val n = 1000000
    // descending ids: the generator must sort them before pairing
    val rows = Array.tabulate[Any](n)(i => InternalRow((n - i).toLong, i))
    val it = pairGen(IntegerType).eval(InternalRow(new GenericArrayData(rows))).iterator
    val first = it.next()
    assert((first.getLong(0), first.getInt(1), first.getLong(2), first.getInt(3)) ===
      ((1L, n - 1, 2L, n - 2)))
    assert(it.hasNext)
  }

  test("block pairs as a select-list generator: a_/b_ columns, one row per pair") {
    val g = Seq((1L, 3L, 10), (1L, 1L, 11), (1L, 2L, 12), (2L, 4L, 13)).toDF("k", "id", "sz")
      .groupBy("k").agg(collect_list(struct(col("id"), col("sz"))).as("g"))
      .select(GraftFunctions.block_pairs(col("g")))
    assert(g.columns.toSeq === Seq("a_id", "a_sz", "b_id", "b_sz"))
    assert(g.as[(Long, Int, Long, Int)].collect().sorted.toSeq ===
      Seq((1L, 11, 2L, 12), (1L, 11, 3L, 10), (2L, 12, 3L, 10)))
  }
}
