package graft.plans

import org.apache.spark.sql.{Column, SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.{FunctionIdentifier, InternalRow}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Generator,
  JoinedRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodegenFallback, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, LongType, MapType,
  StringType, StructType}

/** Native Catalyst expressions for the analyzer chain — the tokenizer stays
  * inside whole-stage codegen instead of crossing the Scala-UDF row
  * conversion boundary (SURVEY.md §2.9 preference order: Expression with
  * doGenCode > UDF). Both delegate to the single pinned Analyzer
  * implementation so token streams remain byte-identical everywhere. */
case class TermFreqsExpr(child: Expression) extends UnaryExpression {
  override def nullIntolerant: Boolean = true
  override def dataType: DataType = MapType(StringType, IntegerType, valueContainsNull = false)
  override def prettyName: String = "graft_term_freqs"
  override protected def nullSafeEval(input: Any): Any =
    graft.analysis.Analyzer.termFreqsCatalyst(
      input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.analysis.Analyzer.termFreqsCatalyst($c)")
  override protected def withNewChildInternal(newChild: Expression): TermFreqsExpr =
    copy(child = newChild)
}

case class TokenizeExpr(child: Expression) extends UnaryExpression {
  override def nullIntolerant: Boolean = true
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "graft_tokenize"
  override protected def nullSafeEval(input: Any): Any =
    graft.analysis.Analyzer.tokenizeCatalyst(
      input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.analysis.Analyzer.tokenizeCatalyst($c)")
  override protected def withNewChildInternal(newChild: Expression): TokenizeExpr =
    copy(child = newChild)
}

/** Deterministic segment assignment segId = floorMod(hash64(url), P) as a
  * codegen'd expression: the build's only remaining per-row Scala UDF cost
  * (UTF8String -> String copy + boxing across the UDF boundary) disappears
  * from the map side of the one build exchange. Delegates to the same
  * [[graft.index.Hashing]] FNV-1a so driver (oracle), executors, and every
  * historical index agree on doc placement. */
case class SegmentOfExpr(child: Expression, numSegments: Int)
    extends UnaryExpression {
  require(numSegments > 0, s"numSegments must be positive: $numSegments")
  override def nullIntolerant: Boolean = true
  override def dataType: DataType = IntegerType
  override def prettyName: String = "graft_segment_of"
  override protected def nullSafeEval(input: Any): Any =
    graft.index.Hashing.segmentOfUtf8(
      input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String], numSegments)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.index.Hashing.segmentOfUtf8($c, $numSegments)")
  override protected def withNewChildInternal(newChild: Expression): SegmentOfExpr =
    copy(child = newChild)
}

/** The pair generator of every blocked similarity join: one group's
  * `array<struct<id: bigint, ...payload>>` in, one row per element pair
  * i < j with id_i != id_j out, as the two elements' fields prefixed
  * `a_`/`b_` (so a_id < b_id). The elements are sorted by id once; pairs
  * are yielded lazily, each a JoinedRow over the two element structs, so
  * the payload is never copied and a group holds its n elements, never its
  * C(n,2) pairs. Interpreted (CodegenFallback): GenerateExec pulls one pair
  * at a time and projects it straight into the stage above. */
case class BlockPairsExpr(child: Expression) extends UnaryExpression
    with Generator with CodegenFallback {
  private def element: StructType =
    child.dataType.asInstanceOf[ArrayType].elementType.asInstanceOf[StructType]
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(st: StructType, _)
        if st.fields.headOption.exists(f => f.name == "id" && f.dataType == LongType) =>
      TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects array<struct<id: bigint, ...>>, got ${other.catalogString}")
  }
  override def elementSchema: StructType = StructType(
    element.fields.map(f => f.copy(name = "a_" + f.name)) ++
      element.fields.map(f => f.copy(name = "b_" + f.name)))
  override def prettyName: String = "graft_block_pairs"
  override def eval(input: InternalRow): IterableOnce[InternalRow] = {
    val arr = child.eval(input).asInstanceOf[ArrayData]
    if (arr == null) return Iterator.empty
    val n = arr.numElements()
    val width = element.length
    val rows = Array.tabulate[InternalRow](n)(arr.getStruct(_, width))
    // stable sort: equal ids end up adjacent, in one run
    java.util.Arrays.sort(rows,
      (x: InternalRow, y: InternalRow) => java.lang.Long.compare(x.getLong(0), y.getLong(0)))
    def runEnd(k: Int): Int = {
      var e = k + 1
      while (e < n && rows(e).getLong(0) == rows(k).getLong(0)) e += 1
      e
    }
    new Iterator[InternalRow] {
      // i's partners are j in [end of i's id run, n)
      private var i = 0
      private var end = runEnd(0)
      private var j = end
      override def hasNext: Boolean = {
        while (i < n && j >= n) {
          i += 1
          if (i == end) end = runEnd(i)
          j = end
        }
        i < n
      }
      override def next(): InternalRow = {
        if (!hasNext) throw new NoSuchElementException
        j += 1
        new JoinedRow(rows(i), rows(j - 1))
      }
    }
  }
  override protected def withNewChildInternal(newChild: Expression): BlockPairsExpr =
    copy(child = newChild)
}

object GraftFunctions {
  import org.apache.spark.sql.GraftColumnBridge

  private[plans] def unaryBuilder(name: String, f: Expression => Expression)
      : Seq[Expression] => Expression = { exprs =>
    if (exprs.length != 1)
      throw new IllegalArgumentException(
        s"$name expects exactly 1 argument, got ${exprs.length}")
    f(exprs.head)
  }
  def term_freqs(c: Column): Column =
    GraftColumnBridge.column(TermFreqsExpr(GraftColumnBridge.expression(c)))
  def tokenize(c: Column): Column =
    GraftColumnBridge.column(TokenizeExpr(GraftColumnBridge.expression(c)))
  def segment_of(c: Column, numSegments: Int): Column =
    GraftColumnBridge.column(
      SegmentOfExpr(GraftColumnBridge.expression(c), numSegments))
  /** Select-list generator over a grouped `collect_list(struct(id, ...))`
    * column: `df.select(block_pairs(col("g")))` yields a_* and b_* columns. */
  def block_pairs(c: Column): Column =
    GraftColumnBridge.column(BlockPairsExpr(GraftColumnBridge.expression(c)))

  /** Imperative registration for an existing session (tests, Demo). */
  def register(spark: SparkSession): Unit = {
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "graft_term_freqs", unaryBuilder("graft_term_freqs", TermFreqsExpr), "scala_udf")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "graft_tokenize", unaryBuilder("graft_tokenize", TokenizeExpr), "scala_udf")
  }
}

/** SparkSessionExtensions entry point:
  * `.withExtensions(new GraftExtensions)` or
  * `--conf spark.sql.extensions=graft.plans.GraftExtensions` exposes the
  * analyzer chain as SQL functions in every session. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    e.injectFunction((
      FunctionIdentifier("graft_term_freqs"),
      new ExpressionInfo(classOf[TermFreqsExpr].getName, "graft_term_freqs"),
      GraftFunctions.unaryBuilder("graft_term_freqs", TermFreqsExpr)))
    e.injectFunction((
      FunctionIdentifier("graft_tokenize"),
      new ExpressionInfo(classOf[TokenizeExpr].getName, "graft_tokenize"),
      GraftFunctions.unaryBuilder("graft_tokenize", TokenizeExpr)))
  }
}
