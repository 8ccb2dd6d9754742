package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.plans.GraftFunctions.block_pairs

/** The reference's data-driven-relation similarity self-join (J9), exact
  * semantics (mrtarget/modules/DataDrivenRelation.py):
  *
  *  - feature weight = df / n_samples — deliberately NOT log-idf
  *    (LocalTfidfTransformer.fit, :63-86: "idf = df / n_samples")
  *  - similarity(x, y) = sqrt( Σ_{i∈x∩y} w_i / Σ_{i∈x∪y} w_i ) over the
  *    NONZERO feature sets (compute_weighted_distance, :122-144)
  *  - candidate prune: keep only pairs with
  *    max(xs, ys) / min(xs, ys) < (1/threshold)^2 where xs = Σ w over x's
  *    features (estimate_above_threshold, :146-153) — lossless, since
  *    sim² <= min(xs,ys)/max(xs,ys)
  *
  * Blocking (the 100TB-shaped part): the reference buckets nonzero feature
  * indices mod 1024 as candidate keys (digest_in_buckets, :212-216), which
  * bounds the number of join keys but still floods the bucket holding a
  * head feature. Here candidates come from weighted PREFIX FILTERING
  * (Chaudhuri et al.'s SSJoin prefix filter, public literature), which is
  * lossless for this metric and removes head-token skew outright:
  *
  *  - sim >= t  ⇒  iw >= c·(wsa+wsb) >= c·ws_x for both sides, where
  *    iw = Σ w over shared tokens and c = t²/(1+t²)  (from
  *    iw(1+t²) >= t²(wsa+wsb))
  *  - order every doc's tokens canonically by (w asc, tok asc) — rarest
  *    first — and let its prefix be the minimal head of that order whose
  *    remaining suffix weighs < c·ws. If every shared token of a
  *    qualifying pair sat in a suffix, the shared weight would be < c·ws —
  *    contradiction; and since prefixes are downward closed in one global
  *    order, the MINIMUM shared token lies in BOTH prefixes
  *  - so the pair-generating equi-join runs on prefix tokens only. Head
  *    tokens (df/n ≈ 1, the Zipf skew) land in suffixes and are NEVER join
  *    keys; they still count fully in iw/ws for the surviving candidates
  *
  * The join carries no broadcast hint — the vocabulary-sized weights table
  * must not be forced driver-side at web scale; AQE picks the strategy. */
object DataDrivenRelation {

  def weightedOverlapPairs(docs: DataFrame, idCol: String, textCol: String,
      threshold: Double = 0.19): DataFrame = {
    val n = docs.count().toDouble
    // loosen by the 6-dp rounding epsilon of the final filter so both the
    // prefix blocking and the ratio prune stay lossless w.r.t. the rounded
    // similarity threshold
    val tEff = threshold - 1e-6
    val c = tEff * tEff / (1.0 + tEff * tEff)

    val toks = docs.select(col(idCol).as("id"),
      explode(array_distinct(split(col(textCol), " "))).as("tok"))
    val weights = toks.groupBy("tok")
      .agg((count(lit(1)) / lit(n)).as("w")) // df/n — reference's local idf
    val tw = toks.join(weights, "tok")

    // ONE exchange keyed on id computes both the doc weight-sum (ws) and
    // the rare-first cumulative sum: two windows over the same
    // partitioning share the exchange (guide §2.4), so the old separate
    // sums aggregation and its THREE re-joins (prefix build, prune a-side,
    // prune b-side) are gone — ws rides the prefix rows into the candidate
    // join and arrives on the candidates for free.
    val ord = Window.partitionBy(col("id")).orderBy(col("w").asc, col("tok").asc)
    // BOTH windows share ord (same partition AND order): ws as a
    // full-partition frame over the ordered spec is the same sum, but the
    // shared spec lets Spark evaluate both frames in ONE Window operator —
    // the unordered-ws form planned a second WindowExec plus an extra full
    // sort of the token table between them (plan: 2 Window + 2 Sort →
    // 1 Window + 1 Sort)
    val cum = tw
      .withColumn("ws", sum("w").over(
        ord.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
      .withColumn("cum", sum("w").over(ord.rowsBetween(Window.unboundedPreceding, 0)))
    // canonical prefix per doc: rare-first cumulative weight; a row is in
    // the prefix iff the suffix starting AT it still weighs >= c·ws
    val prefix = cum
      .filter(col("ws") - col("cum") + col("w") >= lit(c) * col("ws"))
      .select("id", "tok", "ws")

    // grouped candidate generation: ONE exchange (group by token, emit
    // each posting list's ordered id pairs with ws riding) and ONE
    // computation of the prefix subtree — the self-join recomputed the
    // whole toks+weights+window pipeline per side (guide §2.4). Head
    // tokens never reach this group (they live in suffixes), so list
    // sizes are prefix-bounded exactly as the join's per-key output was.
    val idType = docs.schema(idCol).dataType
    val candidates = prefix.groupBy("tok")
      .agg(collect_list(struct(col("id").cast("long").as("id"), col("ws"))).as("g"))
      .select(block_pairs(col("g")))
      .select(col("a_id").cast(idType).as("id_a"), col("b_id").cast(idType).as("id_b"),
        col("a_ws").as("wsa"), col("b_ws").as("wsb"))
      .distinct()

    // lossless ws-ratio prune BEFORE the expensive intersection sums
    val ratioBound = (1.0 / tEff) * (1.0 / tEff)
    val pruned = candidates
      .filter(greatest(col("wsa"), col("wsb")) / least(col("wsa"), col("wsb"))
        < lit(ratioBound))

    // exact shared-token weight for the surviving pairs only (exploded
    // equi-join + map-side-partial aggregation; an array_intersect over
    // (tok, w) STRUCT arrays was measured 4x slower here — complex-type
    // intersection falls off the hash fast path into O(|A|·|B|)
    // interpreted comparisons per pair). The a-side needs only (id, tok):
    // `toks` suffices — the weights join is cardinality-preserving
    // (weights has exactly one row per tok, derived FROM toks), so using
    // tw there paid a whole weights-aggregation+join subtree for a column
    // the join never read (guide §2.4).
    val inter = pruned
      .join(toks.select(col("id").as("id_a"), col("tok")), "id_a")
      .join(tw.select(col("id").as("id_b"), col("tok"), col("w")),
        Seq("id_b", "tok"))
      .groupBy("id_a", "id_b", "wsa", "wsb")
      .agg(sum(col("w")).as("iw"))

    inter
      .withColumn("sim", round(sqrt(col("iw") / (col("wsa") + col("wsb") - col("iw"))), 6))
      .filter(col("sim") >= threshold)
      .select("id_a", "id_b", "sim")
  }
}
