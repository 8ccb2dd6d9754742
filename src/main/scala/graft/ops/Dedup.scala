package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.index.Hashing
import graft.plans.GraftFunctions.block_pairs

/** Deduplication operators over a `(id, text)` document table: exact
  * (hash-group), n-gram-shingle Jaccard (blocked self-join), MinHash+LSH
  * (band-bucket candidate join + exact verify), and SimHash. The reference's
  * only similarity machinery is the d2d/t2t LSH-blocked weighted-Jaccard
  * self-join (mrtarget/modules/DataDrivenRelation.py:212-216,380-390); the
  * same blocking-key equi-join shape is used here for every near-dup op. */
object Dedup {

  /** Exact duplicate groups by content hash; keeper = min id. */
  def exactGroups(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.groupBy(md5(col(textCol)).as("h"))
      .agg(count(lit(1)).as("n"), min(col(idCol)).as("keeper"))

  /** Distinct word n-gram shingles of an already-space-tokenized text.
    * Empty/whitespace-only text yields the EMPTY set — "".split(" ")
    * returns Array("") and the short-doc branch would turn that into a
    * singleton "" shingle shared by every empty document, making all
    * C(m,2) empty-doc pairs jaccard-1.0 "duplicates" (a quadratic
    * blowup the prefix plan cannot prune: sz=1 puts "" in every
    * prefix). An empty set produces no join key and no pairs. */
  def shingles(text: String, n: Int): Array[String] = {
    val toks = text.split(" ").filter(_.nonEmpty)
    if (toks.isEmpty) Array.empty
    else if (toks.length < n) Array(toks.mkString(" "))
    else (0 to toks.length - n).map(i => toks.slice(i, i + n).mkString(" "))
      .distinct.toArray
  }

  // null-safe: a NULL text is an empty shingle set, not a task-killing NPE
  // (consistent with exactGroups' null-safe md5 and simhash64's tokenize)
  // asNondeterministic on the expensive UDFs (here and below): the
  // optimizer otherwise duplicates them — filters inferred from Generate
  // re-evaluate a generator-child UDF twice more per row, and pushed
  // null-filters re-run a projected UDF below the project (guide §4.4)
  private val shinglesUdf = udf((text: String, n: Int) =>
    shingles(if (text == null) "" else text, n)).asNondeterministic()

  /** (id, shingle) long format, distinct per doc. */
  def shingleTable(docs: DataFrame, idCol: String, textCol: String, n: Int): DataFrame =
    docs.select(col(idCol).as("id"),
      explode(shinglesUdf(col(textCol), lit(n))).as("shingle"))

  /** (id, arr) — one row per doc with its distinct shingle set as an array.
    * The doc-level form feeds array_intersect verify joins (string arrays —
    * the hash fast path; struct arrays fall back to O(|A|·|B|) interpreted
    * comparison). Empty sets are harmless here: they inner-join against
    * candidate pairs, and an empty-shingle doc can never be a candidate.
    * Deliberately NO size filter — an explicit size(arr)>0 filter gets
    * pushed below the projection and re-evaluates the tokenizing UDF twice
    * more per row (measured in the q11 plan). */
  private def shingleArrays(docs: DataFrame, idCol: String, textCol: String,
      n: Int): DataFrame =
    docs.select(col(idCol).as("id"), shinglesUdf(col(textCol), lit(n)).as("arr"))

  // shingles with the doc's set size riding each element, so the exploded
  // table carries sz without a separate aggregation pass OR a second UDF
  // evaluation: Generate consumes the UDF directly (the array-column form
  // triggers InferFiltersFromGenerate, whose size()/isnotnull guards get
  // pushed below the project and re-run the UDF 2x per row)
  private val shinglesSizedUdf = udf { (text: String, n: Int) =>
    val sh = shingles(if (text == null) "" else text, n)
    sh.map(s => (s, sh.length))
  }.asNondeterministic()

  /** (id, sz, shingle) — the exploded table with the doc's set size riding
    * along, so downstream joins never re-aggregate or re-join sizes
    * (guide §2.3: shuffle fewer bytes, §2.4: remove shuffles outright). */
  private def shingleTableSized(docs: DataFrame, idCol: String, textCol: String,
      n: Int): DataFrame =
    docs.select(col(idCol).as("id"),
        explode(shinglesSizedUdf(col(textCol), lit(n))).as("e"))
      .select(col("id"), col("e._2").as("sz"), col("e._1").as("shingle"))

  /** Exact n-gram Jaccard near-dup pairs (id_a < id_b, jaccard >= threshold).
    *
    * Shape: group on shingle -> pair generator -> count intersections ->
    * threshold filter. Exact, and the cheapest plan (two exchanges, no
    * join) when shingle document frequencies are bounded.
    * Under Zipf head-shingle skew use [[jaccardPairsPrefix]] — same exact
    * output, head shingles never join keys — or the MinHash variant below
    * when approximate recall is acceptable. */
  def jaccardPairs(docs: DataFrame, idCol: String, textCol: String,
      n: Int, threshold: Double): DataFrame = {
    // Inverted-index pair generation: ONE scan of the corpus (the old
    // self-join tokenized it twice and built a join hash table), group the
    // sized shingle table by shingle, emit each posting list's C(df,2)
    // ordered pairs, and count per pair — 2 exchanges total, no join
    // (guide §2.4; measured ~1.8x faster than the broadcast self-join at
    // sf0.1). sz rides the rows, so no sizes aggregation or re-join
    // either. Per-list state is the df-entry posting list; the pair
    // generator yields its C(df,2) pairs lazily, and their total is the
    // selector's budget (Σdf·(df−1)/2 <= blowup·rows). jaccard is a ratio
    // of exact integers — bit-identical to the join form.
    val idType = docs.schema(idCol).dataType
    val sh = shingleTableSized(docs, idCol, textCol, n)
    sh.groupBy("shingle")
      .agg(collect_list(struct(col("id").cast("long").as("id"), col("sz"))).as("g"))
      .select(block_pairs(col("g")))
      .groupBy(col("a_id").as("id_a"), col("b_id").as("id_b"),
        col("a_sz").as("sza"), col("b_sz").as("szb"))
      .agg(count(lit(1)).as("inter"))
      .withColumn("jaccard",
        col("inter") / (col("sza") + col("szb") - col("inter")))
      .filter(col("jaccard") >= threshold)
      // ids pass through the generator as longs; restore the caller's id type
      // (integral by the ordered-pair contract) so the output schema is
      // unchanged from the join form
      .select(col("id_a").cast(idType).as("id_a"),
        col("id_b").cast(idType).as("id_b"),
        round(col("jaccard"), 6).as("jaccard"))
  }

  /** [[jaccardPairs]] with prefix filtering (SSJoin, public literature —
    * the same lemma as DataDrivenRelation's weighted variant, with uniform
    * weights): EXACT at any threshold, and head shingles never become join
    * keys — the skew-proof form for Zipf-distributed web shingles.
    *
    *  - J(A,B) = i/(a+b-i) >= t  ⇒  i >= c·(a+b) > c·a and > c·b, where
    *    c = t/(1+t)
    *  - order every doc's shingles by (df asc, shingle asc) — rarest first
    *    in one GLOBAL order — and let the prefix be the head whose strict
    *    suffix holds < c·sz elements. If the order-minimum shared shingle
    *    of a qualifying pair were outside A's prefix, every shared shingle
    *    would sit in A's strict suffix and i < c·a — contradiction; so it
    *    lies in BOTH prefixes and the pair-generating equi-join needs
    *    prefix rows only. Head shingles (df ≈ n_docs) land in suffixes;
    *    they still count in the exact intersection of survivors
    *  - a lossless size-ratio prune (J <= min/max ⇒ min >= t·max) runs
    *    before the intersection count
    *
    * Costs ~4 extra shuffles (df agg, per-doc window, candidate distinct,
    * re-join for the intersection) vs the simple join's one — the price of
    * skew immunity. q11 wires THIS plan (the 100x-safe one; DedupSpec pins
    * it equal to [[jaccardPairs]]); the simple variant remains for
    * bounded-df corpora where its single shuffle wins (measured 2.8 s
    * simple vs 12.5 s prefix at sf0.1's uniform synthetic shingles — the
    * asymmetry inverts under Zipf head shingles). */
  def jaccardPairsPrefix(docs: DataFrame, idCol: String, textCol: String,
      n: Int, threshold: Double): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // sz rides every row of the sized table (guide §2.4): the per-doc
    // sizes aggregation and its three re-joins (prefix build, ratio prune
    // a-side, b-side) of the old plan are gone — the prune reads sza/szb
    // straight off the candidate rows.
    val sh = shingleTableSized(docs, idCol, textCol, n)
    // 1e-12 slack on c: float rounding must only ever ENLARGE the prefix
    val c = threshold / (1.0 + threshold) - 1e-12
    val dfs = sh.groupBy("shingle").agg(count(lit(1)).as("df"))
    val ord = Window.partitionBy("id").orderBy(col("df").asc, col("shingle").asc)
    val prefix = sh.join(dfs, "shingle")
      .withColumn("pos", row_number().over(ord))
      .filter(col("sz") - col("pos") + 1 >= lit(c) * col("sz"))
      .select("id", "shingle", "sz")

    // grouped candidate generation (ONE exchange + ONE computation of the
    // prefix subtree; the self-join recomputed it per side — guide §2.4)
    val idType = docs.schema(idCol).dataType
    val candidates = prefix.groupBy("shingle")
      .agg(collect_list(struct(col("id").cast("long").as("id"), col("sz"))).as("g"))
      .select(block_pairs(col("g")))
      .select(col("a_id").cast(idType).as("id_a"), col("b_id").cast(idType).as("id_b"),
        col("a_sz").as("sza"), col("b_sz").as("szb"))
      .distinct()
    val pruned = candidates
      // 1e-6 slack (as in DataDrivenRelation's tEff): float rounding of
      // t*max can exceed an exact-boundary integer min (0.28*25 =
      // 7.000000000000001) and silently drop a pair the exact jaccard
      // filter below would keep — slack only ever ENLARGES the candidates
      .filter(least(col("sza"), col("szb")) >=
        lit(threshold) * greatest(col("sza"), col("szb")) - 1e-6)
    verifyJaccard(pruned, docs, idCol, textCol, n, threshold)
  }

  /** Exact-Jaccard verify of candidate (id_a, id_b) pairs: two id
    * equi-joins onto the doc-level shingle ARRAYS and one array_intersect,
    * no aggregation exchange (guide §2.4). Intersection and set sizes are
    * exact integers (size(arr) equals the sized shingle table's sz: both
    * come from [[shingles]]), so the jaccard values are bit-identical to an
    * exploded join+count. */
  private def verifyJaccard(candidates: DataFrame, docs: DataFrame, idCol: String,
      textCol: String, n: Int, threshold: Double): DataFrame = {
    val arr = shingleArrays(docs, idCol, textCol, n)
    candidates
      .join(arr.select(col("id").as("id_a"), col("arr").as("_aa")), "id_a")
      .join(arr.select(col("id").as("id_b"), col("arr").as("_ab")), "id_b")
      .withColumn("inter", size(array_intersect(col("_aa"), col("_ab"))))
      .withColumn("jaccard", col("inter") /
        (size(col("_aa")) + size(col("_ab")) - col("inter")))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("jaccard"))
  }

  /** Cost-based choice between [[jaccardPairs]] (one shuffle join; wins
    * when shingle document frequencies are bounded) and
    * [[jaccardPairsPrefix]] (4 extra shuffles; immune to Zipf head-shingle
    * skew). Same exact output either way — only the plan differs.
    *
    * The decision statistic is the simple plan's EXACT pre-aggregation
    * join cardinality, pairs = Σ_s df(s)·(df(s)−1)/2, measured with one
    * cheap two-level aggregation over the shingle table (map-side partial
    * agg; one scalar crosses to the driver). The simple plan is chosen iff
    * `pairs <= blowupFactor · rows`: its shuffle output then stays within
    * a small factor of its input, and — since the largest single-key skew
    * block df_max²/2 is itself ≤ pairs — no individual reducer can exceed
    * the same budget. Under web-scale Zipf shingles (df_head ≈ n_docs)
    * pairs explodes quadratically and the prefix plan is picked; the
    * statistic measures precisely the quantity that melts the simple join,
    * so the choice cannot be fooled by skew shapes (unlike df_max or
    * doc-count heuristics). Costs one extra pass over the shingle
    * table — the AQE trade: O(input) statistics to avoid a potentially
    * quadratic wrong plan. */
  def jaccardPairsAuto(docs: DataFrame, idCol: String, textCol: String,
      n: Int, threshold: Double, blowupFactor: Double = 8.0): DataFrame =
    jaccardPairsAutoDecided(docs, idCol, textCol, n, threshold, blowupFactor)._1

  /** The selector's decision record — observability for the cost-based
    * plan choice: a 100x-scale operator must be able to see WHY a dedup
    * run picked the expensive plan. ExplainAudit prints it and the run
    * logs it at INFO. Note the Spark job description only labels the
    * selector's OWN estimate job: setJobDescription is a thread-local
    * read at action time, so the returned (lazy) DataFrame's jobs run
    * under whatever description the CALLER's action thread has — the
    * decision text cannot be stamped onto them from here. */
  final case class JaccardPlanDecision(
      pairs: Double, rows: Long, blowupFactor: Double, usePrefix: Boolean) {
    def budget: Double = blowupFactor * rows
    def describe: String =
      f"jaccard-auto: est pairs=$pairs%.0f (Σ df·(df−1)/2), shingle rows=$rows, " +
        f"budget=$budget%.0f (${blowupFactor}%.1fx rows) -> " +
        (if (usePrefix) "PREFIX-FILTER plan (simple join would blow up quadratically)"
         else "simple single-shuffle join")
  }

  /** [[jaccardPairsAuto]] + the decision it made. */
  def jaccardPairsAutoDecided(docs: DataFrame, idCol: String, textCol: String,
      n: Int, threshold: Double, blowupFactor: Double = 8.0)
      : (DataFrame, JaccardPlanDecision) = {
    val sc = docs.sparkSession.sparkContext
    // scope the UI/event-log job description to the selector's OWN jobs:
    // setJobDescription is a sticky thread-local, and leaving it set would
    // mislabel every subsequent job on this thread with the dedup text
    val prevDesc = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription("jaccard-auto: measuring pair estimate")
    try {
      // the estimate groups by a 64-bit shingle HASH, not the shingle
      // string: the stats shuffle then carries 8-byte keys instead of
      // n-gram strings (guide §2.3 narrower types). A 64-bit collision —
      // negligible below ~10⁹ distinct shingles — can only MERGE two dfs,
      // i.e. only ever enlarges the pair estimate, which errs toward the
      // skew-safe prefix plan; the decision statistic is otherwise
      // identical (measured: same pairs/rows on the bench corpora).
      val hashedUdf = udf((text: String, nn: Int) =>
        shingles(if (text == null) "" else text, nn)
          .map(Hashing.hash64)).asNondeterministic()
      val sh = docs.select(explode(hashedUdf(col(textCol), lit(n))).as("h"))
      // doubles: df·(df−1) overflows Long at df ~ 3e9, and a cost estimate
      // needs no exactness there
      val st = sh.groupBy("h").agg(count(lit(1)).as("df"))
        .agg(sum(col("df").cast("double") * (col("df") - 1) / 2).as("pairs"),
          sum(col("df")).as("rows"))
        .head()
      val pairs = if (st.isNullAt(0)) 0.0 else st.getDouble(0)
      val rows = if (st.isNullAt(1)) 0L else st.getLong(1)
      val d = JaccardPlanDecision(pairs, rows, blowupFactor,
        usePrefix = pairs > blowupFactor * rows)
      org.slf4j.LoggerFactory.getLogger(getClass).info(d.describe)
      val out =
        if (d.usePrefix) jaccardPairsPrefix(docs, idCol, textCol, n, threshold)
        else jaccardPairs(docs, idCol, textCol, n, threshold)
      (out, d)
    } finally sc.setJobDescription(prevDesc)
  }

  /** Per-permutation MinHash: h_i(s) = splitmix-rehash of (hash64(s), i). */
  private def minhashOf(shingleSet: Array[String], numHashes: Int): Array[Long] = {
    val sig = Array.fill(numHashes)(Long.MaxValue)
    shingleSet.foreach { s =>
      val base = Hashing.hash64(s)
      var i = 0
      while (i < numHashes) {
        // splitmix64 step seeded by permutation index
        var h = base + (i + 1) * 0x9e3779b97f4a7c15L
        h ^= (h >>> 30); h *= 0xbf58476d1ce4e5b9L
        h ^= (h >>> 27); h *= 0x94d049bb133111ebL
        h ^= (h >>> 31)
        if (h < sig(i)) sig(i) = h
        i += 1
      }
    }
    sig
  }

  /** `(id, sig)` MinHash signatures over the shingle sets. Docs with EMPTY
    * shingle sets (null/empty/whitespace-only text) get NO row — minhashOf
    * over an empty set is the same all-MaxValue signature for every such
    * doc, so m empty docs would collide in one bucket of every band and
    * the candidate join would materialize bands*C(m,2) rows before verify
    * discards them: the quadratic blowup the shingle paths' empty-set
    * guard already prevents, applied before banding. */
  def minhashSignatures(docs: DataFrame, idCol: String, textCol: String,
      n: Int, numHashes: Int): DataFrame = {
    val sigUdf = udf { (text: String) =>
      val sh = shingles(if (text == null) "" else text, n)
      if (sh.isEmpty) null else minhashOf(sh, numHashes)
    }.asNondeterministic()
    docs.select(col(idCol).as("id"), sigUdf(col(textCol)).as("sig"))
      .filter(col("sig").isNotNull)
  }

  /** MinHash+LSH near-dup pairs: signature -> band buckets -> candidate
    * equi-join on (band, bucket) -> exact Jaccard verify >= threshold.
    * Approximate recall (tunable via bands x rows), exact precision (the
    * verify step recomputes true Jaccard). Candidate volume is bounded by
    * bucket collisions, never by shingle document frequency — the 100TB
    * path for near-dup dedup. */
  def minhashLshPairs(docs: DataFrame, idCol: String, textCol: String,
      n: Int, numHashes: Int, bands: Int, threshold: Double): DataFrame = {
    require(numHashes % bands == 0, "numHashes must divide into bands")
    val rows = numHashes / bands
    val sigs = minhashSignatures(docs, idCol, textCol, n, numHashes)

    // ALL band bucket keys in one UDF call per doc (not one call per
    // (doc, band) row — §4-style per-row overhead trimmed 16x), exploded
    // with the band index as the array position. Array[Long] input for
    // the primitive converter (a Seq parameter is boxed per element).
    val bucketsUdf = udf((sig: Array[Long]) =>
      Array.tabulate(bands)(b =>
        Hashing.hash64(sig.slice(b * rows, (b + 1) * rows).mkString(",")))).asNondeterministic()
    val banded = sigs
      .select(col("id").cast("long").as("id"),
        posexplode(bucketsUdf(col("sig"))).as(Seq("band", "bucket")))

    // grouped candidate generation: ONE exchange (group by bucket, emit
    // each bucket's ordered id pairs) instead of the banded self-join's
    // two join exchanges + second scan of the signature table (guide
    // §2.4). Per-bucket state is the bucket's id list — the LSH design
    // bounds bucket size, which is the same quantity that bounded the
    // join's per-key output.
    val idType = docs.schema(idCol).dataType
    val candidates = banded.groupBy("band", "bucket")
      .agg(collect_list(col("id")).as("g"))
      // the exchange and the aggregation buffer carry bare 8-byte ids; the
      // one-field structs the generator takes are built after them
      .select(block_pairs(transform(col("g"), id => struct(id.as("id")))))
      .select(col("a_id").cast(idType).as("id_a"), col("b_id").cast(idType).as("id_b"))
      .distinct()
    // exact verify on the candidate pairs only
    verifyJaccard(candidates, docs, idCol, textCol, n, threshold)
  }

  /** 64-bit SimHash over the token multiset (weighted bit-vote). Token
    * hashes are md5-derived (Hashing.md5Hash64) so the DuckDB oracle can
    * recompute full signatures from the raw text (q18). */
  def simhash64(text: String): Long = {
    val votes = new Array[Int](64)
    graft.analysis.Analyzer.termFreqs(text).foreach { case (t, f) =>
      val h = Hashing.md5Hash64(t)
      var b = 0
      while (b < 64) {
        if (((h >>> b) & 1L) == 1L) votes(b) += f else votes(b) -= f
        b += 1
      }
    }
    var out = 0L
    var b = 0
    while (b < 64) {
      if (votes(b) > 0) out |= (1L << b)
      b += 1
    }
    out
  }

  val simhashUdf = udf((text: String) => simhash64(text)).asNondeterministic()

  private def simhashPairsFromBanded(docs: DataFrame, idCol: String,
      banded: DataFrame, bandCol: String, maxHamming: Int): DataFrame = {
    val idType = docs.schema(idCol).dataType
    val hamming = bit_count(col("a_sh").bitwiseXOR(col("b_sh")))
    // the Hamming verify sits directly above the generator, in its stage,
    // so the distinct exchange carries only the rare qualifying pairs, not
    // every band collision (guide §2.3/§2.4)
    banded.groupBy(bandCol, "key")
      .agg(collect_list(struct(col("id"), col("sh"))).as("g"))
      .select(block_pairs(col("g")))
      .filter(hamming <= maxHamming)
      .select(col("a_id").cast(idType).as("id_a"), col("b_id").cast(idType).as("id_b"),
        hamming.as("hamming"))
      .distinct()
  }

  /** SimHash near-dup pairs with Hamming distance <= maxHamming, found by
    * banding the 64-bit hash into 4x16-bit keys (any pair within Hamming 3
    * shares at least one exact 16-bit band — pigeonhole; the banded
    * candidate set therefore EQUALS the full cross-join's qualifying set,
    * which is what the q48 oracle recomputes).
    *
    * Scale ceiling, stated honestly: within one 16-bit band bucket the
    * self-join is quadratic — ~(n/2^16)^2 candidate pairs per band under
    * uniform hashing, so at 10^10 docs this banding floods. The standard
    * escalations, in order: (a) [[simhashPairsWide]] — the in-repo Manku
    * 6-block/3-match banding with 31-33-bit bucket keys, identical output,
    * collision volume /2^15 at 5x the replication; (b) switch families:
    * [[minhashLshPairs]] bounds candidates by tunable bands x rows and is
    * the wired 100TB path for high-dup corpora. This 4x16 config is right
    * for corpus sizes up to ~10^8 where its single narrow shuffle wins. */
  def simhashPairs(docs: DataFrame, idCol: String, textCol: String,
      maxHamming: Int): DataFrame = {
    require(maxHamming <= 3, "4-band scheme guarantees recall only to Hamming 3")
    val hashed = docs.select(col(idCol).cast("long").as("id"),
      simhashUdf(col(textCol)).as("sh"))
    val banded = hashed.select(col("id"), col("sh"),
        explode(sequence(lit(0), lit(3))).as("band"))
      .withColumn("key", expr("shiftrightunsigned(sh, band * 16)")
        .bitwiseAND(lit(0xffffL)))
    simhashPairsFromBanded(docs, idCol, banded, "band", maxHamming)
  }

  /** [[simhashPairs]] escalated for web scale — the Manku/Jain/Sarma
    * ("Detecting near-duplicates for web crawling", WWW'07) wide-banding
    * scheme: the 64-bit signature splits into SIX blocks
    * (11,11,11,11,10,10 bits); a pair within Hamming 3 differs in at most
    * 3 blocks, so at least 3 of the 6 match — bucket on every C(6,3) = 20
    * block-triple. EXACTLY the same output as simhashPairs (recall is
    * pigeonhole-exact both ways, the Hamming verify is identical —
    * DedupSpec pins them equal); the difference is candidate volume:
    * bucket keys are 31-33 bits instead of 16, so uniform-hash collision
    * volume per table drops from n²/2¹⁶ to n²/2³¹ at the price of 20×
    * (vs 4×) row replication — the right side of that trade everywhere
    * beyond ~10⁸ docs. */
  def simhashPairsWide(docs: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 3): DataFrame = {
    require(maxHamming <= 3, "6-block/3-match banding guarantees recall only to Hamming 3")
    // block b covers bits [offsets(b), offsets(b+1))
    val offsets = Array(0, 11, 22, 33, 44, 54, 64)
    val combos: Array[Array[Int]] =
      (0 until 6).combinations(3).map(_.toArray).toArray
    // all 20 triple-keys in ONE UDF call per doc (was one call per
    // (doc, combo) row), exploded with the combo index as the position
    val keysUdf = udf { (sh: Long) =>
      combos.map { c =>
        var key = 0L
        var i = 0
        while (i < 3) {
          val b = c(i)
          val width = offsets(b + 1) - offsets(b)
          val block = (sh >>> offsets(b)) & ((1L << width) - 1)
          key = (key << width) | block
          i += 1
        }
        key
      }
    }.asNondeterministic()
    val hashed = docs.select(col(idCol).cast("long").as("id"),
      simhashUdf(col(textCol)).as("sh"))
    val banded = hashed.select(col("id"), col("sh"),
        posexplode(keysUdf(col("sh"))).as(Seq("combo", "key")))
    simhashPairsFromBanded(docs, idCol, banded, "combo", maxHamming)
  }
}
