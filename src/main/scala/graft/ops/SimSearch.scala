package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over an embedding column (`array<float>`).
  *
  * Brute-force cosine top-k is the exactness baseline: probes broadcast
  * against the full table, the dot product a primitive-loop UDF (see
  * `cosineFast` — the codegen HOF form allocates per pair and loses 10x).
  * The LSH variant (random-hyperplane sign buckets) is the scale path:
  * candidates come from bucket equi-joins, exact cosine re-ranks only the
  * candidates. Same blocking-key shape as the reference's d2d similarity
  * join (mrtarget/modules/DataDrivenRelation.py:212-216). */
object SimSearch {

  /** Shared ranking tail of every top-k path: window per probe, 6-dp
    * rounded cosine desc with nbr_id tie-break, rank <= k. ONE home for
    * the tie-break/rounding contract so the exact and approximate paths
    * the oracles compare can never desynchronize. `cand` needs columns
    * (probe_id, nbr_id, cos). */
  private def topKByCos(cand: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy(col("probe_id"))
      .orderBy(col("cos").desc, col("nbr_id").asc)
    cand.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select("probe_id", "nbr_id", "rnk", "cos")
  }

  /** null-embedding drop, shared by every similarity entry point: a null
    * vector can neither match nor be matched, and letting one through
    * kills the whole job with an unroutable NPE deep inside a task (the
    * same null-tolerance convention as Dedup's null text -> empty
    * shingle set — one corrupt row must not abort the corpus). */
  private def nonNullVecs(df: DataFrame, vecCol: String): DataFrame =
    df.filter(col(vecCol).isNotNull)

  private[ops] def requireIntegralId(df: DataFrame, idCol: String, op: String): Unit = {
    import org.apache.spark.sql.types._
    require(Set[DataType](ByteType, ShortType, IntegerType, LongType)
      .contains(df.schema(idCol).dataType),
      s"$op needs an integral id column; '$idCol' is " +
        df.schema(idCol).dataType.simpleString)
  }

  /** Tight-loop cosine for the all-pairs hot path: a higher-order-function
    * form (zip_with + aggregate) allocates an intermediate array per pair,
    * which at millions of pairs dominates; a primitive loop UDF is ~10x
    * faster, with the same left-to-right double accumulation order. */
  private val cosineLoop = udf { (a: Array[Double], b: Array[Double]) =>
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    val n = a.length
    while (i < n) {
      val x = a(i); val y = b(i)
      dot += x * y; na += x * x; nb += y * y
      i += 1
    }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }
  def cosineFast(a: Column, b: Column): Column = cosineLoop(a, b)

  /** Exact brute-force cosine top-k neighbors for each probe row.
    * `emb` and `probes` both need (idCol, vecCol); vectors are cast to
    * double before any arithmetic so accumulation is pure f64. Ranking uses
    * the 6-dp-rounded score (ties then broken by neighbor id) so results
    * are reproducible across engines and summation orders. */
  def cosineTopK(emb: DataFrame, probes: DataFrame, idCol: String,
      vecCol: String, k: Int): DataFrame = {
    val e = nonNullVecs(emb, vecCol).select(col(idCol).as("nbr_id"),
      col(vecCol).cast("array<double>").as("v"))
    val p = nonNullVecs(probes, vecCol).select(col(idCol).as("probe_id"),
      col(vecCol).cast("array<double>").as("pv"))
    topKByCos(e.crossJoin(broadcast(p))
      .filter(col("nbr_id") =!= col("probe_id"))
      .withColumn("cos", round(cosineFast(col("v"), col("pv")), 6)), k)
  }

  /** One replicated input row of the blocked all-pairs join. */
  private[ops] final case class BlockedVec(
      bi: Int, bj: Int, blk: Int, id: Long, v: Array[Double])

  /** All pairs (a<b) with cosine >= threshold — embedding near-dup dedup.
    *
    * EXACT at any threshold, with no cartesian plan: a dense-vector cosine
    * threshold admits no sound LSH/blocking prune unless the data has a
    * similarity gap (which a general corpus does not), so the honest
    * scale-out shape is the classic blocked (triangle) all-pairs join: ids
    * hash into K blocks; every unordered block pair (bi <= bj) is one task
    * receiving exactly blocks bi and bj (each vector replicated K ways —
    * sqrt-of-tasks replication); each task compares its <=(2n/K)² local
    * pairs in a primitive loop. Compare count stays O(n²) — that is
    * inherent to exactness — but memory per task is O(2n/K · dim), work is
    * evenly partitioned across K(K+1)/2 tasks with no skew (hash blocks),
    * and Catalyst sees one exchange, never a BroadcastNestedLoopJoin.
    *
    * Per-pair prune (lossless): with head = first 8 components,
    * dot <= dot_head + ||a_tail||·||b_tail|| (Cauchy-Schwarz), so a pair
    * whose bound is below the threshold skips the full dot product.
    *
    * For high thresholds with a known gap, prefer the approximate
    * hyperplane-LSH candidates + exact verify (`annTopK` shape, or
    * `Dedup.minhashLshPairs` for text) — candidate volume there is
    * sub-quadratic, which exactness at arbitrary thresholds cannot be. */
  def nearDupPairs(emb: DataFrame, idCol: String, vecCol: String,
      threshold: Double, numBlocks: Int = 16): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    // the blocked representation carries ids as primitive longs; a silent
    // cast of a string/double id column would null-out or collide ids, so
    // reject non-integral id types loudly (hash string ids to longs — or
    // use the LSH text/minhash paths — before calling this)
    requireIntegralId(emb, idCol, "nearDupPairs")
    val K = numBlocks
    val headDims = 8
    // margin: the 6-dp rounding applied to the emitted cosine can raise it
    // by at most 5e-7, so prune/prefilter against threshold - 1e-6
    val tEff = threshold - 1e-6

    val blocked = nonNullVecs(emb, vecCol)
      .select(col(idCol).cast("long").as("id"),
        col(vecCol).cast("array<double>").as("v"))
      .withColumn("blk", pmod(hash(col("id")), lit(K)))
      .select(col("id"), col("v"), col("blk"),
        explode(sequence(lit(0), lit(K - 1))).as("other"))
      .select(
        least(col("blk"), col("other")).as("bi"),
        greatest(col("blk"), col("other")).as("bj"),
        col("blk"), col("id"), col("v"))
      .as[BlockedVec]

    val pairs = blocked
      .groupByKey(r => (r.bi, r.bj))
      .flatMapGroups { (key: (Int, Int), it: Iterator[BlockedVec]) =>
        val (bi, bj) = key
        val left = scala.collection.mutable.ArrayBuffer.empty[BlockedVec]
        val right = scala.collection.mutable.ArrayBuffer.empty[BlockedVec]
        it.foreach { r =>
          if (r.blk == bi) left += r
          // bi == bj: the block self-pairs; don't double-add
          if (r.blk == bj && bj != bi) right += r
        }
        val a = left.toArray
        val b = if (bi == bj) a else right.toArray
        // precompute norms + tail norms once per vector
        def norms(xs: Array[BlockedVec]): (Array[Double], Array[Double]) = {
          val full = new Array[Double](xs.length)
          val tail = new Array[Double](xs.length)
          var i = 0
          while (i < xs.length) {
            val v = xs(i).v
            var nf = 0.0
            var nt = 0.0
            var d = 0
            while (d < v.length) {
              val x = v(d) * v(d)
              nf += x
              if (d >= headDims) nt += x
              d += 1
            }
            full(i) = math.sqrt(nf)
            tail(i) = math.sqrt(nt)
            i += 1
          }
          (full, tail)
        }
        val (na, ta) = norms(a)
        val (nb, tb) = if (bi == bj) (na, ta) else norms(b)
        val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Double)]
        var i = 0
        while (i < a.length) {
          val va = a(i).v
          var j = if (bi == bj) i + 1 else 0
          while (j < b.length) {
            if (a(i).id != b(j).id) {
              val vb = b(j).v
              val denom = na(i) * nb(j)
              // Cauchy-Schwarz head/tail bound before the full dot
              var head = 0.0
              var d = 0
              val hd = math.min(headDims, va.length)
              while (d < hd) { head += va(d) * vb(d); d += 1 }
              if ((head + ta(i) * tb(j)) / denom >= tEff) {
                var dot = head
                while (d < va.length) { dot += va(d) * vb(d); d += 1 }
                val cos = dot / denom
                if (cos >= tEff) {
                  val (x, y) =
                    if (a(i).id < b(j).id) (a(i).id, b(j).id)
                    else (b(j).id, a(i).id)
                  out += ((x, y, cos))
                }
              }
            }
            j += 1
          }
          i += 1
        }
        out.iterator
      }

    pairs.toDF("id_a", "id_b", "cos_raw")
      .select(col("id_a"), col("id_b"), round(col("cos_raw"), 6).as("cos"))
      .filter(col("cos") >= threshold)
  }

  /** Deterministic random hyperplanes: component d of plane p is an
    * md5-derived uniform in [-1, 1] — md5 (not the internal hash) so the
    * DuckDB oracle can regenerate the identical planes and recompute the
    * whole LSH bucketing from SQL (q22). */
  private[ops] def hyperplane(planeIdx: Int, dim: Int): Array[Double] =
    Array.tabulate(dim) { d =>
      val h = graft.index.Hashing.md5Hash64(s"plane:$planeIdx:$d")
      (h.toDouble / Long.MaxValue.toDouble)
    }

  /** IVF-flat approximate top-k — the coarse-quantizer scale path next to
    * hyperplane LSH ([[annTopK]]).
    *
    * `nlist` coarse cells. Centroids are a deterministic sample: the nlist
    * vectors with the smallest md5-derived rank (md5, not the internal
    * hash, so the DuckDB oracle regenerates the identical centroid set in
    * SQL — q42; ties broken by id). Every vector is assigned to its nearest
    * centroid by 6-dp-rounded cosine (ties → lowest centroid id; rounding
    * first makes the argmax insensitive to sub-6dp float divergence between
    * engines). A probe scans only its `nprobe` nearest cells: candidates
    * come from a cell equi-join, exact cosine re-ranks them.
    *
    * Scale shape: with nlist = O(√n) the centroid array stays
    * driver/broadcast-sized (nlist·dim doubles — at 10⁸ vectors and
    * nlist=10⁴, ~5 MB), assignment is a narrow map (no shuffle — each
    * vector lands in exactly ONE cell, so unlike the multi-table LSH join
    * no candidate `distinct()` is needed), and each probe touches
    * ~nprobe/nlist of the table. Cells adapt to data density (sampled
    * centroids) — the classic IVF-flat tradeoff vs data-oblivious
    * hyperplanes (Johnson, Douze, Jégou: "Billion-scale similarity search
    * with GPUs", IEEE Big Data 2019). Hot-cell skew is bounded by sampled
    * centroids tracking density; residual skew is an AQE skew-join case. */
  def ivfTopK(emb: DataFrame, probes: DataFrame, idCol: String,
      vecCol: String, k: Int, nlist: Int = 16, nprobe: Int = 3): DataFrame = {
    // the silent long cast would null out string ids (NPE at the centroid
    // collect) or collide truncated doubles — reject loudly instead
    requireIntegralId(emb, idCol, "ivfTopK")
    // the probe side casts too: a string probe id would null out, turn the
    // nbr_id =!= probe_id filter null, and return 0 rows with no error
    requireIntegralId(probes, idCol, "ivfTopK probes")
    val e = nonNullVecs(emb, vecCol)
      .select(col(idCol).cast("long").as("nbr_id"),
        col(vecCol).cast("array<double>").as("v"))
    val rankUdf = udf { (id: Long) =>
      graft.index.Hashing.md5Hash64("ivf:" + id)
    }
    // bounded collect: exactly nlist rows (TakeOrdered on executors)
    val cents: Array[(Long, Array[Double])] = e
      .withColumn("hv", rankUdf(col("nbr_id")))
      .orderBy(col("hv"), col("nbr_id"))
      .limit(nlist)
      .select("nbr_id", "v")
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
    require(cents.nonEmpty, "ivfTopK: embedding table is empty — no centroids")
    val centIds = cents.map(_._1)
    val centVecs = cents.map(_._2)
    val centNorms = centVecs.map { v =>
      var s = 0.0; var i = 0
      while (i < v.length) { s += v(i) * v(i); i += 1 }
      math.sqrt(s)
    }

    /** cell ids of the n nearest centroids of v, by (rounded cos desc, id).
      * Rounding MUST be BigDecimal HALF_UP — bit-identical to both the
      * emitted `round(cos, 6)` column and the DuckDB oracle's round(); the
      * earlier math.rint was half-EVEN and flipped 6-dp centroid-assignment
      * ties. `+ 0.0` normalizes -0.0 so the (-cos, cid) tuple sort cannot
      * rank -0.0 below 0.0 where SQL double comparison treats them equal. */
    def nearestCells(v: Array[Double], n: Int): Array[Long] = {
      var nv = 0.0
      var i = 0
      while (i < v.length) { nv += v(i) * v(i); i += 1 }
      val vn = math.sqrt(nv)
      val scored = new Array[(Double, Long)](centVecs.length)
      var c = 0
      while (c < centVecs.length) {
        val cv = centVecs(c)
        var dot = 0.0
        var d = 0
        while (d < cv.length) { dot += v(d) * cv(d); d += 1 }
        // zero-norm vectors give NaN/Infinity, which BigDecimal.valueOf
        // rejects — propagate the raw value instead (NaN sorts last under
        // tuple ordering, so degenerate rows never win a cell)
        val raw = dot / (vn * centNorms(c))
        val cos =
          if (java.lang.Double.isFinite(raw))
            java.math.BigDecimal.valueOf(raw)
              .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue() + 0.0
          else raw
        scored(c) = (cos, centIds(c))
        c += 1
      }
      scored.sortBy { case (cos, cid) => (-cos, cid) }.take(n).map(_._2)
    }

    // asNondeterministic: stop the optimizer duplicating the centroid
    // sweep into inferred null/size filters (guide §4.4)
    val assignUdf = udf { (v: Array[Double]) => nearestCells(v, 1)(0) }
      .asNondeterministic()
    val probeCellsUdf = udf { (v: Array[Double]) => nearestCells(v, nprobe) }
      .asNondeterministic()

    val assigned = e.withColumn("cell", assignUdf(col("v")))
    val p = nonNullVecs(probes, vecCol)
      .select(col(idCol).cast("long").as("probe_id"),
        col(vecCol).cast("array<double>").as("pv"))
      .withColumn("cell", explode(probeCellsUdf(col("pv"))))
    topKByCos(assigned.join(p, Seq("cell"))
      .filter(col("nbr_id") =!= col("probe_id"))
      .withColumn("cos", round(cosineFast(col("v"), col("pv")), 6)), k)
  }

  /** LSH-bucketed approximate top-k: sign-pattern of `planes` hyperplanes
    * forms the bucket key; exact cosine re-ranks candidates sharing the
    * probe's bucket in any of `tables` independent hash tables. */
  def annTopK(emb: DataFrame, probes: DataFrame, idCol: String,
      vecCol: String, k: Int, planes: Int = 12, tables: Int = 4): DataFrame = {
    val probe = nonNullVecs(emb, vecCol)
      .select(size(col(vecCol))).limit(1).collect()
    require(probe.nonEmpty,
      "annTopK: embedding table has no non-null vectors - " +
        "cannot derive the hyperplane dimensionality")
    val dim = probe(0).getInt(0)
    val planeVecs: Array[Array[Array[Double]]] = Array.tabulate(tables, planes) {
      (t, p) => hyperplane(t * planes + p, dim)
    }
    // ALL tables' bucket keys in ONE UDF call per vector (was one call —
    // and one planes×dim dot-product sweep setup — per (vector, table)
    // row), exploded with the table index as the array position.
    // (id, tbl, bucket) only — the vector is consumed by the bucket hash
    // and dropped before the exchange, so the candidate join shuffles three
    // scalar columns, never dim-sized arrays
    // Array[Double] (NOT Seq[Double]) input: the Seq converter hands the
    // loop a boxed/dispatching view and was measured 12x slower inside
    // the Generate — the same primitive-loop rule as cosineFast
    val bucketsUdf = udf { (v: Array[Double]) =>
      Array.tabulate(tables) { t =>
        val ps = planeVecs(t)
        var key = 0L
        var p = 0
        while (p < ps.length) {
          var s = 0.0
          var d = 0
          while (d < v.length) { s += v(d) * ps(p)(d); d += 1 }
          if (s >= 0) key |= (1L << p)
          p += 1
        }
        key
      }
    }.asNondeterministic()
    def bucketed(df: DataFrame, ic: String, vc: String): DataFrame =
      df.select(col(ic), posexplode(bucketsUdf(col(vc))).as(Seq("tbl", "bucket")))

    val eVecs = nonNullVecs(emb, vecCol).select(col(idCol).as("nbr_id"),
      col(vecCol).cast("array<double>").as("v"))
    val pVecs = nonNullVecs(probes, vecCol).select(col(idCol).as("probe_id"),
      col(vecCol).cast("array<double>").as("pv"))
    val e = bucketed(eVecs, "nbr_id", "v")
    val p = bucketed(pVecs, "probe_id", "pv")

    // dedup candidates on the two id columns ONLY — a vector appears in up
    // to `tables` buckets, and shuffling + hash-comparing dim-sized arrays
    // per duplicate candidate is the scale cost the id-only distinct
    // avoids; the exact re-rank re-joins the vectors afterwards (one
    // probe-side broadcast-sized join + one table-side equi-join)
    val candIds = e.join(p, Seq("tbl", "bucket"))
      .filter(col("nbr_id") =!= col("probe_id"))
      .select("probe_id", "nbr_id")
      .distinct()
    // probe side is query-batch-sized by contract (an ANN serving batch,
    // not a corpus): broadcast it EXPLICITLY — without the hint the
    // planner re-shuffles candIds on probe_id right after the nbr_id join,
    // an avoidable full exchange of the candidate set
    topKByCos(candIds.join(eVecs, Seq("nbr_id"))
      .join(broadcast(pVecs), Seq("probe_id"))
      .withColumn("cos", round(cosineFast(col("v"), col("pv")), 6)), k)
  }
}
