package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._

/** S7: RDF/OWL ontology source + eager ancestor materialization.
  *
  * The reference loads OWL ontologies through an external
  * OntologyClassReader and eagerly materializes class paths
  * (mrtarget/modules/EFO.py:132-145, modules/ECO.py:84-96, Reactome's
  * networkx all_simple_paths). Re-expressed Spark-first with no external
  * libraries: RDF/XML IS XML, so `rdfs:subClassOf` edges parse with the
  * same hardened StAX reader ([[XmlSource]]), and ancestor paths
  * materialize via POINTER JUMPING — each round appends the current
  * ancestor chain of the chain's topmost node, doubling path length per
  * round, so a depth-D hierarchy closes in O(log D) self-joins instead of
  * D sequential levels (the naive transitive-closure loop). At web scale
  * each round is one equi-join on the chain head; `localCheckpoint` cuts
  * the growing lineage so round N's plan does not replay rounds 1..N-1,
  * and superseded checkpoints are unpersisted as rounds advance. */
object Ontology {

  /** ALL (classId, parentId) subClassOf edges of one RDF/XML fragment,
    * structurally scoped: a `subClassOf`'s `rdf:resource` pairs with the
    * `rdf:about` of its ENCLOSING `Class` element — fragments with many
    * classes, root classes without parents, and multi-parent classes
    * (EFO is multi-inheritance) all extract correctly. */
  private[graft] def parseSubClassEdges(xml: String): Array[(String, String)] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    val classStack = scala.collection.mutable.ArrayBuffer.empty[String]
    XmlSource.walk(xml)(
      onStart = { (name, attr) =>
        if (name == "Class") classStack += attr("about").orNull
        else if (name == "subClassOf" && classStack.nonEmpty &&
            classStack.last != null)
          attr("resource").foreach(r => out += ((classStack.last, r)))
      },
      onEnd = { name =>
        if (name == "Class" && classStack.nonEmpty)
          classStack.remove(classStack.length - 1)
      })
    out.toArray
  }

  /** (id, parent) subClassOf edge table from one RDF/XML fragment per row
    * (a fragment may contribute many edges). `stripPrefix` removes a
    * uniform id prefix (ontology IRIs); edges whose stripped ids are not
    * numeric are dropped. */
  def subClassEdges(df: DataFrame, xmlCol: String,
      stripPrefix: String = ""): DataFrame = {
    // asNondeterministic: a StAX parse is expensive, and the optimizer
    // otherwise re-evaluates it inside filters inferred from the explode
    // (guide §4.4)
    val parse = udf { (xml: String) => parseSubClassEdges(xml) }
      .asNondeterministic()
    val quoted = java.util.regex.Pattern.quote(stripPrefix)
    df.select(explode(parse(col(xmlCol))).as("_e"))
      .select(
        regexp_replace(col("_e._1"), s"^$quoted", "").cast("long").as("id"),
        regexp_replace(col("_e._2"), s"^$quoted", "").cast("long").as("parent"))
      .filter(col("id").isNotNull && col("parent").isNotNull)
  }

  /** An iterative-closure result whose `df` is backed by the final round's
    * `localCheckpoint` blocks. Those blocks register OUTSIDE the cache
    * manager (Dataset.unpersist cannot release them), so the handle carries
    * an explicit `release()`: call it once the result has been consumed
    * (collected/written) and the blocks are freed; the df is NOT
    * recomputable afterwards. Long-lived sessions making repeated closure
    * calls must release, or pinned RDDs accumulate. */
  final case class PinnedResult(df: DataFrame, release: () => Unit)

  /** Shared pointer-jumping core of [[ancestorChain]]/[[ancestorPaths]]:
    * state rows (id, anc, fin) where anc is a root-ward path [top, ...,
    * parent] and fin says that the path's top is a root; each round every
    * unfinished path prepends, per state path of its TOP node, that full
    * path — doubling covered depth per round, so a depth-D graph closes in
    * O(log D) self-joins. On a forest each row has exactly one extension
    * (a chain); on a DAG the left join fans out once per distinct path of
    * the top node, which enumerates every (id, root-path) exactly once:
    * unfinished paths all have length exactly 2^r (so distinct rows
    * compose to distinct rows), and a finished path's top is parentless
    * while an unfinished one's is not (so the two pools can never collide).
    *
    * Stop rule: a row that misses the join has a root on top and is
    * finished; a row that joins takes the joined path's `fin`. The loop
    * stops on the first round after which every row is finished, so it
    * never runs a no-op round that only confirms the fixpoint (no path
    * grows in a round only when every row missed the join). A cycle
    * never finishes a row and trips the `maxRounds` guard.
    *
    * Cost under AQE, measured on the q46/q47 shapes (ids 1..120, parents
    * id/2, and id/2 plus id/3; 4 cores): the init aggregation is 3 Spark
    * jobs (4 with the forest statistic), and a round 3 to 5 — the
    * checkpointed join's shuffle stages run as jobs of their own when its
    * plan is finalized, then the stats aggregation (row count and
    * min(fin)) materializes the checkpoint. Both shapes are 6
    * levels deep and close in 3 rounds: 15 jobs for the chain and 16 for
    * the paths, where confirming the fixpoint with a fourth round cost
    * 4 to 5 more.
    *
    * `localCheckpoint` cuts the exponentially-growing self-join lineage
    * each round; superseded rounds' blocks are freed as rounds advance,
    * the final round's through the returned handle. Only this closure's
    * own checkpoint RDDs are ever freed, read off each checkpointed
    * Dataset's plan: a `localCheckpoint` block cannot be recomputed, so
    * freeing a concurrent query's checkpoint would fail that query. */
  private def closure(edges: DataFrame, maxRounds: Int, op: String,
      maxPaths: Long = DefaultMaxPaths, requireForest: Boolean = false): PinnedResult = {
    val spark = edges.sparkSession
    // LAZY localCheckpoint: the round's stats aggregation is the action
    // that materializes (and pins) the blocks, so no round pays a separate
    // eager checkpoint job. persist() registers the RDD at mark time, the
    // stats job computes every partition.
    def checkpointTracked(df: DataFrame): (DataFrame, Set[Int]) = {
      val out = df.localCheckpoint(false)
      // the checkpointed RDD is the one the returned Dataset's LogicalRDD
      // wraps — not whatever else became persistent meanwhile
      (out, out.queryExecution.logical.collect { case r: LogicalRDD => r.rdd.id }.toSet)
    }
    def free(ids: Set[Int]): Unit =
      spark.sparkContext.getPersistentRDDs.view
        .filterKeys(ids.contains).values.foreach(_.unpersist(blocking = false))
    def result(df: DataFrame, ids: Set[Int]) = PinnedResult(df.drop("fin"), () => free(ids))

    var (anc, held) = checkpointTracked(
      edges.select(col("id").cast("long").as("id"),
        array(col("parent").cast("long")).as("anc"), lit(false).as("fin")))
    // any failure inside the loop (cycle guard, task error) must free the
    // round currently pinned — these blocks live OUTSIDE the cache
    // manager and would otherwise leak for the session's lifetime
    try {
      // one aggregation doubles as the materializing action, the
      // emptiness probe AND — for ancestorChain only — the forest
      // precondition (edges arrive deduped on (id, parent), so a repeated
      // id IS a multi-parent node); the diagnostic query naming an
      // offender only runs on the (fatal) violation path
      val forest = if (requireForest) Seq(countDistinct(col("id"))) else Nil
      val init = anc.agg(count(lit(1)), forest: _*).head()
      if (init.getLong(0) == 0L) return result(anc, held)
      if (requireForest && init.getLong(1) != init.getLong(0)) {
        val dup = anc.groupBy(col("id")).count()
          .filter(col("count") > 1).select(col("id")).limit(1).collect()
        throw new IllegalArgumentException(
          s"ancestorChain: node ${if (dup.nonEmpty) dup(0).get(0) else "?"} has " +
            "multiple parents — a forest is required (ancestorPaths handles DAGs)")
      }
      var round = 0
      var done = false
      while (!done) {
        require(round < maxRounds,
          s"$op: no fixpoint after $maxRounds doubling rounds — cycle in edges?")
        val m = anc.select(col("id").as("_jid"), col("anc").as("_janc"),
          col("fin").as("_jfin"))
        val (next, nextHeld) = checkpointTracked(
          anc.withColumn("_top", element_at(col("anc"), 1))
            .join(m, col("_top") === col("_jid"), "left")
            .select(col("id"),
              when(col("_janc").isNotNull, concat(col("_janc"), col("anc")))
                .otherwise(col("anc")).as("anc"),
              coalesce(col("_jfin"), lit(true)).as("fin")))
        val (rows2, allFin) =
          try {
            val r = next.agg(count(lit(1)), min(col("fin"))).head()
            (r.getLong(0), r.getBoolean(1))
          }
          catch { case e: Throwable => free(nextHeld); throw e }
        // density guard: path enumeration is inherently output-exponential
        // on dense DAGs (each round can SQUARE the path count). Fail loudly
        // mid-closure — like the cycle guard — instead of OOMing at round
        // k+1; the budget is rows (paths), the quantity that explodes.
        if (rows2 > maxPaths) {
          free(nextHeld)
          throw new IllegalStateException(
            s"$op: path budget exceeded at round $round - $rows2 paths > " +
              s"maxPaths=$maxPaths. The edge DAG is too dense for full " +
              "path enumeration; raise maxPaths only if the output is " +
              "genuinely wanted at that cardinality")
        }
        done = allFin
        free(held)
        held = nextHeld
        anc = next
        round += 1
      }
      result(anc, held)
    } catch {
      case e: Throwable =>
        free(held)
        throw e
    }
  }

  /** Root-first ancestor chain per node: for edges (id, parent) forming a
    * FOREST, returns (id, anc) where anc = [root, ..., grandparent,
    * parent]. Nodes without a parent edge do not appear (their chain is
    * empty).
    *
    * Preconditions enforced loudly rather than silently mis-answered:
    * a node with more than one parent (a DAG) is rejected up front — use
    * [[ancestorPaths]], which materializes ALL root paths. A cycle never
    * reaches a fixpoint and trips the `maxRounds` guard (2^20 depth
    * exceeds any real ontology).
    *
    * The result rides on pinned checkpoint blocks that outlive this call;
    * use [[ancestorChainManaged]] in long-lived sessions to free them. */
  def ancestorChain(edges: DataFrame, maxRounds: Int = 20): DataFrame =
    ancestorChainManaged(edges, maxRounds).df

  /** [[ancestorChain]] with a [[PinnedResult]] release handle. */
  def ancestorChainManaged(edges: DataFrame, maxRounds: Int = 20): PinnedResult = {
    // a doubly-ASSERTED subClassOf is one parent, not two (RDF sources
    // routinely repeat triples) — dedup on the EDGE KEY before the forest
    // check (a full-row distinct would keep a repeated (id,parent) edge
    // alive under differing provenance columns and fail the check
    // spuriously), and feed the deduped edges to the closure so repeated
    // rows cannot double its path accounting either
    val e = edges.select("id", "parent").distinct()
    closure(e, maxRounds, "ancestorChain", requireForest = true)
  }

  /** ALL root-first ancestor paths per node over a multi-inheritance DAG:
    * one row (id, anc) per distinct maximal ascending path, anc = [root,
    * ..., grandparent, parent]. This is the reference's EFO shape — its
    * ontologies are DAGs and it materializes a LIST of class paths per
    * node (mrtarget/modules/EFO.py:147-214 classes_paths['ids']; Reactome
    * uses networkx all_simple_paths, modules/Reactome.py:88).
    *
    * Output size equals the number of root paths — inherent to the
    * semantics, and bounded in practice: real ontologies are shallow
    * (EFO depth < 20) and corpus-small next to the document tables this
    * engine targets. Rounds are O(log D) pointer-jumping self-joins, NOT
    * O(D) frontier steps. Duplicate input edges are collapsed (edge SET
    * semantics) so a doubly-asserted subClassOf cannot double paths. */
  def ancestorPaths(edges: DataFrame, maxRounds: Int = 20,
      maxPaths: Long = DefaultMaxPaths): DataFrame =
    ancestorPathsManaged(edges, maxRounds, maxPaths).df

  /** [[ancestorPaths]] with a [[PinnedResult]] release handle. `maxPaths`
    * bounds the materialized path count per round (dense-DAG explosion
    * guard — the closure fails loudly instead of OOMing). */
  def ancestorPathsManaged(edges: DataFrame, maxRounds: Int = 20,
      maxPaths: Long = DefaultMaxPaths): PinnedResult =
    closure(edges.select("id", "parent").distinct(), maxRounds,
      "ancestorPaths", maxPaths)

  /** Default per-round path budget: generous for real ontologies (EFO
    * materializes ~10^5 paths) while stopping a dense synthetic DAG before
    * a round's checkpoint would dominate executor storage. */
  val DefaultMaxPaths: Long = 50000000L
}
