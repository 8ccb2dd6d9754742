package graft

import org.apache.spark.sql.functions._

import graft.ops.{Multimodal, TextOps}

/** TextOps + Multimodal plumbing checks. */
class OpsSpec extends SparkSuite {
  import spark.implicits._

  test("langId votes stopwords and falls back to und") {
    val df = Seq(
      (1L, "the cat and the hat of a dog is here"),
      (2L, "el gato y la casa de es aqui"),
      (3L, "der hund und die katze ist das"),
      (4L, "xyzzy plugh quux"),
      (5L, "de la") // es/fr tie -> und
    ).toDF("id", "text")
    val got = df.select(col("id"), TextOps.langIdExpr(split(col("text"), " ")))
      .as[(Long, String)].collect().toMap
    assert(got(1L) === "en")
    assert(got(2L) === "es")
    assert(got(3L) === "de")
    assert(got(4L) === "und")
    assert(got(5L) === "und")
  }

  test("quality features are exact on a known doc") {
    val df = Seq((1L, "aa bb aa cc")).toDF("id", "text")
    val r = TextOps.qualityFeatures(df, "id", "text").head()
    assert(r.getInt(1) === 4) // n_tokens
    assert(r.getInt(2) === 3) // n_distinct
    assert(r.getDouble(3) === 0.75) // ttr
    assert(r.getDouble(4) === 2.0) // avg token len
    assert(r.getInt(5) === 11) // bytes
  }

  test("rolling hash: deterministic, shift-sensitive") {
    val h1 = TextOps.rollingHash("the quick brown fox jumps over")
    assert(h1 === TextOps.rollingHash("the quick brown fox jumps over"))
    assert(h1 !== TextOps.rollingHash("the quick brown fox jumps ovex"))
    assert(TextOps.rollingHash("") === 0L)
    // sub-window (<16-byte) texts must not all collapse to fingerprint 0:
    // the partial-window hash is folded in instead
    assert(TextOps.rollingHash("cat") !== 0L)
    assert(TextOps.rollingHash("cat") !== TextOps.rollingHash("dog"))
    assert(TextOps.rollingHash("cat") === TextOps.rollingHash("cat"))
  }

  test("multimodal stub: binary transport round-trips deterministic features") {
    val docs = Seq((1L, "hello world"), (2L, "")).toDF("doc_id", "text")
    val media = Multimodal.fromText(docs, "doc_id", "text").as[Multimodal.MediaRow]
    val feats = Multimodal.extractFeatures(spark, media)
      .collect().map(f => f.id -> f).toMap
    assert(feats(1L).n_bytes === 11)
    assert(feats(1L).head_byte === 'h'.toInt)
    assert(feats(1L).width === 11 && feats(1L).height === 77)
    assert(feats(2L).n_bytes === 0 && feats(2L).head_byte === 0)
    // repeat run = identical checksums (pure function of bytes)
    val again = Multimodal.extractFeatures(spark, media)
      .collect().map(f => f.id -> f.checksum).toMap
    assert(again(1L) === feats(1L).checksum)
  }

  test("multimodal resize/frame-sample stubs: deterministic shapes") {
    val docs = Seq((1L, "x" * 100)).toDF("doc_id", "text")
    val media = Multimodal.fromText(docs, "doc_id", "text").as[Multimodal.MediaRow]
    val resized = Multimodal.resize(spark, media, 50).collect().head
    assert(resized.media.length === 50) // width 100 -> 50 halves the bytes
    val frames = Multimodal.sampleFrames(spark, media, 16, 2).collect()
    assert(frames.length === 3) // frames 0,2,4 of 6
    assert(frames.map(_.media.length).toSeq === Seq(16, 16, 16))
    assert(frames.map(_.kind).forall(_.startsWith("text/plain;frame=")))
    // determinism
    val again = Multimodal.sampleFrames(spark, media, 16, 2).collect()
    assert(frames.map(_.media.toSeq).toSeq === again.map(_.media.toSeq).toSeq)
  }

  test("TSV source round-trip with explicit schema (SURVEY S3)") {
    val dir = java.nio.file.Files.createTempDirectory("graft-tsv").toString
    spark.read.parquet("/root/testdata/sf0.001/nation.parquet")
      .write.option("sep", "\t").option("header", "true").csv(s"$dir/nation")
    val back = spark.read.option("sep", "\t").option("header", "true")
      .schema("n_nationkey INT, n_name STRING, n_regionkey INT")
      .csv(s"$dir/nation")
    val orig = spark.read.parquet("/root/testdata/sf0.001/nation.parquet")
      .as[(Int, String, Int)].collect().sortBy(_._1).toSeq
    assert(back.as[(Int, String, Int)].collect().sortBy(_._1).toSeq === orig)
    // malformed row routed by PERMISSIVE vs FAILFAST (reference raises on
    // malformed TSV rows, tests/test_reactome.py:9-45)
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$dir/bad.tsv"), "x\tnot_an_int\ty\n")
    val permissive = spark.read.option("sep", "\t")
      .schema("a INT, b INT, c INT").csv(s"$dir/bad.tsv").collect()
    assert(permissive.head.isNullAt(0)) // nulls, not crash
    intercept[org.apache.spark.SparkException] {
      spark.read.option("sep", "\t").option("mode", "FAILFAST")
        .schema("a INT, b INT, c INT").csv(s"$dir/bad.tsv").collect()
    }
  }

  test("gzip line source decodes transparently via Hadoop codecs (SURVEY S2)") {
    // the reference's URLZSource opens gz/plain/URL uniformly
    // (mrtarget/common/IO.py:48-66); on Spark the Hadoop codec registry is
    // the same open-anything seam — .gz inputs decompress inside the scan,
    // no user code. Mixed plain+gz globs read in one pass.
    val dir = java.nio.file.Files.createTempDirectory("graft-gz").toString
    val gz = new java.util.zip.GZIPOutputStream(
      new java.io.FileOutputStream(s"$dir/part1.jsonl.gz"))
    gz.write("{\"id\":1,\"t\":\"alpha\"}\n{\"id\":2,\"t\":\"beta\"}\n".getBytes("UTF-8"))
    gz.close()
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$dir/part2.jsonl"), "{\"id\":3,\"t\":\"gamma\"}\n")
    val lines = spark.read.text(s"$dir/part*.jsonl*")
    assert(lines.count() === 3)
    val parsed = lines.select(
        from_json(col("value"),
          org.apache.spark.sql.types.StructType.fromDDL("id INT, t STRING")).as("r"))
      .select("r.id", "r.t").as[(Int, String)].collect().sortBy(_._1).toSeq
    assert(parsed === Seq((1, "alpha"), (2, "beta"), (3, "gamma")))
  }

  test("XML source: entities, CDATA, nesting, absent fields, malformed (SURVEY S5)") {
    import graft.ops.XmlSource
    // entity unescape + CDATA + nested traversal + first-occurrence
    val xml = """<e><name>A &amp; B &lt;C&gt;</name>
      <deep><inner>nested text</inner></deep>
      <name>second ignored</name>
      <data><![CDATA[raw <not> parsed & kept]]></data></e>"""
    val got = XmlSource.parseFields(xml, Array("name", "inner", "data", "absent"))
    assert(got(0) === "A & B <C>")
    assert(got(1) === "nested text")
    assert(got(2) === "raw <not> parsed & kept")
    assert(got(3) === null)
    // nested same-name elements: the inner close must not end the outer
    // capture early (pre-fix: returned "ab" from <v>a<v>b</v>c</v>)
    val nested = XmlSource.parseFields("<r><v>a<v>b</v>c</v></r>", Array("v"))
    assert(nested(0) === "abc")
    // a requested field nested inside another requested field: both
    // capture (pre-fix: the inner one silently stayed null)
    val nestedReq = XmlSource.parseFields(
      "<entry>pre<name>X</name>post</entry>", Array("entry", "name"))
    assert(nestedReq.toSeq === Seq("preXpost", "X"))
    // malformed XML throws the routable IllegalArgumentException
    intercept[IllegalArgumentException](
      XmlSource.parseFields("<e><open></e>", Array("open")))
    // fuzz: arbitrary byte garbage either parses or throws the ROUTABLE
    // exception — never anything that would escape the invalid channel
    val rng = new scala.util.Random(11)
    (0 until 500).foreach { _ =>
      val garbage = new String(Array.fill(rng.nextInt(60))(
        (rng.nextInt(94) + 32).toChar))
      try XmlSource.parseFields(s"<a>$garbage</a>", Array("a", "b"))
      catch { case _: IllegalArgumentException => }
    }
    // round-trip property: parse(xmlEscape(x)) == x for hostile strings
    // (same escape the q45 synthesis uses, driver-side twin)
    val hostile = Seq("a&b", "<tag>", "a]]>b", "&amp;", "x\"y'z", "&&&<<<>>>")
    hostile.foreach { x =>
      val esc = x.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")
      assert(XmlSource.parseFields(s"<a>$esc</a>", Array("a"))(0) === x, x)
    }
    // DataFrame surface: extracted columns behave like ordinary columns
    val df = Seq((1L, "<r><v>x</v></r>"), (2L, "<r><w>only w</w></r>"))
      .toDF("id", "xml")
    val out = XmlSource.extractFields(df, "xml", Seq("v", "w"))
      .select("id", "v", "w").as[(Long, String, String)].collect().sortBy(_._1)
    assert(out.toSeq === Seq((1L, "x", null), (2L, null, "only w")))
  }

  test("OWL ancestors: attr parse + pointer-jumping closure vs brute force (S7)") {
    import graft.ops.{Ontology, XmlSource}
    // rdf:about / rdf:resource attribute extraction (namespace-insensitive)
    val frag = """<rdf:RDF xmlns:rdf="http://www.w3.org/1999/02/22-rdf-syntax-ns#"
      xmlns:rdfs="http://www.w3.org/2000/01/rdf-schema#"
      xmlns:owl="http://www.w3.org/2002/07/owl#">
      <owl:Class rdf:about="EFO_7"><rdfs:subClassOf rdf:resource="EFO_3"/></owl:Class></rdf:RDF>"""
    val attrs = XmlSource.parseAttrs(frag, Array(("Class", "about"), ("subClassOf", "resource")))
    assert(attrs.toSeq === Seq("EFO_7", "EFO_3"))

    // structural edge scoping: multiple classes per fragment, a root class
    // without a parent, and a multi-parent class — every edge pairs a
    // subClassOf with its ENCLOSING class, nothing fabricated or dropped
    val multi = """<rdf:RDF xmlns:rdf="http://www.w3.org/1999/02/22-rdf-syntax-ns#"
      xmlns:rdfs="http://www.w3.org/2000/01/rdf-schema#"
      xmlns:owl="http://www.w3.org/2002/07/owl#">
      <owl:Class rdf:about="N1"/>
      <owl:Class rdf:about="N7">
        <rdfs:subClassOf rdf:resource="N3"/>
        <rdfs:subClassOf rdf:resource="N2"/>
      </owl:Class></rdf:RDF>"""
    assert(graft.ops.Ontology.parseSubClassEdges(multi).toSeq ===
      Seq(("N7", "N3"), ("N7", "N2")))

    // a multi-parent DAG violates the forest precondition — loud failure,
    // never silently multiplied rows
    val dag = Seq((5L, 2L), (5L, 3L), (2L, 1L)).toDF("id", "parent")
    val err = intercept[IllegalArgumentException](
      graft.ops.Ontology.ancestorChain(dag))
    assert(err.getMessage.contains("multiple parents"))

    // deterministic deep forest: node i's parent = i/3 (depth ~7 at 2000
    // nodes, two roots 1 and 2); brute-force chains on the driver
    val n = 2000
    val edges = (3 until n).map(i => (i.toLong, (i / 3).toLong)).toDF("id", "parent")
    def brute(i: Long): List[Long] =
      if (i < 3) Nil else brute(i / 3) :+ (i / 3)
    val got = Ontology.ancestorChain(edges)
      .as[(Long, Seq[Long])].collect().toMap
    assert(got.size === n - 3)
    (3 until n).foreach { i =>
      assert(got(i.toLong).toList === brute(i.toLong), s"node $i")
    }
  }

  test("OWL DAG ancestorPaths: all root paths vs brute force; edge dedup; release handle") {
    import graft.ops.Ontology
    // multi-inheritance DAG: parents(i) = {i/2} ∪ {i/3} (the q47 shape),
    // 300 nodes, root 1 — brute-force path enumeration on the driver
    val n = 300
    val edgeSeq = (2 until n).flatMap { i =>
      Seq((i.toLong, (i / 2).toLong)) ++
        (if (i >= 3) Seq((i.toLong, (i / 3).toLong)) else Nil)
    }
    def brute(i: Long): List[List[Long]] =
      if (i < 2) List(Nil)
      else Set(i / 2, i / 3).filter(_ >= 1).toList.sorted.flatMap(p =>
        brute(p).map(_ :+ p)) // root-first
    val expect = (2 until n).flatMap(i =>
      brute(i.toLong).map(p => (i.toLong, p))).toSet

    // duplicate edges injected deliberately (i/2 == i/3 at i=3 already
    // duplicates; add a few more) — edge-SET semantics must hold
    val edges = (edgeSeq ++ edgeSeq.take(5)).toDF("id", "parent")
    val pinnedBefore = spark.sparkContext.getPersistentRDDs.size
    val managed = Ontology.ancestorPathsManaged(edges)
    val got = managed.df.as[(Long, Seq[Long])].collect()
      .map { case (id, p) => (id, p.toList) }.toSet
    assert(got === expect)
    // exactly one path per node that is forest-shaped, several for DAG
    // nodes: node 6 has parents {3, 2} -> paths 1/3 and 1/2
    assert(got.filter(_._1 == 6L).map(_._2) === Set(List(1L, 3L), List(1L, 2L)))
    // the release handle frees the final round's pinned checkpoint blocks
    managed.release()
    assert(spark.sparkContext.getPersistentRDDs.size <= pinnedBefore)

    // the forest chain API agrees with paths on a forest (unique paths)
    val forest = (3 until 50).map(i => (i.toLong, (i / 3).toLong)).toDF("id", "parent")
    val chains = Ontology.ancestorChain(forest).as[(Long, Seq[Long])]
      .collect().toMap
    val paths = Ontology.ancestorPaths(forest).as[(Long, Seq[Long])]
      .collect().groupBy(_._1)
    assert(paths.keySet === chains.keySet)
    paths.foreach { case (id, ps) =>
      assert(ps.length === 1)
      assert(ps.head._2.toList === chains(id).toList)
    }
  }

  test("OWL DAG ancestorPaths: randomized DAGs vs brute force (fuzz)") {
    import graft.ops.Ontology
    // random layered DAGs, acyclic by construction (parents strictly
    // smaller); <=2 parents and 60 nodes bound the path count
    val rnd = new scala.util.Random(4242)
    (1 to 5).foreach { round =>
      val n = 30 + rnd.nextInt(30)
      val parentMap: Map[Long, List[Long]] = (2 to n).map { i =>
        val np = 1 + rnd.nextInt(2)
        val ps = (1 to np).map(_ => 1 + rnd.nextInt(i - 1)).distinct
          .map(_.toLong).toList
        i.toLong -> ps
      }.toMap
      val edges = parentMap.toSeq
        .flatMap { case (id, ps) => ps.map(p => (id, p)) }
        .toDF("id", "parent")
      def brute(i: Long): List[List[Long]] = parentMap.get(i) match {
        case None => List(Nil) // root
        case Some(ps) => ps.flatMap(p => brute(p).map(_ :+ p))
      }
      val expect = (2L to n.toLong).flatMap(i =>
        brute(i).map(p => (i, p))).toSet
      val managed = Ontology.ancestorPathsManaged(edges)
      val got = managed.df.as[(Long, Seq[Long])].collect()
        .map { case (id, p) => (id, p.toList) }
      assert(got.length === got.toSet.size, s"round $round: duplicate paths")
      assert(got.toSet === expect, s"round $round (n=$n)")
      managed.release()
    }
  }

  test("ancestorPaths dense-DAG path budget fails loudly and frees blocks") {
    import graft.ops.Ontology
    // layered complete bipartite DAG: L layers of width W, every node
    // points at ALL W nodes of the previous layer -> W^(L-1) root paths per
    // top-layer node. Path enumeration on such density must trip the
    // budget guard mid-closure instead of OOMing at a later round.
    val W = 4
    val L = 8
    def node(layer: Int, i: Int): Long = layer.toLong * 100 + i
    val edges = (1 until L).flatMap { l =>
      for (i <- 0 until W; j <- 0 until W) yield (node(l, i), node(l - 1, j))
    }.toDF("id", "parent")
    val pinnedBefore = spark.sparkContext.getPersistentRDDs.size
    val e = intercept[IllegalStateException](
      Ontology.ancestorPaths(edges, maxPaths = 2000))
    assert(e.getMessage.contains("path budget"))
    // the failure path must not leak pinned checkpoint blocks
    assert(spark.sparkContext.getPersistentRDDs.size <= pinnedBefore)
    // and a budget that fits lets the same closure finish: total paths =
    // sum over layers l>=1 of W * W^(l-1)... bounded here by brute count
    val full = Ontology.ancestorPaths(edges, maxPaths = 500000)
    assert(full.count() > 0)
  }

  test("ancestorPaths frees only its own checkpoints beside a concurrent localCheckpoint") {
    import graft.ops.Ontology
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.execution.LogicalRDD
    // a localCheckpoint block cannot be recomputed: a closure that freed
    // the other thread's checkpoint would make that thread's re-read fail
    val edges = (2 until 200).flatMap(i => Seq((i.toLong, (i / 2).toLong)) ++
      (if (i >= 3) Seq((i.toLong, (i / 3).toLong)) else Nil)).toDF("id", "parent")
    def unpin(d: DataFrame): Unit =
      d.queryExecution.logical.collect { case r: LogicalRDD => r.rdd.unpersist() }
    val rounds = 8
    val failedRounds = (1 to rounds).map { _ =>
      @volatile var closureError: Option[Throwable] = None
      val closure = new Thread(() =>
        try {
          val m = Ontology.ancestorPathsManaged(edges)
          m.df.count()
          m.release()
        } catch { case e: Throwable => closureError = Some(e) })
      closure.start()
      val held = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
      val otherError =
        try {
          while (closure.isAlive) held += spark.range(0, 1000, 1, 2).toDF("x").localCheckpoint()
          closure.join()
          held.foreach(d => assert(d.count() === 1000L))
          None
        } catch { case e: Throwable => Some(e) }
        finally { closure.join(); held.foreach(unpin) }
      closureError.toSeq ++ otherError
    }.filter(_.nonEmpty)
    assert(failedRounds.isEmpty, s"${failedRounds.length} of $rounds rounds failed: " +
      failedRounds.flatten.map(_.getMessage.take(120)).mkString(" | "))
  }

  test("closure job counts on the q46/q47 shapes; results equal brute force") {
    import graft.ops.Ontology
    // ids 1..120: q46's forest (parent id/2) and q47's DAG (id/2 and id/3);
    // both are 6 levels deep, so the closure stops after 3 doubling rounds
    val forest = (2 to 120).map(i => (i.toLong, (i / 2).toLong))
    val dag = forest ++ (3 to 120).map(i => (i.toLong, (i / 3).toLong))
    def parents(es: Seq[(Long, Long)]) = es.groupBy(_._1).map { case (k, v) => k -> v.map(_._2).distinct }
    def brute(ps: Map[Long, Seq[Long]])(i: Long): Seq[List[Long]] = ps.get(i) match {
      case None => Seq(Nil)
      case Some(up) => up.flatMap(p => brute(ps)(p).map(_ :+ p))
    }
    def expect(es: Seq[(Long, Long)]) = {
      val ps = parents(es)
      ps.keys.toSeq.flatMap(i => brute(ps)(i).map(p => (i, p))).toSet
    }
    def check(name: String, es: Seq[(Long, Long)], budget: Int)(
        run: org.apache.spark.sql.DataFrame => Ontology.PinnedResult): Unit = {
      val (pr, jobs) = JobLog.of(spark)(run(es.toDF("id", "parent")))
      try {
        info(s"$name: ${jobs.count} jobs")
        // the init aggregation and 3 rounds: no fourth round only to see a fixpoint
        assert(jobs.count === budget, s"$name jobs:\n$jobs")
        assert(pr.df.columns.toSeq === Seq("id", "anc"))
        val got = pr.df.as[(Long, Seq[Long])].collect().map { case (i, p) => (i, p.toList) }
        assert(got.length === got.toSet.size, s"$name: duplicate paths")
        assert(got.toSet === expect(es), name)
      } finally pr.release()
    }
    check("ancestorChainManaged", forest, 15)(Ontology.ancestorChainManaged(_))
    check("ancestorPathsManaged", dag, 16)(Ontology.ancestorPathsManaged(_))
  }

  test("closure cycle guard: a 3-cycle fails after maxRounds and frees its blocks") {
    import graft.ops.Ontology
    // every row of a cycle joins every round, so none is ever finished:
    // the fin stop rule must not end the loop, the maxRounds guard must
    val cycle = Seq((1L, 2L), (2L, 3L), (3L, 1L)).toDF("id", "parent")
    val pinnedBefore = spark.sparkContext.getPersistentRDDs.size
    Seq[() => Any](() => Ontology.ancestorChain(cycle, maxRounds = 4),
        () => Ontology.ancestorPaths(cycle, maxRounds = 4)).foreach { run =>
      val e = intercept[IllegalArgumentException](run())
      assert(e.getMessage.contains("no fixpoint after 4 doubling rounds"), e.getMessage)
    }
    assert(spark.sparkContext.getPersistentRDDs.size <= pinnedBefore)
  }

  test("fingerprint expression equals Analyzer-free sorted token set") {
    val df = Seq((1L, "b a b c a")).toDF("id", "text")
    val fp = df.select(TextOps.fingerprintExpr(col("text"))).head().getString(0)
    val expected = java.security.MessageDigest.getInstance("MD5")
      .digest("a b c".getBytes("UTF-8")).map("%02x".format(_)).mkString
    assert(fp === expected)
  }

  test("strict lookup ignores null dim keys; provenance edges pass the forest check") {
    import graft.ops.{Lookup, Ontology}
    // two null-key dim rows share a group, but a null key can never match
    // a fact row (SQL null equality) — strict mode must not call that
    // ambiguous
    val facts = Seq((1L, "k1")).toDF("fid", "fk")
    val dimWithNulls = Seq(("k1", "a"),
      (null.asInstanceOf[String], "x"), (null.asInstanceOf[String], "y"))
      .toDF("dk", "payload")
    val got = Lookup.ambiguityChecked(facts, col("fk"), dimWithNulls, "dk")
      .select("fid", "payload").as[(Long, String)].collect()
    assert(got.toSeq === Seq((1L, "a")))
    // a repeated (id,parent) edge under DIFFERENT provenance values is
    // one parent — the forest check dedups on the edge key, not full rows
    val edges = Seq((2L, 1L, "srcA"), (2L, 1L, "srcB"), (3L, 1L, "srcA"))
      .toDF("id", "parent", "provenance")
    val chains = Ontology.ancestorChain(edges)
      .as[(Long, Seq[Long])].collect().toMap
    assert(chains === Map(2L -> Seq(1L), 3L -> Seq(1L)))
  }

  test("ambiguity-checked lookup: clean, miss, and duplicate-key behaviors") {
    import graft.ops.Lookup
    val facts = Seq((1L, "k1"), (2L, "k2"), (3L, "k3")).toDF("fid", "fk")
    val cleanDim = Seq(("k1", "a"), ("k2", "b")).toDF("dk", "payload")
    val got = Lookup.ambiguityChecked(facts, col("fk"), cleanDim, "dk")
      .select("fid", "payload", "n_hits").as[(Long, String, Long)]
      .collect().sortBy(_._1)
    assert(got.toSeq === Seq((1L, "a", 1L), (2L, "b", 1L), (3L, null, 0L)))

    // same-named key columns: the FACT's key must survive (drop-by-name
    // would remove it and null the key on every miss row)
    val sameName = Seq((1L, "k1"), (3L, "kX")).toDF("fid", "dk")
    // frame-qualified key (bare col("dk") would be ambiguous in the join)
    val gotSame = Lookup.ambiguityChecked(sameName, sameName("dk"), cleanDim, "dk")
      .select("fid", "dk", "payload", "n_hits")
      .as[(Long, String, String, Long)].collect().sortBy(_._1)
    assert(gotSame.toSeq === Seq((1L, "k1", "a", 1L), (3L, "kX", null, 0L)))

    // key-only dim: membership count, no payload expansion
    val keyOnly = Lookup.ambiguityChecked(facts, col("fk"),
        cleanDim.select("dk"), "dk")
      .select("fid", "n_hits").as[(Long, Long)].collect().sortBy(_._1)
    assert(keyOnly.toSeq === Seq((1L, 1L), (2L, 1L), (3L, 0L)))

    val dupDim = Seq(("k1", "a"), ("k1", "a2"), ("k2", "b")).toDF("dk", "payload")
    val ex = intercept[IllegalStateException] {
      Lookup.ambiguityChecked(facts, col("fk"), dupDim, "dk")
    }
    assert(ex.getMessage.contains("ambiguous"))
    // non-strict: ambiguity surfaces as n_hits > 1 with a deterministic pick
    val tagged = Lookup.ambiguityChecked(facts, col("fk"), dupDim, "dk",
        strict = false)
      .select("fid", "payload", "n_hits").as[(Long, String, Long)]
      .collect().sortBy(_._1)
    assert(tagged.toSeq === Seq((1L, "a", 2L), (2L, "b", 1L), (3L, null, 0L)))
  }
}
