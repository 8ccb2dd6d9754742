package graft

import java.nio.file.Files

import scala.util.Random

import graft.corpus.Corpus
import graft.index.{Deletes, IndexBuilder, IndexConfig, Snapshot}
import graft.search.{BoolQuery, Searcher}

/** Randomized document-lifecycle fuzz: arbitrary seeded interleavings of
  * append / upsert / delete / purge / compact are replayed against a
  * driver-side model (url -> latest live text). After every op the engine
  * must agree with the model on membership (dead urls never surface, every
  * live url's latest version resolves); after a final merge the index
  * must answer exactly like a fresh build over the model state, docIds
  * (the tie key) included —
  * the end-to-end invariant each single-op spec (DeleteSpec, UpsertSpec,
  * IndexSearchSpec) proves for one step, here proven for whole histories. */
class LifecycleFuzzSpec extends SparkSuite {
  import spark.implicits._

  private val cfg = IndexConfig(numSegments = 3, blockSize = 16)
  private val queries = Seq("the data", "merge sort join", "crawl web page", "the")

  private def freshPages(n: Int, seed: Long, startId: Long): Seq[(String, String)] =
    Corpus.pages(spark, n, seed = seed, vocabSize = 300, medianLen = 30,
      startId = startId).select("url", "text").as[(String, String)].collect().toSeq

  private def runHistory(seed: Int): Unit = {
    val rng = new Random(seed)
    val dir = Files.createTempDirectory(s"graft-lc-$seed").toString
    var nextId = 0L
    def mint(n: Int): Seq[(String, String)] = {
      val p = freshPages(n, seed = 1000 + seed, startId = nextId)
      nextId += n
      p
    }

    // model state
    val live = scala.collection.mutable.LinkedHashMap.empty[String, String]
    val everDead = scala.collection.mutable.Set.empty[String]

    val base = mint(120)
    IndexBuilder.build(spark, base.toDF("url", "text"), dir, cfg)
    base.foreach { case (u, t) => live(u) = t }

    def checkMembership(opLabel: String): Unit = {
      // a sample of live urls resolves to exactly one hit each; dead urls to none
      val liveSample = rng.shuffle(live.keys.toSeq).take(5)
      val deadSample = rng.shuffle(everDead.diff(live.keySet).toSeq).take(5)
      val hits = Searcher.search(spark, dir,
        BoolQuery(ids = Some(liveSample ++ deadSample)), 50)
      assert(hits.map(_.url).sorted === liveSample.sorted,
        s"[$opLabel seed=$seed] ids membership drift")
    }

    val ops = 6 + rng.nextInt(3)
    (1 to ops).foreach { step =>
      val label = rng.nextInt(10) match {
        case 0 | 1 => // append fresh docs
          val batch = mint(20 + rng.nextInt(30))
          IndexBuilder.append(spark, batch.toDF("url", "text"), dir)
          batch.foreach { case (u, t) => live(u) = t }
          "append"
        case 2 | 3 | 4 => // upsert: mix of recrawled live urls and fresh ones
          val recrawled = rng.shuffle(live.toSeq).take(5 + rng.nextInt(10))
            .map { case (u, t) => (u, t + s" zzv$step fresh crawl") }
          val fresh = mint(rng.nextInt(10))
          val batch = recrawled ++ fresh
          IndexBuilder.upsert(spark, batch.toDF("url", "text"), dir)
          batch.foreach { case (u, t) => live(u) = t }
          "upsert"
        case 5 | 6 => // delete a sample of live urls (plus a dead no-op)
          val victims = rng.shuffle(live.keys.toSeq).take(3 + rng.nextInt(8)) ++
            everDead.diff(live.keySet).take(1)
          Deletes.delete(spark, dir, victims)
          victims.foreach { u => if (live.remove(u).isDefined) everDead += u }
          "delete"
        case 7 => Deletes.purge(spark, dir); "purge"
        case 8 => IndexBuilder.compact(spark, dir); "compact"
        case _ => IndexBuilder.vacuum(dir); "vacuum"
      }
      checkMembership(s"$label#$step")
    }

    // end state: the merge must equal a fresh build over the model
    IndexBuilder.compact(spark, dir)
    val snap = Snapshot.latest(dir).get
    assert(snap.numDocs === live.size, s"[seed=$seed] live-doc count drift")
    assert(snap.generations === 1 && snap.deletedDocs === 0L)

    val freshDir = Files.createTempDirectory(s"graft-lc-fresh-$seed").toString
    IndexBuilder.build(spark, live.toSeq.toDF("url", "text"), freshDir, cfg)
    // the full hit list, so no top-k boundary can cut a tie group
    (queries ++ Seq("zzv1", "fresh crawl")).foreach { q =>
      val k = live.size + 10
      def hits(dir: String) = Searcher.topK(spark, dir, q, k)
        .map(h => (h.docId, h.url, h.score)).toSeq
      assert(hits(dir) === hits(freshDir), s"[seed=$seed] end-state drift for: $q")
    }
  }

  test("random lifecycle histories converge to the fresh-build state (3 seeds)") {
    Seq(101, 202, 303).foreach(runHistory)
  }
}
