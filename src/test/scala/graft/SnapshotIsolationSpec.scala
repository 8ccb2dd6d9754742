package graft

import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._

import graft.index.{IndexBuilder, IndexConfig, Snapshot}
import graft.search.IndexHandle

/** Pins the Iceberg-style snapshot-isolation claim: an IndexHandle is
  * pinned to the snapshot that was LATEST at construction, so commits
  * landing afterwards (recrawl upserts, deletes) do not change what that
  * reader sees — until `vacuum` reclaims the old snapshot's dirs, exactly
  * like Iceberg's expire-snapshots. */
class SnapshotIsolationSpec extends SparkSuite {
  import spark.implicits._

  test("a pinned reader is unaffected by later upserts; a fresh one sees them") {
    val dir = Files.createTempDirectory("graft-iso").toString
    val docs = Seq(
      ("doc://0", "alpha beta gamma"),
      ("doc://1", "alpha delta"),
      ("doc://2", "beta gamma"))
    IndexBuilder.build(spark, docs.toDF("url", "text"), dir,
      IndexConfig(numSegments = 2, blockSize = 4))

    val pinned = new IndexHandle(spark, dir, warm = true)
    val before = pinned.topK("alpha", 10)
    assert(before.map(_.url).toSet === Set("doc://0", "doc://1"))

    // recrawl: doc://0 loses "alpha", doc://3 appears with it
    IndexBuilder.upsert(spark,
      Seq(("doc://0", "beta only now"), ("doc://3", "alpha fresh"))
        .toDF("url", "text"), dir)

    // the pinned reader still answers from its snapshot, bit-identically
    val after = pinned.topK("alpha", 10)
    assert(after.map(h => (h.docId, h.url, h.score)).toSeq ===
      before.map(h => (h.docId, h.url, h.score)).toSeq)

    // a fresh handle (new LATEST) sees the recrawled world
    val fresh = new IndexHandle(spark, dir, warm = true)
    assert(fresh.topK("alpha", 10).map(_.url).toSet ===
      Set("doc://1", "doc://3"))

    // time travel: a handle pinned explicitly to the old snapshot id
    // equals the implicitly pinned reader
    val old = Snapshot.list(dir).minBy(_.id)
    val tt = new IndexHandle(spark, dir, warm = false,
      snapshotId = Some(old.id))
    assert(tt.topK("alpha", 10).map(h => (h.docId, h.score)).toSeq ===
      before.map(h => (h.docId, h.score)).toSeq)
  }

  test("an orphan snap file from a crashed commit is not history") {
    // commit() moves snap-NNNNN.json into place BEFORE the LATEST rename;
    // a crash between the two leaves a readable orphan. list() must walk
    // the parent chain from LATEST, not glob the directory — a glob would
    // hand vacuum the orphan as the last-complete reference and reclaim
    // dirs the real chain still needs
    val dir = Files.createTempDirectory("graft-orphan").toString
    val docs = Seq(("doc://0", "alpha beta"), ("doc://1", "gamma delta"))
    IndexBuilder.build(spark, docs.toDF("url", "text"), dir,
      IndexConfig(numSegments = 2, blockSize = 4))
    val committed = Snapshot.latest(dir).get
    // simulate the crashed commit: a complete-looking snap with the next
    // id, written but never pointed to by LATEST
    val snapsDir = java.nio.file.Paths.get(dir, "snapshots")
    val orphanId = committed.id + 1
    val json = Files.readString(
      snapsDir.resolve(f"snap-${committed.id}%05d.json"))
    Files.writeString(snapsDir.resolve(f"snap-$orphanId%05d.json"),
      json.replace("\"id\" : " + committed.id, "\"id\" : " + orphanId))
    assert(Snapshot.latest(dir).get.id === committed.id)
    assert(Snapshot.list(dir).map(_.id) === Seq(committed.id),
      "orphan snap file leaked into the committed history")
  }

  test("latest ends when the pointer revisits an id whose snap file is missing") {
    // LATEST oscillates 2, 1, 2, 1, ... and neither snap file exists. No
    // two reads in a row agree, so a loop that stops only on an immediate
    // repeat never ends; the timeout bounds that case here
    val reads = new AtomicInteger(0)
    @volatile var abandoned = false
    val pointer = () => {
      if (abandoned) throw new IllegalStateException("abandoned by the test")
      Some(1 + reads.incrementAndGet() % 2)
    }
    val result = Future(Snapshot.latestVia(pointer, _ => None))(ExecutionContext.global)
    try assert(Await.result(result, 10.seconds) === None)
    finally abandoned = true
    assert(reads.get === 3) // 2, 1, then the revisited 2
  }

  test("latest retries past a pointer that moved on to a newer snapshot") {
    val dir = Files.createTempDirectory("graft-latest").toString
    val snap = IndexBuilder.build(spark, Seq(("doc://0", "alpha")).toDF("url", "text"),
      dir, IndexConfig(numSegments = 1, blockSize = 4))
    // the first read names a snap that a vacuum has already reclaimed
    val ids = Iterator(snap.id + 7, snap.id)
    assert(Snapshot.latestVia(() => Some(ids.next()), Snapshot.at(dir, _))
      .map(_.id) === Some(snap.id))
    assert(Snapshot.latestVia(() => None, Snapshot.at(dir, _)) === None)
  }
}
