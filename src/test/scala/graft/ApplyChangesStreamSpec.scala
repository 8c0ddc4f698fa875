package graft

import java.nio.file.{Files, Paths, StandardCopyOption}

import graft.sources.AtomicWarehouse
import graft.streaming.ApplyChangesStream
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

/** Streaming CDC apply, sequence-guarded: micro-batches of keyed
  * upsert/delete changes fold into a warehouse table through one mergeInto
  * per batch (ingest-ledger row in the same commit), deletes retained as
  * tombstones, every matched clause gated on `s._seq >= t._seq`. Contract
  * under test: applying ANY permutation of the batches — or a batch twice —
  * converges to the ordered result; a late earlier-sequence change is a
  * no-op; tombstones block late resurrections and purge under a watermark.
  */
class ApplyChangesStreamSpec extends SparkSpec {
  import spark.implicits._

  private val base = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("v", StringType, nullable = true)))

  private def changes(rows: (Long, String, String, Long)*): DataFrame =
    rows.toSeq.toDF("id", "v", "_op", "_seq")

  private def newAcs(tag: String): ApplyChangesStream = {
    val wh = new AtomicWarehouse(spark, Files.createTempDirectory(tag).toString)
    new ApplyChangesStream(wh, "t", Seq("id"), base)
  }

  private def state(acs: ApplyChangesStream): Map[Long, String] =
    acs.currentState().collect().map(r => (r.getLong(0), r.getString(1))).toMap

  test("batch applyChanges: upsert/delete, last-seq-wins collapse, tombstone counts") {
    val acs = newAcs("graft-cdc-")
    // genesis inserts
    val r1 = acs.applyChanges(changes((1L, "a", "u", 1L), (2L, "b", "u", 2L), (3L, "c", "u", 3L)))
    assert(r1.inserted == 3L && r1.updated == 0L)
    // one batch: key 1 updated then DELETED (collapse keeps the delete),
    // key 2 updated, key 9 deleted while absent (tombstone INSERTED — it
    // must be remembered to block a late earlier insert), key 4 inserted
    val r2 = acs.applyChanges(changes(
      (1L, "a2", "u", 10L), (1L, "gone", "d", 11L),
      (2L, "b2", "u", 12L), (9L, "x", "d", 13L), (4L, "d4", "u", 14L)))
    assert(r2.updated == 2L && r2.deleted == 0L && r2.inserted == 2L, s"got $r2")
    assert(state(acs) == Map(2L -> "b2", 3L -> "c", 4L -> "d4"))
    // resurrecting a deleted key is an UPDATE of its tombstone row
    val r3 = acs.applyChanges(changes((1L, "back", "u", 20L)))
    assert(r3.updated == 1L && r3.inserted == 0L, s"got $r3")
    assert(state(acs)(1L) == "back")
  }

  test("sequence guard: stale changes no-op; tombstones block late earlier inserts") {
    val acs = newAcs("graft-cdc-oo-")
    acs.applyChanges(changes((1L, "v5", "u", 5L)))
    // a LATE change with an earlier sequence must not regress the row
    acs.applyChanges(changes((1L, "v3-late", "u", 3L)))
    assert(state(acs) == Map(1L -> "v5"))
    // delete at seq 9 applies first; the out-of-order insert at seq 7
    // arrives after — the tombstone's higher sequence wins, key stays dead
    acs.applyChanges(changes((2L, "x", "d", 9L)))
    acs.applyChanges(changes((2L, "ghost", "u", 7L)))
    assert(state(acs) == Map(1L -> "v5"))
    // a genuinely newer change resurrects
    acs.applyChanges(changes((2L, "alive", "u", 10L)))
    assert(state(acs) == Map(1L -> "v5", 2L -> "alive"))
  }

  test("any batch permutation + replays converge to the ordered state") {
    val batches = Seq(
      changes((1L, "a", "u", 1L), (2L, "b", "u", 2L), (50L, "z", "u", 3L)),
      changes((1L, "a2", "u", 10L), (2L, "del", "d", 11L), (7L, "g", "u", 12L)),
      changes((3L, "c", "u", 20L), (50L, "z2", "u", 21L), (7L, "gone", "d", 22L),
        (2L, "late", "u", 9L))) // late change for a key deleted at seq 11
    val ordered = newAcs("graft-cdc-ref-")
    batches.foreach(ordered.applyChanges(_))
    val expect = state(ordered)
    assert(expect == Map(1L -> "a2", 3L -> "c", 50L -> "z2"))
    // reversed order
    val rev = newAcs("graft-cdc-rev-")
    batches.reverse.foreach(rev.applyChanges(_))
    assert(state(rev) == expect, "reversed application must converge")
    // a shuffled order with a double-applied batch
    val shuf = newAcs("graft-cdc-shuf-")
    Seq(1, 2, 0, 1, 2).map(batches).foreach(shuf.applyChanges(_))
    assert(state(shuf) == expect, "shuffled+replayed application must converge")
  }

  test("purgeTombstones drops only tombstones below the watermark") {
    val acs = newAcs("graft-cdc-purge-")
    acs.applyChanges(changes((1L, "a", "u", 1L), (2L, "b", "u", 2L)))
    acs.applyChanges(changes((1L, "x", "d", 10L), (3L, "y", "d", 30L)))
    // tombstones at seq 10 and 30; watermark 20 purges only the first
    assert(acs.purgeTombstones(20L) == 1L)
    assert(state(acs) == Map(2L -> "b"))
    // the purged key can come back via a fresh insert; the retained
    // tombstone (seq 30) still blocks a stale insert below it
    acs.applyChanges(changes((3L, "stale", "u", 25L)))
    assert(state(acs) == Map(2L -> "b"))
    acs.applyChanges(changes((1L, "re", "u", 40L)))
    assert(state(acs) == Map(1L -> "re", 2L -> "b"))
  }

  test("stream ≡ sequential folds, ledgered replay no-ops") {
    val whDir = Files.createTempDirectory("graft-cdcs-wh-").toString
    val inDir = Files.createTempDirectory("graft-cdcs-in-").toString
    val ckpt = Files.createTempDirectory("graft-cdcs-ck-").toString
    val s = GraftSession.streamSession(spark)
    val wh = new AtomicWarehouse(s, whDir)
    val acs = new ApplyChangesStream(wh, "t", Seq("id"), base)
    val batches = Seq(
      changes((1L, "a", "u", 1L), (2L, "b", "u", 2L), (50L, "z", "u", 3L)),
      changes((1L, "a2", "u", 10L), (2L, "del", "d", 11L)),
      changes((3L, "c", "u", 20L), (50L, "z2", "u", 21L)))
    batches.zipWithIndex.foreach { case (df, i) =>
      val tmp = Files.createTempDirectory(s"graft-cdcs-c$i-").toString + "/out"
      df.coalesce(1).write.parquet(tmp)
      val part = graft.LocalFs.onlyParquet(tmp)
      Files.move(part, Paths.get(inDir, f"chunk_$i%02d.parquet"),
        StandardCopyOption.ATOMIC_MOVE)
    }
    val sq = acs.start(inDir, ckpt)
    assert(sq.awaitTermination(GraftSession.streamDrainTimeoutMs), "stream failed to drain")
    // expected: sequential fold of the three batches
    val ref = newAcs("graft-cdcs-ref-")
    batches.foreach(ref.applyChanges(_))
    assert(state(acs) == state(ref))
    assert(state(acs) == Map(1L -> "a2", 3L -> "c", 50L -> "z2"))
    // replay: a fresh stream over the same input + checkpoint applies nothing
    val head = wh.versions().last
    val sq2 = acs.start(inDir, ckpt)
    assert(sq2.awaitTermination(GraftSession.streamDrainTimeoutMs))
    assert(wh.versions().last == head, "checkpoint replay must commit nothing")
    assert(state(acs) == state(ref))
  }

  test("the applied table is itself a change-feed source (CDC-of-CDC composition)") {
    val wh = new AtomicWarehouse(spark, Files.createTempDirectory("graft-cdcf-").toString)
    val acs = new ApplyChangesStream(wh, "t", Seq("id"), base)
    wh.setChangeFeed("t", on = true)
    acs.applyChanges(changes((1L, "a", "u", 1L), (2L, "b", "u", 2L)))
    val v1 = wh.versions().last
    acs.applyChanges(changes((1L, "a2", "u", 10L), (2L, "x", "d", 11L), (3L, "c", "u", 12L)))
    val feed = wh.changesBetween("t", acs.storedSchema, v1, wh.versions().last)
      .collect().map(r => (r.getString(4), r.getLong(0), r.getString(1), r.getBoolean(3)))
    // key 1 updated, key 2 tombstoned (an update of the stored row — the
    // downstream sees the _deleted flag flip), key 3 inserted
    val byType = feed.groupBy(_._1).view
      .mapValues(_.map(x => (x._2, x._3, x._4)).toSet).toMap
    assert(byType("update_preimage") == Set((1L, "a", false), (2L, "b", false)))
    assert(byType("update_postimage") == Set((1L, "a2", false), (2L, "x", true)))
    assert(byType("insert") == Set((3L, "c", false)))
  }

  test("pure-absent-delete batch ledgers AND tombstones the never-seen key") {
    val wh = new AtomicWarehouse(spark, Files.createTempDirectory("graft-cdc3-").toString)
    val acs = new ApplyChangesStream(wh, "t", Seq("id"), base)
    acs.applyChanges(changes((1L, "a", "u", 1L)))
    acs.processBatch(changes((99L, "x", "d", 2L)), batchId = 7L)
    assert(acs.ingested(7L), "the ledger row must ride the merge commit")
    assert(state(acs) == Map(1L -> "a"))
    // and a replay of that batch id no-ops (ledger fast path: zero commits)
    val head = wh.versions().last
    acs.processBatch(changes((1L, "CORRUPT", "u", 3L)), batchId = 7L)
    assert(wh.versions().last == head && state(acs) == Map(1L -> "a"))
  }

  test("a compacted target still reports its applied batches (the high-water survives truncates)") {
    val wh = new AtomicWarehouse(spark, Files.createTempDirectory("graft-cdc-compact-").toString)
    val acs = new ApplyChangesStream(wh, "t", Seq("id"), base)
    acs.processBatch(changes((1L, "a", "u", 1L), (2L, "b", "u", 2L)), batchId = 7L)
    wh.compact("t", acs.storedSchema)
    val fresh = new ApplyChangesStream(wh, "t", Seq("id"), base) // a restarted stream
    assert(fresh.ingested(7L), "compacting the target forgot batch 7")
    val head = wh.versions().last
    fresh.processBatch(changes((1L, "CORRUPT", "u", 3L)), batchId = 7L)
    assert(wh.versions().last == head && state(fresh) == Map(1L -> "a", 2L -> "b"))
  }
}
