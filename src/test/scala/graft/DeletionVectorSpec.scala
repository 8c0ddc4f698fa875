package graft

import java.nio.file.Files

import graft.sources.{AtomicWarehouse, ColEq, ColGe, ColLt}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

/** Merge-on-read deletes (deletion vectors): a scattered DELETE commits each
  * touched file's tombstone row ordinals as one manifest line and rewrites
  * ZERO data files; every read anti-filters through the DV; rewrites
  * (compaction, DML, merge) FOLD the DV into new files. Contract under
  * test: result identity with the copy-on-write delete, exact counts,
  * zero-rewrite routing, time-travel/restore composition, metadata-assisted
  * count/min-max correctness over DV'd files, the density cap, and the
  * append-only CDC window refusal.
  */
class DeletionVectorSpec extends SparkSpec {
  import spark.implicits._

  private val kv = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("v", StringType, nullable = true)))

  private def newWh() =
    new AtomicWarehouse(spark, Files.createTempDirectory("graft-dv-").toString)

  /** Three single-file commits with disjoint id bands [0,10), [10,20), [20,30). */
  private def banded(wh: AtomicWarehouse, table: String = "t"): Unit =
    (0 until 3).foreach { b =>
      wh.append(table, (b * 10 until (b + 1) * 10).map(i => (i.toLong, s"v$i"))
        .toDF("id", "v").coalesce(1))
    }

  private def ids(wh: AtomicWarehouse, t: String = "t"): Set[Long] =
    wh.read(t, kv).collect().map(_.getLong(0)).toSet

  test("dense tombstone sets go to a sidecar: manifest stays flat, reads exact, lifecycle releases") {
    val dir = Files.createTempDirectory("graft-dv-side-")
    val wh = new AtomicWarehouse(spark, dir.toString)
    // one 40k-row file; delete 30k scattered rows (id % 4 != 0) — far past
    // the inline threshold, within a 10×-raised density cap
    wh.append("t", (0L until 40000L).map(i => (i, s"v$i")).toDF("id", "v").coalesce(1))
    val r2 = wh.deleteWhereDv("t", kv,
      Seq(graft.sources.ColIn("id", (0L until 40000L).filter(_ % 4 != 0))),
      maxDvPerFile = 1000000)
    assert(r2.deleted == 30000L && r2.filesRewritten == 0, s"got $r2")
    // reads are exact through the sidecar
    assert(wh.read("t", kv).count() == 10000L)
    assert(ids(wh).forall(_ % 4 == 0))
    // the manifest dv line is a constant-size pointer, not 30k ordinals
    val dvJson = wh.describe("t") // metadata-only count still works
    assert(dvJson.dvRows == 30000L && dvJson.dvFiles == 1)
    val manifestBytes = Files.list(dir.resolve("_txlog")).toArray.map(p =>
      java.nio.file.Files.size(p.asInstanceOf[java.nio.file.Path])).max
    assert(manifestBytes < 64 * 1024,
      s"manifest must not carry the ordinals (largest manifest $manifestBytes B)")
    // exactly one live sidecar under t/_dv
    def sidecars = Option(dir.resolve("t/_dv").toFile.listFiles())
      .getOrElse(Array.empty).count(f => f.isFile && !f.getName.startsWith("."))
    assert(sidecars == 1, s"one sidecar expected, got $sidecars")
    // a further delete UNIONs and releases the superseded sidecar; vacuum
    // reclaims its bytes
    val r3 = wh.deleteWhereDv("t", kv,
      Seq(graft.sources.ColIn("id", Seq(0L, 8L, 16L))), maxDvPerFile = 1000000)
    assert(r3.deleted == 3L)
    assert(wh.read("t", kv).count() == 9997L)
    wh.vacuum(olderThanMs = 0L)
    assert(sidecars == 1, s"vacuum must reclaim the superseded sidecar, got $sidecars")
    // a compaction FOLDS the sidecar DV and releases it entirely
    wh.compactDv("t", kv, minDeadFraction = 0.1)
    assert(wh.deletionVectors("t").isEmpty)
    assert(wh.read("t", kv).count() == 9997L)
    wh.vacuum(olderThanMs = 0L)
    assert(sidecars == 0, s"folded sidecar must be reclaimed, got $sidecars")
  }

  test("above the broadcast gate reads apply the DV scan-side: zero driver-held ordinals, identical results") {
    val dir = Files.createTempDirectory("graft-dv-dist-")
    val wh = new AtomicWarehouse(spark, dir.toString)
    // file 1: 40k rows, 30k scattered tombstones → sidecar-backed DV;
    // file 2: 1k rows, 2 tombstones → inline DV. The scan-side filter
    // must resolve both forms executor-side.
    wh.append("t", (0L until 40000L).map(i => (i, s"v$i")).toDF("id", "v").coalesce(1))
    wh.append("t", (40000L until 41000L).map(i => (i, s"v$i")).toDF("id", "v").coalesce(1))
    wh.deleteWhereDv("t", kv,
      Seq(graft.sources.ColIn("id", (0L until 40000L).filter(_ % 4 != 0))),
      maxDvPerFile = 1000000)
    wh.deleteWhereDv("t", kv,
      Seq(graft.sources.ColIn("id", Seq(40000L, 40002L))), maxDvPerFile = 1000000)
    val expect = ((0L until 40000L).filter(_ % 4 == 0) ++
      (40001L until 41000L).filterNot(_ == 40002L)).toSet
    // broadcast regime first (default gate far above 30k tombstones)
    assert(ids(wh) == expect)
    // fresh instance = cold sidecar cache; a gate below the total tombstone
    // count forces the scan-side filter — the fixture's tombstones exceed
    // the configured driver cap by 3000×
    val wh2 = new AtomicWarehouse(spark, dir.toString)
    spark.conf.set("graft.dv.broadcastMaxTombstones", "10")
    try {
      val before = wh2.dvOrdinalsMaterialized.get()
      assert(ids(wh2) == expect, "scan-side DV application must match broadcast")
      assert(wh2.read("t", kv).count() == expect.size.toLong)
      assert(wh2.dvOrdinalsMaterialized.get() == before,
        "the scan-side read path must not materialize a single ordinal on the driver")
    } finally spark.conf.unset("graft.dv.broadcastMaxTombstones")
  }

  test("scan-side regime stays in codegen: clean files unfiltered, dv_live native") {
    val dir = Files.createTempDirectory("graft-dv-plan-")
    val wh = new AtomicWarehouse(spark, dir.toString)
    // mostly-clean table: 4 clean files, ONE DV-carrying file
    (0 until 4).foreach(k => wh.append("t",
      (k * 1000L until k * 1000L + 1000L).map(i => (i, s"v$i")).toDF("id", "v").coalesce(1)))
    wh.append("t", (4000L until 5000L).map(i => (i, s"v$i")).toDF("id", "v").coalesce(1))
    wh.deleteWhereDv("t", kv, Seq(graft.sources.ColIn("id", Seq(4000L, 4004L))),
      maxDvPerFile = 100000)
    spark.conf.set("graft.dv.broadcastMaxTombstones", "1") // force scan-side
    try {
      val df = wh.read("t", kv)
      assert(df.count() == 4998L)
      val plan = df.queryExecution.executedPlan.toString
      // no opaque row-at-a-time filter anywhere — the membership test is
      // the native dv_live expression, inside WholeStageCodegen
      assert(!plan.toLowerCase.contains("scalaudf") && !plan.contains("BatchEval"),
        s"scan-side DV filter fell out of codegen:\n$plan")
      // (the FileScan line echoes the filter in DataFilters — count only
      // the Filter NODE itself)
      val dvLines = plan.linesIterator
        .filter(l => l.contains("Filter dv_live") && !l.contains("FileScan")).toSeq
      assert(dvLines.size == 1, s"exactly ONE dv_live filter expected:\n$plan")
      assert(dvLines.head.contains("*("),
        s"dv_live filter must sit inside a codegen stage: ${dvLines.head}")
      // the clean files' scan is a separate union branch with NO filter —
      // two parquet scans, one filtered
      val scans = plan.linesIterator.count(_.contains("Scan parquet"))
      assert(scans == 2, s"expected clean-scan ∪ filtered-scan, got $scans scans:\n$plan")
    } finally spark.conf.unset("graft.dv.broadcastMaxTombstones")
  }

  test("scattered delete: zero rewrites, exact count, read identity, DV union on repeat") {
    val wh2 = newWh()
    banded(wh2)
    val files2 = wh2.fileStats("t").keySet
    // scattered: delete ids {0,7,14,21,28} via an IN predicate
    val scattered = Seq(0L, 7L, 14L, 21L, 28L)
    val r2 = wh2.deleteWhereDv("t", kv, Seq(graft.sources.ColIn("id", scattered)))
    assert(r2.deleted == 5L && r2.filesRewritten == 0 && r2.filesTombstoned == 3, s"got $r2")
    // not a byte rewritten: the visible file set is IDENTICAL
    assert(wh2.fileStats("t").keySet == files2)
    assert(ids(wh2) == (0L until 30L).toSet -- scattered)
    // read ≡ copy-on-write end state
    val cow = newWh()
    banded(cow)
    cow.deleteWhere("t", kv, Seq(graft.sources.ColIn("id", scattered)))
    assert(ids(cow) == ids(wh2))
    // repeat on an overlapping set: only NEW rows count, ordinals union
    val r3 = wh2.deleteWhereDv("t", kv, Seq(graft.sources.ColIn("id", Seq(7L, 8L))))
    assert(r3.deleted == 1L, s"re-deleting a dead row must not count, got $r3")
    assert(ids(wh2) == (0L until 30L).toSet -- scattered - 8L)
    assert(wh2.deletionVectors("t").values.map(_.size).sum == 6)
    // scanWhere over the DV'd table ≡ read+filter
    val sw = wh2.scanWhere("t", kv, Seq(ColLt("id", 10L))).collect().map(_.getLong(0)).toSet
    assert(sw == Set(1L, 2L, 3L, 4L, 5L, 6L, 9L))
  }

  test("time travel and restore compose with DVs") {
    val wh = newWh()
    banded(wh)
    val preDv = wh.versions().last
    wh.deleteWhereDv("t", kv, Seq(graft.sources.ColIn("id", Seq(3L, 13L, 23L))))
    val postDv = wh.versions().last
    wh.deleteWhereDv("t", kv, Seq(graft.sources.ColIn("id", Seq(4L))))
    // as-of reads reconstruct each era's live rows
    assert(wh.readAt("t", kv, preDv).count() == 30L)
    assert(wh.readAt("t", kv, postDv).count() == 27L)
    assert(wh.read("t", kv).count() == 26L)
    // restore to the pre-DV version resurrects everything (metadata-only)
    wh.restore("t", preDv)
    assert(ids(wh) == (0L until 30L).toSet)
    // restore forward to the post-DV version re-applies its DV
    wh.restore("t", postDv)
    assert(ids(wh) == (0L until 30L).toSet -- Seq(3L, 13L, 23L))
  }

  test("a restore across a DV delete survives log folds: vacuum and the auto-fold keep rows and DVs") {
    // rows 1–3, DV-delete id 2, restore to the pre-delete version: the
    // restore's truncate clears the DV, and every later fold must agree
    def rewound(wh: AtomicWarehouse): Unit = {
      wh.append("t", Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v").coalesce(1))
      val v1 = wh.versions().last
      wh.deleteWhereDv("t", kv, Seq(ColEq("id", 2L)))
      wh.restore("t", v1)
      assert(ids(wh) == Set(1L, 2L, 3L) && wh.deletionVectors("t").isEmpty)
    }
    val wh = newWh()
    rewound(wh)
    wh.vacuum()
    assert(ids(wh) == Set(1L, 2L, 3L), "vacuum's fold resurrected the cleared DV")
    assert(wh.deletionVectors("t").isEmpty)
    // the auto-fold runs the same fold: at logFoldEvery = 2 the next commit
    // after the restore folds the 4-manifest tail into a snapshot
    val wh2 = new AtomicWarehouse(spark,
      Files.createTempDirectory("graft-dv-fold-").toString, logFoldEvery = 2)
    rewound(wh2)
    wh2.append("u", Seq((9L, "z")).toDF("id", "v"))
    assert(wh2.commitHistory(None).exists(_._2), "the auto-fold never ran")
    assert(ids(wh2) == Set(1L, 2L, 3L), "the auto-fold resurrected the cleared DV")
    assert(wh2.deletionVectors("t").isEmpty)
  }

  test("restore brings back the era's DV sidecar; vacuum keeps it readable") {
    val wh = newWh()
    wh.append("t", (0L until 5000L).map(i => (i, s"v$i")).toDF("id", "v").coalesce(1))
    // 4500 ordinals: past the inline threshold, so the DV is a t/_dv sidecar
    wh.deleteWhereDv("t", kv, Seq(graft.sources.ColIn("id", 0L until 4500L)))
    val withDv = wh.versions().last
    // compaction folds the DV into a new file and releases the sidecar
    wh.compactDv("t", kv, minDeadFraction = 0.1)
    assert(wh.deletionVectors("t").isEmpty)
    wh.restore("t", withDv)
    assert(ids(wh) == (4500L until 5000L).toSet)
    wh.vacuum(olderThanMs = 0L)
    // a fresh instance: no in-memory copy of the sidecar's ordinals
    val reopened = new AtomicWarehouse(spark, wh.root)
    assert(ids(reopened) == (4500L until 5000L).toSet)
    assert(reopened.deletionVectors("t").values.map(_.size).sum == 4500)
  }

  test("metadata count subtracts tombstones; statsMinMax routes DV files to the read path") {
    val wh = newWh()
    banded(wh)
    wh.deleteWhereDv("t", kv, Seq(graft.sources.ColIn("id", Seq(9L, 29L))))
    // band 0 fully inside [0,10): metadata answer must be 10 - 1 tombstone
    val c = wh.countWhere("t", kv, Seq(ColGe("id", 0L), ColLt("id", 10L)))
    assert(c.count == 9L && c.filesMetadata == 1 && c.filesRead == 0 && c.filesSkipped == 2,
      s"got $c")
    // preds=Nil metadata-only COUNT(*): 30 physical - 2 tombstones
    val all = wh.countWhere("t", kv)
    assert(all.count == 28L && all.filesRead == 0, s"got $all")
    // the recorded max of band 2 (29) is DEAD: statsMinMax must read the
    // DV'd files and report the surviving extremes
    val mm = wh.statsMinMax("t", kv, "id")
    assert(mm.min.contains(0L) && mm.max.contains(28L), s"got $mm")
    assert(mm.filesRead == 2 && mm.filesMetadata == 1, s"got $mm")
    // describe reports LIVE rows plus the DV surface (compaction signal)
    val d = wh.describe("t")
    assert(d.rows == 28L && d.dvFiles == 2 && d.dvRows == 2L && !d.changeFeed)
    wh.setChangeFeed("t", on = true)
    assert(wh.describe("t").changeFeed)
  }

  test("rewrites fold DVs: compaction, deleteWhere, mergeInto") {
    val wh = newWh()
    banded(wh)
    wh.deleteWhereDv("t", kv, Seq(graft.sources.ColIn("id", Seq(1L, 11L, 21L))))
    assert(wh.deletionVectors("t").size == 3)
    // copy-on-write delete on band 1 folds ITS dv and drops its entry
    wh.deleteWhere("t", kv, Seq(ColEq("id", 15L)))
    assert(wh.deletionVectors("t").size == 2)
    assert(ids(wh) == (0L until 30L).toSet -- Seq(1L, 11L, 21L, 15L))
    // mergeInto over band 0 folds its dv (1 stays dead, 2 updates)
    val r = wh.mergeInto("t", kv, Seq((2L, "upd")).toDF("id", "v"), Seq("id"))
    assert(r.updated == 1L && wh.deletionVectors("t").size == 1)
    assert(!ids(wh).contains(1L) && wh.read("t", kv)
      .filter(col("id") === 2L).head().getString(1) == "upd")
    // compaction folds the rest: no DVs, same rows
    val before = ids(wh)
    wh.compact("t", kv, targetFiles = 1)
    assert(wh.deletionVectors("t").isEmpty)
    assert(ids(wh) == before)
  }

  test("compactDv folds only DENSE vectors; sparse and clean files never opened") {
    val wh = newWh()
    banded(wh)
    // band 0: 3/10 dead (dense at 0.2); band 1: 1/10 (sparse); band 2: clean
    wh.deleteWhereDv("t", kv, Seq(graft.sources.ColIn("id", Seq(1L, 2L, 3L, 11L))))
    val before = ids(wh)
    val sparseFile = wh.fileStats("t").keySet
      .find(f => wh.fileStats("t")(f).cols("id").min.contains(10L)).get
    val r = wh.compactDv("t", kv, minDeadFraction = 0.2)
    assert(r.filesRewritten == 1 && r.filesUntouched == 2, s"got $r")
    // band 0's DV folded away; band 1's sparse DV retained, file untouched
    assert(wh.deletionVectors("t").keySet == Set(sparseFile))
    assert(ids(wh) == before, "compactDv must preserve the live rows")
    // a second pass at the same threshold is a no-op
    val r2 = wh.compactDv("t", kv, minDeadFraction = 0.2)
    assert(r2.filesRewritten == 0 && r2.bytesRewritten == 0L)
    // threshold 0+ folds the sparse one too
    val r3 = wh.compactDv("t", kv, minDeadFraction = 0.01)
    assert(r3.filesRewritten == 1 && wh.deletionVectors("t").isEmpty)
    assert(ids(wh) == before)
  }

  test("a DV delete racing a compaction aborts the stale rewrite; the retry folds it") {
    val wh = newWh()
    banded(wh)
    val firstRead = new java.util.concurrent.CountDownLatch(1)
    val dvLanded = new java.util.concurrent.CountDownLatch(1)
    val passes = new java.util.concurrent.atomic.AtomicInteger(0)
    // compaction whose first attempt reads BEFORE the racing DV delete and
    // publishes AFTER it: without the DV pin in the commit precondition the
    // stale rewrite (computed against zero tombstones) would resurrect the
    // deleted rows; with it, attempt 1 aborts and attempt 2 folds the DV
    val compactor = new Thread(() => wh.compactWith("t", kv, { df =>
      if (passes.incrementAndGet() == 1) {
        firstRead.countDown()
        dvLanded.await(30, java.util.concurrent.TimeUnit.SECONDS)
      }
      df.coalesce(1)
    }))
    compactor.start()
    assert(firstRead.await(30, java.util.concurrent.TimeUnit.SECONDS))
    val r = wh.deleteWhereDv("t", kv, Seq(graft.sources.ColIn("id", Seq(5L, 15L, 25L))))
    assert(r.deleted == 3L)
    dvLanded.countDown()
    compactor.join(60000)
    assert(!compactor.isAlive, "compaction must finish")
    assert(passes.get() >= 2, s"the stale first attempt must have been aborted (passes=${passes.get()})")
    // deleted rows stay deleted, DV folded away by the retried compaction
    assert(ids(wh) == (0L until 30L).toSet -- Seq(5L, 15L, 25L))
    assert(wh.deletionVectors("t").isEmpty)
    assert(wh.fileStats("t").size == 1)
  }

  test("density cap refuses; appendsBetween refuses windows crossing a DV commit") {
    val wh = newWh()
    banded(wh)
    val boom = intercept[IllegalArgumentException](
      wh.deleteWhereDv("t", kv, Seq(ColLt("id", 9L)), maxDvPerFile = 5))
    assert(boom.getMessage.contains("cap"))
    assert(wh.deletionVectors("t").isEmpty, "a refused DV delete must commit nothing")
    val from = wh.versions().last
    wh.append("t", Seq((100L, "x")).toDF("id", "v"))
    wh.deleteWhereDv("t", kv, Seq(ColEq("id", 5L)))
    val to = wh.versions().last
    val e = intercept[IllegalStateException](wh.appendsBetween("t", kv, from, to))
    assert(e.getMessage.contains("not append-only"))
  }
}
