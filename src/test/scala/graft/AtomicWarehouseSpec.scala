package graft

import java.nio.file.Files

import graft.model.Schemas
import graft.model.Schemas.FileStatus
import graft.operators.Dedup
import graft.sources.{AtomicWarehouse, CsvSource, Warehouse}
import graft.streaming.DedupStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

/** The transactional warehouse's contract: a group of writes inside
  * `atomically` is all-or-nothing across tables, readers inside the
  * transaction see its staged writes, readers outside never see a partial
  * batch — and the engine code (Pipeline EP1, DedupStream) picks this up
  * through the `Warehouse.atomically` seam with zero operator changes.
  */
class AtomicWarehouseSpec extends SparkSpec {
  import spark.implicits._

  private val kv = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("v", StringType, nullable = true)))

  private def rows(wh: Warehouse, t: String): Set[(Long, String)] =
    wh.read(t, kv).collect().map(r => (r.getLong(0), r.getString(1))).toSet

  test("multi-table commit is all-or-nothing; failure publishes nothing") {
    val wh = new AtomicWarehouse(spark, Files.createTempDirectory("graft-aw-").toString)
    wh.append("a", Seq((1L, "a1")).toDF("id", "v"))
    wh.append("b", Seq((1L, "b1")).toDF("id", "v"))

    // failing transaction: the first append stages, then the body throws —
    // NOTHING becomes visible, including the already-staged write
    intercept[RuntimeException](wh.atomically { w =>
      w.append("a", Seq((2L, "a2")).toDF("id", "v"))
      throw new RuntimeException("boom")
    })
    assert(rows(wh, "a") == Set((1L, "a1")) && rows(wh, "b") == Set((1L, "b1")))

    // successful transaction: both tables move together
    wh.atomically { w =>
      w.append("a", Seq((2L, "a2")).toDF("id", "v"))
      w.replace("b", Seq((9L, "b9")).toDF("id", "v"))
    }
    assert(rows(wh, "a") == Set((1L, "a1"), (2L, "a2")))
    assert(rows(wh, "b") == Set((9L, "b9")))
  }

  test("read-your-own-writes: replace then read inside one transaction") {
    val wh = new AtomicWarehouse(spark, Files.createTempDirectory("graft-aw-ryow-").toString)
    wh.append("t", Seq((1L, "old")).toDF("id", "v"))
    wh.atomically { w =>
      w.replace("t", Seq((2L, "new")).toDF("id", "v"))
      assert(rows(w, "t") == Set((2L, "new")), "in-tx read must see the staged replace")
      w.append("t", Seq((3L, "more")).toDF("id", "v"))
      assert(rows(w, "t") == Set((2L, "new"), (3L, "more")))
      // the outside world still sees the old snapshot while we're in here
      assert(rows(wh, "t") == Set((1L, "old")))
    }
    assert(rows(wh, "t") == Set((2L, "new"), (3L, "more")))
  }

  test("prefix delete hides subtables, like the base directory delete") {
    val wh = new AtomicWarehouse(spark, Files.createTempDirectory("graft-aw-del-").toString)
    wh.append("staging/x/Provider", Seq((1L, "p")).toDF("id", "v"))
    wh.append("staging/x/Product", Seq((1L, "q")).toDF("id", "v"))
    wh.delete("staging/x")
    assert(rows(wh, "staging/x/Provider").isEmpty)
    assert(rows(wh, "staging/x/Product").isEmpty)
  }

  test("first transactional write adopts a raw-laid table's existing rows") {
    val dir = Files.createTempDirectory("graft-aw-adopt-").toString
    val wh = new AtomicWarehouse(spark, dir)
    // rows written around the warehouse, straight into the directory
    Seq((1L, "raw")).toDF("id", "v").write.parquet(wh.path("t"))
    assert(rows(wh, "t") == Set((1L, "raw"))) // legacy fallback read
    wh.append("t", Seq((2L, "tx")).toDF("id", "v"))
    assert(rows(wh, "t") == Set((1L, "raw"), (2L, "tx")), "adoption must keep raw rows")
  }

  test("EP1 on AtomicWarehouse: crash mid-merge leaves the pre-batch snapshot; re-run converges") {
    val sampleCsv =
      """Producto,Fecha 1,Provedor,Precio,,,,
        |Aceite Capullo 500ml *,07/03/2025,Vicente,1.347,,,,
        |Arroz Premium 1kg x 12,07/03/2025,DosPinos,2.500,,,,
        |""".stripMargin
    def dimState(wh: Warehouse) = (
      wh.read("dims/Provider", Schemas.provider).collect().map(_.getString(1)).sorted.toSeq,
      wh.read("dims/Product", Schemas.product).collect().map(_.getString(2)).sorted.toSeq,
      wh.read("dims/Provider_Product", Schemas.providerProduct).count())

    // crash mid-merge (3rd of 4 dim replaces dies): EVERY dim stays at its
    // pre-batch snapshot
    val failing = new FailingWarehouse(spark, Files.createTempDirectory("graft-aw-ep1c-").toString)
    val p2 = new Pipeline(spark, failing)
    assert(p2.processCsv(CsvSource.readString(spark, sampleCsv), "products", "l.csv").status)
    val want = dimState(failing)
    failing.failOn = Some("dims/Product")
    val secondCsv = sampleCsv + "Queso Tierno 400g,1/07/2025,Serrano ,1.800,,,,\n"
    val crashed = p2.processCsv(CsvSource.readString(spark, secondCsv), "products", "l2.csv")
    assert(!crashed.status && crashed.message.contains("injected crash"))
    assert(p2.ledger.statusOf("products", "l2.csv") == FileStatus.Failed)
    // NO partial merge: all dims exactly as after the first batch
    assert(dimState(failing) == want)
    // recovery: plain re-run converges
    failing.failOn = None
    assert(p2.processCsv(CsvSource.readString(spark, secondCsv), "products", "l2.csv").status)
    // the merge layer preserves the reference's trailing-space provider text
    assert(dimState(failing)._1.exists(_.trim == "Serrano"))
  }

  test("DedupStream batches on AtomicWarehouse equal the from-scratch batch run") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select($"doc_id".cast("long").as("doc_id"), $"text")
      .orderBy("doc_id").limit(90).as[(Long, String)].collect()

    val ds = new DedupStream(new AtomicWarehouse(spark,
      Files.createTempDirectory("graft-aw-dsa-").toString),
      minJaccard = 0.35, minSigMatchesOverride = 4)
    docs.grouped(30).foreach(c => ds.processBatch(c.toSeq.toDF("doc_id", "text")))
    val awPairs = ds.pairs().collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(awPairs.nonEmpty)
    assert(awPairs == Dedup.lshVerifiedPairs(docs.toSeq.toDF("doc_id", "text"), "doc_id", "text",
        minJaccard = 0.35, minSigMatchesOverride = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet)
  }

  test("racing commits from separate instances all land (publish rename-retry)") {
    val dir = Files.createTempDirectory("graft-aw-race-").toString
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration.Duration
    // 8 concurrent appends through 8 SEPARATE warehouse instances on one
    // root: same-instance publishes serialize on a lock, so distinct
    // instances are what actually race the version rename — losers must
    // re-number and retry rather than silently dropping a manifest
    Await.result(Future.sequence((1 to 8).map { i =>
      val wh = new AtomicWarehouse(spark, dir)
      Future(wh.append("t", Seq((i.toLong, s"v$i")).toDF("id", "v")))
    }), Duration(5, "min"))
    // EXACT row list, not a set: a double-adopted file (two first-commits
    // racing on one raw table) duplicates rows, which a Set would hide
    val got = new AtomicWarehouse(spark, dir).read("t", kv)
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(got == (1L to 8L), s"expected exactly ids 1..8, got $got")
  }

  test("adoption skips a racing transaction's moved-but-unpublished tx- files") {
    val dir = Files.createTempDirectory("graft-aw-adopt-").toString
    val wh = new AtomicWarehouse(spark, dir)
    // a raw (legacy, no-manifest) table with one real data file...
    Seq((1L, "legacy")).toDF("id", "v").write.parquet(wh.path("t"))
    // ...plus the mid-commit state of a racing transaction: its staged file
    // already MOVED into the table dir under the tx- naming, manifest not
    // yet published (simulated with a parquet copy under that name)
    val tdir = java.nio.file.Paths.get(dir, "t")
    val dataFile = Files.list(tdir).filter(_.toString.endsWith(".parquet")).findFirst.get
    Files.copy(dataFile, tdir.resolve(s"tx-${java.util.UUID.randomUUID()}-0-part-racer.parquet"))

    // first manifest commit to the table: must adopt the legacy file ONLY
    wh.append("t", Seq((2L, "txn")).toDF("id", "v"))
    val got = wh.read("t", kv).collect().map(_.getLong(0)).sorted.toSeq
    assert(got == Seq(1L, 2L),
      s"adoption must take the legacy file once and never a tx- file: got $got")
  }

  test("vacuum racing concurrent commits never erases them (snapshot CAS)") {
    val dir = Files.createTempDirectory("graft-aw-vacrace-").toString
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration.Duration
    val writer = new AtomicWarehouse(spark, dir)
    writer.append("t", Seq((0L, "v0")).toDF("id", "v"))
    // one instance vacuums in a loop while another lands 12 commits: every
    // committed row must survive every snapshot (a stale snapshot landing
    // after a racing commit would truncate that commit's rows away)
    // olderThanMs stays a real grace window: 0 would let step 3 delete the
    // writer's IN-FLIGHT staging dirs (the documented contract excludes
    // that); the snapshot CAS under test here doesn't depend on it
    val vac = new AtomicWarehouse(spark, dir)
    @volatile var done = false
    val vacuuming = Future { while (!done) vac.vacuum(olderThanMs = 60000) }
    (1 to 12).foreach(i => writer.append("t", Seq((i.toLong, s"v$i")).toDF("id", "v")))
    done = true
    Await.result(vacuuming, Duration(5, "min"))
    val got = new AtomicWarehouse(spark, dir).read("t", kv)
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(got == (0L to 12L), s"a vacuum snapshot erased committed rows: $got")
  }

  test("per-batch manifest reads stay flat across 50 stream micro-batches") {
    import graft.streaming.ExactDedupStream
    val wh = new AtomicWarehouse(spark,
      Files.createTempDirectory("graft-aw-flat-").toString, logFoldEvery = 8)
    val xs = new ExactDedupStream(wh)
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select($"doc_id".cast("long").as("doc_id"), $"text")
      .orderBy("doc_id").limit(100).as[(Long, String)].collect()
    // 50 two-doc batches; record the manifest files opened per batch
    val deltas = docs.grouped(2).map { chunk =>
      val before = wh.manifestReads.get()
      xs.processBatch(chunk.toSeq.toDF("doc_id", "text"))
      wh.manifestReads.get() - before
    }.toVector
    // uncached + unfolded this grows linearly (batch n folds ~n manifests
    // several times); cached + auto-folded it is periodic with bound
    // ~logFoldEvery — so the last ten batches must not read more than the
    // batches right after the first fold cycle
    val early = deltas.slice(10, 20).sum
    val late = deltas.slice(40, 50).sum
    assert(late <= early * 3 / 2 + 5,
      s"per-batch manifest reads grew: early(11-20)=$early late(41-50)=$late deltas=$deltas")
    // and the LIVE log (latest snapshot + tail — what every read pays for)
    // is bounded; superseded manifests linger only until a vacuum GC
    val names = Files.list(java.nio.file.Paths.get(wh.root, "_txlog"))
      .filter(p => p.getFileName.toString.matches("v\\d{8}(\\.snap)?\\.tsv"))
      .map[String](_.getFileName.toString).sorted.toArray.toSeq.map(_.toString)
    val lastSnap = names.lastIndexWhere(_.endsWith(".snap.tsv"))
    val live = names.size - lastSnap.max(0)
    assert(live <= 10, s"live manifest tail not bounded: $live of ${names.size} ($names)")
    // a vacuum with expired grace collects the superseded backlog entirely
    Thread.sleep(50)
    wh.vacuum(olderThanMs = 1)
    val after = Files.list(java.nio.file.Paths.get(wh.root, "_txlog"))
      .filter(p => p.getFileName.toString.matches("v\\d{8}(\\.snap)?\\.tsv")).count()
    assert(after <= 2, s"vacuum left $after manifests (want snapshot only)")
  }

  test("threads meeting one fresh log version read each new manifest once") {
    val dir = Files.createTempDirectory("graft-aw-fold1-").toString
    val reader = new AtomicWarehouse(spark, dir)
    val writer = new AtomicWarehouse(spark, dir)
    writer.append("t", Seq((0L, "a")).toDF("id", "v"))
    assert(reader.visibleFileCount("t") == 1)
    val k = 8
    val pool = java.util.concurrent.Executors.newFixedThreadPool(k)
    try (1 to 5).foreach { round =>
      (1 to 3).foreach(i => writer.append("t", Seq((round * 10L + i, "b")).toDF("id", "v")))
      val go = new java.util.concurrent.CountDownLatch(1)
      val before = reader.manifestReads.get()
      val counts = (1 to k).map(_ => pool.submit(() => { go.await(); reader.visibleFileCount("t") }))
      go.countDown()
      assert(counts.map(_.get()).toSet == Set(1 + 3 * round))
      assert(reader.manifestReads.get() - before == 3,
        s"round $round: $k readers of one new version read ${reader.manifestReads.get() - before} " +
          "manifests for 3 new ones")
    } finally pool.shutdown()
  }

  test("snapshot fold keeps a child table's files across a truncated parent prefix") {
    // the data-loss shape: the child's adds appear in the log BEFORE the
    // parent's truncate (Pipeline.runBatch deletes staging/<src> each batch
    // while staging/<src>/T subtables get re-added). A snapshot that emits
    // per-table truncate+add blocks in first-appearance order puts the
    // parent's truncate AFTER the child's adds — and refolding that snapshot
    // (which every read of the folded log does) clears the child silently.
    val wh = new AtomicWarehouse(spark, Files.createTempDirectory("graft-aw-fold-").toString)
    wh.append("staging/x/T", Seq((1L, "gen1")).toDF("id", "v")) // child first in log
    wh.delete("staging")                                        // parent truncate
    wh.append("staging/x/T", Seq((2L, "gen2")).toDF("id", "v")) // child re-added
    wh.vacuum(olderThanMs = 60000) // folds the log to one snapshot
    assert(rows(wh, "staging/x/T") == Set((2L, "gen2")),
      "refolding the snapshot must not clear a child whose parent prefix was truncated")
    // and the snapshot must stay stable across ANOTHER fold cycle
    wh.append("unrelated", Seq((9L, "u")).toDF("id", "v"))
    wh.vacuum(olderThanMs = 60000)
    assert(rows(wh, "staging/x/T") == Set((2L, "gen2")))
  }

  test("two 'JVMs' (no shared lock) publishing the same version: exactly one lands, none lost") {
    // publishAtCrossProcess is the publish path minus the JVM-wide lock —
    // i.e. what a second sbt/JVM session racing this one executes. The
    // O_EXCL v<N>.lock claim must let exactly one racer land each version;
    // without it POSIX rename silently overwrites and both report success.
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration.Duration
    val dir = Files.createTempDirectory("graft-aw-xjvm-").toString
    val whs = (1 to 8).map(_ => new AtomicWarehouse(spark, dir))
    (1 to 5).foreach { version =>
      val wins = Await.result(Future.sequence(whs.zipWithIndex.map { case (wh, i) =>
        Future(wh.publishAtCrossProcess(Seq(s"add\tt\tf-$version-$i.parquet"), version))
      }), Duration(5, "min"))
      assert(wins.count(identity) == 1,
        s"version $version: expected exactly one winner, got ${wins.count(identity)}")
      val winner = wins.indexOf(true)
      val manifest = java.nio.file.Paths.get(dir, "_txlog", f"v$version%08d.tsv")
      // every manifest leads with its recorded commit clock (`ts` line) —
      // the payload below it must be exactly the winner's
      val content = new String(Files.readAllBytes(manifest), "UTF-8").trim
        .linesIterator.filterNot(_.startsWith("ts\t")).mkString("\n")
      assert(content == s"add\tt\tf-$version-$winner.parquet",
        s"version $version: manifest content is not the winner's (lost/overwritten publish)")
    }
    // all claims released: no v*.lock files left behind
    val locks = Files.list(java.nio.file.Paths.get(dir, "_txlog"))
      .filter(_.getFileName.toString.endsWith(".lock")).count()
    assert(locks == 0, s"$locks claim files leaked")
  }

  test("appendOnce: replayed stream batches are exactly-once; ledger survives folds, clears on delete") {
    val wh = new AtomicWarehouse(spark,
      Files.createTempDirectory("graft-aw-txn-").toString)
    def batch(lo: Long, hi: Long) = (lo until hi).map(i => (i, s"v$i")).toDF("id", "v")
    assert(wh.appendOnce("t", "app", 0L, batch(0, 10)))
    assert(wh.appendOnce("t", "app", 1L, batch(10, 20)))
    // replays — Structured Streaming re-runs the last uncommitted batch
    // after recovery — are metadata-only no-ops
    assert(!wh.appendOnce("t", "app", 1L, batch(10, 20)))
    assert(!wh.appendOnce("t", "app", 0L, batch(0, 10)))
    assert(wh.appendOnce("t", "app", 2L, batch(20, 30)))
    assert(wh.read("t", kv).count() == 30L)
    assert(wh.lastCommittedBatch("t", "app").contains(2L))
    // independent appIds don't share a high-water
    assert(wh.appendOnce("t", "other", 0L, batch(100, 105)))
    assert(wh.read("t", kv).count() == 35L)
    // the ledger survives a fold-to-snapshot (the fold-amnesia bug class)
    wh.vacuum(olderThanMs = 0L)
    val wh2 = new AtomicWarehouse(spark, wh.root)
    assert(wh2.lastCommittedBatch("t", "app").contains(2L))
    assert(!wh2.appendOnce("t", "app", 2L, batch(20, 30)))
    assert(wh2.read("t", kv).count() == 35L)
    // delete(table) clears it: a re-created table must not skip a new
    // stream's early batches
    wh2.delete("t")
    assert(wh2.lastCommittedBatch("t", "app").isEmpty)
    assert(wh2.appendOnce("t", "app", 0L, batch(0, 5)))
    assert(wh2.read("t", kv).count() == 5L)
  }

  test("inferSchema sees manifest-visible files only, and None after truncate") {
    val wh = new AtomicWarehouse(spark, Files.createTempDirectory("graft-aw-schema-").toString)
    wh.append("t", Seq((1L, "a")).toDF("id", "v"))
    wh.replace("t", Seq((1L, "a", 2.0)).toDF("id", "v", "w")) // schema change
    // superseded 2-column files still sit in the directory (grace window);
    // inference must come from the manifest-visible 3-column generation only
    assert(wh.inferSchema("t").map(_.fieldNames.toSeq) == Some(Seq("id", "v", "w")),
      s"stale/merged schema inferred: ${wh.inferSchema("t")}")
    wh.delete("t")
    assert(wh.inferSchema("t").isEmpty,
      "a truncated-but-unvacuumed table must not resurrect its dead files' schema")
  }

  test("ops-day: out-of-band Maintain racing live exact-dedup batches loses nothing") {
    // the lost-update shape conflict-checked compaction exists for: Maintain
    // reads a table, a stream batch appends, Maintain's rewrite commits a
    // truncate+add of only what it READ — without the optimistic check the
    // racing batch's rows vanish while everything reports success. Drive 20
    // small batches while a second "ops" loop runs the full Maintain pass
    // (discovery compact + vacuum with a real grace window) against the SAME
    // live warehouse, then assert the EXACT survivor set.
    import graft.streaming.ExactDedupStream
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration.Duration
    val dir = Files.createTempDirectory("graft-aw-opsday-").toString
    val wh = new AtomicWarehouse(spark, dir, logFoldEvery = 8)
    val xs = new ExactDedupStream(wh)
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select($"doc_id".cast("long").as("doc_id"), $"text")
      .orderBy("doc_id").limit(100).as[(Long, String)].collect().toSeq
    @volatile var streaming = true
    val ops = Future {
      var passes = 0
      while (streaming) {
        tools.Maintain.run(spark, dir, Nil, graceMs = 60000)
        passes += 1
      }
      passes
    }
    docs.grouped(5).foreach(c => xs.processBatch(c.toDF("doc_id", "text")))
    streaming = false
    val passes = Await.result(ops, Duration(5, "min"))
    assert(passes >= 1, "the ops loop never completed a Maintain pass")
    // first-arrival-wins over id-ordered 5-doc batches = global min-id per
    // text: compare EXACT id sets (a Set of rows would hide duplicates, but
    // ids are unique; sorted Seq catches loss AND duplication)
    val want = docs.groupBy(_._2).map { case (_, rs) => rs.map(_._1).min }.toSeq.sorted
    val got = xs.survivors().collect().map(_.getLong(0)).sorted.toSeq
    assert(got == want, s"ops-day maintenance lost/duplicated rows: got ${got.size} want ${want.size}")
  }

  test("conflict-checked compact works on a raw (no-manifest-history) table") {
    val dir = Files.createTempDirectory("graft-aw-rawcompact-").toString
    val wh = new AtomicWarehouse(spark, dir)
    // several raw generations straight into the directory: no manifest
    // exists, so the conflict precondition runs against the PHYSICAL listing
    // — which by publish time already contains this transaction's own moved
    // tx- files; without excluding them the precondition fails all 8
    // retries, each leaving a visible duplicate rewrite behind
    (1 to 4).foreach(i => Seq((i.toLong, s"v$i")).toDF("id", "v")
      .write.mode("append").parquet(wh.path("t")))
    wh.compact("t", kv)
    // EXACT id list, not a set: duplicated rows from retried rewrites would
    // hide inside a Set
    val ids = wh.read("t", kv).collect().map(_.getLong(0)).sorted.toSeq
    assert(ids == (1L to 4L), s"raw compact lost/duplicated rows: $ids")
    assert(wh.visibleFileCount("t") == 1,
      s"compaction must leave one visible file, got ${wh.visibleFileCount("t")}")
  }

  test("a compaction that loses every race gives up after 8 attempts, keeping every row") {
    val dir = Files.createTempDirectory("graft-aw-exhaust-").toString
    val wh = new AtomicWarehouse(spark, dir)
    (1 to 3).foreach(i => wh.append("t", Seq((i.toLong, s"v$i")).toDF("id", "v")))
    // each attempt's transform lands a racing append after the compaction
    // pinned the file set, so every commit fails its precondition
    var attempts = 0
    val e = intercept[java.util.ConcurrentModificationException](
      wh.compactWith("t", kv, { df =>
        attempts += 1
        wh.append("t", Seq((100L + attempts, s"r$attempts")).toDF("id", "v"))
        df.coalesce(1)
      }))
    assert(attempts == 8, s"ran $attempts attempts")
    assert(e.getMessage.contains("compaction of t"), e.getMessage)
    val ids = wh.read("t", kv).collect().map(_.getLong(0)).sorted.toSeq
    assert(ids == (1L to 3L) ++ (101L to 108L), s"rows lost or duplicated: $ids")
    val stage = java.nio.file.Paths.get(dir, "txstage")
    assert(!Files.exists(stage) || LocalFs.entriesSorted(stage).isEmpty,
      "an aborted attempt left staged files behind")
  }

  test("compact inside an ambient transaction stays conflict-checked") {
    val dir = Files.createTempDirectory("graft-aw-nestedcompact-").toString
    val wh = new AtomicWarehouse(spark, dir)
    (1 to 3).foreach(i => wh.append("t", Seq((i.toLong, s"v$i")).toDF("id", "v")))
    wh.atomically { w =>
      w.append("other", Seq((9L, "o")).toDF("id", "v"))
      w.compact("t", kv) // routes through replaceExpecting on the TxView
    }
    val ids = wh.read("t", kv).collect().map(_.getLong(0)).sorted.toSeq
    assert(ids == (1L to 3L), s"nested compact changed contents: $ids")
    assert(wh.visibleFileCount("t") == 1 && rows(wh, "other") == Set((9L, "o")))
  }

  test("cross-process appends landing mid-compaction are never erased (publish CAS)") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration.Duration
    val dir = Files.createTempDirectory("graft-aw-caslost-").toString
    val wh = new AtomicWarehouse(spark, dir)
    wh.append("t", Seq((0L, "v0")).toDF("id", "v"))
    // the racer is a "second JVM": it publishes through the raw cross-process
    // seam (no shared publishLock) — the out-of-band-Maintain-vs-live-writer
    // shape. Each append lays a real data file, then lands its add manifest
    // at whatever slot is free; a compaction whose truncate+add publishes
    // above an append its precondition never saw would erase that append.
    val racer = new AtomicWarehouse(spark, dir)
    val n = 25
    val appender = Future {
      var v = 1
      (1 to n).foreach { i =>
        val stage = java.nio.file.Paths.get(dir, ".racer", i.toString)
        Seq((i.toLong, s"v$i")).toDF("id", "v").coalesce(1)
          .write.mode("overwrite").parquet(stage.toString)
        val part = Files.list(stage).filter(_.toString.endsWith(".parquet")).findFirst.get
        val name = s"racer-$i.parquet"
        Files.move(part, java.nio.file.Paths.get(dir, "t", name))
        while (!racer.publishAtCrossProcess(Seq(s"add\tt\t$name"), v)) v += 1
      }
    }
    // compact continuously while the appends land; lost races may
    // legitimately exhaust compaction's retries — the table must stay intact
    while (!appender.isCompleted) {
      try wh.compact("t", kv)
      catch { case _: java.util.ConcurrentModificationException => }
    }
    Await.result(appender, Duration(5, "min"))
    val got = new AtomicWarehouse(spark, dir).read("t", kv)
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(got == (0L to n.toLong), s"a compaction erased cross-process appends: $got")
  }

  test("a fenced staller can neither publish over the new owner nor delete its claim") {
    val dir = Files.createTempDirectory("graft-aw-fence-").toString
    val wh = new AtomicWarehouse(spark, dir)
    wh.append("t", Seq((1L, "a")).toDF("id", "v"))
    val lock = java.nio.file.Paths.get(dir, "_txlog", f"v${7}%08d.lock")
    // simulate the >60s stall through the post-claim seam: while this
    // publisher is paused, its claim is broken (staleness) and a new owner
    // claims the slot with its own token
    wh.postClaimHook = () => Files.write(lock, "new-owner-token".getBytes("UTF-8"))
    try assert(!wh.publishAtCrossProcess(Seq("add\tt\tstaller.parquet"), 7),
      "a claimant whose claim was broken must report a lost race")
    finally wh.postClaimHook = () => ()
    assert(!Files.exists(java.nio.file.Paths.get(dir, "_txlog", f"v${7}%08d.tsv")),
      "the fenced staller still published its manifest")
    assert(new String(Files.readAllBytes(lock), "UTF-8") == "new-owner-token",
      "the fenced staller deleted/overwrote the new owner's claim")
    // and a fresh foreign claim is simply honored: lose the race, leave it be
    val lock2 = java.nio.file.Paths.get(dir, "_txlog", f"v${8}%08d.lock")
    Files.write(lock2, "owner".getBytes("UTF-8"))
    assert(!wh.publishAtCrossProcess(Seq("add\tt\tx.parquet"), 8))
    assert(new String(Files.readAllBytes(lock2), "UTF-8") == "owner")
  }

  test("vacuum folds the log to one snapshot and removes unreferenced files") {
    val dir = Files.createTempDirectory("graft-aw-vac-").toString
    val wh = new AtomicWarehouse(spark, dir)
    (1 to 5).foreach(i => wh.append("t", Seq((i.toLong, s"v$i")).toDF("id", "v")))
    wh.replace("t", Seq((99L, "kept")).toDF("id", "v")) // orphans the 5 appends
    val before = rows(wh, "t")
    assert(before == Set((99L, "kept")))

    Thread.sleep(50) // file mtimes are millisecond-granular; age past the cutoff
    wh.vacuum(olderThanMs = 1)
    assert(rows(wh, "t") == before, "vacuum must not change visible state")
    val logFiles = Files.list(java.nio.file.Paths.get(dir, "_txlog"))
      .filter(p => p.getFileName.toString.matches("v\\d{8}(\\.snap)?\\.tsv")).count()
    assert(logFiles == 1, s"expected one snapshot manifest, found $logFiles")
    // the orphaned data files are physically gone
    val dataFiles = Files.walk(java.nio.file.Paths.get(dir, "t"))
      .filter(_.toString.endsWith(".parquet")).count()
    assert(dataFiles == 1, s"expected 1 referenced data file, found $dataFiles")
  }

  test("vacuum(0) keeps every accessor's answer for a table using every manifest line kind") {
    import graft.sources.{ColEq, ColIn}
    val dir = Files.createTempDirectory("graft-aw-kinds-").toString
    val wh = new AtomicWarehouse(spark, dir)
    val s0 = StructType(kv.fields :+ StructField("pid", LongType, nullable = true))
    def batch(ids: Seq[Long]) =
      ids.map(i => (i, s"v$i", 1L)).toDF("id", "v", "pid").coalesce(1)
    wh.append("p", Seq(1L, 2L).toDF("pid"))
    wh.setChangeFeed("t", on = true)
    wh.setBloomIndex("t", Seq("v"))
    wh.setClusterBy("t", Seq("id"))
    wh.addConstraint("t", "id_nonneg", "id >= 0", s0)
    wh.addForeignKey("t", "pid", "p", "pid", "t_p")
    wh.addUniqueKey("t", "id", "t_id")
    assert(wh.appendOnce("t", "app", 0L, batch(0L until 5000L)))
    wh.append("t", batch(5000L until 5010L))
    wh.append("t", batch(5010L until 5020L))
    wh.compactSmall("t", s0, minBytes = 4096) // remove lines + cdfnoop
    // 4500 ordinals go to a sidecar; one ordinal of the compacted file inline
    wh.deleteWhereDv("t", s0, Seq(ColIn("id", 0L until 4500L)))
    wh.deleteWhereDv("t", s0, Seq(ColEq("id", 5005L)))
    wh.purgeChanges("t", wh.versions().last)
    wh.renameColumn("t", "v", "val")
    val kinds = Files.list(java.nio.file.Paths.get(dir, "_txlog")).toArray.toSeq
      .flatMap(p => Files.readAllLines(p.asInstanceOf[java.nio.file.Path]).toArray.toSeq)
      .map(_.toString.split("\t")(0)).toSet
    assert(Set("ts", "add", "remove", "schema", "stats", "dv", "bloom", "bloomcols",
      "cluster", "colmap", "constraint", "fk", "unique", "changefeed", "cdffloor",
      "txn", "cdfnoop").subsetOf(kinds), s"kinds written: $kinds")
    assert(wh.deletionVectors("t").values.map(_.size).toSeq.sorted == Seq(1, 4500))

    val s1 = StructType(Seq(s0(0), s0(1).copy(name = "val"), s0(2)))
    def answers(w: AtomicWarehouse): Seq[Any] = Seq(
      w.read("t", s1).collect().map(_.toString).sorted.toSeq,
      w.currentSchema("t"), w.deletionVectors("t"), w.fileStats("t"),
      w.visibleDataFiles("t"), w.visibleDataFiles("t/_bloom").sorted,
      w.visibleDataFiles("t/_dv"), w.visibleDataFiles("t/_changes").sorted,
      w.clusterBy("t"), w.bloomIndex("t"), w.constraintsOf("t"),
      w.foreignKeysOf("t"), w.uniquesOf("t"), w.changeFeedEnabled("t"),
      w.changeFeedFloor("t"), w.lastCommittedBatch("t", "app"),
      w.describe("t").copy(headVersion = 0),
      w.planFiles("t", Seq(ColEq("val", "v4700"))), w.catalogTables())
    val before = answers(wh)
    wh.vacuum(olderThanMs = 0L)
    assert(answers(wh) == before, "vacuum's fold changed an answer")
    // a fresh instance folds the snapshot from disk alone
    assert(answers(new AtomicWarehouse(spark, dir)) == before,
      "the snapshot on disk folds to a different state")
    assert(wh.commitHistory(None).map(_._2) == Seq(true), "the log was not folded")
  }

  test("restore: metadata-only rollback, undo, genesis, CDC refusal, vacuumed target refuses") {
    val wh = new AtomicWarehouse(spark, Files.createTempDirectory("graft-aw-rst-").toString)
    wh.append("t", Seq((1L, "a"), (2L, "b")).toDF("id", "v")) // v1
    wh.replace("t", Seq((9L, "z")).toDF("id", "v"))           // v2
    wh.append("t", Seq((10L, "y")).toDF("id", "v"))           // v3
    val dataBefore = Files.list(java.nio.file.Paths.get(wh.root, "t"))
      .filter(_.toString.endsWith(".parquet")).count()

    wh.restore("t", 1)                                        // v4
    assert(rows(wh, "t") == Set((1L, "a"), (2L, "b")))
    assert(wh.versions() == Seq(1, 2, 3, 4))
    // metadata-only: the restore re-references, it copies no data files
    val dataAfter = Files.list(java.nio.file.Paths.get(wh.root, "t"))
      .filter(_.toString.endsWith(".parquet")).count()
    assert(dataAfter == dataBefore, "restore must not copy data files")
    // pre-restore history stays time-travelable THROUGH the restore
    def at(v: Int) = wh.readAt("t", kv, v).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(at(3) == Set((9L, "z"), (10L, "y")))
    // undo = restore to the pre-restore head
    wh.restore("t", 3)                                        // v5
    assert(rows(wh, "t") == Set((9L, "z"), (10L, "y")))
    // restoring to the current state publishes nothing
    wh.restore("t", 3)
    assert(wh.versions().last == 5)
    // a CDC window crossing a restore refuses (its truncate breaks
    // append-only, exactly like a replace)
    intercept[IllegalStateException](wh.appendsBetween("t", kv, 3, 5))
    // genesis restore = committed-empty table
    wh.restore("t", 0)                                        // v6
    assert(rows(wh, "t").isEmpty)
    wh.restore("t", 5)                                        // v7
    assert(rows(wh, "t") == Set((9L, "z"), (10L, "y")))

    // vacuum away pre-snapshot history: restore to it must refuse, and the
    // files version 2's replace un-referenced are gone with it
    wh.vacuum() // publishes snapshot v8
    Thread.sleep(50)
    wh.vacuum(olderThanMs = 1L)
    intercept[IllegalStateException](wh.restore("t", 1))
    assert(rows(wh, "t") == Set((9L, "z"), (10L, "y")), "live state must survive vacuum")
  }

  test("restore racing cross-process appends never corrupts the table") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration.Duration
    val dir = Files.createTempDirectory("graft-aw-rstrace-").toString
    val wh = new AtomicWarehouse(spark, dir)
    wh.append("t", Seq((0L, "v0")).toDF("id", "v")) // v1 — the restore target
    val racer = new AtomicWarehouse(spark, dir)
    val n = 20
    val appender = Future {
      var v = 2
      (1 to n).foreach { i =>
        val stage = java.nio.file.Paths.get(dir, ".racer", i.toString)
        Seq((i.toLong, s"v$i")).toDF("id", "v").coalesce(1)
          .write.mode("overwrite").parquet(stage.toString)
        val part = Files.list(stage).filter(_.toString.endsWith(".parquet")).findFirst.get
        val name = s"racer-$i.parquet"
        Files.move(part, java.nio.file.Paths.get(dir, "t", name))
        while (!racer.publishAtCrossProcess(Seq(s"add\tt\t$name"), v)) v += 1
      }
    }
    // restore-to-v1 continuously while appends land; a raced attempt may
    // abort (precondition) — the table must stay coherent throughout
    while (!appender.isCompleted) {
      try wh.restore("t", 1)
      catch { case _: java.util.ConcurrentModificationException => }
    }
    Await.result(appender, Duration(5, "min"))
    val got = new AtomicWarehouse(spark, dir).read("t", kv)
      .collect().map(_.getLong(0)).sorted.toSeq
    // every surviving append postdates the last landed restore, and appends
    // land in id order — so the survivors are a contiguous SUFFIX of 1..n
    // (plus the always-restored 0). A hole = a clobbered manifest.
    assert(got.headOption.contains(0L), s"restore target row lost: $got")
    val suffix = got.tail
    assert(suffix == (if (suffix.isEmpty) Seq.empty[Long]
      else suffix.head to n.toLong),
      s"append erased out of order (manifest corruption): $got")
  }

  test("schema evolution: per-version schemas, null-fill reconciliation, fold/restore keep the shape") {
    import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
    val wh = new AtomicWarehouse(spark, Files.createTempDirectory("graft-aw-se-").toString)
    val narrow = StructType(Seq(StructField("id", LongType), StructField("v", StringType)))
    val wide = StructType(narrow.fields :+ StructField("w", LongType))
    def shape(s: StructType) = s.fields.map(f => (f.name, f.dataType)).toSeq
    wh.append("t", Seq((1L, "a")).toDF("id", "v"))              // v1: 2 cols
    wh.append("t", Seq((2L, "b", 20L)).toDF("id", "v", "w"))    // v2: add-column evolution
    assert(wh.schemaAt("t", 1).map(shape).contains(shape(narrow)), "v1 shape")
    assert(wh.schemaAt("t", 2).map(shape).contains(shape(wide)), "v2 shape")
    assert(wh.currentSchema("t").map(shape).contains(shape(wide)))
    // as-of reads use the shape of their ERA: v1 has no `w` column at all;
    // v2 null-fills it for the file that predates it
    assert(wh.readAt("t", 1).columns.toSeq == Seq("id", "v"))
    val v2 = wh.readAt("t", 2).collect()
      .map(r => (r.getLong(0), r.getString(1),
        if (r.isNullAt(2)) None else Some(r.getLong(2)))).toSet
    assert(v2 == Set((1L, "a", None), (2L, "b", Some(20L))),
      "older files must null-fill the added column")
    // a fold-snapshot subsumes the manifests without forgetting the shape
    wh.vacuum() // publishes snapshot v3
    assert(wh.currentSchema("t").map(shape).contains(shape(wide)),
      "snapshot dropped the schema line")
    assert(wh.readAt("t", 1).columns.toSeq == Seq("id", "v"),
      "pre-snapshot version lost its era's schema")
    // restore brings the VERSION's shape back with its files
    wh.restore("t", 1) // v4
    assert(wh.currentSchema("t").map(shape).contains(shape(narrow)),
      "restore must restore the recorded shape, not keep the newer label")
    assert(wh.read("t", narrow).collect().map(_.getLong(0)).toSeq == Seq(1L))
    // a truncate-only commit records no schema: readAt without one refuses
    wh.delete("u") // v5: manifest history for u, but no write ever recorded a shape
    val e = intercept[IllegalStateException](wh.readAt("u", 5))
    assert(e.getMessage.contains("no schema recorded"))
    assert(wh.schemaAt("u", 5).isEmpty)
    // raw directory (no manifest history): no recorded schema either
    Seq((9L, "z")).toDF("id", "v").write.parquet(wh.path("raw_t"))
    assert(wh.currentSchema("raw_t").isEmpty)
  }

  test("time travel: readAt per version, CDC windows, snapshot transparency, vacuum bounds") {
    val wh = new AtomicWarehouse(spark, Files.createTempDirectory("graft-aw-tt-").toString)
    wh.append("t", Seq((1L, "a")).toDF("id", "v"))  // v1
    wh.append("t", Seq((2L, "b")).toDF("id", "v"))  // v2
    wh.replace("t", Seq((9L, "z")).toDF("id", "v")) // v3
    wh.atomically { w =>                            // v4: multi-table txn
      w.append("t", Seq((10L, "y")).toDF("id", "v"))
      w.append("u", Seq((100L, "q")).toDF("id", "v"))
    }
    assert(wh.versions() == Seq(1, 2, 3, 4))
    def at(t: String, v: Int) = wh.readAt(t, kv, v).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(at("t", 1) == Set((1L, "a")))
    assert(at("t", 2) == Set((1L, "a"), (2L, "b")))
    assert(at("t", 3) == Set((9L, "z")), "replace must reset history at its version")
    assert(at("t", 4) == Set((9L, "z"), (10L, "y")))
    intercept[IllegalArgumentException](wh.readAt("t", kv, 99)) // beyond-head = caller error, never the live state
    assert(at("t", 0).isEmpty, "version 0 = genesis, before any commit")
    assert(at("u", 3).isEmpty && at("u", 4) == Set((100L, "q")),
      "a table first committed at v4 is empty at v3")

    def delta(t: String, a: Int, b: Int) = wh.appendsBetween(t, kv, a, b).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(delta("t", 1, 2) == Set((2L, "b")))
    assert(delta("t", 3, 4) == Set((10L, "y")))
    assert(delta("t", 0, 2) == Set((1L, "a"), (2L, "b")))
    assert(delta("t", 4, 4) == Set.empty)
    // windows crossing the replace are not append-only → refuse, both the
    // tight window and a wider one containing it
    intercept[IllegalStateException](wh.appendsBetween("t", kv, 2, 3))
    intercept[IllegalStateException](wh.appendsBetween("t", kv, 1, 4))

    // a fold-snapshot inside a window is bookkeeping, not a truncate
    wh.vacuum() // default grace keeps every manifest; publishes snapshot v5
    wh.append("t", Seq((11L, "w")).toDF("id", "v")) // v6
    assert(wh.versions() == Seq(1, 2, 3, 4, 5, 6))
    assert(delta("t", 3, 6) == Set((10L, "y"), (11L, "w")),
      "the snapshot's rebuild-truncates must not read as table truncates")
    assert(at("t", 2) == Set((1L, "a"), (2L, "b")),
      "pre-snapshot history stays readable until vacuumed")

    // zero-grace vacuum folds again and deletes the superseded manifests:
    // pre-snapshot history is gone and says so, live state is untouched
    Thread.sleep(50) // mtime granularity
    wh.vacuum(olderThanMs = 1L)
    intercept[IllegalStateException](wh.readAt("t", kv, 2))
    intercept[IllegalStateException](wh.appendsBetween("t", kv, 1, 2))
    assert(rows(wh, "t") == Set((9L, "z"), (10L, "y"), (11L, "w")))
    val head = wh.versions().last
    assert(at("t", head) == Set((9L, "z"), (10L, "y"), (11L, "w")),
      "the snapshot version itself must remain readable")
  }

  test("concurrent staging runs under the caller's job description and group") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val wh = new AtomicWarehouse(spark, Files.createTempDirectory("graft-aw-ctx-").toString)
    val sc = spark.sparkContext
    val id = java.util.UUID.randomUUID().toString
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[(String, String)]()
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        if (Option(j.properties.getProperty("spark.job.description")).exists(_.contains(id)))
          seen.add((j.properties.getProperty("spark.job.description"),
            j.properties.getProperty("spark.jobGroup.id")))
    }
    sc.addSparkListener(listener)
    def stageTwo(group: String): Unit = {
      sc.setJobGroup(group, s"$group $id")
      try wh.atomically(w => Warehouse.settleAll(spark, Seq(
        () => w.append(s"$group/a", Seq((1L, "a")).toDF("id", "v")),
        () => w.append(s"$group/b", Seq((2L, "b")).toDF("id", "v")))))
      finally sc.clearJobGroup()
    }
    try {
      // the staging threads come into being under the first caller's
      // properties; the second caller's writes must not inherit them
      stageTwo(s"first-$id")
      stageTwo(s"second-$id")
      import scala.jdk.CollectionConverters._
      val deadline = System.nanoTime() + 30L * 1000000000L
      def second = seen.asScala.toSeq.filter(_._2 == s"second-$id")
      // listener events arrive asynchronously
      while (second.size < 2 && System.nanoTime() < deadline) Thread.sleep(50)
      val all = seen.asScala.toSeq
      assert(second.size >= 2, s"second caller's writes ran as: $all")
      assert(all.forall { case (desc, group) => desc == s"$group $id" },
        s"a staged job ran under another caller's description: $all")
    } finally sc.removeSparkListener(listener)
    assert(rows(wh, s"second-$id/a") == Set((1L, "a")))
    assert(rows(wh, s"second-$id/b") == Set((2L, "b")))
  }

  test("a caller's cancelJobGroup cancels its concurrently staged writes") {
    val wh = new AtomicWarehouse(spark, Files.createTempDirectory("graft-aw-cancel-").toString)
    val sc = spark.sparkContext
    val group = s"cancel-${java.util.UUID.randomUUID()}"
    // the slow write's tasks touch this file once they run; the caller's
    // side then cancels its own job group
    val marker = Files.createTempDirectory("graft-aw-cancel-mark-").resolve("running").toString
    val canceller = new Thread(() => {
      val deadline = System.nanoTime() + 60L * 1000000000L
      while (!new java.io.File(marker).exists && System.nanoTime() < deadline) Thread.sleep(20)
      sc.cancelJobGroup(group)
    })
    canceller.setDaemon(true)
    // 2 tasks × 200 rows × 100 ms: an uncancelled write takes ~20 s
    val nap = udf { (i: Long) => new java.io.File(marker).createNewFile(); Thread.sleep(100); i }
    val slow = spark.range(0, 400, 1, 2).toDF("id")
      .select(nap(col("id")).as("id"), lit("x").as("v"))
    val t0 = System.nanoTime()
    try {
      canceller.start()
      sc.setJobGroup(group, "slow staged write", interruptOnCancel = true)
      val e = intercept[Exception](wh.atomically(w => Warehouse.settleAll(spark, Seq(
        () => w.append("slow", slow),
        () => w.append("quick", Seq((1L, "q")).toDF("id", "v"))))))
      assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .exists(_.getMessage.toLowerCase.contains("cancel")), e.toString)
    } finally sc.clearJobGroup()
    assert((System.nanoTime() - t0) / 1e9 < 15, "the write ran to completion")
    assert(rows(wh, "slow").isEmpty)
    assert(rows(wh, "quick").isEmpty, "an aborted transaction published a sibling")
  }
}
