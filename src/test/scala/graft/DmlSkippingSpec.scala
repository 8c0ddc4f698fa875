package graft

import java.nio.file.Files

import graft.sources.{AtomicWarehouse, ColEq, ColGe, ColGt, ColLe, ColLt, FilePred}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType, StringType, StructField, StructType, TimestampType}

/** Manifest-level data skipping (footer-derived per-file column stats riding
  * the commit log) and copy-on-write row-level DML (`deleteWhere` /
  * `updateWhere` via single-file `remove` actions). The contract under test:
  * skipping only ever removes I/O, never rows (scanWhere ≡ read+filter,
  * bit-exact); DML rewrites ONLY the candidate files; both compose with the
  * existing time-travel / CDC / restore / vacuum machinery.
  */
class DmlSkippingSpec extends SparkSpec {
  import spark.implicits._

  private val kv = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("v", StringType, nullable = true)))

  private val idVal = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("x", DoubleType, nullable = true)))

  private def newWh() =
    new AtomicWarehouse(spark, Files.createTempDirectory("graft-dml-").toString)

  /** Three single-file commits with disjoint id bands [0,10), [10,20), [20,30). */
  private def banded(wh: AtomicWarehouse, table: String = "t"): Unit =
    (0 until 3).foreach { b =>
      wh.append(table, (b * 10 until (b + 1) * 10).map(i => (i.toLong, s"v$i"))
        .toDF("id", "v").coalesce(1))
    }

  test("stats are recorded at commit and planFiles prunes disjoint bands") {
    val wh = newWh()
    banded(wh)
    val stats = wh.fileStats("t")
    assert(stats.size == 3, s"expected stats for all 3 files, got ${stats.keySet}")
    assert(stats.values.forall(_.rows == 10))
    val idStats = stats.values.map(_.cols("id")).toSeq
    assert(idStats.map(s => (s.min.get, s.max.get)).toSet ==
      Set((0L, 9L), (10L, 19L), (20L, 29L)))
    // middle band only
    val (kept, skipped) = wh.planFiles("t", Seq(ColGe("id", 10L), ColLt("id", 20L)))
    assert(kept.size == 1 && skipped.size == 2)
    // nothing can match
    val (k2, s2) = wh.planFiles("t", Seq(ColGt("id", 1000L)))
    assert(k2.isEmpty && s2.size == 3)
    // string stats prune too (UTF-8 order; all values start "v")
    val (k3, s3) = wh.planFiles("t", Seq(ColLt("v", "a")))
    assert(k3.isEmpty && s3.size == 3)
  }

  test("scanWhere ≡ read+filter regardless of pruning; empty plan is empty frame") {
    val wh = newWh()
    banded(wh)
    val preds = Seq(ColGe("id", 5L), ColLe("id", 24L))
    val viaScan = wh.scanWhere("t", kv, preds).collect().map(r => (r.getLong(0), r.getString(1))).toSet
    val viaRead = wh.read("t", kv).filter(col("id") >= 5 && col("id") <= 24)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(viaScan == viaRead && viaScan.size == 20)
    assert(wh.scanWhere("t", kv, Seq(ColEq("id", -1L))).isEmpty)
  }

  test("all-null and zero-row files are skipped; null stats never lose rows") {
    val wh = newWh()
    wh.append("n", Seq((1L, Option.empty[Double]), (2L, Option.empty[Double]))
      .toDF("id", "x").coalesce(1))                      // x entirely null
    wh.append("n", Seq((3L, Some(7.5)), (4L, Some(9.0))).toDF("id", "x").coalesce(1))
    wh.append("n", spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], idVal).coalesce(1))
    val (kept, skipped) = wh.planFiles("n", Seq(ColGe("x", 0.0)))
    assert(kept.size == 1, s"only the file with x values may survive, kept=$kept")
    assert(skipped.size >= 1) // all-null file must be skipped (empty file may write 0 files)
    val got = wh.scanWhere("n", idVal, Seq(ColGe("x", 0.0)))
      .collect().map(_.getLong(0)).toSet
    assert(got == Set(3L, 4L))
  }

  test("timestamp stats prune with Instant/Timestamp predicates") {
    val wh = newWh()
    val sch = StructType(Seq(StructField("id", LongType, nullable = false),
      StructField("ts", TimestampType, nullable = true)))
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    // Spark's legacy INT96 timestamp encoding has spec-invalid parquet stats
    // (correctly untracked — no pruning); modern TIMESTAMP_MICROS is what
    // pyarrow/the table formats write and what the stats algebra covers
    val key = "spark.sql.parquet.outputTimestampType"
    val old = spark.conf.get(key)
    spark.conf.set(key, "TIMESTAMP_MICROS")
    try {
      wh.append("e", Seq((1L, t("2024-01-01 00:00:00")), (2L, t("2024-01-31 00:00:00")))
        .toDF("id", "ts").coalesce(1))
      wh.append("e", Seq((3L, t("2024-03-01 00:00:00")), (4L, t("2024-03-31 00:00:00")))
        .toDF("id", "ts").coalesce(1))
    } finally spark.conf.set(key, old)
    val preds = Seq(ColGe("ts", java.time.Instant.parse("2024-02-15T00:00:00Z")))
    val (kept, skipped) = wh.planFiles("e", preds)
    assert(kept.size == 1 && skipped.size == 1)
    assert(wh.scanWhere("e", sch, preds).collect().map(_.getLong(0)).toSet == Set(3L, 4L))
  }

  test("deleteWhere rewrites only candidate files, keeps NULL-predicate rows, composes with time travel") {
    val wh = newWh()
    wh.append("d", Seq((1L, Some(1.0)), (2L, Some(50.0)), (3L, None: Option[Double]))
      .toDF("id", "x").coalesce(1))                                    // v1: mixed band
    wh.append("d", Seq((4L, Some(2.0)), (5L, Some(3.0))).toDF("id", "x").coalesce(1)) // v2: all < 10
    val before = wh.fileStats("d").keySet
    val deleted = wh.deleteWhere("d", idVal, Seq(ColGe("x", 10.0)))    // v3
    assert(deleted == 1L)
    // survivors: the NULL row survives (pred NULL ⇒ keep), the low band untouched
    val after = wh.read("d", idVal).collect().map(_.getLong(0)).toSet
    assert(after == Set(1L, 3L, 4L, 5L))
    // the all-below-10 file was never a candidate: its file name survives verbatim
    val afterFiles = wh.fileStats("d").keySet
    val untouched = before.intersect(afterFiles)
    assert(untouched.size == 1, s"low band must not be rewritten (before=$before after=$afterFiles)")
    // time travel still reconstructs the pre-delete state
    assert(wh.readAt("d", idVal, 2).collect().map(_.getLong(0)).toSet == Set(1L, 2L, 3L, 4L, 5L))
    // CDC refuses a window crossing the delete
    intercept[IllegalStateException](wh.appendsBetween("d", idVal, 1, 3))
    // fixpoint: deleting again matches nothing and commits nothing
    val head = wh.versions().last
    assert(wh.deleteWhere("d", idVal, Seq(ColGe("x", 10.0))) == 0L)
    assert(wh.versions().last == head)
    // restore undoes the delete, carrying the old files' stats back
    wh.restore("d", 2)
    assert(wh.read("d", idVal).count() == 5)
    assert(wh.fileStats("d").nonEmpty)
  }

  test("updateWhere applies assignments to matching rows only and counts them") {
    val wh = newWh()
    banded(wh)
    val n = wh.updateWhere("t", kv, Seq(ColGe("id", 10L), ColLt("id", 20L)),
      Seq("v" -> concat(lit("UPD-"), col("v"))))
    assert(n == 10L)
    val got = wh.read("t", kv).collect().map(r => (r.getLong(0), r.getString(1))).toMap
    assert(got(15L) == "UPD-v15" && got(5L) == "v5" && got(25L) == "v25")
    assert(got.size == 30)
    // only the middle band's file was rewritten
    val stats = wh.fileStats("t")
    assert(stats.size == 3)
  }

  test("a racing append during deleteWhere is never blocked or lost") {
    val wh = newWh()
    wh.append("r", (0 until 50).map(i => (i.toLong, s"v$i")).toDF("id", "v").coalesce(1))
    val appender = new Thread(() => (100 until 108).foreach { i =>
      wh.append("r", Seq((i.toLong, s"late$i")).toDF("id", "v").coalesce(1))
    })
    appender.start()
    val deleted = wh.deleteWhere("r", kv, Seq(ColLt("id", 25L)))
    appender.join()
    assert(deleted == 25L)
    val ids = wh.read("r", kv).collect().map(_.getLong(0)).toSet
    assert(ids == ((25 until 50).map(_.toLong).toSet ++ (100 until 108).map(_.toLong)),
      s"racing appends must all survive the delete commit, got ${ids.size} ids")
  }

  test("deleteWhere adopts a raw directory-laid table before removing") {
    val root = Files.createTempDirectory("graft-dmlraw-").toString
    val wh = new AtomicWarehouse(spark, root)
    Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v").coalesce(1)
      .write.mode("append").parquet(wh.path("raw"))
    val deleted = wh.deleteWhere("raw", kv, Seq(ColEq("id", 2L)))
    assert(deleted == 1L)
    assert(wh.read("raw", kv).collect().map(_.getLong(0)).toSet == Set(1L, 3L))
  }

  test("stats survive the snapshot fold and vacuum; vacuum collects removed files") {
    val wh = newWh()
    banded(wh)
    wh.deleteWhere("t", kv, Seq(ColGe("id", 20L)))
    wh.vacuum(olderThanMs = 0L)
    // post-vacuum: the log is one snapshot, stats still prune
    val (kept, skipped) = wh.planFiles("t", Seq(ColLt("id", 10L)))
    assert(kept.size == 1 && skipped.size >= 1,
      s"stats must survive the fold (kept=$kept skipped=$skipped)")
    assert(wh.read("t", kv).count() == 20)
    // pre-delete history is gone with its files
    intercept[IllegalStateException](wh.readAt("t", kv, 3))
  }

  test("layout rewrites refresh stats: compaction re-records bounds for the new files") {
    val wh = newWh()
    banded(wh)
    wh.compact("t", kv, targetFiles = 1, sortCols = Seq("id"))
    val stats = wh.fileStats("t")
    assert(stats.size == 1)
    val s = stats.values.head.cols("id")
    assert(s.min.contains(0L) && s.max.contains(29L))
    // pruning now keeps the single file for any in-range predicate
    val (kept, skipped) = wh.planFiles("t", Seq(ColEq("id", 15L)))
    assert(kept.size == 1 && skipped.isEmpty)
    val (k2, s2) = wh.planFiles("t", Seq(ColGt("id", 29L)))
    assert(k2.isEmpty && s2.size == 1)
  }

  test("a deleteWhere inside a CDC window triggers the materialized-view rebuild path") {
    val wh = newWh()
    wh.append("src/f", (0 until 20).map(i => (i.toLong, i.toDouble)).toDF("id", "x"))
    val agg = new graft.operators.IncrementalAgg(wh, "mv", "src/f",
      idVal, Seq("id"), Seq("sum_x" -> col("x")))
    agg.refresh()
    // the delete makes (lastFold, head] non-append-only — the next refresh
    // must detect it (appendsBetween refuses) and rebuild as-of head
    assert(wh.deleteWhere("src/f", idVal, Seq(ColGe("x", 10.0))) == 10L)
    agg.refresh()
    val st = agg.state().agg(sum(col("sum_x")).cast(DoubleType), count(lit(1))).head()
    assert(st.getDouble(0) == (0 until 10).map(_.toDouble).sum &&
      st.getLong(1) == 10L, s"mv must rebase to post-delete state, got $st")
  }

  test("countWhere: metadata for fully-included files, read for boundaries, exact always") {
    val wh = newWh()
    banded(wh)
    // [5, 20): band 0 straddles (read), band 1 fully inside (metadata), band 2 excluded
    val r = wh.countWhere("t", kv, Seq(ColGe("id", 5L), ColLt("id", 20L)))
    assert(r == graft.sources.CountWhere(15L, 1, 1, 1), s"got $r")
    // no predicate: COUNT(*) entirely from the manifest
    val full = wh.countWhere("t", kv)
    assert(full == graft.sources.CountWhere(30L, 3, 0, 0), s"got $full")
    // a null in the predicate column defeats fully-included (nulls fail
    // predicates) — the file must be read, and the null row not counted
    wh.append("nn", Seq((1L, Some(5.0)), (2L, None: Option[Double]))
      .toDF("id", "x").coalesce(1))
    val rn = wh.countWhere("nn", idVal, Seq(ColGe("x", 0.0)))
    assert(rn.count == 1L && rn.filesRead == 1 && rn.filesMetadata == 0, s"got $rn")
  }

  test("statsMinMax: metadata-only extremes, hybrid over statless files, null/refusal semantics") {
    val wh = newWh()
    banded(wh)
    val k = wh.statsMinMax("t", kv, "id")
    assert(k.min.contains(0L) && k.max.contains(29L) && k.filesRead == 0 && k.filesMetadata == 3)
    // statless legacy file → hybrid: that file read, result still exact
    val root = java.nio.file.Files.createTempDirectory("graft-mmraw-").toString
    val wh2 = new AtomicWarehouse(spark, root)
    Seq((100L, "z")).toDF("id", "v").coalesce(1).write.mode("append").parquet(wh2.path("h"))
    wh2.append("h", Seq((1L, "a")).toDF("id", "v").coalesce(1)) // adopts; adopted file gets stats too
    val h = wh2.statsMinMax("h", kv, "id")
    assert(h.min.contains(1L) && h.max.contains(100L))
    // all-null column → None, no read needed (null count is in the stats)
    val whn = newWh()
    whn.append("n", Seq((1L, Option.empty[Double])).toDF("id", "x").coalesce(1))
    val n = whn.statsMinMax("n", idVal, "x")
    assert(n.min.isEmpty && n.max.isEmpty && n.filesRead == 0)
    // STRING extremes from dictionary value sets: exact full values (never
    // the truncatable parquet bounds), UTF-8 order, metadata-only — needs a
    // low-cardinality column (all-unique strings make the writer fall back
    // from dictionary encoding and record no set: those files are READ)
    val whs = newWh()
    whs.append("sv", Seq((1L, "blue"), (2L, "red"), (3L, "blue")).toDF("id", "v").coalesce(1))
    whs.append("sv", Seq((4L, "green"), (5L, "red"), (6L, "green")).toDF("id", "v").coalesce(1))
    val sv = whs.statsMinMax("sv", kv, "v")
    assert(sv.min.contains("blue") && sv.max.contains("red"), s"got $sv")
    assert(sv.filesRead == 0 && sv.filesMetadata == 2, s"got $sv")
    // the banded fixture's v strings are all-unique → no value sets → the
    // hybrid read path answers, still exact
    val bv = wh.statsMinMax("t", kv, "v")
    assert(bv.min.contains("v0") && bv.max.contains("v9") && bv.filesRead == 3, s"got $bv")
    // a high-cardinality string column records no value set → that file is
    // READ (bounds are never trusted as values) and the answer stays exact
    val whc = newWh()
    whc.append("hc", (0 until 500).map(i => (i.toLong, f"val$i%04d")).toDF("id", "v").coalesce(1))
    val hv = whc.statsMinMax("hc", kv, "v")
    assert(hv.min.contains("val0000") && hv.max.contains("val0499") && hv.filesRead == 1,
      s"got $hv")
  }

  test("dictionary value sets: equality/IN pruning and metadata COUNT on unsorted strings") {
    val wh = newWh()
    // two files with interleaved ids (min/max useless) but disjoint statuses
    wh.append("st", Seq((1L, "O"), (3L, "F"), (5L, "O"), (7L, "F"))
      .toDF("id", "v").coalesce(1))
    wh.append("st", Seq((2L, "P"), (4L, "P"), (6L, "P")).toDF("id", "v").coalesce(1))
    val stats = wh.fileStats("st")
    assert(stats.values.forall(_.cols("v").vals.isDefined),
      s"expected dictionary value sets, got ${stats.values.map(_.cols("v"))}")
    assert(stats.values.map(_.cols("v").vals.get.toSet).toSet == Set(Set("O", "F"), Set("P")))
    // equality: only the P file survives; id bounds alone could not decide
    val (k1, s1) = wh.planFiles("st", Seq(graft.sources.ColEq("v", "P")))
    assert(k1.size == 1 && s1.size == 1)
    // IN-list against values present in neither file prunes both
    val (k2, s2) = wh.planFiles("st", Seq(graft.sources.ColIn("v", Seq("X", "Y"))))
    assert(k2.isEmpty && s2.size == 2)
    // scanWhere row results stay exact
    assert(wh.scanWhere("st", kv, Seq(graft.sources.ColIn("v", Seq("P", "O"))))
      .collect().map(_.getLong(0)).toSet == Set(1L, 2L, 4L, 5L, 6L))
    // the single-status file is FULLY included by the IN predicate — counted
    // from metadata, never read (value sets prove what bounds cannot)
    val c = wh.countWhere("st", kv, Seq(graft.sources.ColIn("v", Seq("P"))))
    assert(c == graft.sources.CountWhere(3L, 1, 0, 1), s"got $c")
  }

  test("value sets cap out on high-cardinality columns; bounds still prune") {
    val wh = newWh()
    wh.append("hc", (0 until 500).map(i => (i.toLong, f"val$i%04d")).toDF("id", "v").coalesce(1))
    val cs = wh.fileStats("hc").values.head.cols("v")
    assert(cs.vals.isEmpty, "a 500-value dictionary must not be recorded")
    assert(cs.min.contains("val0000") && cs.max.contains("val0499"))
    val (k, s) = wh.planFiles("hc", Seq(graft.sources.ColEq("v", "zzz")))
    assert(k.isEmpty && s.size == 1)
  }

  test("appendClustered writes tight-banded files; recluster restores skipping after interleaved appends") {
    val wh = newWh()
    // interleaved ingest: every append spans the full key range → every
    // file's bounds cover everything → a range scan keeps all files
    (0 until 4).foreach { b =>
      wh.append("il", (0 until 100).filter(_ % 4 == b)
        .map(i => (i.toLong, s"v$i")).toDF("id", "v").coalesce(1))
    }
    val preds = Seq(ColGe("id", 25L), ColLt("id", 50L))
    val (k0, s0) = wh.planFiles("il", preds)
    assert(k0.size == 4 && s0.isEmpty, "interleaved files must all be kept")
    val before = wh.read("il", kv).collect().map(r => (r.getLong(0), r.getString(1))).toSet
    wh.recluster("il", kv, Seq("id"), numFiles = 4)
    val after = wh.read("il", kv).collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(after == before, "recluster is a pure re-layout")
    val (k1, _) = wh.planFiles("il", preds)
    assert(k1.size <= 2, s"post-recluster a quarter-range scan must keep ≤2 of 4 files, kept $k1")
    assert(wh.scanWhere("il", kv, preds).count() == 25)
    // write-side: one clustered append gets the same tight layout directly
    val wh2 = newWh()
    wh2.appendClustered("cl", (0 until 100).map(i => (i.toLong, s"v$i"))
      .toDF("id", "v").orderBy(rand(7)), Seq("id"), numFiles = 4)
    val (k2, _) = wh2.planFiles("cl", preds)
    assert(k2.size <= 2, s"appendClustered must band the write, kept $k2")
    assert(wh2.scanWhere("cl", kv, preds).count() == 25)
  }

  test("mergeInto: upsert + delete clause, source-bounds file pruning, cardinality refusal") {
    val wh = newWh()
    banded(wh) // files [0,10) [10,20) [20,30)
    // source: update 12/15, delete 17 (via the matched-delete clause),
    // insert 100/101 — key bounds [12,101] touch bands 1-2 but never band 0
    val src = Seq((12L, "new12"), (15L, "new15"), (17L, "DEL"),
      (100L, "ins100"), (101L, "ins101")).toDF("id", "v")
    val headBefore = wh.versions().last
    val band0File = wh.fileStats("t").keySet
      .find(f => wh.fileStats("t")(f).cols("id").max.contains(9L)).get
    val r = wh.mergeInto("t", kv, src, Seq("id"),
      whenMatchedDelete = Some(col("s.v") === lit("DEL")))
    // exact key-set pruning: 12/15/17 all live in band 1, the insert keys
    // live in no file — ONE file rewritten (interval bounds would take 2)
    assert(r == graft.sources.MergeIntoResult(2L, 1L, 2L, 1, 2), s"got $r")
    val got = wh.read("t", kv).collect().map(x => (x.getLong(0), x.getString(1))).toMap
    assert(got.size == 31 && got(12L) == "new12" && got(15L) == "new15" &&
      !got.contains(17L) && got(100L) == "ins100" && got(5L) == "v5" && got(25L) == "v25")
    // the untouched band keeps its exact file; time travel sees the pre-merge rows
    assert(wh.fileStats("t").contains(band0File))
    assert(wh.readAt("t", kv, headBefore).count() == 30)
    // SQL MERGE cardinality rule: ambiguous source refuses
    intercept[IllegalArgumentException](wh.mergeInto("t", kv,
      Seq((1L, "a"), (1L, "b")).toDF("id", "v"), Seq("id")))
    // empty source: no-op, no commit
    val head = wh.versions().last
    val r0 = wh.mergeInto("t", kv,
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], kv),
      Seq("id"))
    assert(r0.updated == 0 && r0.inserted == 0 && wh.versions().last == head)
  }

  test("mergeInto: a source above the key-set cap falls back to interval bounds and stays exact") {
    val wh = newWh()
    // 4 bands of 1000 keys; source updates 1500 keys spanning bands 1-2 —
    // above the 1024 exact-key cap, so pruning uses [min,max] bounds
    (0 until 4).foreach { b =>
      wh.append("big", (b * 1000 until (b + 1) * 1000)
        .map(i => (i.toLong, s"v$i")).toDF("id", "v").coalesce(1))
    }
    val src = (1200 until 2700).map(i => (i.toLong, s"u$i")).toDF("id", "v")
    val r = wh.mergeInto("big", kv, src, Seq("id"))
    assert(r.updated == 1500L && r.inserted == 0L, s"got $r")
    assert(r.filesRewritten == 2 && r.filesUntouched == 2,
      s"interval [1200,2699] must touch exactly bands 1-2, got $r")
    val got = wh.read("big", kv)
    assert(got.count() == 4000)
    assert(got.filter(col("v").startsWith("u")).count() == 1500)
  }

  test("mergeInto: custom update expressions over t/s aliases; insertUnmatched=false") {
    val wh = newWh()
    banded(wh)
    val src = Seq((7L, "x"), (500L, "y")).toDF("id", "v")
    val r = wh.mergeInto("t", kv, src, Seq("id"),
      whenMatchedUpdate = Seq("v" -> concat(col("t.v"), lit("+"), col("s.v"))),
      insertUnmatched = false)
    assert(r.updated == 1L && r.inserted == 0L, s"got $r")
    val got = wh.read("t", kv).collect().map(x => (x.getLong(0), x.getString(1))).toMap
    assert(got(7L) == "v7+x" && !got.contains(500L) && got.size == 30)
  }

  test("mergeInto NOT MATCHED BY SOURCE: delete with sound pruning keeps clean bands") {
    val wh = newWh()
    banded(wh) // [0,10) [10,20) [20,30)
    // source touches band 1 only (ids 12/15); the NMBS delete condition
    // id >= 25 can only hit band 2 — candidates = band1 ∪ band2 (ColOr),
    // band 0 must stay byte-identical (its file survives the rewrite)
    val band0File = wh.fileStats("t").keySet
      .find(f => wh.fileStats("t")(f).cols("id").max.contains(9L)).get
    val src = Seq((12L, "new12"), (15L, "new15")).toDF("id", "v")
    val r = wh.mergeInto("t", kv, src, Seq("id"),
      notMatchedBySourceDelete = Some(col("t.id") >= 25),
      nmbsPrune = Seq(ColGe("id", 25L)))
    assert(r == graft.sources.MergeIntoResult(2L, 5L, 0L, 2, 1), s"got $r")
    val got = wh.read("t", kv).collect().map(x => (x.getLong(0), x.getString(1))).toMap
    assert(got.size == 25 && got(12L) == "new12" && got(15L) == "new15" &&
      !got.contains(27L) && got(24L) == "v24" && got(5L) == "v5")
    assert(wh.fileStats("t").contains(band0File),
      "the band the OR'd candidate set excluded must keep its exact file")
  }

  test("mergeInto NMBS: empty source still fires, update assigns, delete wins, CDC rows") {
    val wh = newWh()
    wh.setChangeFeed("t", on = true)
    banded(wh)
    val before = wh.versions().last
    // EMPTY source: every target row is not-matched-by-source. Delete wins
    // over update where both conditions hold (ids 0-2); ids 3-4 update.
    val empty = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], kv)
    val r = wh.mergeInto("t", kv, empty, Seq("id"),
      notMatchedBySourceUpdate = Seq("v" -> concat(lit("stale-"), col("t.v"))),
      nmbsUpdateWhen = Some(col("t.id") < 5),
      notMatchedBySourceDelete = Some(col("t.id") < 3),
      nmbsPrune = Seq(ColLt("id", 5L)))
    assert(r.updated == 2L && r.deleted == 3L && r.inserted == 0L, s"got $r")
    val got = wh.read("t", kv).collect().map(x => (x.getLong(0), x.getString(1))).toMap
    assert(got.size == 27 && !got.contains(0L) && got(3L) == "stale-v3" &&
      got(4L) == "stale-v4" && got(5L) == "v5")
    // the change feed records the NMBS rows like any other DML
    val feed = wh.changesBetween("t", kv, before, wh.versions().last)
      .groupBy(col("_change_type")).count()
      .collect().map(x => (x.getString(0), x.getLong(1))).toMap
    assert(feed == Map("delete" -> 3L, "update_preimage" -> 2L,
      "update_postimage" -> 2L), s"got $feed")
    // unknown NMBS assignment target refuses up front
    intercept[IllegalArgumentException](wh.mergeInto("t", kv, empty, Seq("id"),
      notMatchedBySourceUpdate = Seq("nope" -> lit("x"))))
  }

  test("mergeInto computed INSERT assignments land the assigned values") {
    val wh = newWh()
    banded(wh)
    val src = Seq((7L, "x"), (500L, "y")).toDF("id", "v")
    val r = wh.mergeInto("t", kv, src, Seq("id"),
      insertAssign = Seq("v" -> concat(lit("ins-"), upper(col("s.v")))))
    assert(r.updated == 1L && r.inserted == 1L, s"got $r")
    val got = wh.read("t", kv).collect().map(x => (x.getLong(0), x.getString(1))).toMap
    assert(got(500L) == "ins-Y" && got(7L) == "x", s"got ${(got.get(7L), got.get(500L))}")
  }

  test("mergeInto refuses key-column and unknown-column UPDATE assignments up front") {
    val wh = newWh()
    banded(wh)
    val src = Seq((7L, "x")).toDF("id", "v")
    val keyBoom = intercept[IllegalArgumentException](wh.mergeInto("t", kv, src, Seq("id"),
      whenMatchedUpdate = Seq("id" -> (col("s.id") + 1))))
    assert(keyBoom.getMessage.contains("immutable"))
    intercept[IllegalArgumentException](wh.mergeInto("t", kv, src, Seq("id"),
      whenMatchedUpdate = Seq("nope" -> lit("x"))))
    // nothing committed, table untouched
    assert(wh.read("t", kv).count() == 30)
  }

  test("ColOr: disjunctions prune files, count from metadata, and stay row-exact") {
    val wh = newWh()
    banded(wh) // [0,10) [10,20) [20,30)
    import graft.sources.ColOr
    // id < 5 OR id >= 25 — bands 0 and 2 kept, band 1 skipped
    val orPred = Seq(ColOr(Seq(Seq(ColLt("id", 5L)), Seq(ColGe("id", 25L)))))
    val (kept, skipped) = wh.planFiles("t", orPred)
    assert(kept.size == 2 && skipped.size == 1, s"got kept=$kept skipped=$skipped")
    val got = wh.scanWhere("t", kv, orPred).collect().map(_.getLong(0)).toSet
    assert(got == ((0L until 5L) ++ (25L until 30L)).toSet)
    // metadata COUNT: band 2 is FULLY covered by the id >= 20 disjunct,
    // band 0 straddles id < 5 (read), band 1 excluded
    val c = wh.countWhere("t", kv,
      Seq(ColOr(Seq(Seq(ColLt("id", 5L)), Seq(ColGe("id", 20L))))))
    assert(c.count == 15L && c.filesMetadata == 1 && c.filesRead == 1 && c.filesSkipped == 1,
      s"got $c")
    // disjuncts across DIFFERENT columns: id < 5 OR v = 'v27'
    val cross = Seq(ColOr(Seq(Seq(ColLt("id", 5L)), Seq(ColEq("v", "v27")))))
    val got2 = wh.scanWhere("t", kv, cross).collect().map(_.getLong(0)).toSet
    assert(got2 == (0L until 5L).toSet + 27L)
    // a conjunctive disjunct: (id >= 10 AND id < 12) OR id >= 28
    val conj = Seq(ColOr(Seq(Seq(ColGe("id", 10L), ColLt("id", 12L)), Seq(ColGe("id", 28L)))))
    val (k3, s3) = wh.planFiles("t", conj)
    assert(k3.size == 2 && s3.size == 1)
    assert(wh.scanWhere("t", kv, conj).count() == 4L)
    // OR flows through DML: delete the two edges, band 1 untouched
    val head = wh.versions().last
    val n = wh.deleteWhere("t", kv, orPred)
    assert(n == 10L && wh.read("t", kv).count() == 20L)
    assert(wh.readAt("t", kv, head).count() == 30L)
  }

  test("statsMinMax refuses decimal columns up front (no footer stats, no read-path fallback)") {
    val wh = newWh()
    val dec = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("d", org.apache.spark.sql.types.DecimalType(18, 2), nullable = true)))
    wh.append("dec", Seq((1L, BigDecimal("1.50")), (2L, BigDecimal("2.75")))
      .toDF("id", "d").select(col("id"), col("d").cast(dec("d").dataType)).coalesce(1))
    val boom = intercept[IllegalArgumentException](wh.statsMinMax("dec", dec, "d"))
    assert(boom.getMessage.contains("decimal"))
  }

  test("reclusterIncremental rewrites only the eroded tail, restores pruning, keeps every row") {
    val wh = newWh()
    // 4 clean 25-key bands...
    (0 until 4).foreach { b =>
      wh.append("big", (b * 25 until (b + 1) * 25).map(i => (i.toLong, s"v$i"))
        .toDF("id", "v").coalesce(1))
    }
    val bandFiles = wh.fileStats("big").keySet
    // ...eroded by 6 scattered appends that each span the whole key range
    (2 to 7).foreach { stride =>
      wh.append("big", (0 until 100 by stride).map(i => (i.toLong, s"x$stride-$i"))
        .toDF("id", "v").coalesce(1))
    }
    val rowsBefore = wh.read("big", kv).collect().map(r => (r.getLong(0), r.getString(1))).toSet
    val midBand = Seq(ColGe("id", 25L), ColLt("id", 50L))
    val (keptB, _) = wh.planFiles("big", midBand)
    assert(keptB.size == 7, s"pre-recluster a band scan opens band+all 6 intruders, got ${keptB.size}")
    // clean bands overlap exactly the 6 intruders (≤ maxOverlap); intruders
    // overlap 4 bands + 5 siblings (> maxOverlap) → tail = the 6 intruders
    val r = wh.reclusterIncremental("big", kv, Seq("id"), maxOverlap = 6, outFiles = 4)
    assert(r.filesRewritten == 6 && r.filesUntouched == 4, s"got $r")
    assert(r.bytesRewritten > 0)
    // the clean bands are untouched — same physical files
    assert(bandFiles.subsetOf(wh.fileStats("big").keySet))
    // every row survived, value-exact
    val rowsAfter = wh.read("big", kv).collect().map(r2 => (r2.getLong(0), r2.getString(1))).toSet
    assert(rowsAfter == rowsBefore)
    // pruning restored: the same band scan now opens strictly fewer files,
    // and scanWhere stays row-exact
    val (keptA, _) = wh.planFiles("big", midBand)
    assert(keptA.size < keptB.size, s"got ${keptA.size} vs ${keptB.size}")
    assert(wh.scanWhere("big", kv, midBand).count() ==
      rowsBefore.count { case (id, _) => id >= 25 && id < 50 })
    // declared layout recorded; a steady table reports an empty tail
    assert(wh.clusterBy("big").contains(Seq("id")))
    val r2 = wh.reclusterIncremental("big", kv, Seq("id"), maxOverlap = 6, outFiles = 4)
    assert(r2.filesRewritten == 0 && r2.bytesRewritten == 0L, s"got $r2")
  }

  test("compactSmall bin-packs only the small-file tail; big files never opened") {
    val wh = newWh()
    // 4 tiny files + 1 big one
    (0 until 4).foreach(b =>
      wh.append("bp", Seq(((100 + b).toLong, s"t$b")).toDF("id", "v").coalesce(1)))
    wh.append("bp", (0 until 3000).map(i => (i.toLong, s"v$i")).toDF("id", "v").coalesce(1))
    val sizes = wh.fileStats("bp").keySet.map(f =>
      f -> new java.io.File(wh.path("bp") + "/" + f).length).toMap
    val bigFile = sizes.maxBy(_._2)._1
    val cut = sizes(bigFile) // everything smaller than the big file merges
    val before = wh.read("bp", kv).collect().map(r => (r.getLong(0), r.getString(1))).toSet
    val r = wh.compactSmall("bp", kv, minBytes = cut)
    assert(r.filesRewritten == 4 && r.filesUntouched == 1, s"got $r")
    // merged into ONE output beside the untouched big file
    assert(wh.fileStats("bp").keySet.size == 2)
    assert(wh.fileStats("bp").keySet.contains(bigFile))
    assert(wh.read("bp", kv).collect().map(x => (x.getLong(0), x.getString(1))).toSet == before)
    // steady state: nothing small left (the merged file exceeds the cut or
    // stands alone) — and a single small file is never "merged with itself"
    val r2 = wh.compactSmall("bp", kv, minBytes = cut)
    assert(r2.filesRewritten == 0, s"got $r2")
  }

  test("partition-dir exit ramp: recluster migrates to band layout, then row-level DML works") {
    val wh = newWh()
    val part = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("v", StringType, nullable = true),
      StructField("p", LongType, nullable = false)))
    wh.appendPartitioned("pt",
      (0 until 30).map(i => (i.toLong, s"v$i", (i % 3).toLong)).toDF("id", "v", "p"),
      Seq("p"))
    // row-level DML refuses the partition-dir layout, naming the exit ramp
    val boom = intercept[IllegalArgumentException](
      wh.deleteWhere("pt", part, Seq(ColEq("id", 7L))))
    assert(boom.getMessage.contains("recluster"), s"got: ${boom.getMessage}")
    // the migration: one conflict-checked recluster into flat band files —
    // partition values become ordinary columns, bands carry footer stats
    wh.recluster("pt", part, Seq("id"), 3)
    assert(wh.fileStats("pt").keySet.forall(!_.contains("/")),
      "migrated layout must be flat")
    val rows = wh.read("pt", part).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    assert(rows == (0 until 30).map(i => (i.toLong, s"v$i", (i % 3).toLong)).toSet,
      "migration must preserve every row including partition values")
    // DML now works, stats-pruned to the covering band
    val n = wh.deleteWhere("pt", part, Seq(ColEq("id", 7L)))
    assert(n == 1L && wh.read("pt", part).count() == 29L)
    val dv = wh.deleteWhereDv("pt", part, Seq(graft.sources.ColIn("id", Seq(3L, 23L))))
    assert(dv.deleted == 2L && dv.filesRewritten == 0)
    assert(wh.read("pt", part).count() == 27L)
  }

  test("cluster metadata: declared by appendClustered/recluster, DML rewrites preserve the layout, survives vacuum") {
    val wh = newWh()
    wh.appendClustered("c", (0 until 200).map(i => (i.toLong, s"v$i"))
      .toDF("id", "v").orderBy(rand(3)), Seq("id"), numFiles = 8)
    assert(wh.clusterBy("c").contains(Seq("id")))
    // a delete spanning two bands: the rewrite must come back banded, so a
    // later range scan still prunes
    assert(wh.deleteWhere("c", kv, Seq(ColGe("id", 40L), ColLt("id", 60L))) == 20L)
    val (kept, skipped) = wh.planFiles("c", Seq(ColGe("id", 150L)))
    assert(skipped.size >= 4,
      s"post-delete the low bands must still prune (kept=${kept.size}, skipped=${skipped.size})")
    assert(wh.read("c", kv).count() == 180)
    // metadata survives the snapshot fold
    wh.vacuum(olderThanMs = 0L)
    assert(wh.clusterBy("c").contains(Seq("id")))
    // mergeInto consults it too: after merging scattered updates, pruning still works
    val src = (0 until 200 by 13).map(i => (i.toLong, s"m$i")).toDF("id", "v")
    wh.mergeInto("c", kv, src, Seq("id"))
    val (k2, s2) = wh.planFiles("c", Seq(ColLt("id", 25L)))
    assert(s2.nonEmpty, s"post-merge the high bands must still prune (kept=${k2.size})")
    // redeclaring the same columns publishes nothing
    val head = wh.versions().last
    wh.setClusterBy("c", Seq("id"))
    assert(wh.versions().last == head)
  }

  test("describe: metadata-only table detail — exact rows under full stats coverage, -1 otherwise") {
    val wh = newWh()
    banded(wh)
    wh.recluster("t", kv, Seq("id"), 3)
    val d = wh.describe("t")
    assert(d.files == 3 && d.rows == 30L && d.filesWithStats == 3 &&
      d.clusterCols == Seq("id") && d.schemaWidth == 2 && d.bytes > 0, s"got $d")
    // a statless legacy file degrades rows to -1, never to a guess
    val root = java.nio.file.Files.createTempDirectory("graft-desc-").toString
    val wh2 = new AtomicWarehouse(spark, root)
    Seq((1L, "a")).toDF("id", "v").coalesce(1).write.mode("append").parquet(wh2.path("h"))
    wh2.append("h", Seq((2L, "b")).toDF("id", "v").coalesce(1)) // adoption stats cover both
    val d2 = wh2.describe("h")
    assert(d2.files == 2 && d2.rows == 2L, s"got $d2")
  }

  test("FilePred row filters and stats comparison agree on string UTF-8 order") {
    val wh = newWh()
    // "Z" (0x5A) < "a" (0x61) in UTF-8; a naive case-insensitive or locale
    // comparison would disagree with Spark's binary string ordering
    wh.append("s", Seq((1L, "Apple"), (2L, "Zebra")).toDF("id", "v").coalesce(1))
    wh.append("s", Seq((3L, "apple"), (4L, "zebra")).toDF("id", "v").coalesce(1))
    val preds = Seq(ColGe("v", "a"))
    val (kept, skipped) = wh.planFiles("s", preds)
    assert(kept.size == 1 && skipped.size == 1)
    assert(wh.scanWhere("s", kv, preds).collect().map(_.getLong(0)).toSet == Set(3L, 4L))
  }
}
