package graft

import java.nio.file.Files

import graft.sources.{AtomicWarehouse, Warehouse}
import graft.tools.Maintain
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

/** The ops maintenance pass: compact every table to one file, fold the
  * transactional log, collect superseded data files — visible state
  * unchanged throughout.
  */
class MaintainSpec extends SparkSpec {
  import spark.implicits._

  private val kv = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("v", StringType, nullable = true)))

  private def rows(wh: Warehouse, t: String): Set[(Long, String)] =
    wh.read(t, kv).collect().map(r => (r.getLong(0), r.getString(1))).toSet

  private def parquetFiles(dir: String): Seq[String] = {
    val s = Files.walk(java.nio.file.Paths.get(dir))
    try s.filter(_.toString.endsWith(".parquet")).map[String](_.toString)
      .toArray.toSeq.map(_.toString)
    finally s.close()
  }

  test("maintain on an atomic warehouse: compacts, folds the log, keeps state") {
    val dir = Files.createTempDirectory("graft-maint-").toString
    val wh = new AtomicWarehouse(spark, dir)
    (1 to 6).foreach(i => wh.append("dedup/idx", Seq((i.toLong, s"v$i")).toDF("id", "v")))
    (1 to 6).foreach(i => wh.append("docs", Seq((i.toLong, s"d$i")).toDF("id", "v")))
    val idxBefore = rows(wh, "dedup/idx")
    val docsBefore = rows(wh, "docs")
    assert(parquetFiles(s"$dir/docs").size >= 6)

    // table discovery must find exactly the two tables and no infrastructure
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(Maintain.discoverTables(fs, dir) == Seq("dedup/idx", "docs"))

    Thread.sleep(50) // mtimes are ms-granular; age everything past the cutoff
    Maintain.run(spark, dir, Seq("dedup/idx:id", "docs"), graceMs = 1)

    assert(rows(wh, "dedup/idx") == idxBefore, "maintenance must not change state")
    assert(rows(wh, "docs") == docsBefore)
    assert(parquetFiles(s"$dir/docs").size == 1,
      s"expected 1 data file after compact+vacuum, got ${parquetFiles(s"$dir/docs")}")
    assert(parquetFiles(s"$dir/dedup").size == 1)
    def logFiles = Files.list(java.nio.file.Paths.get(dir, "_txlog"))
      .filter(p => p.getFileName.toString.matches("v\\d{8}(\\.snap)?\\.tsv"))
      .map[String](_.getFileName.toString).toArray.toSeq.map(_.toString).sorted
    // Maintain folded the log: its newest manifest is the snapshot
    assert(logFiles.last.endsWith(".snap.tsv"), s"expected the log folded, found $logFiles")
    // the manifest GC keeps a subsumed manifest younger than the grace, and
    // Maintain's own compaction manifests can land within 1 ms of its
    // vacuum: age them past the grace, and the next vacuum collects them
    Thread.sleep(50)
    wh.vacuum(olderThanMs = 1)
    assert(logFiles.size == 1 && logFiles.head.endsWith(".snap.tsv"),
      s"expected the log folded to one snapshot, found $logFiles")
    assert(rows(wh, "dedup/idx") == idxBefore && rows(wh, "docs") == docsBefore)
  }

  test("maintain zorder spec: both dimensions prune row groups, state unchanged") {
    val dir = Files.createTempDirectory("graft-maint-z-").toString
    val wh = new AtomicWarehouse(spark, dir)
    val n = 60000L
    // every user spread across the whole time range: a 1-D (time) sort would
    // leave user predicates reading every row group
    wh.append("ev", spark.range(n).selectExpr("id AS event_id",
      "id % 128 AS user_id", "1704067200 + CAST(id / 128 AS BIGINT) * 60 AS secs"))
    val schema = wh.inferSchema("ev").get
    val before = wh.read("ev", schema).collect().map(_.getLong(0)).sorted.toSeq
    // tiny row groups so a 60k-row table has many (same trick as ZOrderProbe)
    val hc = spark.sparkContext.hadoopConfiguration
    val oldBlock = Option(hc.get("parquet.block.size"))
    val oldPage = Option(hc.get("parquet.page.size"))
    hc.set("parquet.block.size", "32768"); hc.set("parquet.page.size", "8192")
    try Maintain.run(spark, dir, Seq("ev:zorder=user_id,secs:11"), graceMs = 60000)
    finally {
      oldBlock.fold(hc.unset("parquet.block.size"))(hc.set("parquet.block.size", _))
      oldPage.fold(hc.unset("parquet.page.size"))(hc.set("parquet.page.size", _))
    }
    val after = wh.read("ev", schema)
    assert(after.collect().map(_.getLong(0)).sorted.toSeq == before,
      "z-order re-layout changed the table's rows")
    // row-group pruning on BOTH dimensions, measured like ZOrderProbe: task
    // input records across a count — surviving row groups' rows get read,
    // pruned groups don't
    val recs = new java.util.concurrent.atomic.AtomicLong()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(t: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        recs.addAndGet(t.taskMetrics.inputMetrics.recordsRead)
    }
    spark.sparkContext.addSparkListener(listener)
    def measured(f: => Long): (Long, Long) = {
      f // warm: codegen + page cache, and lets stragglers' events land
      Thread.sleep(300); recs.set(0)
      val rows = f
      Thread.sleep(500) // listener events are async; let them drain
      (rows, recs.get())
    }
    try {
      val (allRows, allRead) = measured(after.count())
      val (uRows, uRead) = measured(after.filter($"user_id" === 7).count())
      val (tRows, tRead) = measured(after.filter($"secs" < 1704067200L + 3600L).count())
      assert(allRows == n && uRows > 0 && tRows > 0)
      assert(uRead < allRead / 2,
        s"user-slice read $uRead of $allRead records — user dimension not pruning")
      assert(tRead < allRead / 2,
        s"time-slice read $tRead of $allRead records — time dimension not pruning")
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("zorder maintenance racing cross-process appends loses nothing") {
    // the ops-day shape for the re-layout pass: Maintain runs
    // t:zorder=... repeatedly while a "second JVM" (raw cross-process
    // publish seam, no shared lock) lands appends. The conflict-checked
    // rewrite must abort-and-retry rather than truncate an unseen append —
    // same CAS contract as plain compaction, now carrying a transform.
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration.Duration
    val dir = Files.createTempDirectory("graft-maint-zrace-").toString
    val wh = new AtomicWarehouse(spark, dir)
    wh.append("ev", spark.range(100).selectExpr(
      "id AS event_id", "id % 8 AS user_id", "1704067200 + id AS secs"))
    val racer = new AtomicWarehouse(spark, dir)
    val n = 10
    val appender = Future {
      var v = 1
      (1 to n).foreach { i =>
        val stage = java.nio.file.Paths.get(dir, ".racer", i.toString)
        spark.range(1).selectExpr(s"${1000L + i} AS event_id",
            s"${i % 8} AS user_id", s"${1704067400L + i} AS secs")
          .coalesce(1).write.mode("overwrite").parquet(stage.toString)
        val part = Files.list(stage).filter(_.toString.endsWith(".parquet")).findFirst.get
        val name = s"racer-$i.parquet"
        Files.move(part, java.nio.file.Paths.get(dir, "ev", name))
        while (!racer.publishAtCrossProcess(Seq(s"add\tev\t$name"), v)) v += 1
      }
    }
    while (!appender.isCompleted)
      Maintain.run(spark, dir, Seq("ev:zorder=user_id,secs:8"), graceMs = 60000)
    Await.result(appender, Duration(5, "min"))
    Maintain.run(spark, dir, Seq("ev:zorder=user_id,secs:8"), graceMs = 60000)
    val schema = wh.inferSchema("ev").get
    val ids = wh.read("ev", schema).collect().map(_.getLong(0)).sorted.toSeq
    val want = (0L until 100L) ++ (1 to n).map(1000L + _)
    assert(ids == want.sorted, s"zorder maintenance lost/duplicated rows: ${ids.size} vs ${want.size}")
  }

  test("postings maintenance racing live FtsStream admits keeps the ranking exact") {
    // the ops-day shape for the retrieval index: `fts/Postings:t` re-sorted
    // compaction loops while the stream admits batches through the ledgered
    // transactional path. A lost race must abort the rewrite, never a batch;
    // the detector is the strongest available — BM25 over the maintained
    // index must equal inline BM25 over everything ingested.
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration.Duration
    import org.apache.spark.sql.functions.{lit, pmod}
    val dir = Files.createTempDirectory("graft-maint-fts-").toString
    val wh = new AtomicWarehouse(spark, dir)
    val st = new graft.streaming.FtsStream(wh)
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select($"doc_id".cast("long").as("doc_id"), $"text")
    st.fts.build(docs.limit(0), "doc_id", "text")
    val n = 8
    val admitter = Future {
      (0 until n).foreach { i =>
        st.processBatch(docs.filter(pmod($"doc_id", lit(n)) === i), i.toLong)
      }
    }
    while (!admitter.isCompleted)
      Maintain.run(spark, dir, Seq("fts/Postings:t"), graceMs = 60000)
    Await.result(admitter, Duration(5, "min"))
    Maintain.run(spark, dir, Seq("fts/Postings:t"), graceMs = 60000)
    val queries = Seq((1L, "merge join order sort"), (2L, "vector window stream"))
      .toDF("q_id", "qtext")
    def r(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(x => (x.getLong(0), x.getInt(1), x.getLong(2), x.getDouble(3))).toSet
    assert(r(st.fts.query(queries, "q_id", "qtext", 10)) ==
      r(graft.operators.Retrieval.bm25(docs, "doc_id", "text",
        queries, "q_id", "qtext", 10)),
      "maintenance lost or duplicated an admitted batch")
    assert(wh.visibleFileCount("fts/Postings") <= 2,
      "final compaction left the postings fragmented")
  }

  test("maintain cluster spec: interleaved table re-banded, skipping restored, state unchanged") {
    import graft.sources.{ColGe, ColLt}
    val root = Files.createTempDirectory("graft-mt-cl-").toString
    val wh = new AtomicWarehouse(spark, root)
    (0 until 4).foreach { b =>
      wh.append("t", (0 until 80).filter(_ % 4 == b)
        .map(i => (i.toLong, s"v$i")).toDF("id", "v").coalesce(1))
    }
    val before = rows(wh, "t")
    val preds = Seq(ColGe("id", 20L), ColLt("id", 40L))
    assert(wh.planFiles("t", preds)._1.size == 4) // interleaved: nothing prunes
    Maintain.run(spark, root, Seq("t:cluster=id:4"), graceMs = 0L)
    assert(rows(wh, "t") == before, "recluster maintenance must not change state")
    assert(wh.planFiles("t", preds)._1.size <= 2,
      "post-recluster the quarter-range scan must prune")
    // bad specs refuse uniformly
    intercept[IllegalArgumentException](
      Maintain.run(spark, root, Seq("t:cluster=id:x4"), graceMs = 0L))
  }

  test("maintain discovery honors declared clustering: no flattening of banded tables") {
    import graft.sources.{ColGe, ColLt}
    val root = Files.createTempDirectory("graft-mt-dc-").toString
    val wh = new AtomicWarehouse(spark, root)
    wh.appendClustered("t", (0 until 100).map(i => (i.toLong, s"v$i")).toDF("id", "v"),
      Seq("id"), numFiles = 4)
    // small-file churn on top: three interleaved appends
    (0 until 3).foreach(b => wh.append("t",
      Seq(((100 + b).toLong, s"x$b")).toDF("id", "v").coalesce(1)))
    val before = rows(wh, "t")
    Maintain.run(spark, root, Seq.empty, graceMs = 0L) // DISCOVERY mode
    assert(rows(wh, "t") == before)
    assert(wh.clusterBy("t").contains(Seq("id")), "declaration must survive maintenance")
    // the pass must have RE-BANDED, not flattened: a quarter-range scan prunes
    val (kept, skipped) = wh.planFiles("t", Seq(ColGe("id", 10L), ColLt("id", 20L)))
    assert(skipped.nonEmpty,
      s"discovery maintenance flattened a declared-cluster table (kept=${kept.size})")
  }

  test("maintain on a raw-laid root: discovery compacts, keeps every row, adopts the root") {
    // plain parquet directories, no manifest log: the layout a directory
    // writer leaves behind
    val dir = Files.createTempDirectory("graft-maint-raw-").toString
    (1 to 5).foreach(i => Seq((i.toLong, s"v$i")).toDF("id", "v")
      .write.mode("append").parquet(s"$dir/t"))
    assert(parquetFiles(s"$dir/t").size == 5)
    val wh = new AtomicWarehouse(spark, dir)
    assert(rows(wh, "t") == (1 to 5).map(i => (i.toLong, s"v$i")).toSet)
    Thread.sleep(50) // mtimes are ms-granular; age the raw files past the cutoff
    Maintain.run(spark, dir, Nil, graceMs = 1) // no table specs: discover
    assert(rows(wh, "t") == (1 to 5).map(i => (i.toLong, s"v$i")).toSet)
    assert(wh.visibleFileCount("t") == 1)
    assert(parquetFiles(s"$dir/t").size == 1, "vacuum collects the superseded raw files")
    assert(Files.isDirectory(java.nio.file.Paths.get(dir, "_txlog")))
  }
}
