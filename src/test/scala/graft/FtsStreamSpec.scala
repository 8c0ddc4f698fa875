package graft

import java.nio.file.{Files, Paths, StandardCopyOption}

import graft.operators.PersistedPostings
import graft.sources.AtomicWarehouse
import graft.streaming.FtsStream
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** The streaming FTS loop's contracts: micro-batch ingest builds the SAME
  * index as batch ingest (postings and stat sums are exact under union),
  * and checkpoint replays are ledgered no-ops. The `doc_bm25_stream` driver
  * oracle restates the equivalence end-to-end in SQL; these cases pin the
  * mechanisms directly.
  */
class FtsStreamSpec extends SparkSpec {
  import spark.implicits._

  private def docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    .select($"doc_id".cast("long").as("doc_id"), $"text")

  private def queries = Seq(
    (1L, "merge join order sort"), (2L, "vector window stream")).toDF("q_id", "qtext")

  private def writeChunks(inDir: String, parts: Seq[DataFrame]): Unit =
    parts.zipWithIndex.foreach { case (p, i) =>
      val tmp = Files.createTempDirectory(s"graft-ftss-c$i-").toString + "/out"
      p.coalesce(1).write.parquet(tmp)
      val part = graft.LocalFs.onlyParquet(tmp)
      Files.move(part, Paths.get(inDir, f"chunk_$i%02d.parquet"), StandardCopyOption.ATOMIC_MOVE)
    }

  private def postingsSet(fts: PersistedPostings): Set[(String, Long, Long, Long, Seq[Int])] =
    fts.postings().collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getSeq[Int](4))).toSet

  private def rows(df: DataFrame): Set[(Long, Int, Long, Double)] =
    df.collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSet

  private def streamed(): (FtsStream, Long => DataFrame) = {
    val inDir = Files.createTempDirectory("graft-ftss-in-").toString
    val ckpt = Files.createTempDirectory("graft-ftss-ck-").toString
    val whDir = Files.createTempDirectory("graft-ftss-wh-").toString
    writeChunks(inDir, (0 until 2).map(i => docs.filter(pmod($"doc_id", lit(2)) === i)))
    val st = new FtsStream(new AtomicWarehouse(spark, whDir))
    st.fts.build(docs.limit(0), "doc_id", "text") // empty genesis
    val q = st.start(inDir, ckpt, Trigger.AvailableNow())
    assert(q.awaitTermination(300000), "stream failed to drain within 300 s")
    (st, i => docs.filter(pmod($"doc_id", lit(2)) === i))
  }

  test("stream-ingested index is bit-identical to batch build+addDocs") {
    val (st, _) = streamed()
    val whDir = Files.createTempDirectory("graft-ftsb-wh-").toString
    val batch = new PersistedPostings(new AtomicWarehouse(spark, whDir))
    batch.build(docs.filter(pmod($"doc_id", lit(2)) === 0), "doc_id", "text")
    batch.addDocs(docs.filter(pmod($"doc_id", lit(2)) === 1), "doc_id", "text")
    assert(postingsSet(st.fts) == postingsSet(batch))
    assert(rows(st.fts.query(queries, "q_id", "qtext", 10)) ==
      rows(batch.query(queries, "q_id", "qtext", 10)),
      "streamed vs batch BM25 ranking diverged")
  }

  test("checkpoint replay of a committed batch is a ledgered no-op") {
    val (st, chunk) = streamed()
    assert(st.fts.ingested(0L) && st.fts.ingested(1L))
    val before = postingsSet(st.fts)
    val want = rows(st.fts.query(queries, "q_id", "qtext", 10))
    st.processBatch(chunk(0), batchId = 0L) // what a checkpoint retry delivers
    assert(postingsSet(st.fts) == before, "replay double-counted documents")
    assert(rows(st.fts.query(queries, "q_id", "qtext", 10)) == want,
      "replay moved the ranking (tf/df/N inflated)")
  }

  test("a legacy ingest ledger is adopted: its last batch's replay no-ops, the next commit retires it") {
    def chunk(i: Int) = docs.filter(pmod($"doc_id", lit(2)) === i)
    val wh = new AtomicWarehouse(spark, Files.createTempDirectory("graft-ftss-legacy-").toString)
    // batch 0 admitted the way an older build did: postings and stats plus
    // a row in its parquet `(batch_id)` ingest ledger
    val old = new PersistedPostings(wh)
    old.build(docs.limit(0), "doc_id", "text")
    old.addDocs(chunk(0), "doc_id", "text")
    wh.append("fts/IngestLedger", Seq(0L).toDF("batch_id"))

    val st = new FtsStream(wh) // the restarted stream
    val before = postingsSet(st.fts)
    val head = wh.versions().last
    st.processBatch(chunk(0), batchId = 0L) // the checkpoint's replay of batch 0
    assert(postingsSet(st.fts) == before && wh.versions().last == head,
      "the replay of a legacy-ledgered batch was admitted again")
    st.processBatch(chunk(1), batchId = 1L)
    assert(!wh.exists("fts/IngestLedger"), "the first new commit must retire the legacy ledger")
    assert(st.fts.ingested(0L) && st.fts.ingested(1L))

    val batch = new PersistedPostings(new AtomicWarehouse(spark,
      Files.createTempDirectory("graft-ftsb-legacy-").toString))
    batch.build(chunk(0), "doc_id", "text")
    batch.addDocs(chunk(1), "doc_id", "text")
    val want = rows(batch.query(queries, "q_id", "qtext", 10))
    assert(postingsSet(st.fts) == postingsSet(batch) &&
      rows(st.fts.query(queries, "q_id", "qtext", 10)) == want)
    // a log fold keeps every answer, and the ledger stays gone
    wh.vacuum(0L)
    val resumed = new FtsStream(wh)
    assert(resumed.fts.ingested(1L) && !wh.exists("fts/IngestLedger"))
    assert(rows(resumed.fts.query(queries, "q_id", "qtext", 10)) == want)
  }
}
