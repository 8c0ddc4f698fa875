package graft.streaming

import graft.operators.PersistedPostings
import graft.sources.AtomicWarehouse
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

/** Streaming full-text-index maintenance — the continuous-ingest loop for
  * [[graft.operators.PersistedPostings]], completing the same
  * batch/incremental/streaming triple the dedup indexes and the IVF index
  * already have: documents arrive as parquet files, each micro-batch is
  * tokenized alone (batch-sized work — the existing postings are untouched)
  * and appended to the term-sorted postings table with its per-batch stats
  * row, and the index survives across batches as warehouse tables. At
  * 100 TB this is the difference between "re-tokenize the corpus per query
  * session" and "tokenize the day's arrivals".
  *
  * ==Replay idempotency==
  * The admit goes through [[PersistedPostings.addDocsLedgered]]: the batch
  * id lands as the postings table's `txn` high-water
  * ([[graft.sources.ReplayGuard]]) in the SAME commit as the postings +
  * stats appends, so a checkpoint retry of a committed batch no-ops.
  * Without it, a replay double-counts every document — tf/df/N all inflate
  * and every later [[PersistedPostings.query]] mis-scores. The section
  * commits as one manifest, so admission is exactly-once; FtsStreamSpec
  * proves replay-noop and stream-ingest ≡ batch-ingest bit-identically.
  *
  * The index must exist before the stream starts ([[PersistedPostings
  * .build]] — on the genesis corpus or an empty frame), the
  * [[IvfStream]] contract: admits need the stats table to sequence against.
  */
class FtsStream(wh: AtomicWarehouse, idCol: String = "doc_id",
    textCol: String = "text") {

  val fts = new PersistedPostings(wh)

  def docSchema: StructType = StructType(Seq(
    StructField(idCol, LongType, nullable = false),
    StructField(textCol, StringType, nullable = true)))

  def processBatch(batch: DataFrame, batchId: Long): Unit =
    fts.addDocsLedgered(batch, idCol, textCol, batchId)

  /** Watch `dir` for parquet document files (idCol, textCol); see
    * [[DedupStream.start]] for trigger/batch-size tradeoffs.
    */
  def start(dir: String, checkpoint: String,
      trigger: Trigger = Trigger.AvailableNow(),
      maxFilesPerTrigger: Int = 1): StreamingQuery =
    wh.spark.readStream
      .schema(docSchema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger.toString)
      .parquet(dir)
      .writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) => processBatch(batch, batchId) }
      .start()
}
