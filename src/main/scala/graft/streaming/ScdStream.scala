package graft.streaming

import graft.operators.ScdDimension
import graft.sources.{ReplayGuard, Warehouse}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType

/** Streaming SCD2 dimension maintenance — the continuous-ingest loop for
  * [[graft.operators.ScdDimension]], completing the batch / incremental /
  * streaming triple the dedup, IVF and FTS indexes already have: dimension
  * update batches arrive as parquet files, each micro-batch folds into the
  * persisted `dim/<name>/History` table as one SCD2 upsert at the next
  * batch sequence, and history survives across batches as a warehouse
  * table. At 100 TB dimension churn this is "apply the day's updates", not
  * "rebuild the dimension".
  *
  * ==Replay idempotency==
  * The history replace and the batch id, staged as the `txn` high-water of
  * the history table ([[graft.sources.ReplayGuard]]), publish in the SAME
  * manifest commit (the [[IvfStream]] arrangement): a checkpoint retry of a
  * committed micro-batch finds its id covered and no-ops. SCD2 has a
  * second, semantic safety net the other indexes lack: a replay that
  * somehow re-applied an identical batch would change nothing anyway
  * (identical attributes are the upsert's no-op case) — but it would burn a
  * sequence number and rewrite the history files, so the guard still
  * carries the contract.
  *
  * ==Ordering contract==
  * SCD2 is order-SENSITIVE: batches must arrive in dimension-update order.
  * [[start]] pins `maxFilesPerTrigger = 1`, so the file source delivers one
  * file per micro-batch in its discovery order (modification time) — write
  * update files sequentially, as every stream fixture here does. This is
  * the same contract SQL MERGE-based SCD loaders carry; an out-of-order
  * feed needs an upstream sequencer, not a smarter fold.
  */
class ScdStream(wh: Warehouse, name: String, keyCols: Seq[String],
    attrCols: Seq[String], baseSchema: StructType) {

  val dim = new ScdDimension(wh, name, keyCols, attrCols, baseSchema)
  private val guard =
    new ReplayGuard(wh, dim.historyTable, "scd-stream", legacyDir = Some(s"dim/$name"))

  // Single-writer CURSOR state: the stream is the dimension's only writer
  // (class doc — the same assumption every index stream here makes), so
  // the next sequence is derived from the history ONCE per stream instance
  // and then advances in memory — re-deriving max(valid_from) per
  // micro-batch was a driver job at the floor (BASELINE.md r17). The
  // cursor stays exactly the DERIVED value: it advances only when the
  // batch actually OPENED version rows ([[graft.operators.ScdDimension
  // .upsertIn]] reports that as an observed metric riding the history
  // write), so an all-unchanged batch still consumes no sequence. A
  // restart re-derives it; the atomic commit leaves either the whole batch
  // or nothing, so the re-derived state can never be desynced.
  @volatile private var cursor: Long = -1L

  /** True when `batchId` was already applied (a checkpoint replay). */
  def ingested(batchId: Long): Boolean = guard.covers(batchId)

  def processBatch(batch: DataFrame, batchId: Long): Unit = {
    if (ingested(batchId)) return
    if (cursor < 0) cursor = dim.nextSeq()
    val seq = cursor
    // ONE admission aggregate answers both gates — an empty micro-batch
    // (file-source bookkeeping) must not burn a sequence or rewrite
    // identical history files, and a duplicate key would corrupt the fold
    // (the scd2Upsert contract) — where isEmpty + the upsert's own dup
    // probe cost two driver jobs per batch
    val (rows, maxDup) = graft.operators.Scd.batchStats(batch, keyCols)
    require(maxDup <= 1L,
      s"scd2 stream batch $batchId has duplicate keys on " +
        s"(${keyCols.mkString(", ")}) — one row per key per batch " +
        "(the SQL MERGE source contract)")
    var opened = 0L
    wh.atomically { w =>
      if (rows > 0) opened = dim.upsertPrevalidatedIn(w, batch, seq)
      guard.mark(w, batchId)
    }
    // only a committed batch advances the cursor: a retry of a failed
    // commit re-runs the whole fold, exactly as before
    if (opened > 0L) cursor = seq + 1L
  }

  /** Watch `dir` for parquet dimension-update files (key + attr columns);
    * one file per micro-batch IN ORDER (class doc). The dimension needs no
    * prior build — the first batch is genesis.
    */
  def start(dir: String, checkpoint: String,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    wh.spark.readStream
      .schema(baseSchema)
      .option("maxFilesPerTrigger", "1")
      .parquet(dir)
      .writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) => processBatch(batch, batchId) }
      .start()
}
