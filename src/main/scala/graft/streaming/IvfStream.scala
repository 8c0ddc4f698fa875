package graft.streaming

import graft.operators.PersistedIvf
import graft.sources.AtomicWarehouse
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.{ArrayType, FloatType, LongType, StructField, StructType}

/** Streaming ANN-index maintenance — the continuous-ingest loop for
  * [[graft.operators.PersistedIvf]], the same shape as the dedup streams
  * ([[DedupStream]], [[ExactDedupStream]]): embeddings arrive as parquet
  * files, each micro-batch is assigned against the PERSISTED centroids
  * (batch-sized work — per-row argmax, no retrain, no touch of the existing
  * corpus) and appended to the cell-sorted assignment table, and the
  * expensive structure survives across batches as warehouse tables. At
  * 100 TB this is the difference between "k-means the corpus per query
  * session" and "assign the day's arrivals".
  *
  * ==Replay idempotency==
  * `foreachBatch` delivers each micro-batch with its checkpoint batch id;
  * the admit goes through [[PersistedIvf.addVectorsLedgered]], which stages
  * the batch id as the assignment table's `txn` high-water
  * ([[graft.sources.ReplayGuard]]) in the SAME commit as the assignment
  * append. A checkpoint retry of a committed batch no-ops — without the
  * guard, replays would duplicate assignment rows, and duplicated
  * candidates surface as duplicated ranks in every later
  * [[PersistedIvf.topK]]. The section commits as one manifest, so admission
  * is exactly-once; IvfStreamSpec proves replay-noop and stream-ingest ≡
  * batch-ingest bit-identically.
  *
  * ==Drift-triggered retrain==
  * With `retrainNumCells > 0`, after each admit the stream consults the
  * drift ledger ([[PersistedIvf.drifted]]: fresh batches landing measurably
  * farther from their centroids than the training data did) and retrains
  * from the persisted corpus when it fires. The retrain REPLACES
  * centroids/assignments/stats, and a replace keeps the high-water, so
  * replays of pre-retrain batches still no-op. Advisory by design: a crash
  * between a committed admit and its retrain just defers the retrain to the
  * next batch whose drift check fires (the statistic is monotone in the
  * same stale-centroid condition, not a one-shot edge).
  */
class IvfStream(wh: AtomicWarehouse, idCol: String = "vec_id",
    vecCol: String = "embedding", retrainNumCells: Int = 0,
    retrainIterations: Int = 3, driftMargin: Double = 0.05) {

  val ivf = new PersistedIvf(wh)

  def vecSchema: StructType = StructType(Seq(
    StructField(idCol, LongType, nullable = false),
    StructField(vecCol, ArrayType(FloatType), nullable = true)))

  def processBatch(batch: DataFrame, batchId: Long): Unit = {
    ivf.addVectorsLedgered(batch, idCol, vecCol, batchId)
    if (retrainNumCells > 0 && ivf.drifted(driftMargin))
      ivf.retrain(retrainNumCells, retrainIterations)
  }

  /** Watch `dir` for parquet embedding files (idCol, vecCol); see
    * [[DedupStream.start]] for trigger/batch-size tradeoffs. The index must
    * be [[PersistedIvf.build]]/[[PersistedIvf.buildWith]]-built first —
    * assignment needs centroids to assign against.
    */
  def start(dir: String, checkpoint: String,
      trigger: Trigger = Trigger.AvailableNow(),
      maxFilesPerTrigger: Int = 1): StreamingQuery =
    wh.spark.readStream
      .schema(vecSchema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger.toString)
      .parquet(dir)
      .writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) => processBatch(batch, batchId) }
      .start()
}
