package graft.streaming

import graft.sources.{AtomicWarehouse, ColEq, ColLt, ReplayGuard}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions.{coalesce, col, lit, not, row_number}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.{BooleanType, LongType, StringType, StructField, StructType}

/** Streaming CDC APPLY — the Debezium-shaped "apply changes into a table"
  * loop, built on [[AtomicWarehouse.mergeInto]]: change rows (the target's
  * columns plus an op column, `"u"` upsert / `"d"` delete, and a per-key
  * sequence column) arrive as parquet files; each micro-batch collapses to
  * its LAST change per key and applies as ONE merge. The merge's source-key
  * file pruning confines each batch's rewrite to the band files its keys
  * touch, so a day's changes against a 100 TB table rewrite the touched
  * files, not the table.
  *
  * ==Order insensitivity (sequence-guarded apply)==
  * The stored table carries the change metadata alongside the data: every
  * row remembers the sequence of the change that produced it (`seqCol`) and
  * deletes are retained as TOMBSTONE rows (`deletedCol = true`) rather than
  * physically removed — the Delta `APPLY CHANGES` design. The merge's
  * matched clause is gated on `s._seq >= t._seq`, so a stale change (an
  * earlier batch arriving late, a shuffled file listing, a replay) matched
  * against a newer row passes through as a no-op, and a change for a key
  * whose delete already applied lands on the tombstone and loses to its
  * higher sequence. Applying any permutation of the batches — or applying a
  * batch twice — converges to the same state: per key, the surviving row is
  * the change with the highest sequence. The feed's contract is the
  * standard CDC one: sequences are monotone per key (commit LSN, binlog
  * position); two DIFFERENT changes sharing one key and sequence are a feed
  * bug and resolve arbitrarily (`>=` keeps replays idempotent).
  *
  * [[currentState]] is the consumer surface: live rows only, base columns
  * only. Tombstones cost storage proportional to the DELETED key count, not
  * traffic; [[purgeTombstones]] is the retention lever — dropping tombstones
  * below the feed's safe low-watermark sequence (changes at or below it can
  * never arrive again), via stats-pruned copy-on-write delete.
  *
  * ==Exactly once==
  * The merge rewrite and the batch id, staged as the target table's `txn`
  * high-water ([[graft.sources.ReplayGuard]]), publish in the SAME manifest
  * commit (`mergeInto(alsoInTx = mark)`): a checkpoint replay of a
  * committed micro-batch finds its id covered and no-ops, also after the
  * target was compacted (a truncate keeps the high-water). The sequence
  * guard makes the mark a fast path rather than the safety argument —
  * even a re-applied batch converges. Files per micro-batch are
  * UNCAPPED: the guard removes the in-order delivery contract that
  * previously serialized the feed on commit latency (one file per trigger),
  * so a backlog drains at source-listing speed, collapsed per batch.
  *
  * ==Within-batch collapse==
  * A batch may carry several changes for one key (insert then update then
  * delete); only the one with the highest `seqCol` value applies — the
  * merge's cardinality rule would otherwise refuse the batch, and the
  * sequence guard makes the collapse exact (applying all of them in order
  * ends at the highest-sequence state anyway).
  */
class ApplyChangesStream(wh: AtomicWarehouse, table: String,
    keyCols: Seq[String], baseSchema: StructType,
    opCol: String = "_op", seqCol: String = "_seq",
    deletedCol: String = "_deleted") {

  /** The change-feed schema the stream reads: target columns + op + seq. */
  val changeSchema: StructType = StructType(baseSchema.fields.toSeq ++ Seq(
    StructField(opCol, StringType, nullable = false),
    StructField(seqCol, LongType, nullable = false)))

  /** The STORED table schema: base columns + the applied change's sequence
    * + the tombstone flag. What [[AtomicWarehouse.read]] of the raw table
    * returns; [[currentState]] projects the consumer view.
    */
  val storedSchema: StructType = StructType(baseSchema.fields.toSeq ++ Seq(
    StructField(seqCol, LongType, nullable = false),
    StructField(deletedCol, BooleanType, nullable = false)))

  private val guard =
    new ReplayGuard(wh, table, "apply-changes", legacyDir = Some(s"$table/_cdc"))

  /** True when `batchId` was already applied (a checkpoint replay). */
  def ingested(batchId: Long): Boolean = guard.covers(batchId)

  /** Live rows, base columns — the consumer read (tombstones filtered).
    * Rows from a table that predates the CDC feed (bootstrap: an existing
    * table becomes a change-apply target) null-fill the metadata columns
    * and are LIVE — a null tombstone flag is not a tombstone.
    */
  def currentState(): DataFrame =
    wh.read(table, storedSchema)
      .filter(not(coalesce(col(deletedCol), lit(false))))
      .select(baseSchema.fieldNames.toSeq.map(col): _*)

  /** Apply one batch of changes (batch surface, stream-independent):
    * collapse to last-change-per-key, then one [[AtomicWarehouse.mergeInto]]
    * with the sequence-guarded clause wiring (class doc). Returns the merge
    * result; `updated` counts matched rows whose sequence admitted the
    * change (tombstoning a live row counts as an update — the row survives,
    * flagged), `inserted` counts new keys INCLUDING tombstones for deletes
    * of never-seen keys (they must be remembered, or an earlier-sequence
    * insert arriving later would resurrect the key).
    */
  def applyChanges(changes: DataFrame,
      alsoInTx: graft.sources.Warehouse => Unit = _ => ())
      : graft.sources.MergeIntoResult = {
    val w = Window.partitionBy(keyCols.map(col): _*).orderBy(col(seqCol).desc)
    val lastPerKey = changes.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn")
    val src = lastPerKey
      .withColumn(deletedCol, col(opCol) === lit("d"))
      .drop(opCol)
    // null t._seq = a bootstrap row from before the feed (no applied-change
    // metadata): every change beats it — sequence negative infinity
    wh.mergeInto(table, storedSchema, src, keyCols,
      updateWhen = Some(col(s"t.$seqCol").isNull ||
        col(s"s.$seqCol") >= col(s"t.$seqCol")),
      alsoInTx = alsoInTx)
  }

  /** Drop tombstones whose sequence is strictly below the feed's safe
    * low-watermark (no change at or below `belowSeq` can ever arrive
    * again — e.g. the source's oldest retained log position). Copy-on-write
    * through [[AtomicWarehouse.deleteWhere]], so only files that can hold
    * such rows are rewritten. Returns the purge count.
    */
  def purgeTombstones(belowSeq: Long): Long =
    wh.deleteWhere(table, storedSchema,
      Seq(ColEq(deletedCol, true), ColLt(seqCol, belowSeq)))

  private[graft] def processBatch(batch: DataFrame, batchId: Long): Unit = {
    if (ingested(batchId)) return
    // a file-source bookkeeping batch (empty) marks its id, touches nothing
    if (batch.isEmpty) wh.atomically(guard.mark(_, batchId))
    else applyChanges(batch, alsoInTx = guard.mark(_, batchId))
  }

  /** Watch `dir` for parquet change files. No per-trigger file cap and no
    * delivery-order contract: the sequence guard (class doc) makes the
    * apply commutative across batches, so the source may hand any number of
    * files per micro-batch in any order.
    */
  def start(dir: String, checkpoint: String,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    wh.spark.readStream
      .schema(changeSchema)
      .parquet(dir)
      .writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) => processBatch(batch, batchId) }
      .start()
}
