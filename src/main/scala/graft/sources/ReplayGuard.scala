package graft.sources

import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** The one batch-replay guard of a stream or change-feed sync: the manifest
  * `txn` high-water of (`table`, `appId`) ([[Warehouse.markBatch]]), staged
  * in the same commit as the batch's effect, so a batch lands with its mark
  * or not at all. `table` is one the guard's maintainer replaces but never
  * drops: a drop clears the high-water, a truncate or replace (compaction,
  * a rebuild, a retrain) keeps it. Batch ids ascend per guard, so a batch
  * id at or below the high-water is a replay ([[covers]], a lookup in the
  * folded manifest — no Spark job).
  *
  * Roots written before the high-water existed kept parquet `(batch_id)`
  * ledgers under `legacyDir` (`IngestLedger`, plus `RetractLedger` for a
  * change-feed sync when `retractions`). Those that exist are read once per
  * instance ([[legacy]]), and the first [[mark]] deletes them in its own
  * commit; afterwards nothing reads them.
  */
final class ReplayGuard(wh: Warehouse, table: String, appId: String,
    legacyDir: Option[String] = None, retractions: Boolean = false) {

  private lazy val legacyTables: Seq[(String, String)] = legacyDir.toSeq.flatMap { d =>
    (if (retractions) Seq("retract" -> s"$d/RetractLedger") else Nil) :+
      ("ingest" -> s"$d/IngestLedger")
  }.filter(t => wh.exists(t._2))

  /** The legacy ledgers' batch ids as (retractions, admissions) — empty
    * sets when none exists. Ledgers are batch-count sized.
    */
  private[graft] lazy val legacy: (Set[Long], Set[Long]) = {
    val schema = StructType(Seq(StructField("batch_id", LongType, nullable = false)))
    def ids(kind: String): Set[Long] = legacyTables.collect { case (`kind`, t) =>
      wh.read(t, schema).collect().map(_.getLong(0)).toSet }.flatten.toSet
    (ids("retract"), ids("ingest"))
  }

  /** The committed high-water (None before any mark). */
  def high: Option[Long] = wh.lastCommittedBatch(table, appId)

  /** The last applied batch id: the high-water, or a legacy admission
    * ledger's largest id when that is larger.
    */
  def last: Option[Long] = (high ++ legacy._2.maxOption).maxOption

  /** True when `batchId` is already applied (a replay). */
  def covers(batchId: Long): Boolean = last.exists(_ >= batchId)

  /** Stage `batchId` as the high-water in `w`'s commit and retire any
    * legacy ledger in the same commit.
    */
  def mark(w: Warehouse, batchId: Long): Unit = {
    w.markBatch(table, appId, batchId)
    legacyTables.map(_._2).filter(w.exists).foreach(w.delete)
  }
}
