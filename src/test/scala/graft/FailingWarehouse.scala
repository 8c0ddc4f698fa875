package graft

import graft.sources.{AtomicWarehouse, Warehouse}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Crash injection for the warehouse commit contract: while `failOn` names
  * a table, any write to it — top-level or inside `atomically` — throws an
  * IOException mid-transaction, after its sibling writes have staged. The
  * transaction aborts like a process dying before the manifest publish.
  * Unarmed, it is a plain [[AtomicWarehouse]].
  */
class FailingWarehouse(spark: SparkSession, root: String)
    extends AtomicWarehouse(spark, root) {
  @volatile var failOn: Option[String] = None

  private def maybeFail(table: String): Unit =
    if (failOn.contains(table))
      throw new java.io.IOException(s"injected crash writing $table")

  // the one transaction entry: `atomically` and every single-table write
  // (the ledger's own-files append included) run through it
  override private[graft] def atomicallyAdding(fn: Warehouse => Unit): Map[String, Seq[String]] =
    super.atomicallyAdding(w => fn(if (failOn.isEmpty) w else new Failing(w)))

  /** The transaction's view, with the injected failure on its writes. */
  private class Failing(w: Warehouse) extends Warehouse(spark, root) {
    def exists(t: String): Boolean = w.exists(t)
    def sizeBytes(t: String): Long = w.sizeBytes(t)
    def inferSchema(t: String): Option[StructType] = w.inferSchema(t)
    def read(t: String, s: StructType): DataFrame = w.read(t, s)
    def append(t: String, df: DataFrame): Unit = { maybeFail(t); w.append(t, df) }
    def appendPartitioned(t: String, df: DataFrame, cols: Seq[String]): Unit = {
      maybeFail(t); w.appendPartitioned(t, df, cols)
    }
    def replace(t: String, df: DataFrame): Unit = { maybeFail(t); w.replace(t, df) }
    def delete(t: String): Unit = { maybeFail(t); w.delete(t) }
    def lastCommittedBatch(t: String, app: String): Option[Long] = w.lastCommittedBatch(t, app)
    def markBatch(t: String, app: String, b: Long): Unit = w.markBatch(t, app, b)
    def compactWith(t: String, s: StructType, f: DataFrame => DataFrame): Unit = {
      maybeFail(t); w.compactWith(t, s, f)
    }
    def atomically(fn: Warehouse => Unit): Unit = fn(this)
  }
}
