package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** The warehouse interface: parquet tables under one root, standing in for
  * the reference's SQL Server database. [[AtomicWarehouse]] is the storage
  * implementation (every write a manifest commit); its in-transaction view
  * implements the same interface, so operators declare transaction
  * boundaries with [[atomically]] and write through whichever view they
  * are handed. The storage seam below that is the Hadoop `FileSystem` of
  * `root`'s scheme (ConnectorSpec runs EP1 over a non-`file:` scheme).
  */
abstract class Warehouse(val spark: SparkSession, val root: String) {

  def path(table: String): String = s"$root/$table"

  def exists(table: String): Boolean

  /** Total stored bytes of a table's visible files (0 when absent) —
    * cheap enough to consult per micro-batch for size-adaptive planning
    * decisions (see [[graft.streaming.DedupStream]]'s probe gate).
    */
  def sizeBytes(table: String): Long

  /** A table's current schema (None when absent). Maintenance tooling
    * needs this: [[compact]] takes an explicit schema, and an ops pass
    * doesn't know every table's layout.
    */
  def inferSchema(table: String): Option[StructType]

  /** Read a table; empty frame with the declared schema when absent. */
  def read(table: String, schema: StructType): DataFrame

  def append(table: String, df: DataFrame): Unit

  /** Append with hive-style partition directories (`col=value/`). The layout
    * choice that makes 100 TB scans affordable: a filter on a partition
    * column prunes whole directories at PLANNING time — the files are never
    * listed into the scan (LayoutSpec asserts the pruned plan). Choose
    * low-cardinality columns (date, source); per-key directories for a
    * high-cardinality key melt the namenode/listing instead of helping.
    */
  def appendPartitioned(table: String, df: DataFrame, partitionCols: Seq[String]): Unit

  /** Replace a table's contents; safe when `df` reads the old contents. */
  def replace(table: String, df: DataFrame): Unit

  def delete(table: String): Unit

  /** The last batch id committed for (table, appId) through [[markBatch]]
    * — the replay high-water a stream checks before any work (a lookup in
    * the folded manifest, no Spark job); None before any.
    */
  def lastCommittedBatch(table: String, appId: String): Option[Long]

  /** Stage `batchId` as the (table, appId) high-water (the manifest `txn`
    * action) in this write's commit, so a batch lands with its replay mark
    * or not at all. Batch ids must ascend per (table, appId); a batch id the
    * high-water already covers is refused. A `delete(table)` clears the
    * high-water, a truncate or replace keeps it.
    */
  def markBatch(table: String, appId: String, batchId: Long): Unit

  /** Rewrite a table's accumulated small files into `targetFiles` — the
    * maintenance pass every append-heavy table needs (each micro-batch
    * append leaves one file per task; thousands of small files turn scan
    * planning and open() overhead into the bottleneck). `coalesce` keeps the
    * rewrite shuffle-free. Unpartitioned tables only.
    *
    * `sortCols` re-sorts within the rewritten partitions: tables whose scan
    * pruning depends on tight parquet min/max stats on a join column (the
    * dedup band index) would otherwise come out of compaction as
    * concatenated sorted runs, widening every row-group's stats range to
    * near-useless.
    */
  def compact(table: String, schema: StructType, targetFiles: Int = 1,
      sortCols: Seq[String] = Nil): Unit = {
    require(targetFiles > 0, "targetFiles must be positive")
    compactWith(table, schema, { df =>
      val coalesced = df.coalesce(targetFiles)
      if (sortCols.isEmpty) coalesced
      else coalesced.sortWithinPartitions(
        sortCols.map(org.apache.spark.sql.functions.col): _*)
    })
  }

  /** Append with WRITE-TIME range clustering: rows range-partition and sort
    * on `clusterCols`, so each written file owns a contiguous, minimally
    * overlapping key range — the footer stats the commit records are then
    * maximally tight, and scanWhere/countWhere/deleteWhere prune as if the
    * table had been hand-banded. This is the write-side half of clustering;
    * [[recluster]] is the maintenance half for tables whose appends arrived
    * interleaved.
    */
  def appendClustered(table: String, df: DataFrame, clusterCols: Seq[String],
      numFiles: Int): Unit = {
    require(numFiles >= 1, s"numFiles must be positive, got $numFiles")
    val cols = clusterCols.map(org.apache.spark.sql.functions.col)
    append(table, df.repartitionByRange(numFiles, cols: _*)
      .sortWithinPartitions(cols: _*))
  }

  /** Re-layout a whole table into `numFiles` range-clustered files — the
    * maintenance pass that restores data skipping after interleaved appends
    * (each append's files span the full key range, so every scan keeps every
    * file; after reclustering a range predicate keeps only its band). Unlike
    * [[compact]]'s coalesce+sort — concatenated sorted runs, near-useless
    * file bounds — this range-partitions globally first. Routed through
    * [[compactWith]], so it is conflict-checked against racing commits.
    */
  def recluster(table: String, schema: StructType, clusterCols: Seq[String],
      numFiles: Int): Unit = {
    require(numFiles >= 1, s"numFiles must be positive, got $numFiles")
    val cols = clusterCols.map(org.apache.spark.sql.functions.col)
    compactWith(table, schema, df => df.repartitionByRange(numFiles, cols: _*)
      .sortWithinPartitions(cols: _*))
  }

  /** Rewrite a table through an arbitrary LAYOUT transform — [[compact]] is
    * the `coalesce` + sort instance; a Z-order re-layout
    * ([[graft.operators.Layout.zorder]]) is another. The transform must be a
    * pure re-layout (same rows out as in): readers treat the rewrite as
    * invisible maintenance, and the rewrite is conflict-checked against
    * commits that land while it runs.
    */
  def compactWith(table: String, schema: StructType,
      transform: DataFrame => DataFrame): Unit

  /** Run a group of writes as one unit: every write `fn` makes through the
    * view it is handed stages, and one manifest commit publishes them all —
    * a failure anywhere in `fn` leaves every table at its prior snapshot.
    * This is how operators declare their transaction boundaries (EP1's
    * merge section, DedupStream's per-batch admit). A nested call joins the
    * ambient transaction.
    */
  def atomically(fn: Warehouse => Unit): Unit
}

object Warehouse {
  /** Graft's own staging threads: daemon, grown on demand (a thunk may
    * itself settle nested writes, which a bounded pool could deadlock on).
    */
  private lazy val stagingPool: java.util.concurrent.ExecutorService = {
    val n = new java.util.concurrent.atomic.AtomicInteger()
    java.util.concurrent.Executors.newCachedThreadPool { (r: Runnable) =>
      val t = new Thread(r, s"graft-stage-${n.incrementAndGet()}")
      t.setDaemon(true)
      t
    }
  }

  /** Connection "awakening" retry: ≤3 attempts, exponential backoff 1s, 2s —
    * mirrors core/database.py:38-50 as a sink-connector concern. A
    * cancelled Spark job is not retried: the cancel is the caller's intent.
    */
  def withRetry[T](attempts: Int = 3, firstBackoffMs: Long = 1000)(f: => T): T = {
    var backoff = firstBackoffMs
    var remaining = attempts
    while (true) {
      try return f
      catch {
        case e: Exception =>
          remaining -= 1
          if (remaining <= 0 || cancelled(e)) throw e
          Thread.sleep(backoff)
          backoff *= 2
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** Whether `e` (or a cause) is a Spark job cancellation. */
  private def cancelled(e: Throwable): Boolean =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null).exists {
      case s: org.apache.spark.SparkException => s.getCondition == "SPARK_JOB_CANCELLED"
      case _ => false
    }

  /** Run independent thunks concurrently and wait for EVERY one to settle
    * before the first failure (if any) propagates — no sibling is left
    * mid-write. Each thunk runs under the caller's Spark local properties,
    * so its jobs carry the caller's description and job group (a
    * `cancelJobGroup` reaches them). The wait is unbounded: a large write
    * must not abort at a timeout while its siblings keep running.
    */
  def settleAll(spark: SparkSession, thunks: Seq[() => Unit]): Unit = {
    val pending = thunks.map(f =>
      org.apache.spark.sql.graft.shims.withCallerContext(spark, stagingPool)(f()))
    val failures = pending.flatMap { p =>
      try { p.get(); None }
      catch { case e: java.util.concurrent.ExecutionException => Some(e.getCause) }
    }
    failures.headOption.foreach(e => throw e)
  }
}
