package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.types.StructType

/** Local-FS/HDFS warehouse of parquet tables, standing in for the reference's
  * SQL Server database (SURVEY.md §7 design stance: storage specifics are
  * connector details, not engine semantics — on a production deployment this
  * trait boundary is where a Delta/iceberg catalog or JDBC sink plugs in).
  *
  * `replace` handles the read-modify-write cycle the merge layer needs:
  * Spark cannot overwrite a path it is still reading, so the new contents are
  * written to a temp dir first and swapped in with FileSystem renames — the
  * dims are small (per SURVEY §2.6 every merge side is dimension-sized), so
  * the swap is cheap even at 100 TB fact scale.
  */
class Warehouse(val spark: SparkSession, val root: String) {

  protected def fs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)

  def path(table: String): String = s"$root/$table"

  def exists(table: String): Boolean = fs.exists(new Path(path(table)))

  /** Total stored bytes under a table's directory (0 when absent). One
    * namenode round trip — cheap enough to consult per micro-batch for
    * size-adaptive planning decisions (see [[graft.streaming.DedupStream]]'s
    * probe gate).
    */
  def sizeBytes(table: String): Long =
    if (exists(table)) fs.getContentSummary(new Path(path(table))).getLength else 0L

  /** A table's current schema, inferred from its stored parquet footers
    * (None when absent). Maintenance tooling needs this: [[compact]] takes
    * an explicit schema, and an ops pass doesn't know every table's layout.
    */
  def inferSchema(table: String): Option[StructType] =
    if (exists(table)) Some(spark.read.parquet(path(table)).schema) else None

  /** Read a table; empty frame with the declared schema when absent. */
  def read(table: String, schema: StructType): DataFrame =
    if (exists(table)) spark.read.schema(schema).parquet(path(table))
    else spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)

  def append(table: String, df: DataFrame): Unit =
    withRetry()(df.write.mode(SaveMode.Append).parquet(path(table)))

  /** Run INDEPENDENT write thunks of one logical commit. The base warehouse
    * runs them sequentially (its writes publish as they land, so order is
    * part of the documented crash contract); [[AtomicWarehouse]]'s
    * transactional view overrides with concurrent staging — staged files
    * are invisible until the manifest commit, so sibling writes only race
    * for stage directories (thread-safe) and their job latencies collapse
    * into one wave. Every thunk is awaited to settlement before a failure
    * propagates, so an abort never leaves a sibling mid-stage.
    */
  def stageAll(writes: Seq[() => Unit]): Unit = writes.foreach(_())

  /** Append with hive-style partition directories (`col=value/`). The layout
    * choice that makes 100 TB scans affordable: a filter on a partition
    * column prunes whole directories at PLANNING time — the files are never
    * listed into the scan (LayoutSpec asserts the pruned plan). Choose
    * low-cardinality columns (date, source); per-key directories for a
    * high-cardinality key melt the namenode/listing instead of helping.
    */
  def appendPartitioned(table: String, df: DataFrame, partitionCols: Seq[String]): Unit =
    withRetry()(df.write.mode(SaveMode.Append)
      .partitionBy(partitionCols: _*).parquet(path(table)))

  /** Rewrite a table's accumulated small files into `targetFiles` — the
    * maintenance pass every append-heavy table needs (each micro-batch
    * append leaves one file per task; thousands of small files turn scan
    * planning and open() overhead into the bottleneck). `coalesce` keeps the
    * rewrite shuffle-free. Unpartitioned tables only — a partitioned table
    * compacts per-partition (directory granularity), which this local
    * warehouse doesn't need.
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
    * overlapping key range — on an [[AtomicWarehouse]] the footer stats the
    * commit records are then maximally tight, and scanWhere/countWhere/
    * deleteWhere prune as if the table had been hand-banded. This is the
    * write-side half of clustering; [[recluster]] is the maintenance half
    * for tables whose appends arrived interleaved.
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
    * [[compactWith]], so on an [[AtomicWarehouse]] it is conflict-checked
    * against racing commits and refreshes the manifest stats.
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
    * invisible maintenance. [[AtomicWarehouse]] overrides THIS method with
    * its conflict-checked read-pin-replace, so every layout rewrite gets the
    * same lost-update protection as plain compaction.
    */
  def compactWith(table: String, schema: StructType,
      transform: DataFrame => DataFrame): Unit =
    replace(table, transform(read(table, schema)))

  /** Replace a table's contents (safe when `df` reads the old contents):
    * write to `.tmp`, then swap directories.
    *
    * NOT atomic for readers: the swap is two renames, and between moving the
    * old directory aside and renaming tmp into place a concurrent reader
    * sees the table missing (a crash in that window leaves it recoverable
    * only from `.tmp`). Single-writer, no-concurrent-reader is the
    * documented contract here (see [[graft.operators.Ledger]]); real
    * atomicity comes from a table format with a pointer commit instead of
    * directory renames — built as [[AtomicWarehouse]].
    *
    * Only the WRITE is retried — once the old directory has been renamed
    * away, re-running `df.write` would re-read a path that no longer exists,
    * so the swap itself runs once, restoring the old directory if the final
    * rename fails.
    */
  def replace(table: String, df: DataFrame): Unit = {
    val target = new Path(path(table))
    val tmp = new Path(s"$root/.tmp/$table-${java.util.UUID.randomUUID()}")
    withRetry()(df.write.mode(SaveMode.Overwrite).parquet(tmp.toString))
    val old = new Path(s"$root/.tmp/$table-old-${java.util.UUID.randomUUID()}")
    val hadOld = fs.exists(target)
    if (hadOld && !fs.rename(target, old)) {
      fs.delete(tmp, true) // don't strand the table-sized tmp copy
      throw new java.io.IOException(s"could not move aside current $table")
    }
    fs.mkdirs(target.getParent)
    if (!fs.rename(tmp, target)) {
      if (hadOld) fs.rename(old, target) // restore; table stays readable
      fs.delete(tmp, true)
      throw new java.io.IOException(s"swap failed for $table")
    }
    if (hadOld) fs.delete(old, true)
  }

  def delete(table: String): Unit = fs.delete(new Path(path(table)), true)

  /** Run a group of writes as one unit. The base warehouse provides NO
    * atomicity — `fn` runs against `this` and each write publishes
    * immediately (the documented non-transactional contract above). An
    * [[AtomicWarehouse]] overrides this to stage every write in `fn` and
    * publish them with a single manifest commit, which is how operators
    * declare their transaction boundaries (EP1's merge section,
    * DedupStream's per-batch admit) without depending on any particular
    * storage backend being transactional.
    */
  def atomically(fn: Warehouse => Unit): Unit = fn(this)

  /** Connection "awakening" retry — see [[Warehouse.withRetry]]. */
  def withRetry[T](attempts: Int = 3, firstBackoffMs: Long = 1000)(f: => T): T =
    Warehouse.withRetry(attempts, firstBackoffMs)(f)
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
