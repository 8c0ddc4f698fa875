package graft.sql

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.write.{DataWriter, PhysicalWriteInfo,
  WriterCommitMessage}
import org.apache.spark.sql.connector.write.streaming.{StreamingDataWriterFactory,
  StreamingWrite}
import org.apache.spark.sql.graft.shims
import org.apache.spark.sql.types.StructType
import org.apache.spark.util.SerializableConfiguration

import graft.sources.AtomicWarehouse

/** EXACTLY-ONCE streaming into a warehouse table as a first-class V2 sink —
  * `stream.writeStream.toTable("graft.facts.t")`, no hand-rolled
  * `foreachBatch` required:
  *
  *   - write tasks serialize their rows straight to parquet (PHYSICAL
  *     column names, Spark's own `ParquetWriteSupport`) in a per-epoch
  *     staging directory under the warehouse root — the data is written
  *     ONCE, by executors, file-parallel;
  *   - the driver's epoch commit MOVES the task-committed files in (same-
  *     filesystem rename, metadata-only) and publishes the (appId, batchId)
  *     high-water in the SAME manifest commit as the adds
  *     ([[AtomicWarehouse.appendOnce]]'s ledger) — a replayed epoch
  *     (Structured Streaming re-runs the last uncommitted batch after
  *     every recovery) is detected BEFORE any move and skipped whole;
  *   - CHECK/FK/UNIQUE invariants and the change feed bind the commit
  *     exactly as API writes (the probes read the staged files once);
  *     files from task attempts that died uncommitted never move — only
  *     the leaves named in the coordinator-committed messages do.
  *
  * `appId` defaults to the streaming query id (stable across checkpoint
  * restarts); override with `.option("txnAppId", ...)` to share a ledger
  * across queries. Append output mode only — complete/truncate refuses.
  */
class GraftStreamingWrite(wh: AtomicWarehouse, table: String,
    logicalSchema: StructType, appId: String) extends StreamingWrite {

  private val epochBase = {
    val safe = appId.replaceAll("[^A-Za-z0-9_.-]", "_")
    s"${wh.root}/.stream-stage/$safe"
  }

  override def createStreamingWriterFactory(
      info: PhysicalWriteInfo): StreamingDataWriterFactory = {
    val m = wh.colMapOf(table)
    val phys = StructType(logicalSchema.fields.map(f =>
      f.copy(name = m.getOrElse(f.name, f.name))))
    GraftStreamWriterFactory(shims.parquetWriteConf(wh.spark, phys), epochBase)
  }

  override def commit(epochId: Long, messages: Array[WriterCommitMessage]): Unit = {
    val leaves = messages.toSeq.flatMap {
      case m: GraftStreamTaskCommit => m.leaves
      case other => throw new IllegalStateException(
        s"unexpected commit message ${other.getClass.getName}")
    }
    wh.appendOnceStaged(table, appId, epochId, s"$epochBase/$epochId",
      leaves, logicalSchema)
  }

  override def abort(epochId: Long, messages: Array[WriterCommitMessage]): Unit = {
    val dir = new Path(s"$epochBase/$epochId")
    val fs = dir.getFileSystem(wh.spark.sparkContext.hadoopConfiguration)
    try { if (fs.exists(dir)) fs.delete(dir, true) }
    catch { case _: java.io.IOException => () } // replay cleans up again
  }
}

case class GraftStreamTaskCommit(leaves: Seq[String]) extends WriterCommitMessage

case class GraftStreamWriterFactory(conf: SerializableConfiguration,
    epochBase: String) extends StreamingDataWriterFactory {

  override def createWriter(partitionId: Int, taskId: Long,
      epochId: Long): DataWriter[InternalRow] = new DataWriter[InternalRow] {
    // attempt-unique leaf: a speculative/retried attempt writes its own
    // file; only the attempt the commit coordinator blesses reports it
    private val leaf = f"part-$epochId%05d-$partitionId%05d-$taskId.parquet"
    private val path = s"$epochBase/$epochId/$leaf"
    private var out: org.apache.spark.sql.execution.datasources.OutputWriter = _
    private var rows = 0L

    override def write(record: InternalRow): Unit = {
      if (out == null) out = shims.openParquetRowWriter(conf.value, path)
      out.write(record)
      rows += 1
    }

    override def commit(): WriterCommitMessage = {
      if (out != null) out.close()
      // zero-row tasks contribute nothing (no empty files in the table)
      if (rows == 0L) GraftStreamTaskCommit(Nil) else GraftStreamTaskCommit(Seq(leaf))
    }

    override def abort(): Unit = {
      try { if (out != null) out.close() } catch { case _: Exception => () }
      val p = new Path(path)
      try {
        val fs = p.getFileSystem(conf.value)
        if (fs.exists(p)) fs.delete(p, false)
      } catch { case _: java.io.IOException => () }
    }

    override def close(): Unit = ()
  }
}
