package graft.operators

import java.sql.Timestamp

import graft.model.Schemas
import graft.model.Schemas.FileStatus
import graft.sources.AtomicWarehouse
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, StructField, StructType}

/** File-level idempotency ledger — the engine's ProcessFile table
  * (S8/S10: core/etl_orchestrator.py:46-58 status lookup, :285-344 lifecycle
  * 2 → 3/4). The ledger is intentionally a *queryable table*, not just a
  * checkpoint, mirroring the reference where operators can inspect status.
  *
  * Storage is an APPEND-ONLY status log: `markInProgress` appends the attempt
  * row at SeqNo 0 and `setStatus` appends a one-row flip event at SeqNo+1 —
  * no rewrite of previously-written data, so a status flip is O(1) writes
  * regardless of how many files the deployment has ever ingested. [[all]]
  * exposes the same ProcessFile contract as a latest-row-per-attempt view
  * (`max_by` over SeqNo) for SQL and inspection.
  *
  * Point lookups run no Spark job. The ledger keeps a driver-side view
  * of the log: per (Container, FileName) the latest attempt's latest row
  * (highest Id, then highest SeqNo), plus the largest Id — exactly what
  * [[statusOf]], [[markInProgress]] and [[setStatus]] read. The view is keyed
  * by the table's committed file set and each file's deletion-vector entry,
  * taken from one folded manifest state ([[AtomicWarehouse.fileSet]]):
  *   - a committed file the view has not folded (another instance or
  *     process appended) is read once, and only that file;
  *   - a folded file that is gone or re-tombstoned (compaction, `restore`,
  *     SQL DML) rebuilds the view from one full read;
  *   - the ledger's own appends learn their commit's files
  *     ([[AtomicWarehouse.appendAdding]]) and fold the written row without
  *     reading it back.
  * So a replay check is one log listing, and state stays one row per
  * distinct file, not per log row.
  *
  * SINGLE-WRITER contract: `markInProgress` mints the view's largest Id + 1,
  * so two pipelines appending attempts at the same moment (or a second
  * StreamRunner on the same warehouse) could mint duplicate ids; a writer
  * that committed before the mint is seen, since the mint refreshes the
  * view first. The reference delegates this to the database's
  * transactionality; here it holds because the driver runs one pipeline and
  * foreachBatch is sequential. Flips are append-only and therefore
  * lost-update-free.
  */
class Ledger(wh: AtomicWarehouse) {
  private val table = "ledger/ProcessFile"

  private val logSchema: StructType =
    StructType(Schemas.processFile.fields :+ StructField("SeqNo", IntegerType, nullable = false))

  private def log = wh.read(table, logSchema)

  private val viewCols = Schemas.processFile.fieldNames.toIndexedSeq

  // log row field positions (logSchema order)
  private val IdAt = 0
  private val StatusAt = 3
  private val SeqAt = 8

  // the driver view, guarded by this: folded files → the DV entry each was
  // read under, the latest row per (Container, FileName), the largest Id
  private var folded = Map.empty[String, Option[String]]
  private var latest = Map.empty[(String, String), Row]
  private var maxId = 0

  /** Latest-status view: one row per attempt Id, ProcessFile schema. */
  def all(): org.apache.spark.sql.DataFrame =
    log.groupBy(col("Id"))
      .agg(max_by(struct(viewCols.map(col): _*), col("SeqNo")).as("r"))
      .select(viewCols.map(c => col(s"r.$c").as(c)): _*)

  /** S8/P7 — point status lookup; 1 (not seen) when absent. */
  def statusOf(container: String, fileName: String): Int = synchronized {
    refresh()
    latest.get((container, fileName)).fold(FileStatus.NotSeen)(_.getInt(StatusAt))
  }

  /** S10 — append an in-progress attempt row (status 2), returning its id. */
  def markInProgress(container: String, fileName: String, blobSize: Option[Long] = None,
      contentType: Option[String] = None): Int = synchronized {
    refresh()
    val nextId = maxId + 1
    append(Row(nextId, container, fileName, FileStatus.InProgress,
      new Timestamp(System.currentTimeMillis()), blobSize.getOrElse(null), contentType.orNull,
      null, 0))
    nextId
  }

  /** S10 — flip status (2 → 3 success / 4 failed) on ONE attempt row (the id
    * returned by markInProgress), preserving the history of earlier attempts
    * exactly as the reference updates only the current ProcessFile row. The
    * flip is an appended event: the attempt's latest row is re-emitted with
    * the new status at the next SeqNo, and the view picks it up. An attempt
    * the view does not hold (superseded by a later attempt on its file) is
    * looked up in the log; an unknown id appends nothing.
    */
  def setStatus(rowId: Int, statusId: Int): Unit = synchronized {
    refresh()
    latest.valuesIterator.find(_.getInt(IdAt) == rowId)
      .orElse(log.filter(col("Id") === rowId).orderBy(col("SeqNo").desc).limit(1)
        .collect().headOption)
      .foreach { r =>
        val flip = r.toSeq.toArray
        flip(StatusAt) = statusId
        flip(SeqAt) = r.getInt(SeqAt) + 1
        append(Row.fromSeq(flip.toSeq))
      }
  }

  /** Append one log row and fold it under the files its commit added. */
  private def append(r: Row): Unit = {
    val df = wh.spark.createDataFrame(java.util.Collections.singletonList(r), logSchema)
    folded ++= wh.appendAdding(table, df).map(_ -> None)
    fold(r)
  }

  /** Bring the view to the committed log: read only unfolded files, or
    * rebuild from one full read when a folded file is gone or its DV entry
    * changed.
    */
  private def refresh(): Unit = {
    val set = wh.fileSet(table)
    val now = set.files.map(f => f -> set.dvs.get(f)).toMap
    if (folded.exists { case (f, dv) => !now.get(f).contains(dv) }) {
      folded = Map.empty; latest = Map.empty; maxId = 0
    }
    val unread = set.files.filterNot(folded.contains)
    if (unread.nonEmpty)
      wh.readFileSet(table, logSchema, set, unread).collect().foreach(fold)
    folded = now
  }

  private def fold(r: Row): Unit = if (!r.isNullAt(IdAt)) {
    maxId = maxId.max(r.getInt(IdAt))
    if (!r.isNullAt(1) && !r.isNullAt(2) && !r.isNullAt(SeqAt)) {
      val key = (r.getString(1), r.getString(2))
      val newer = latest.get(key).forall { o =>
        val c = Integer.compare(r.getInt(IdAt), o.getInt(IdAt))
        c > 0 || (c == 0 && r.getInt(SeqAt) > o.getInt(SeqAt))
      }
      if (newer) latest += key -> r
    }
  }
}
