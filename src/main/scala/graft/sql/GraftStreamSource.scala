package graft.sql

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReader,
  PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.connector.read.streaming.{CompositeReadLimit,
  MicroBatchStream, Offset, ReadAllAvailable, ReadLimit, ReadMaxBytes,
  ReadMaxFiles, SupportsAdmissionControl, SupportsTriggerAvailableNow}
import org.apache.spark.sql.execution.datasources.PartitionedFile
import org.apache.spark.sql.graft.shims
import org.apache.spark.sql.types.StructType

import graft.sources.AtomicWarehouse

/** The warehouse as a STRUCTURED STREAMING source — Delta's streaming-table
  * shape over the graft manifest:
  *
  * {{{
  * spark.readStream
  *   .option("startingVersion", "0")      // default: current head (new data only)
  *   .option("maxFilesPerTrigger", "50")  // default 1000; "none" = unbounded
  *   .option("maxBytesPerTrigger", "1g")  // optional; soft cap, ≥1 file per batch
  *   .table("graft.facts.orders")
  * }}}
  *
  * Offsets are (commit version, file index): each micro-batch reads exactly
  * a contiguous slice of the files the manifest gained — deterministic from
  * the log, so checkpoint replay re-plans the identical batch (exactly-once
  * with any idempotent/transactional sink). ADMISSION CONTROL bounds every
  * batch: a `startingVersion=0` replay of a year-old table lands as many
  * rate-limited micro-batches (the index splits WITHIN a large commit —
  * Delta's (reservoirVersion, index) shape), never one all-or-nothing unit;
  * the per-batch caps come from `maxFilesPerTrigger` (default 1000) and
  * `maxBytesPerTrigger`, sized from MANIFEST-RECORDED file bytes — planning
  * a backlog batch makes zero filesystem stat calls when the log carries
  * sizes (it does for every commit since size recording), so no O(files)
  * serial driver RPC storm at any scale.
  *
  * The source is APPEND-ONLY with loud refusals (the [[AtomicWarehouse
  * .appendedFilesBetween]] contract): a truncate, copy-on-write rewrite,
  * or DV delete inside a window throws rather than silently replaying or
  * dropping rows — stream the change feed (`graft-cdf`) for row-level
  * change semantics. Scan tasks run Spark's own parquet row reader per
  * file (schema-evolution windows null-fill; renames read through the
  * stable physical names), one partition per file so a 1000-executor
  * cluster fans a large backlog batch out file-parallel.
  */
class GraftScanBuilder(wh: AtomicWarehouse, table: String,
    logicalSchema: StructType,
    options: org.apache.spark.sql.util.CaseInsensitiveStringMap)
    extends ScanBuilder {
  override def build(): Scan = new GraftScan(wh, table, logicalSchema,
    Option(options.get("startingversion")).map(_.trim.toInt),
    GraftStreamLimits(options))
}

/** Per-trigger admission caps parsed once at scan build. `maxFiles` None =
  * unbounded (`maxFilesPerTrigger=none`); bytes accept size suffixes
  * ("1g"). The byte cap is SOFT in the standard way: at least one file is
  * always admitted, so a single file larger than the cap still flows.
  */
case class GraftStreamLimits(maxFiles: Option[Int], maxBytes: Option[Long]) {
  def toReadLimit: ReadLimit = {
    val ls = maxFiles.map(ReadLimit.maxFiles).toSeq ++
      maxBytes.map(ReadLimit.maxBytes).toSeq
    ls match {
      case Nil => ReadLimit.allAvailable()
      case Seq(one) => one
      case many => ReadLimit.compositeLimit(many.toArray)
    }
  }
}

object GraftStreamLimits {
  /** Default file cap per micro-batch: bounds a genesis replay's batches
    * without configuration (Delta's default for exactly this case).
    */
  val DefaultMaxFiles = 1000

  /** A ReadLimit back to (maxFiles, maxBytes) — shared by both streaming
    * sources; composite limits take the per-kind minimum.
    */
  def unpack(limit: ReadLimit): (Option[Int], Option[Long]) = limit match {
    case _: ReadAllAvailable => (None, None)
    case f: ReadMaxFiles => (Some(f.maxFiles()), None)
    case b: ReadMaxBytes => (None, Some(b.maxBytes()))
    case c: CompositeReadLimit =>
      val parts = c.getReadLimits.map(unpack)
      (parts.flatMap(_._1).minOption, parts.flatMap(_._2).minOption)
    case other => throw new UnsupportedOperationException(
      s"read limit ${other.getClass.getSimpleName} is not supported " +
        "(files and bytes are the manifest's units; rows are not recorded per file)")
  }

  def apply(options: org.apache.spark.sql.util.CaseInsensitiveStringMap)
      : GraftStreamLimits = {
    val files = Option(options.get("maxfilespertrigger")).map(_.trim) match {
      case Some(s) if s.equalsIgnoreCase("none") => None
      case Some(s) =>
        val n = s.toInt
        require(n > 0, s"maxFilesPerTrigger must be positive, got $n")
        Some(n)
      case None => Some(DefaultMaxFiles)
    }
    val bytes = Option(options.get("maxbytespertrigger")).map(_.trim).map { s =>
      val n = org.apache.spark.network.util.JavaUtils.byteStringAsBytes(s)
      require(n > 0L, s"maxBytesPerTrigger must be positive, got $s")
      n
    }
    GraftStreamLimits(files, bytes)
  }
}

class GraftScan(wh: AtomicWarehouse, table: String, logicalSchema: StructType,
    startingVersion: Option[Int], limits: GraftStreamLimits) extends Scan {

  override def readSchema(): StructType = logicalSchema

  override def description(): String = s"graft streaming scan of $table"

  /** Batch SELECTs never reach this: [[GraftRelationResolution]] replaces
    * the relation with the engine-built parquet plan during analysis. A
    * code path that still lands here is a bug worth a loud error, not a
    * slow fallback.
    */
  override def toBatch: org.apache.spark.sql.connector.read.Batch =
    throw new UnsupportedOperationException(
      s"batch reads of $table resolve through the analyzer rule; " +
        "this V2 scan only serves readStream")

  override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
    new GraftMicroBatchStream(wh, table, logicalSchema, startingVersion, limits)
}

/** JSON-round-trippable offset: (commit version, file index). `index` -1 ⇒
  * every file through `version` is consumed (the canonical whole-version
  * form; pre-r15 checkpoints omit the field and parse to it). `index` ≥ 0 ⇒
  * versions < `version` fully consumed plus the first `index` files the
  * manifest added at `version` — the admission-control split point inside
  * a large commit.
  */
case class GraftStreamOffset(version: Int, index: Int = -1) extends Offset {
  override def json(): String =
    if (index < 0) s"""{"version":$version}"""
    else s"""{"version":$version,"index":$index}"""
}

object GraftStreamOffset {
  def parse(json: String): GraftStreamOffset = {
    val v = """"version"\s*:\s*(\d+)""".r.findFirstMatchIn(json)
      .getOrElse(throw new IllegalArgumentException(s"bad graft offset: $json"))
      .group(1).toInt
    val i = """"index"\s*:\s*(-?\d+)""".r.findFirstMatchIn(json)
      .map(_.group(1).toInt).getOrElse(-1)
    GraftStreamOffset(v, math.max(i, -1))
  }
}

class GraftMicroBatchStream(wh: AtomicWarehouse, table: String,
    logicalSchema: StructType, startingVersion: Option[Int],
    limits: GraftStreamLimits)
    extends MicroBatchStream with SupportsAdmissionControl
    with SupportsTriggerAvailableNow {

  // Trigger.AvailableNow drains to the head observed at stream START and
  // stops — commits racing the drain wait for the next run
  @volatile private var availableNowCap: Option[Int] = None

  override def prepareForTriggerAvailableNow(): Unit =
    availableNowCap = Some(wh.headVersion())

  private def head(): Int = {
    val h = wh.headVersion()
    availableNowCap.fold(h)(math.min(h, _))
  }

  override def initialOffset(): Offset =
    // default: the head at stream start — new appends only (replay the
    // whole history with startingVersion=0; retention bounds it exactly
    // as it bounds appendsBetween)
    GraftStreamOffset(startingVersion.getOrElse(wh.headVersion()))

  override def getDefaultReadLimit: ReadLimit = limits.toReadLimit

  override def latestOffset(): Offset =
    throw new UnsupportedOperationException(
      "latestOffset(Offset, ReadLimit) drives this source (SupportsAdmissionControl)")

  override def reportLatestOffset(): Offset = GraftStreamOffset(wh.headVersion())

  /** Advance from `start` admitting whole files until a cap trips — the
    * walk reads ONLY the manifest (per-version add lists; byte sizes from
    * recorded stats), stops at the first over-cap file, and always admits
    * at least one file so a single oversized file still flows. Windows
    * that are not append-only refuse here, exactly as planning would.
    */
  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val s = start.asInstanceOf[GraftStreamOffset]
    val h = head()
    val (maxFiles, maxBytes) = unpack(limit)
    val base = if (s.index >= 0) s.version - 1 else s.version
    if (base >= h) return s
    if (maxFiles.isEmpty && maxBytes.isEmpty) return GraftStreamOffset(h)
    val byVersion = wh.appendedFilesByVersion(table, base, h)
    var nFiles = 0L
    var nBytes = 0L
    byVersion.foreach { case (v, fs) =>
      val startIdx = if (v == s.version && s.index >= 0) s.index else 0
      lazy val sizes = // bytes resolved only under a byte cap
        if (maxBytes.isDefined) wh.streamFileSizes(table, fs.drop(startIdx), h)
        else Map.empty[String, Long]
      var i = startIdx
      while (i < fs.size) {
        val b = if (maxBytes.isDefined) sizes.getOrElse(fs(i), 0L) else 0L
        val over = maxFiles.exists(nFiles + 1 > _) || maxBytes.exists(nBytes + b > _)
        if (over && nFiles > 0)
          return if (i == 0) GraftStreamOffset(v - 1)
          else GraftStreamOffset(v, i)
        nFiles += 1
        nBytes += b
        i += 1
      }
    }
    GraftStreamOffset(h)
  }

  private def unpack(limit: ReadLimit): (Option[Int], Option[Long]) =
    GraftStreamLimits.unpack(limit)

  override def deserializeOffset(json: String): Offset =
    GraftStreamOffset.parse(json)

  /** Partitions for the window's files, sized from the MANIFEST (stats
    * lines carry bytes since r15) — zero filesystem calls on the
    * log-recorded path, one directory listing as the legacy fallback;
    * never a per-file serial stat loop. Files larger than
    * `spark.sql.files.maxPartitionBytes` SPLIT into byte ranges (Spark's
    * own file-splitting contract: a backlog of a few huge files must fan
    * out across the cluster, not serialize on per-file tasks).
    */
  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[GraftStreamOffset]
    val e = end.asInstanceOf[GraftStreamOffset]
    if (s == e) return Array.empty
    val base = if (s.index >= 0) s.version - 1 else s.version
    val files = wh.appendedFilesByVersion(table, base, e.version).flatMap {
      case (v, fs) =>
        val lo = if (v == s.version && s.index >= 0) s.index else 0
        val hi = if (v == e.version && e.index >= 0) math.min(e.index, fs.size) else fs.size
        fs.slice(lo, hi)
    }
    val sizes = wh.streamFileSizes(table, files, e.version)
    val maxSplit = math.max(1L, shims.filesMaxPartitionBytes(wh.spark))
    files.flatMap { f =>
      val size = sizes(f)
      val path = s"${wh.path(table)}/$f"
      if (size <= maxSplit) Seq(GraftFilePartition(path, 0L, size, size))
      else (0L until size by maxSplit).map(off =>
        GraftFilePartition(path, off, math.min(maxSplit, size - off), size))
    }.toArray
  }

  /** Built ONCE per stream (lazy), not per micro-batch: the reader is
    * pinned to the STREAM-START schema under physical names — physical
    * names are stable across renames and positions match the logical
    * schema Spark fixed at stream start, so the physical-named rows ARE
    * the logical rows, and a mid-stream ADD COLUMN cannot widen the rows
    * out from under the fixed output schema (a per-batch recompute
    * could). Also saves a session clone + reader build per trigger.
    */
  private lazy val readerFactory: PartitionReaderFactory = {
    require(wh.physicalReadSchema(table).isDefined,
      s"streaming $table needs a manifest-recorded schema — write through " +
        "the manifest first")
    val m = wh.colMapOf(table)
    val phys = StructType(logicalSchema.fields.map(f =>
      f.copy(name = m.getOrElse(f.name, f.name))))
    GraftStreamReaderFactory(shims.parquetRowReader(wh.spark, phys))
  }

  override def createReaderFactory(): PartitionReaderFactory = readerFactory

  override def commit(end: Offset): Unit = ()

  override def stop(): Unit = ()
}

case class GraftFilePartition(path: String, start: Long, length: Long,
    fileSize: Long) extends InputPartition

case class GraftStreamReaderFactory(
    readFn: PartitionedFile => Iterator[InternalRow]) extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[GraftFilePartition]
    new PartitionReader[InternalRow] {
      private val it = readFn(
        shims.partitionedFileRange(p.path, p.start, p.length, p.fileSize, 0L))
      private var row: InternalRow = _
      override def next(): Boolean =
        if (it.hasNext) { row = it.next(); true } else false
      override def get(): InternalRow = row
      override def close(): Unit = ()
    }
  }
}
