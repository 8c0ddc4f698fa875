package graft.sql

import java.util

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.JoinedRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability,
  TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReader,
  PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset,
  ReadAllAvailable, ReadLimit, ReadMaxFiles, SupportsAdmissionControl,
  SupportsTriggerAvailableNow}
import org.apache.spark.sql.execution.datasources.PartitionedFile
import org.apache.spark.sql.graft.shims
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types.{IntegerType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

import graft.sources.AtomicWarehouse

/** The CHANGE FEED as a Structured Streaming source — Delta's
  * `readChangeFeed` shape:
  *
  * {{{
  * spark.readStream.format("graft-cdf")
  *   .option("root", "/data/wh").option("table", "facts/orders")
  *   .option("startingVersion", "0")      // default: current head
  *   .option("maxFilesPerTrigger", "50")  // default 1000; "none" = unbounded
  *   .option("maxBytesPerTrigger", "1g")  // optional; soft cap, ≥1 version per batch
  *   .load()
  * }}}
  *
  * Rate limits admit WHOLE commit versions (splitting a DML slice across
  * micro-batches would tear an update's image pair); the byte cap bounds a
  * single giant DML slice's successors from piling into its batch, sized
  * from manifest-recorded stats with zero planning filesystem calls.
  *
  * Row-level CDC where the append-only table stream refuses: each
  * micro-batch replays its commit window under [[AtomicWarehouse
  * .changesBetween]]'s exact semantics — appended data files stream as
  * `insert` rows, recorded DML slices stream as their
  * pre/post-image/delete rows, row-preserving maintenance (`cdfnoop`) is
  * invisible, and truncates / un-recorded rewrites / purged retention
  * windows REFUSE loudly. Output schema = the table's columns +
  * `_change_type` + `_commit_version`. A separate `format` (not a catalog
  * table read) because the schema differs from the table's — the same
  * reason Delta routes CDF reads through an option on its format.
  *
  * Column-mapping rename history streams through: slice files carry the
  * era-LOGICAL names of their commit, so each partition is read by a
  * per-era reader (requesting the era names in CURRENT positional order —
  * physical names bridge the eras) and data files read under their stable
  * PHYSICAL names; output is always the current logical schema,
  * bit-identical to the batch `changesBetween`.
  */
class GraftCdfSource extends TableProvider with DataSourceRegister {

  override def shortName(): String = "graft-cdf"

  private def resolve(options: CaseInsensitiveStringMap): (AtomicWarehouse, String) = {
    val root = Option(options.get("root")).getOrElse(throw new IllegalArgumentException(
      "graft-cdf needs .option(\"root\", <warehouse dir>)"))
    val table = Option(options.get("table")).getOrElse(throw new IllegalArgumentException(
      "graft-cdf needs .option(\"table\", <table name>)"))
    (new AtomicWarehouse(SparkSession.active, root), table)
  }

  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    val (wh, table) = resolve(options)
    val base = wh.catalogSchema(table).orElse(wh.inferSchema(table))
      .getOrElse(throw new IllegalArgumentException(
        s"graft-cdf: table $table has no schema (never written?)"))
    StructType(wh.cdfSchema(base).fields.toSeq :+
      StructField("_commit_version", IntegerType, nullable = false))
  }

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table = {
    val opts = new CaseInsensitiveStringMap(properties)
    val (wh, table) = resolve(opts)
    new GraftCdfTable(wh, table, schema)
  }
}

class GraftCdfTable(wh: AtomicWarehouse, table: String, outSchema: StructType)
    extends Table with SupportsRead {

  override def name(): String = s"graft-cdf:$table"

  override def schema(): StructType = outSchema

  override def capabilities(): util.Set[TableCapability] = {
    val s = new util.HashSet[TableCapability]()
    s.add(TableCapability.MICRO_BATCH_READ)
    s
  }

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    val startingVersion = Option(options.get("startingversion")).map(_.trim.toInt)
    val limits = GraftStreamLimits(options) // maxFilesPerTrigger + maxBytesPerTrigger
    new ScanBuilder {
      override def build(): Scan = new Scan {
        override def readSchema(): StructType = outSchema
        override def description(): String = s"graft cdf stream of $table"
        override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
          new GraftCdfMicroBatchStream(wh, table, outSchema, startingVersion,
            limits)
      }
    }
  }
}

class GraftCdfMicroBatchStream(wh: AtomicWarehouse, table: String,
    outSchema: StructType, startingVersion: Option[Int],
    limits: GraftStreamLimits) extends MicroBatchStream
    with SupportsAdmissionControl with SupportsTriggerAvailableNow {

  @volatile private var availableNowCap: Option[Int] = None

  override def prepareForTriggerAvailableNow(): Unit =
    availableNowCap = Some(wh.headVersion())

  private def head(): Int = {
    val h = wh.headVersion()
    availableNowCap.fold(h)(math.min(h, _))
  }

  override def initialOffset(): Offset =
    GraftStreamOffset(startingVersion.getOrElse(wh.headVersion()))

  override def getDefaultReadLimit: ReadLimit = limits.toReadLimit

  override def latestOffset(): Offset =
    throw new UnsupportedOperationException(
      "latestOffset(Offset, ReadLimit) drives this source (SupportsAdmissionControl)")

  override def reportLatestOffset(): Offset = GraftStreamOffset(wh.headVersion())

  /** Rate-limit a change-feed replay at COMMIT-VERSION granularity: a
    * version's changes land atomically with their commit (splitting a DML
    * slice across micro-batches would tear an update's image pair), so the
    * walk admits whole versions until the file or BYTE cap trips — always
    * at least one version, however large a single commit is (both caps are
    * soft in the standard way). The walk reads only the manifest (the
    * shared [[AtomicWarehouse.cdfWindowFiles]] plan; bytes come from
    * manifest-recorded stats, resolved only when a byte cap is set).
    */
  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val s = start.asInstanceOf[GraftStreamOffset]
    val h = head()
    if (s.version >= h) return s
    val (maxFiles, maxBytes) = GraftStreamLimits.unpack(limit)
    if (maxFiles.isEmpty && maxBytes.isEmpty) return GraftStreamOffset(h)
    wh.cdfWindowGuards(table, s.version, h)
    // admission walks the manifest only (no per-file existence probes over
    // the whole backlog EVERY trigger) — planning the admitted window
    // still runs the full guards
    val windows = wh.cdfWindowFiles(table, s.version, h, checkExistence = false)
    val sizes: Map[(Boolean, String), Long] =
      if (maxBytes.isEmpty) Map.empty
      else {
        val chT = wh.changesTable(table)
        Seq(false, true).flatMap { slice =>
          wh.streamFileSizes(if (slice) chT else table,
              windows.filter(_._3 == slice).flatMap(_._2).distinct, h)
            .map { case (f, b) => (slice, f) -> b }
        }.toMap
      }
    var nFiles = 0L
    var nBytes = 0L
    var admitted = 0
    windows.foreach { case (v, files, isSlice) =>
      val b = if (maxBytes.isEmpty) 0L
        else files.map(f => sizes.getOrElse((isSlice, f), 0L)).sum
      val over = maxFiles.exists(nFiles + files.size > _) ||
        maxBytes.exists(nBytes + b > _)
      if (over && admitted > 0) return GraftStreamOffset(v - 1)
      nFiles += files.size; nBytes += b; admitted += 1
    }
    GraftStreamOffset(h)
  }

  override def deserializeOffset(json: String): Offset = {
    val v = """"version"\s*:\s*(\d+)""".r.findFirstMatchIn(json)
      .getOrElse(throw new IllegalArgumentException(s"bad graft-cdf offset: $json"))
      .group(1).toInt
    GraftStreamOffset(v)
  }

  /** Partitions are sized from the MANIFEST (stats lines carry bytes) with
    * one directory listing as the legacy fallback — never a per-file serial
    * stat loop on the driver (the table-source planning contract).
    */
  // out schema = table columns + _change_type + _commit_version: data
  // files hold the first n (under PHYSICAL names), slice files the first
  // n+1 (under the MAIN table's era-LOGICAL names of their commit)
  private def dataSchema = StructType(outSchema.fields.dropRight(2))

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val (from, to) = (start.asInstanceOf[GraftStreamOffset].version,
      end.asInstanceOf[GraftStreamOffset].version)
    wh.cdfWindowGuards(table, from, to)
    val windows = wh.cdfWindowFiles(table, from, to)
    val chT = wh.changesTable(table)
    def sizesFor(slice: Boolean): Map[String, Long] = wh.streamFileSizes(
      if (slice) chT else table,
      windows.filter(_._3 == slice).flatMap(_._2).distinct, to)
    val dataSizes = sizesFor(slice = false)
    val sliceSizes = sizesFor(slice = true)
    val maxSplit = math.max(1L, shims.filesMaxPartitionBytes(wh.spark))
    windows.flatMap { case (v, files, isSlice) =>
      val dir = if (isSlice) wh.path(chT) else wh.path(table)
      val sizes = if (isSlice) sliceSizes else dataSizes
      // a slice partition carries its era's field names: the reader keyed
      // on them requests columns in CURRENT positional order, so rows come
      // back layout-correct with no executor-side projection
      val sliceNames: Seq[String] =
        if (isSlice) wh.eraLogicalSchema(table, dataSchema, v).fieldNames.toSeq
        else Nil
      files.flatMap { f =>
        val size = sizes(f)
        val path = s"$dir/$f"
        // large files split into byte ranges exactly as Spark's own scans
        if (size <= maxSplit)
          Seq(GraftCdfFilePartition(path, 0L, size, size, v, isSlice, sliceNames))
        else (0L until size by maxSplit).map(off =>
          GraftCdfFilePartition(path, off, math.min(maxSplit, size - off),
            size, v, isSlice, sliceNames))
      }
    }.toArray
  }

  // factory cached across micro-batches, rebuilt only when a NEW colmap
  // era appears mid-stream (a rename) — reader construction clones a
  // session each time and must not run per trigger
  @volatile private var cachedFactory: GraftCdfReaderFactory = _
  @volatile private var cachedEraCount = -1

  override def createReaderFactory(): PartitionReaderFactory = {
    val eras = wh.colmapEras(table)
    if (cachedFactory == null || eras.size != cachedEraCount) {
      // data files carry PHYSICAL names — stable across renames, one
      // reader serves every era; positions match the logical schema
      val m = wh.colMapOf(table)
      val physData = StructType(dataSchema.fields.map(f =>
        f.copy(name = m.getOrElse(f.name, f.name))))
      // one slice reader per column-mapping ERA the table has had (tiny
      // set: one per rename) — readers must build on the driver, so
      // enumerate up front and key by the era's field-name vector
      val ctField = outSchema.fields(outSchema.fields.length - 2)
      val sliceReaders: Map[Seq[String], PartitionedFile => Iterator[InternalRow]] =
        eras.map { era =>
          val eraSchema = wh.schemaUnderEra(table, dataSchema, era)
          eraSchema.fieldNames.toSeq ->
            shims.parquetRowReader(wh.spark,
              StructType(eraSchema.fields.toSeq :+ ctField))
        }.toMap
      cachedFactory =
        GraftCdfReaderFactory(shims.parquetRowReader(wh.spark, physData), sliceReaders)
      cachedEraCount = eras.size
    }
    cachedFactory
  }

  override def commit(end: Offset): Unit = ()

  override def stop(): Unit = ()
}

case class GraftCdfFilePartition(path: String, start: Long, length: Long,
    fileSize: Long, version: Int, isSlice: Boolean,
    sliceNames: Seq[String] = Nil) extends InputPartition

case class GraftCdfReaderFactory(
    readData: PartitionedFile => Iterator[InternalRow],
    sliceReaders: Map[Seq[String], PartitionedFile => Iterator[InternalRow]])
    extends PartitionReaderFactory {

  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[GraftCdfFilePartition]
    val pf = shims.partitionedFileRange(p.path, p.start, p.length, p.fileSize, 0L)
    // appended data files label every row `insert`; slices carry their own
    // _change_type — both gain the commit version
    val suffix: InternalRow =
      if (p.isSlice) InternalRow(p.version)
      else InternalRow(UTF8String.fromString("insert"), p.version)
    val it =
      if (p.isSlice) sliceReaders.getOrElse(p.sliceNames,
        throw new IllegalStateException(
          s"no slice reader for era columns ${p.sliceNames.mkString(",")} — " +
            "the era's colmap manifest was vacuumed out from under the stream"))(pf)
      else readData(pf)
    new PartitionReader[InternalRow] {
      private val joined = new JoinedRow
      private var row: InternalRow = _
      override def next(): Boolean =
        if (it.hasNext) { row = joined(it.next(), suffix); true } else false
      override def get(): InternalRow = row
      override def close(): Unit = ()
    }
  }
}
