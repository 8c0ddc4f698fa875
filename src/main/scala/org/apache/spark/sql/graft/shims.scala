package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Bridge between graft's custom Catalyst [[Expression]]s and the public
  * [[Column]] API. Spark 4 routes Column construction through ColumnNodes and
  * keeps the Expression⇄Column converters `private[sql]`, so this one-file shim
  * lives under `org.apache.spark.sql` — the standard pattern for third-party
  * extensions that ship native expressions.
  */
object shims {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** A DataFrame over an arbitrary logical plan — `Dataset.ofRows` is
    * `private[sql]`; the SQL catalog's relation builder needs it to splice
    * engine-built plans into analyzer rewrites.
    */
  def ofRows(spark: org.apache.spark.sql.SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** Run `body` on `exec` under the CALLER's Spark context: a clone of its
    * local properties (job group, job description, SQL execution id,
    * scheduler pool) and its active session. This is
    * `SQLExecution.withThreadLocalCaptured`, which takes the `classic`
    * session. A pool thread otherwise keeps the local properties it
    * inherited from whichever thread created it.
    */
  def withCallerContext[T](spark: org.apache.spark.sql.SparkSession,
      exec: java.util.concurrent.ExecutorService)(body: => T)
      : java.util.concurrent.CompletableFuture[T] =
    org.apache.spark.sql.execution.SQLExecution.withThreadLocalCaptured(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], exec)(body)

  /** Catalyst expression → V2 filter Predicate (`DataSourceV2Strategy` is
    * `private[sql]`) — the SQL catalog's DELETE rewrite uses it to decide
    * whether a condition reaches the engine's delete surface.
    */
  def translateFilterV2(e: Expression)
      : Option[org.apache.spark.sql.connector.expressions.filter.Predicate] =
    org.apache.spark.sql.execution.datasources.v2.DataSourceV2Strategy.translateFilterV2(e)

  /** Broadcast the session's Hadoop configuration for executor-side
    * FileSystem access (`SerializableConfiguration` is `private[spark]`) —
    * the distributed deletion-vector reader streams sidecar files on
    * executors and needs the same conf the driver's FS was built with.
    */
  def broadcastHadoopConf(spark: org.apache.spark.sql.SparkSession)
      : org.apache.spark.broadcast.Broadcast[org.apache.spark.util.SerializableConfiguration] =
    org.apache.spark.util.SerializableConfiguration.broadcast(
      spark.sparkContext, spark.sparkContext.hadoopConfiguration)

  /** Spark's own parquet row reader as a serializable per-file function —
    * what the streaming source's [[org.apache.spark.sql.connector.read
    * .PartitionReaderFactory]] runs on executors.
    * `buildReaderWithPartitionValues` is `private[sql]`; built from an
    * isolated session with the VECTORIZED reader disabled, because in the
    * batch-returning regime the function's Iterator[InternalRow] actually
    * yields ColumnarBatch (the FileScanRDD contract) — the row regime is
    * the one with the honest signature. Missing columns null-fill
    * (schema-evolution windows), the session's parquet conf (timezone,
    * nanosAsLong) carries through.
    */
  def parquetRowReader(spark: org.apache.spark.sql.SparkSession,
      requiredSchema: org.apache.spark.sql.types.StructType)
      : org.apache.spark.sql.execution.datasources.PartitionedFile =>
        Iterator[org.apache.spark.sql.catalyst.InternalRow] = {
    val ss = spark.newSession()
    ss.conf.set("spark.sql.parquet.enableVectorizedReader", "false")
    new org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat()
      .buildReaderWithPartitionValues(
        ss.asInstanceOf[org.apache.spark.sql.classic.SparkSession],
        dataSchema = requiredSchema,
        partitionSchema = new org.apache.spark.sql.types.StructType(),
        requiredSchema = requiredSchema,
        filters = Nil,
        options = Map.empty,
        hadoopConf = ss.sessionState.newHadoopConf())
  }

  /** The session's `spark.sql.files.maxPartitionBytes` (`SQLConf` is
    * `private[sql]`) — the split size the streaming sources share with
    * Spark's own file scans.
    */
  def filesMaxPartitionBytes(spark: org.apache.spark.sql.SparkSession): Long =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.conf.filesMaxPartitionBytes

  /** A [[PartitionedFile]] for one whole file (`private[sql]` constructor). */
  def partitionedFile(path: String, fileSize: Long, modificationTime: Long)
      : org.apache.spark.sql.execution.datasources.PartitionedFile =
    partitionedFileRange(path, 0L, fileSize, fileSize, modificationTime)

  /** A byte-range split of a file — the parquet reader serves the row
    * groups whose midpoint falls inside [start, start+length), Spark's own
    * file-splitting contract, so ranges partition a file's rows exactly.
    */
  def partitionedFileRange(path: String, start: Long, length: Long,
      fileSize: Long, modificationTime: Long)
      : org.apache.spark.sql.execution.datasources.PartitionedFile =
    org.apache.spark.sql.execution.datasources.PartitionedFile(
      partitionValues = org.apache.spark.sql.catalyst.InternalRow.empty,
      filePath = org.apache.spark.paths.SparkPath.fromPathString(path),
      start = start,
      length = length,
      locations = Array.empty,
      modificationTime = modificationTime,
      fileSize = fileSize)

  /** A Hadoop configuration prepared for writing `InternalRow`s as parquet
    * with Spark's own [[org.apache.spark.sql.execution.datasources.parquet
    * .ParquetWriteSupport]] (all `private[sql]`): schema, legacy-format /
    * timestamp-type / field-id / rebase-mode settings and the session
    * compression codec, mirrored from what `ParquetFileFormat.prepareWrite`
    * sets. Built on the DRIVER from the session, shipped serializable to
    * write tasks — the streaming table sink's executor-side writers.
    */
  def parquetWriteConf(spark: org.apache.spark.sql.SparkSession,
      schema: org.apache.spark.sql.types.StructType)
      : org.apache.spark.util.SerializableConfiguration = {
    import org.apache.spark.sql.internal.SQLConf
    val ss = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val sqlConf = ss.sessionState.conf
    val conf = ss.sessionState.newHadoopConf()
    conf.set(org.apache.parquet.hadoop.ParquetOutputFormat.WRITE_SUPPORT_CLASS,
      classOf[org.apache.spark.sql.execution.datasources.parquet.ParquetWriteSupport].getName)
    org.apache.spark.sql.execution.datasources.parquet.ParquetWriteSupport
      .setSchema(schema, conf)
    conf.set(SQLConf.PARQUET_WRITE_LEGACY_FORMAT.key,
      sqlConf.writeLegacyParquetFormat.toString)
    conf.set(SQLConf.PARQUET_OUTPUT_TIMESTAMP_TYPE.key,
      sqlConf.parquetOutputTimestampType.toString)
    conf.set(SQLConf.PARQUET_FIELD_ID_WRITE_ENABLED.key,
      sqlConf.parquetFieldIdWriteEnabled.toString)
    conf.set(SQLConf.PARQUET_ANNOTATE_VARIANT_LOGICAL_TYPE.key,
      sqlConf.getConf(SQLConf.PARQUET_ANNOTATE_VARIANT_LOGICAL_TYPE).toString)
    conf.set(SQLConf.PARQUET_REBASE_MODE_IN_WRITE.key,
      sqlConf.getConf(SQLConf.PARQUET_REBASE_MODE_IN_WRITE).toString)
    conf.set(SQLConf.PARQUET_INT96_REBASE_MODE_IN_WRITE.key,
      sqlConf.getConf(SQLConf.PARQUET_INT96_REBASE_MODE_IN_WRITE).toString)
    conf.set(SQLConf.SESSION_LOCAL_TIMEZONE.key, sqlConf.sessionLocalTimeZone)
    conf.set(org.apache.parquet.hadoop.ParquetOutputFormat.COMPRESSION,
      new org.apache.spark.sql.execution.datasources.parquet.ParquetOptions(
        Map.empty[String, String], sqlConf).compressionCodecClassName)
    new org.apache.spark.util.SerializableConfiguration(conf)
  }

  /** Open one parquet file for `InternalRow` writes at `path` (executor
    * side; `conf` from [[parquetWriteConf]]). Caller writes rows and MUST
    * `close()` — the footer lands on close.
    */
  def openParquetRowWriter(conf: org.apache.hadoop.conf.Configuration,
      path: String): org.apache.spark.sql.execution.datasources.OutputWriter = {
    val ctx = new org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl(
      conf, new org.apache.hadoop.mapreduce.TaskAttemptID())
    new org.apache.spark.sql.execution.datasources.parquet.ParquetOutputWriter(path, ctx)
  }
}
