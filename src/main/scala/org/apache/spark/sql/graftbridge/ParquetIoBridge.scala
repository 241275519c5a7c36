package org.apache.spark.sql.graftbridge

import org.apache.hadoop.conf.Configuration
import org.apache.spark.TaskContext
import org.apache.spark.paths.SparkPath
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.UnsafeProjection
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.execution.datasources.{OutputWriter, OutputWriterFactory, PartitionedFile}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types.StructType
import org.apache.spark.util.SerializableConfiguration

/** The second audited bridge file (round 16, the first being
  * [[StreamingFrameBridge]]): the SQL row-level DML path
  * (`SupportsRowLevelOperations` → `ReplaceData`) plans its read as a
  * REAL DSv2 `Batch` and its write as a REAL `BatchWrite` — Spark's
  * group-based scan planning constructs the `DataSourceV2ScanRelation`
  * directly, with no `V1Scan` wrapping and no V1 write fallback, so
  * the V1-relation composition every other face rides is structurally
  * unavailable there. Rather than re-implement a parquet reader and
  * writer, this bridge exposes the exact seams Spark's own file-source
  * execution uses:
  *
  *  - [[ParquetFileFormat.buildReaderWithPartitionValues]] — the
  *    `PartitionedFile => Iterator[InternalRow]` closure `FileScanRDD`
  *    executes (vectorized parquet included; like `FileScanRDD`, the
  *    consumer must unwrap `ColumnarBatch` elements — [[rows]]).
  *  - [[ParquetFileFormat.prepareWrite]] — the serializable
  *    [[OutputWriterFactory]] `FileFormatWriter` ships to executors.
  *
  * Everything here is reflection-free public-at-bytecode Spark
  * execution API, reachable because this package sits under
  * `org.apache.spark.sql` — the same placement Spark's own external
  * connector modules compile against. Keeping every Spark-private
  * touch in `graftbridge` keeps the audit surface three small files,
  * the third being [[CsvSchemaBridge]] (bronze CSV schema inference in
  * the driver).
  */
object ParquetIoBridge {

  /** Driver-side: a serializable per-file reader over `dataSchema`
    * files projecting `requiredSchema`. NO filters are passed down —
    * the row-level CoW contract is whole-group fidelity (a pushed
    * predicate could drop row groups whose non-matching rows the
    * rewrite must carry verbatim).
    */
  def parquetReader(spark: SparkSession, dataSchema: StructType,
      requiredSchema: StructType, returningBatch: Boolean = false)
      : PartitionedFile => Iterator[InternalRow] =
    new ParquetFileFormat().buildReaderWithPartitionValues(
      spark, dataSchema, new StructType(), requiredSchema,
      Seq.empty,
      // returningBatch=false: rows, not ColumnarBatch elements (the
      // vectorized reader still runs underneath and serves row
      // views) — the row-shaped DSv2 PartitionReader contract.
      // returningBatch=true (round 17, ONLY legal when
      // [[supportsBatch]] answered true for this schema): the
      // iterator yields ColumnarBatch elements cast as InternalRow,
      // exactly what FileScanRDD consumes on the batch path — the
      // columnar pass-through for the row-level CoW scan.
      Map(org.apache.spark.sql.execution.datasources.FileFormat
        .OPTION_RETURNING_BATCH -> returningBatch.toString),
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
        .sessionState.newHadoopConf())

  /** Driver-side: can the vectorized reader serve whole BATCHES for
    * this read schema under the session's config? (The gate for
    * `returningBatch = true` — passing it when this is false throws
    * in the reader.)
    */
  def supportsBatch(spark: SparkSession, schema: StructType): Boolean =
    new ParquetFileFormat().supportBatch(spark, schema)

  /** An un-partitioned [[PartitionedFile]] covering one whole file. */
  def wholeFile(absPath: String, length: Long): PartitionedFile =
    new PartitionedFile(InternalRow.empty,
      SparkPath.fromPathString(absPath), 0L, length,
      Array.empty[String], 0L, length,
      Map.empty[String, Any])

  /** The EXACT string `input_file_name()` returns for this file when
    * Spark's own file source reads it (`SparkPath.fromFileStatus →
    * urlEncoded` — the value `FileScanRDD` sets into
    * `InputFileBlockHolder`). The row-level scan must emit its
    * file-identity column in THIS format: the runtime group filter's
    * injected row predicate compares it BYTE-FOR-BYTE against values
    * collected from an `input_file_name`-backed scan, and a format
    * drift would silently drop every scanned row from the rewrite.
    */
  def inputFileNameOf(
      st: org.apache.hadoop.fs.FileStatus): String =
    SparkPath.fromFileStatus(st).urlEncoded

  /** Executor-side: unwrap the reader's iterator exactly like
    * `FileScanRDD` does — a vectorized read yields `ColumnarBatch`
    * elements cast as `InternalRow`; flatten them to their row
    * iterators (rows are REUSED views: consume or copy each before
    * advancing).
    */
  def rows(raw: Iterator[InternalRow]): Iterator[InternalRow] =
    raw.flatMap { e =>
      (e: Any) match {
        case b: org.apache.spark.sql.vectorized.ColumnarBatch =>
          scala.jdk.CollectionConverters.IteratorHasAsScala(
            b.rowIterator()).asScala
        case r: InternalRow => Iterator.single(r)
      }
    }

  /** Executor-side: a name-based projection from rows shaped `from`
    * to rows shaped `to` (every `to` field must exist in `from`).
    * UnsafeProjection output is a REUSED buffer — same consume-or-copy
    * contract as the reader rows.
    */
  def projector(from: StructType, to: StructType)
      : InternalRow => InternalRow = {
    val inAttrs = DataTypeUtils.toAttributes(from)
    val exprs = to.fields.toSeq.map(f => inAttrs(from.fieldIndex(f.name)))
    val proj = UnsafeProjection.create(exprs, inAttrs)
    proj
  }

  /** [[projector]] where some target fields are per-partition
    * CONSTANTS (e.g. the file-identity metadata column) instead of
    * source fields.
    */
  def projectorWithConstants(from: StructType, to: StructType,
      constants: Map[String, Any]): InternalRow => InternalRow = {
    val inAttrs = DataTypeUtils.toAttributes(from)
    val exprs = to.fields.toSeq.map { f =>
      constants.get(f.name) match {
        case Some(v) =>
          org.apache.spark.sql.catalyst.expressions.Literal
            .create(v, f.dataType)
        case None => inAttrs(from.fieldIndex(f.name))
      }
    }
    UnsafeProjection.create(exprs, inAttrs)
  }

  /** Driver-side: the parquet [[OutputWriterFactory]] plus the job
    * configuration `prepareWrite` populated (compression codec,
    * schema, committer settings) — BOTH must ship to the executors.
    */
  def parquetWriterFactory(spark: SparkSession, schema: StructType)
      : (OutputWriterFactory, SerializableConfiguration) = {
    val job = org.apache.hadoop.mapreduce.Job.getInstance(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
        .sessionState.newHadoopConf())
    val factory = new ParquetFileFormat().prepareWrite(
      spark, job, Map.empty, schema)
    (factory, new SerializableConfiguration(job.getConfiguration))
  }

  /** Executor-side: open one parquet part writer at `absPath`. */
  def openWriter(factory: OutputWriterFactory,
      conf: SerializableConfiguration, absPath: String,
      schema: StructType): OutputWriter = {
    import org.apache.hadoop.mapreduce.{JobID, TaskAttemptID, TaskID, TaskType}
    import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
    val tc = TaskContext.get()
    val attemptId = new TaskAttemptID(
      new TaskID(new JobID("graft-cow", 0), TaskType.MAP,
        if (tc == null) 0 else tc.partitionId()),
      if (tc == null) 0 else tc.attemptNumber())
    factory.newInstance(absPath, schema,
      new TaskAttemptContextImpl(conf.value, attemptId))
  }

  /** The factory's file extension (codec-dependent, e.g.
    * `.snappy.parquet`) — resolved executor-side with the same
    * context shape as [[openWriter]].
    */
  def fileExtension(factory: OutputWriterFactory,
      conf: SerializableConfiguration): String = {
    import org.apache.hadoop.mapreduce.{JobID, TaskAttemptID, TaskID, TaskType}
    import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
    factory.getFileExtension(new TaskAttemptContextImpl(conf.value,
      new TaskAttemptID(new TaskID(new JobID("graft-cow", 0),
        TaskType.MAP, 0), 0)))
  }
}
