package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Harness-table loaders + the reference's source option sets.
  *
  * The reference ingests CSV (with BOM-prone Cyrillic headers), JSON
  * (arrays of nested records), and JDBC tables (see SURVEY.md §2.1,
  * S1-S4). The harness tables are parquet; the csv/json readers here
  * carry the exact option sets the reference's semantics need and are
  * exercised by round-trip tests.
  */
object Tables {

  val harnessTables: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Load one harness table from an sf directory.
    *
    * `events.ts` has shipped in two parquet encodings across harness
    * generations: INT64 TIMESTAMP(NANOS) (no native Spark 4 type —
    * read as epoch-nanos long via nanosAsLong) and native
    * timestamp[us] with isAdjustedToUTC=false (read as
    * TIMESTAMP_NTZ). Both normalize to a session-TZ micros
    * TimestampType here, branching on the READ dtype rather than
    * assuming a format — see [[normalizeEventsTs]]. Queries must not
    * emit raw `ts` values to the oracle compare, only
    * truncated/derived forms.
    */
  /** Inferred-schema memo keyed by (path, mtime, length): a bare
    * `spark.read.parquet` runs a schema-inference job on EVERY call,
    * and the bench's 216 queries each open their tables afresh — the
    * memo pays that job once per distinct file state and pins the
    * schema on every later read (zero planning jobs). A regenerated
    * harness file changes mtime/length and misses.
    */
  private val schemaMemo = new java.util.concurrent.ConcurrentHashMap[
    String, org.apache.spark.sql.types.StructType]()

  def table(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val path = s"$sfDir/$name.parquet"
    val p = new org.apache.hadoop.fs.Path(path)
    val st = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .getFileStatus(p)
    val key = s"$path#${st.getModificationTime}:${st.getLen}"
    val schema = schemaMemo.computeIfAbsent(key,
      _ => spark.read.parquet(path).schema)
    val df = spark.read.schema(schema).parquet(path)
    if (name == "events") normalizeEventsTs(df) else df
  }

  /** Normalize an events frame's `ts` to micros TimestampType whatever
    * encoding the file carried:
    *   - LongType        → epoch-nanos (legacy harness data read under
    *                       nanosAsLong); truncate to micros.
    *   - TimestampNTZType→ timestamp[us] parquet with
    *                       isAdjustedToUTC=false; the session TZ is
    *                       pinned to UTC (GraftSession), so the cast
    *                       preserves the instant and matches DuckDB's
    *                       naive read of the same file.
    *   - TimestampType   → already what we want.
    * Anything else is a data contract break — fail loudly instead of
    * letting 19 downstream queries die at analysis one by one.
    */
  def normalizeEventsTs(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr, timestamp_micros}
    import org.apache.spark.sql.types._
    df.schema("ts").dataType match {
      case LongType         => df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampNTZType => df.withColumn("ts", col("ts").cast(TimestampType))
      case TimestampType    => df
      case other => throw new IllegalArgumentException(
        s"events.ts: expected INT64 nanos, TIMESTAMP_NTZ, or TIMESTAMP; got $other")
    }
  }

  /** S1: CSV scan — header, schema inference, UTF-8 (BOM handled by the
    * reader); reference site: datasets/create_logs_dataset.ipynb cell 1.
    * Inference stays on Spark's reader here, not the driver-side
    * `CsvSchemaBridge` that bronze reads use: a `multiLine` record
    * spans lines, which line-based inference cannot see.
    */
  def csv(spark: SparkSession, path: String): DataFrame =
    spark.read
      .option("header", "true")
      .option("inferSchema", "true")
      .option("encoding", "UTF-8")
      .option("multiLine", "true")
      .option("escape", "\"")
      .csv(path)

  /** S2: JSON scan of an array-of-records document; reference site:
    * datasets/create_scripts_dataset.ipynb cell 3 (json.load +
    * pd.json_normalize). Nested structs flatten via `col("a.*")`.
    */
  def json(spark: SparkSession, path: String): DataFrame =
    spark.read.option("multiLine", "true").json(path)

  /** S3/S4: JDBC scan with partitioned parallel read. The reference
    * streams whole Postgres tables via COPY (fetch_pluginsdb_*.py:19-28)
    * — on Spark the same is a partitioned JDBC read, no staging CSV.
    */
  def jdbc(
      spark: SparkSession,
      url: String,
      dbtable: String,
      props: java.util.Properties,
      partitionColumn: Option[String] = None,
      numPartitions: Int = 8,
      lowerBound: Long = 0L,
      upperBound: Long = Long.MaxValue): DataFrame = {
    val base = spark.read.format("jdbc")
      .option("url", url)
      .option("dbtable", dbtable)
    val withPart = partitionColumn match {
      case Some(c) =>
        base.option("partitionColumn", c)
          .option("numPartitions", numPartitions)
          .option("lowerBound", lowerBound)
          .option("upperBound", upperBound)
      case None => base
    }
    props.stringPropertyNames().toArray(Array.empty[String]).foldLeft(withPart) {
      (b, k) => b.option(k, props.getProperty(k))
    }.load()
  }
}
