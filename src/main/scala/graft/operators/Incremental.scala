package graft.operators

import graft.QueryDef
import graft.sources.Tables.table
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Incremental-load semantics (SURVEY.md §2.8, K5/S9): high-watermark
  * append with schema evolution.
  *
  * The reference's pattern: read `max(key)` from the sink, insert only
  * rows above it, `ALTER TABLE ADD COLUMN IF NOT EXISTS` for new
  * columns. Here the sink is parquet (the 100 TB path — a table
  * format, not JDBC): the watermark read is a parquet-stats-only
  * aggregate, the append is partitioned, and evolution is mergeSchema
  * on read. `JdbcDdl` provides the DDL generation for an actual JDBC
  * sink.
  */
object Incremental {

  /** Does the sink contain data files? Hadoop FS API, not java.io —
    * a `java.io.File` probe silently reports hdfs:///s3a:// paths as
    * absent, which would re-ingest the full source every run. Hidden
    * entries (_SUCCESS, .staging) don't count: a dir holding only
    * markers must read as empty or the parquet reader fails schema
    * inference.
    */
  private def sinkNonEmpty(spark: SparkSession, path: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.exists(p) && fs.listStatus(p).exists { st =>
      val n = st.getPath.getName
      !n.startsWith("_") && !n.startsWith(".")
    }
  }

  /** Sink max of `column` from parquet FOOTER statistics — O(files)
    * metadata reads, never a data scan, which is what makes the
    * watermark read viable against a 100 TB sink. Returns the max as
    * a comparison Column, or None when footers can't answer exactly
    * (no stats, an unsupported type — INT96 stats are unreliable — or
    * a string bound parquet may have cut) and the caller must fall
    * back to an aggregate scan. Files missing the column (schema
    * evolution) contribute nothing, matching the mergeSchema read's
    * null semantics; a chunk with no non-null values is skipped the
    * same way.
    */
  private[graft] def footerMax(spark: SparkSession, path: String,
      column: String, dt: DataType): Option[org.apache.spark.sql.Column] = {
    val conf = spark.sparkContext.hadoopConfiguration
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(conf)
    val rootUri = fs.makeQualified(root).toUri.getPath
    val files = {
      val it = fs.listFiles(root, true)
      val buf = scala.collection.mutable.ArrayBuffer.empty[org.apache.hadoop.fs.Path]
      while (it.hasNext) {
        val st = it.next()
        val fp = st.getPath
        // EVERY path component below the root must be non-hidden, not
        // just the leaf — a crashed writer's _temporary/.../part.parquet
        // would otherwise inflate the watermark with uncommitted data
        // (Spark's own reader skips hidden components the same way)
        val rel = fs.makeQualified(fp).toUri.getPath.stripPrefix(rootUri)
        val hiddenComponent = rel.split("/").exists(seg =>
          seg.startsWith("_") || seg.startsWith("."))
        if (st.isFile && fp.getName.endsWith(".parquet") && !hiddenComponent)
          buf += fp
      }
      buf.toSeq
    }
    footerMaxOfFiles(spark, files, column, dt)
  }

  /** Exact per-file footer statistics for one column, in the stats'
    * PRIMITIVE domain — also the decoded form of a manifest line's
    * stats group ([[ManifestStats]] encodes and decodes it).
    */
  private[graft] sealed trait FooterStats
  /** Every chunk of the file is provably all-null: no min/max exists,
    * and the file contributes nothing to a fold (distinct from "stats
    * unavailable", which must fail the whole fold).
    */
  private[graft] case object AllNullFile extends FooterStats
  /** Long-backed family: Long/Int/Short/Byte, Timestamp normalized to
    * MICROS, Date as unix days.
    */
  private[graft] final case class LongStats(min: Long, max: Long)
      extends FooterStats
  private[graft] final case class DoubleStats(min: Double, max: Double)
      extends FooterStats
  /** String/binary family: the bounds are the UTF-8 bytes exactly as
    * parquet ordered them (unsigned lexicographic — PARQUET-686's
    * UNSIGNED sort order, which modern writers use for UTF8). Kept as
    * bytes so every later comparison happens in the SAME order the
    * footer computed; the manifest serializes them base64 (raw string
    * bounds could carry the manifest's own tab/newline separators).
    * Parquet truncation (if a writer enables it) keeps min a lower
    * bound and max an upper bound, so the interval stays a may-contain
    * superset — pruning on it is conservative either way; exact reads
    * refuse such bounds ([[ManifestStats.foldExact]]).
    */
  private[graft] final case class BinaryStats(min: Array[Byte],
      max: Array[Byte]) extends FooterStats

  /** Open ONE parquet footer and evaluate `f` over it — the shared
    * open/close/fallback seam: None on any read surprise, so every
    * footer consumer degrades to its scan fallback rather than trust
    * a partial answer.
    */
  private def withFooter[A](spark: SparkSession,
      file: org.apache.hadoop.fs.Path)(
      f: org.apache.parquet.hadoop.metadata.ParquetMetadata => A)
      : Option[A] = {
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    try {
      val reader = ParquetFileReader.open(HadoopInputFile.fromPath(
        file, spark.sparkContext.hadoopConfiguration))
      try Some(f(reader.getFooter)) finally reader.close()
    } catch { case _: Exception => None }
  }

  /** Per-column stats AND the exact row count of ONE file from a
    * SINGLE footer open — what [[graft.operators.AtomicIncrement]]'s
    * stage path uses (the one-open-per-column shape paid N+1 footer
    * round trips per staged file; on object storage each open is a
    * round trip, so a 200-file × 5-column stage was 1200 serial
    * opens). A column the footer can't answer exactly is simply
    * absent from the map; a failed open returns (empty, None).
    */
  private[graft] def footerStatsOfFileAll(spark: SparkSession,
      file: org.apache.hadoop.fs.Path, fields: Seq[StructField])
      : (Map[String, FooterStats], Option[Long]) = {
    import scala.jdk.CollectionConverters._
    withFooter(spark, file) { footer =>
      (fields.flatMap(f =>
          columnStatsOf(footer, f.name, f.dataType).map(f.name -> _))
        .toMap,
        footer.getBlocks.asScala.map(_.getRowCount).sum)
    } match {
      case Some((stats, rows)) => (stats, Some(rows))
      case None => (Map.empty, None)
    }
  }

  /** (min, max) of `column` in ONE parquet file, from footer metadata
    * only. None when the footer cannot answer EXACTLY — missing stats,
    * a NaN-suppressed float chunk (parquet-mr omits min/max there), an
    * unsupported type — so callers fall back to scan-derived values
    * rather than trust a partial answer.
    */
  private[graft] def footerStatsOfFile(spark: SparkSession,
      file: org.apache.hadoop.fs.Path, column: String,
      dt: DataType): Option[FooterStats] =
    withFooter(spark, file)(columnStatsOf(_, column, dt)).flatten

  private def columnStatsOf(
      footer: org.apache.parquet.hadoop.metadata.ParquetMetadata,
      column: String, dt: DataType): Option[FooterStats] = {
    import scala.jdk.CollectionConverters._
    val supported = dt match {
      case LongType | IntegerType | ShortType | ByteType |
           DoubleType | FloatType | TimestampType | DateType |
           StringType => true
      case _ => false
    }
    if (!supported) return None
    try {
      var longs: Option[(Long, Long)] = None
      var doubles: Option[(Double, Double)] = None
      var binaries: Option[(Array[Byte], Array[Byte])] = None
      locally {
        // timestamp unit from the column's logical type: stats are in
        // the WRITER's unit (MILLIS under outputTimestampType=
        // TIMESTAMP_MILLIS), and a micros assumption would build a
        // 1000x-early watermark and silently re-append everything
        val tsToMicros: Long => Long =
          if (dt != TimestampType) identity
          else {
            import org.apache.parquet.schema.LogicalTypeAnnotation
            import LogicalTypeAnnotation.{TimeUnit, TimestampLogicalTypeAnnotation}
            val fld = footer.getFileMetaData.getSchema.getFields.asScala
              .find(_.getName == column)
              .getOrElse(throw new IllegalStateException("column absent"))
            fld.getLogicalTypeAnnotation match {
              case t: TimestampLogicalTypeAnnotation => t.getUnit match {
                case TimeUnit.MICROS => identity
                case TimeUnit.MILLIS => (v: Long) => math.multiplyExact(v, 1000L)
                case _ => throw new IllegalStateException("unsupported ts unit")
              }
              case _ => throw new IllegalStateException("untyped timestamp")
            }
          }
        def foldLong(mn: Long, mx: Long): Unit =
          longs = Some(longs.fold((mn, mx)) { case (a, b) =>
            (math.min(a, mn), math.max(b, mx)) })
        def foldDouble(mn: Double, mx: Double): Unit =
          doubles = Some(doubles.fold((mn, mx)) { case (a, b) =>
            (math.min(a, mn), math.max(b, mx)) })
        def foldBinary(mn: Array[Byte], mx: Array[Byte]): Unit =
          binaries = Some(binaries.fold((mn, mx)) { case (a, b) =>
            (if (java.util.Arrays.compareUnsigned(mn, a) < 0) mn else a,
              if (java.util.Arrays.compareUnsigned(mx, b) > 0) mx else b)
          })
        footer.getBlocks.forEach { b =>
          b.getColumns.forEach { c =>
            if (c.getPath.toDotString == column) {
              val st = c.getStatistics
              if (st == null) throw new IllegalStateException("no stats")
              if (st.hasNonNullValue) {
                (st.genericGetMin, st.genericGetMax) match {
                  case (mn: java.lang.Long, mx: java.lang.Long) =>
                    if (dt == TimestampType)
                      foldLong(tsToMicros(mn.longValue), tsToMicros(mx.longValue))
                    else foldLong(mn.longValue, mx.longValue)
                  case (mn: java.lang.Integer, mx: java.lang.Integer) =>
                    foldLong(mn.longValue, mx.longValue)
                  case (mn: java.lang.Double, mx: java.lang.Double) =>
                    foldDouble(mn.doubleValue, mx.doubleValue)
                  case (mn: java.lang.Float, mx: java.lang.Float) =>
                    foldDouble(mn.doubleValue, mx.doubleValue)
                  case (mn: org.apache.parquet.io.api.Binary,
                        mx: org.apache.parquet.io.api.Binary) =>
                    foldBinary(mn.getBytes, mx.getBytes)
                  case _ => throw new IllegalStateException("unsupported stats type")
                }
              } else if (!(st.isNumNullsSet && st.getNumNulls == c.getValueCount)) {
                // hasNonNullValue=false can mean "stats not recorded" —
                // only a provably all-null chunk may be skipped;
                // anything else must fall back to the scan
                throw new IllegalStateException("stats not recorded")
              }
            }
          }
        }
      }
      (longs, doubles, binaries) match {
        case (Some((mn, mx)), None, None) => Some(LongStats(mn, mx))
        case (None, Some((mn, mx)), None) => Some(DoubleStats(mn, mx))
        case (None, None, Some((mn, mx))) => Some(BinaryStats(mn, mx))
        case (None, None, None) => Some(AllNullFile)
        case _ => None // mixed primitive families: never for one column
      }
    } catch {
      case _: Exception => None // any surprise → exact fallback scan
    }
  }

  /** [[footerMax]] over an EXPLICIT file list — the entry point for
    * manifest-committed sinks ([[AtomicIncrement]]), whose data files
    * live under hidden directories a recursive listing must skip. The
    * files' footer stats go through [[ManifestStats.foldExact]], so any
    * file that cannot answer exactly (or a string bound parquet may
    * have cut) fails the whole fold (scan fallback), stopping at that
    * file; all-null files contribute nothing.
    */
  private[graft] def footerMaxOfFiles(spark: SparkSession,
      files: Seq[org.apache.hadoop.fs.Path], column: String,
      dt: DataType): Option[org.apache.spark.sql.Column] =
    ManifestStats.foldExact(
      files.iterator.map(footerStatsOfFile(spark, _, column, dt)))
      .flatMap(ManifestStats.maxLiteral(dt, _))

  /** Append only rows with watermarkCol strictly above the sink's
    * current max. Returns the number of appended rows. Idempotent:
    * re-running with the same input appends 0. The watermark comes
    * from parquet footer statistics when they can answer exactly;
    * otherwise from a mergeSchema aggregate scan.
    */
  def appendIncrement(df: DataFrame, path: String, watermarkCol: String): Long = {
    val spark = df.sparkSession
    // resolve case-insensitively like every other column reference in
    // Spark — a strict df.schema(name) lookup would reject "Date" vs
    // "date" that max()/col() happily accept
    val resolved = df.schema.fields
      .find(_.name.equalsIgnoreCase(watermarkCol))
      .getOrElse(throw new IllegalArgumentException(
        s"watermark column '$watermarkCol' not in ${df.columns.mkString(",")}"))
    val wmExpr: Option[org.apache.spark.sql.Column] =
      if (!sinkNonEmpty(spark, path)) None
      else footerMax(spark, path, resolved.name, resolved.dataType)
        .orElse(
          Option(spark.read.option("mergeSchema", "true").parquet(path)
            .agg(max(watermarkCol)).head().get(0)).map(lit))
    val fresh = wmExpr match {
      case Some(w) => df.filter(col(watermarkCol) > w)
      case None => df
    }
    // count once via an accumulator-free two-phase write: cache the
    // increment (it is the small delta, not the full table)
    fresh.cache()
    val n = fresh.count()
    if (n > 0) fresh.write.mode("append").parquet(path)
    fresh.unpersist()
    n
  }

  /** Read an evolved sink (union of all historical schemas). */
  def readEvolved(spark: SparkSession, path: String): DataFrame =
    spark.read.option("mergeSchema", "true").parquet(path)

  /** The 100 TB flavor (SURVEY.md §7.5 #7): sink partitioned by a
    * date-derived column; the watermark is the max *partition value*,
    * read from the directory listing — pure metadata, no data scan of
    * the sink — and the append touches only partitions above it.
    * Semantics: everything in a partition lands atomically-per-file
    * with the partition dir as the visibility unit; re-running with
    * the same input appends 0 (same strict > filter as the row-level
    * variant, at partition granularity).
    */
  def appendIncrementPartitioned(df: DataFrame, path: String,
      partitionCol: String): Long = {
    val spark = df.sparkSession
    val p = new org.apache.hadoop.fs.Path(path)
    val hfs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // dir names are Hive-escaped (a timestamp partition writes
    // "ts=2024-01-01 10%3A00%3A00"); without unescaping, the cast
    // below yields null, the filter becomes col > null, and every
    // later run silently appends 0 rows
    val existing: Array[String] =
      if (hfs.exists(p)) hfs.listStatus(p).filter(_.isDirectory)
        .map(_.getPath.getName).filter(_.startsWith(s"$partitionCol="))
        .map(n => org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
          .unescapePathName(n.stripPrefix(s"$partitionCol=")))
      else Array.empty
    // the watermark is the max in the COLUMN's type, not the max dir
    // string: lexicographic max picks '9' over '10' for numeric
    // partitions and would silently skip (or re-append) partitions.
    // The filter literal is cast to the column type for the same
    // reason. Date-style fixed-width strings order identically either
    // way.
    val dt = df.schema(partitionCol).dataType
    // a null partition value lands as __HIVE_DEFAULT_PARTITION__ —
    // never a watermark candidate, and unparseable for numeric
    // columns (it would NumberFormatException the whole ingest)
    val parseable = existing.filter { v =>
      dt match {
        case LongType | IntegerType | ShortType | ByteType => v.toLongOption.isDefined
        case DoubleType | FloatType => v.toDoubleOption.isDefined
        case _ => v != "__HIVE_DEFAULT_PARTITION__"
      }
    }
    val maxPart: Option[String] =
      if (parseable.isEmpty) None
      else Some(dt match {
        case LongType | IntegerType | ShortType | ByteType => parseable.maxBy(_.toLong)
        case DoubleType | FloatType => parseable.maxBy(_.toDouble)
        case _ => parseable.max
      })
    val fresh = maxPart match {
      case Some(m) => df.filter(col(partitionCol) > lit(m).cast(dt))
      case None => df
    }
    fresh.cache()
    val n = fresh.count()
    if (n > 0) fresh.write.mode("append")
      .partitionBy(partitionCol).parquet(path)
    fresh.unpersist()
    n
  }

  /** The S9/K5 watermark semantics as a declared query: max over the
    * "sink" slice, then only strictly-newer source rows survive. The
    * scalar watermark broadcasts — no driver round-trip, and on a real
    * sink table the max() is a stats-only read.
    */
  def defs: Map[String, QueryDef] = Map(
    "q_watermark_filter" -> QueryDef(
      (s, dir) => {
        val o = table(s, dir, "orders")
        val sink = o.filter(col("o_orderkey") % 3 =!= 0)
        val wm = sink.agg(max("o_orderdate").as("wm"))
        o.join(broadcast(wm), o("o_orderdate") > wm("wm"))
          .agg(count(lit(1)).as("n_fresh"),
            min("o_orderdate").cast(StringType).as("first_fresh"),
            max("o_orderdate").cast(StringType).as("last_fresh"))
      },
      """SELECT count(*) AS n_fresh,
        |  CAST(min(o_orderdate) AS VARCHAR) AS first_fresh,
        |  CAST(max(o_orderdate) AS VARCHAR) AS last_fresh
        |FROM orders
        |WHERE o_orderdate > (SELECT max(o_orderdate) FROM orders
        |                     WHERE o_orderkey % 3 <> 0)""".stripMargin)
  )
}

/** DDL generation for the JDBC flavor of K5 — Spark's JDBC writer
  * cannot add columns; the reference does `ALTER TABLE ... ADD COLUMN
  * IF NOT EXISTS` per new column (create_projectsync_dataset.ipynb
  * cell 17, `_ensure_table_and_columns`).
  */
object JdbcDdl {

  /** Target-database type mapping and syntax capabilities. The engine
    * emits dialect-correct DDL instead of one lowest-common
    * denominator: the reference's sinks are PostgreSQL
    * (extractors/fetch_pluginsdb_ad.py:23-28,
    * create_projectsync_dataset.ipynb cell 17), the test database is
    * embedded Derby — JdbcSpec runs the SAME generation path live on
    * Derby that the goldens pin for Postgres.
    */
  sealed trait Dialect {
    def sqlType(dt: DataType): String
    /** Does the target support `IF NOT EXISTS` on CREATE TABLE /
      * ADD COLUMN? Without it the caller treats "already exists"
      * SQLExceptions as success (the reference's checkfirst). */
    def ifNotExists: Boolean
    protected final def guard: String = if (ifNotExists) "IF NOT EXISTS " else ""
    private[JdbcDdl] def createPrefix(table: String): String =
      s"CREATE TABLE $guard$table ("
    private[JdbcDdl] def addColumn(table: String, col: String,
        tpe: String): String =
      s"""ALTER TABLE $table ADD COLUMN $guard"$col" $tpe"""
  }

  /** The reference's production target. Spark's TimestampType is a
    * session-zone-relative instant, so it maps to `timestamptz`
    * (an instant), not `timestamp` (a wall clock) — pandas
    * `to_sql` of tz-aware frames makes the same choice; the NTZ
    * wall-clock type gets plain `timestamp`.
    */
  case object Postgres extends Dialect {
    override val ifNotExists = true
    override def sqlType(dt: DataType): String = dt match {
      case StringType => "TEXT"
      case LongType => "BIGINT"
      case IntegerType => "INTEGER"
      case ShortType | ByteType => "SMALLINT"
      case DoubleType => "DOUBLE PRECISION"
      case FloatType => "REAL"
      case BooleanType => "BOOLEAN"
      case TimestampType => "TIMESTAMPTZ"
      case TimestampNTZType => "TIMESTAMP"
      case DateType => "DATE"
      case BinaryType => "BYTEA"
      case d: DecimalType => s"NUMERIC(${d.precision},${d.scale})"
      case ArrayType(e, _) => s"${sqlType(e)}[]"
      case _ => "TEXT"
    }
  }

  /** The embedded test database: no unbounded TEXT (VARCHAR caps at
    * 32672), no TIMESTAMPTZ, no IF NOT EXISTS guard.
    */
  case object Derby extends Dialect {
    override val ifNotExists = false
    override def sqlType(dt: DataType): String = dt match {
      case StringType => "VARCHAR(32672)"
      case LongType => "BIGINT"
      case IntegerType => "INTEGER"
      case ShortType | ByteType => "SMALLINT"
      case DoubleType => "DOUBLE"
      case FloatType => "REAL"
      case BooleanType => "BOOLEAN"
      case TimestampType | TimestampNTZType => "TIMESTAMP"
      case DateType => "DATE"
      case BinaryType => "BLOB"
      case d: DecimalType => s"DECIMAL(${d.precision},${d.scale})"
      case _ => "VARCHAR(32672)"
    }
  }

  def sqlType(dt: DataType): String = Postgres.sqlType(dt)

  /** ALTER statements for columns present in `incoming` but not in
    * `existing` (name-matched case-insensitively, like PostgreSQL).
    */
  def alterStatements(existing: StructType, incoming: StructType,
      table: String, dialect: Dialect = Postgres): Seq[String] = {
    val have = existing.fields.map(_.name.toLowerCase).toSet
    incoming.fields.toSeq
      .filterNot(f => have.contains(f.name.toLowerCase))
      .map(f => dialect.addColumn(table, f.name, dialect.sqlType(f.dataType)))
  }

  /** CREATE TABLE derived from a DataFrame schema — the reference's
    * `head(0).to_sql(if_exists='replace')` two-phase load.
    */
  def createTable(schema: StructType, table: String,
      dialect: Dialect = Postgres): String =
    schema.fields
      .map(f => s""""${f.name}" ${dialect.sqlType(f.dataType)}""")
      .mkString(dialect.createPrefix(table), ", ", ")")
}
