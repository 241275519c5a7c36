package graft.operators

import graft.QueryDef
import graft.sources.Tables.table
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Incremental-load semantics (SURVEY.md §2.8, K5/S9): the footer
  * statistics a high-watermark append reads, and the watermark filter
  * as a declared query.
  *
  * The reference's pattern: read `max(key)` from the sink, insert only
  * rows above it, `ALTER TABLE ADD COLUMN IF NOT EXISTS` for new
  * columns. Here the sink is a graft sink (the 100 TB path — a table
  * format, not JDBC): [[AtomicIncrement.appendIncrementAtomic]] reads
  * the watermark from its manifest's stats, falling back to the
  * parquet footers below, and evolution is the manifest's merged
  * schema. `JdbcDdl` provides the DDL generation for an actual JDBC
  * sink.
  */
object Incremental {

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

  /** Per-column stats AND the exact row count of ONE file from a
    * SINGLE footer open — what [[graft.operators.AtomicIncrement]]'s
    * stage path uses (the one-open-per-column shape paid N+1 footer
    * round trips per staged file; on object storage each open is a
    * round trip, so a 200-file × 5-column stage was 1200 serial
    * opens). A column the footer can't answer EXACTLY — missing stats,
    * a NaN-suppressed float chunk (parquet-mr omits min/max there), an
    * unsupported type — is simply absent from the map, so callers fall
    * back to scan-derived values rather than trust a partial answer; a
    * failed open returns (empty, None).
    */
  private[graft] def footerStatsOfFileAll(spark: SparkSession,
      file: org.apache.hadoop.fs.Path, fields: Seq[StructField])
      : (Map[String, FooterStats], Option[Long]) = {
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import scala.jdk.CollectionConverters._
    try {
      val reader = ParquetFileReader.open(HadoopInputFile.fromPath(
        file, spark.sparkContext.hadoopConfiguration))
      try {
        val footer = reader.getFooter
        (fields.flatMap(f =>
            columnStatsOf(footer, f.name, f.dataType).map(f.name -> _))
          .toMap,
          Some(footer.getBlocks.asScala.map(_.getRowCount).sum))
      } finally reader.close()
    } catch { case _: Exception => (Map.empty, None) }
  }

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

  /** The exact max of `column` over an explicit file list from their
    * parquet footers — the watermark fallback of a graft sink whose
    * manifest lines carry no stats for the column (legacy lines). The
    * files' footer stats go through [[ManifestStats.foldExact]], so any
    * file that cannot answer exactly (or a string bound parquet may
    * have cut) fails the whole fold (scan fallback), stopping at that
    * file; all-null files contribute nothing, matching the
    * merged-schema read's null semantics for files missing the column.
    */
  private[graft] def footerMaxOfFiles(spark: SparkSession,
      files: Seq[org.apache.hadoop.fs.Path], column: String,
      dt: DataType): Option[org.apache.spark.sql.Column] =
    ManifestStats.foldExact(files.iterator.map(f =>
        footerStatsOfFileAll(spark, f, Seq(StructField(column, dt)))._1
          .get(column)))
      .flatMap(ManifestStats.maxLiteral(dt, _))

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
