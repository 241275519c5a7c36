package graft

import graft.operators.{AtomicIncrement, Incremental, JdbcDdl}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import java.nio.file.Files

/** High-watermark incremental append (SURVEY.md §2.8, K5/S9):
  * idempotence, strict-watermark filtering and schema evolution of the
  * graft sink's append, the footer-stats watermark it falls back to,
  * and the JDBC DDL generation the reference's
  * _ensure_table_and_columns does.
  */
class IncrementalSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(): String =
    Files.createTempDirectory("graft_inc").resolve("sink").toString

  test("first append writes all rows; re-running the same input appends 0") {
    val path = tmp()
    val df = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "v")
    assert(AtomicIncrement.appendIncrementAtomic(df, path, "k") == 3)
    assert(AtomicIncrement.appendIncrementAtomic(df, path, "k") == 0)
    assert(AtomicIncrement.readCommitted(spark, path).count() == 3)
  }

  test("only rows strictly above the sink watermark are appended") {
    val path = tmp()
    AtomicIncrement.appendIncrementAtomic(
      Seq((1L, "a"), (5L, "b")).toDF("k", "v"), path, "k")
    val n = AtomicIncrement.appendIncrementAtomic(
      Seq((4L, "late"), (5L, "dup"), (6L, "new"), (7L, "new")).toDF("k", "v"), path, "k")
    assert(n == 2)
    val keys = AtomicIncrement.readCommitted(spark, path)
      .select("k").as[Long].collect().sorted
    assert(keys.toSeq == Seq(1L, 5L, 6L, 7L))
  }

  test("schema evolution: new columns survive mergeSchema read") {
    val path = tmp()
    AtomicIncrement.appendIncrementAtomic(Seq((1L, "a")).toDF("k", "v"), path, "k")
    AtomicIncrement.appendIncrementAtomic(
      Seq((2L, "b", 9.5)).toDF("k", "v", "score"), path, "k")
    val evolved = AtomicIncrement.readCommitted(spark, path)
    assert(evolved.columns.toSet == Set("k", "v", "score"))
    val old = evolved.filter(col("k") === 1L).head()
    assert(old.isNullAt(old.fieldIndex("score")))
  }

  test("sink probe goes through the Hadoop FS API: file: URIs work") {
    val path = "file://" + tmp()
    val df = Seq((1L, "a"), (2L, "b")).toDF("k", "v")
    assert(AtomicIncrement.appendIncrementAtomic(df, path, "k") == 2)
    assert(AtomicIncrement.appendIncrementAtomic(df, path, "k") == 0)
  }

  /** The parquet files a plain `write.parquet(path)` produced. */
  private def parts(path: String): Seq[Path] =
    new java.io.File(path).listFiles().toSeq
      .filter(_.getName.endsWith(".parquet")).map(f => new Path(f.toURI))

  test("footerMax answers from parquet statistics for numeric/temporal " +
      "and (since r13) strings, declines for absent columns") {
    val path = tmp()
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    Seq((1L, 1.5, t("2024-01-01 10:00:00"), "a"),
        (9L, -2.5, t("2024-03-05 08:30:00"), "z"))
      .toDF("k", "x", "ts", "s")
      .repartition(2).write.parquet(path)
    val files = parts(path)
    def evalExpr(c: org.apache.spark.sql.Column): Any =
      spark.range(1).select(c).head().get(0)
    val kMax = Incremental.footerMaxOfFiles(spark, files, "k", LongType)
    assert(kMax.isDefined && evalExpr(kMax.get) == 9L)
    val xMax = Incremental.footerMaxOfFiles(spark, files, "x", DoubleType)
    assert(xMax.isDefined && evalExpr(xMax.get) == 1.5)
    // timestamps: exact when written as TIMESTAMP_MICROS, None (scan
    // fallback) when the writer used INT96 — either way never wrong
    Incremental.footerMaxOfFiles(spark, files, "ts", TimestampType).foreach { c =>
      assert(evalExpr(c) == t("2024-03-05 08:30:00"))
    }
    // strings answer from the byte-ordered binary bounds (r13 — the
    // ISO-string watermark path; parquet-mr OMITS oversized bounds
    // rather than truncating, and omission declines below)
    val sMax = Incremental.footerMaxOfFiles(spark, files, "s", StringType)
    assert(sMax.isDefined && evalExpr(sMax.get) == "z")
    // absent column: no stats anywhere -> None, caller scans
    assert(Incremental.footerMaxOfFiles(spark, files, "nope", LongType).isEmpty)
  }
  test("binary footer bounds agree with Spark's string min/max across " +
      "Unicode (ASCII, Cyrillic, CJK, emoji/supplementary): the " +
      "byte-order contract every string-stats consumer relies on") {
    // parquet's UTF8 comparator ranks by unsigned bytes; Spark's
    // string min/max rank UTF8String the same way. If they ever
    // disagreed, string watermarks/merge pruning would silently skip
    // live files — this pins the agreement on adversarial content,
    // including supplementary characters where Java String.compareTo
    // (UTF-16 code units) DOES disagree with byte order.
    val path = tmp()
    val values = Seq(
      "alpha", "Zebra", "проект-А", "проект-я", "яблоко",
      "数据管道", "données", "😀emoji", "�repl",
      "mixedПро🚀", "  spaced", "z" * 80)
    values.map(Tuple1(_)).toDF("s").repartition(2).write.parquet(path)
    val sparkRow = spark.read.parquet(path).agg(min("s"), max("s")).head()
    val (sparkMin, sparkMax) = (sparkRow.getString(0), sparkRow.getString(1))
    // independent reference: unsigned UTF-8 byte order
    val utf8 = java.nio.charset.StandardCharsets.UTF_8
    val byByte = values.sortWith((a, b) => java.util.Arrays.compareUnsigned(
      a.getBytes(utf8), b.getBytes(utf8)) < 0)
    assert(sparkMin == byByte.head && sparkMax == byByte.last,
      s"Spark's own min/max is not byte order: $sparkMin/$sparkMax " +
        s"vs ${byByte.head}/${byByte.last}")
    // the footer bounds must fold to the same pair
    val fMax = Incremental.footerMaxOfFiles(spark, parts(path), "s", StringType)
    assert(fMax.isDefined &&
      spark.range(1).select(fMax.get).head().getString(0) == sparkMax,
      "footer max diverged from Spark's string max")
  }

  test("footer watermark converts TIMESTAMP_MILLIS statistics by declared unit") {
    val path = tmp()
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MILLIS")
    try Seq((t("2024-03-05 08:30:00"), "a")).toDF("ts", "v").write.parquet(path)
    finally spark.conf.unset("spark.sql.parquet.outputTimestampType")
    Incremental.footerMaxOfFiles(spark, parts(path), "ts", TimestampType) match {
      case Some(c) =>
        // millis stats scaled to micros — NOT a 1970-adjacent value
        assert(spark.range(1).select(c).head().getTimestamp(0) ==
          t("2024-03-05 08:30:00"))
      case None => fail("expected footer stats for TIMESTAMP_MILLIS")
    }
  }

  test("JdbcDdl generates ALTER only for missing columns, case-insensitively") {
    val existing = StructType(Seq(StructField("id", LongType),
      StructField("Name", StringType)))
    val incoming = StructType(Seq(StructField("id", LongType),
      StructField("name", StringType), StructField("score", DoubleType)))
    val stmts = JdbcDdl.alterStatements(existing, incoming, "datalake.t")
    assert(stmts ==
      Seq("""ALTER TABLE datalake.t ADD COLUMN IF NOT EXISTS "score" DOUBLE PRECISION"""))
  }

  test("JdbcDdl createTable derives DDL from the schema like head(0).to_sql") {
    val schema = StructType(Seq(StructField("id", LongType),
      StructField("name", StringType), StructField("ts", TimestampType)))
    // instants (TimestampType) map to timestamptz on the Postgres
    // default dialect — see JdbcSpec's dialect goldens
    assert(JdbcDdl.createTable(schema, "datalake.t") ==
      """CREATE TABLE IF NOT EXISTS datalake.t ("id" BIGINT, "name" TEXT, "ts" TIMESTAMPTZ)""")
  }
}
