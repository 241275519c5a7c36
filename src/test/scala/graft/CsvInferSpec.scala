package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files
import org.apache.spark.sql.graftbridge.CsvSchemaBridge
import org.apache.spark.sql.types._

/** `CsvSchemaBridge.inferSchema` returns the schema Spark's own
  * `inferSchema` read returns, fixture by fixture, and refuses the
  * options its line-based pass does not reproduce.
  */
class CsvInferSpec extends SparkSpec {
  import spark.implicits._

  private val opts = Map("header" -> "true", "inferSchema" -> "true")

  /** a fresh dir holding `files` (name → raw text) */
  private def dir(files: (String, String)*): String = {
    val d = Files.createTempDirectory("graft_csv_infer")
    files.foreach { case (n, text) => Files.write(d.resolve(n), text.getBytes(UTF_8)) }
    d.toString
  }

  private def sparkSchema(path: String): StructType =
    spark.read.options(opts).csv(path).schema

  private def assertSame(path: String, expected: StructType): Unit = {
    val inferred = CsvSchemaBridge.inferSchema(spark, path, opts)
    assert(inferred == sparkSchema(path))
    assert(inferred == expected)
  }

  private def fields(fs: (String, DataType)*): StructType =
    StructType(fs.map { case (n, t) => StructField(n, t) })

  test("ints next to longs, decimals and doubles; a file path reads as its dir") {
    val d = dir("p.csv" ->
      "i,l,dec,dbl,mixed\n41,41,1,1,1\n7,4100000000,12345678901234567890,1.5,x\n")
    val expected = fields("i" -> IntegerType, "l" -> LongType,
      "dec" -> DecimalType(20, 0), "dbl" -> DoubleType, "mixed" -> StringType)
    assertSame(d, expected)
    assertSame(s"$d/p.csv", expected)
  }

  test("timestamps in the sync `date` shape, dates, booleans, an all-null column and empty cells") {
    assertSame(dir("p.csv" -> ("date,day,flag,none,sparse\n" +
      "2024-01-01 10:00:00,2024-01-01,true,,5\n" +
      "2024-01-02 11:00:00,2024-01-02,false,,\n")),
      fields("date" -> TimestampType, "day" -> DateType, "flag" -> BooleanType,
        "none" -> StringType, "sparse" -> IntegerType))
  }

  test("Cyrillic text and quoted commas") {
    assertSame(dir("p.csv" ->
      "project_name,user_display_name,n\n\"АТОМ-1, корпус\",Анна,1\nпрочее_здание,\"Борис, мл.\",2\n"),
      fields("project_name" -> StringType, "user_display_name" -> StringType,
        "n" -> IntegerType))
  }

  test("empty and whitespace-only lines before the header and between rows") {
    assertSame(dir("p.csv" -> "\n   \nh1,h2\n1,x\n\n  \n\t\n2,y\n"),
      fields("h1" -> IntegerType, "h2" -> StringType))
  }

  test("a tab-only first line is the header: the header pick trims spaces only") {
    assertSame(dir("p.csv" -> "\t\n1,x\n2,y\n"), fields("\t" -> IntegerType))
  }

  test("a header-only file types every column as string") {
    assertSame(dir("p.csv" -> "a,b\n"), fields("a" -> StringType, "b" -> StringType))
  }

  test("duplicate and empty header names are made safe") {
    assertSame(dir("p.csv" -> "a,a,,B,b\n1,2,3,4,5\n"),
      fields("a0" -> IntegerType, "a1" -> IntegerType, "_c2" -> IntegerType,
        "B3" -> IntegerType, "b4" -> IntegerType))
  }

  test("a dir of appended parts that each repeat the header (the K6 writeback shape)") {
    val d = Files.createTempDirectory("graft_csv_infer").resolve("plugin_mapping").toString
    def append(rows: Seq[(String, Long, String)]): Unit =
      rows.toDF("gitlab_name", "gitlab_id", "tim_guid").coalesce(1).write
        .mode("append").option("header", "true").option("escape", "\"").csv(d)
    append(Seq(("StairTool", 41L, "p1")))
    append(Seq(("NewThing", 42L, "p2"), ("Big", 4100000000L, "p3")))
    assert(new java.io.File(d).list().count(_.startsWith("part-")) == 2)
    assertSame(d, fields("gitlab_name" -> StringType, "gitlab_id" -> LongType,
      "tim_guid" -> StringType))
  }

  test("two files of different sizes: the larger file's first line is the header") {
    // by name the smaller file comes first; its row is data, not a header
    assertSame(dir("a.csv" -> "7.5,8\n", "b.csv" -> "x,y\n1,2\n3,4\n5,6\n"),
      fields("x" -> DoubleType, "y" -> IntegerType))
  }

  test("multiLine, sampling, a non-UTF-8 charset, lineSep and no header are refused") {
    val d = dir("p.csv" -> "a\n1\n")
    for (extra <- Seq("multiLine" -> "true", "samplingRatio" -> "0.5",
        "encoding" -> "windows-1251", "charset" -> "ISO-8859-1", "lineSep" -> "\n",
        "header" -> "false"))
      intercept[IllegalArgumentException](CsvSchemaBridge.inferSchema(spark, d, opts + extra))
    assert(CsvSchemaBridge.inferSchema(spark, d, opts + ("encoding" -> "utf-8")) ==
      fields("a" -> IntegerType))
  }
}
