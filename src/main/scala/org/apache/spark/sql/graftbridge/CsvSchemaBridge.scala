package org.apache.spark.sql.graftbridge

import com.univocity.parsers.csv.CsvParser
import java.nio.charset.{Charset, StandardCharsets}
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.csv.{CSVInferSchema, CSVOptions}
import org.apache.spark.sql.errors.QueryCompilationErrors
import org.apache.spark.sql.execution.datasources.HadoopFileLinesReader
import org.apache.spark.sql.execution.datasources.csv.CSVUtils
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{DataType, NullType, StructType}
import org.apache.spark.util.HadoopFSUtils

/** The third audited bridge file (beside [[ParquetIoBridge]] and
  * [[StreamingFrameBridge]]): CSV schema inference in the driver, with
  * no Spark job. `spark.read.option("inferSchema", "true").csv(dir)`
  * starts two jobs per read (a `take(1)` for the header, then a full
  * scan folding every row's types); [[inferSchema]] runs the same
  * Spark classes over the same lines in one streaming pass, so a
  * caller reads the data with `.schema(inferred)` and gets the
  * `StructType` Spark's inference returns
  * (`TextInputCSVDataSource.infer`, Spark 4.1):
  *
  *  - the leaf files are the path's non-hidden files (names starting
  *    with `_` or `.` are not data), largest first, as Spark orders its
  *    splits; equal lengths go by name;
  *  - the header is the first line that SQL `trim` (spaces only) leaves
  *    non-empty and that is not a comment;
  *  - every other line goes through `CSVUtils.filterCommentAndEmpty`
  *    and `filterHeaderLine`, is parsed by `CsvParser.parseLine` under
  *    `asParserSettings`, and is folded by `CSVInferSchema.inferRowType`
  *    from `NullType`; `toStructFields` over `makeSafeHeader` names it.
  *
  * Line-based inference cannot see a record that spans lines, so
  * `multiLine`, a sampling ratio, a non-UTF-8 charset or a custom line
  * separator is refused rather than inferred differently; so is
  * `header` false, since the first line is always taken as the header.
  * Nothing is cached: each call reads the files as they are now.
  */
object CsvSchemaBridge {

  def inferSchema(spark: SparkSession, path: String,
      options: Map[String, String]): StructType = {
    val state = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState
    val conf = state.conf
    // as CSVFileFormat.inferSchema builds them
    val opts = new CSVOptions(options, conf.csvColumnPruning,
      conf.sessionLocalTimeZone, conf.columnNameOfCorruptRecord)
    def refuse(what: String) = s"CSV inference in the driver does not support $what"
    require(opts.headerFlag, refuse("a headerless file"))
    require(!opts.multiLine, refuse("multiLine"))
    require(opts.samplingRatio == 1.0, refuse(s"samplingRatio ${opts.samplingRatio}"))
    require(Charset.forName(opts.charset) == StandardCharsets.UTF_8, refuse(s"charset ${opts.charset}"))
    require(opts.lineSeparator.isEmpty, refuse("lineSep"))
    SQLConf.withExistingConf(conf) {
      val hadoopConf = state.newHadoopConf()
      val root = new Path(path)
      // a file lists as itself
      val files = root.getFileSystem(hadoopConf).listStatus(root).toSeq
        .filterNot(st => HadoopFSUtils.shouldFilterOutPathName(st.getPath.getName))
        .map { st => require(st.isFile, refuse(s"subdirectory ${st.getPath}")); st }
        .sortBy(st => (-st.getLen, st.getPath.getName))
      if (files.isEmpty) throw QueryCompilationErrors.dataSchemaNotSpecifiedError("CSV")

      var open: Option[HadoopFileLinesReader] = None
      def linesOf(st: FileStatus): Iterator[String] = {
        val reader = new HadoopFileLinesReader(
          ParquetIoBridge.wholeFile(st.getPath.toString, st.getLen), hadoopConf)
        open = Some(reader) // closes itself at its end; `finally` covers a throw
        reader.map(_.toString)
      }
      try {
        val lines = files.iterator.flatMap(linesOf).dropWhile(l =>
          !l.exists(_ != ' ') || (opts.isCommentSet && l.startsWith(opts.comment.toString)))
        val parser = new CsvParser(opts.asParserSettings)
        val headerLine = lines.nextOption()
        headerLine.flatMap(l => Option(parser.parseLine(l))).fold(new StructType()) { names =>
          val infer = new CSVInferSchema(opts)
          val types = Array.fill[DataType](names.length)(NullType)
          if (opts.inferSchemaFlag)
            CSVUtils.filterHeaderLine(CSVUtils.filterCommentAndEmpty(lines, opts),
              headerLine.get, opts).foreach(l => infer.inferRowType(types, parser.parseLine(l)))
          StructType(infer.toStructFields(types,
            CSVUtils.makeSafeHeader(names, conf.caseSensitiveAnalysis, opts)))
        }
      } finally open.foreach(_.close())
    }
  }
}
