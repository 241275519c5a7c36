package graft.pipelines

import graft.operators.{AtomicIncrement, Incremental}
import graft.sources.{SchemaGuard, Sinks}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The `run.py`-equivalent orchestrator (reference: run.py:29-31) —
  * bronze ingest, then the five pipelines in the reference's notebook
  * order (scripts → gitlab → projectsync → yougile → logs), fail-fast
  * like its `subprocess.run(check=True)`: the first failing stage
  * aborts the run and nothing downstream executes.
  *
  * Orchestration discipline the reference gets for free from eager
  * pandas, made explicit under Spark's laziness:
  *  - each bronze source is read, schema-inferred and checked against
  *    the declared contract (SchemaGuard) once, in the first stage that
  *    needs it; the one exception is `plugin_mapping`, read in scripts
  *    (that frame also feeds the gitlab stage's unmapped-plugin check)
  *    and read again after the K6 writeback changed it;
  *  - the K6 spreadsheet writeback is forced by an action BEFORE the
  *    mapping is re-read for the gitlab enrichment join, so the side
  *    effect cannot be reordered behind it;
  *  - the projectsync sinks are graft sinks, written by the K5
  *    watermark-incremental append (re-running the whole orchestrator
  *    appends 0; read them with `AtomicIncrement.readCommitted`).
  */
object PipelineMain {

  final case class StageResult(stage: String, sinkRows: Map[String, Long])

  /** Bronze contracts — the columns each pipeline dereferences
    * (FIXTURES.md). Only presence/type of these is load-bearing;
    * additions pass through (the incremental sink evolves).
    */
  private val contracts: Map[String, StructType] = Map(
    "tim_export_monitoring" -> StructType(Seq(
      StructField("plugin_id", StringType),
      StructField("user_display_name", StringType),
      StructField("project_name", StringType))),
    "tim_export_log" -> StructType(Seq(
      StructField("plugin_id", StringType),
      StructField("user_display_name", StringType))),
    "tim_export_project_sync" -> StructType(Seq(
      StructField("project_name", StringType),
      StructField("user_display_name", StringType))),
    "plugin" -> StructType(Seq(
      StructField("id", StringType),
      StructField("display_name", StringType),
      StructField("developer", StringType))),
    "development_stage" -> StructType(Seq(
      StructField("description", StringType))),
    "plugin_mapping" -> StructType(Seq(
      StructField("gitlab_name", StringType),
      StructField("tim_guid", StringType))),
    "gitlab_repos" -> StructType(Seq(
      StructField("name", StringType))),
    "ad_users" -> StructType(Seq(
      StructField("display_name", StringType))),
    "yougile_users" -> StructType(Seq(
      StructField("user_id", StringType),
      StructField("real_name", StringType))))

  /** Numeric/temporal columns the pipelines dereference. CSV
    * inference legitimately sizes these differently run to run (41 →
    * int, 4100000000 → long), so the typed contract can't pin them —
    * but their ABSENCE is still breaking drift and must abort here,
    * not as a raw AnalysisException three joins later.
    */
  private val requiredCols: Map[String, Seq[String]] = Map(
    "gitlab_repos" -> Seq("id"),
    "plugin" -> Seq("development_stage_id"),
    "plugin_mapping" -> Seq("gitlab_id"),
    "development_stage" -> Seq("id"),
    "tim_export_project_sync" -> Seq("date"))

  /** CSV bronze read: inference happens here and only here; breaking
    * drift (contract column removed or retyped, or a dereferenced
    * numeric/temporal column missing) aborts the run.
    */
  def readBronze(spark: SparkSession, bronzeDir: String, name: String): DataFrame = {
    val df = spark.read
      .option("header", "true")
      .option("inferSchema", "true")
      .csv(s"$bronzeDir/$name")
    contracts.get(name).foreach(c => SchemaGuard.requireCompatible(c, df.schema))
    val missing = requiredCols.getOrElse(name, Nil)
      .filterNot(df.columns.map(_.toLowerCase).contains)
    if (missing.nonEmpty)
      throw new IllegalStateException(
        s"schema drift: $name removed: ${missing.mkString(",")}")
    df
  }

  private val yougileTaskSchema = StructType(Seq(
    StructField("task_id", StringType),
    StructField("title", StringType),
    StructField("assigned", ArrayType(StringType)),
    StructField("subtasks", ArrayType(StringType)),
    StructField("created_ms", LongType),
    StructField("completed_ms", LongType),
    StructField("stickers", StringType)))

  private val gitlabScanSchema = StructType(Seq(
    StructField("id", LongType),
    StructField("chosen_branch", StringType),
    StructField("loc_by_language", MapType(StringType, LongType))))

  private val mappingWriteSchema = StructType(Seq(
    StructField("gitlab_name", StringType),
    StructField("gitlab_id", LongType),
    StructField("tim_guid", StringType),
    StructField("yougile_guid", StringType)))

  /** fail-fast wrapper: name the stage, abort the whole run. */
  private def stage[A](name: String)(body: => A): A =
    try body catch {
      case e: Throwable => throw new RuntimeException(
        s"pipeline stage '$name' failed — run aborted (fail-fast)", e)
    }

  /** Overwrite `sinkDir/name` with `df` and return its row count,
    * summed from the footers of the part files the write just produced
    * (footer metadata only, no Spark job). If any footer cannot
    * be read, the count falls back to a scan of the written parquet.
    */
  private def sink(df: DataFrame, sinkDir: String, name: String): (String, Long) = {
    val spark = df.sparkSession
    val dir = new Path(s"$sinkDir/$name")
    df.write.mode("overwrite").parquet(dir.toString)
    val parts = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .listStatus(dir).map(_.getPath)
      .filter(p => p.getName.startsWith("part-") && p.getName.endsWith(".parquet"))
    val footerRows = parts.map(Incremental.footerStatsOfFileAll(spark, _, Nil)._2)
    name -> (if (footerRows.forall(_.isDefined)) footerRows.flatten.sum
      else spark.read.parquet(dir.toString).count())
  }

  /** The full run. Returns per-stage sink row counts, in execution
    * order. `bimUsers` and the projectsync classifier are run config
    * (the reference hard-codes them in notebook cells).
    */
  def run(spark: SparkSession, bronzeDir: String, sinkDir: String,
      bimUsers: Seq[String],
      syncCfg: ProjectSync.Config,
      maintainTargets: Seq[graft.operators.Maintenance.Target] = Nil)
      : Seq[StageResult] = {

    // shared dims, read once before any stage (run.py's extractors
    // phase has already landed them in bronze)
    val (plugins, stages) = stage("bronze") {
      (readBronze(spark, bronzeDir, "plugin"),
        readBronze(spark, bronzeDir, "development_stage"))
    }

    // 1. scripts — monitoring fact through the four-hop dim chain; the
    // mapping read here also serves the gitlab stage's pre-writeback half
    val (scriptsResult, mapping) = stage("scripts") {
      val monitoring = readBronze(spark, bronzeDir, "tim_export_monitoring")
      val mapping = readBronze(spark, bronzeDir, "plugin_mapping")
      val gitScan = spark.read.schema(gitlabScanSchema)
        .json(s"$bronzeDir/gitlab_scan")
      val out = Scripts.transform(monitoring, plugins, stages, mapping,
        gitScan, bimUsers)
      val (bim, designers) = Scripts.split(out)
      (StageResult("scripts", Map(
        sink(bim, sinkDir, "scripts_bim"),
        sink(designers, sinkDir, "scripts_designers"))), mapping)
    }

    // 2. gitlab — K6 FIRST: the unmapped-plugin writeback is an action
    // (collect + append) that completes before the mapping is re-read,
    // so the enrichment join below sees the appended rows. Laziness
    // must not reorder this; forcing it here is the whole point.
    val gitlabResult = stage("gitlab") {
      val repos = readBronze(spark, bronzeDir, "gitlab_repos")
      // canonicalize the id to long ON the frame: bronze inference may
      // have sized it int or even double ("42.5" anywhere in the
      // column), and a driver-side .toString.toLong would crash the
      // fail-fast run on one dirty cell; null ids stay null in the
      // sheet row rather than NPE-ing the writeback
      val unmapped = Gitlab.unmappedPlugins(repos, mapping)
        .withColumn("gitlab_id", col("gitlab_id").cast(LongType))
      val written = Sinks.writebackUnmapped(unmapped, rows => {
        val add = spark.createDataFrame(
          java.util.Arrays.asList(rows.map(r =>
            Row(r.getString(0),
              if (r.isNullAt(1)) null else java.lang.Long.valueOf(r.getLong(1)),
              null, null)): _*),
          mappingWriteSchema)
        // align to the live file's physical column order: Spark's CSV
        // reader maps part files positionally against the first
        // file's header, so an order mismatch would silently shear
        // values into the wrong columns on the re-read
        val aligned = add.select(mapping.columns.map(c =>
          if (add.columns.contains(c)) col(c)
          else lit(null).cast(StringType).as(c)): _*)
        Sinks.csvAppend(aligned, s"$bronzeDir/plugin_mapping")
      })
      val mappingAfter = readBronze(spark, bronzeDir, "plugin_mapping")
      val enriched = Gitlab.transform(repos, mappingAfter, plugins)
      StageResult("gitlab", Map(
        sink(enriched, sinkDir, "gitlab_enriched"),
        "mapping_writeback" -> written))
    }

    // 3. projectsync — K5 watermark-incremental graft sinks: the whole
    // orchestrator is idempotent because re-runs append 0 here, and an
    // append that dies mid-write commits nothing, so the re-run's
    // watermark never sees its part files
    val syncResult = stage("projectsync") {
      val sync = readBronze(spark, bronzeDir, "tim_export_project_sync")
        .withColumn("date", col("date").cast(TimestampType))
      val ad = readBronze(spark, bronzeDir, "ad_users")
      val out = ProjectSync.transform(sync, ad, syncCfg)
      val (bim, designers) = ProjectSync.split(out)
      StageResult("projectsync", Map(
        "projectsync_bim" -> AtomicIncrement.appendIncrementAtomic(
          bim, s"$sinkDir/projectsync_bim", "date"),
        "projectsync_designers" -> AtomicIncrement.appendIncrementAtomic(
          designers, s"$sinkDir/projectsync_designers", "date")))
    }

    // 4. yougile — task-tracker export; alongside the parquet sink,
    // the reference ships an Excel-compatible utf-8-sig CSV
    // (create_yougile_dataset.ipynb cell 7) — the K1 BOM variant
    val yougileResult = stage("yougile") {
      val tasks = spark.read.schema(yougileTaskSchema)
        .json(s"$bronzeDir/yougile_tasks")
      val users = readBronze(spark, bronzeDir, "yougile_users")
      val out = Yougile.transform(tasks, users)
      val parquetSink = sink(out, sinkDir, "yougile_tasks")
      // export FROM the parquet snapshot just written — re-running the
      // transform plan would execute the whole anti-join/explode chain
      // a third time and could diverge if bronze changed mid-run. CSV
      // can't carry arrays, so sticker ids flatten in the export only;
      // the parquet sink keeps the typed column. The written frame's
      // schema is handed to the reader, so no footer is read to infer it.
      val snapshot = spark.read.schema(out.schema).parquet(s"$sinkDir/yougile_tasks")
      Sinks.csvOverwriteWithBom(
        snapshot.withColumn("sticker_ids", concat_ws(",", col("sticker_ids"))),
        s"$sinkDir/yougile_tasks_csv")
      StageResult("yougile", Map(parquetSink,
        "yougile_tasks_csv" -> parquetSink._2))
    }

    // 5. logs — plugin telemetry
    val logsResult = stage("logs") {
      val logs = readBronze(spark, bronzeDir, "tim_export_log")
      val out = Logs.transform(logs, plugins, bimUsers)
      val (bim, designers) = Logs.split(out)
      StageResult("logs", Map(
        sink(bim, sinkDir, "logs_bim"),
        sink(designers, sinkDir, "logs_designers")))
    }

    // 6. maintenance — the operational home of the derived-artifact
    // sweep (DerivedCache.vacuumStale): any memoized index/shingle/
    // cluster artifact whose source file this run (or any earlier
    // query in this process) rewrote is now stranded under a dead
    // content key and would otherwise leak per rewrite, forever. The
    // keep-set re-derives from live sources inside vacuumStale;
    // running it after the sinks land mirrors the reference's
    // end-of-run cleanup position and honors the sweep's
    // no-concurrent-readers assumption (the stages above are done).
    // ... and the lakehouse half of the same stage: every atomic sink
    // the run maintains gets one OPTIMIZE → bloom re-cover → vacuum
    // pass (graft.operators.Maintenance) — the sinks above were just
    // written, so the no-concurrent-writers contract holds here too.
    val maintenanceResult = stage("maintenance") {
      val evicted = graft.sources.DerivedCache.vacuumStale(spark)
      val maintained = maintainTargets.flatMap { t =>
        val r = graft.operators.Maintenance.maintainAtomic(spark, t)
        val name = t.sink.split("/").last
        Seq(s"${name}_files" -> r.filesAfter.toLong,
          s"${name}_reclaimed" ->
            (r.supersededRemoved + r.orphanDirsRemoved).toLong)
      }
      StageResult("maintenance",
        Map("evicted_artifacts" -> evicted.size.toLong) ++ maintained)
    }

    Seq(scriptsResult, gitlabResult, syncResult, yougileResult, logsResult,
      maintenanceResult)
  }

  /** CLI parity with run.py: `runMain graft.pipelines.PipelineMain
    * <bronzeDir> <sinkDir>`. Classifier/bim config uses the
    * reference's notebook constants.
    */
  def main(args: Array[String]): Unit = {
    val Array(bronzeDir, sinkDir) = args
    val spark = graft.GraftSession.getOrCreate()
    val results = run(spark, bronzeDir, sinkDir,
      bimUsers = Seq.empty,
      syncCfg = ProjectSync.Config(
        userCol = "user_display_name",
        bimUsers = Seq.empty,
        objectClassifier = ProjectSync.Classifier("project_name",
          Seq("атом" -> "АЭС", "ику" -> "ИКУ"), "Неизвестные проекты")))
    results.foreach(r => println(s"[pipeline] ${r.stage}: ${r.sinkRows}"))
    spark.stop()
  }
}
