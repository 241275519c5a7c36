package graft

import graft.operators.AtomicIncrement
import graft.pipelines.{PipelineMain, ProjectSync}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._
import java.nio.file.Files
import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

/** The run.py-equivalent orchestrator end to end over a synthesized
  * bronze layer: reference stage order, K6-before-reread sequencing,
  * K5 idempotence on re-run, and fail-fast on breaking schema drift.
  */
class PipelineMainSpec extends SparkSpec {
  import spark.implicits._

  private val cfg = ProjectSync.Config(
    userCol = "user_display_name",
    bimUsers = Seq("Анна"),
    objectClassifier = ProjectSync.Classifier("project_name",
      Seq("атом" -> "АЭС", "ику" -> "ИКУ"), "Неизвестные проекты"))

  private val syncRows = Seq(
    ("АТОМ-1_корпус_Анна", "Анна", "2024-01-01 10:00:00"),
    ("прочее_здание", "Борис", "2024-01-02 11:00:00"))

  private def writeBronze(sync: Seq[(String, String, String)] = syncRows)
      : String = {
    val dir = Files.createTempDirectory("graft_bronze").toString
    def csv(name: String, df: org.apache.spark.sql.DataFrame): Unit =
      df.coalesce(1).write.option("header", "true").option("escape", "\"")
        .csv(s"$dir/$name")

    csv("plugin", Seq(
      ("p1", "Stair Tool", "Ivanov", 1L, "t", "l", "v", "s"),
      ("p2", "Wall Check", "Petrova", 2L, "t", "l", "v", "s"))
      .toDF("id", "display_name", "developer", "development_stage_id",
        "long_description", "instruction_link", "video_link",
        "technical_specification"))
    csv("development_stage",
      Seq((1L, "released"), (2L, "beta")).toDF("id", "description"))
    csv("plugin_mapping", Seq(("StairTool", 41L, "p1", "yg-1"))
      .toDF("gitlab_name", "gitlab_id", "tim_guid", "yougile_guid"))
    csv("gitlab_repos", Seq(
      (41L, "plugins/revit/StairTool"),
      (42L, "plugins/revit/NewThing"),
      (43L, "infra/terraform")).toDF("id", "name"))
    Seq((41L, "main", Map("C#" -> 1200L, "XAML" -> 300L)))
      .toDF("id", "chosen_branch", "loc_by_language")
      .coalesce(1).write.json(s"$dir/gitlab_scan")
    csv("tim_export_monitoring", Seq(
      ("p1", "Анна", "ABC_Tower_stage2", "1.0", "u", "pn", "pv"),
      ("p2", "Борис", "Solo", "1.0", "u", "pn", "pv"))
      .toDF("plugin_id", "user_display_name", "project_name",
        "plugin_version", "username", "program_name", "program_version"))
    csv("tim_export_log", Seq(
      ("p1", "Анна", "m1"), ("p2", "Борис", "m2"))
      .toDF("plugin_id", "user_display_name", "message"))
    csv("tim_export_project_sync",
      sync.toDF("project_name", "user_display_name", "date"))
    csv("ad_users", Seq(("Анна", "anna"), ("Борис", "boris"))
      .toDF("display_name", "login"))
    val taskSchema = StructType(Seq(
      StructField("task_id", StringType), StructField("title", StringType),
      StructField("assigned", ArrayType(StringType)),
      StructField("subtasks", ArrayType(StringType)),
      StructField("created_ms", LongType), StructField("completed_ms", LongType),
      StructField("stickers", StringType)))
    spark.createDataFrame(java.util.Arrays.asList(
      Row("t1", "Main", Seq("u1"), Seq("t2"), 1705309200000L, 1705388400000L,
        """{"id": "s1"}"""),
      Row("t2", "Sub", Seq("u1"), null, 1705309200000L, null, "[]")),
      taskSchema).coalesce(1).write.json(s"$dir/yougile_tasks")
    csv("yougile_users", Seq(("u1", "Иванов")).toDF("user_id", "real_name"))
    dir
  }

  test("full run: reference stage order, K6 before re-read, K5 idempotent re-run") {
    val bronze = writeBronze()
    val sinks = Files.createTempDirectory("graft_sinks").toString
    val results = PipelineMain.run(spark, bronze, sinks, Seq("Анна"), cfg)

    // reference notebook order (run.py:31)
    assert(results.map(_.stage) ==
      Seq("scripts", "gitlab", "projectsync", "yougile", "logs",
        "maintenance"))

    // K6 happened BEFORE the enrichment re-read: the unmapped repo is
    // now in the bronze mapping, and the enriched output covers all repos
    val byStage = results.map(r => r.stage -> r.sinkRows).toMap
    assert(byStage("gitlab")("mapping_writeback") == 1L) // NewThing
    val mappingAfter = PipelineMain.readBronze(spark, bronze, "plugin_mapping")
    assert(mappingAfter.filter($"gitlab_name" === "NewThing").count() == 1)
    assert(byStage("gitlab")("gitlab_enriched") == 3L)

    // per-stage sink sanity
    assert(byStage("scripts")("scripts_bim") == 1L)
    assert(byStage("scripts")("scripts_designers") == 1L)
    assert(byStage("projectsync")("projectsync_bim") == 1L)
    assert(byStage("projectsync")("projectsync_designers") == 1L)
    assert(byStage("yougile")("yougile_tasks") == 1L) // subtask dropped
    // the Excel export landed with the utf-8-sig BOM on the header
    val csvPart = new java.io.File(s"$sinks/yougile_tasks_csv").listFiles()
      .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".csv")).head
    val bytes = java.nio.file.Files.readAllBytes(csvPart.toPath)
    assert(bytes.take(3).toSeq == Seq(0xEF.toByte, 0xBB.toByte, 0xBF.toByte))
    assert(byStage("logs")("logs_bim") == 1L)
    assert(byStage("logs")("logs_designers") == 1L)

    // K5: the whole orchestrator re-runs idempotently — the
    // incremental projectsync sinks append nothing the second time
    val rerun = PipelineMain.run(spark, bronze, sinks, Seq("Анна"), cfg)
    val sync2 = rerun.find(_.stage == "projectsync").get.sinkRows
    assert(sync2("projectsync_bim") == 0L)
    assert(sync2("projectsync_designers") == 0L)
  }

  /** Every parquet sink of one run: its reported `sinkRows` against a
    * scan of what landed. The projectsync sinks are graft sinks, read
    * through their manifest; one that appended nothing has no commit
    * and must report 0.
    */
  private def assertSinkRowsMatchScan(results: Seq[PipelineMain.StageResult],
      sinks: String): Unit = {
    val csvOrSheet = Set("mapping_writeback", "yougile_tasks_csv")
    val reported = results.filter(_.stage != "maintenance")
      .flatMap(_.sinkRows).filterNot { case (k, _) => csvOrSheet(k) }
    assert(reported.map(_._1).toSet == Set("scripts_bim",
      "scripts_designers", "gitlab_enriched", "projectsync_bim",
      "projectsync_designers", "yougile_tasks", "logs_bim",
      "logs_designers"))
    reported.foreach { case (name, rows) =>
      val dir = s"$sinks/$name"
      val scanned =
        if (!name.startsWith("projectsync_")) spark.read.parquet(dir).count()
        else if (AtomicIncrement.snapshot(spark, dir)._1 == 0) 0L
        else AtomicIncrement.readCommitted(spark, dir).count()
      assert(rows == scanned, s"$name: sinkRows $rows, scan $scanned")
    }
  }

  test("every parquet sink's sinkRows equals a scan of the sink, " +
      "with and without BIM users") {
    val bronze = writeBronze()
    val sinks = Files.createTempDirectory("graft_sinks_rows").toString
    assertSinkRowsMatchScan(
      PipelineMain.run(spark, bronze, sinks, Seq("Анна"), cfg), sinks)

    // no BIM users: every *_bim sink is empty; the two written through
    // the footer count still land (one empty part file each) and count 0
    val bronze0 = writeBronze()
    val sinks0 = Files.createTempDirectory("graft_sinks_rows0").toString
    val results0 = PipelineMain.run(spark, bronze0, sinks0, Seq.empty,
      cfg.copy(bimUsers = Seq.empty))
    assertSinkRowsMatchScan(results0, sinks0)
    val rows0 = results0.flatMap(_.sinkRows).toMap
    for (s <- Seq("scripts_bim", "logs_bim")) {
      assert(rows0(s) == 0L)
      assert(new java.io.File(s"$sinks0/$s").exists, s"$s not written")
    }
    assert(rows0("projectsync_bim") == 0L)
    assert(rows0("scripts_designers") == 2L)
    assert(rows0("logs_designers") == 2L)
  }

  test("a crashed plain append's leftover part file costs the re-run no " +
      "row: the projectsync sinks read only what their manifest commits") {
    val bronze = writeBronze(syncRows ++ Seq(
      ("АТОМ-2_корпус", "Анна", "2024-01-03 09:00:00"),
      ("ику_блок", "Анна", "2024-01-04 12:00:00")))
    val sinks = Files.createTempDirectory("graft_sinks_stray").toString
    val sync = PipelineMain.readBronze(spark, bronze, "tim_export_project_sync")
      .withColumn("date", col("date").cast(TimestampType))
    val (bim, _) = ProjectSync.split(ProjectSync.transform(sync,
      PipelineMain.readBronze(spark, bronze, "ad_users"), cfg))
    val bimRows = bim.count()
    assert(bimRows == 3L)
    // the part file one task of a plain append committed before the
    // append died: it holds the batch's latest-dated row
    val stray = Files.createTempDirectory("graft_stray").resolve("d")
    bim.orderBy(col("date").desc).limit(1).coalesce(1).write
      .parquet(stray.toString)
    val part = Files.list(stray).iterator()
    val file = Iterator.continually(part).takeWhile(_.hasNext).map(_.next())
      .find(_.toString.endsWith(".parquet")).get
    val sinkDir = Files.createDirectories(
      java.nio.file.Paths.get(sinks, "projectsync_bim"))
    Files.copy(file, sinkDir.resolve("part-00000-stray.parquet"))

    val rows = PipelineMain.run(spark, bronze, sinks, Seq("Анна"), cfg)
      .flatMap(_.sinkRows).toMap
    assert(rows("projectsync_bim") == bimRows,
      "the leftover's watermark filtered the batch out")
    val committed = AtomicIncrement.readCommitted(spark, sinkDir.toString)
    assert(committed.count() == bimRows)
    assert(committed.select("project_name").as[String].collect().toSet ==
      bim.select("project_name").as[String].collect().toSet)
    assert(!AtomicIncrement.committedFiles(spark, sinkDir.toString)
      .exists(_.contains("stray")))
  }

  test("one run over the spec's bronze starts 51 Spark jobs: sinks are " +
      "counted from their footers, each bronze schema is inferred once") {
    // Per stage (each CSV bronze read is 2 jobs: header + inference):
    //   bronze       4  plugin, development_stage reads
    //   scripts     14  monitoring + plugin_mapping reads (4), two
    //                   sink writes (5 each)
    //   gitlab      10  gitlab_repos read (2), K6 unmapped collect (2),
    //                   mapping append (1), post-K6 mapping re-read (2),
    //                   gitlab_enriched write (3)
    //   projectsync  8  sync + ad_users reads (4), per K5 sink its
    //                   staging write (2); the graft sink counts the
    //                   staged rows from their footers
    //   yougile      9  yougile_users read (2), parquet write (6), BOM
    //                   CSV export from the snapshot (1)
    //   logs         6  log read (2), two sink writes (2 each)
    //   maintenance  0
    // Before footer counting a run took 78: every `sink` re-read its
    // parquet to count it (footer-schema job + 2-job count, 6 sinks),
    // plugin_mapping was inferred once more in gitlab (2) and the
    // yougile snapshot inferred its schema from a footer (1). Before
    // the projectsync sinks became graft sinks a run took 57: each K5
    // sink cached and counted its delta (4) before appending it (1).
    val bronze = writeBronze()
    val sinks = Files.createTempDirectory("graft_sinks_jobs").toString
    val sc = spark.sparkContext
    // counts the jobs between two marker jobs: the bus delivers in
    // order, so once the end marker is seen every job of the run is in
    val jobs = new AtomicInteger
    val ended = new CountDownLatch(1)
    @volatile var counting = false
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("spark.jobGroup.id")) match {
          case Some("pm-jobs-begin") => counting = true
          case Some("pm-jobs-end") => counting = false; ended.countDown()
          case _ => if (counting) jobs.incrementAndGet()
        }
    }
    def marker(group: String): Unit = {
      sc.setJobGroup(group, group)
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
    }
    sc.addSparkListener(listener)
    try {
      marker("pm-jobs-begin")
      PipelineMain.run(spark, bronze, sinks, Seq("Анна"), cfg)
      marker("pm-jobs-end")
      assert(ended.await(60, TimeUnit.SECONDS), "listener bus never drained")
    } finally sc.removeSparkListener(listener)
    assert(jobs.get == 51)
  }

  test("fail-fast: breaking bronze drift aborts the first stage, no sinks written") {
    // each case replaces one source the FIRST stage reads with a
    // drifted copy: (source, drifted frame, expected cause)
    val cases = Seq(
      // a contract column retyped: monitoring plugin_id becomes
      // numeric → SchemaGuard breaking drift
      ("tim_export_monitoring",
        Seq((1L, "Анна", "X", "1.0", "u", "pn", "pv")).toDF("plugin_id",
          "user_display_name", "project_name", "plugin_version",
          "username", "program_name", "program_version"),
        "drift"),
      // a dereferenced column removed: gitlab_id, read by the scripts
      // join and the K6 check; scripts is the one stage that infers the
      // mapping before the writeback
      ("plugin_mapping",
        Seq(("StairTool", "p1", "yg-1")).toDF("gitlab_name", "tim_guid",
          "yougile_guid"),
        "plugin_mapping removed: gitlab_id"))
    for ((source, bad, cause) <- cases) {
      val bronze = writeBronze()
      val sinks = Files.createTempDirectory("graft_sinks_ff").toString
      new scala.reflect.io.Directory(
        new java.io.File(s"$bronze/$source")).deleteRecursively()
      bad.coalesce(1).write.option("header", "true").csv(s"$bronze/$source")

      val e = intercept[RuntimeException] {
        PipelineMain.run(spark, bronze, sinks, Seq("Анна"), cfg)
      }
      assert(e.getMessage.contains("'scripts'"), source)
      assert(e.getCause.getMessage.contains(cause), source)
      // fail-fast: nothing downstream ran, the sink dir is untouched
      assert(new java.io.File(sinks).listFiles().forall(f =>
        f.getName.startsWith("_") || f.getName.startsWith(".")), source)
    }
  }

  test("maintenance stage: a pipeline run evicts a stranded derived-cache key end-to-end") {
    import graft.sources.DerivedCache
    import java.nio.file.Paths
    // a derivation this process knows (the catalog records the tuple)
    val src = Files.createTempFile("graft_pm_src", ".parquet")
    Files.write(src, "v1".getBytes)
    val oldDir = DerivedCache.dirFor(spark, src.toString, "pm-kind", "p=1")
    Files.createDirectories(Paths.get(oldDir))
    Files.write(Paths.get(oldDir, "_SUCCESS"), Array.emptyByteArray)
    // the source is rewritten (the exact event that strands a key) —
    // the old artifact is now unreachable by any dirFor call
    Files.write(src, "v2-rewritten".getBytes)
    val curDir = DerivedCache.dirFor(spark, src.toString, "pm-kind", "p=1")
    Files.createDirectories(Paths.get(curDir))
    Files.write(Paths.get(curDir, "_SUCCESS"), Array.emptyByteArray)
    // an artifact family this process never derived must survive the
    // sweep untouched (another workload's cache)
    val foreign = Paths.get(sys.props("java.io.tmpdir"), "graft_cache",
      "foreign-kind-" + "ab" * 16)
    Files.createDirectories(foreign)
    Files.write(foreign.resolve("_SUCCESS"), Array.emptyByteArray)

    val bronze = writeBronze()
    val sinksDir = Files.createTempDirectory("graft_sinks_mx").toString
    val results = PipelineMain.run(spark, bronze, sinksDir, Seq("Анна"), cfg)
    val evicted = results.find(_.stage == "maintenance").get
      .sinkRows("evicted_artifacts")
    assert(evicted >= 1L, s"expected the stranded key evicted, got $evicted")
    assert(!Files.exists(Paths.get(oldDir)), "stranded key must be gone")
    assert(DerivedCache.isComplete(spark, curDir), "current key must survive")
    assert(Files.exists(foreign), "uncataloged kinds must survive")
    new scala.reflect.io.Directory(foreign.toFile).deleteRecursively()
  }

  test("maintenance stage runs the lakehouse pass over declared atomic " +
      "sinks: OPTIMIZE + vacuum counts land in the stage report and " +
      "the sink's file count actually drops") {
    import graft.operators.{AtomicIncrement, Maintenance}
    import spark.implicits._
    // an atomic sink that accreted 6 one-file increments — the shape a
    // season of incremental runs leaves behind
    val table = Files.createTempDirectory("graft_pm_atomic")
      .resolve("t").toString
    for (r <- 0L to 5L)
      AtomicIncrement.appendIncrementAtomic(
        (1L to 10L).map(k => (r * 10 + k, s"v$k")).toDF("k", "v")
          .repartition(1), table, "k")
    assert(AtomicIncrement.committedFiles(spark, table).size == 6)
    val rowsBefore = AtomicIncrement.readCommitted(spark, table)
      .select("k").as[Long].collect().sorted.toSeq

    val bronze = writeBronze()
    val sinksDir = Files.createTempDirectory("graft_sinks_mt").toString
    val results = PipelineMain.run(spark, bronze, sinksDir, Seq("Анна"), cfg,
      maintainTargets = Seq(Maintenance.Target(table,
        clusterCols = Seq("k"), targetFiles = 2)))
    val stage = results.find(_.stage == "maintenance").get.sinkRows
    assert(stage("t_files") == 2L, s"stage report: $stage")
    assert(stage("t_reclaimed") >= 6L, s"old batch dirs not reclaimed: $stage")
    assert(AtomicIncrement.committedFiles(spark, table).size == 2)
    assert(AtomicIncrement.readCommitted(spark, table)
      .select("k").as[Long].collect().sorted.toSeq == rowsBefore,
      "maintenance moved the table's content")
  }
}
