package perfbench

import graft.pipelines.{PipelineMain, ProjectSync}
import java.nio.file.{Files, Path}
import org.apache.spark.sql.SparkSession
import scala.collection.mutable

/** `medallion_batch`: the reference's nightly job. Each unit is one full
  * `PipelineMain.run` over the same seeded bronze into a fresh sink
  * directory; the gitlab stage's writeback appends to `plugin_mapping`,
  * which is restored before the next run. The warm-up runs the pipeline
  * once over a bronze a tenth the size: the first run's cost is class
  * loading and code generation, which do not depend on the volume.
  */
final class MedallionBatch(spark: SparkSession, seed: Long, dir: Path,
    plant: Boolean) extends Workload(spark, seed, dir, plant) {

  // a tenth of the reference notebooks' executed volumes
  val syncRows = 26000
  val logRows = 9000
  val monitoringRows = 10000
  val users = 300
  val warmShare = 10
  def nominalUnitS = 10.5
  override def cycle: Int = 1

  private val bim = (0 until 17).map(i => Gen.userName(1000 + i))
  private val cfg = ProjectSync.Config(
    userCol = "user_display_name",
    bimUsers = bim,
    objectClassifier = ProjectSync.Classifier("project_name",
      Seq("атом" -> "АЭС", "ику" -> "ИКУ"), "Неизвестные проекты"))

  private var bronze: Path = dir
  private var model = Gen.BronzeModel(Map.empty)
  private var mappingBytes = Array.emptyByteArray
  private val runs = mutable.ArrayBuffer[Map[String, Long]]()
  private val runMs = mutable.ArrayBuffer[Double]()
  private var lastSink: Option[Path] = None
  private var nOps = 0L

  def setup(): Unit = {
    bronze = fresh("bronze")
    model = Gen.bronze(bronze, seed, monitoringRows, logRows, syncRows,
      bim, users)
    mappingBytes = Files.readAllBytes(mapping.resolve("part-00000.csv"))
    Gen.bronze(fresh("bronze-warmup"), seed, monitoringRows / warmShare,
      logRows / warmShare, syncRows / warmShare, bim, users)
  }

  private def mapping = bronze.resolve("plugin_mapping")

  /** Undo the K6 writeback so every run starts from the same bronze. */
  private def restoreMapping(): Unit = {
    Workload.rmrf(mapping)
    Files.createDirectories(mapping)
    Files.write(mapping.resolve("part-00000.csv"), mappingBytes)
  }

  private def sinkRows(rs: Seq[PipelineMain.StageResult]) =
    rs.filter(_.stage != "maintenance").flatMap(_.sinkRows).toMap

  def warmup(tr: Tracer): Unit = {
    val sink = fresh("sink-warmup")
    PipelineMain.run(spark, dir.resolve("bronze-warmup").toString,
      sink.toString, bim, cfg)
    Workload.rmrf(sink)
    nOps += 1
  }

  def unit(i: Int, tr: Tracer): Unit = {
    lastSink.foreach(Workload.rmrf)
    val sink = fresh(s"sink-$i")
    val op = tr.newOp()
    val (rs, ms) = timed(tr.span("pipelines.PipelineMain.run", op) {
      PipelineMain.run(spark, bronze.toString, sink.toString, bim, cfg)
    })
    nOps += 1
    runMs += ms
    runs += sinkRows(rs)
    lastSink = Some(sink)
    if (tr.tracing) {
      tr.disable() // drains the bus: every job of the run is recorded
      val run = tr.allSpans.last
      run.extras ++= split(tr, run, sink)
    }
    restoreMapping()
  }

  def primary: Seq[Double] = runMs.toSeq
  def overheadSamples(i: Int): Map[String, Double] =
    runMs.lift(i).map("run" -> _).toMap
  def ops: Long = nOps

  /** Each stage's sinks, by path prefix under the run's sink dir. */
  private val stages = Seq("scripts" -> "scripts_",
    "gitlab" -> "gitlab_enriched", "projectsync" -> "projectsync_",
    "yougile" -> "yougile_tasks", "logs" -> "logs_")

  /** Split one traced run into its stages by sink path: a stage ends
    * when the last SQL execution whose plan names one of its sinks ends
    * (the writes and the row-count re-reads after them). The maintenance
    * stage runs from there to the end of the run; it starts no Spark
    * jobs, so its wall time is what the sink stages leave uncovered.
    */
  private def split(tr: Tracer, run: Span, sink: Path): Map[String, Double] = {
    val execs = tr.execsIn(run.t0Ms, run.t1Ms)
    var from = run.t0Ms
    val bounds = stages.map { case (name, prefix) =>
      val ends = execs.collect {
        case e if e.plan.contains(s"$sink/$prefix") => e.endMs
      }
      val to = if (ends.isEmpty) from else math.max(from, ends.max)
      val b = (name, from, to)
      from = to
      b
    } :+ (("maintenance", from, run.t1Ms))
    val perStage = bounds.flatMap { case (name, a, b) =>
      val js = tr.jobsIn(a, b - 1)
      Seq(s"$name.wall_s" -> (b - a) / 1000.0,
        s"$name.jobs" -> js.size.toDouble,
        s"$name.task_s" -> js.map(_.taskMs).sum / 1000.0)
    }
    // bronze reads: the readers' own jobs (schema inference included)
    // and every execution that scans a bronze path
    val runJobs = tr.jobsIn(run.t0Ms, run.t1Ms)
    val bronzeExecs = tr.execsIn(run.t0Ms, run.t1Ms)
      .filter(_.plan.contains(bronze.toString)).map(_.id).toSet
    val readers = runJobs.filter(j => j.callSite.startsWith("csv at") ||
      j.callSite.startsWith("json at"))
    val scanning = runJobs.filter(j => bronzeExecs.contains(j.execId))
    val dataFiles = Files.walk(sink)
    val written = try dataFiles.filter(f =>
      f.getFileName.toString.startsWith("part-")).count() finally dataFiles.close()
    (perStage ++ Seq(
      "bronze.read_jobs" -> readers.size.toDouble,
      "bronze.bytes_read" ->
        (readers ++ scanning).distinct.map(_.bytesRead).sum.toDouble,
      "Sinks.files_written" -> written.toDouble)).toMap
  }

  /** The source-side measures, kept on the run's span, per run. */
  override def layerExtras(tr: Tracer): Map[String, Double] = {
    val runs = tr.allSpans.filter(_.name == "pipelines.PipelineMain.run")
    Seq("bronze.read_jobs", "bronze.bytes_read", "Sinks.files_written")
      .map(k => s"sources.$k" -> Stats.mean(runs.flatMap(_.extras.get(k))))
      .toMap
  }

  /** The traced units' wall time the five sink stages leave uncovered:
    * the maintenance stage's remainder plus the unit's own work outside
    * the run (removing the last sink, restoring `plugin_mapping`).
    */
  override def unattributedMs(tr: Tracer, traced: Seq[Layers.UnitRec]): Double = {
    val runs = tr.allSpans.filter(_.name == "pipelines.PipelineMain.run")
    val staged = runs.map(r => stages.map { case (n, _) =>
      r.extras.getOrElse(s"$n.wall_s", 0.0) }.sum * 1000).sum
    traced.map(_._4).sum - staged
  }

  def gate(): Seq[Option[String]] = {
    // 1. every run's sink row counts equal the first run's
    val first = runs.headOption.getOrElse(Map.empty[String, Long])
    val drift = runs.zipWithIndex.map { case (r, i) =>
      if (r == first) None
      else Some(s"run $i sink rows $r differ from the first run's $first")
    }
    // 2. the first run's counts equal what the generator put in bronze
    val expected = model.expected.map { case (k, v) =>
      k -> (if (plant && k == "logs_designers") v + 1 else v) }
    val vsModel = expected.toSeq.map { case (k, v) =>
      if (first.get(k).contains(v)) None
      else Some(s"$k: ${first.get(k)} rows, bronze model $v")
    }
    // 3. stages that keep every input row: the sinks hold as many rows
    // as a plain DataFrame count of the bronze they read
    val kept = Seq(
      "tim_export_monitoring" -> Seq("scripts_bim", "scripts_designers"),
      "gitlab_repos" -> Seq("gitlab_enriched")).map { case (src, sinks) =>
      val n = spark.read.option("header", "true")
        .csv(bronze.resolve(src).toString).count()
      val got = sinks.flatMap(first.get).sum
      if (got == n) None
      else Some(s"${sinks.mkString(" + ")}: $got rows, bronze $src $n")
    }
    drift.toSeq ++ vsModel ++ kept
  }

  def named(): Seq[(String, Double, String)] =
    Seq(("run_s", Stats.median(runMs) / 1000.0, "s"))
}
