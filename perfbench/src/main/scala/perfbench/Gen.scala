package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.util.SplittableRandom
import org.apache.spark.sql.{DataFrame, SparkSession}

/** A row of the keyed table that `cdc_ingest` maintains.
  * Every field is a pure function of (seed, key, version), so the
  * driver-side model can recompute any row the engine should hold.
  */
final case class KRow(k: Long, grp: String, x: Double, note: String)

/** A CDC change: the after-image of `k` at version `v`, or its delete. */
final case class CRow(k: Long, grp: String, x: Double, note: String,
    v: Long, del: Boolean)

/** Seeded input generators. The same seed gives byte-identical bronze
  * files and the same key, change, lookup and redelivery schedules; the
  * engine only ever receives what these produce.
  */
object Gen {

  /** splitmix64's finalizer: a stateless 64-bit mix. */
  def mix(a: Long): Long = {
    var z = a + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** An independent random stream per (seed, purpose). */
  def rng(seed: Long, stream: Long): SplittableRandom =
    new SplittableRandom(mix(seed * 1000003L + stream))

  // ---------------------------------------------------------------- keyed

  private val groups: Array[String] =
    ((0 until 40).map(i => f"отдел-$i%02d") ++
      Seq("", "без отдела", "Проектный офис", "BIM-центр")).toArray

  def row(seed: Long, k: Long, version: Long): KRow = {
    val h = mix(k ^ mix(seed * 31 + version))
    val note = Math.floorMod(h >>> 40, 8) match {
      case 0 => null
      case 1 => ""
      case n => s"запись $k, ревизия $version/$n"
    }
    KRow(k, groups(Math.floorMod(h, groups.length)),
      Math.floorMod(h >>> 16, 1000000L) / 100.0, note)
  }

  /** Keys [lo, hi) at version 0, in `parts` partitions (one file each). */
  def keyed(spark: SparkSession, seed: Long, lo: Long, hi: Long,
      parts: Int): DataFrame = {
    import spark.implicits._
    spark.range(lo, hi, 1, parts).as[Long].map(k => Gen.row(seed, k, 0L))
      .toDF()
  }

  /** Distinct keys drawn uniformly from [lo, hi). */
  def distinctKeys(r: SplittableRandom, lo: Long, hi: Long,
      n: Int): Array[Long] = {
    val seen = scala.collection.mutable.LinkedHashSet[Long]()
    while (seen.size < n) seen += r.nextLong(lo, hi)
    seen.toArray
  }

  /** Recency-skewed key in [0, hi): a log-uniform rank from the newest
    * key, i.e. a Zipf(1) draw over recency.
    */
  def recentKey(r: SplittableRandom, hi: Long): Long = {
    val rank = math.floor(math.exp(r.nextDouble() * math.log(hi.toDouble)))
      .toLong - 1
    hi - 1 - math.min(math.max(rank, 0L), hi - 1)
  }

  // --------------------------------------------------------------- bronze

  /** What one generated bronze layer must produce in each sink, derived
    * from the generator's own draws (never from the engine).
    */
  final case class BronzeModel(expected: Map[String, Long])

  private val surnames = Seq("Иванов", "Петрова", "Сидоров", "Кузнецова",
    "Смирнов", "Попова", "Волков", "Соколова", "Лебедев", "Морозова",
    "Новиков", "Фёдорова", "Orlov", "Miller")
  private val initials = "АБВГДЕЖЗИКЛМНОПРСТ"

  def userName(i: Int): String =
    s"${surnames(i % surnames.size)} ${initials(i % initials.length)}." +
      s"${initials((i / 7) % initials.length)}. ${i / surnames.size}"

  /** CSV cell: quoted when it carries a comma; null is an empty cell. */
  private def cell(v: Any): String = v match {
    case null => ""
    case s: String if s.contains(",") => "\"" + s + "\""
    case s: String if s.isEmpty => "\"\""
    case x => x.toString
  }

  private def writeCsv(dir: Path, name: String, header: Seq[String],
      rows: Iterator[Seq[Any]]): Unit = {
    val d = Files.createDirectories(dir.resolve(name))
    val w = Files.newBufferedWriter(d.resolve("part-00000.csv"), UTF_8)
    try {
      w.write(header.mkString(",")); w.write("\n")
      rows.foreach { r => w.write(r.map(cell).mkString(",")); w.write("\n") }
    } finally w.close()
  }

  private def writeJsonLines(dir: Path, name: String,
      rows: Iterator[String]): Unit = {
    val d = Files.createDirectories(dir.resolve(name))
    val w = Files.newBufferedWriter(d.resolve("part-00000.json"), UTF_8)
    try rows.foreach { r => w.write(r); w.write("\n") } finally w.close()
  }

  private def jstr(s: String): String =
    if (s == null) "null"
    else "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""

  private def guid(seed: Long, kind: Int, i: Int): String = {
    val h = mix(seed * 7 + kind * 1000003L + i)
    f"${(h >>> 32) & 0xffffffffL}%08x-${(h >>> 16) & 0xffff}%04x-4${h & 0xfff}%03x-" +
      f"a${(h >>> 48) & 0xfff}%03x-${mix(h) & 0xffffffffffffL}%012x"
  }

  /** Bronze layer after FIXTURES.md, with Cyrillic, empty and null
    * cells. `logRows`/`syncRows`/`monitoringRows` set the fact volumes.
    */
  def bronze(dir: Path, seed: Long, monitoringRows: Int, logRows: Int,
      syncRows: Int, bimUsers: Seq[String], users: Int): BronzeModel = {
    val r = rng(seed, 11)
    val plugins = 120
    val mapped = 80         // plugins with a gitlab repo in the mapping
    val unmappedRepos = 20  // plugins/revit repos the mapping lacks
    val otherRepos = 50
    val pluginIds = (0 until plugins).map(i => guid(seed, 1, i))
    val stages = Seq(1 -> "Выпущен", 2 -> "Бета", 3 -> "В разработке",
      4 -> "", 5 -> "Архив")

    writeCsv(dir, "plugin", Seq("id", "display_name", "developer",
      "development_stage_id", "long_description", "instruction_link",
      "video_link", "technical_specification"),
      pluginIds.iterator.zipWithIndex.map { case (id, i) =>
        Seq(id, s"Плагин №$i", if (i % 9 == 0) null else userName(i * 3),
          1 + i % stages.size, if (i % 4 == 0) "" else s"Описание, версия $i",
          s"https://wiki.example/p$i", null, "ТЗ")
      })
    writeCsv(dir, "development_stage", Seq("id", "description"),
      stages.iterator.map { case (i, d) => Seq(i, d) })

    // mapping: gitlab ids in the sheet's "123.0" format, unique keys
    val repoName = (i: Int) => s"Plugin$i"
    writeCsv(dir, "plugin_mapping", Seq("gitlab_name", "gitlab_id",
      "tim_guid", "yougile_guid"),
      (0 until mapped).iterator.map(i =>
        Seq(repoName(i), s"${1000 + i}.0", pluginIds(i),
          if (i % 5 == 0) null else guid(seed, 2, i))))
    writeCsv(dir, "gitlab_repos", Seq("id", "name", "description"),
      ((0 until mapped + unmappedRepos).iterator.map(i =>
        Seq(1000 + i, s"plugins/revit/${repoName(i)}",
          if (i % 3 == 0) "" else "Репозиторий плагина")) ++
        (0 until otherRepos).iterator.map(i =>
          Seq(2000 + i, s"infra/сервис-$i", null))))
    writeJsonLines(dir, "gitlab_scan", (0 until mapped + unmappedRepos)
      .iterator.map { i =>
        val loc = if (i % 6 == 0) "{}"
          else s"""{"C#": ${r.nextInt(50000)}, "XAML": ${r.nextInt(5000)}}"""
        s"""{"id": ${1000 + i}, "chosen_branch": ${jstr(if (i % 2 == 0) "develop" else "main")}, "loc_by_language": $loc}"""
      })

    val names = (0 until users).map(userName)
    val bim = bimUsers.toSet
    writeCsv(dir, "ad_users", Seq("display_name", "department",
      "project_section"),
      names.iterator.zipWithIndex.map { case (n, i) =>
        Seq(n, if (i % 11 == 0) null else s"Отдел ${i % 13}",
          if (i % 5 == 0) "" else "АР")
      })

    /** A fact's user: null or empty now and then, else from the pool
      * (BIM users overrepresented, like the reference's logs).
      */
    def user(rr: SplittableRandom): String = rr.nextInt(40) match {
      case 0 => null
      case 1 => ""
      case n if n < 10 => bimUsers(rr.nextInt(bimUsers.size))
      case _ => names(rr.nextInt(names.size))
    }
    val projects = Seq("К01_GP1_AR_P_ivanov", "АТОМ_Блок2_КЖ_отсоединено",
      "X_СП.ЛЛУ_узлы", "ИКУ-7_ОВ_petrova", "Жилой комплекс, корпус 3",
      "атомная_станция_ЭМ", "", null)

    var monBim, monOther = 0L
    val rm = rng(seed, 12)
    writeCsv(dir, "tim_export_monitoring", Seq("plugin_id",
      "user_display_name", "project_name", "plugin_version", "username",
      "program_name", "program_version", "session_ms"),
      Iterator.tabulate(monitoringRows) { i =>
        val u = user(rm)
        if (bim.contains(u)) monBim += 1 else monOther += 1
        Seq(pluginIds(rm.nextInt(plugins)), u,
          projects(rm.nextInt(projects.size)), s"1.${i % 7}", "login",
          "Revit", if (i % 13 == 0) null else "2023", rm.nextInt(100000))
      })

    var logBim, logOther = 0L
    val rl = rng(seed, 13)
    writeCsv(dir, "tim_export_log", Seq("plugin_id", "user_display_name",
      "plugin_version", "username", "project_name", "message",
      "additional_message", "exception_message", "exception_stack_trace",
      "class_name", "program_name", "program_version", "created"),
      Iterator.tabulate(logRows) { i =>
        val u = user(rl)
        // the CSV reader takes an empty cell for null
        if (u != null && u.nonEmpty) { if (bim.contains(u)) logBim += 1 else logOther += 1 }
        val failed = rl.nextInt(10) == 0
        Seq(pluginIds(rl.nextInt(plugins)), u, s"2.${i % 5}", "login",
          projects(rl.nextInt(projects.size)),
          if (failed) "Ошибка, операция прервана" else "Команда выполнена",
          if (i % 3 == 0) null else "",
          if (failed) "NullReferenceException" else null,
          if (failed) "at Plugin.Run()" else null,
          s"Plugin.Command$i", "Revit", "2024",
          f"2024-0${1 + i % 9}-${1 + i % 28}%02d 10:00:00")
      })

    var syncBim, syncOther = 0L
    val rs = rng(seed, 14)
    writeCsv(dir, "tim_export_project_sync", Seq("project_name",
      "user_display_name", "username", "date", "program_name",
      "program_version"),
      Iterator.tabulate(syncRows) { i =>
        val u = user(rs)
        val p = projects(rs.nextInt(projects.size))
        val detached = p != null && p.toLowerCase.contains("отсоединено")
        if (!detached) { if (bim.contains(u)) syncBim += 1 else syncOther += 1 }
        Seq(p, u, if (i % 17 == 0) null else "ivanov",
          f"2024-${1 + i % 12}%02d-${1 + i % 28}%02d ${i % 24}%02d:${i % 60}%02d:00",
          "Revit", "2024")
      })

    // task export: some tasks are subtasks of others (dropped by the
    // pipeline), some unassigned, some open; stickers dict-or-list
    val tasks = 116
    val ry = rng(seed, 15)
    val parentOf = (0 until tasks).map(i =>
      if (i >= 16 && ry.nextInt(4) == 0) Some(ry.nextInt(16)) else None)
    writeJsonLines(dir, "yougile_tasks", (0 until tasks).iterator.map { i =>
      val subs = parentOf.zipWithIndex.collect {
        case (Some(p), c) if p == i => jstr(s"t$c") }
      val assigned = (0 until i % 3).map(j => jstr(s"u${(i + j) % 30}"))
      val done = if (i % 4 == 0) "null" else (1705388400000L + i * 3600000L).toString
      val stickers = if (i % 2 == 0) jstr(s"""{"s$i": "st${i % 3}"}""") else jstr("[]")
      s"""{"task_id": ${jstr(s"t$i")}, "title": ${jstr(s"Задача $i")}, """ +
        s""""assigned": [${assigned.mkString(", ")}], """ +
        s""""subtasks": ${if (subs.isEmpty && i % 2 == 0) "null" else subs.mkString("[", ", ", "]")}, """ +
        s""""created_ms": ${1705309200000L + i * 60000L}, "completed_ms": $done, "stickers": $stickers}"""
    })
    writeCsv(dir, "yougile_users", Seq("user_id", "real_name"),
      (0 until 25).iterator.map(i => Seq(s"u$i",
        if (i % 8 == 0) "" else userName(i))))

    BronzeModel(Map(
      "scripts_bim" -> monBim,
      "scripts_designers" -> monOther,
      "gitlab_enriched" -> (mapped + unmappedRepos + otherRepos).toLong,
      "mapping_writeback" -> unmappedRepos.toLong,
      "projectsync_bim" -> syncBim,
      "projectsync_designers" -> syncOther,
      "yougile_tasks" -> parentOf.count(_.isEmpty).toLong,
      "yougile_tasks_csv" -> parentOf.count(_.isEmpty).toLong,
      "logs_bim" -> logBim,
      "logs_designers" -> logOther))
  }
}
