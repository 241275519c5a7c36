package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}

/** The per-layer metrics of a traced run, named
  * `<module>.<Object>.<op>.<measure>`. Span measures are means per call;
  * `spark.*` and `jvm.gc_ms` are per traced unit of work. A layer the
  * workload never calls reads 0 calls and 0 everywhere else.
  */
object Layers {

  private val common = Seq("calls" -> "count", "wall_ms" -> "ms",
    "jobs" -> "count", "task_ms" -> "ms", "driver_gap_ms" -> "ms",
    "fs_read_ops" -> "count", "fs_write_ops" -> "count",
    "bytes_written" -> "bytes")

  private val stages = Seq("scripts", "gitlab", "projectsync", "yougile",
    "logs", "maintenance")

  /** Layer → its measures beyond the common set. */
  val spanLayers: Seq[(String, Seq[(String, String)])] = Seq(
    "pipelines.PipelineMain.run" -> stages.flatMap(s => Seq(
      s"$s.wall_s" -> "s", s"$s.jobs" -> "count", s"$s.task_s" -> "s")),
    "operators.AtomicIncrement.append" -> Seq("files_added" -> "count"),
    "streaming.MergeStream.applyBatchStep" -> Seq("self_ms" -> "ms",
      "files_rewritten" -> "count", "rows_written_per_change_row" -> "ratio",
      "replay_wall_ms" -> "ms"),
    "operators.IncrementalAgg.fold" -> Nil,
    "operators.AtomicIncrement.merge" -> Nil,
    "operators.Maintenance.maintainAtomic" -> Seq("files_before" -> "count",
      "files_after" -> "count", "sidecars_built" -> "count"),
    "operators.BloomSkip.pointLookup" -> Seq("files_opened" -> "count",
      "files_committed" -> "count"),
    "sources.AtomicTable.scan" -> Seq("files_opened" -> "count",
      "files_committed" -> "count", "catalyst_ms" -> "ms"),
    "operators.AtomicIncrement.changesBetween" -> Nil,
    "operators.IncrementalAgg.readState" -> Nil)

  private val others = Seq(
    "sources.bronze.read_jobs" -> "count",
    "sources.bronze.bytes_read" -> "bytes",
    "sources.Sinks.files_written" -> "count",
    "spark.jobs" -> "count", "spark.stages" -> "count",
    "spark.tasks" -> "count", "spark.task_s" -> "s",
    "spark.shuffle_bytes" -> "bytes", "spark.catalyst_ms" -> "ms",
    "spark.driver_gap_s" -> "s",
    "jvm.gc_ms" -> "ms", "jvm.heap_used_peak_mb" -> "MB",
    "trace.overhead_pct" -> "%", "trace.unattributed_pct" -> "%")

  /** Every per-layer metric, in print order. */
  val names: Seq[(String, String)] = spanLayers.flatMap { case (l, extra) =>
    (common ++ extra).map { case (m, u) => s"$l.$m" -> u }
  } ++ others

  /** Counts that should not depend on the host: the repeatability
    * baseline compares these per span of each traced op.
    */
  private def isCount(k: String): Boolean =
    k == "jobs" || k.endsWith(".jobs") || k.endsWith("_jobs") ||
      k.startsWith("fs_") || k.startsWith("files_") ||
      k.endsWith("files_written") || k == "sidecars_built"

  /** (index, start ms, end ms, wall ms, traced, gc ms) per unit. */
  type UnitRec = (Int, Long, Long, Double, Boolean, Long)

  def compute(tr: Tracer, wl: Workload, units: Seq[UnitRec],
      out: Path): Seq[(String, Double, String)] = {
    val spans = tr.allSpans.filter(_.t1Ns > 0)
    val measured = spans.map(s => s -> tr.measures(s))
    val values = collection.mutable.Map[String, Double]()
    spanLayers.foreach { case (layer, extra) =>
      val ms = measured.filter(_._1.name == layer).map(_._2)
      values(s"$layer.calls") = ms.size
      (common.tail ++ extra).foreach { case (m, _) =>
        values(s"$layer.$m") = Stats.mean(ms.flatMap(_.get(m)))
      }
    }
    values ++= wl.layerExtras(tr)

    val traced = units.filter(_._5)
    val per = math.max(1, traced.size).toDouble
    val jobs = traced.flatMap(u => tr.jobsIn(u._2, u._3))
    values("spark.jobs") = jobs.size / per
    values("spark.stages") = jobs.map(_.stages).sum / per
    values("spark.tasks") = jobs.map(_.tasks).sum / per
    values("spark.task_s") = jobs.map(_.taskMs).sum / 1000.0 / per
    values("spark.shuffle_bytes") = jobs.map(_.shuffleBytes).sum / per
    values("spark.catalyst_ms") =
      traced.map(u => tr.catalystMs(u._2, u._3)).sum / per
    values("spark.driver_gap_s") = traced.map(u =>
      tr.gapMs(u._2, u._3, tr.jobsIn(u._2, u._3))).sum / 1000.0 / per
    values("jvm.gc_ms") = traced.map(_._6).sum / per
    values("jvm.heap_used_peak_mb") = Main.heapPeakMb()

    // overhead: per operation kind, the median traced latency over the
    // median untraced one of the same run; the median of those ratios
    val (on, off) = units.partition(_._5)
    def byKind(us: Seq[UnitRec]) = us.flatMap(u => wl.overheadSamples(u._1))
      .groupMap(_._1)(_._2).view.mapValues(Stats.median).toMap
    val (onK, offK) = (byKind(on), byKind(off))
    val ratios = onK.keySet.intersect(offK.keySet).toSeq.map(k => onK(k) / offK(k))
    values("trace.overhead_pct") =
      if (ratios.isEmpty) 0.0 else (Stats.median(ratios) - 1) * 100
    // how much of the traced units' wall time the workload's parts leave
    // uncovered; the parts should add up to the whole within 5%
    val unitWall = traced.map(_._4).sum
    val unattributed =
      if (unitWall <= 0) 0.0 else wl.unattributedMs(tr, traced) / unitWall * 100
    values("trace.unattributed_pct") = unattributed
    if (unattributed > 5)
      Main.log(f"parts cover only ${100 - unattributed}%.1f%% of the traced wall time (tolerance 5%%)")

    tr.writeSpans(out.resolve("spans.jsonl"))
    val lines = measured.map { case (s, m) =>
      val cs = m.toSeq.filter(kv => isCount(kv._1)).sortBy(_._1).map {
        case (k, v) => s"${Stats.str(k)}: ${Stats.num(v)}" }
      s"""{"op": ${s.opId}, "span": ${Stats.str(s.name)}, ${cs.mkString(", ")}}"""
    }
    Files.write(out.resolve("counts.jsonl"),
      (lines.mkString("\n") + "\n").getBytes(UTF_8))

    names.map { case (n, u) => (n, values.getOrElse(n, 0.0), u) }
  }
}
