package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Runs one workload for a fixed time and prints its metrics.
  *
  * {{{
  * Main --workload <medallion_batch|cdc_ingest> --seed <n>
  *      --seconds <s> --trace <0|1> --dir <work dir> [--plant-off-by-one]
  * }}}
  *
  * Every metric is printed by name as `metric <name> <value> <unit>`;
  * the last line of standard output is the JSON result. The exit code is
  * 1 when an operation failed or a correctness gate failed.
  *
  * With `--trace 1` the timed loop's cycles alternate untraced and
  * traced: the traced ones give the per-layer metrics, and the two
  * halves' latencies give the tracing overhead. Spans and per-op counts
  * go to the work dir.
  */
object Main {

  def main(args: Array[String]): Unit = {
    val a = args.sliding(2, 1).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    val workload = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val trace = a.get("trace").contains("1")
    val dir = Path.of(a("dir")).toAbsolutePath
    val plant = args.contains("--plant-off-by-one")
    Workload.rmrf(dir.resolve(workload))
    Files.createDirectories(dir.resolve(workload))
    sys.exit(run(workload, seed, seconds, trace, dir, plant))
  }

  private def run(name: String, seed: Long, seconds: Double,
      trace: Boolean, dir: Path, plant: Boolean): Int = {
    val t0 = System.nanoTime()
    val spark = graft.GraftSession.getOrCreate()
    val sessionS = (System.nanoTime() - t0) / 1e9
    try {
      val wd = dir.resolve(name)
      val wl: Workload = name match {
        case "medallion_batch" => new MedallionBatch(spark, seed, wd, plant)
        case "cdc_ingest" => new CdcIngest(spark, seed, wd, plant)
        case other => throw new IllegalArgumentException(s"unknown workload $other")
      }
      val tr = new Tracer(spark)

      // set-up: generation + initial load, then one warm-up
      val s0 = System.nanoTime()
      wl.setup()
      val loadS = (System.nanoTime() - s0) / 1e9
      val w0 = System.nanoTime()
      wl.warmup(tr)
      val warmS = (System.nanoTime() - w0) / 1e9
      val setupS = sessionS + loadS + warmS
      log(f"set-up: session $sessionS%.2f s, load $loadS%.2f s, warm-up $warmS%.2f s")

      // the closed loop
      if (trace) tr.start()
      resetHeapPeaks()
      val cpu0 = cpuTicks()
      val failures = mutable.ArrayBuffer[String]()
      val units = mutable.ArrayBuffer[Layers.UnitRec]()
      val unitCpu = mutable.ArrayBuffer[Double]()
      val todo = wl.units(seconds)
      var i = 0
      while (i < todo && failures.isEmpty) {
        val traced = trace && (i / wl.cycle) % 2 == 1
        if (traced) tr.enable()
        val gc0 = gcMs()
        val c0 = procCpuNs()
        val m0 = System.currentTimeMillis()
        val n0 = System.nanoTime()
        try wl.unit(i, tr) catch {
          case e: Exception =>
            failures += s"unit $i: $e"
            log(s"unit $i failed: $e")
        }
        val wall = (System.nanoTime() - n0) / 1e6
        val m1 = System.currentTimeMillis()
        unitCpu += (procCpuNs() - c0) / 1e6
        tr.disable()
        log(f"unit $i: $wall%.0f ms")
        units += ((i, m0, m1, wall, traced, gcMs() - gc0))
        i += 1
      }
      val cpu1 = cpuTicks()

      val g0 = System.nanoTime()
      val checks =
        try wl.gate() catch { case e: Exception => Seq(Some(s"gate threw: $e")) }
      val gateFailures = checks.flatten
      log(f"gate: ${(System.nanoTime() - g0) / 1e9}%.2f s")
      gateFailures.foreach(f => log(s"GATE FAILED: $f"))
      val failed = failures.size + gateFailures.size
      val attempted = wl.ops + checks.size
      // the wall-clock latencies follow the host's CPU steal; the CPU
      // time a unit costs moves about half as much, so it is the gated
      // latency metric (perfbench/README.md)
      val endToEnd = Seq(
        ("setup_s", setupS, "s"),
        ("cpu_p50_ms", Stats.median(unitCpu), "ms"),
        ("rss_peak_mb", rssPeakMb(), "MB"))
      val named = endToEnd ++ Seq(
        ("p50_ms", Stats.median(wl.primary), "ms"),
        ("ops_per_s", units.size / (units.map(_._4).sum / 1000.0), "1/s"),
        ("error_rate", failed.toDouble / attempted, "ratio"),
        ("steal_pct", 100.0 * (cpu1._1 - cpu0._1) /
          math.max(1L, cpu1._2 - cpu0._2), "%"),
        ("units", units.size.toDouble, "count")) ++ wl.named()
      named.foreach { case (n, v, u) => println(s"metric $n ${Stats.num(v)} $u") }

      val metrics =
        if (!trace) endToEnd
        else {
          tr.stop()
          val layers = Layers.compute(tr, wl, units.toSeq, dir.resolve(name))
          layers.foreach { case (n, v, u) => println(s"layer $n ${Stats.num(v)} $u") }
          layers
        }
      val correct = gateFailures.isEmpty
      println(s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": ${Stats.metricsJson(metrics)}}""")
      System.out.flush()
      if (failed == 0) 0 else 1
    } finally spark.stop()
  }

  def log(s: String): Unit = System.err.println(s"[perfbench] $s")

  private def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(0L, b.getCollectionTime)).sum

  private def resetHeapPeaks(): Unit =
    ManagementFactory.getMemoryPoolMXBeans.asScala.foreach(_.resetPeakUsage())

  def heapPeakMb(): Double =
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed).sum / 1048576.0

  /** (steal, busy) CPU ticks of the host so far. The share of the busy
    * time the hypervisor gave to other guests during the timed loop tells
    * a disturbed run from a slow engine; idle CPUs accrue no steal, so
    * the share is taken of busy ticks, not of all.
    */
  private def cpuTicks(): (Long, Long) = {
    val f = Files.readAllLines(Path.of("/proc/stat"), UTF_8).get(0)
      .split("\\s+").drop(1).take(8).map(_.toLong)
    (if (f.length > 7) f(7) else 0L, f.sum - f(3) - f(4))
  }

  /** CPU time of this process so far: every thread, GC included. */
  private def procCpuNs(): Long =
    ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  /** Peak resident set of this process (VmHWM), in MiB. */
  private def rssPeakMb(): Double =
    Files.readAllLines(Path.of("/proc/self/status"), UTF_8).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0)
      .getOrElse(heapPeakMb())
}
