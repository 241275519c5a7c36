package perfbench

import java.nio.file.{Files, Path}
import org.apache.spark.sql.SparkSession

/** One closed-loop workload: one client thread that issues its next
  * unit of work only after the previous one returned.
  */
abstract class Workload(val spark: SparkSession, val seed: Long,
    val dir: Path, val plant: Boolean) {

  /** The timed loop runs whole cycles of this many units, at least two:
    * a traced run traces every other cycle, so each phase of a cycle is
    * seen both traced and untraced.
    */
  def cycle: Int

  /** A unit's typical wall time (s) on a 4-core host. The timed loop runs
    * the number of whole cycles that fills `--seconds` at this pace, so
    * every run of a workload measures the same work whatever the host's
    * speed at that moment.
    */
  def nominalUnitS: Double

  def units(seconds: Double): Int =
    cycle * math.max(2, math.round(seconds / (nominalUnitS * cycle)).toInt)

  /** Generate the inputs and do the initial load, into fresh state. */
  def setup(): Unit

  /** Untimed work that lets caches fill and lazy set-up finish. */
  def warmup(tr: Tracer): Unit

  /** One unit of the closed loop: a pipeline run or an ingest round. */
  def unit(i: Int, tr: Tracer): Unit

  /** Unit latencies (ms) behind `p50_ms`. */
  def primary: Seq[Double]

  /** Unit `i`'s latencies by operation kind, for the tracing overhead:
    * traced against untraced units of the same run, kind by kind.
    */
  def overheadSamples(i: Int): Map[String, Double]

  /** Engine calls made so far (each may fail). */
  def ops: Long

  /** The untimed correctness gate: one entry per check, with a message
    * when the check failed.
    */
  def gate(): Seq[Option[String]]

  /** The workload's named end-to-end metrics, printed by name. */
  def named(): Seq[(String, Double, String)]

  /** Layer measures that are not span means (per unit of work). */
  def layerExtras(tr: Tracer): Map[String, Double] = Map.empty

  /** Wall time (ms) of the traced units that the workload's parts (its
    * stages or its top-level calls) do not cover.
    */
  def unattributedMs(tr: Tracer, traced: Seq[Layers.UnitRec]): Double = {
    val top = tr.allSpans.filter(_.parent < 0)
    traced.map(u => u._4 - top.filter(s => s.t0Ms >= u._2 && s.t0Ms <= u._3)
      .map(_.wallMs).sum).sum
  }

  // ----------------------------------------------------------- helpers

  protected def timed[A](body: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = body
    (a, (System.nanoTime() - t0) / 1e6)
  }

  protected def fresh(name: String): Path = {
    val p = dir.resolve(name)
    Workload.rmrf(p)
    p
  }
}

object Workload {
  def rmrf(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.sorted(java.util.Comparator.reverseOrder[Path]())
      .forEach(f => Files.delete(f))
    finally s.close()
  }
}
