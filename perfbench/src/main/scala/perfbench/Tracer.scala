package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import org.apache.hadoop.fs.FileSystem
import org.apache.spark.scheduler._
import org.apache.spark.sql.{PerfbenchBus, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.util.QueryExecutionListener
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** File-system counters: Hadoop's statistics summed over every scheme,
  * plus the operations [[CountingLocalFileSystem]] counts for `file:`.
  */
final case class FsSnap(readOps: Long, writeOps: Long, bytesWritten: Long) {
  def -(o: FsSnap): FsSnap = FsSnap(readOps - o.readOps,
    writeOps - o.writeOps, bytesWritten - o.bytesWritten)
}

object FsSnap {
  @annotation.nowarn("cat=deprecation")
  def now(): FsSnap = {
    val all = FileSystem.getAllStatistics.asScala
    FsSnap(all.map(s => s.getReadOps + s.getLargeReadOps).sum +
        CountingLocalFileSystem.reads.get(),
      all.map(_.getWriteOps.toLong).sum + CountingLocalFileSystem.writes.get(),
      all.map(_.getBytesWritten).sum)
  }
}

/** One Spark job as the listener saw it. */
final class JobRec(val id: Int, val startMs: Long, val execId: Long,
    val callSite: String) {
  var endMs: Long = -1L
  var stages = 0
  var tasks = 0
  var taskMs = 0L
  var shuffleBytes = 0L
  var recordsWritten = 0L
  var bytesRead = 0L
}

/** One SQL execution: its window, its physical plan's text and the id
  * of the QueryExecution it ran.
  */
final class ExecRec(val id: Long, val startMs: Long, val plan: String) {
  var endMs: Long = -1L
  var qeId: Long = -1L
}

/** A timed call into one layer. Spans of one operation share `opId`;
  * `parent` is the enclosing span (-1 at the top).
  */
final class Span(val id: Int, val parent: Int, val opId: Long,
    val name: String, val t0Ns: Long, val t0Ms: Long, val fs0: FsSnap) {
  var t1Ns = 0L
  var t1Ms = 0L
  var fs1: FsSnap = fs0
  val extras = mutable.LinkedHashMap[String, Double]()
  def wallMs: Double = (t1Ns - t0Ns) / 1e6
}

/** Per-layer tracing for one benchmark run: one SparkListener plus one
  * QueryExecutionListener, registered by [[start]] and removed by
  * [[stop]], so no session state outlives the run. Spans stay in memory
  * and are written out once, at the end.
  *
  * Recording is switched per unit of work ([[enable]]/[[disable]]) so a
  * traced run can alternate traced and untraced units and measure the
  * tracing overhead on the same inputs. With tracing off, [[span]] only
  * runs its body.
  */
final class Tracer(spark: SparkSession) {
  @volatile private var on = false
  private var registered = false
  private val lock = new Object
  private val jobs = mutable.LinkedHashMap[Int, JobRec]()
  private val stageJob = mutable.HashMap[Int, JobRec]()
  private val execs = mutable.LinkedHashMap[Long, ExecRec]()
  private val catalystByQe = mutable.HashMap[Long, Long]()
  private val spans = mutable.ArrayBuffer[Span]()
  private var open: List[Span] = Nil
  private var nextOp = 0L

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      if (on) lock.synchronized {
        val exec = Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
          .map(_.toLong).getOrElse(-1L)
        val j = new JobRec(e.jobId, e.time, exec,
          e.stageInfos.sortBy(_.stageId).lastOption.map(_.name).getOrElse(""))
        jobs(e.jobId) = j
        e.stageIds.foreach(s => stageJob.getOrElseUpdate(s, j))
      }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      if (on) lock.synchronized { jobs.get(e.jobId).foreach(_.endMs = e.time) }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      if (on) lock.synchronized {
        stageJob.get(e.stageInfo.stageId).foreach(_.stages += 1)
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      if (on && e.taskMetrics != null) lock.synchronized {
        stageJob.get(e.stageId).foreach { j =>
          val m = e.taskMetrics
          j.tasks += 1
          j.taskMs += m.executorRunTime
          j.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
          j.recordsWritten += m.outputMetrics.recordsWritten
          j.bytesRead += m.inputMetrics.bytesRead
        }
      }
    override def onOtherEvent(e: SparkListenerEvent): Unit =
      if (on) e match {
        case s: SparkListenerSQLExecutionStart => lock.synchronized {
          execs(s.executionId) = new ExecRec(s.executionId, s.time,
            s.physicalPlanDescription)
        }
        case s: SparkListenerSQLExecutionEnd => lock.synchronized {
          execs.get(s.executionId).foreach { x =>
            x.endMs = s.time
            x.qeId = PerfbenchBus.queryExecutionId(s).getOrElse(-1L)
          }
        }
        case _ =>
      }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution,
        durationNs: Long): Unit = record(qe)
    override def onFailure(funcName: String, qe: QueryExecution,
        exception: Exception): Unit = record(qe)
    private def record(qe: QueryExecution): Unit = if (on) {
      val ms = qe.tracker.phases.values.map(_.durationMs).sum
      lock.synchronized { catalystByQe(qe.id) = ms }
    }
  }

  def start(): Unit = if (!registered) {
    spark.sparkContext.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
    registered = true
  }

  def stop(): Unit = if (registered) {
    disable()
    spark.sparkContext.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
    registered = false
  }

  def tracing: Boolean = on

  /** Drain the bus first, so events of earlier, untraced work are not
    * taken for this unit's.
    */
  def enable(): Unit = if (registered) {
    PerfbenchBus.drain(spark.sparkContext); on = true
  }

  def disable(): Unit = if (on) {
    PerfbenchBus.drain(spark.sparkContext); on = false
  }

  def newOp(): Long = { nextOp += 1; nextOp }

  /** Run `body` as a span named `name`; a plain call when not tracing. */
  def span[A](name: String, opId: Long)(body: => A): A =
    if (!on) body
    else {
      val s = openSpan(name, opId)
      try body finally closeSpan(s)
    }

  def openSpan(name: String, opId: Long): Span = {
    val s = new Span(spans.size, open.headOption.map(_.id).getOrElse(-1),
      opId, name, System.nanoTime(), System.currentTimeMillis(), FsSnap.now())
    spans += s
    open = s :: open
    s
  }

  def closeSpan(s: Span): Unit = {
    s.fs1 = FsSnap.now()
    s.t1Ms = System.currentTimeMillis()
    s.t1Ns = System.nanoTime()
    open = open.filterNot(_ eq s)
  }

  /** Attach a measure to the latest span named `name`. */
  def note(name: String, key: String, value: Double): Unit =
    if (on) spans.reverseIterator.find(_.name == name)
      .foreach(_.extras(key) = value)

  // ------------------------------------------------------------ readout

  def allSpans: Seq[Span] = spans.toSeq

  def jobsIn(t0Ms: Long, t1Ms: Long): Seq[JobRec] = lock.synchronized {
    jobs.values.filter(j => j.startMs >= t0Ms && j.startMs <= t1Ms).toSeq
  }

  def execsIn(t0Ms: Long, t1Ms: Long): Seq[ExecRec] = lock.synchronized {
    execs.values.filter(e => e.startMs >= t0Ms && e.startMs <= t1Ms).toSeq
  }

  /** Catalyst phase time of the executions started in the window. */
  def catalystMs(t0Ms: Long, t1Ms: Long): Long = {
    val ids = execsIn(t0Ms, t1Ms).map(_.qeId)
    lock.synchronized { ids.flatMap(catalystByQe.get).sum }
  }

  /** Wall time inside [t0, t1] not covered by any job of `js`. */
  def gapMs(t0Ms: Long, t1Ms: Long, js: Seq[JobRec]): Double = {
    val iv = js.map(j => (math.max(j.startMs, t0Ms),
      math.min(if (j.endMs < 0) t1Ms else j.endMs, t1Ms)))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L
    var curA = -1L
    var curB = -1L
    iv.foreach { case (a, b) =>
      if (a > curB) { covered += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    covered += curB - curA
    math.max(0.0, (t1Ms - t0Ms) - covered)
  }

  /** The common measure set of one span. */
  def measures(s: Span): Map[String, Double] = {
    val js = jobsIn(s.t0Ms, s.t1Ms)
    val fs = s.fs1 - s.fs0
    Map("wall_ms" -> s.wallMs,
      "jobs" -> js.size.toDouble,
      "task_ms" -> js.map(_.taskMs).sum.toDouble,
      "driver_gap_ms" -> gapMs(s.t0Ms, s.t1Ms, js),
      "fs_read_ops" -> fs.readOps.toDouble,
      "fs_write_ops" -> fs.writeOps.toDouble,
      "bytes_written" -> fs.bytesWritten.toDouble,
      "self_ms" -> (s.wallMs - spans.filter(_.parent == s.id)
        .map(_.wallMs).sum)) ++ s.extras
  }

  /** Spans and their measures, one JSON object per line. */
  def writeSpans(path: Path): Unit = {
    val out = spans.map { s =>
      val ms = measures(s).toSeq.sortBy(_._1)
        .map { case (k, v) => s"${Stats.str(k)}: ${Stats.num(v)}" }
      s"""{"id": ${s.id}, "parent": ${s.parent}, "op": ${s.opId}, """ +
        s""""name": ${Stats.str(s.name)}, "start_ms": ${s.t0Ms}, """ +
        s""""end_ms": ${s.t1Ms}, ${ms.mkString(", ")}}"""
    }
    Files.write(path, (out.mkString("\n") + "\n").getBytes(UTF_8))
  }
}
