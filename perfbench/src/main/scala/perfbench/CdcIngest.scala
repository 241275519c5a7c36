package perfbench

import graft.operators.{AtomicIncrement, BloomSkip, IncrementalAgg, Maintenance}
import graft.streaming.MergeStream
import java.nio.file.{Files, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** `cdc_ingest`: a keyed table kept maintained under a change feed while
  * it serves reads.
  *
  * Each round appends `appendKeys` new keys (and folds them into the
  * rollup), applies one CDC micro-batch of `batchKeys` keys drawn from
  * the newest `hotKeys` through `MergeStream.applyBatchStep` (about 1/7
  * of them deletes), then serves one read of each kind: a Bloom point
  * lookup on a recency-skewed key, a SQL range scan through a
  * `graft-atomic` view, a rollup read, and a change-feed window. One
  * round in `maintainEvery` ends with `Maintenance.maintainAtomic`
  * (cluster and Bloom on the key, 4 target files), and the timed loop
  * runs whole cycles of `maintainEvery` rounds. One batch in
  * `redeliverEvery` is delivered twice under the same batch id, in a
  * maintenance round of the second cycle, so the median round is a plain
  * one and a traced run (which traces every other cycle) sees it.
  *
  * Maintenance vacuums superseded files, and `changesBetween` from a
  * vacuumed version throws PATH_NOT_FOUND, so feed windows start no
  * earlier than the last maintenance.
  */
final class CdcIngest(spark: SparkSession, seed: Long, dir: Path,
    plant: Boolean) extends Workload(spark, seed, dir, plant) {
  import spark.implicits._

  val baseKeys = 300000
  val appendKeys = 3000
  val batchKeys = 1500
  val hotKeys = 60000
  val scanWidth = 4000
  val maintainEvery = 3
  val maintainPhase = 2
  val redeliverEvery = 16
  val redeliverPhase = 5
  val warmRounds = 1
  val gateLookups = 4
  val gateScans = 2
  override def cycle: Int = maintainEvery
  def nominalUnitS = 4.5

  private val Append = "operators.AtomicIncrement.append"
  private val Fold = "operators.IncrementalAgg.fold"
  private val Step = "streaming.MergeStream.applyBatchStep"
  private val Merge = "operators.AtomicIncrement.merge"
  private val Maintain = "operators.Maintenance.maintainAtomic"
  private val Point = "operators.BloomSkip.pointLookup"
  private val Scan = "sources.AtomicTable.scan"
  private val State = "operators.IncrementalAgg.readState"
  private val Feed = "operators.AtomicIncrement.changesBetween"
  private val view = "perfbench_cdc"

  private var table = ""
  private var state = ""
  private var hi = 0L            // next new key
  private var maintained = 0L    // table version after the last maintenance
  /** The driver-side model: each key's version, -1 when absent. */
  private var ver = Array.fill(1 << 20)(-1)
  private var live = 0L
  private var nOps = 0L
  private val lat = mutable.Map[String, mutable.ArrayBuffer[Double]]()
  private val roundMs = mutable.ArrayBuffer[Double]()
  private val unitOps = mutable.Map[Int, mutable.Map[String, Double]]()

  private def put(k: Long, v: Int): Unit = {
    if (k >= ver.length) ver = ver ++ Array.fill(ver.length)(-1)
    if (ver(k.toInt) < 0 && v >= 0) live += 1
    if (ver(k.toInt) >= 0 && v < 0) live -= 1
    ver(k.toInt) = v
  }

  private var current = -1        // the timed unit's index, -1 while warming up

  private def sample(kind: String, ms: Double): Unit = if (current >= 0) {
    lat.getOrElseUpdate(kind, mutable.ArrayBuffer[Double]()) += ms
    unitOps.getOrElseUpdate(current, mutable.Map[String, Double]())(kind) = ms
  }

  def setup(): Unit = {
    val d = fresh("cdc")
    table = d.resolve("table").toString
    state = d.resolve("rollup").toString
    val base = Gen.keyed(spark, seed, 0, baseKeys, 4)
    AtomicIncrement.appendIncrementAtomic(base, table, "k")
    // the rollup starts as one fold of the base load, below every
    // round's batch id
    IncrementalAgg.mergeCdcBatch(base, base.limit(0), state, Seq("grp"),
      Seq("x"), -1L)
    spark.sql(s"CREATE OR REPLACE TEMPORARY VIEW $view USING `graft-atomic` " +
      s"OPTIONS (path '$table')")
    nOps += 2
    hi = baseKeys
    maintained = latestVersion()
    ver = Array.fill(1 << 20)(-1)
    live = 0
    (0L until baseKeys).foreach(k => put(k, 0))
  }

  def warmup(tr: Tracer): Unit =
    (0 until warmRounds).foreach(r => round(r, tr, -1))

  def unit(i: Int, tr: Tracer): Unit = {
    val (_, ms) = timed(round(warmRounds + i, tr, i))
    roundMs += ms
  }

  def primary: Seq[Double] = roundMs.toSeq
  def overheadSamples(i: Int): Map[String, Double] =
    unitOps.get(i).map(_.toMap).getOrElse(Map.empty)
  def ops: Long = nOps

  /** The micro-batch of round `r`: distinct keys from the newest
    * `hotKeys`, 1/7 deletes, upserts carrying version r + 1.
    */
  private def batch(r: Int): Seq[CRow] = {
    val rr = Gen.rng(seed, 100000L + r)
    Gen.distinctKeys(rr, math.max(0L, hi - hotKeys), hi, batchKeys).toSeq
      .map { k =>
        if (rr.nextInt(7) == 0) CRow(k, "", 0.0, null,
          r + 1L, del = true)
        else {
          val w = Gen.row(seed, k, r + 1L)
          CRow(w.k, w.grp, w.x, w.note, r + 1L, del = false)
        }
      }
  }

  /** One round; `i` is the timed unit's index (-1 while warming up). */
  private def round(r: Int, tr: Tracer, i: Int): Unit = {
    val op = tr.newOp()
    current = i
    // 1. append the next keys, then fold them into the rollup
    val lo = hi
    val fresh = Gen.keyed(spark, seed, lo, lo + appendKeys, 1)
    val before = if (tr.tracing) committed() else Set.empty[String]
    sample("append", timed(tr.span(Append, op) {
      AtomicIncrement.appendIncrementAtomic(fresh, table, "k")
    })._2)
    if (tr.tracing) tr.note(Append, "files_added",
      (committed() -- before).size)
    hi = lo + appendKeys
    (lo until hi).foreach(k => put(k, 0))
    tr.span(Fold, op) {
      IncrementalAgg.mergeCdcBatch(fresh, fresh.limit(0), state,
        Seq("grp"), Seq("x"), 2L * r)
    }
    nOps += 2

    // 2. the CDC micro-batch, now and then delivered twice
    val b = batch(r)
    val changes = b.toDF()
    val deliveries = if (r % redeliverEvery == redeliverPhase) 2 else 1
    (0 until deliveries).foreach { d =>
      val pre = if (tr.tracing) committed() else Set.empty[String]
      val ms = timed(step(changes, 2L * r + 1, op, tr))._2
      if (d == 0) sample("merge", ms)
      else tr.note(Step, "replay_wall_ms", ms)
      if (tr.tracing) tr.note(Step, "files_rewritten",
        (pre -- committed()).size)
      nOps += 1
    }
    b.foreach(c => put(c.k, if (c.del) -1 else r + 1))

    // 3. the read side
    val rr = Gen.rng(seed, 200000L + r)
    val ((hit, _), pointMs) = timed(lookup(Gen.recentKey(rr, hi), tr, op))
    sample("point", pointMs)
    if (tr.tracing) {
      tr.note(Point, "files_opened", hit.inputFiles.length)
      tr.note(Point, "files_committed", committed().size)
    }
    sample("scan", timed(scan(hi - scanWidth - rr.nextLong(hotKeys), tr,
      op))._2)
    val (kept, all) = graft.PerfbenchAccess.lastScan(table)
    tr.note(Scan, "files_opened", kept)
    tr.note(Scan, "files_committed", all)
    sample("rollup", timed(readState(tr, op))._2)
    sample("feed", timed(feed(tr, op))._2)

    // 4. maintenance on its cadence
    if (r % maintainEvery == maintainPhase) {
      val rep = tr.span(Maintain, op) {
        Maintenance.maintainAtomic(spark, Maintenance.Target(table,
          clusterCols = Seq("k"), bloomCols = Seq("k"), targetFiles = 4))
      }
      maintained = latestVersion()
      tr.note(Maintain, "files_before", rep.filesBefore)
      tr.note(Maintain, "files_after", rep.filesAfter)
      tr.note(Maintain, "sidecars_built", rep.sidecarsBuilt)
      nOps += 1
    }
  }

  /** applyBatchStep, its span split at the fold/merge seam. */
  private def step(changes: DataFrame, batchId: Long, op: Long,
      tr: Tracer): Unit =
    tr.span(Step, op) {
      val fold = if (tr.tracing) Some(tr.openSpan(Fold, op)) else None
      var merge: Option[Span] = None
      try MergeStream.applyBatchStep(changes, batchId, table, "k", "v",
        "del", Some(state), Seq("grp"), Seq("x"),
        afterFold = () => {
          fold.foreach(tr.closeSpan)
          if (tr.tracing) merge = Some(tr.openSpan(Merge, op))
        })
      finally {
        fold.filter(_.t1Ns == 0).foreach(tr.closeSpan)
        merge.foreach(tr.closeSpan)
      }
      tr.note(Step, "change_rows", batchKeys)
    }

  /** The point lookup for key `k` and its rows, exact filter applied. */
  private def lookup(k: Long, tr: Tracer, op: Long): (DataFrame, Seq[KRow]) = {
    nOps += 1
    tr.span(Point, op) {
      val df = BloomSkip.pointLookup(spark, table, "k", lit(k))
      (df, df.filter(col("k") === k).as[KRow].collect().toSeq)
    }
  }

  /** (count, sum of x) of keys in [lo, lo + scanWidth), through SQL. */
  private def scan(lo: Long, tr: Tracer, op: Long): (Long, Double) = {
    val r = tr.span(Scan, op) {
      spark.sql(s"SELECT count(*) AS n, coalesce(sum(x), 0D) AS s " +
        s"FROM $view WHERE k >= $lo AND k < ${lo + scanWidth}").head()
    }
    nOps += 1
    (r.getLong(0), r.getDouble(1))
  }

  private def readState(tr: Tracer, op: Long): Int = {
    nOps += 1
    tr.span(State, op) {
      IncrementalAgg.readState(spark, state).collect().length
    }
  }

  /** Change feed over the last three versions, never reaching below the
    * last maintenance: (plus rows, minus rows).
    */
  private def feed(tr: Tracer, op: Long): (Long, Long) = {
    val v = latestVersion()
    nOps += 1
    tr.span(Feed, op) {
      val (plus, minus) = AtomicIncrement.changesBetween(spark, table,
        math.max(maintained, v - 3), v)
      (plus.count(), minus.count())
    }
  }

  private def committed(): Set[String] =
    AtomicIncrement.committedFiles(spark, table).toSet

  /** Bytes under the table dir ÷ bytes of its committed data files. */
  private def spaceAmp(): Double = {
    val data = committed().toSeq.map(f => Files.size(Path.of(table, f))).sum
    val all = Files.walk(Path.of(table))
    try {
      var n = 0L
      all.filter(f => Files.isRegularFile(f)).forEach(f => n += Files.size(f))
      n.toDouble / math.max(1L, data)
    } finally all.close()
  }

  /** The newest manifest version, from the sink's manifest directory. */
  private def latestVersion(): Long = {
    val s = Files.list(Path.of(table, "_graft_manifest"))
    try s.iterator().asScala.flatMap(_.getFileName.toString.toLongOption)
      .max
    finally s.close()
  }

  /** Rows the merge wrote per change row it was given, and the SQL
    * scans' Catalyst time.
    */
  override def layerExtras(tr: Tracer): Map[String, Double] = {
    val steps = tr.allSpans.filter(_.name == Step)
    val written = steps.map(s => tr.jobsIn(s.t0Ms, s.t1Ms)
      .map(_.recordsWritten).sum.toDouble /
      s.extras.getOrElse("change_rows", 1.0))
    val scans = tr.allSpans.filter(_.name == Scan)
    Map(s"$Step.rows_written_per_change_row" -> Stats.mean(written),
      s"$Scan.catalyst_ms" ->
        Stats.mean(scans.map(s => tr.catalystMs(s.t0Ms, s.t1Ms).toDouble)))
  }

  def gate(): Seq[Option[String]] = {
    val opsBefore = nOps
    val off = if (plant) 1 else 0
    val noTrace = new Tracer(spark)
    val rows = AtomicIncrement.readCommitted(spark, table).cache()
    // the rollup equals a fresh aggregate of the table
    val rollup = IncrementalAgg.readState(spark, state)
      .select("grp", "__n", "sum_x").collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
    val direct = rows.groupBy("grp")
      .agg(count(lit(1)).as("n"), sum("x").as("s")).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
    val sameRollup = rollup.keySet == direct.keySet && rollup.forall {
      case (g, (n, s)) =>
        val (dn, ds) = direct(g)
        n == dn && math.abs(s - ds) < 0.005
    }
    // the table holds exactly the model's rows
    val n = rows.count()
    val model = live + off
    // seeded point lookups and scans equal readCommitted and the model
    val r = Gen.rng(seed, 300000L)
    val keys = Seq.fill(gateLookups)(Gen.recentKey(r, hi)).distinct
    val viaTable = rows.filter(col("k").isin(keys: _*)).as[KRow].collect()
      .groupBy(_.k)
    val lookups = keys.map { k =>
      val got = lookup(k, noTrace, -1)._2
      val expect = if (ver(k.toInt) < 0) Nil else Seq(Gen.row(seed, k, ver(k.toInt)))
      val direct = viaTable.getOrElse(k, Array.empty[KRow]).toSeq
      if (got == direct && got == expect) None
      else Some(s"point lookup k=$k: $got, readCommitted $direct, model $expect")
    }
    val scans = (0 until gateScans).map { _ =>
      val lo = hi - scanWidth - r.nextLong(hotKeys)
      val (sn, ss) = scan(lo, noTrace, -1)
      val d = rows.filter(col("k") >= lo && col("k") < lo + scanWidth)
        .agg(count(lit(1)), coalesce(sum("x"), lit(0.0))).head()
      val m = (lo until lo + scanWidth).count(k => ver(k.toInt) >= 0) + off
      if (sn == d.getLong(0) && math.abs(ss - d.getDouble(1)) < 0.005 &&
          sn == m) None
      else Some(s"range scan [$lo, ${lo + scanWidth}): $sn rows, " +
        s"readCommitted ${d.getLong(0)}, model $m")
    }
    rows.unpersist()
    nOps = opsBefore
    Seq(
      if (sameRollup) None else Some(s"rollup state differs from " +
        s"readCommitted.groupBy(grp): ${rollup.size} vs ${direct.size} groups"),
      if (n == model) None else Some(s"table has $n rows, model $model")) ++
      lookups ++ scans
  }

  def named(): Seq[(String, Double, String)] = {
    def p50(kind: String) = Stats.median(lat.getOrElse(kind, Nil))
    Seq(("round_p50_ms", Stats.median(roundMs), "ms"),
      ("round_p90_ms", Stats.quantile(roundMs, 0.9), "ms"),
      ("append_p50_ms", p50("append"), "ms"),
      ("merge_p50_ms", p50("merge"), "ms"),
      ("point_p50_ms", p50("point"), "ms"),
      ("scan_p50_ms", p50("scan"), "ms"),
      ("rollup_p50_ms", p50("rollup"), "ms"),
      ("feed_p50_ms", p50("feed"), "ms"),
      ("space_amp", spaceAmp(), "ratio"))
  }
}
