package graft.operators

import graft.operators.AtomicIncrement.{ManifestEntry, Snapshot}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.{StructField, StructType}

/** The graft sink's one commit protocol. Every writer is a stage plus
  * an optional gate over one snapshot:
  *
  *  1. SNAPSHOT: the parsed manifest the writer read — its lines,
  *     schema, watermark floors and batch id
  *     ([[AtomicIncrement.Snapshot]]).
  *  2. STAGE: parquet written under `_data/batch-<uuid>` dirs the
  *     transaction owns — [[stage]] writes a frame, [[own]] adopts a
  *     dir DSv2 executors already wrote.
  *  3. GATE: one optional predicate over the staged lines (an audit, an
  *     observed metric, a zero-row check); false publishes nothing.
  *  4. PUBLISH: `carry(snapshot) ++ staged` at version + 1, with the
  *     commit's batch id or else the snapshot's own. A lost OCC race
  *     re-reads the winner's snapshot and re-publishes the same staged
  *     files on top of it while the writer's `retry` check says they
  *     are still exact, at most [[Retries]] times.
  *  5. RECLAIM: every exit that does not publish (a throwing stage, a
  *     closed gate, a lost race) deletes the owned dirs.
  *
  * The publish folds the floors of the snapshot it lands on, so a
  * writer never re-reads the manifest it already holds.
  *
  * Staged lines outrank standing tombstones: when the published
  * manifest carries delete vectors (standing or staged), every staged
  * line is stamped at the version it publishes — a dv masks only
  * lines with a strictly smaller sequence.
  */
private[graft] final class Txn(val spark: SparkSession, val sink: String,
    val snap: Snapshot) {
  import Txn._

  private val owned = scala.collection.mutable.ArrayBuffer.empty[String]

  /** Adopt a sink-relative batch dir: reclaimed unless published. */
  def own(dir: String): String = { owned += dir; dir }

  /** A fresh `_data/batch-<uuid>` dir this transaction owns. */
  def newDir(): String =
    own(s"${AtomicIncrement.DataDir}/batch-${java.util.UUID.randomUUID()}")

  /** Write `df` into a new owned dir; one manifest line per part file.
    *
    * The write runs under the v2 file-output committer: task commits
    * rename straight into the output dir, and the job commit is O(1)
    * instead of moving every task's files again. Visibility never
    * rides the committer here: the manifest publish is the commit
    * boundary, and a failed write's dir is reclaimed. So v2's weaker
    * job-failure cleanup is immaterial, while every staged commit
    * saves the double rename (109 → 95 ms per tiny staged file,
    * OPTIMIZATION_r18.md; scales with file count). The option is set
    * on this write only, so a plain parquet write elsewhere keeps v1's
    * all-or-nothing output dir. On an object store without atomic
    * rename, use a store-native committer instead.
    */
  def stage(df: DataFrame, statsFields: Seq[StructField])
      : Seq[ManifestEntry] = {
    val dir = newDir()
    df.write.option("mapreduce.fileoutputcommitter.algorithm.version", "2")
      .parquet(s"$sink/$dir")
    entries(fsOf(spark, sink).listStatus(new Path(s"$sink/$dir")).toSeq
      .map(_.getPath.getName)
      .filter(n => n.endsWith(".parquet") && !n.startsWith("_") &&
        !n.startsWith("."))
      .sorted.map(n => s"$dir/$n"), statsFields)
  }

  /** Manifest lines for already-written staged files — the footer
    * opens run in parallel, order preserved. */
  def entries(rels: Seq[String], statsFields: Seq[StructField])
      : Seq[ManifestEntry] =
    AtomicIncrement.inParallel(rels)(rel =>
      AtomicIncrement.entryForStagedFile(spark, sink, rel, statsFields))

  def reclaim(): Unit = Txn.reclaim(spark, sink, owned.toSeq)

  /** Stage `work`, gate it, publish it. Some((version, staged lines))
    * on publish, None when the gate closed. `batch` is the id a fold
    * records; without one the commit keeps the id of the snapshot it
    * lands on. */
  def commit(gate: Seq[ManifestEntry] => Boolean = _ => true,
      carry: Snapshot => Seq[ManifestEntry] = s => s.data ++ s.dvs,
      schema: Snapshot => Option[StructType],
      retry: Option[(Snapshot, Snapshot) => Boolean] = None,
      batch: Option[Long] = None)(
      work: => Seq[ManifestEntry]): Option[(Long, Seq[ManifestEntry])] =
    try {
      val staged = work
      if (!gate(staged)) { reclaim(); None }
      else {
        seam.getAndSet(noop)()
        val fs = fsOf(spark, sink)
        var now = snap
        var attempt = 0
        var done = false
        while (!done) {
          val carried = carry(now)
          val lines =
            if (!(carried ++ staged).exists(AtomicIncrement.isDv)) staged
            else staged.map(AtomicIncrement.stampSeq(_, now.version + 1))
          try {
            AtomicIncrement.publish(fs, sink,
              (carried ++ lines).map(_.render), now.version + 1,
              schema(now), now.floors, batch.orElse(now.lastBatch))
            done = true
          } catch {
            case cme: java.util.ConcurrentModificationException =>
              if (attempt >= Retries || retry.isEmpty) throw cme
              attempt += 1
              val winner = AtomicIncrement.latestSnapshot(spark, sink)
              if (!retry.get(now, winner)) throw cme
              now = winner
          }
        }
        Some((now.version + 1, staged))
      }
    } catch { case e: Throwable => reclaim(); throw e }
}

private[graft] object Txn {

  private val Retries = 2

  /** Open a transaction on the sink's latest snapshot. */
  def begin(spark: SparkSession, sink: String): Txn =
    new Txn(spark, sink, AtomicIncrement.latestSnapshot(spark, sink))

  private def fsOf(spark: SparkSession, sink: String) =
    new Path(sink).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Delete sink-relative batch dirs (the reclaim step). */
  def reclaim(spark: SparkSession, sink: String, dirs: Seq[String]): Unit =
    dirs.foreach(d => fsOf(spark, sink).delete(new Path(s"$sink/$d"), true))

  /** The retry check of a CONFINED copy-on-write commit (Delta-style
    * logical conflict detection): after a lost race the staged rewrite
    * is still exact on the winner's snapshot iff
    *
    *  1. every file it REWROTE still stands with an identical line;
    *  2. the delete-vector set is unchanged by path (a new dv could mask
    *     rows the rewrite kept; a dropped one could resurrect rows it
    *     removed);
    *  3. every file the winner ADDED is provably outside the statement's
    *     scope (`addedSafe`) — the commit serializes after the winner;
    *  4. the snapshot schema is unchanged.
    */
  def confined(touched: Set[String], schemaAtRead: StructType,
      addedSafe: Seq[ManifestEntry] => Boolean)
      : (Snapshot, Snapshot) => Boolean =
    (prev, now) => {
      val line = prev.data.map(e => e.path -> e.render).toMap
      val line2 = now.data.map(e => e.path -> e.render).toMap
      touched.forall(p => line.get(p).exists(r => line2.get(p).contains(r))) &&
        now.dvs.map(_.path).toSet == prev.dvs.map(_.path).toSet &&
        addedSafe(now.data.filterNot(e => line.contains(e.path))) &&
        AtomicIncrement.asNullableStruct(now.schema) ==
          AtomicIncrement.asNullableStruct(schemaAtRead)
    }

  /** What a confined commit carries: the snapshot minus what it rewrote. */
  def carryUntouched(touched: Set[String]): Snapshot => Seq[ManifestEntry] =
    s => s.data.filterNot(e => touched.contains(e.path)) ++ s.dvs

  private val noop: () => Unit = () => ()
  private val seam = new java.util.concurrent.atomic.AtomicReference(noop)

  /** Test seam: `hook` runs once, between the gate and the first publish
    * of the next commit inside `body` — where a spec injects a competing
    * writer or a crash. */
  private[graft] def racing[T](hook: => Unit)(body: => T): T = {
    seam.set(() => hook)
    try body finally seam.set(noop)
  }
}
