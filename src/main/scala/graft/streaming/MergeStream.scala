package graft.streaming

import graft.operators.{AtomicIncrement, Cdc, IncrementalAgg}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Streaming CDC apply: each micro-batch of keyed changes (full-width
  * rows + a boolean delete column) drives BOTH halves of the
  * lakehouse-maintenance story in one step — the copy-on-write table
  * merge ([[AtomicIncrement.mergeAtomic]]: rewrite ∝ churn-touched
  * files) and, optionally, the retractable rollup fold
  * ([[IncrementalAgg.mergeCdcBatch]]: state moves by Σafter − Σbefore
  * per group; with `stateMinMax`, [[IncrementalAgg.mergeCdcExtremes]]
  * — churned groups' min/max rescan from their pre-merge locality
  * reshaped to the post-change view). Within-batch conflicts resolve
  * first through
  * [[Cdc.latestView]] (latest version per key, delete wins ties), so
  * the merge sees ≤1 row per key — its contract.
  *
  * Crash-safety is ORDER, not locks — the fold runs BEFORE the table
  * merge, and each half carries its own replay shield:
  *
  *  - the fold is keyed on the micro-batch id (a replayed batch
  *    no-ops), and its before-images come from the COMMITTED pre-merge
  *    snapshot — correct exactly because the table has not moved yet;
  *  - the table merge is semantically idempotent (re-upserting the
  *    same after-images and re-deleting the same keys reproduce the
  *    same table), so replaying it is waste, never corruption.
  *
  * The other order is UNSAFE, which is why this step exists at all: a
  * crash after the table merge but before the fold would leave the
  * replay reading before-images from the POST-merge snapshot — a zero
  * delta, and the rollup misses the change forever. Kill points:
  * before the fold → both replay; between fold and merge → the fold
  * no-ops, the merge applies; after the merge → both no-op (the merge
  * re-applies idempotently). An OCC loss inside the merge throws and
  * the stream retries the batch through the same shields.
  */
object MergeStream {

  def applyBatchStep(changes: DataFrame, batchId: Long, tableSink: String,
      keyCol: String, versionCol: String, deleteCol: String,
      stateSink: Option[String] = None, stateKeys: Seq[String] = Nil,
      stateSums: Seq[String] = Nil,
      afterFold: () => Unit = () => (),
      maxChurnKeys: Int = 10000000,
      stateMinMax: Seq[String] = Nil,
      defer: Boolean = false): Unit = {
    val spark = changes.sparkSession
    val resolved = Cdc.latestViewWithDeletes(changes, Seq(keyCol),
      versionCol, deleteCol).drop(versionCol)
    // ONE churn collect per micro-batch, validated up front with the
    // merge's own key contract (integral-or-string type, no nulls,
    // churn fence): a key the merge would later reject must fail HERE,
    // before the rollup fold commits a batch id the table never
    // applies — and the fold and the merge then share the set instead
    // of each running its own distinct+collect job.
    val churn = AtomicIncrement.collectChurn(resolved, keyCol, maxChurnKeys)
    stateSink.foreach { st =>
      // before-images from the committed PRE-merge table: the
      // stats-pruned keyed read opens the churn's file locality, not
      // the whole table (a full readCommitted here would be a
      // table-sized scan per micro-batch at 100 TB), then the exact
      // semi-join against the churn set (broadcast — churn-sized)
      val before = AtomicIncrement.readKeyedChurn(spark, tableSink,
          keyCol, churn)
        .join(broadcast(churn.toDf(spark, keyCol)), Seq(keyCol), "left_semi")
      val plus = resolved.filter(!col(deleteCol)).drop(deleteCol)
      if (stateMinMax.isEmpty)
        IncrementalAgg.mergeCdcBatch(plus, before, st,
          stateKeys, stateSums, batchId)
      else {
        // the extremes rescan needs the churned GROUPS' post-change
        // rows, but the fold runs BEFORE the table moves (the crash-
        // safety order above) — so build that view logically from the
        // committed PRE-merge snapshot: the churned groups' pre-rows,
        // minus every churned key's row, plus the after-images. The
        // pre-rows come from the GROUP column's locality when its
        // stats can prune (note: the group column, not the merge key —
        // the rescan needs the groups' OTHER rows too); a may-contain
        // superset either way, and the fold's semi join restricts it.
        val groupRows = churnedGroupPreRows(spark, tableSink,
          stateKeys, plus, before)
        val post = groupRows
          .join(broadcast(churn.toDf(spark, keyCol)), Seq(keyCol),
            "left_anti")
          .unionByName(plus, allowMissingColumns = true)
        IncrementalAgg.mergeCdcExtremes(plus, before, post, st,
          stateKeys, stateSums, stateMinMax, batchId)
      }
    }
    afterFold()
    // defer = merge-on-read: the batch stages after-images + a
    // tombstone file instead of rewriting churn-touched data files —
    // the high-frequency-stream trade (commit ∝ batch, read debt
    // repaid by the in-stream maintenance cadence's compaction, which
    // folds the dvs). Same fold-before-merge crash order: both merges
    // are semantically idempotent on replay.
    if (defer)
      AtomicIncrement.mergeOnReadAtomic(resolved, tableSink, keyCol,
        deleteCol, maxChurnKeys, churn, None)
    else
      AtomicIncrement.mergeAtomic(resolved, tableSink, keyCol, deleteCol,
        maxChurnKeys, churn)
    ()
  }

  /** The committed (pre-merge) rows of the groups this batch churns —
    * [[AtomicIncrement.readGroupLocality]]'s fenced, per-column-
    * intersected locality read (round 14: COMPOSITE group keys prune
    * through every stats-covered column instead of degrading to a
    * table-sized `readCommitted` per micro-batch; the churned-tuple
    * collect is capped, falling back to the full snapshot past the
    * fence). Always a may-contain SUPERSET of the churned groups'
    * rows — the fold's semi join restricts exactly.
    */
  private def churnedGroupPreRows(
      spark: org.apache.spark.sql.SparkSession, tableSink: String,
      stateKeys: Seq[String], plus: DataFrame,
      before: DataFrame): DataFrame =
    AtomicIncrement.readGroupLocality(spark, tableSink, stateKeys,
      Seq(plus, before))

  /** `maintainEvery` > 0 runs one [[graft.operators.Maintenance]] pass
    * over `maintainTarget` after every Nth micro-batch — the
    * steady-state loop wired INTO the stream (the `IvfStream
    * .compactEvery` cadence discipline), so a long-running CDC apply
    * never accretes unbounded small files between external
    * maintenance windows. Safe inside foreachBatch: the stream is the
    * sink's only writer, so the pass cannot lose an OCC race to
    * itself; a redelivered batch re-running the pass is waste bounded
    * by the fragmentation trigger (a just-maintained table skips the
    * rewrite), never corruption.
    */
  def applyStream(changes: DataFrame, tableSink: String, keyCol: String,
      versionCol: String, deleteCol: String, checkpointDir: String,
      stateSink: Option[String] = None, stateKeys: Seq[String] = Nil,
      stateSums: Seq[String] = Nil,
      trigger: org.apache.spark.sql.streaming.Trigger =
        org.apache.spark.sql.streaming.Trigger.AvailableNow(),
      maintainEvery: Int = 0,
      maintainTarget: Option[graft.operators.Maintenance.Target] = None,
      stateMinMax: Seq[String] = Nil,
      defer: Boolean = false)
      : org.apache.spark.sql.streaming.StreamingQuery =
    changes.writeStream
      .outputMode(org.apache.spark.sql.streaming.OutputMode.Update())
      .foreachBatch { (b: DataFrame, id: Long) =>
        applyBatchStep(b, id, tableSink, keyCol, versionCol, deleteCol,
          stateSink, stateKeys, stateSums,
          stateMinMax = stateMinMax, defer = defer)
        if (maintainEvery > 0 && (id + 1) % maintainEvery == 0)
          maintainTarget.foreach(t =>
            graft.operators.Maintenance.maintainAtomic(b.sparkSession, t))
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .start()
}
