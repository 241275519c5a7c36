package graft.streaming

import graft.operators.AtomicIncrement
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Streaming materialized rollup — `IncrementalAgg` fed by an
  * unbounded stream: every micro-batch folds into the atomic
  * aggregate state (one row per key: count and per-column sums) and
  * publishes through [[AtomicIncrement]]'s manifest commit, which
  * records the micro-batch id on its commit line, so a dashboard
  * reading the state gets snapshot isolation against a stream that
  * never stops.
  *
  * Idempotence keys on the BATCH ID, not the watermark: the batch
  * flavor's high-watermark replay filter assumes values arrive in
  * watermark order, which an event stream does not promise (late
  * data is normal). `foreachBatch` can redeliver a batch id after a
  * crash between the fold's publish and the checkpoint commit —
  * exactly the window the recorded id closes: a batch id at or below
  * the one the state's last commit recorded is a replay and folds to
  * a no-op, so the fold + checkpoint pair is exactly-once end to end. An OCC
  * collision (an external writer publishing into the same sink)
  * fails the batch; the restart re-folds from the checkpoint against
  * the winner's state.
  *
  * At 100 TB-rate streams the per-batch cost is one batch-sized
  * map-side-combined partial + one state-sized merge — the
  * [[graft.operators.IncrementalAgg]] contract, unchanged; state
  * size is |keys| rows regardless of stream length.
  */
object AggStream {

  /** Fold one delivered micro-batch into the state at `sink`.
    * Returns rows folded (0 = replay or empty batch — nothing
    * published either way).
    */
  private[graft] def foldBatch(batch: DataFrame, batchId: Long,
      sink: String, keys: Seq[String], sumCols: Seq[String]): Long = {
    val spark = batch.sparkSession
    // ONE snapshot serves both the replay gate and the merge: a second
    // read for the union could straddle an external writer's publish
    // and merge against a state the gate never saw (the OCC token
    // protects the WRITE, not the consistency of two reads)
    val snap = AtomicIncrement.latestSnapshot(spark, sink)
    if (AtomicIncrement.isReplay(snap, sink, batchId))
      return 0L // redelivery after a crash
    val state = AtomicIncrement.readFoldState(spark, sink, snap)
    // ONE action for count + fold (round 18, the mergeBatch shape):
    // the batch-row count is OBSERVED on the partial aggregate as the
    // staging write streams through it — no cache, no dedicated
    // counting job per micro-batch. An empty redelivered batch is
    // discovered post-staging and the gate reclaims the staged
    // files without publishing (the exactly-once no-op, unchanged).
    graft.operators.MetricGate.withGate(spark) { gate =>
      val partial = batch.groupBy(keys.map(col): _*).agg(
        count(lit(1)).as("__n"),
        sumCols.map(c => sum(col(c)).as(s"sum_$c")): _*)
        .observe(gate.name, coalesce(sum("__n"), lit(0L)).as("__fresh"))
      val merged = state match {
        case None => partial
        case Some(st) => st.unionByName(partial)
          .groupBy(keys.map(col): _*).agg(
            sum("__n").as("__n"),
            sumCols.map(c => sum(s"sum_$c").as(s"sum_$c")): _*)
      }
      var n = 0L
      AtomicIncrement.replaceGated(merged, sink, snap.version,
        Some(batchId), gate = () => {
          n = gate.long()
          n > 0
        })
      n
    }
  }

  /** Start the rollup: drains available source data (AvailableNow),
    * folding each micro-batch into `sink`. Restarting with the same
    * checkpoint resumes exactly where the last run committed.
    */
  def rollupStream(src: DataFrame, sink: String, checkpointDir: String,
      keys: Seq[String], sumCols: Seq[String]): StreamingQuery =
    src.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        foldBatch(batch, batchId, sink, keys, sumCols); ()
      }
      .trigger(Trigger.AvailableNow())
      .start()

  /** The rollup state with derived measures: keys, `n`, `sum_<col>`s,
    * and `avg_<col>`s computed at read time — always consistent with
    * the state, never stored.
    */
  def readRollup(spark: org.apache.spark.sql.SparkSession, sink: String,
      sumCols: Seq[String]): DataFrame = {
    val st = AtomicIncrement.readCommitted(spark, sink)
    sumCols.foldLeft(st.withColumnRenamed("__n", "n"))((d, c) =>
      d.withColumn(s"avg_$c", col(s"sum_$c") / col("n")))
  }
}
