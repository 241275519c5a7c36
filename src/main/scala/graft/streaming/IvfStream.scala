package graft.streaming

import graft.operators.Similarity
import org.apache.spark.sql.DataFrame

/** Streaming vector ingest into the maintained IVF index — the
  * wired twin of `q_ann_ivf_incremental`: each micro-batch of
  * `(vec_id, embedding)` rows is ONE [[Similarity.appendIvfIncrement]]
  * keyed on the foreachBatch batch id (a map-only assign pass against
  * the frozen quantizer, cost ∝ batch), so a 100 TB ANN index absorbs
  * an embedding stream without ever rebuilding. Probes
  * ([[Similarity.probeIvfIncremental]]) run concurrently against
  * whatever has committed — snapshot-isolated, lock-free.
  *
  * Exactly-once across replays is the graft sink's: every step is one
  * commit that records its batch id on the manifest's commit line, and
  * a redelivered id at or below the recorded one applies nothing —
  * before or after an intervening compaction, whose commits keep the
  * id. The id is per index, so ONE stream (one checkpoint) writes an
  * index.
  *
  * `compactEvery > 0` runs [[Similarity.compactIvfIncremental]] (the
  * sink's maintenance pass) on a cadence ([[compactOnCadence]]),
  * bounding the committed file count a probe must read and folding
  * delete vectors away.
  */
object IvfStream {

  /** The streams' one compaction cadence (this object's and the corpus
    * streams'): `compact` runs on the last batch of every `compactEvery`
    * (ids `compactEvery − 1`, `2·compactEvery − 1`, …), and only when
    * the step's own commit `applied`, so a redelivered compacting batch
    * pays nothing. A step calls it after its last write.
    */
  private[streaming] def compactOnCadence(batchId: Long,
      compactEvery: Long, applied: Boolean)(compact: => Unit): Unit =
    if (applied && compactEvery > 0L &&
        batchId % compactEvery == compactEvery - 1L)
      compact

  def ingestBatchStep(batch: DataFrame, batchId: Long, indexDir: String,
      cents: Seq[(Long, Seq[Double])], compactEvery: Long = 0L): Unit = {
    val spark = batch.sparkSession
    compactOnCadence(batchId, compactEvery,
      Similarity.appendIvfIncrement(spark, indexDir, batch, cents, batchId))(
      Similarity.compactIvfIncremental(spark, indexDir))
  }

  /** CDC variant: each micro-batch carries `(vec_id, embedding, op)`
    * rows — `op` = "delete" takes the document down, anything else
    * re-embeds it ([[Similarity.upsertIvfIncrement]]: one commit that
    * deletes every incoming id and re-appends the non-deletes). This
    * is the encoder-refresh / document-edit stream a production ANN
    * index actually receives; per batch the cost is ∝ churn.
    */
  def upsertBatchStep(batch: DataFrame, batchId: Long, indexDir: String,
      cents: Seq[(Long, Seq[Double])], compactEvery: Long = 0L,
      opCol: String = "op"): Unit = {
    val spark = batch.sparkSession
    compactOnCadence(batchId, compactEvery,
      Similarity.upsertIvfIncrement(spark, indexDir, batch, cents, batchId,
        opCol))(
      Similarity.compactIvfIncremental(spark, indexDir))
  }

  def upsertStream(changes: DataFrame, indexDir: String,
      cents: Seq[(Long, Seq[Double])], checkpointDir: String,
      compactEvery: Long = 0L, opCol: String = "op",
      trigger: org.apache.spark.sql.streaming.Trigger =
        org.apache.spark.sql.streaming.Trigger.AvailableNow())
      : org.apache.spark.sql.streaming.StreamingQuery =
    changes.writeStream
      .outputMode(org.apache.spark.sql.streaming.OutputMode.Update())
      .foreachBatch { (b: DataFrame, id: Long) =>
        upsertBatchStep(b, id, indexDir, cents, compactEvery, opCol)
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .start()

  def ingestStream(vecs: DataFrame, indexDir: String,
      cents: Seq[(Long, Seq[Double])], checkpointDir: String,
      compactEvery: Long = 0L,
      trigger: org.apache.spark.sql.streaming.Trigger =
        org.apache.spark.sql.streaming.Trigger.AvailableNow())
      : org.apache.spark.sql.streaming.StreamingQuery =
    vecs.writeStream
      .outputMode(org.apache.spark.sql.streaming.OutputMode.Update())
      .foreachBatch { (b: DataFrame, id: Long) =>
        ingestBatchStep(b, id, indexDir, cents, compactEvery)
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .start()

  /** Ingest with a semantic-decontamination admission gate
    * ([[graft.operators.Hygiene.semanticGate]]): rows within `tau`
    * cosine of any frozen eval-panel vector are dropped BEFORE the
    * assign pass, so a contaminated vector never reaches the index —
    * cheaper and safer than indexing it and masking later, because a
    * tombstone can be forgotten but an un-indexed row cannot leak
    * into a probe. The gate is a pure per-batch filter (broadcast
    * panel, map-side threshold), so the underlying append's replay
    * check applies unchanged.
    */
  def gatedIngestBatchStep(batch: DataFrame, batchId: Long,
      indexDir: String, cents: Seq[(Long, Seq[Double])],
      evalVecs: DataFrame, tau: Double,
      compactEvery: Long = 0L): Unit =
    ingestBatchStep(
      graft.operators.Hygiene.semanticGate(batch, evalVecs, tau),
      batchId, indexDir, cents, compactEvery)

  def gatedIngestStream(vecs: DataFrame, indexDir: String,
      cents: Seq[(Long, Seq[Double])], evalVecs: DataFrame, tau: Double,
      checkpointDir: String, compactEvery: Long = 0L,
      trigger: org.apache.spark.sql.streaming.Trigger =
        org.apache.spark.sql.streaming.Trigger.AvailableNow())
      : org.apache.spark.sql.streaming.StreamingQuery =
    vecs.writeStream
      .outputMode(org.apache.spark.sql.streaming.OutputMode.Update())
      .foreachBatch { (b: DataFrame, id: Long) =>
        gatedIngestBatchStep(b, id, indexDir, cents, evalVecs, tau,
          compactEvery)
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .start()

  /** The compressed-index twin: each micro-batch is ONE
    * [[Similarity.appendPqIncrement]] — a map-only ENCODE pass against
    * the frozen codebook, so what streams into long-term storage is M
    * bytes per vector, not the full embedding. Same replay check, same
    * compaction cadence.
    */
  def pqIngestBatchStep(batch: DataFrame, batchId: Long, indexDir: String,
      cents: Seq[(Long, Seq[Double])], compactEvery: Long = 0L,
      numSubspaces: Int = 8, dim: Int = 64): Unit = {
    val spark = batch.sparkSession
    compactOnCadence(batchId, compactEvery,
      Similarity.appendPqIncrement(spark, indexDir, batch, cents, batchId,
        numSubspaces, dim))(
      Similarity.compactIvfIncremental(spark, indexDir))
  }

  def pqIngestStream(vecs: DataFrame, indexDir: String,
      cents: Seq[(Long, Seq[Double])], checkpointDir: String,
      compactEvery: Long = 0L, numSubspaces: Int = 8, dim: Int = 64,
      trigger: org.apache.spark.sql.streaming.Trigger =
        org.apache.spark.sql.streaming.Trigger.AvailableNow())
      : org.apache.spark.sql.streaming.StreamingQuery =
    vecs.writeStream
      .outputMode(org.apache.spark.sql.streaming.OutputMode.Update())
      .foreachBatch { (b: DataFrame, id: Long) =>
        pqIngestBatchStep(b, id, indexDir, cents, compactEvery,
          numSubspaces, dim)
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .start()

  /** CDC on the compressed index — [[upsertBatchStep]]'s contract
    * through [[Similarity.upsertPqIncrement]], so re-embedded
    * documents re-ENCODE against the frozen codebook in the same
    * commit that deletes their old codes. Completes the
    * {full-vector, compressed} × {ingest, upsert} × {batch, stream}
    * matrix.
    */
  def pqUpsertBatchStep(batch: DataFrame, batchId: Long, indexDir: String,
      cents: Seq[(Long, Seq[Double])], compactEvery: Long = 0L,
      numSubspaces: Int = 8, dim: Int = 64, opCol: String = "op"): Unit = {
    val spark = batch.sparkSession
    compactOnCadence(batchId, compactEvery,
      Similarity.upsertPqIncrement(spark, indexDir, batch, cents, batchId,
        numSubspaces, dim, opCol))(
      Similarity.compactIvfIncremental(spark, indexDir))
  }

  def pqUpsertStream(changes: DataFrame, indexDir: String,
      cents: Seq[(Long, Seq[Double])], checkpointDir: String,
      compactEvery: Long = 0L, numSubspaces: Int = 8, dim: Int = 64,
      opCol: String = "op",
      trigger: org.apache.spark.sql.streaming.Trigger =
        org.apache.spark.sql.streaming.Trigger.AvailableNow())
      : org.apache.spark.sql.streaming.StreamingQuery =
    changes.writeStream
      .outputMode(org.apache.spark.sql.streaming.OutputMode.Update())
      .foreachBatch { (b: DataFrame, id: Long) =>
        pqUpsertBatchStep(b, id, indexDir, cents, compactEvery,
          numSubspaces, dim, opCol)
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .start()
}
