package graft.streaming

import graft.operators.{AtomicIncrement, Dedup, Maintenance}
import graft.pipelines.Corpus
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery, Trigger}

/** Streaming near-duplicate dedup: documents arrive as a stream and
  * are admitted only if no already-admitted document is a near-dup —
  * the incremental form of the batch MinHash-LSH pipeline
  * (`Corpus.nearDedup`), with FIRST-ARRIVAL-WINS canonicals instead of
  * the batch min-id rule.
  *
  * Why not a single keyed-state operator: a document's admit decision
  * spans its 32 LSH band buckets, which land in 32 different state
  * groups — `flatMapGroupsWithState` can vote per bucket but cannot
  * decide per document without a second stateful stage, and an
  * optimistic per-bucket registration would let REJECTED docs squat on
  * buckets (over-dropping later arrivals). The scale-honest shape is
  * the one production incremental dedup pipelines use: `foreachBatch`
  * against a persistent, bucket-keyed admitted-bands index plus a
  * shingle side table for exact verification.
  *
  * Per micro-batch (all key-equi joins — no cross products):
  *   1. shingle + band the batch (the exact batch code paths);
  *   2. candidates = batch bands ⋈ index bands on (band, band_key),
  *      exact-verified by Jaccard against the admitted shingles;
  *   3. survivors get the batch-internal near-dedup
  *      (`Corpus.nearDedup`: LSH pairs → components → keep min id);
  *   4. admitted docs land in the sink, their bands/shingles in the
  *      index's `bands` and `shingles` tables.
  *
  * REPLAY SAFETY: the sink and both index tables are graft sinks
  * ([[AtomicIncrement]]). A step is one commit per sink that records
  * the batch id on the manifest's commit line, and a redelivered id at
  * or below the recorded one applies nothing
  * ([[AtomicIncrement.appendOnce]]). A crash between two of a step's
  * commits leaves some sinks at the batch and the rest before it; the
  * replay skips the former and lands the same admission in the latter:
  *   - the index probe excludes the current batch's doc_ids by
  *     anti-join, so rows an earlier attempt of this very batch
  *     committed can't self-match and over-drop, and the admit
  *     decision is identical on every attempt;
  *   - `admitted` is localCheckpoint'ed before any write, so the index
  *     and sink commits land one admission, computed once.
  *     localCheckpoint is executor-local, NOT fault-tolerant: an
  *     executor lost between checkpoint and the writes fails that
  *     attempt, and the replay re-runs it (a lossy cluster wanting
  *     attempt-level recovery would use reliable checkpoint() to DFS);
  *   - the anti-join shield keys on doc_id, so doc_id MUST be unique
  *     across the stream's lifetime (the usual contract for a document
  *     corpus). A source that re-delivers an already-admitted doc_id in
  *     a LATER batch is indistinguishable from a crashed attempt of
  *     that batch: the old index rows are excluded from the probe and
  *     the doc is re-admitted as a duplicate sink row;
  *   - the batch id is per sink, so ONE stream, keeping its checkpoint,
  *     writes a sink and its index: a second stream with a fresh
  *     checkpoint has its batches skipped as replays.
  * Read the sink with `AtomicIncrement.readCommitted` or the
  * `graft-atomic` source.
  *
  * COMPACTION: on the `compactEvery` cadence
  * ([[IvfStream.compactOnCadence]]), after the step's last commit, each
  * index table runs the sink's maintenance pass ([[maintainIndex]]): an
  * index of more than two files rewrites into two, and the superseded
  * files are reclaimed, so its file count stays O(compactEvery), not
  * O(stream length). A compaction that fails leaves the index at its
  * committed snapshot.
  *
  * State is the index: bounded by the ADMITTED corpus (not the stream
  * length), keyed by band bucket so the per-batch probe shuffles only
  * the batch.
  */
object CorpusStream {

  /** One micro-batch step — factored out so the spec (and a backfill
    * job) can drive it directly with deterministic batch boundaries.
    * Idempotent in `batchId`: re-running the same (batch, batchId) is a
    * no-op on the final sink/index state.
    */
  def nearDedupBatchStep(batch: DataFrame, batchId: Long, indexDir: String,
      sinkDir: String, minJaccard: Double, compactEvery: Int = 8,
      benchmark: Option[DocGate] = None): Unit =
    // every operator-internal cache this batch creates (the admitted
    // checkpoint, the shingle persists and component checkpoints
    // inside Corpus.nearDedup) is scoped to the batch and released on
    // exit — a stream that skipped this would leak one cache set per
    // micro-batch, and a GLOBAL drain here would invalidate caches of
    // other queries sharing the session
    graft.InternalCaches.scoped {
      nearDedupBatchBody(batch, batchId, indexDir, sinkDir, minJaccard,
        compactEvery, benchmark)
    }

  private def nearDedupBatchBody(batch: DataFrame, batchId: Long,
      indexDir: String, sinkDir: String, minJaccard: Double,
      compactEvery: Int, benchmark: Option[DocGate]): Unit = {
    if (batch.isEmpty) return
    // benchmark decontamination first: a contaminated doc must neither
    // reach the sink nor enter the index (where it would near-dup-kill
    // LEGITIMATE docs resembling it). Replay-safe: the gate is a pure
    // filter, so a replayed batch drops the same docs again.
    val gated = benchmark.fold(batch)(_.scrubDocs(batch))
    val admitted = admitNearDups(gated, batch.select("doc_id"), batchId,
      indexDir, minJaccard)
    val applied = AtomicIncrement.appendOnce(
      admitted.select("doc_id", "text"), sinkDir, batchId)
    IvfStream.compactOnCadence(batchId, compactEvery, applied)(
      maintainIndex(batch.sparkSession, nearDupIndex(indexDir): _*))
  }

  /** The band and shingle tables of a near-dup index. */
  private[streaming] def nearDupIndex(indexDir: String): Seq[String] =
    Seq(s"$indexDir/bands", s"$indexDir/shingles")

  /** The streams' index maintenance pass: an index table of more than
    * two files rewrites into two, and the pass reclaims the files the
    * rewrite and earlier commits superseded.
    */
  private[graft] def maintainIndex(spark: SparkSession,
      dirs: String*): Unit =
    dirs.foreach(d => Maintenance.maintainAtomic(spark,
      Maintenance.Target(d, targetFiles = 2)))

  /** The near-dup ADMISSION core, shared with `CorpusEtlStream`'s
    * optional near-dup stage: probe the admitted-bands index, exact-
    * verify candidates by Jaccard, batch-internal near-dedup, then
    * commit the admitted docs' bands/shingles to the index for
    * `batchId`. Returns the admitted docs in the INPUT's full schema,
    * localCheckpoint'ed and cache-tracked. `batchDocIds` is the
    * PRE-GATE batch id set — the replay shield must exclude every id a
    * crashed attempt could have committed. The caller runs the
    * index's compaction after its own last write.
    */
  private[streaming] def admitNearDups(gated: DataFrame,
      batchDocIds: DataFrame, batchId: Long, indexDir: String,
      minJaccard: Double): DataFrame = {
    val spark = gated.sparkSession
    val Seq(bandsPath, shinglesPath) = nearDupIndex(indexDir)
    val sh = Dedup.shingled(gated, "doc_id", "text")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val bands = Dedup.lshBandsFromShingles(sh, "doc_id")
    // an index table's committed rows minus the batch's own ids: the
    // replay shield — see the object doc
    def prior(path: String) = AtomicIncrement.readStreamState(spark, path)
      .map(_.withColumnRenamed("doc_id", "idx_id")
        .join(batchDocIds.select(col("doc_id").as("idx_id")), Seq("idx_id"),
          "left_anti"))
    // docs near-dupped by the ADMITTED corpus: band-bucket probe, then
    // exact Jaccard against the admitted shingle sets (candidate-only
    // work, the batch LSH contract)
    val doomedByIndex = (prior(bandsPath), prior(shinglesPath)) match {
      case (Some(idxBands), Some(idxSh)) =>
        bands.join(idxBands.select("idx_id", "band", "band_key"),
            Seq("band", "band_key"))
          .select(col("doc_id"), col("idx_id")).distinct()
          .join(sh.select(col("doc_id"), col("sh").as("sh_new")), "doc_id")
          .join(idxSh.select(col("idx_id"), col("sh").as("sh_old")), "idx_id")
          // quantize before comparing — the same 1e-4-grid boundary
          // rule as MinHashGate and the batch paths (Dedup,
          // DedupIncremental), so gate/batch/stream cuts agree on
          // pairs whose raw Jaccard floats a ULP around the threshold
          .filter(round(Dedup.jaccard(col("sh_new"), col("sh_old")), 4)
            >= minJaccard)
          .select("doc_id").distinct()
      case _ => spark.emptyDataFrame.withColumn("doc_id", lit(0L)).limit(0)
    }
    val survivors = gated.join(doomedByIndex, Seq("doc_id"), "left_anti")
    // batch-internal near-dedup (min-id canonical within the batch),
    // computed once for the index and sink commits
    val (admitted, admittedCkpt) = graft.InternalCaches.localCheckpointHandle(
      Corpus.nearDedup(survivors, "doc_id", "text", minJaccard))
    graft.InternalCaches.trackRdds(admittedCkpt)
    val admittedIds = admitted.select("doc_id")
    // micro-batches are small → one file per commit; at 100 TB size
    // this by bytes (batchRows / targetFileRows) instead
    AtomicIncrement.appendOnce(bands.join(admittedIds, "doc_id")
      .select("doc_id", "band", "band_key").coalesce(1), bandsPath, batchId)
    AtomicIncrement.appendOnce(sh.join(admittedIds, "doc_id")
      .select("doc_id", "sh").coalesce(1), shinglesPath, batchId)
    sh.unpersist()
    admitted
  }

  /** Wire the step into a checkpointed AvailableNow/continuous stream. */
  def nearDedupStream(docs: DataFrame, indexDir: String, sinkDir: String,
      checkpointDir: String, minJaccard: Double = 0.8,
      compactEvery: Int = 8,
      benchmark: Option[DocGate] = None,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    docs.writeStream
      .outputMode(OutputMode.Update())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        nearDedupBatchStep(batch, batchId, indexDir, sinkDir, minJaccard,
          compactEvery, benchmark)
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .start()
}
