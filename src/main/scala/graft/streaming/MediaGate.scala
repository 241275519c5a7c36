package graft.streaming

import graft.operators.Multimodal
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Image near-dup gate against an EXISTING media corpus — the
  * multimodal sibling of [[MinHashGate]], closing the streaming side
  * of `q_image_phash`: the corpus's perceptual-hash set builds ONCE at
  * construction (decode + aHash over the historical payloads, or
  * cheaper: read back the phash column a batch `q_image_phash`-shaped
  * job already persisted); every micro-batch decodes only ITS OWN
  * payloads (partition-local ImageIO, per-batch cost ∝ batch) and
  * drops rows whose hash matches history — the same equality cut as
  * the batch query's groupBy, so gate and batch agree by
  * construction on re-encoded and rescaled copies.
  *
  * Two inherited boundary cases, both from [[Multimodal.aHash64]]:
  * undecodable payloads produce NO hash and therefore always PASS the
  * gate (a corrupt blob is not evidence of duplication — route those
  * rows to quarantine with a width=0 filter if they must not land);
  * and all-uniform frames share hash 0, so a flat-image corpus member
  * gates ALL flat arrivals (aHash carries no brightness, by design).
  * Decisions depend only on (payload bytes, frozen corpus): replays
  * drop the same rows and micro-batch boundaries are invisible —
  * pinned in MediaGateSpec.
  */
final class PHashGate(corpusHashes: DataFrame) extends Serializable {
  // materialize once at construction (the MinHashGate contract); not
  // InternalCaches-registered — the gate outlives batch scopes and a
  // post-eviction recompute is deterministic
  private val hashes = {
    val h = corpusHashes.toDF("__c_phash").distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    h.count(); h
  }

  /** Drop batch rows whose decoded payload pHash matches the corpus. */
  def scrubImages(batch: DataFrame, idCol: String = "doc_id",
      payloadCol: String = "payload"): DataFrame = {
    val hashed = Multimodal.aHash64(
      Multimodal.decodeImageBatch(batch, idCol, payloadCol)).toDF()
    val doomed = hashed
      .join(hashes, hashed("phash") === col("__c_phash"), "left_semi")
      .select(col("doc_id").as(idCol)).distinct()
    batch.join(doomed, Seq(idCol), "left_anti")
  }
}

/** The wired image-ingest stream: binary payloads in, near-dup-free
  * media corpus out, with the same replay-safe graft-sink commits as
  * [[CorpusStream]]. Per micro-batch: decode + hash the batch's own
  * payloads (partition-local, cost ∝ batch), canonical batch-internal
  * dedup (min doc_id per hash), probe the committed index of
  * previously ADMITTED hashes — excluding rows a failed attempt of
  * THIS batch already committed (the anti-replay shield) — then commit
  * admitted rows to the sink and their hashes to `index/phashes`, one
  * commit per sink recording the batch id, so a replayed batch skips
  * every sink its crashed attempt already committed. UNDECODABLE
  * payloads are not evidence of duplication but must not pollute a
  * media corpus either: they land in the `sink/__corrupt` sink for
  * quarantine review instead of being admitted or silently dropped.
  * The batch id is per sink, so ONE stream, keeping its checkpoint,
  * writes these sinks. Read them with `AtomicIncrement.readCommitted`
  * or the `graft-atomic` source.
  */
object MediaStream {
  import graft.operators.AtomicIncrement

  def ingestBatchStep(batch: DataFrame, batchId: Long, indexDir: String,
      sinkDir: String): Unit = graft.InternalCaches.scoped {
    val spark = batch.sparkSession
    // decode + hash once: the probe, both commits and the quarantine
    // all read the hashes; the scope releases the checkpoint on return
    val (hashed, ckpt) = graft.InternalCaches.localCheckpointHandle(
      Multimodal.aHash64(
        Multimodal.decodeImageBatch(batch, "doc_id", "payload")).toDF())
    graft.InternalCaches.trackRdds(ckpt)
    val phPath = s"$indexDir/phashes"
    val prior = AtomicIncrement.readStreamState(spark, phPath)
      .fold(hashed.limit(0))(
        _.join(batch.select(col("doc_id")), Seq("doc_id"), "left_anti"))
    val doomed = hashed
      .join(prior.select("phash"), Seq("phash"), "left_semi")
      .select("doc_id")
    val admittedIds = hashed.groupBy("phash").agg(min("doc_id").as("doc_id"))
      .select("doc_id")
      .join(doomed, Seq("doc_id"), "left_anti")
    AtomicIncrement.appendOnce(
      batch.join(admittedIds, Seq("doc_id"), "left_semi"), sinkDir, batchId)
    AtomicIncrement.appendOnce(
      hashed.join(admittedIds, Seq("doc_id"), "left_semi"), phPath, batchId)
    AtomicIncrement.appendOnce(
      batch.join(hashed.select("doc_id"), Seq("doc_id"), "left_anti"),
      s"$sinkDir/__corrupt", batchId)
  }

  def ingestStream(payloads: DataFrame, indexDir: String, sinkDir: String,
      checkpointDir: String,
      trigger: org.apache.spark.sql.streaming.Trigger =
        org.apache.spark.sql.streaming.Trigger.AvailableNow())
      : org.apache.spark.sql.streaming.StreamingQuery =
    payloads.writeStream
      .outputMode(org.apache.spark.sql.streaming.OutputMode.Update())
      .foreachBatch { (b: DataFrame, id: Long) =>
        ingestBatchStep(b, id, indexDir, sinkDir)
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .start()
}

object PHashGate {
  /** Build the frozen hash set by decoding the historical corpus. */
  def fromCorpus(corpus: DataFrame, idCol: String = "doc_id",
      payloadCol: String = "payload"): PHashGate =
    new PHashGate(Multimodal.aHash64(
      Multimodal.decodeImageBatch(corpus, idCol, payloadCol))
      .toDF().select("phash"))

  /** Build from an already-persisted phash column (the batch job's
    * artifact) — no re-decode of history.
    */
  def fromHashes(hashes: DataFrame): PHashGate = new PHashGate(hashes)
}
