package graft

import graft.operators.{AtomicIncrement, Maintenance, Similarity}
import graft.streaming.IvfStream
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** The streaming half of the incremental-IVF contract: a vector
  * stream folds into the same index `q_ann_ivf_incremental` probes,
  * and the result is indistinguishable from a batch build — including
  * under replays, with and without in-stream compaction.
  */
class IvfStreamSpec extends SparkSpec {
  import spark.implicits._

  private def corpus() =
    graft.sources.Tables.table(spark, sfDir, "embeddings")

  private def probeSorted(dir: String, cents: Seq[(Long, Seq[Double])]) =
    Similarity.probeIvfIncremental(spark, dir, cents,
        corpus().filter(col("vec_id") < 32), k = 3)
      .orderBy("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq

  private def batchReference(cents: Seq[(Long, Seq[Double])]) =
    Similarity.ivfTopKWithCentroids(corpus(),
        corpus().filter(col("vec_id") < 32), cents, k = 3)
      .orderBy("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq

  /** The index's committed manifest version. */
  private def version(dir: String): Long =
    AtomicIncrement.latestSnapshot(spark, dir).version

  /** A maintained index's live rows: its committed snapshot. */
  private def liveRows(dir: String) = AtomicIncrement.readCommitted(spark, dir)

  private def feed(): Seq[Seq[(Long, Seq[Float])]] = {
    val rows = corpus().select("vec_id", "embedding")
      .as[(Long, Seq[Float])].collect().toSeq.sortBy(_._1)
    rows.grouped((rows.size + 2) / 3).toSeq // three micro-batches
  }

  test("streamed ingest ≡ batch build; in-stream compaction is invisible " +
      "to probes and bounds the batch-dir count") {
    implicit val sqlCtx = spark.sqlContext
    val cents = Similarity.ensureKmeansQuantizer(spark, sfDir)
    val expect = batchReference(cents)
    for (compactEvery <- Seq(0L, 2L)) {
      val base = java.nio.file.Files.createTempDirectory("graft_ivfstream")
      val dir = base.resolve("index").toString
      val mem = MemoryStream[(Long, Seq[Float])]
      val q = IvfStream.ingestStream(
        mem.toDF().toDF("vec_id", "embedding"), dir, cents,
        base.resolve("ckpt").toString, compactEvery,
        trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(50))
      try {
        feed().foreach { chunk => mem.addData(chunk); q.processAllAvailable() }
      } finally q.stop()
      assert(probeSorted(dir, cents) == expect,
        s"streamed index (compactEvery=$compactEvery) diverged from batch build")
      if (compactEvery == 2L) {
        // batches 0..2 → one compaction after batch 1, then batch 2's
        // append: the snapshot under that append is the compaction's,
        // bounded by its target's file count
        val folded = AtomicIncrement.snapshotAt(spark, dir, version(dir) - 1)
        assert(folded.data.size <= Maintenance.Target(dir).targetFiles,
          s"compaction did not bound committed files: ${folded.data.size}")
        assert(folded.dvs.isEmpty)
      }
    }
  }

  test("CDC upsert: a re-embedded id ranks by its NEW vector (surviving " +
      "its own same-batch tombstone), a takedown vanishes, and both " +
      "survive replay and compaction unchanged") {
    val cents = Similarity.ensureKmeansQuantizer(spark, sfDir)
    val e = corpus()
    val dir = java.nio.file.Files
      .createTempDirectory("graft_ivfups").resolve("index").toString
    IvfStream.ingestBatchStep(e, 0L, dir, cents)
    // the change batch: doc 1 re-embedded AS doc 2's vector; doc 3 down
    val ups = e.filter(col("vec_id") === 2)
      .select(lit(1L).as("vec_id"), col("embedding"), lit("upsert").as("op"))
    val dels = e.filter(col("vec_id") === 3)
      .select(col("vec_id"), col("embedding"), lit("delete").as("op"))
    IvfStream.upsertBatchStep(ups.unionByName(dels), 1L, dir, cents)
    def probeFor(queryId: Long) =
      Similarity.probeIvfIncremental(spark, dir, cents,
          e.filter(col("vec_id") === queryId), k = 3)
        .orderBy("neighbor_id").collect()
        .map(r => (r.getLong(1), r.getDouble(2))).toSeq
    val got = probeFor(2L)
    // doc 1 now carries doc 2's exact vector → cosine 1.0 for query 2
    assert(got.contains((1L, 1.0)),
      s"re-embedded doc did not rank by its new vector: $got")
    // the takedown never surfaces, for any probe of the panel
    val all = Similarity.probeIvfIncremental(spark, dir, cents,
        e.filter(col("vec_id") < 32), k = 3).collect()
      .map(_.getLong(1)).toSet
    assert(!all.contains(3L), "deleted doc surfaced as a neighbor")
    // replay the change batch, then compact: answers frozen
    IvfStream.upsertBatchStep(ups.unionByName(dels), 1L, dir, cents)
    assert(probeFor(2L) == got)
    Similarity.compactIvfIncremental(spark, dir)
    assert(probeFor(2L) == got, "compaction changed upsert results")
    // physical: no delete vector stands, the committed files' raw rows
    // are the live ones
    val snap = AtomicIncrement.latestSnapshot(spark, dir)
    assert(snap.dvs.isEmpty, "compaction left a delete vector")
    val raw = spark.read.parquet(snap.data.map(f => s"$dir/${f.path}"): _*)
    assert(raw.count() == e.count() - 1, "takedown not removed physically")
    assert(raw.filter(col("vec_id") === 1).count() == 1,
      "upserted id must keep exactly one posting")
  }

  test("gated ingest never indexes an eval-contaminated vector — " +
      "stream ≡ batch gate, independent driver replay agrees, replays " +
      "no-op") {
    implicit val sqlCtx = spark.sqlContext
    val e = corpus()
    val cents = Similarity.ensureKmeansQuantizer(spark, sfDir)
    val ev = e.filter(pmod(col("vec_id"), lit(13)) === 5)
    val tau = 0.3
    val base = java.nio.file.Files.createTempDirectory("graft_gatedivf")
    val dir = base.resolve("index").toString
    val mem = MemoryStream[(Long, Seq[Float])]
    val q = IvfStream.gatedIngestStream(
      mem.toDF().toDF("vec_id", "embedding"), dir, cents, ev, tau,
      base.resolve("ckpt").toString,
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(50))
    try {
      feed().foreach { chunk => mem.addData(chunk); q.processAllAvailable() }
    } finally q.stop()
    val indexed = liveRows(dir).select("vec_id").as[Long].collect().toSet
    // stream ≡ batch gate over the same corpus
    val kept = graft.operators.Hygiene.semanticGate(e, ev, tau)
      .select("vec_id").as[Long].collect().toSet
    assert(indexed == kept, "streamed gate diverged from the batch gate")
    // independent driver replay: NO indexed vector sits within tau of
    // ANY eval vector (straight-line Scala cosines, no Spark involved)
    val evV = ev.select("vec_id", "embedding")
      .as[(Long, Seq[Float])].collect()
    val idxV = liveRows(dir)
      .select(col("vec_id"), col("c_v"))
      .as[(Long, Seq[Float])].collect()
    def cos(a: Seq[Float], b: Seq[Float]): Double = {
      val d = a.zip(b).map { case (x, y) => x.toDouble * y.toDouble }.sum
      d / (math.sqrt(a.map(x => x.toDouble * x).sum) *
        math.sqrt(b.map(x => x.toDouble * x).sum))
    }
    assert(idxV.forall { case (_, v) => evV.forall { case (_, w) =>
      cos(v, w) < tau } }, "a contaminated vector reached the index")
    assert(evV.forall { case (id, _) => !indexed.contains(id) })
    // redelivery through the gate applies nothing — no duplication
    IvfStream.gatedIngestBatchStep(
      feed()(1).toDF("vec_id", "embedding"), 1L, dir, cents, ev, tau)
    assert(liveRows(dir).count() == kept.size)
  }

  test("streamed PQ ingest ≡ fresh full encode; replays and in-stream " +
      "compaction leave the compressed index unchanged") {
    implicit val sqlCtx = spark.sqlContext
    val e = corpus()
    val cents = Similarity.hashCentroids(e, 16)
    val expect = Similarity.pqTopK(e, e.filter(col("vec_id") < 32), k = 3)
      .orderBy("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    def probe(dir: String) =
      Similarity.probePqIncremental(spark, dir,
          e.filter(col("vec_id") < 32), k = 3)
        .orderBy("query_id", "neighbor_id").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    val base = java.nio.file.Files.createTempDirectory("graft_pqstream")
    val dir = base.resolve("index").toString
    val mem = MemoryStream[(Long, Seq[Float])]
    val q = IvfStream.pqIngestStream(
      mem.toDF().toDF("vec_id", "embedding"), dir, cents,
      base.resolve("ckpt").toString, compactEvery = 2L,
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(50))
    try {
      feed().foreach { chunk => mem.addData(chunk); q.processAllAvailable() }
    } finally q.stop()
    assert(probe(dir) == expect,
      "streamed compressed index diverged from full encode")
    // post-fold redelivery of a folded batch no-ops
    val replay = feed()(1).toDF("vec_id", "embedding")
    IvfStream.pqIngestBatchStep(replay, 1L, dir, cents, compactEvery = 2L)
    assert(probe(dir) == expect, "replayed PQ batch changed probes")
    assert(liveRows(dir).count() == e.count(), "replay duplicated codes")
  }

  test("streamed PQ CDC upsert ≡ fresh encode of the mutated corpus; " +
      "replay no-ops") {
    implicit val sqlCtx = spark.sqlContext
    val e = corpus()
    val cents = Similarity.hashCentroids(e, 16)
    val panel = e.filter(col("vec_id") < 32)
    val base = java.nio.file.Files.createTempDirectory("graft_pqupsstream")
    val dir = base.resolve("index").toString
    // batch 0: the full corpus as upserts; batch 1: the declared
    // mutation (re-embed vec_id%5==1 as vec_id+1's vector, take down
    // vec_id%7==3)
    val next = e.select((col("vec_id") - 1).as("vec_id"),
      col("embedding").as("__new_emb"))
    val ups = e.select("vec_id").join(next, "vec_id")
      .filter(pmod(col("vec_id"), lit(5)) === 1 &&
        pmod(col("vec_id"), lit(7)) =!= 3)
      .select(col("vec_id"), col("__new_emb").as("embedding"),
        lit("upsert").as("op"))
    val dels = e.filter(pmod(col("vec_id"), lit(7)) === 3)
      .select(col("vec_id"), col("embedding"), lit("delete").as("op"))
    val b0 = e.select(col("vec_id"), col("embedding"),
      lit("upsert").as("op")).as[(Long, Seq[Float], String)].collect()
    val b1 = ups.unionByName(dels)
      .as[(Long, Seq[Float], String)].collect()
    val mem = MemoryStream[(Long, Seq[Float], String)]
    val q = IvfStream.pqUpsertStream(
      mem.toDF().toDF("vec_id", "embedding", "op"), dir, cents,
      base.resolve("ckpt").toString,
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(50))
    try {
      Seq(b0, b1).foreach { chunk =>
        mem.addData(chunk.toIndexedSeq); q.processAllAvailable()
      }
    } finally q.stop()
    def probe() = Similarity.probePqIncremental(spark, dir, panel, k = 3)
      .orderBy("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    val got = probe()
    val mutated = e.join(next, Seq("vec_id"), "left")
      .filter(pmod(col("vec_id"), lit(7)) =!= 3)
      .select(col("vec_id"),
        when(pmod(col("vec_id"), lit(5)) === 1 && col("__new_emb").isNotNull,
          col("__new_emb")).otherwise(col("embedding")).as("embedding"))
    val expect = Similarity.pqProbe(
        Similarity.pqEncode(mutated, cents), panel, cents, k = 3)
      .orderBy("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(got == expect, "streamed PQ CDC diverged from mutated encode")
    assert(!got.exists(_._2 % 7 == 3), "a takedown surfaced")
    // redelivery of the change batch no-ops
    IvfStream.pqUpsertBatchStep(ups.unionByName(dels), 1L, dir, cents)
    assert(probe() == got)
  }

  test("batch-step replays are idempotent, including straddling an " +
      "in-stream compaction") {
    val cents = Similarity.ensureKmeansQuantizer(spark, sfDir)
    val dir = java.nio.file.Files
      .createTempDirectory("graft_ivfreplay").resolve("index").toString
    val chunks = feed().map(rows =>
      rows.toDF("vec_id", "embedding"))
    // land 0, 1 with a compaction after 1 (compactEvery=2), then a
    // REPLAY of batch 1 (post-fold redelivery) and batch 2
    IvfStream.ingestBatchStep(chunks(0), 0L, dir, cents, compactEvery = 2L)
    IvfStream.ingestBatchStep(chunks(1), 1L, dir, cents, compactEvery = 2L)
    val versionAfterFold = version(dir)
    IvfStream.ingestBatchStep(chunks(1), 1L, dir, cents, compactEvery = 2L)
    // the redelivered compacting batch no-ops on BOTH legs: its append
    // is a replay of the recorded batch id AND its compaction is
    // skipped — re-running the pass would pay a rewrite and publish a
    // version per redelivery, for zero state change
    assert(version(dir) == versionAfterFold,
      "post-fold redelivery re-ran the compaction")
    IvfStream.ingestBatchStep(chunks(2), 2L, dir, cents, compactEvery = 2L)
    assert(probeSorted(dir, cents) == batchReference(cents),
      "replayed ingest diverged from batch build")
    val n = liveRows(dir).count()
    assert(n == corpus().count(), s"replay duplicated postings: $n")
  }
}
