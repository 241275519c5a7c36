package graft.streaming

import graft.operators.{AtomicIncrement, IncrementalAgg, TextAnalysis}
import graft.pipelines.Corpus
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery, Trigger}

/** Streaming corpus ETL: documents arrive as a stream and leave as
  * training-ready chunk rows — quality gate → EXACT dedup (batch-
  * internal min-id, then against every previously-admitted document's
  * fingerprint) → optional benchmark decontamination ([[DocGate]]:
  * [[BenchmarkGate]] exact copies via a bloom-prefiltered anti-join
  * on the same fingerprint, or [[WinnowGate]] edit-drifted copies
  * via shared winnow fingerprints) → optional per-source BUDGET gate
  * ([[SourceBudgets]]: strict-prefix token spend against persisted
  * per-source counters under `<indexDir>/spent` — requires a `source`
  * column) → optional NEAR-DUP admission
  * (`nearDupJaccard`: the `CorpusStream` band/shingle admission core
  * over a sibling index under `<indexDir>/neardup`, run after every
  * cheaper gate) → sliding-window chunking — with the same
  * replay-safety mechanics as `CorpusStream` (the near-dup sibling):
  *
  *  - the chunk sink, the fingerprint index (`<indexDir>/fps`), the
  *    spend state and the near-dup index are graft sinks, each written
  *    by one commit per micro-batch that records the batch id, so a
  *    replayed micro-batch skips every sink its crashed attempt already
  *    committed and lands the same admission in the rest;
  *  - the fingerprint probe anti-joins out the current batch's own
  *    doc_ids, so a crashed attempt's committed fingerprints cannot
  *    drop the very docs that wrote them (doc_id must be unique
  *    stream-wide — the `CorpusStream` contract);
  *  - the batch id is per sink, so ONE stream, keeping its checkpoint,
  *    writes these sinks;
  *  - on the `compactEvery` cadence, after the step's last commit, the
  *    index and state sinks run the sink's maintenance pass
  *    (`CorpusStream.maintainIndex`): file counts stay O(compactEvery);
  *  - operator-internal caches are scoped to the batch.
  *
  * State is one (doc_id, fp) row per ADMITTED document — bounded by
  * the corpus, keyed nowhere (the probe is a fp equi-join, and at
  * 100 TB the index would bucket by fp); chunks never re-enter the
  * pipeline. Read the chunk sink with `AtomicIncrement.readCommitted`
  * or the `graft-atomic` source.
  */
object CorpusEtlStream {

  /** One micro-batch step — public so the spec (and a backfill job)
    * can drive it with deterministic batch boundaries. Idempotent in
    * `batchId`.
    */
  def prepareBatchStep(batch: DataFrame, batchId: Long, indexDir: String,
      sinkDir: String, cfg: Corpus.Config = Corpus.Config(),
      chunkTokens: Int = 128, stride: Int = 96,
      compactEvery: Int = 8,
      benchmark: Option[DocGate] = None,
      nearDupJaccard: Option[Double] = None,
      budgets: Option[SourceBudgets] = None,
      afterWrite: String => Unit = _ => ()): Unit =
    graft.InternalCaches.scoped {
      val spark = batch.sparkSession
      if (!batch.isEmpty) {
        prepareBatchBody(batch, batchId, indexDir, sinkDir, cfg,
          chunkTokens, stride, compactEvery, benchmark, nearDupJaccard,
          budgets, spark, afterWrite)
      }
    }

  private def prepareBatchBody(batch: DataFrame, batchId: Long,
      indexDir: String, sinkDir: String, cfg: Corpus.Config,
      chunkTokens: Int, stride: Int, compactEvery: Int,
      benchmark: Option[DocGate], nearDupJaccard: Option[Double],
      budgets: Option[SourceBudgets], spark: SparkSession,
      // crash-matrix seam: invoked after each commit inside the batch
      // ("spent", "neardup", "chunks", "fps") so a spec can simulate a
      // process death at EVERY boundary by throwing from here —
      // production callers leave it a no-op
      afterWrite: String => Unit = _ => ()): Unit = {
    val fpPath = s"$indexDir/fps"
    val spentPath = s"$indexDir/spent"
    val nearDupPath = s"$indexDir/neardup"
    val batchDocIds = batch.select("doc_id")
    // quality gate, then batch-internal exact dedup — the fingerprint
    // is computed ONCE and drives the min-id keep directly (running
    // Corpus.exactDedup here would md5-normalize every doc a second
    // time for the same key)
    val gated = Corpus.qualityFilter(batch, cfg)
      .withColumn("__fp", TextAnalysis.fingerprint(col("text")))
    val keepIds = gated.groupBy(col("__fp"))
      .agg(min(col("doc_id")).as("doc_id")).select("doc_id")
    val deduped = gated.join(keepIds, Seq("doc_id"), "left_semi")
    // benchmark decontamination: the exact gate rides the SAME
    // fingerprint column the dedup already computed (zero extra text
    // passes); a winnow gate scores the text instead
    val clean = benchmark.fold(deduped)(_.scrubWithFp(deduped, "__fp"))
    // drop docs whose fingerprint is already ADMITTED — excluding this
    // batch's own ids (the replay shield)
    val survivors = AtomicIncrement.readStreamState(spark, fpPath)
      .fold(clean) { idx =>
        val priorFps = idx
          .select(col("doc_id").as("idx_id"), col("fp").as("__fp"))
          .join(batchDocIds.select(col("doc_id").as("idx_id")),
            Seq("idx_id"), "left_anti")
          .select("__fp").distinct()
        clean.join(priorFps, Seq("__fp"), "left_anti")
      }
    // optional per-source budget gate: runs after the cheap gates (so
    // only docs that could land spend budget) and BEFORE the near-dup
    // stage (so a budget-dropped doc never lands bands that would
    // later shadow a real admission). Strict-prefix semantics shared
    // with BudgetStream/tokenBudgetMix: every doc OFFERED at this
    // stage spends its cost, admitted or not.
    val inBudget = budgets.fold(survivors) { b =>
      val kept = applyBudgetGate(survivors, batchId, spentPath, b, spark)
      afterWrite("spent")
      kept
    }
    // optional near-dup stage: the CorpusStream admission core over a
    // sibling band/shingle index — probe the admitted corpus, exact-
    // verify, batch-internal near-dedup, land the survivors' bands.
    // Runs AFTER exact dedup + decontam + the prior-fp drop, so the
    // near-dup index only ever holds docs every cheaper gate admitted.
    // admitNearDups localCheckpoints its result; the no-near-dup path
    // checkpoints here — either way the frame below is materialized.
    val (admitted, ckpt) = nearDupJaccard match {
      case Some(j) =>
        val a = CorpusStream.admitNearDups(
          inBudget.select("doc_id", "text", "__fp"),
          batchDocIds, batchId, nearDupPath, j)
        afterWrite("neardup")
        (a, Seq.empty: graft.InternalCaches.Handle)
      case None =>
        graft.InternalCaches.localCheckpointHandle(
          inBudget.select("doc_id", "text", "__fp"))
    }
    graft.InternalCaches.trackRdds(ckpt)
    AtomicIncrement.appendOnce(
      TextAnalysis.chunkDocs(admitted, "doc_id", "text", chunkTokens, stride),
      sinkDir, batchId)
    afterWrite("chunks")
    val applied = AtomicIncrement.appendOnce(
      admitted.select(col("doc_id"), col("__fp").as("fp")).coalesce(1),
      fpPath, batchId)
    afterWrite("fps")
    IvfStream.compactOnCadence(batchId, compactEvery, applied)(
      CorpusStream.maintainIndex(spark, Seq(fpPath) ++
        budgets.map(_ => spentPath) ++
        nearDupJaccard.toSeq.flatMap(_ =>
          CorpusStream.nearDupIndex(nearDupPath)): _*))
  }

  /** Per-source cost budgets for the optional ingest budget gate. */
  case class SourceBudgets(perSource: Map[String, Long],
      default: Long = 0L)

  /** The budget gate's batch half. Spend state is one (source, spent)
    * rollup in a graft sink at `spentPath`: one
    * [[IncrementalAgg.mergeCdcBatch]] fold per batch, keyed on `source`
    * and summing the batch's spend, whose commit records the batch id.
    * Within the batch, admission replays the tokenBudgetMix contract:
    * per-source md5-rank order, inclusive running cost offset by the
    * prior spend, keep iff ≤ budget; the window is micro-batch-sized,
    * so no bucket decomposition is needed here.
    *
    * On a fresh batch the prior spend is the state. A replayed batch
    * (its crashed attempt already folded) reads a state that holds its
    * own delta, so its prior is the state minus that delta — the delta
    * is deterministic on replay, and the fold itself is skipped. The
    * state stays one row per source.
    *
    * Docs a cheaper gate already dropped never reach this stage and
    * spend nothing; a budget-dropped doc RE-OFFERED in a later batch
    * spends again (only landed docs enter the fingerprint index) —
    * offer-time spend is the contract, dedupe-before-offer is the
    * caller's lever.
    */
  private def applyBudgetGate(offered: DataFrame, batchId: Long,
      spentPath: String, budgets: SourceBudgets,
      spark: SparkSession): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // pin the gate input: the delta fold and the admitted frame both
    // read it, and without the checkpoint each would re-run the whole
    // upstream gate pipeline
    val (withCost, h) = graft.InternalCaches.localCheckpointHandle(
      offered.withColumn("__cost",
        size(TextAnalysis.tokens(col("text"))).cast("long")))
    graft.InternalCaches.trackRdds(h)
    // delta covers every OFFERED doc (strict prefix), admitted or not
    val delta = withCost.groupBy("source").agg(sum("__cost").as("spent"))
    val snap = AtomicIncrement.streamSnapshot(spark, spentPath)
    val replay = AtomicIncrement.isReplay(snap, spentPath, batchId)
    val prior = AtomicIncrement.readFoldState(spark, spentPath, snap)
      .fold(spark.emptyDataFrame.withColumn("source", lit(""))
        .withColumn("__prior", lit(0L))) { state =>
        val spent = state.select(col("source"), col("sum_spent").as("__prior"))
        if (!replay) spent
        else spent
          .join(delta.withColumnRenamed("spent", "__d"), Seq("source"), "left")
          .select(col("source"),
            (col("__prior") - coalesce(col("__d"), lit(0L))).as("__prior"))
      }
    IncrementalAgg.mergeCdcBatch(delta, delta.limit(0), spentPath,
      Seq("source"), Seq("spent"), batchId)
    val budgetCol = budgets.perSource.toSeq.sortBy(_._1)
      .foldLeft(lit(budgets.default)) { case (acc, (s, b)) =>
        when(col("source") === s, lit(b)).otherwise(acc)
      }
    val w = Window.partitionBy("source")
      .orderBy(md5(col("doc_id").cast("string")), col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    withCost
      .withColumn("__cum", sum("__cost").over(w))
      .join(broadcast(prior), Seq("source"), "left")
      .filter(coalesce(col("__prior"), lit(0L)) + col("__cum") <= budgetCol)
      .drop("__cost", "__cum", "__prior")
  }

  /** Wire the step into a checkpointed AvailableNow/continuous stream. */
  def prepareStream(docs: DataFrame, indexDir: String, sinkDir: String,
      checkpointDir: String, cfg: Corpus.Config = Corpus.Config(),
      chunkTokens: Int = 128, stride: Int = 96, compactEvery: Int = 8,
      benchmark: Option[DocGate] = None,
      nearDupJaccard: Option[Double] = None,
      budgets: Option[SourceBudgets] = None,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    docs.writeStream
      .outputMode(OutputMode.Update())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        prepareBatchStep(batch, batchId, indexDir, sinkDir, cfg,
          chunkTokens, stride, compactEvery, benchmark, nearDupJaccard,
          budgets)
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .start()
}
