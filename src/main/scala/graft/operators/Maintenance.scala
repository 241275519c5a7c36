package graft.operators

import graft.QueryDef
import graft.sources.Tables.table
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The steady-state maintenance loop of a manifest-committed table —
  * the operational composition of the pieces that exist separately
  * (OPTIMIZE, Bloom re-cover, file-level and whole-dir vacuum), in the
  * order a scheduler would run them after a stretch of CDC merges:
  *
  *  1. OPTIMIZE: clustered rewrite when `clusterCols` is given
  *     (restores the key intervals churn destroyed, so the NEXT
  *     merge prunes again), plain coalescing compaction otherwise
  *     (bounds the manifest and the footer-sweep cost).
  *  2. Bloom re-cover: the rewrite produced sidecar-less files —
  *     correct (absent = may-contain) but un-pruned; one distributed
  *     [[BloomSkip.ensureSidecars]] job per lookup column restores
  *     point-lookup skipping.
  *  3. Vacuum: [[AtomicIncrement.vacuumSuperseded]] reclaims files a
  *     partial-rewrite merge replaced inside still-live batch dirs;
  *     [[AtomicIncrement.vacuumUncommitted]] reclaims whole dirs the
  *     latest manifest no longer references (pre-compaction batches,
  *     crashed stages). Together they bound the sink's on-disk file
  *     count at the committed snapshot.
  *
  * Scheduling contract (the caller's, exactly like Delta VACUUM): run
  * with no writer actively staging, and accept that time travel to
  * pre-maintenance versions ends when the vacuums reclaim their files.
  * Pinned readers of the LATEST manifest are never affected — every
  * step is its own snapshot-isolated commit.
  *
  * Reference anchor: the reference's star tables are rebuilt whole
  * every run (datasets/create_*.ipynb); at 100 TB the same tables live
  * as merged snapshots, and this loop is what keeps their read cost
  * (files, intervals, sidecars) from degrading as CDC churn accretes.
  */
object Maintenance {

  /** What one pass did — the numbers a maintenance log would record.
    * `rewrote = false` means the fragmentation trigger skipped the
    * table rewrite (the pass was metadata/increment-sized);
    * `dvFoldedFiles` counts the data files the TARGETED delete-vector
    * fold rewrote (0 when no dv stood, or when the full rewrite ran
    * and folded them itself).
    */
  final case class Report(filesBefore: Int, filesAfter: Int,
      rewrote: Boolean, sidecarsBuilt: Int, supersededRemoved: Int,
      orphanDirsRemoved: Int, dvFoldedFiles: Int = 0,
      smallCompacted: Int = 0, tokenSidecarsBuilt: Int = 0)

  /** One maintenance target: an atomic sink plus its layout policy.
    * `triggerFiles` is the fragmentation trigger: the OPTIMIZE rewrite
    * runs only when the committed file count EXCEEDS
    * `max(targetFiles, triggerFiles)` — without it a scheduled pass
    * would rewrite the WHOLE table every run, i.e. a daily pipeline
    * would pay 100 TB of writes daily for zero layout change. A
    * skipped rewrite still re-covers sidecars (increment-sized) and
    * vacuums (metadata-sized), so the pass stays cheap when the table
    * is healthy and table-sized only when fragmentation warrants it.
    */
  final case class Target(sink: String, clusterCols: Seq[String] = Nil,
      bloomCols: Seq[String] = Nil, targetFiles: Int = 8,
      triggerFiles: Int = 0,
      zorderCols: Seq[String] = Nil,
      foldDvs: Boolean = true,
      keepVersions: Int = 0,
      vacuumMinAgeMs: Long = 0L,
      smallFileBytes: Long = 0L,
      tokenBloomCols: Seq[String] = Nil)

  /** One full pass over one sink. OCC applies to the compaction like
    * any snapshot replace: if a live writer commits concurrently the
    * compaction loses and throws — re-run at a quieter moment (the
    * vacuums never ran, so nothing was reclaimed under the winner).
    */
  def maintainAtomic(spark: SparkSession, target: Target): Report = {
    val committed = AtomicIncrement.committedFiles(spark, target.sink).size
    val rewrite = committed > math.max(target.targetFiles,
      target.triggerFiles)
    // standing delete vectors are READ DEBT (every read pays their
    // anti-join until a rewrite folds them) — the maintenance pass is
    // the window that repays it. Round 14: the repayment is TARGETED
    // ([[AtomicIncrement.foldDvsTargeted]] rewrites only the files
    // each dv actually masks — at 10⁵ files a 3-key deferred delete
    // folds its churn locality, never the table; the earlier policy
    // forced the FULL snapshot rewrite on any standing dv, repaying
    // merge-on-read's write savings with table-sized interest).
    // Layout rewrites stay the fragmentation trigger's business, and
    // when the full rewrite runs anyway it folds every dv itself, so
    // the targeted pass is skipped as redundant.
    val dvFolded =
      if (!target.foldDvs || rewrite) (0, 0)
      else AtomicIncrement.foldDvsTargeted(spark, target.sink)
    // small-file debt repays INCREMENTALLY between layout rewrites
    // (round 14): bin-pack only the sub-threshold files, cluster-
    // preserving on the layout's leading key — the full rewrite above
    // handles it wholesale when fragmentation warrants
    val smallPacked =
      if (target.smallFileBytes <= 0L || rewrite) (0, 0)
      else AtomicIncrement.compactSmall(spark, target.sink,
        target.smallFileBytes,
        keyCol = (target.clusterCols ++ target.zorderCols).headOption)
    val (before, after) =
      if (!rewrite)
        (committed,
          AtomicIncrement.committedFiles(spark, target.sink).size)
      else if (target.zorderCols.nonEmpty)
        // multi-dimensional layout policy wins over the lexicographic
        // one: the table's hot predicates come on several columns
        AtomicIncrement.compactZordered(spark, target.sink,
          target.zorderCols, target.targetFiles)
      else if (target.clusterCols.nonEmpty)
        AtomicIncrement.compactClustered(spark, target.sink,
          target.clusterCols, target.targetFiles)
      else
        AtomicIncrement.compact(spark, target.sink, target.targetFiles)
    val built = target.bloomCols.map(c =>
      BloomSkip.ensureSidecars(spark, target.sink, c)).sum
    // text-search coverage rides the same lifecycle (round 14): a
    // rewrite leaves its new files token-sidecar-less (may-contain —
    // correct but unpruned), and this is the pass that re-covers them
    val tokenBuilt = target.tokenBloomCols.map(c =>
      BloomSkip.ensureTokenSidecars(spark, target.sink, c)).sum
    // manifest retention: keepVersions = 0 (default) keeps every
    // version — unbounded time travel, O(commits) manifest listings
    // per snapshot read; a bounded policy is the 10⁵-commit table's
    // steady state (the vacuums already root at the latest manifest,
    // so this bounds metadata, not data).
    if (target.keepVersions > 0)
      AtomicIncrement.expireManifests(spark, target.sink,
        target.keepVersions)
    val superseded = AtomicIncrement.vacuumSuperseded(spark, target.sink)
    val orphans = AtomicIncrement.vacuumUncommitted(spark, target.sink,
      target.vacuumMinAgeMs)
    Report(before, after, rewrite, built, superseded, orphans,
      dvFolded._1, smallPacked._1, tokenBuilt)
  }

  def defs: Map[String, QueryDef] = Map(
    // The WHOLE loop under the oracle gate: a range-clustered load, a
    // CDC micro-batch through the streaming apply (table merge + the
    // retractable rollup fold), a full maintenance pass (clustered
    // OPTIMIZE + bloom re-cover + both vacuums), then a SECOND CDC
    // batch through the maintained table. The output reads the
    // ROLLUP; the oracle re-aggregates the SQL-replayed final table —
    // so a fold broken by the maintenance pass (double-applied batch,
    // lost retraction, rewrite changing content), a merge that lost
    // rows across the rewrite, or a batch-id shield broken by the
    // snapshot replace all hash-mismatch. `maintained` pins that the
    // OPTIMIZE rewrite actually engaged (trigger crossed, file count
    // at target); `pruned` pins that a post-maintenance point lookup
    // still skips files (interval stats + sidecar coverage survived
    // the composition).
    "q_maintain_cdc" -> QueryDef(
      (s, dir) => IncrementalAgg.withScratchSink(s, "graft_maint_t") {
        tableSink =>
        IncrementalAgg.withScratchSink(s, "graft_maint_s") { stateSink =>
          // a third of orders (mod 3 and the feed's mod-10 classes are
          // independent, so every update/delete class stays populated):
          // the composition is what's under test, not the volume — the
          // full-size load shapes are q_merge_upsert's fixture
          val o = table(s, dir, "orders")
            .filter(col("o_orderkey") % 3 === 1)
            .select(col("o_orderkey"), col("o_orderstatus"),
              col("o_totalprice"))
          val mx = o.agg(max("o_orderkey")).head().getLong(0)
          var lo = Long.MinValue
          for (hi <- Seq(mx / 3, 2 * mx / 3, mx)) {
            AtomicIncrement.appendIncrementAtomic(
              o.filter(col("o_orderkey") > lo && col("o_orderkey") <= hi),
              tableSink, "o_orderkey")
            lo = hi
          }
          IncrementalAgg.mergeCdcBatch(o, o.limit(0), stateSink,
            Seq("o_orderstatus"), Seq("o_totalprice"), -1L)
          val cut = 2 * mx / 3
          val hot = o.filter(col("o_orderkey") > cut)
          def ch(df: DataFrame, status: Column, price: Column,
              del: Boolean) =
            df.select(col("o_orderkey"), status.as("o_orderstatus"),
              price.as("o_totalprice"), lit(0L).as("v"),
              lit(del).as("del"))
          val b0 = ch(hot.filter(col("o_orderkey") % 10 === 0), lit("X"),
              col("o_totalprice") + 100, del = false)
            .unionByName(ch(hot.filter(col("o_orderkey") % 10 === 7),
              col("o_orderstatus"), col("o_totalprice"), del = true))
          graft.streaming.MergeStream.applyBatchStep(b0, 0L, tableSink,
            "o_orderkey", "v", "del", Some(stateSink),
            Seq("o_orderstatus"), Seq("o_totalprice"))
          val report = maintainAtomic(s, Target(tableSink,
            clusterCols = Seq("o_orderkey"),
            bloomCols = Seq("o_orderkey"), targetFiles = 2))
          val b1 = ch(hot.filter(col("o_orderkey") % 10 === 3),
            col("o_orderstatus"), col("o_totalprice") + 50, del = false)
          graft.streaming.MergeStream.applyBatchStep(b1, 1L, tableSink,
            "o_orderkey", "v", "del", Some(stateSink),
            Seq("o_orderstatus"), Seq("o_totalprice"))
          val narrowed = BloomSkip.pointLookup(s, tableSink,
            "o_orderkey", lit(cut / 2))
          val engaged = narrowed.inputFiles.length <
            AtomicIncrement.committedFiles(s, tableSink).size
          IncrementalAgg.readState(s, stateSink)
            .select(col("o_orderstatus"), col("__n").as("n"),
              round(col("sum_o_totalprice"), 2).as("sum_price"))
            .withColumn("maintained",
              lit(report.rewrote && report.filesAfter == 2))
            .withColumn("pruned", lit(engaged))
            .orderBy("o_orderstatus")
        }
      },
      """WITH base AS (SELECT o_orderkey, o_orderstatus, o_totalprice
        |              FROM orders WHERE o_orderkey % 3 = 1),
        |cut AS (SELECT 2 * max(o_orderkey) // 3 AS c FROM base),
        |final AS (
        |  SELECT o_orderstatus, o_totalprice FROM base, cut
        |  WHERE NOT (o_orderkey > c AND o_orderkey % 10 IN (0, 3, 7))
        |  UNION ALL
        |  SELECT 'X', o_totalprice + 100 FROM base, cut
        |  WHERE o_orderkey > c AND o_orderkey % 10 = 0
        |  UNION ALL
        |  SELECT o_orderstatus, o_totalprice + 50 FROM base, cut
        |  WHERE o_orderkey > c AND o_orderkey % 10 = 3)
        |SELECT o_orderstatus, count(*) AS n,
        |  round(sum(o_totalprice), 2) AS sum_price,
        |  TRUE AS maintained, TRUE AS pruned
        |FROM final GROUP BY o_orderstatus
        |ORDER BY o_orderstatus""".stripMargin))
}
