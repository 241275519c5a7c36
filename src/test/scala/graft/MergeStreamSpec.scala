package graft

import graft.operators.{AtomicIncrement, Cdc, IncrementalAgg}
import graft.streaming.MergeStream
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** Streaming CDC apply: a change stream keeps the copy-on-write table
  * AND its retractable rollup consistent — final table ≡ the
  * read-side CDC resolve of the whole feed, rollup ≡ re-aggregating
  * the final table — across within-batch conflicts, replays, and a
  * crash at the one dangerous boundary (between the rollup fold and
  * the table merge).
  */
class MergeStreamSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(p: String): String =
    Files.createTempDirectory(p).resolve("d").toString

  private def base = (1L to 40L).map(k => (k, s"g${k % 3}", k * 2.0))
    .toDF("k", "g", "x")

  private def tableRows(sink: String) =
    AtomicIncrement.readCommitted(spark, sink)
      .select("k", "g", "x").as[(Long, String, Double)]
      .collect().sortBy(_._1).toSeq

  private def stateRows(sink: String) =
    IncrementalAgg.readState(spark, sink)
      .select("g", "__n", "sum_x")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
      .sortBy(_._1).toSeq

  private def loadBase(tableSink: String, stateSink: String): Unit = {
    for (r <- Seq(1L to 20L, 21L to 40L))
      AtomicIncrement.appendIncrementAtomic(
        base.filter(col("k").between(r.head, r.last)).repartition(1),
        tableSink, "k")
    // bootstrap at −1: the stream's own micro-batch ids start at 0
    IncrementalAgg.mergeCdcBatch(base, base.limit(0), stateSink,
      Seq("g"), Seq("x"), -1L)
  }

  // the change feed, three micro-batches with within-batch conflicts:
  //  b1: k=5 updated twice (v2 wins), k=30 deleted
  //  b2: k=5 updated AND deleted at the same version (delete wins),
  //      k=41 inserted
  //  b3: k=30 re-inserted (revival after delete), k=12 updated
  private def feed: Seq[Seq[(Long, String, Double, Long, Boolean)]] = Seq(
    Seq((5L, "g9", 100.0, 1L, false), (5L, "g9", 200.0, 2L, false),
      (30L, "", 0.0, 1L, true)),
    Seq((5L, "g9", 300.0, 3L, false), (5L, "", 0.0, 3L, true),
      (41L, "gN", 500.0, 1L, false)),
    Seq((30L, "g9", 700.0, 5L, false), (12L, "g9", 800.0, 5L, false)))

  // reference: the read-side resolve of base-as-version-0 + the feed
  private def expectedFinal = {
    val changes = feed.flatten
      .toDF("k", "g", "x", "v", "del")
    val all = base.select(col("k"), col("g"), col("x"),
        lit(0L).as("v"), lit(false).as("del"))
      .unionByName(changes)
    Cdc.latestView(all, Seq("k"), "v", "del")
      .select("k", "g", "x").as[(Long, String, Double)]
      .collect().sortBy(_._1).toSeq
  }

  test("streamed CDC apply: table ≡ read-side resolve of the feed, " +
      "rollup ≡ re-aggregating the final table, within-batch " +
      "conflicts resolved, deletes and revivals land") {
    implicit val sqlCtx = spark.sqlContext
    val tableSink = tmp("graft_mstream_t")
    val stateSink = tmp("graft_mstream_s")
    loadBase(tableSink, stateSink)
    val mem = MemoryStream[(Long, String, Double, Long, Boolean)]
    val q = MergeStream.applyStream(
      mem.toDF().toDF("k", "g", "x", "v", "del"),
      tableSink, "k", "v", "del", tmp("graft_mstream_c"),
      stateSink = Some(stateSink), stateKeys = Seq("g"),
      stateSums = Seq("x"),
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(50))
    try {
      feed.foreach { b => mem.addData(b); q.processAllAvailable() }
    } finally q.stop()
    val got = tableRows(tableSink)
    assert(got == expectedFinal, s"table diverged: ${got.take(6)}…")
    // the fixture exercised what it claims
    val byK = got.map { case (k, g, x) => k -> (g, x) }.toMap
    assert(!byK.contains(5L), "same-version delete must win the tie")
    assert(byK(30L) == ("g9", 700.0), "revival after delete lost")
    assert(byK(41L) == ("gN", 500.0), "insert lost")
    // rollup ≡ one-pass aggregate of the final table
    val direct = AtomicIncrement.readCommitted(spark, tableSink)
      .groupBy("g").agg(count(lit(1)).as("n"), sum("x").as("s"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
      .sortBy(_._1).toSeq
    assert(stateRows(stateSink) == direct,
      s"rollup diverged: ${stateRows(stateSink)} vs $direct")
  }

  test("crash between the rollup fold and the table merge: the retry " +
      "folds nothing twice and the merge still applies — the order " +
      "that makes the composition crash-safe") {
    val tableSink = tmp("graft_mcrash_t")
    val stateSink = tmp("graft_mcrash_s")
    loadBase(tableSink, stateSink)
    val changes = Seq((5L, "g9", 100.0, 1L, false),
      (30L, "", 0.0, 1L, true)).toDF("k", "g", "x", "v", "del")
    val preTable = tableRows(tableSink)
    val boom = new RuntimeException("crash between fold and merge")
    val thrown = intercept[RuntimeException] {
      MergeStream.applyBatchStep(changes, 1L, tableSink, "k", "v", "del",
        Some(stateSink), Seq("g"), Seq("x"),
        afterFold = () => throw boom)
    }
    assert(thrown eq boom)
    // fold landed, table did not — the transiently-inconsistent state
    // the replay must repair
    assert(tableRows(tableSink) == preTable)
    // the replayed batch: fold no-ops on its batch id (folding again
    // would double the delta), the merge applies
    MergeStream.applyBatchStep(changes, 1L, tableSink, "k", "v", "del",
      Some(stateSink), Seq("g"), Seq("x"))
    val direct = AtomicIncrement.readCommitted(spark, tableSink)
      .groupBy("g").agg(count(lit(1)).as("n"), sum("x").as("s"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
      .sortBy(_._1).toSeq
    assert(stateRows(stateSink) == direct,
      "retry double-folded or under-folded the rollup")
    val byK = tableRows(tableSink).map {
      case (k, g, x) => k -> (g, x) }.toMap
    assert(byK(5L) == ("g9", 100.0) && !byK.contains(30L))
    // a FULL replay after success: fold no-ops, merge re-applies
    // idempotently — nothing moves
    val t = tableRows(tableSink)
    val s = stateRows(stateSink)
    MergeStream.applyBatchStep(changes, 1L, tableSink, "k", "v", "del",
      Some(stateSink), Seq("g"), Seq("x"))
    assert(tableRows(tableSink) == t && stateRows(stateSink) == s)
  }

  test("in-stream maintenance cadence: maintainEvery runs the full " +
      "pass inside the stream — content invariants hold and the file " +
      "count is bounded at the cadence points") {
    implicit val sqlCtx = spark.sqlContext
    val tableSink = tmp("graft_mmaint_t")
    val stateSink = tmp("graft_mmaint_s")
    loadBase(tableSink, stateSink)
    val mem = MemoryStream[(Long, String, Double, Long, Boolean)]
    val q = MergeStream.applyStream(
      mem.toDF().toDF("k", "g", "x", "v", "del"),
      tableSink, "k", "v", "del", tmp("graft_mmaint_c"),
      stateSink = Some(stateSink), stateKeys = Seq("g"),
      stateSums = Seq("x"),
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(50),
      maintainEvery = 2,
      maintainTarget = Some(graft.operators.Maintenance.Target(
        tableSink, clusterCols = Seq("k"), bloomCols = Seq("k"),
        targetFiles = 2)))
    try {
      feed.foreach { b => mem.addData(b); q.processAllAvailable() }
    } finally q.stop()
    // 3 batches: maintenance fired after batch id 1 (the 2nd) only —
    // content must equal the plain-stream test's resolve regardless
    assert(tableRows(tableSink) == expectedFinal,
      "in-stream maintenance changed the table's content")
    val direct = AtomicIncrement.readCommitted(spark, tableSink)
      .groupBy("g").agg(count(lit(1)).as("n"), sum("x").as("s"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
      .sortBy(_._1).toSeq
    assert(stateRows(stateSink) == direct,
      "in-stream maintenance broke the rollup")
    // one more batch lands the second cadence point: files re-bound
    mem.addData(Seq((13L, "g9", 111.0, 9L, false)))
    val q2 = MergeStream.applyStream(
      mem.toDF().toDF("k", "g", "x", "v", "del"),
      tableSink, "k", "v", "del", tmp("graft_mmaint_c2"),
      stateSink = None,
      trigger = org.apache.spark.sql.streaming.Trigger.AvailableNow(),
      maintainEvery = 1,
      maintainTarget = Some(graft.operators.Maintenance.Target(
        tableSink, clusterCols = Seq("k"), bloomCols = Seq("k"),
        targetFiles = 2)))
    q2.awaitTermination()
    assert(AtomicIncrement.committedFiles(spark, tableSink).size == 2,
      "cadence-point maintenance did not bound the file count")
    val byK = tableRows(tableSink).map { case (k, g, x) => k -> (g, x) }.toMap
    assert(byK(13L) == ("g9", 111.0))
  }

  test("one churn collect per micro-batch: the fold and the merge " +
      "share the precollected key set (probe-counted)") {
    val tableSink = tmp("graft_monce_t")
    val stateSink = tmp("graft_monce_s")
    loadBase(tableSink, stateSink)
    val changes = Seq((5L, "g9", 100.0, 1L, false),
      (30L, "", 0.0, 1L, true)).toDF("k", "g", "x", "v", "del")
    val before = AtomicIncrement.churnCollects.get()
    MergeStream.applyBatchStep(changes, 1L, tableSink, "k", "v", "del",
      Some(stateSink), Seq("g"), Seq("x"))
    assert(AtomicIncrement.churnCollects.get() - before == 1,
      "a merge-stream batch must collect its churn exactly once")
  }

  test("key-contract violations fail BEFORE the rollup fold consumes " +
      "the batch: a null key never strands a folded batch id the " +
      "table did not apply") {
    val tableSink = tmp("graft_mval_t")
    val stateSink = tmp("graft_mval_s")
    loadBase(tableSink, stateSink)
    val nullKeyed = Seq((Some(5L), "g9", 100.0, 1L, false),
      (Option.empty[Long], "gB", 1.0, 1L, false))
      .toDF("k", "g", "x", "v", "del")
    val preState = stateRows(stateSink)
    val preB = AtomicIncrement.latestSnapshot(spark, stateSink).lastBatch
    assert(preB == Some(-1L), "the bootstrap fold's id is not recorded")
    val e = intercept[IllegalArgumentException] {
      MergeStream.applyBatchStep(nullKeyed, 7L, tableSink, "k", "v", "del",
        Some(stateSink), Seq("g"), Seq("x"))
    }
    assert(e.getMessage.contains("NULL"))
    // neither half moved: state identical, batch id NOT recorded — a
    // later corrected batch 7 still applies
    assert(stateRows(stateSink) == preState)
    assert(AtomicIncrement.latestSnapshot(spark, stateSink).lastBatch ==
      preB, "the fold recorded a batch the table never applied")
  }

  test("streamed CDC apply maintains a MIN/MAX rollup: extremes " +
      "re-derive from the churned groups' PRE-merge locality reshaped " +
      "to the post-change view (the fold still runs before the table " +
      "moves), and a replayed batch moves neither half") {
    val tableSink = tmp("graft_mmx_t")
    val stateSink = tmp("graft_mmx_s")
    // GROUP-clustered load (one file per group, g in the stats) so the
    // extremes rescan's group-locality read can prune
    val rowsA = (1L to 10L).map(k => (k, "a", k * 1.0)).toDF("k", "g", "x")
    val rowsB = (11L to 20L).map(k => (k, "b", k * 1.0)).toDF("k", "g", "x")
    AtomicIncrement.appendIncrementAtomic(rowsA.repartition(1),
      tableSink, "k", extraStatsCols = Seq("g"))
    AtomicIncrement.appendIncrementAtomic(rowsB.repartition(1),
      tableSink, "k", extraStatsCols = Seq("g"))
    val load = rowsA.unionByName(rowsB)
    assert(IncrementalAgg.mergeCdcExtremes(load, load.limit(0), load,
      stateSink, Seq("g"), Seq("x"), Seq("x"), -1L))
    // batch 0: delete b's max row (k=20, x=20) and re-price a's min
    // row UP (k=1 → x=5.5, so a's min must re-derive as 2.0)
    val changes = Seq((20L, "", 0.0, 1L, true),
      (1L, "a", 5.5, 1L, false)).toDF("k", "g", "x", "v", "del")
    MergeStream.applyBatchStep(changes, 0L, tableSink, "k", "v", "del",
      Some(stateSink), Seq("g"), Seq("x"), stateMinMax = Seq("x"))
    def direct = AtomicIncrement.readCommitted(spark, tableSink)
      .groupBy("g").agg(count(lit(1)).as("n"), sum("x").as("s"),
        min("x").as("mn"), max("x").as("mx"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2),
        r.getDouble(3), r.getDouble(4))).sortBy(_._1).toSeq
    def got = IncrementalAgg.readState(spark, stateSink)
      .select("g", "__n", "sum_x", "min_x", "max_x")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2),
        r.getDouble(3), r.getDouble(4))).sortBy(_._1).toSeq
    assert(got == direct, s"streamed extremes diverged: $got vs $direct")
    assert(got.find(_._1 == "b").exists(t => t._5 == 19.0),
      "b's max did not re-derive after its argmax row deleted")
    assert(got.find(_._1 == "a").exists(t => t._4 == 2.0),
      "a's min did not re-derive after its argmin row re-priced")
    // replay: the fold no-ops on the batch id, the merge re-applies
    // idempotently — state and table both unchanged
    val snap = got
    MergeStream.applyBatchStep(changes, 0L, tableSink, "k", "v", "del",
      Some(stateSink), Seq("g"), Seq("x"), stateMinMax = Seq("x"))
    assert(got == snap && direct == snap)
  }

  test("DEFERRED streamed CDC apply: the merge stages tombstones " +
      "instead of rewriting data files (high-frequency-stream trade), " +
      "the rollup folds the same delta, and the maintenance pass " +
      "repays the read debt (dvs folded, content invariant)") {
    val tableSink = tmp("graft_mdef_t")
    val stateSink = tmp("graft_mdef_s")
    loadBase(tableSink, stateSink)
    val preFiles = AtomicIncrement.committedFiles(spark, tableSink).toSet
    val changes = Seq((5L, "g9", 100.0, 1L, false),
      (30L, "", 0.0, 1L, true)).toDF("k", "g", "x", "v", "del")
    MergeStream.applyBatchStep(changes, 0L, tableSink, "k", "v", "del",
      Some(stateSink), Seq("g"), Seq("x"), defer = true)
    // no data file was rewritten: the old set rides verbatim
    assert(preFiles.subsetOf(
      AtomicIncrement.committedFiles(spark, tableSink).toSet),
      "deferred merge rewrote data files")
    assert(AtomicIncrement.snapshotSplit(spark, tableSink)._3.nonEmpty,
      "deferred merge staged no delete vector")
    def direct = AtomicIncrement.readCommitted(spark, tableSink)
      .groupBy("g").agg(count(lit(1)).as("n"), sum("x").as("s"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
      .sortBy(_._1).toSeq
    val byK = tableRows(tableSink).map(t => t._1 -> (t._2, t._3)).toMap
    assert(byK(5L) == ("g9", 100.0) && !byK.contains(30L),
      "deferred merge content wrong")
    assert(stateRows(stateSink) == direct,
      s"rollup diverged under defer: ${stateRows(stateSink)} vs $direct")
    // maintenance folds the debt: dv lines gone, content byte-stable
    val before = tableRows(tableSink)
    val rep = graft.operators.Maintenance.maintainAtomic(spark,
      graft.operators.Maintenance.Target(tableSink,
        clusterCols = Seq("k"), targetFiles = 2))
    assert(rep.rewrote, s"maintenance skipped the fold: $rep")
    assert(AtomicIncrement.snapshotSplit(spark, tableSink)._3.isEmpty,
      "maintenance left delete vectors standing")
    assert(tableRows(tableSink) == before)
    assert(stateRows(stateSink) == direct)
  }
}
