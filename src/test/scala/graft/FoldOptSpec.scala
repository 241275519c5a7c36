package graft

import graft.operators.{AtomicIncrement, IncrementalAgg}
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** Round-17 optimization internals, pinned:
  *
  *  - the WEIGHTED CDC fold (pre-aggregated multiplicities — guide
  *    §2.3 "aggregate before you shuffle" applied before a generator
  *    fan-out) produces byte-identical state to the per-row fold;
  *  - fold metadata answers from the manifest with zero Spark jobs:
  *    the CDC folds' batch id from the commit line
  *    (`Snapshot.lastBatch`), the stored watermark `__wm` from the
  *    state lines' stats group;
  *  - a small churn stages ONE delete-vector file, not one per core
  *    (the ChurnKeys size-adaptive slicing).
  */
class FoldOptSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(name: String): String =
    Files.createTempDirectory(s"graft_$name").resolve("s").toString

  private def rows(r: Range) = r.map(i => (i.toLong, s"g${i % 3}", i * 1.5))
    .toDF("ts", "g", "x")

  test("weighted CDC fold equals the per-row fold, batch by batch") {
    val rowSink = tmp("foldopt_row")
    val wSink = tmp("foldopt_w")
    def pre(df: org.apache.spark.sql.DataFrame) =
      df.groupBy("g", "ts").agg(count(lit(1)).as("__w"))
    // duplicate rows so multiplicities exceed 1
    val b0 = rows(1 to 30).unionByName(rows(1 to 10))
    val empty = rows(1 to 0)
    assert(IncrementalAgg.mergeCdcBatch(
      b0.select("g", "ts"), empty.select("g", "ts"),
      rowSink, Seq("g", "ts"), Nil, 0L))
    assert(IncrementalAgg.mergeCdcWeighted(pre(b0), pre(empty),
      wSink, Seq("g", "ts"), "__w", 0L))
    // a retraction batch: remove every ts % 5 == 0 occurrence once,
    // add fresh rows under a new group
    val minus = rows(1 to 30).filter(col("ts") % 5 === 0)
    val plus = rows(31 to 40).withColumn("g", lit("gX"))
    assert(IncrementalAgg.mergeCdcBatch(
      plus.select("g", "ts"), minus.select("g", "ts"),
      rowSink, Seq("g", "ts"), Nil, 1L))
    assert(IncrementalAgg.mergeCdcWeighted(pre(plus), pre(minus),
      wSink, Seq("g", "ts"), "__w", 1L))
    def st(sink: String) = IncrementalAgg.readState(spark, sink)
      .select("g", "ts", "__n").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .sortBy(t => (t._1, t._2)).toSeq
    assert(st(wSink) == st(rowSink),
      "weighted fold diverged from the per-row fold")
    def lastBatch(sink: String) =
      AtomicIncrement.latestSnapshot(spark, sink).lastBatch
    assert(lastBatch(wSink) == lastBatch(rowSink),
      "weighted fold recorded a different batch id")
    // replay shield holds on the weighted face too
    assert(!IncrementalAgg.mergeCdcWeighted(pre(plus), pre(minus),
      wSink, Seq("g", "ts"), "__w", 1L))
  }

  test("fold metadata rides manifest stats: __b and __wm answer " +
      "from the state lines with no state read") {
    val cdcSink = tmp("foldopt_b")
    assert(IncrementalAgg.mergeCdcBatch(rows(1 to 30), rows(1 to 0),
      cdcSink, Seq("g"), Seq("x"), 7L))
    assert(AtomicIncrement.latestSnapshot(spark, cdcSink).lastBatch ==
      Some(7L), "the manifest does not serve the replay shield")
    val wmSink = tmp("foldopt_wm")
    assert(IncrementalAgg.mergeBatch(rows(1 to 40), wmSink,
      Seq("g"), Seq("x"), "ts") == 40)
    val (_, wmE, _) = AtomicIncrement.snapshotSplit(spark, wmSink)
    assert(AtomicIncrement.manifestMaxLong(wmE, "__wm").contains(40L),
      "state lines do not serve the stored watermark from stats")
    // and the gate actually uses it: a replay folds zero fresh rows
    assert(IncrementalAgg.mergeBatch(rows(1 to 40), wmSink,
      Seq("g"), Seq("x"), "ts") == 0)
  }

  test("a small churn stages one delete-vector file, not one per core") {
    val sink = tmp("foldopt_dv")
    val base = (1 to 100).map(i => (i.toLong, i * 2.0)).toDF("k", "v")
    AtomicIncrement.appendIncrementAtomic(base, sink, "k")
    val changes = Seq((5L, 50.0, false), (6L, 60.0, false), (7L, 0.0, true))
      .toDF("k", "v", "del")
    AtomicIncrement.mergeOnReadAtomic(changes, sink, "k", "del")
    val (_, _, dvE) = AtomicIncrement.snapshotSplit(spark, sink)
    assert(dvE.size == 1,
      s"3-key churn staged ${dvE.size} dv files — expected exactly 1")
    // and the masked read still resolves the merge
    val got = AtomicIncrement.readCommitted(spark, sink)
      .filter(col("k").isin(5L, 6L, 7L))
      .select("k", "v").collect().map(r => (r.getLong(0), r.getDouble(1)))
      .sortBy(_._1).toSeq
    assert(got == Seq((5L, 50.0), (6L, 60.0)))
  }
}
