package graft

import graft.operators.AtomicIncrement
import org.apache.spark.sql.functions._

/** The MONOTONE WATERMARK FLOOR (round 16): a destructive commit that
  * lowers a watermark column's live manifest max must NOT reopen the
  * append gate's replay window — the manifest's floor line remembers
  * the highest max any version committed and the gate filters against
  * `greatest(live, floor)`. Pins: predicate-delete the max rows then
  * replay the original batch → ZERO rows publish (the r15 NOTES'
  * documented hazard, now closed structurally); genuinely new rows
  * still land; merge-deletes are covered; the floor survives a
  * process restart (the manifest line alone); a full snapshot
  * REPLACE deliberately resets it.
  */
class WatermarkFloorSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  private def rm(dir: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(dir)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .delete(p, true)
    ()
  }

  private def batch(lo: Int, hi: Int) =
    (lo to hi).map(i => (i.toLong, i * 1.0)).toDF("k", "amt")

  test("predicate-deleting the max rows then replaying the original " +
      "batch publishes ZERO rows — the floor holds the gate shut") {
    val sink = tmp("graft_floor_del")
    try {
      AtomicIncrement.appendIncrementAtomic(batch(1, 50), sink, "k")
      // destroy the top of the watermark domain: live max drops 50→40
      AtomicIncrement.deleteWhereAtomic(spark, sink, $"k" > 40)
      val v = AtomicIncrement.snapshot(spark, sink)._1
      // the at-least-once upstream redelivers the ORIGINAL batch —
      // before the floor, rows 41..50 (watermark above the lowered
      // live max) would re-publish as "new"
      val n = AtomicIncrement.appendIncrementAtomic(batch(1, 50), sink, "k")
      assert(n === 0L, s"replay re-admitted $n since-deleted rows")
      assert(AtomicIncrement.snapshot(spark, sink)._1 === v,
        "a fully-filtered replay must publish no version")
      assert(AtomicIncrement.readCommitted(spark, sink).count() === 40L)
      // genuinely NEW rows still land
      val n2 = AtomicIncrement.appendIncrementAtomic(batch(45, 60), sink, "k")
      assert(n2 === 10L, s"expected rows 51..60 only, appended $n2")
      assert(AtomicIncrement.readCommitted(spark, sink)
        .agg(max("k")).head().getLong(0) === 60L)
    } finally rm(sink)
  }

  test("the floor survives a process restart: cold memos re-seed from " +
      "the manifest line alone") {
    val sink = tmp("graft_floor_cold")
    try {
      AtomicIncrement.appendIncrementAtomic(batch(1, 50), sink, "k")
      AtomicIncrement.deleteWhereAtomic(spark, sink, $"k" > 40)
      val n = AtomicIncrement.appendIncrementAtomic(batch(1, 50), sink, "k")
      assert(n === 0L, s"cold-process replay re-admitted $n rows")
    } finally rm(sink)
  }

  test("a merge-delete of the max keys cannot reopen the window either") {
    val sink = tmp("graft_floor_mrg")
    try {
      AtomicIncrement.appendIncrementAtomic(batch(1, 50), sink, "k")
      AtomicIncrement.mergeAtomic(
        (41 to 50).map(i => (i.toLong, 0.0, true)).toDF("k", "amt", "del"),
        sink, "k", "del")
      assert(AtomicIncrement.readCommitted(spark, sink).count() === 40L)
      val n = AtomicIncrement.appendIncrementAtomic(batch(1, 50), sink, "k")
      assert(n === 0L, s"merge-delete replay re-admitted $n rows")
    } finally rm(sink)
  }

  test("a full snapshot REPLACE resets the floor — a new history " +
      "accepts rows the old one had delivered") {
    val sink = tmp("graft_floor_rep")
    try {
      AtomicIncrement.appendIncrementAtomic(batch(1, 50), sink, "k")
      AtomicIncrement.replaceSnapshot(batch(1, 10), sink,
        AtomicIncrement.snapshot(spark, sink)._1)
      // floor is now the REPLACING data's max (10), not the old 50
      val n = AtomicIncrement.appendIncrementAtomic(batch(11, 20), sink, "k")
      assert(n === 10L,
        s"replace must reset the floor (appended $n, wanted 10)")
      assert(AtomicIncrement.readCommitted(spark, sink).count() === 20L)
    } finally rm(sink)
  }

  test("row-preserving maintenance CARRIES the floor: delete, " +
      "compact, then replay still publishes zero") {
    val sink = tmp("graft_floor_cmp")
    try {
      AtomicIncrement.appendIncrementAtomic(batch(1, 50), sink, "k")
      AtomicIncrement.deleteWhereAtomic(spark, sink, $"k" > 40)
      AtomicIncrement.compact(spark, sink, 1)
      AtomicIncrement.compactClustered(spark, sink, Seq("k"), 1)
      val n = AtomicIncrement.appendIncrementAtomic(batch(1, 50), sink, "k")
      assert(n === 0L,
        s"compaction dropped the floor: replay re-admitted $n rows")
      assert(AtomicIncrement.readCommitted(spark, sink).count() === 40L)
    } finally rm(sink)
  }

  test("string watermarks floor too (byte-ordered comparison domain)") {
    val sink = tmp("graft_floor_str")
    try {
      def b(lo: Int, hi: Int) = (lo to hi)
        .map(i => (f"2026-01-$i%02d", i * 1.0)).toDF("day", "amt")
      AtomicIncrement.appendIncrementAtomic(b(1, 20), sink, "day")
      AtomicIncrement.deleteWhereAtomic(spark, sink, $"day" > "2026-01-15")
      val n = AtomicIncrement.appendIncrementAtomic(b(1, 20), sink, "day")
      assert(n === 0L, s"string-watermark replay re-admitted $n rows")
      val n2 = AtomicIncrement.appendIncrementAtomic(b(18, 25), sink, "day")
      assert(n2 === 5L)
    } finally rm(sink)
  }
}
