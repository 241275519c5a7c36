package graft

import graft.operators.{AtomicIncrement, IncrementalAgg}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The bounded-state top-k sketch ([[IncrementalAgg.mergeCdcTopKSketch]]):
  * state stays capped at high cardinality, planted heavy hitters
  * surface with estimates inside the CM band, retraction demotes
  * exactly, and the batch id each child sink's commit records makes
  * replays no-ops.
  */
class TopKSketchSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  private def rm(dir: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(dir)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .delete(p, true)
    ()
  }

  /** 5 planted heavy hitters (values 1..5, 400 + 50·v rows each) over
    * a 20 000-value uniform tail (1 row each) in one group.
    */
  private def planted: DataFrame = {
    val heavy = (1 to 5).flatMap(v => Seq.fill(400 + 50 * v)(v.toLong))
    val tail = (1000L until 21000L)
    (heavy ++ tail).map(("g", _)).toDF("grp", "v")
  }

  test("state stays bounded at 20k-value cardinality and the planted " +
      "heavy hitters rank inside the CM band") {
    val sink = tmp("graft_tks")
    try {
      val df = planted
      IncrementalAgg.mergeCdcTopKSketch(df, df.limit(0), sink,
        Seq("grp"), "v", 0L, k = 5, width = 2048, depth = 3)
      val pool = IncrementalAgg.readState(spark, s"$sink/pool")
      assert(pool.count() <= 20L, "pool must prune to poolFactor*k")
      val cells = IncrementalAgg.readState(spark, s"$sink/cm")
      assert(cells.count() <= 3L * 2048L, "cells bounded by depth*width")
      val top = IncrementalAgg.readTopKSketch(spark, sink, Seq("grp"),
        "v", 5).orderBy("rank").collect()
      assert(top.map(_.getLong(1)).toSeq === Seq(5L, 4L, 3L, 2L, 1L))
      val n = df.count()
      for (r <- top) {
        val v = r.getLong(1); val est = r.getLong(2)
        val truth = 400L + 50L * v
        assert(est >= truth, s"CM estimate must never undercount: $r")
        assert(est - truth <= math.max(1L, (math.E / 2048.0 * n).toLong),
          s"CM estimate outside band: $r (true $truth, n $n)")
      }
    } finally rm(sink)
  }

  test("retraction demotes a touched heavy hitter exactly and the " +
      "replay shield holds") {
    val sink = tmp("graft_tkr")
    try {
      val df = planted
      IncrementalAgg.mergeCdcTopKSketch(df, df.limit(0), sink,
        Seq("grp"), "v", 0L, k = 3)
      // retract most of value 5's mass: 600 of its 650 rows
      val minus = Seq.fill(600)(("g", 5L)).toDF("grp", "v")
      assert(IncrementalAgg.mergeCdcTopKSketch(df.limit(0), minus, sink,
        Seq("grp"), "v", 1L, k = 3))
      val top = IncrementalAgg.readTopKSketch(spark, sink, Seq("grp"),
        "v", 3).orderBy("rank").collect()
      // 5 drops out of the podium (50 rows left); 4, 3, 2 move up
      assert(top.map(_.getLong(1)).toSeq === Seq(4L, 3L, 2L))
      // replay of batch 1: cells and pool must not move
      def mass(child: String) = IncrementalAgg.readState(spark,
        s"$sink/$child").agg(sum("__n")).head().getLong(0)
      val before = (mass("cm"), mass("pool"))
      assert(!IncrementalAgg.mergeCdcTopKSketch(df.limit(0), minus, sink,
        Seq("grp"), "v", 1L, k = 3))
      val after = (mass("cm"), mass("pool"))
      assert(before._1 === after._1, "a replayed batch moved the cells")
      assert(before._2 === after._2, "a replayed batch moved the pool")
    } finally rm(sink)
  }

  test("DYADIC twin finds a hitter promoted PURELY by others' " +
      "retraction — the pooled sketch's documented blind spot") {
    val pooled = tmp("graft_tkd_pool")
    val dyadic = tmp("graft_tkd_dy")
    try {
      // batch 0: A=100, B=90, C=60, D..I tail (6 values, 5 rows each).
      // k=1, poolFactor=2 → the pool caps at 2 and keeps {A, B};
      // C is pruned away.
      def rows(v: Long, n: Int) = Seq.fill(n)(("g", v))
      val b0 = (rows(1L, 100) ++ rows(2L, 90) ++ rows(3L, 60) ++
        (10L to 15L).flatMap(rows(_, 5))).toDF("grp", "v")
      IncrementalAgg.mergeCdcTopKSketch(b0, b0.limit(0), pooled,
        Seq("grp"), "v", 0L, k = 1, poolFactor = 2)
      IncrementalAgg.mergeCdcTopKDyadic(b0, b0.limit(0), dyadic,
        Seq("grp"), "v", 0L)
      // batch 1 touches ONLY A and B: retract A to 10 and B to 5.
      // True top-1 is now C (60) — which batch 1 never mentioned.
      val minus = (rows(1L, 90) ++ rows(2L, 85)).toDF("grp", "v")
      IncrementalAgg.mergeCdcTopKSketch(b0.limit(0), minus, pooled,
        Seq("grp"), "v", 1L, k = 1, poolFactor = 2)
      IncrementalAgg.mergeCdcTopKDyadic(b0.limit(0), minus, dyadic,
        Seq("grp"), "v", 1L)
      // the pooled twin CANNOT see C (pool = {A, B} still) — its
      // documented one-sidedness, constructed exactly
      val pooledTop = IncrementalAgg.readTopKSketch(spark, pooled,
        Seq("grp"), "v", 1).head()
      assert(pooledTop.getLong(1) !== 3L,
        "pooled sketch unexpectedly recovered the untouched hitter " +
          "(fixture no longer exercises the blind spot)")
      // the dyadic twin recovers C from state alone
      val dyTop = IncrementalAgg.readTopKDyadic(spark, dyadic,
        Seq("grp"), "v", 1).head()
      assert(dyTop.getLong(1) === 3L,
        s"dyadic descent missed the promoted hitter: $dyTop")
      assert(dyTop.getLong(2) >= 60L, "CM estimate below the true count")
    } finally { rm(pooled); rm(dyadic) }
  }

  test("dyadic twin: exact ranking on planted hitters (negatives " +
      "included), retraction-exact, replay-shielded, log(U) state") {
    val sink = tmp("graft_tkd_full")
    try {
      // heavy hitters on BOTH signs of the value domain
      val heavy = Seq((-7L, 300), (42L, 250), (1L << 40, 200),
        (-(1L << 33), 150))
      val tail = (100000L to 101000L).map((_, 1))
      val b0 = (heavy ++ tail).flatMap { case (v, n) =>
        Seq.fill(n)(("g", v)) }.toDF("grp", "v")
      IncrementalAgg.mergeCdcTopKDyadic(b0, b0.limit(0), sink,
        Seq("grp"), "v", 0L)
      val cells = IncrementalAgg.readState(spark, s"$sink/dyadic")
      assert(cells.count() <= 16L * 3L * 2048L,
        "state must stay within levels*depth*width")
      val top = IncrementalAgg.readTopKDyadic(spark, sink, Seq("grp"),
        "v", 4).orderBy("rank").collect()
      assert(top.map(_.getLong(1)).toSeq ===
        Seq(-7L, 42L, 1L << 40, -(1L << 33)))
      // retraction demotes exactly: drop -7 to 40 rows
      val minus = Seq.fill(260)(("g", -7L)).toDF("grp", "v")
      assert(IncrementalAgg.mergeCdcTopKDyadic(b0.limit(0), minus, sink,
        Seq("grp"), "v", 1L))
      val top2 = IncrementalAgg.readTopKDyadic(spark, sink, Seq("grp"),
        "v", 3).orderBy("rank").collect()
      assert(top2.map(_.getLong(1)).toSeq ===
        Seq(42L, 1L << 40, -(1L << 33)))
      // replay shield: the same batch id is a no-op
      assert(!IncrementalAgg.mergeCdcTopKDyadic(b0.limit(0), minus, sink,
        Seq("grp"), "v", 1L))
    } finally rm(sink)
  }

  test("ANY-domain twin (strings): finds a hitter promoted purely by " +
      "others' retraction, recovers the VALUE through the live " +
      "dictionary, stays retraction-exact and replay-shielded") {
    val sink = tmp("graft_tka_str")
    try {
      def rows(w: String, n: Int) = Seq.fill(n)(("g", w))
      // the dyadic promotion fixture, stringly: batch 1 touches only
      // alpha and beta; true top-1 becomes gamma, never mentioned
      val b0 = (rows("alpha", 100) ++ rows("beta", 90) ++
        rows("gamma", 60) ++
        (10 to 15).flatMap(i => rows(s"tail$i", 5))).toDF("grp", "w")
      IncrementalAgg.mergeCdcTopKAny(b0, b0.limit(0), sink,
        Seq("grp"), "w", 0L)
      // alpha 100→10, beta 90→8: counts stay SEPARATED from the
      // 5-row tail (an exact tie at the k-th rank resolves in hash
      // order inside the beam — the usual sketch boundary semantics)
      val minus = (rows("alpha", 90) ++ rows("beta", 82)).toDF("grp", "w")
      assert(IncrementalAgg.mergeCdcTopKAny(b0.limit(0), minus, sink,
        Seq("grp"), "w", 1L))
      val top = IncrementalAgg.readTopKAny(spark, sink, Seq("grp"),
        "w", 3).orderBy("rank").collect()
      assert(top.map(_.getString(1)).toSeq ===
        Seq("gamma", "alpha", "beta"),
        s"promoted string hitter missed: ${top.toSeq}")
      assert(top.head.getLong(2) >= 60L,
        "CM estimate below the true count")
      // a value retracted to ZERO drops out of the live dictionary —
      // it can never resurface as a stale recovery
      val killBeta = rows("beta", 8).toDF("grp", "w")
      assert(IncrementalAgg.mergeCdcTopKAny(b0.limit(0), killBeta, sink,
        Seq("grp"), "w", 2L))
      val top2 = IncrementalAgg.readTopKAny(spark, sink, Seq("grp"),
        "w", 10).collect()
      assert(!top2.map(_.getString(1)).contains("beta"),
        s"dead value resurfaced from the dictionary: ${top2.toSeq}")
      // replay shield holds across both folds
      assert(!IncrementalAgg.mergeCdcTopKAny(b0.limit(0), killBeta, sink,
        Seq("grp"), "w", 2L))
    } finally rm(sink)
  }

  test("radix-256 stride: same top-k as radix-16 on both signs, " +
      "state at 8 levels instead of 16 — the halved fold constant") {
    val r16 = tmp("graft_tkd_r16")
    val r256 = tmp("graft_tkd_r256")
    try {
      val heavy = Seq((-7L, 300), (42L, 250), (1L << 40, 200),
        (-(1L << 33), 150))
      val tail = (100000L to 101000L).map((_, 1))
      val b0 = (heavy ++ tail).flatMap { case (v, n) =>
        Seq.fill(n)(("g", v)) }.toDF("grp", "v")
      IncrementalAgg.mergeCdcTopKDyadic(b0, b0.limit(0), r16,
        Seq("grp"), "v", 0L, radixBits = 4)
      IncrementalAgg.mergeCdcTopKDyadic(b0, b0.limit(0), r256,
        Seq("grp"), "v", 0L, radixBits = 8)
      val lv16 = IncrementalAgg.readState(spark, s"$r16/dyadic")
        .select("__lvl").distinct().count()
      val lv256 = IncrementalAgg.readState(spark, s"$r256/dyadic")
        .select("__lvl").distinct().count()
      assert(lv16 == 16L && lv256 == 8L,
        s"level counts: radix16=$lv16 radix256=$lv256")
      val t16 = IncrementalAgg.readTopKDyadic(spark, r16, Seq("grp"),
        "v", 4, radixBits = 4).orderBy("rank").collect()
      val t256 = IncrementalAgg.readTopKDyadic(spark, r256, Seq("grp"),
        "v", 4, radixBits = 8).orderBy("rank").collect()
      assert(t16.map(_.getLong(1)).toSeq === t256.map(_.getLong(1)).toSeq,
        s"radix strides disagree: ${t16.toSeq} vs ${t256.toSeq}")
      assert(t256.map(_.getLong(1)).toSeq ===
        Seq(-7L, 42L, 1L << 40, -(1L << 33)))
    } finally { rm(r16); rm(r256) }
  }
}
