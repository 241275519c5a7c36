package graft

import graft.operators.{AtomicIncrement, IncrementalAgg}
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** Incrementally-maintained rollup: batch folds converge to the
  * full-history aggregate, replays are no-ops, and a crash between
  * stage and publish leaves the old state visible with a convergent
  * re-run.
  */
class IncrementalAggSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(): String =
    Files.createTempDirectory("graft_incragg_spec").resolve("state").toString

  private val keys = Seq("g")
  private val sums = Seq("x")

  private def rows(r: Range) = r.map(i => (i.toLong, s"g${i % 3}", i * 1.5))
    .toDF("ts", "g", "x")

  private def state(sink: String) =
    IncrementalAgg.readState(spark, sink)
      .select("g", "__n", "sum_x")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
      .sortBy(_._1).toSeq

  test("three folds equal the one-pass aggregate; replay is a no-op") {
    val sink = tmp()
    assert(IncrementalAgg.mergeBatch(rows(1 to 40), sink, keys, sums, "ts") == 40)
    assert(IncrementalAgg.mergeBatch(rows(41 to 70), sink, keys, sums, "ts") == 30)
    assert(IncrementalAgg.mergeBatch(rows(71 to 100), sink, keys, sums, "ts") == 30)
    val direct = rows(1 to 100).groupBy("g")
      .agg(count(lit(1)).as("n"), sum("x").as("s"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
      .sortBy(_._1).toSeq
    val folded = state(sink)
    assert(folded.map(t => (t._1, t._2)) == direct.map(t => (t._1, t._2)))
    for ((f, d) <- folded.zip(direct))
      assert(math.abs(f._3 - d._3) < 1e-9, s"sum drift: $f vs $d")
    // replaying an already-folded batch publishes nothing
    val before = graft.operators.AtomicIncrement.snapshot(spark, sink)._1
    assert(IncrementalAgg.mergeBatch(rows(41 to 70), sink, keys, sums, "ts") == 0)
    assert(graft.operators.AtomicIncrement.snapshot(spark, sink)._1 == before)
  }

  test("crash between stage and publish: old state visible, re-run converges") {
    val sink = tmp()
    IncrementalAgg.mergeBatch(rows(1 to 30), sink, keys, sums, "ts")
    val old = state(sink)
    val boom = new RuntimeException("crash before publish")
    val thrown = intercept[RuntimeException] {
      graft.operators.Txn.racing(throw boom) {
        IncrementalAgg.mergeBatch(rows(31 to 60), sink, keys, sums, "ts")
      }
    }
    assert(thrown eq boom)
    // a reader at this instant sees exactly the pre-crash state
    assert(state(sink) == old)
    // the re-run folds the same batch off the committed watermark
    assert(IncrementalAgg.mergeBatch(rows(31 to 60), sink, keys, sums, "ts") == 30)
    val direct = rows(1 to 60).groupBy("g")
      .agg(count(lit(1)).as("n")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(state(sink).map(t => t._1 -> t._2).toMap == direct)
  }

  test("out-of-order (below-watermark) rows are dropped, not double-counted") {
    val sink = tmp()
    IncrementalAgg.mergeBatch(rows(1 to 50), sink, keys, sums, "ts")
    // a batch straddling the watermark folds only its fresh suffix
    assert(IncrementalAgg.mergeBatch(rows(40 to 80), sink, keys, sums, "ts") == 30)
    val total = IncrementalAgg.readState(spark, sink)
      .agg(sum("__n")).head().getLong(0)
    assert(total == 80)
  }

  test("CDC retraction fold: updates move a group by the before/after " +
      "delta, a fully-retracted group vanishes (matching a rescan), a " +
      "replayed batch no-ops") {
    val sink = tmp()
    // init: batch 0 adds everything (the minus side is empty)
    assert(IncrementalAgg.mergeCdcBatch(rows(1 to 30), rows(1 to 0),
      sink, keys, sums, 0L))
    // change batch 1: re-state rows 1..6 with x doubled (retract the
    // before-images, add the after-images) and DELETE the g2 rows NOT
    // being re-stated — each standing row retracts exactly once (the
    // mergeCdcBatch contract; a CDC resolve guarantees it upstream)
    val before = rows(1 to 6)
    val after = rows(1 to 6).withColumn("x", col("x") * 2)
    val g2Del = rows(1 to 30).filter(col("g") === "g2" && col("ts") > 6)
    assert(IncrementalAgg.mergeCdcBatch(after,
      before.unionByName(g2Del), sink, keys, sums, 1L))
    // reference: a one-pass rescan of the mutated table — rows 2 and 5
    // are g2 AND re-stated, so g2 survives with exactly those two rows
    val mutated = rows(1 to 30)
      .join(rows(1 to 6).select(col("ts").as("__u")),
        col("ts") === col("__u"), "left_anti")
      .filter(!(col("g") === "g2" && col("ts") > 6))
      .unionByName(after)
    val direct = mutated.groupBy("g")
      .agg(count(lit(1)).as("n"), sum("x").as("sx")).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
      .sortBy(_._1).toSeq
    assert(state(sink) == direct, s"retraction fold diverged: " +
      s"${state(sink)} vs $direct")
    // replay of batch 1 must not re-apply
    assert(!IncrementalAgg.mergeCdcBatch(after,
      before.unionByName(g2Del), sink, keys, sums, 1L))
    assert(state(sink) == direct)
    // batch 2 retracts EVERYTHING still standing in g1: the group
    // leaves the state, exactly as a rescan of the remnant would show
    val g1Now = mutated.filter(col("g") === "g1")
    assert(IncrementalAgg.mergeCdcBatch(rows(1 to 0), g1Now,
      sink, keys, sums, 2L))
    assert(!state(sink).exists(_._1 == "g1"),
      "fully-retracted group survived in the state")
  }

  test("CDC fold composes with mergeAtomic's delta frames: maintaining " +
      "the rollup from a table merge equals re-aggregating the table") {
    import graft.operators.AtomicIncrement
    val tableSink = tmp()
    val stateSink = tmp()
    // the table loads range-clustered on ts; the rollup initializes
    // from the same load
    AtomicIncrement.appendIncrementAtomic(
      rows(1 to 15).repartition(1), tableSink, "ts")
    AtomicIncrement.appendIncrementAtomic(
      rows(16 to 30).repartition(1), tableSink, "ts")
    IncrementalAgg.mergeCdcBatch(rows(1 to 30), rows(1 to 0),
      stateSink, keys, sums, 0L)
    // one change batch through the table: update 20, delete 25
    val changes = Seq((20L, "gX", 999.0, false), (25L, "", 0.0, true))
      .toDF("ts", "g", "x", "del")
    val res = AtomicIncrement.mergeAtomic(changes, tableSink, "ts", "del")
    assert(res.carried == 1 && res.rewritten == 1, s"pruning broke: $res")
    // fold EXACTLY the frames the merge handed back
    IncrementalAgg.mergeCdcBatch(res.upserts, res.beforeImages,
      stateSink, keys, sums, 1L)
    val direct = AtomicIncrement.readCommitted(spark, tableSink)
      .groupBy("g").agg(count(lit(1)).as("n"), sum("x").as("sx"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
      .sortBy(_._1).toSeq
    assert(state(stateSink) == direct,
      s"maintained rollup diverged from the merged table: " +
        s"${state(stateSink)} vs $direct")
  }

  /** Names of the data files the queries `body` runs read, from a
    * listener registered for this call only; a marker query drains the
    * bus, which delivers in order. */
  private def filesReadBy(body: => Unit): Set[String] = {
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    val files = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    val drained = new java.util.concurrent.CountDownLatch(1)
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        if (qe.analyzed.output.map(_.name) == Seq("files_read_marker"))
          drained.countDown()
        else qe.analyzed.foreach {
          case l: LogicalRelation => l.relation match {
            case h: HadoopFsRelation => h.location.inputFiles
              .foreach(f => files.add(new org.apache.hadoop.fs.Path(f).getName))
            case _ => ()
          }
          case _ => ()
        }
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      body
      spark.range(1).toDF("files_read_marker").collect()
      assert(drained.await(60, java.util.concurrent.TimeUnit.SECONDS),
        "listener bus never drained")
    } finally spark.listenerManager.unregister(listener)
    files.toArray(Array.empty[String]).toSet
  }

  test("the retractable rollup fold is state-sized: folding a merge's " +
      "delta frames opens none of the files the merge carried, and " +
      "stages |groups| rows whether the table holds 1x or 4x the rows " +
      "at the same churn") {
    import graft.operators.AtomicIncrement
    def foldAt(scale: Int): (Int, Long) = {
      val tableSink = tmp()
      val stateSink = tmp()
      val n = 30 * scale
      (1 to n by 15).foreach(lo => AtomicIncrement.appendIncrementAtomic(
        rows(lo until lo + 15).repartition(1), tableSink, "ts"))
      IncrementalAgg.mergeCdcBatch(rows(1 to n), rows(1 to 0),
        stateSink, keys, sums, 0L)
      def names(sink: String) = AtomicIncrement.committedFiles(spark, sink)
        .map(p => new org.apache.hadoop.fs.Path(p).getName).toSet
      val before = names(tableSink)
      // the same churn at every scale: update 20, delete 25
      val changes = Seq((20L, "gX", 999.0, false), (25L, "", 0.0, true))
        .toDF("ts", "g", "x", "del")
      val res = AtomicIncrement.mergeAtomic(changes, tableSink, "ts", "del")
      val carried = before.intersect(names(tableSink))
      assert(carried.size == 2 * scale - 1, s"pruning broke: $res")
      val opened = filesReadBy(IncrementalAgg.mergeCdcBatch(res.upserts,
        res.beforeImages, stateSink, keys, sums, 1L))
      assert(opened.intersect(carried).isEmpty,
        s"the fold rescanned carried table files: ${opened.intersect(carried)}")
      val stagedRows = AtomicIncrement.snapshotSplit(spark, stateSink)._2
        .flatMap(_.statsFor(AtomicIncrement.RowsCol)).map(_.min.toLong).sum
      assert(stagedRows == IncrementalAgg.readState(spark, stateSink).count())
      (opened.size, stagedRows)
    }
    val (opened1, staged1) = foldAt(1)
    val (opened4, staged4) = foldAt(4)
    // the churn-touched files only: the before-image file and the
    // after-images the merge staged, at either scale
    assert(opened1 == opened4 && opened1 >= 2, s"$opened1 vs $opened4")
    // g0, g1, g2 and the update's gX
    assert(staged1 == 4 && staged4 == 4, s"$staged1 vs $staged4")
  }

  test("CDC fold keeps integer sums INTEGRAL (LongType, exact) — " +
      "parity with mergeBatch's native long sums, no float drift") {
    val sink = tmp()
    def intRows(r: Range) = r.map(i => (i.toLong, s"g${i % 2}", i.toLong))
      .toDF("ts", "g", "cnt")
    assert(IncrementalAgg.mergeCdcBatch(intRows(1 to 20), intRows(1 to 0),
      sink, keys, Seq("cnt"), 0L))
    val st0 = IncrementalAgg.readState(spark, sink)
    assert(st0.schema("sum_cnt").dataType ==
      org.apache.spark.sql.types.LongType,
      s"integer sum widened: ${st0.schema("sum_cnt").dataType}")
    // retract 1..4, re-state with cnt+1000 — both signed halves run
    // the long algebra; the result is exact long arithmetic
    assert(IncrementalAgg.mergeCdcBatch(
      intRows(1 to 4).withColumn("cnt", col("cnt") + 1000L),
      intRows(1 to 4), sink, keys, Seq("cnt"), 1L))
    val got = IncrementalAgg.readState(spark, sink)
      .select("g", "__n", "sum_cnt")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .sortBy(_._1).toSeq
    val direct = intRows(1 to 20)
      .join(intRows(1 to 4).select(col("ts").as("__u")),
        col("ts") === col("__u"), "left_anti")
      .unionByName(intRows(1 to 4).withColumn("cnt", col("cnt") + 1000L))
      .groupBy("g").agg(count(lit(1)).as("n"), sum("cnt").as("s"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .sortBy(_._1).toSeq
    assert(got == direct, s"long CDC fold diverged: $got vs $direct")
  }

  test("CDC fold retracts Int.MinValue exactly: narrow sums widen to " +
      "long before the sign, with ANSI on and off") {
    import org.apache.spark.sql.types.IntegerType
    def intRows(vs: Seq[Int]) = vs.map(v => ("g", v)).toDF("g", "v")
      .select(col("g"), col("v").cast(IntegerType))
    val ansi = "spark.sql.ansi.enabled"
    val prior = spark.conf.get(ansi)
    try for (mode <- Seq("true", "false")) {
      spark.conf.set(ansi, mode)
      val sink = tmp()
      assert(IncrementalAgg.mergeCdcBatch(
        intRows(Seq(Int.MinValue, 1, 2)), intRows(Seq(Int.MinValue)),
        sink, Seq("g"), Seq("v"), 0L))
      val got = IncrementalAgg.readState(spark, sink)
        .select("__n", "sum_v").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSeq
      assert(got == Seq((2L, 3L)), s"ansi=$mode: $got")
    } finally spark.conf.set(ansi, prior)
  }

  test("CDC fold retracting Long.MinValue fails before the manifest " +
      "moves and leaves no staged batch behind") {
    val sink = tmp()
    def longRows(vs: Seq[Long]) = vs.map(v => ("g", v)).toDF("g", "v")
    assert(IncrementalAgg.mergeCdcBatch(longRows(Seq(5L)),
      longRows(Nil), sink, Seq("g"), Seq("v"), 0L))
    val v0 = graft.operators.AtomicIncrement.snapshot(spark, sink)._1
    val before = IncrementalAgg.readState(spark, sink).collect().toSeq
    val ex = intercept[Exception] {
      IncrementalAgg.mergeCdcBatch(longRows(Seq(Long.MinValue, 1L, 2L)),
        longRows(Seq(Long.MinValue)), sink, Seq("g"), Seq("v"), 1L)
    }
    def chain(t: Throwable): Seq[Throwable] =
      Option(t).toSeq.flatMap(x => x +: chain(x.getCause))
    assert(chain(ex).exists(_.isInstanceOf[ArithmeticException]), ex)
    assert(graft.operators.AtomicIncrement.snapshot(spark, sink)._1 == v0)
    assert(IncrementalAgg.readState(spark, sink).collect().toSeq == before)
    val dataDir = new org.apache.hadoop.fs.Path(s"$sink/_data")
    val dirs = dataDir.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .listStatus(dataDir).map(_.getPath.getName).toSet
    val live = graft.operators.AtomicIncrement.committedFiles(spark, sink)
      .map(_.split("/")(1)).toSet
    assert(dirs == live, s"the failed fold left a staged batch: $dirs")
  }

  test("inParallel2: when both legs throw, the caller gets leg A's " +
      "error with leg B's attached as suppressed") {
    val ea = new RuntimeException("leg A")
    val eb = new IllegalStateException("leg B")
    val thrown = intercept[RuntimeException] {
      IncrementalAgg.inParallel2[Unit, Unit](throw ea, throw eb)
    }
    assert(thrown eq ea)
    assert(thrown.getSuppressed.toSeq == Seq(eb))
  }

  private def extState(sink: String) =
    IncrementalAgg.readState(spark, sink)
      .select("g", "__n", "sum_x", "min_x", "max_x")
      .collect().map(r => (r.getString(0), r.getLong(1),
        r.getDouble(2), r.getDouble(3), r.getDouble(4)))
      .sortBy(_._1).toSeq

  test("CDC extremes fold: retracting a group's current min/max " +
      "re-derives them from the CHURNED group's survivors only — the " +
      "untouched group's extremes carry from state (its rows are " +
      "deliberately absent from churnedRows); a vanished group leaves; " +
      "a new group arrives through the delta; replay no-ops") {
    val sink = tmp()
    val base = Seq((1L, "a", 5.0), (2L, "a", 1.0), (3L, "a", 9.0),
      (4L, "b", 4.0), (5L, "b", 8.0)).toDF("ts", "g", "x")
    assert(IncrementalAgg.mergeCdcExtremes(base, base.limit(0), base,
      sink, keys, sums, Seq("x"), 0L))
    assert(extState(sink) == Seq(("a", 3L, 15.0, 1.0, 9.0),
      ("b", 2L, 12.0, 4.0, 8.0)))
    // batch 1 deletes a's min AND max rows; churnedRows carries ONLY
    // a's survivor — if the fold rescanned untouched groups it would
    // see no b rows here and corrupt (or loudly drop) b's extremes
    val minus = base.filter(col("ts").isin(2L, 3L))
    val churnedRows = Seq((1L, "a", 5.0)).toDF("ts", "g", "x")
    assert(IncrementalAgg.mergeCdcExtremes(base.limit(0), minus,
      churnedRows, sink, keys, sums, Seq("x"), 1L))
    val after1 = Seq(("a", 1L, 5.0, 5.0, 5.0), ("b", 2L, 12.0, 4.0, 8.0))
    assert(extState(sink) == after1,
      s"extremes fold diverged: ${extState(sink)}")
    // replay shield: the same batch id moves nothing
    assert(!IncrementalAgg.mergeCdcExtremes(base.limit(0), minus,
      churnedRows, sink, keys, sums, Seq("x"), 1L))
    assert(extState(sink) == after1)
    // batch 2: a fully retracts (leaves the state); c arrives new
    val minus2 = Seq((1L, "a", 5.0)).toDF("ts", "g", "x")
    val plus2 = Seq((6L, "c", 7.0)).toDF("ts", "g", "x")
    assert(IncrementalAgg.mergeCdcExtremes(plus2, minus2, plus2,
      sink, keys, sums, Seq("x"), 2L))
    assert(extState(sink) == Seq(("b", 2L, 12.0, 4.0, 8.0),
      ("c", 1L, 7.0, 7.0, 7.0)))
  }

  test("CDC extremes fold fails LOUDLY when churnedRows under-covers " +
      "a churned group that still has rows — silence would publish " +
      "stale or missing extremes") {
    val sink = tmp()
    val base = Seq((1L, "a", 5.0), (2L, "a", 1.0)).toDF("ts", "g", "x")
    assert(IncrementalAgg.mergeCdcExtremes(base, base.limit(0), base,
      sink, keys, sums, Seq("x"), 0L))
    val minus = base.filter(col("ts") === 2L)
    val thrown = intercept[IllegalArgumentException] {
      IncrementalAgg.mergeCdcExtremes(base.limit(0), minus,
        base.limit(0), sink, keys, sums, Seq("x"), 1L)
    }
    assert(thrown.getMessage.contains("under-covers"))
    // nothing published: the state is still the bootstrap
    assert(extState(sink) == Seq(("a", 2L, 6.0, 1.0, 5.0)))
  }

  test("CDC extremes fold keeps native dtypes: long sums stay " +
      "LongType, long extremes stay LongType") {
    val sink = tmp()
    val base = Seq((1L, "a", 10L), (2L, "a", 3L)).toDF("ts", "g", "c")
    assert(IncrementalAgg.mergeCdcExtremes(base, base.limit(0), base,
      sink, keys, Seq("c"), Seq("c"), 0L))
    val st = IncrementalAgg.readState(spark, sink)
    import org.apache.spark.sql.types.LongType
    for (c <- Seq("sum_c", "min_c", "max_c"))
      assert(st.schema(c).dataType == LongType,
        s"$c widened: ${st.schema(c).dataType}")
    assert(st.select("g", "__n", "sum_c", "min_c", "max_c").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSeq == Seq(("a", 2L, 13L, 3L, 10L)))
  }

  test("CDC distinct: one multiplicity row per (group, value) pair — " +
      "a retraction decrements, the pair leaves at zero (the distinct " +
      "count drops exactly then, not at the first delete), and the " +
      "maintained count always equals a rescan's COUNT(DISTINCT)") {
    val sink = tmp()
    val base = Seq(("a", 1L), ("a", 1L), ("a", 2L), ("b", 1L))
      .toDF("g", "v")
    def empty = base.limit(0)
    def distinctNow = IncrementalAgg.readDistinct(spark, sink, keys, "v")
      .collect().map(r => r.getString(0) -> r.getLong(1)).sortBy(_._1).toSeq
    assert(IncrementalAgg.mergeCdcDistinct(base, empty, sink, keys, "v", 0L))
    assert(distinctNow == Seq("a" -> 2L, "b" -> 1L))
    // first (a,1) delete: multiplicity 2 → 1, distinct count UNCHANGED
    val one = Seq(("a", 1L)).toDF("g", "v")
    assert(IncrementalAgg.mergeCdcDistinct(empty, one, sink, keys, "v", 1L))
    assert(distinctNow == Seq("a" -> 2L, "b" -> 1L))
    // second (a,1) delete: the pair's last occurrence — NOW it drops
    assert(IncrementalAgg.mergeCdcDistinct(empty, one, sink, keys, "v", 2L))
    assert(distinctNow == Seq("a" -> 1L, "b" -> 1L))
    // replay of batch 2 no-ops
    assert(!IncrementalAgg.mergeCdcDistinct(empty, one, sink, keys, "v", 2L))
    assert(distinctNow == Seq("a" -> 1L, "b" -> 1L))
    // b's only row retracts: the whole group leaves the distinct view
    assert(IncrementalAgg.mergeCdcDistinct(empty,
      Seq(("b", 1L)).toDF("g", "v"), sink, keys, "v", 3L))
    assert(distinctNow == Seq("a" -> 1L))
  }

  test("syncRollup: the state pulls the table's change feed by " +
      "VERSION — bootstrap, multi-commit catch-up in one pull (append " +
      "+ copy-on-write merge), idempotent re-sync — and always equals " +
      "the one-pass re-aggregation") {
    import graft.operators.AtomicIncrement
    val tableSink = tmp()
    val stateSink = tmp()
    for (r <- Seq(1L to 15L, 16L to 30L))
      AtomicIncrement.appendIncrementAtomic(
        rows(r.head.toInt to r.last.toInt).repartition(1), tableSink, "ts")
    // bootstrap: two versions fold in one pull
    assert(IncrementalAgg.syncRollup(spark, tableSink, stateSink,
      keys, sums) == 2L)
    def direct = AtomicIncrement.readCommitted(spark, tableSink)
      .groupBy("g").agg(count(lit(1)).as("n"), sum("x").as("s"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
      .sortBy(_._1).toSeq
    assert(state(stateSink) == direct)
    // catch-up across an append AND a copy-on-write merge, one pull
    AtomicIncrement.appendIncrementAtomic(
      rows(31 to 40).repartition(1), tableSink, "ts")
    AtomicIncrement.mergeAtomic(
      Seq((20L, "gX", 999.0, false), (25L, "", 0.0, true))
        .toDF("ts", "g", "x", "del"), tableSink, "ts", "del")
    assert(IncrementalAgg.syncRollup(spark, tableSink, stateSink,
      keys, sums) == 2L)
    assert(state(stateSink) == direct,
      s"synced state diverged: ${state(stateSink)} vs $direct")
    // nothing new: version-compare no-op
    assert(IncrementalAgg.syncRollup(spark, tableSink, stateSink,
      keys, sums) == 0L)
    assert(state(stateSink) == direct)
  }

  test("syncExtremes: the min/max rollup self-syncs off the feed by " +
      "table version — the deleted argmax re-derives from the group " +
      "locality, catch-up and the no-op re-sync hold") {
    import graft.operators.AtomicIncrement
    val tableSink = tmp()
    val stateSink = tmp()
    def gRows(r: Range, g: String) =
      r.map(i => (i.toLong, g, i * 1.0)).toDF("ts", "g", "x")
    AtomicIncrement.appendIncrementAtomic(
      gRows(1 to 10, "g0").repartition(1), tableSink, "ts",
      extraStatsCols = Seq("g"))
    AtomicIncrement.appendIncrementAtomic(
      gRows(11 to 20, "g1").repartition(1), tableSink, "ts",
      extraStatsCols = Seq("g"))
    assert(IncrementalAgg.syncExtremes(spark, tableSink, stateSink,
      keys, sums, Seq("x")) == 2L)
    def direct = AtomicIncrement.readCommitted(spark, tableSink)
      .groupBy("g").agg(count(lit(1)).as("n"), sum("x").as("s"),
        min("x").as("mn"), max("x").as("mx"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2),
        r.getDouble(3), r.getDouble(4))).sortBy(_._1).toSeq
    assert(extState(stateSink) == direct)
    // delete g1's max through the table: the synced state must
    // re-derive g1's max from the survivors, g0 carries from state
    AtomicIncrement.mergeAtomic(
      Seq((20L, "g1", 20.0, true)).toDF("ts", "g", "x", "del"),
      tableSink, "ts", "del")
    assert(IncrementalAgg.syncExtremes(spark, tableSink, stateSink,
      keys, sums, Seq("x")) == 1L)
    assert(extState(stateSink) == direct,
      s"synced extremes diverged: ${extState(stateSink)} vs $direct")
    assert(extState(stateSink).find(_._1 == "g1").exists(_._5 == 19.0))
    assert(IncrementalAgg.syncExtremes(spark, tableSink, stateSink,
      keys, sums, Seq("x")) == 0L)
  }

  test("CDC extremes compose with mergeAtomic + the GROUP-column " +
      "locality read: the rollup's rescan opens only the churned " +
      "groups' files on a group-clustered table") {
    import graft.operators.AtomicIncrement
    val tableSink = tmp()
    val stateSink = tmp()
    // table clustered by GROUP: one file per g-range, stats on g too
    def gRows(r: Range, g: String) =
      r.map(i => (i.toLong, g, i * 1.0)).toDF("ts", "g", "x")
    AtomicIncrement.appendIncrementAtomic(
      gRows(1 to 10, "g0").repartition(1), tableSink, "ts",
      extraStatsCols = Seq("g"))
    AtomicIncrement.appendIncrementAtomic(
      gRows(11 to 20, "g1").repartition(1), tableSink, "ts",
      extraStatsCols = Seq("g"))
    val load = gRows(1 to 10, "g0").unionByName(gRows(11 to 20, "g1"))
    assert(IncrementalAgg.mergeCdcExtremes(load, load.limit(0), load,
      stateSink, keys, sums, Seq("x"), 0L))
    // change: delete g1's max row (ts=20) — churned group is g1 only
    val changes = Seq((20L, "g1", 20.0, true)).toDF("ts", "g", "x", "del")
    val res = AtomicIncrement.mergeAtomic(changes, tableSink, "ts", "del")
    assert(res.carried == 1 && res.rewritten == 1, s"merge pruning: $res")
    // the GROUP locality read: only g1's file(s) open for the rescan
    val churnedGroups = Seq("g1")
    val locality = AtomicIncrement.readKeyedMayContainStr(
      spark, tableSink, "g", churnedGroups)
    assert(locality.inputFiles.length <
      AtomicIncrement.committedFiles(spark, tableSink).size,
      "group locality read did not prune")
    assert(IncrementalAgg.mergeCdcExtremes(res.upserts, res.beforeImages,
      locality, stateSink, keys, sums, Seq("x"), 1L))
    val direct = AtomicIncrement.readCommitted(spark, tableSink)
      .groupBy("g").agg(count(lit(1)).as("n"), sum("x").as("s"),
        min("x").as("mn"), max("x").as("mx"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2),
        r.getDouble(3), r.getDouble(4))).sortBy(_._1).toSeq
    assert(extState(stateSink) == direct,
      s"maintained extremes diverged: ${extState(stateSink)} vs $direct")
  }

  test("syncExtremes with a COMPOSITE group key (round 14): correct " +
      "through a merge window, and the rescan rides the intersected " +
      "group locality instead of a full-table read") {
    import graft.operators.AtomicIncrement
    val tableSink = tmp()
    val stateSink = tmp()
    // three range-loaded files, BOTH group columns in the manifest
    for (r <- 0L to 2L)
      AtomicIncrement.appendIncrementAtomic(
        (r * 10 + 1 to r * 10 + 10)
          .map(i => (i, i, i * 2, i * 1.0))
          .toDF("k", "g1", "g2", "x").repartition(1),
        tableSink, "k", extraStatsCols = Seq("g1", "g2"))
    val keys2 = Seq("g1", "g2")
    assert(IncrementalAgg.syncExtremes(spark, tableSink, stateSink,
      keys2, Seq("x"), Seq("x")) == 3)
    // churn confined to the third file: delete the group's only row
    // for one key, update another — extremes must re-derive
    AtomicIncrement.mergeAtomic(
      Seq((25L, 25L, 50L, 990.0, false), (27L, 27L, 54L, 0.0, true))
        .toDF("k", "g1", "g2", "x", "del"),
      tableSink, "k", "del")
    assert(IncrementalAgg.syncExtremes(spark, tableSink, stateSink,
      keys2, Seq("x"), Seq("x")) == 1)
    val direct = AtomicIncrement.readCommitted(spark, tableSink)
      .groupBy("g1", "g2").agg(count(lit(1)).as("n"), sum("x").as("s"),
        min("x").as("mn"), max("x").as("mx"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getDouble(4), r.getDouble(5)))
      .sortBy(t => (t._1, t._2)).toSeq
    val folded = IncrementalAgg.readState(spark, stateSink)
      .select("g1", "g2", "__n", "sum_x", "min_x", "max_x")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getDouble(4), r.getDouble(5)))
      .sortBy(t => (t._1, t._2)).toSeq
    assert(folded == direct,
      s"composite-group sync diverged: ${folded.take(4)} vs ${direct.take(4)}")
    // the locality claim itself: a churn confined to one file's tuple
    // space opens fewer files than the committed snapshot
    val plus = Seq((25L, 50L)).toDF("g1", "g2")
    val local = AtomicIncrement.readGroupLocality(spark, tableSink,
      keys2, Seq(plus, plus.limit(0)))
    assert(local.inputFiles.length <
      AtomicIncrement.committedFiles(spark, tableSink).size,
      "composite-group rescan still reads the whole table")
  }

  test("CDC distinct APPROX (round 14): the deletion-capable linear-" +
      "counting sketch tracks the exact path within its error band, " +
      "buckets leave at zero on full retraction, and state is bounded " +
      "at m however many values arrive") {
    val exactSink = tmp()
    val sketchSink = tmp()
    val m = 1 << 12
    def feed(r: Range, g: String) =
      r.map(i => (g, i.toLong)).toDF("g", "v")
    // bootstrap: 600 distinct values in gA, 40 in gB
    val p0 = feed(1 to 600, "gA").unionByName(feed(1 to 40, "gB"))
    IncrementalAgg.mergeCdcDistinct(p0, p0.limit(0), exactSink,
      Seq("g"), "v", 0L)
    IncrementalAgg.mergeCdcDistinctApprox(p0, p0.limit(0), sketchSink,
      Seq("g"), "v", 0L, m)
    // churn: retract 100 of gA's values (one of them twice-inserted
    // first, so multiplicity must survive one retraction), delete ALL
    // of gB, add a new group
    val dup = feed(50 to 50, "gA") // second copy of value 50
    IncrementalAgg.mergeCdcDistinct(dup, dup.limit(0), exactSink,
      Seq("g"), "v", 1L)
    IncrementalAgg.mergeCdcDistinctApprox(dup, dup.limit(0), sketchSink,
      Seq("g"), "v", 1L, m)
    val minus = feed(1 to 100, "gA").unionByName(feed(1 to 40, "gB"))
    val plus = feed(1 to 25, "gC")
    IncrementalAgg.mergeCdcDistinct(plus, minus, exactSink,
      Seq("g"), "v", 2L)
    IncrementalAgg.mergeCdcDistinctApprox(plus, minus, sketchSink,
      Seq("g"), "v", 2L, m)
    val exact = IncrementalAgg.readDistinct(spark, exactSink,
      Seq("g"), "v").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // values 1..100 retract once each, but 50 was at multiplicity 2,
    // so it survives: 600 − 99 = 501 distinct remain in gA
    assert(exact == Map("gA" -> 501L, "gC" -> 25L),
      s"exact path wrong: $exact")
    val est = IncrementalAgg.readDistinctApprox(spark, sketchSink,
      Seq("g"), m).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // gB left the sketch entirely — its last retraction zeroed every
    // bucket (a bucket surviving would leave a phantom group)
    assert(est.keySet == Set("gA", "gC"),
      s"fully-retracted group still in the sketch: $est")
    for ((g, d) <- exact) {
      val e = est(g)
      assert(math.abs(e - d) <= math.max(1L, (d * 0.05).toLong),
        s"sketch out of band for $g: est $e vs exact $d")
    }
    // state boundedness: occupied buckets ≤ min(D, m) per group
    val stateRows = IncrementalAgg.readState(spark, sketchSink)
      .groupBy("g").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(stateRows.values.forall(_ <= m))
    assert(stateRows("gA") <= 501L && stateRows("gC") <= 25L)
  }

  test("readTopK (round 14): the pair state ranks heavy hitters " +
      "exactly under retraction, with the deterministic tie-break") {
    val sink = tmp()
    // gA: v1×5, v2×3, v3×3, v4×1 — v2/v3 tie broken by value asc
    val boot = (Seq.fill(5)("v1") ++ Seq.fill(3)("v2") ++
      Seq.fill(3)("v3") ++ Seq("v4")).map(("gA", _)).toDF("g", "v")
    assert(IncrementalAgg.mergeCdcDistinct(boot, boot.limit(0), sink,
      Seq("g"), "v", 0L))
    def top(k: Int): Seq[(String, Long, Int)] =
      IncrementalAgg.readTopK(spark, sink, Seq("g"), "v", k)
        .select("v", "cnt", "rank")
        .collect().map(r => (r.getString(0), r.getLong(1), r.getInt(2)))
        .sortBy(_._3).toSeq
    assert(top(3) == Seq(("v1", 5L, 1), ("v2", 3L, 2), ("v3", 3L, 3)))
    // retract three v1s: v1 drops to rank 3 (tie with v3 broken asc)
    val minus = Seq.fill(3)(("gA", "v1")).toDF("g", "v")
    assert(IncrementalAgg.mergeCdcDistinct(minus.limit(0), minus, sink,
      Seq("g"), "v", 1L))
    assert(top(3) == Seq(("v2", 3L, 1), ("v3", 3L, 2), ("v1", 2L, 3)))
    // retract the rest of v1: it leaves the ranking entirely
    val minus2 = Seq.fill(2)(("gA", "v1")).toDF("g", "v")
    assert(IncrementalAgg.mergeCdcDistinct(minus2.limit(0), minus2, sink,
      Seq("g"), "v", 2L))
    assert(top(4) == Seq(("v2", 3L, 1), ("v3", 3L, 2), ("v4", 1L, 3)))
  }

  test("CDC quantile (round 14): histogram state retracts exactly, " +
      "estimates stay within one bin of the rank statistic, clamps " +
      "catch out-of-domain values, state is bucket-bounded") {
    val sink = tmp()
    val (lo, hi, bins) = (0.0, 100.0, 100) // w = 1
    // gA: uniform 1..80; gB: constant 5s — then retract gA's top half
    val boot = ((1 to 80).map(v => ("gA", v.toDouble)) ++
      (1 to 10).map(_ => ("gB", 5.0))).toDF("g", "v")
    assert(IncrementalAgg.mergeCdcQuantile(boot, boot.limit(0), sink,
      Seq("g"), "v", lo, hi, bins, 0L))
    def q50(g: String): (Long, Double) = {
      val r = IncrementalAgg.readQuantile(spark, sink, Seq("g"),
        0.5, lo, hi, bins).filter(col("g") === g).head()
      (r.getLong(1), r.getDouble(2))
    }
    val (n0, e0) = q50("gA")
    assert(n0 == 80L && math.abs(e0 - 40.0) <= 1.0, s"gA p50: $e0")
    val (nb, eb) = q50("gB")
    assert(nb == 10L && math.abs(eb - 5.0) <= 1.0, s"gB p50: $eb")
    // retract 41..80: the median must MOVE DOWN to ~20 — the exact
    // retraction a deletion-less sketch cannot perform
    val minus = (41 to 80).map(v => ("gA", v.toDouble)).toDF("g", "v")
    assert(IncrementalAgg.mergeCdcQuantile(minus.limit(0), minus, sink,
      Seq("g"), "v", lo, hi, bins, 1L))
    val (n1, e1) = q50("gA")
    assert(n1 == 40L && math.abs(e1 - 20.0) <= 1.0, s"post-retract: $e1")
    // replay shield: batch 1 again is a no-op
    assert(!IncrementalAgg.mergeCdcQuantile(minus.limit(0), minus, sink,
      Seq("g"), "v", lo, hi, bins, 1L))
    // out-of-domain values clamp into edge bins (count right, rank
    // right at the probed quantile), and NULLs are ignored
    val odd = Seq(("gC", Some(-50.0)), ("gC", Some(1.0)),
      ("gC", Some(2.0)), ("gC", Some(500.0)),
      ("gC", Option.empty[Double])).toDF("g", "v")
    assert(IncrementalAgg.mergeCdcQuantile(odd, odd.limit(0), sink,
      Seq("g"), "v", lo, hi, bins, 2L))
    val (nc, ec) = q50("gC")
    assert(nc == 4L, s"null not ignored: $nc")
    assert(math.abs(ec - 1.5) <= 1.0, s"clamped median drifted: $ec")
    // a group fully retracted leaves the state
    assert(IncrementalAgg.mergeCdcQuantile(odd.limit(0),
      (1 to 10).map(_ => ("gB", 5.0)).toDF("g", "v"), sink,
      Seq("g"), "v", lo, hi, bins, 3L))
    assert(IncrementalAgg.readQuantile(spark, sink, Seq("g"),
      0.5, lo, hi, bins).filter(col("g") === "gB").count() == 0)
    // state boundedness: gA occupies ≤ 40 buckets of its 100-domain
    assert(IncrementalAgg.readState(spark, sink)
      .filter(col("g") === "gA").count() <= 40L)
  }

  test("syncQuantile: the histogram self-syncs off the manifest-diff " +
      "feed by table version, including a copy-on-write merge window") {
    val tableSink = tmp()
    val stateSink = tmp()
    val (lo, hi, bins) = (0.0, 1000.0, 1000)
    AtomicIncrement.appendIncrementAtomic(
      (1L to 100L).map(k => (k, "g", k.toDouble)).toDF("k", "g", "v"),
      tableSink, "k")
    assert(IncrementalAgg.syncQuantile(spark, tableSink, stateSink,
      Seq("g"), "v", lo, hi, bins) == 1L)
    def med(): Double = IncrementalAgg.readQuantile(spark, stateSink,
      Seq("g"), 0.5, lo, hi, bins).head().getDouble(2)
    assert(math.abs(med() - 50.0) <= 2.0, s"bootstrap median: ${med()}")
    // CoW merge: delete the top half — the feed's minus side must
    // retract those buckets through the telescoped fold
    AtomicIncrement.mergeAtomic(
      (51L to 100L).map(k => (k, "g", k.toDouble, true))
        .toDF("k", "g", "v", "del"), tableSink, "k", "del")
    assert(IncrementalAgg.syncQuantile(spark, tableSink, stateSink,
      Seq("g"), "v", lo, hi, bins) == 1L)
    assert(math.abs(med() - 25.0) <= 2.0, s"post-merge median: ${med()}")
    // idempotent: nothing new → zero versions folded
    assert(IncrementalAgg.syncQuantile(spark, tableSink, stateSink,
      Seq("g"), "v", lo, hi, bins) == 0L)
  }

  /** The one-pass (g, count, Σx) of `df`, sorted like [[state]]. */
  private def direct(df: org.apache.spark.sql.DataFrame) =
    df.groupBy("g").agg(count(lit(1)).as("n"), sum("x").as("s"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
      .sortBy(_._1).toSeq

  test("a fold state emptied by retraction still refuses a replay and " +
      "takes the next batch, through mergeCdcBatch and syncRollup") {
    // direct face: bootstrap groups g1, g2 at id 0, retract both at 1
    val sink = tmp()
    val two = rows(1 to 2)
    assert(IncrementalAgg.mergeCdcBatch(two, two.limit(0), sink, keys,
      sums, 0L))
    assert(IncrementalAgg.mergeCdcBatch(two.limit(0), two, sink, keys,
      sums, 1L))
    assert(state(sink).isEmpty)
    assert(!IncrementalAgg.mergeCdcBatch(two.limit(0), two, sink, keys,
      sums, 1L))
    assert(IncrementalAgg.mergeCdcBatch(two, two.limit(0), sink, keys,
      sums, 2L))
    assert(state(sink) == direct(two))
    // sync face: the table empties, so does the state; the sync after
    // the next append folds just that append
    val tableSink = tmp()
    val stateSink = tmp()
    AtomicIncrement.appendIncrementAtomic(two, tableSink, "ts")
    assert(IncrementalAgg.syncRollup(spark, tableSink, stateSink,
      keys, sums) == 1L)
    AtomicIncrement.deleteWhereAtomic(spark, tableSink, lit(true))
    assert(IncrementalAgg.syncRollup(spark, tableSink, stateSink,
      keys, sums) == 1L)
    assert(state(stateSink).isEmpty)
    AtomicIncrement.appendIncrementAtomic(rows(3 to 4), tableSink, "ts")
    assert(IncrementalAgg.syncRollup(spark, tableSink, stateSink,
      keys, sums) == 1L)
    assert(state(stateSink) == direct(rows(3 to 4)))
  }

  test("a compaction of a fold state keeps its batch id: the replay " +
      "after it still no-ops") {
    val sink = tmp()
    assert(IncrementalAgg.mergeCdcBatch(rows(1 to 30), rows(1 to 0),
      sink, keys, sums, 0L))
    assert(IncrementalAgg.mergeCdcBatch(rows(31 to 40), rows(1 to 0),
      sink, keys, sums, 1L))
    val folded = state(sink)
    AtomicIncrement.compact(spark, sink)
    assert(AtomicIncrement.latestSnapshot(spark, sink).lastBatch ==
      Some(1L))
    assert(!IncrementalAgg.mergeCdcBatch(rows(31 to 40), rows(1 to 0),
      sink, keys, sums, 1L))
    assert(state(sink) == folded)
  }

  test("a legacy fold state answers its batch id from its __b stats, " +
      "drops the column on its next fold, and fails loudly when " +
      "nothing answers") {
    // the state as a fold wrote it before the commit line carried the
    // id: a per-row `__b` column with exact stats, no batch group
    val legacy = rows(1 to 30).groupBy("g")
      .agg(count(lit(1)).as("__n"), sum("x").as("sum_x"))
      .withColumn("__b", lit(4L))
    val sink = tmp()
    AtomicIncrement.replaceGated(legacy, sink, 0L, None,
      statsFields = Seq(legacy.schema("__b")))
    assert(AtomicIncrement.latestSnapshot(spark, sink).lastBatch ==
      Some(4L))
    val pre = state(sink)
    for (replay <- Seq(3L, 4L))
      assert(!IncrementalAgg.mergeCdcBatch(rows(31 to 40), rows(1 to 0),
        sink, keys, sums, replay))
    assert(state(sink) == pre)
    assert(IncrementalAgg.mergeCdcBatch(rows(31 to 40), rows(1 to 0),
      sink, keys, sums, 5L))
    assert(!IncrementalAgg.readState(spark, sink).columns.contains("__b"))
    assert(AtomicIncrement.latestSnapshot(spark, sink).lastBatch ==
      Some(5L))
    val folded = state(sink)
    assert(folded.map(t => (t._1, t._2)) ==
      direct(rows(1 to 40)).map(t => (t._1, t._2)))
    for ((f, d) <- folded.zip(direct(rows(1 to 40))))
      assert(math.abs(f._3 - d._3) < 1e-9, s"sum drift: $f vs $d")
    // without the stats nothing tells a replay from a new batch
    val mute = tmp()
    AtomicIncrement.replaceGated(legacy, mute, 0L, None)
    val e = intercept[IllegalStateException] {
      IncrementalAgg.mergeCdcBatch(rows(31 to 40), rows(1 to 0), mute,
        keys, sums, 9L)
    }
    assert(e.getMessage.contains(mute))
    assert(AtomicIncrement.latestSnapshot(spark, mute).version == 1L)
  }
}
