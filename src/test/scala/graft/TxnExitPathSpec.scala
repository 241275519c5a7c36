package graft

import graft.operators.{AtomicIncrement, IncrementalAgg, Txn}
import graft.streaming.AggStream
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Every writer that commits through [[graft.operators.Txn]] leaves
  * the sink as it was on each exit that does not publish: a stage
  * whose frame throws mid-write, a gate that rejects, and a lost OCC
  * race injected through `Txn.racing`. After each, the manifest
  * version is unchanged (or moved by the race's winner alone) and no
  * `_data/batch-*` dir the call staged outlives it.
  */
class TxnExitPathSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(): String = java.nio.file.Files
    .createTempDirectory("graft_txn_exit").resolve("sink").toString

  private def fs(sink: String) = new Path(sink)
    .getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def version(sink: String): Long =
    AtomicIncrement.snapshot(spark, sink)._1

  private def batchDirs(sink: String): Set[String] = {
    val root = new Path(sink, "_data")
    if (!fs(sink).exists(root)) Set.empty
    else fs(sink).listStatus(root).map(_.getPath.getName)
      .filter(_.startsWith("batch-")).toSet
  }

  private def liveDirs(sink: String): Set[String] = {
    val (_, data, dvs) = AtomicIncrement.snapshotSplit(spark, sink)
    (data ++ dvs).map(_.path.split("/")(1)).toSet
  }

  private def kv(lo: Long, hi: Long): DataFrame =
    (lo to hi).map(k => (k, s"v$k")).toDF("k", "v")

  private def load(sink: String): Unit =
    for ((lo, hi) <- Seq((1L, 10L), (11L, 20L)))
      AtomicIncrement.appendIncrementAtomic(kv(lo, hi).repartition(1),
        sink, "k")

  private def changes(rows: (Long, String, Boolean)*): DataFrame =
    rows.toDF("k", "v", "del")

  private val upd = changes((5L, "U", false), (25L, "N", false))

  /** A column that raises while the staging write evaluates it. */
  private val raising = raise_error(lit("boom"))

  /** `df` whose column `c` raises mid-write. */
  private def boom(df: DataFrame, c: String = "v"): DataFrame =
    df.withColumn(c, coalesce(raising.cast(df.schema(c).dataType), col(c)))

  /** Overwrite the committed file holding key `k` with junk: the
    * maintenance writers' staging scan then fails mid-write. */
  private def corrupt(sink: String, k: Long): Unit = {
    val (_, data, _) = AtomicIncrement.snapshotSplit(spark, sink)
    val e = data.find(_.statsFor("k").exists(s =>
      s.min.toLongOption.exists(_ <= k) &&
        s.max.toLongOption.exists(_ >= k))).get
    val out = fs(sink).create(new Path(s"$sink/${e.path}"), true)
    try out.write("not parquet".getBytes("UTF-8")) finally out.close()
  }

  /** The race's winner: a full snapshot replace, which no staged work
    * survives (it rewrites every file and drops the stats). */
  private def winner(sink: String): Unit =
    AtomicIncrement.replaceSnapshot(
      AtomicIncrement.readCommitted(spark, sink), sink, version(sink))

  private def agg(lo: Int, hi: Int): DataFrame =
    (lo to hi).map(i => (i.toLong, s"g${i % 2}", i * 1.0))
      .toDF("ts", "g", "x")

  private def scd2Load(sink: String): Unit =
    AtomicIncrement.appendIncrementAtomic((1L to 10L)
      .map(k => (k, s"v$k", 1L, Option.empty[Long]))
      .toDF("k", "v", "valid_from", "valid_to").repartition(1), sink, "k")

  private val scd2Changes =
    Seq((5L, "U", 2L, false)).toDF("k", "v", "ver", "del")

  private def sqlUpdate(sink: String, set: String): DataFrame = {
    spark.conf.set("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
    spark.sql(s"UPDATE graft.`$sink` SET v = $set WHERE k <= 5")
  }

  /** One writer: its fixture, and its call per exit path. `run` is the
    * plain call the race case wraps. */
  private case class Writer(name: String, prep: String => Unit,
      stageThrows: Option[String => Any], gateRejects: Option[String => Any],
      run: String => Any)

  private val g = Seq("g")
  private val x = Seq("x")

  private val writers = Seq(
    Writer("appendIncrementAtomic", load,
      Some(s => AtomicIncrement.appendIncrementAtomic(boom(kv(21, 22)), s, "k")),
      Some(s => AtomicIncrement.appendAuditedAtomic(kv(21, 22), s, "k")(
        _ => false)),
      s => AtomicIncrement.appendIncrementAtomic(kv(21, 22), s, "k")),
    Writer("appendBlindAtomic", load,
      Some(s => AtomicIncrement.appendBlindAtomic(boom(kv(21, 22)), s)),
      Some(s => AtomicIncrement.appendBlindAtomic(kv(21, 22).limit(0), s)),
      s => AtomicIncrement.appendBlindAtomic(kv(21, 22), s)),
    Writer("evolveSchemaAtomic", load, None, None,
      s => AtomicIncrement.evolveSchemaAtomic(spark, s,
        AtomicIncrement.readCommitted(spark, s).schema.add("w", "string"))),
    Writer("replaceSnapshot", load,
      Some(s => AtomicIncrement.replaceSnapshot(boom(kv(1, 5)), s, version(s))),
      None,
      s => AtomicIncrement.replaceSnapshot(kv(1, 5), s, version(s))),
    Writer("compact", load,
      Some(s => { corrupt(s, 1L); AtomicIncrement.compact(spark, s) }), None,
      s => AtomicIncrement.compact(spark, s)),
    Writer("compactSmall", load,
      Some(s => { corrupt(s, 1L)
        AtomicIncrement.compactSmall(spark, s, 1L << 30) }), None,
      s => AtomicIncrement.compactSmall(spark, s, 1L << 30)),
    Writer("mergeAtomic", load,
      Some(s => AtomicIncrement.mergeAtomic(boom(upd), s, "k", "del")), None,
      s => AtomicIncrement.mergeAtomic(upd, s, "k", "del")),
    Writer("deleteWhereAtomic", load,
      Some(s => AtomicIncrement.deleteWhereAtomic(spark, s,
        raising.cast("boolean"))), None,
      s => AtomicIncrement.deleteWhereAtomic(spark, s, col("k") <= 5L)),
    Writer("updateWhereAtomic", load,
      Some(s => AtomicIncrement.updateWhereAtomic(spark, s, col("k") <= 5L,
        Map("v" -> raising.cast("string")))), None,
      s => AtomicIncrement.updateWhereAtomic(spark, s, col("k") <= 5L,
        Map("v" -> lit("U")))),
    Writer("mergeOnReadAtomic", load,
      Some(s => AtomicIncrement.mergeOnReadAtomic(boom(upd), s, "k", "del")),
      None,
      s => AtomicIncrement.mergeOnReadAtomic(upd, s, "k", "del")),
    Writer("foldDvsTargeted",
      s => { load(s); AtomicIncrement.mergeOnReadAtomic(
        changes((5L, "", true)), s, "k", "del"); () },
      Some(s => { corrupt(s, 1L)
        AtomicIncrement.foldDvsTargeted(spark, s) }), None,
      s => AtomicIncrement.foldDvsTargeted(spark, s)),
    Writer("mergeScd2Atomic", scd2Load,
      Some(s => AtomicIncrement.mergeScd2Atomic(boom(scd2Changes), s, "k",
        "ver", "del")), None,
      s => AtomicIncrement.mergeScd2Atomic(scd2Changes, s, "k", "ver", "del")),
    Writer("IncrementalAgg.mergeBatch",
      s => { IncrementalAgg.mergeBatch(agg(1, 10), s, g, x, "ts"); () },
      Some(s => IncrementalAgg.mergeBatch(boom(agg(11, 20), "x"), s, g, x,
        "ts")),
      // a replay: zero fresh rows close the gate after staging
      Some(s => IncrementalAgg.mergeBatch(agg(1, 10), s, g, x, "ts")),
      s => IncrementalAgg.mergeBatch(agg(11, 20), s, g, x, "ts")),
    Writer("AggStream.foldBatch",
      s => { AggStream.foldBatch(agg(1, 10), 0L, s, g, x); () },
      Some(s => AggStream.foldBatch(boom(agg(11, 20), "x"), 1L, s, g, x)),
      Some(s => AggStream.foldBatch(agg(1, 0), 1L, s, g, x)),
      s => AggStream.foldBatch(agg(11, 20), 1L, s, g, x)),
    Writer("IncrementalAgg.mergeCdcBatch",
      s => { IncrementalAgg.mergeCdcBatch(agg(1, 10), agg(1, 0), s, g, x,
        0L); () },
      Some(s => IncrementalAgg.mergeCdcBatch(boom(agg(11, 12), "x"),
        agg(1, 0), s, g, x, 1L)), None,
      s => IncrementalAgg.mergeCdcBatch(agg(11, 12), agg(1, 0), s, g, x, 1L)),
    Writer("IncrementalAgg.mergeCdcExtremes",
      s => { IncrementalAgg.mergeCdcExtremes(agg(1, 10), agg(1, 0),
        agg(1, 10), s, g, x, x, 0L); () },
      Some(s => IncrementalAgg.mergeCdcExtremes(boom(agg(11, 12), "x"),
        agg(1, 0), agg(1, 12), s, g, x, x, 1L)),
      // no rescan rows for the churned groups: the coverage gate throws
      Some(s => IncrementalAgg.mergeCdcExtremes(agg(11, 12), agg(1, 0),
        agg(1, 0), s, g, x, x, 1L)),
      s => IncrementalAgg.mergeCdcExtremes(agg(11, 12), agg(1, 0),
        agg(1, 12), s, g, x, x, 1L)),
    Writer("SQL UPDATE (DSv2 row-level commit)", load,
      Some(s => sqlUpdate(s, "raise_error('boom')")), None,
      s => sqlUpdate(s, "'U'")))

  test("every writer through the commit core: a throwing stage, a " +
      "rejecting gate and a lost OCC race each leave the version and " +
      "the staged batch dirs as they were") {
    def exits(w: Writer, path: String, mustFail: Boolean, raced: Boolean)(
        op: String => Any): Unit = {
      val sink = tmp()
      w.prep(sink)
      val (v0, dirs0) = (version(sink), batchDirs(sink))
      val out = scala.util.Try(
        if (raced) Txn.racing(winner(sink))(op(sink)) else op(sink))
      val what = s"${w.name} / $path"
      if (mustFail) assert(out.isFailure, s"$what did not fail: $out")
      assert(version(sink) == v0 + (if (raced) 1 else 0),
        s"$what moved the manifest")
      val left = batchDirs(sink) -- dirs0 -- liveDirs(sink)
      assert(left.isEmpty, s"$what left staged dirs behind: $left")
    }
    for (w <- writers) {
      w.stageThrows.foreach(exits(w, "stage throws", mustFail = true,
        raced = false))
      w.gateRejects.foreach(exits(w, "gate rejects", mustFail = false,
        raced = false))
      exits(w, "lost race", mustFail = true, raced = true)(w.run)
    }
  }
}
