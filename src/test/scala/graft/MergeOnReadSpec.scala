package graft

import graft.operators.{AtomicIncrement, BloomSkip, IncrementalAgg}
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** Merge-on-read (delete-vector) MERGE: a change batch stages only its
  * after-images + one tombstone-key file — zero existing data files
  * read or rewritten — and EVERY read face (committed read, pruned
  * range read, point lookup, keyed locality, time travel, change feed,
  * a later copy-on-write merge, compaction) must behave exactly as if
  * the merge had been copy-on-write. The sequence rule (a dv masks
  * only data files with a strictly smaller commit sequence) is what
  * keeps re-upserts of once-deleted keys alive.
  */
class MergeOnReadSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(): String =
    Files.createTempDirectory("graft_mor").resolve("t").toString

  private def loadRanged(sink: String): Unit =
    for (r <- Seq(1L to 10L, 11L to 20L, 21L to 30L))
      AtomicIncrement.appendIncrementAtomic(
        r.map(k => (k, s"v$k", 1.0 * k)).toDF("k", "v", "x")
          .repartition(1), sink, "k")

  private def rows(sink: String) =
    AtomicIncrement.readCommitted(spark, sink)
      .select("k", "v").as[(Long, String)].collect().toMap

  test("an all-delete merge-on-read commit publishes no 0-row data " +
      "file: only its dv line is added, no stray part file stays on " +
      "disk, and the effective read is the copy-on-write result") {
    val sink = tmp()
    loadRanged(sink)
    val before = AtomicIncrement.latestSnapshot(spark, sink)
    val changes = Seq((5L, "", 0.0, true), (25L, "", 0.0, true))
      .toDF("k", "v", "x", "del")
    val res = AtomicIncrement.mergeOnReadAtomic(changes, sink, "k", "del")
    assert(res.staged == 0, s"an all-delete batch staged data: $res")
    val after = AtomicIncrement.latestSnapshot(spark, sink)
    assert(after.data == before.data,
      s"data lines moved: ${after.data.map(_.render)}")
    assert(after.dvs.size == 1)
    val root = java.nio.file.Paths.get(sink)
    val it = Files.walk(root.resolve("_data")).iterator()
    val onDisk = Iterator.continually(it).takeWhile(_.hasNext).map(_.next())
      .filter(_.getFileName.toString.endsWith(".parquet"))
      .map(root.relativize(_).toString).toSet
    assert(onDisk == (after.data ++ after.dvs).map(_.path).toSet,
      s"stray files: ${onDisk -- (after.data ++ after.dvs).map(_.path)}")
    assert(rows(sink) == (1L to 30L).filterNot(Set(5L, 25L))
      .map(k => k -> s"v$k").toMap)
  }

  test("merge-on-read rewrites NOTHING: prior data-file lines ride " +
      "verbatim, the effective read equals the copy-on-write result, " +
      "the sequence rule lets a second batch delete the first batch's " +
      "upsert and revive its delete, and the delta frames are exact") {
    val sink = tmp()
    loadRanged(sink)
    val priorFiles = AtomicIncrement.committedFiles(spark, sink).toSet
    val changes = Seq((25L, "UPD", 250.0, false),
      (31L, "NEW", 310.0, false), (27L, "", 0.0, true))
      .toDF("k", "v", "x", "del")
    val res = AtomicIncrement.mergeOnReadAtomic(changes, sink, "k", "del")
    assert(res.rewritten == 0 && res.carried == 3 && res.staged >= 1,
      s"merge-on-read touched data files: $res")
    // every pre-merge data file is still listed, untouched
    assert(priorFiles.subsetOf(
      AtomicIncrement.committedFiles(spark, sink).toSet))
    val expect1 = ((1L to 30L).filterNot(Set(25L, 27L))
      .map(k => k -> s"v$k") ++ Seq(25L -> "UPD", 31L -> "NEW")).toMap
    assert(rows(sink) == expect1, s"effective read wrong after batch 1")
    // delta frames: exactly the copy-on-write merge's contract
    assert(res.upserts.select("k", "v").as[(Long, String)]
      .collect().toSet == Set((25L, "UPD"), (31L, "NEW")))
    assert(res.beforeImages.select("k", "v").as[(Long, String)]
      .collect().toSet == Set((25L, "v25"), (27L, "v27")))
    val v1 = res.version
    // batch 2: delete the key batch 1 UPSERTED (its row lives in a
    // batch-1 file — only a SEQUENCE-aware mask can kill it without
    // touching the file) and revive the key batch 1 deleted
    val c2 = Seq((25L, "", 0.0, true), (27L, "BACK", 270.0, false))
      .toDF("k", "v", "x", "del")
    val res2 = AtomicIncrement.mergeOnReadAtomic(c2, sink, "k", "del")
    assert(res2.rewritten == 0)
    val expect2 = ((1L to 30L).filterNot(Set(25L, 27L))
      .map(k => k -> s"v$k") ++ Seq(27L -> "BACK", 31L -> "NEW")).toMap
    assert(rows(sink) == expect2,
      "sequence rule broke: re-upsert masked or tombstone missed")
    // batch 2's before-images are the rows IT killed: batch 1's upsert
    // and nothing for the revived key (it had no standing row)
    assert(res2.beforeImages.select("k", "v").as[(Long, String)]
      .collect().toSet == Set((25L, "UPD")))
    // time travel: the batch-1 snapshot still reads effectively
    assert(AtomicIncrement.readVersion(spark, sink, v1)
      .select("k", "v").as[(Long, String)].collect().toMap == expect1)
    // pruned range read ≡ full filter on the dv-carrying table
    val above = AtomicIncrement.readCommittedAbove(spark, sink, "k", 20L)
      .filter(col("k") > 20).select("k", "v").as[(Long, String)]
      .collect().toMap
    assert(above == expect2.filter(_._1 > 20))
    // point lookup: the tombstoned row never surfaces, the revived does
    BloomSkip.ensureSidecars(spark, sink, "k")
    assert(BloomSkip.pointLookup(spark, sink, "k", lit(25L))
      .filter(col("k") === 25L).count() == 0)
    assert(BloomSkip.pointLookup(spark, sink, "k", lit(27L))
      .filter(col("k") === 27L).select("v").as[String]
      .collect().toSeq == Seq("BACK"))
    // the watermark append still works and its rows outrank the dvs
    assert(AtomicIncrement.appendIncrementAtomic(
      Seq((31L, "dup", 0.0)).toDF("k", "v", "x"), sink, "k") == 0)
    assert(AtomicIncrement.appendIncrementAtomic(
      Seq((32L, "v32", 32.0)).toDF("k", "v", "x"), sink, "k") == 1)
    assert(rows(sink).get(32L).contains("v32"))
  }

  test("a later copy-on-write merge composes: effective old rows (no " +
      "tombstone resurrection), staged rewrite outranks standing dvs") {
    val sink = tmp()
    loadRanged(sink)
    AtomicIncrement.mergeOnReadAtomic(
      Seq((25L, "UPD", 250.0, false), (27L, "", 0.0, true))
        .toDF("k", "v", "x", "del"), sink, "k", "del")
    // CoW re-insert of the MoR-deleted key: if the rewrite did not
    // outrank the dv, 27 would vanish again; if effective-old-rows
    // were skipped, the stale v27 would resurrect beside it
    val res = AtomicIncrement.mergeAtomic(
      Seq((27L, "CBACK", 2.0, false)).toDF("k", "v", "x", "del"),
      sink, "k", "del")
    assert(res.rewritten >= 1)
    val got = rows(sink)
    assert(got(27L) == "CBACK" && got(25L) == "UPD" && got(26L) == "v26",
      s"CoW-on-dv composition wrong: ${got.toSeq.sortBy(_._1).take(8)}")
    assert(got.size == 30)
  }

  test("compaction FOLDS the delete vectors away: no dv lines survive, " +
      "content identical, vacuum reclaims the superseded debt") {
    val sink = tmp()
    loadRanged(sink)
    AtomicIncrement.mergeOnReadAtomic(
      Seq((25L, "UPD", 250.0, false), (27L, "", 0.0, true))
        .toDF("k", "v", "x", "del"), sink, "k", "del")
    val before = rows(sink)
    val (_, nAfter) = AtomicIncrement.compact(spark, sink, numFiles = 2)
    assert(nAfter == 2)
    // the new snapshot carries no dv lines and reads identically
    val (_, dataE, dvE) = AtomicIncrement.snapshotSplit(spark, sink)
    assert(dvE.isEmpty, "compaction left delete vectors standing")
    assert(dataE.size == 2)
    assert(rows(sink) == before)
    // the folded dv + superseded batches are reclaimable
    assert(AtomicIncrement.vacuumUncommitted(spark, sink) >= 4)
    assert(rows(sink) == before)
  }

  test("vacuum NEVER reclaims a standing delete vector (it would " +
      "resurrect deleted rows)") {
    val sink = tmp()
    loadRanged(sink)
    AtomicIncrement.mergeOnReadAtomic(
      Seq((27L, "", 0.0, true)).toDF("k", "v", "x", "del"),
      sink, "k", "del")
    val before = rows(sink)
    assert(!before.contains(27L))
    assert(AtomicIncrement.vacuumUncommitted(spark, sink) == 0)
    assert(AtomicIncrement.vacuumSuperseded(spark, sink) == 0)
    assert(rows(sink) == before, "vacuum resurrected a deleted row")
  }

  test("change feed across a merge-on-read window: newly-masked rows " +
      "land on the minus side and v1 + plus − minus telescopes to v2") {
    val sink = tmp()
    loadRanged(sink)
    val v1 = AtomicIncrement.snapshot(spark, sink)._1
    val res = AtomicIncrement.mergeOnReadAtomic(
      Seq((25L, "UPD", 250.0, false), (31L, "NEW", 310.0, false),
        (27L, "", 0.0, true)).toDF("k", "v", "x", "del"),
      sink, "k", "del")
    val preMergeFiles = AtomicIncrement.committedFiles(spark, sink)
    val (plus, minus) = AtomicIncrement.changesBetween(spark, sink,
      v1, res.version)
    assert(plus.select("k", "v").as[(Long, String)].collect().toSet ==
      Set((25L, "UPD"), (31L, "NEW")))
    assert(minus.select("k", "v").as[(Long, String)].collect().toSet ==
      Set((25L, "v25"), (27L, "v27")),
      "newly-masked common-file rows missing from the minus side")
    // feed LOCALITY: the churn sits in the third file's interval, so
    // the newly-masked read must interval-prune the other two common
    // files — a table-sized feed pull for a 2-key churn is the 10⁵-file
    // failure shape
    val untouched = preMergeFiles.take(2)
      .map(r => r.split("/").takeRight(2).mkString("/")).toSet
    val opened = minus.inputFiles
      .map(_.split("/").takeRight(2).mkString("/")).toSet
    assert(untouched.forall(f => !opened.contains(f)),
      s"feed read churn-free common files: ${opened.take(5)}")
    // the abelian fold over the feed reproduces the v2 aggregate
    val counts = scala.collection.mutable.Map[(Long, String), Int]()
      .withDefaultValue(0)
    AtomicIncrement.readVersion(spark, sink, v1).select("k", "v")
      .as[(Long, String)].collect().foreach(r => counts(r) += 1)
    plus.select("k", "v").as[(Long, String)].collect()
      .foreach(r => counts(r) += 1)
    minus.select("k", "v").as[(Long, String)].collect()
      .foreach(r => counts(r) -= 1)
    val fed = counts.filter(_._2 != 0)
    assert(fed.values.forall(_ == 1) && fed.keySet == rows(sink).toSet,
      "feed did not telescope")
  }

  test("string/UUID-keyed merge-on-read: the tombstone file carries " +
      "the string keys, the sequence-ruled read resolves in UTF-8 " +
      "byte space, and a later string-keyed CoW merge composes") {
    val sink = tmp()
    def guid(i: Long) = f"guid-$i%04d"
    for (r <- Seq(1L to 10L, 11L to 20L))
      AtomicIncrement.appendIncrementAtomic(
        r.map(i => (guid(i), s"v$i", 1.0 * i)).toDF("k", "v", "x")
          .repartition(1), sink, "k")
    val res = AtomicIncrement.mergeOnReadAtomic(
      Seq((guid(5), "UPD", 50.0, false), (guid(17), "", 0.0, true))
        .toDF("k", "v", "x", "del"), sink, "k", "del")
    assert(res.rewritten == 0)
    def got = AtomicIncrement.readCommitted(spark, sink)
      .select("k", "v").as[(String, String)].collect().toMap
    val expect = ((1L to 20L).filterNot(Set(5L, 17L))
      .map(i => guid(i) -> s"v$i") ++ Seq(guid(5) -> "UPD")).toMap
    assert(got == expect, s"string MoR read wrong: ${got.toSeq.sorted.take(6)}")
    // the revive-through-CoW composition on the string key
    AtomicIncrement.mergeAtomic(
      Seq((guid(17), "BACK", 2.0, false)).toDF("k", "v", "x", "del"),
      sink, "k", "del")
    assert(got == expect + (guid(17) -> "BACK"))
    // an integral churn against the string-dv table still fails loudly
    intercept[IllegalArgumentException] {
      AtomicIncrement.mergeOnReadAtomic(
        Seq((5L, "zz", 0.0, false)).toDF("k", "v", "x", "del"),
        sink, "k", "del")
    }
    // an Int-keyed table: its dv files hold the churn's LONG keys (the
    // schema ChurnKeys.toDf writes), and every dv read — the masked
    // read, the feed's newly-masked side, the targeted fold — reads
    // them under that schema and agrees with readCommitted
    val isink = tmp()
    for (r <- Seq(1 to 10, 11 to 20))
      AtomicIncrement.appendIncrementAtomic(
        r.map(i => (i, s"v$i")).toDF("k", "v").repartition(1), isink, "k")
    val v1 = AtomicIncrement.snapshot(spark, isink)._1
    val ires = AtomicIncrement.mergeOnReadAtomic(
      Seq((5, "UPD", false), (17, "", true)).toDF("k", "v", "del"),
      isink, "k", "del")
    def gotI = AtomicIncrement.readCommitted(spark, isink)
      .select("k", "v").as[(Int, String)].collect().toMap
    val expectI = ((1 to 20).filterNot(Set(5, 17))
      .map(i => i -> s"v$i") ++ Seq(5 -> "UPD")).toMap
    assert(gotI == expectI, s"Int-keyed MoR read wrong: ${gotI.toSeq.sorted.take(6)}")
    val (_, minusI) = AtomicIncrement.changesBetween(spark, isink, v1,
      ires.version)
    assert(minusI.select("k", "v").as[(Int, String)].collect().toSet ==
      Set((5, "v5"), (17, "v17")))
    assert(AtomicIncrement.foldDvsTargeted(spark, isink)._1 == 2)
    assert(AtomicIncrement.snapshotSplit(spark, isink)._3.isEmpty)
    assert(gotI == expectI, "Int-keyed targeted fold moved content")
  }

  test("TARGETED dv fold rewrites only the masked files: a churn-" +
      "confined delete folds its one file's locality, the other files " +
      "carry with byte-identical manifest lines, content ≡ the " +
      "copy-on-write result, and no dv survives") {
    val sink = tmp()
    loadRanged(sink) // 3 files: [1,10] [11,20] [21,30]
    val linesBefore = AtomicIncrement.snapshotSplit(spark, sink)._2
      .map(_.render)
    AtomicIncrement.mergeOnReadAtomic(
      Seq((25L, "UPD", 250.0, false), (27L, "", 0.0, true))
        .toDF("k", "v", "x", "del"), sink, "k", "del")
    val expect = rows(sink) // dv-resolved view, what CoW would hold
    val (masked, staged) = AtomicIncrement.foldDvsTargeted(spark, sink)
    assert(masked == 1 && staged >= 1,
      s"churn in one file's interval must fold exactly it: ($masked, $staged)")
    val (_, dataE, dvE) = AtomicIncrement.snapshotSplit(spark, sink)
    assert(dvE.isEmpty, "targeted fold left a dv standing")
    // the two churn-free files' manifest lines ride byte-identical
    val after = dataE.map(_.render).toSet
    assert(linesBefore.take(2).forall(after.contains),
      "an unmasked file's manifest line changed across the fold")
    assert(rows(sink) == expect, "targeted fold moved content")
    // read debt gone; the folded file's dir and the dv's dir (each a
    // whole batch dir with no live file left) reclaim
    assert(AtomicIncrement.vacuumUncommitted(spark, sink) >= 2)
    assert(rows(sink) == expect)
    // idempotent surface: nothing standing → (0, 0), no publish
    val v = AtomicIncrement.snapshot(spark, sink)._1
    assert(AtomicIncrement.foldDvsTargeted(spark, sink) == ((0, 0)))
    assert(AtomicIncrement.snapshot(spark, sink)._1 == v)
  }

  test("a dv that provably masks nothing (its files were rewritten by " +
      "a later CoW merge) folds as a METADATA-ONLY commit: zero files " +
      "moved, dv lines dropped") {
    val sink = tmp()
    loadRanged(sink)
    AtomicIncrement.mergeOnReadAtomic(
      Seq((27L, "", 0.0, true)).toDF("k", "v", "x", "del"),
      sink, "k", "del")
    // the CoW merge rewrites the only file the dv masked; its staged
    // replacement outranks the dv, so the tombstone now masks nothing
    AtomicIncrement.mergeAtomic(
      Seq((25L, "UPD", 250.0, false)).toDF("k", "v", "x", "del"),
      sink, "k", "del")
    val expect = rows(sink)
    val dataBefore = AtomicIncrement.committedFiles(spark, sink).toSet
    assert(AtomicIncrement.foldDvsTargeted(spark, sink) == ((0, 0)))
    val (_, dataE, dvE) = AtomicIncrement.snapshotSplit(spark, sink)
    assert(dvE.isEmpty, "no-op fold left the dv lines standing")
    assert(dataE.map(_.path).toSet == dataBefore,
      "metadata-only fold moved data files")
    assert(rows(sink) == expect)
  }

  test("change feed guards (round 14): a bootstrap pull runs ZERO " +
      "dv-key collect jobs, and a window whose pooled dv keys exceed " +
      "the fence falls back to keep-all-common-files — same rows") {
    val sink = tmp()
    loadRanged(sink)
    val v1 = AtomicIncrement.snapshot(spark, sink)._1
    val res = AtomicIncrement.mergeOnReadAtomic(
      Seq((25L, "UPD", 250.0, false), (27L, "", 0.0, true))
        .toDF("k", "v", "x", "del"), sink, "k", "del")
    // bootstrap from version 0: no common files exist, so the
    // newly-masked path cannot contribute — the dv-key collect is
    // guarded out entirely (previously every bootstrap on a
    // dv-carrying table paid the wasted scan)
    val c0 = AtomicIncrement.pruneChurnCollects.get()
    val (pb, mb) = AtomicIncrement.changesBetween(spark, sink, 0L,
      res.version)
    assert(pb.count() == 29 && mb.count() == 0)
    assert(AtomicIncrement.pruneChurnCollects.get() == c0,
      "bootstrap feed pull ran the dv-key collect")
    // real window: the collect runs once, under the fence
    val (p1, m1) = AtomicIncrement.changesBetween(spark, sink, v1,
      res.version)
    assert(AtomicIncrement.pruneChurnCollects.get() == c0 + 1)
    // over-fence window: the fallback keeps every common file — the
    // frames stay row-identical, only locality is lost
    val f0 = AtomicIncrement.pruneFenceFallbacks.get()
    val (p2, m2) = AtomicIncrement.changesBetween(spark, sink, v1,
      res.version, maxPruneKeys = 1)
    assert(AtomicIncrement.pruneFenceFallbacks.get() == f0 + 1,
      "fence did not trip")
    def set(df: org.apache.spark.sql.DataFrame) =
      df.select("k", "v").as[(Long, String)].collect().toSet
    assert(set(p2) == set(p1) && set(m2) == set(m1),
      "fence fallback changed the feed's rows")
  }

  test("rollup maintenance from merge-on-read delta frames ≡ " +
      "re-aggregating the table (the CDC fold composes unchanged)") {
    val sink = tmp()
    val state = tmp()
    loadRanged(sink)
    IncrementalAgg.mergeCdcBatch(
      AtomicIncrement.readCommitted(spark, sink),
      AtomicIncrement.readCommitted(spark, sink).limit(0),
      state, Seq("v"), Seq("x"), -1L)
    val res = AtomicIncrement.mergeOnReadAtomic(
      Seq((25L, "g", 250.0, false), (27L, "", 0.0, true))
        .toDF("k", "v", "x", "del"), sink, "k", "del")
    IncrementalAgg.mergeCdcBatch(res.upserts, res.beforeImages,
      state, Seq("v"), Seq("x"), 0L)
    val direct = AtomicIncrement.readCommitted(spark, sink)
      .groupBy("v").agg(count(lit(1)).as("n"), sum("x").as("s"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
      .sortBy(_._1).toSeq
    val folded = IncrementalAgg.readState(spark, state)
      .select("v", "__n", "sum_x")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
      .sortBy(_._1).toSeq
    assert(folded == direct,
      s"rollup diverged from the MoR table: $folded vs $direct")
  }
}
