package graft

import graft.operators.{AtomicIncrement, Txn}
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** Manifest-committed atomic incremental sink: snapshot isolation
  * under crashes between stage and publish, replay convergence,
  * loser-cleanup under write contention, and orphan GC.
  */
class AtomicIncrementSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(): String =
    Files.createTempDirectory("graft_atomic").resolve("sink").toString

  private def fs(sink: String) =
    new org.apache.hadoop.fs.Path(sink)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** A crashed writer: stage into a batch dir, never publish. */
  private def stageOnly(df: org.apache.spark.sql.DataFrame,
      sink: String): Seq[String] =
    Txn.begin(spark, sink).stage(df, Nil).map(_.path)

  test("append commits atomically; replay appends 0; watermark filters") {
    val sink = tmp()
    val df = Seq((1L, "a"), (5L, "b")).toDF("k", "v")
    assert(AtomicIncrement.appendIncrementAtomic(df, sink, "k") == 2)
    assert(AtomicIncrement.appendIncrementAtomic(df, sink, "k") == 0)
    val n = AtomicIncrement.appendIncrementAtomic(
      Seq((4L, "late"), (6L, "new")).toDF("k", "v"), sink, "k")
    assert(n == 1)
    val keys = AtomicIncrement.readCommitted(spark, sink)
      .select("k").as[Long].collect().sorted.toSeq
    assert(keys == Seq(1L, 5L, 6L))
  }

  test("manifest stats: recorded at stage, watermark answers from the manifest, pruned read ≡ full read") {
    val sink = tmp()
    // three disjoint watermark ranges → three batch dirs with
    // non-overlapping [min, max] intervals
    AtomicIncrement.appendIncrementAtomic(
      (1L to 10L).map(k => (k, s"v$k")).toDF("k", "v"), sink, "k")
    AtomicIncrement.appendIncrementAtomic(
      (11L to 20L).map(k => (k, s"v$k")).toDF("k", "v"), sink, "k")
    AtomicIncrement.appendIncrementAtomic(
      (21L to 30L).map(k => (k, s"v$k")).toDF("k", "v"), sink, "k")
    val (_, entries) = AtomicIncrement.snapshotEntries(spark, sink)
    assert(entries.nonEmpty && entries.forall(_.statsFor("k").exists(_.tag == "long")),
      s"every file must carry k stats: $entries")
    // the incremental consumer's shape: rows above a cut. Pruning is
    // a may-contain superset, so pruned∘filter ≡ full∘filter — and
    // here the intervals are disjoint, so files actually skip.
    val pruned = AtomicIncrement.readCommittedAbove(spark, sink, "k", 20L)
    val full = AtomicIncrement.readCommitted(spark, sink)
    assert(pruned.inputFiles.length < full.inputFiles.length,
      s"no files skipped: ${pruned.inputFiles.length} of ${full.inputFiles.length}")
    assert(pruned.filter(col("k") > 20).select("k").as[Long].collect().sorted.toSeq
      == full.filter(col("k") > 20).select("k").as[Long].collect().sorted.toSeq)
    // an impossible cut prunes everything but keeps the schema
    assert(AtomicIncrement.readCommittedAbove(spark, sink, "k", 999L).count() == 0)
    // replay idempotence rides the manifest-stats watermark (no
    // footer sweep, no scan): still appends 0
    assert(AtomicIncrement.appendIncrementAtomic(
      (1L to 30L).map(k => (k, s"v$k")).toDF("k", "v"), sink, "k") == 0)
  }

  test("manifest stats: path-only manifests (pre-stats) read, never prune, and still append") {
    val sink = tmp()
    AtomicIncrement.appendIncrementAtomic(
      (1L to 10L).map(k => (k, s"v$k")).toDF("k", "v"), sink, "k")
    // rewrite the latest manifest as v1 path-only lines
    val f = fs(sink)
    val dir = new org.apache.hadoop.fs.Path(sink, "_graft_manifest")
    val mf = f.listStatus(dir).map(_.getPath).maxBy(_.getName)
    val paths = AtomicIncrement.committedFiles(spark, sink)
    f.delete(mf, false)
    val out = f.create(mf, true)
    try out.write(paths.mkString("\n").getBytes("UTF-8")) finally out.close()
    val (_, entries) = AtomicIncrement.snapshotEntries(spark, sink)
    assert(entries.forall(_.allStats.isEmpty))
    // no stats → nothing prunes, everything still reads
    assert(AtomicIncrement.readCommittedAbove(spark, sink, "k", 999L)
      .inputFiles.length ==
      AtomicIncrement.readCommitted(spark, sink).inputFiles.length)
    // watermark falls back to the footer sweep: replay appends 0,
    // fresh rows append and the NEW files carry stats again
    assert(AtomicIncrement.appendIncrementAtomic(
      (1L to 12L).map(k => (k, s"v$k")).toDF("k", "v"), sink, "k") == 2)
    val (_, after) = AtomicIncrement.snapshotEntries(spark, sink)
    assert(after.exists(_.allStats.nonEmpty) && after.exists(_.allStats.isEmpty))
  }

  test("compaction recomputes stats for the rewritten files") {
    val sink = tmp()
    AtomicIncrement.appendIncrementAtomic(
      (1L to 10L).map(k => (k, s"v$k")).toDF("k", "v"), sink, "k")
    AtomicIncrement.appendIncrementAtomic(
      (11L to 20L).map(k => (k, s"v$k")).toDF("k", "v"), sink, "k")
    AtomicIncrement.compact(spark, sink, numFiles = 1)
    val (_, entries) = AtomicIncrement.snapshotEntries(spark, sink)
    assert(entries.forall(_.statsFor("k").exists(s =>
      s.min.toLong == 1L && s.max.toLong == 20L)),
      s"compacted file must carry the merged interval: $entries")
    // the manifest watermark survives compaction: replay appends 0
    assert(AtomicIncrement.appendIncrementAtomic(
      (1L to 20L).map(k => (k, s"v$k")).toDF("k", "v"), sink, "k") == 0)
  }

  test("crash between stage and publish: readers see the old snapshot; re-run converges") {
    val sink = tmp()
    AtomicIncrement.appendIncrementAtomic(
      Seq((1L, "a")).toDF("k", "v"), sink, "k")
    // crash-inject: stage the increment but never publish the manifest
    val fresh = Seq((2L, "b"), (3L, "c")).toDF("k", "v")
    val staged = stageOnly(fresh, sink)
    assert(staged.nonEmpty)
    // a concurrent reader at this instant: exactly the old snapshot
    assert(AtomicIncrement.readCommitted(spark, sink)
      .select("k").as[Long].collect().toSeq == Seq(1L))
    // the re-run recomputes the delta off the COMMITTED watermark —
    // the orphan contributes nothing, so nothing is lost or doubled
    assert(AtomicIncrement.appendIncrementAtomic(fresh, sink, "k") == 2)
    assert(AtomicIncrement.readCommitted(spark, sink)
      .select("k").as[Long].collect().sorted.toSeq == Seq(1L, 2L, 3L))
    // GC removes exactly the orphaned batch; the snapshot is unchanged
    assert(AtomicIncrement.vacuumUncommitted(spark, sink) == 1)
    assert(AtomicIncrement.readCommitted(spark, sink)
      .select("k").as[Long].collect().sorted.toSeq == Seq(1L, 2L, 3L))
    assert(AtomicIncrement.vacuumUncommitted(spark, sink) == 0)
  }

  test("losing a commit race cleans the staged batch and throws; re-run converges") {
    val sink = tmp()
    AtomicIncrement.appendIncrementAtomic(
      Seq((1L, "a")).toDF("k", "v"), sink, "k")
    // a competing writer commits BETWEEN our snapshot read and our
    // publish (injected at the seam): it wins version 2 with rows of
    // its own, and our commit must lose — not silently overwrite
    intercept[java.util.ConcurrentModificationException] {
      Txn.racing(AtomicIncrement.appendIncrementAtomic(
          Seq((9L, "winner")).toDF("k", "v"), sink, "k")) {
        AtomicIncrement.appendIncrementAtomic(
          Seq((2L, "b")).toDF("k", "v"), sink, "k")
      }
    }
    // loser's staged files are gone; the winner's snapshot is intact
    assert(AtomicIncrement.vacuumUncommitted(spark, sink) == 0)
    assert(AtomicIncrement.readCommitted(spark, sink)
      .select("k").as[Long].collect().sorted.toSeq == Seq(1L, 9L))
    // the straggler re-runs against the new snapshot: k=2 is below the
    // winner's watermark now — the strict-> contract drops it
    assert(AtomicIncrement.appendIncrementAtomic(
      Seq((2L, "b"), (10L, "new")).toDF("k", "v"), sink, "k") == 1)
    assert(AtomicIncrement.readCommitted(spark, sink)
      .select("k").as[Long].collect().sorted.toSeq == Seq(1L, 9L, 10L))
  }

  test("schema evolution across commits reads merged") {
    val sink = tmp()
    AtomicIncrement.appendIncrementAtomic(
      Seq((1L, "a")).toDF("k", "v"), sink, "k")
    AtomicIncrement.appendIncrementAtomic(
      Seq((2L, "b", 9.5)).toDF("k", "v", "score"), sink, "k")
    val evolved = AtomicIncrement.readCommitted(spark, sink)
    assert(evolved.columns.toSet == Set("k", "v", "score"))
    val old = evolved.filter(col("k") === 1L).head()
    assert(old.isNullAt(old.fieldIndex("score")))
  }

  test("pruned read keeps the evolved schema even when every evolved-column file is skipped") {
    val sink = tmp()
    // batch 1 carries the evolved column at LOW keys; batch 2 is
    // pre-evolution at HIGH keys. A cut above batch 1's max prunes
    // the only file carrying `score` — the pruned frame must still
    // expose it (null-filled), so pruned∘filter ≡ full∘filter holds
    // instead of dying with an unresolved-column AnalysisException.
    AtomicIncrement.appendIncrementAtomic(
      Seq((1L, "a", 9.5)).toDF("k", "v", "score"), sink, "k")
    AtomicIncrement.appendIncrementAtomic(
      Seq((10L, "b")).toDF("k", "v"), sink, "k")
    val pruned = AtomicIncrement.readCommittedAbove(spark, sink, "k", 5L)
    val full = AtomicIncrement.readCommitted(spark, sink)
    assert(pruned.columns.toSet == full.columns.toSet)
    assert(pruned.inputFiles.length < full.inputFiles.length)
    assert(pruned.filter(col("score").isNotNull).count() == 0)
    assert(pruned.filter(col("k") > 5).count() ==
      full.filter(col("k") > 5).count())
  }

  test("compaction preserves rows, shrinks the file list, keeps old snapshots readable") {
    val sink = tmp()
    for (i <- 1 to 3)
      AtomicIncrement.appendIncrementAtomic(
        Seq((i.toLong, s"v$i")).toDF("k", "v"), sink, "k")
    val (vBefore, filesBefore) = AtomicIncrement.snapshot(spark, sink)
    val rowsBefore = AtomicIncrement.readCommitted(spark, sink)
      .collect().map(r => (r.getLong(0), r.getString(1))).sorted.toSeq
    val (nBefore, nAfter) = AtomicIncrement.compact(spark, sink)
    assert(nBefore == filesBefore.size && nAfter < nBefore)
    val rowsAfter = AtomicIncrement.readCommitted(spark, sink)
      .collect().map(r => (r.getLong(0), r.getString(1))).sorted.toSeq
    assert(rowsAfter == rowsBefore)
    // a reader pinned to the pre-compaction version still resolves:
    // its data files were never touched
    val pinned = spark.read.parquet(filesBefore.map(f => s"$sink/$f"): _*)
      .collect().map(r => (r.getLong(0), r.getString(1))).sorted.toSeq
    assert(pinned == rowsBefore)
    assert(AtomicIncrement.snapshot(spark, sink)._1 == vBefore + 1)
    // the watermark survives the rewrite: replaying old rows appends 0
    assert(AtomicIncrement.appendIncrementAtomic(
      Seq((2L, "dup")).toDF("k", "v"), sink, "k") == 0)
    // vacuum reclaims the now-orphaned pre-compaction batch dirs (the
    // documented retention trade) without touching the live snapshot
    assert(AtomicIncrement.vacuumUncommitted(spark, sink) == 3)
    assert(AtomicIncrement.readCommitted(spark, sink)
      .collect().map(r => (r.getLong(0), r.getString(1))).sorted.toSeq
      == rowsBefore)
  }

  test("time travel: every committed version reads back exactly") {
    val sink = tmp()
    for (i <- 1 to 3)
      AtomicIncrement.appendIncrementAtomic(
        Seq((i.toLong, s"v$i")).toDF("k", "v"), sink, "k")
    for (v <- 1L to 3L) {
      val keys = AtomicIncrement.readVersion(spark, sink, v)
        .select("k").as[Long].collect().sorted.toSeq
      assert(keys == (1L to v).toSeq, s"version $v")
    }
    // compaction publishes v4 with the same rows; v3 still readable
    AtomicIncrement.compact(spark, sink)
    assert(AtomicIncrement.readVersion(spark, sink, 3L)
      .select("k").as[Long].collect().sorted.toSeq == Seq(1L, 2L, 3L))
    assert(AtomicIncrement.readVersion(spark, sink, 4L)
      .select("k").as[Long].collect().sorted.toSeq == Seq(1L, 2L, 3L))
    intercept[IllegalArgumentException] {
      AtomicIncrement.readVersion(spark, sink, 99L)
    }
  }

  test("compaction loses the commit race to an appender and cleans up") {
    val sink = tmp()
    AtomicIncrement.appendIncrementAtomic(
      Seq((1L, "a")).toDF("k", "v"), sink, "k")
    intercept[java.util.ConcurrentModificationException] {
      Txn.racing(AtomicIncrement.appendIncrementAtomic(
          Seq((2L, "raced")).toDF("k", "v"), sink, "k")) {
        AtomicIncrement.compact(spark, sink, 1)
      }
    }
    // the interleaved append won; the loser's staged rewrite is gone
    val keys = AtomicIncrement.readCommitted(spark, sink)
      .select("k").as[Long].collect().sorted.toSeq
    assert(keys == Seq(1L, 2L))
    assert(AtomicIncrement.vacuumUncommitted(spark, sink) == 0)
    // re-run converges
    val (_, nAfter) = AtomicIncrement.compact(spark, sink)
    assert(nAfter >= 1 && AtomicIncrement.readCommitted(spark, sink).count() == 2)
  }

  private def loadRanged(sink: String): Unit = {
    // one file per range batch (repartition(1)) so the carried /
    // rewritten counts below are exact; multi-file batches prune the
    // same way, just at file granularity
    for (r <- Seq(1L to 10L, 11L to 20L, 21L to 30L))
      AtomicIncrement.appendIncrementAtomic(
        r.map(k => (k, s"v$k", 1.0 * k)).toDF("k", "v", "x")
          .repartition(1), sink, "k")
  }

  test("merge rewrites ONLY churn-intersecting files: untouched files " +
      "carry into the new manifest verbatim, rows resolve to the " +
      "after-images, and the delta frames replay the change") {
    val sink = tmp()
    loadRanged(sink)
    val before = AtomicIncrement.snapshotEntries(spark, sink)._2
    // churn confined to the third batch's key interval: update 25,
    // insert 31 (brand-new key), delete 27
    val changes = Seq(
      (25L, "UPD", 250.0, false),
      (31L, "NEW", 310.0, false),
      (27L, "", 0.0, true)).toDF("k", "v", "x", "del")
    val res = AtomicIncrement.mergeAtomic(changes, sink, "k", "del")
    assert(res.carried == 2 && res.rewritten == 1,
      s"expected 2 carried + 1 rewritten: $res")
    // carried lines ride verbatim — same path, same stats, no rewrite
    val after = AtomicIncrement.snapshotEntries(spark, sink)._2
    val beforeByPath = before.map(e => e.path -> e).toMap
    val carriedLines = after.filter(e => beforeByPath.contains(e.path))
    assert(carriedLines.size == 2 &&
      carriedLines.forall(e => beforeByPath(e.path) == e),
      "carried manifest lines changed")
    val got = AtomicIncrement.readCommitted(spark, sink)
      .select("k", "v").as[(Long, String)].collect().toMap
    val expect = ((1L to 30L).filterNot(Set(25L, 27L))
      .map(k => k -> s"v$k") ++ Seq(25L -> "UPD", 31L -> "NEW")).toMap
    assert(got == expect, s"merged rows wrong: ${got.toSeq.sorted.take(8)}")
    // the delta frames: after-images = the non-delete changes,
    // before-images = the PRE-merge rows of every churned key (the
    // rollup retraction input) — still readable after the commit
    // because pre-merge files are immutable
    assert(res.upserts.select("k", "v").as[(Long, String)]
      .collect().toSet == Set((25L, "UPD"), (31L, "NEW")))
    assert(res.beforeImages.select("k", "v").as[(Long, String)]
      .collect().toSet == Set((25L, "v25"), (27L, "v27")))
    // time travel: the pre-merge version still reads the old rows
    val old = AtomicIncrement.readVersion(spark, sink, res.version - 1)
      .select("k", "v").as[(Long, String)].collect().toMap
    assert(old == (1L to 30L).map(k => k -> s"v$k").toMap)
  }

  test("merge without usable key stats degrades to rewrite-all — a " +
      "may-contain superset, never a wrong answer") {
    val sink = tmp()
    // the sink's stats column is the watermark ts, NOT the merge key:
    // no file interval can prove key-absence, so every file rewrites
    AtomicIncrement.appendIncrementAtomic(
      (1L to 10L).map(k => (100L + k, k, s"v$k")).toDF("ts", "k", "v"),
      sink, "ts")
    AtomicIncrement.appendIncrementAtomic(
      (11L to 20L).map(k => (100L + k, k, s"v$k")).toDF("ts", "k", "v"),
      sink, "ts")
    val changes = Seq((200L, 5L, "UPD", false), (201L, 15L, "", true))
      .toDF("ts", "k", "v", "del")
    val res = AtomicIncrement.mergeAtomic(changes, sink, "k", "del")
    assert(res.carried == 0, s"carried files without key stats: $res")
    val got = AtomicIncrement.readCommitted(spark, sink)
      .select("k", "v").as[(Long, String)].collect().toMap
    assert(got == ((1L to 20L).filterNot(Set(5L, 15L))
      .map(k => k -> s"v$k") :+ (5L -> "UPD")).toMap)
  }

  test("a merge racing a DISJOINT appender commits on retry with " +
      "zero recomputation (round 17 OCC narrowing)") {
    val sink = tmp()
    loadRanged(sink)
    val v0 = AtomicIncrement.snapshot(spark, sink)._1
    val changes = Seq((25L, "UPD", 250.0, false)).toDF("k", "v", "x", "del")
    // a competing appender commits BETWEEN stage and publish; its
    // [31,31] interval is provably disjoint from the churn {25}, so
    // the merge must land ON TOP of it instead of throwing
    val res = Txn.racing(AtomicIncrement.appendIncrementAtomic(
        Seq((31L, "w", 31.0)).toDF("k", "v", "x").repartition(1),
        sink, "k")) {
      AtomicIncrement.mergeAtomic(changes, sink, "k", "del", 1000000)
    }
    assert(res.version == v0 + 2,
      s"append won v${v0 + 1}, merge must retry onto v${v0 + 2}: $res")
    val got = AtomicIncrement.readCommitted(spark, sink)
      .select("k", "v").as[(Long, String)].collect().toMap
    assert(got(25L) == "UPD" && got(31L) == "w" && got.size == 31,
      "both the winner's append and the retried merge must be visible")
    // hygiene: the only reclaimable dir is the rewritten file's old
    // batch (superseded by the merge), never a leaked staging twin
    assert(AtomicIncrement.vacuumUncommitted(spark, sink) <= 1)
    assert(AtomicIncrement.readCommitted(spark, sink).count() == 31)
  }

  test("OVERLAPPING writers still lose deterministically: a racing " +
      "merge on the same key region, or a racing dv commit, throws " +
      "and cleans the staged batch") {
    val sink = tmp()
    loadRanged(sink)
    val changes = Seq((25L, "UPD", 250.0, false)).toDF("k", "v", "x", "del")
    // the winner REWRITES the very file our merge touched (churn 26
    // lives in the same [21,30] file) — the retry's intact check
    // must refuse
    val ex = intercept[java.util.ConcurrentModificationException] {
      Txn.racing(AtomicIncrement.mergeAtomic(
          Seq((26L, "RACE", 0.0, false)).toDF("k", "v", "x", "del"),
          sink, "k", "del")) {
        AtomicIncrement.mergeAtomic(changes, sink, "k", "del", 1000000)
      }
    }
    assert(ex.getMessage.contains("already committed"))
    // loser left nothing staged beyond the winner's files
    val live = AtomicIncrement.committedFiles(spark, sink).toSet
    val dataRoot = new org.apache.hadoop.fs.Path(s"$sink/_data")
    AtomicIncrement.vacuumUncommitted(spark, sink)
    val batchDirs = fs(sink).listStatus(dataRoot).map(_.getPath.getName).toSet
    assert(batchDirs == live.map(_.split("/")(1)),
      s"staged orphans survived the lost race: $batchDirs vs $live")
    // the winner's row is visible; re-running the merge converges
    val res = AtomicIncrement.mergeAtomic(changes, sink, "k", "del")
    val got = AtomicIncrement.readCommitted(spark, sink)
      .select("k", "v").as[(Long, String)].collect().toMap
    assert(got(25L) == "UPD" && got(26L) == "RACE" && got.size == 30)
    assert(res.rewritten == 1, s"re-run merge lost pruning: $res")
    // a racing MERGE-ON-READ commit (new dv lines) must also lose:
    // the staged rewrite never saw the tombstones
    val ex2 = intercept[java.util.ConcurrentModificationException] {
      Txn.racing(AtomicIncrement.mergeOnReadAtomic(
          Seq((5L, "", 0.0, true)).toDF("k", "v", "x", "del"),
          sink, "k", "del")) {
        AtomicIncrement.mergeAtomic(
          Seq((27L, "UPD2", 0.0, false)).toDF("k", "v", "x", "del"),
          sink, "k", "del", 1000000)
      }
    }
    assert(ex2.getMessage.contains("already committed"))
  }

  test("an APPEND racing a confined merge commits on retry — the " +
      "watermark-bound fingerprint held; a max-raising winner still " +
      "loses") {
    val sink = tmp()
    loadRanged(sink)
    val v0 = AtomicIncrement.snapshot(spark, sink)._1
    // winner: a confined CoW merge updating k=5's value — the gate
    // column's manifest max (30) is untouched, so the staged append
    // is still exactly the fresh set and must land on top
    val n = Txn.racing(AtomicIncrement.mergeAtomic(
        Seq((5L, "U", 0.0, false)).toDF("k", "v", "x", "del"),
        sink, "k", "del")) {
      AtomicIncrement.appendIncrementAtomic(
        Seq((31L, "w", 31.0)).toDF("k", "v", "x").repartition(1),
        sink, "k")
    }
    assert(n == 1L)
    assert(AtomicIncrement.snapshot(spark, sink)._1 == v0 + 2,
      "merge won v+1, the append must retry onto v+2")
    val got = AtomicIncrement.readCommitted(spark, sink)
      .select("k", "v").as[(Long, String)].collect().toMap
    assert(got(5L) == "U" && got(31L) == "w" && got.size == 31)
    // winner RAISING the max (a second appender — a single-writer
    // violation anyway): the fingerprint moves, the loser rethrows
    intercept[java.util.ConcurrentModificationException] {
      Txn.racing(AtomicIncrement.appendIncrementAtomic(
          Seq((50L, "x50", 0.0)).toDF("k", "v", "x").repartition(1),
          sink, "k")) {
        AtomicIncrement.appendIncrementAtomic(
          Seq((40L, "x40", 0.0)).toDF("k", "v", "x").repartition(1),
          sink, "k")
      }
    }
    assert(AtomicIncrement.vacuumUncommitted(spark, sink) <= 1)
  }

  test("a predicate DELETE racing a provably-out-of-scope append " +
      "commits on retry; a may-match append still loses") {
    import org.apache.spark.sql.sources.GreaterThan
    def prune(f: org.apache.spark.sql.sources.Filter)(
        e: AtomicIncrement.ManifestEntry) =
      graft.sources.ManifestPruning.mayMatch(e, f)
    val sink = tmp()
    loadRanged(sink)
    val v0 = AtomicIncrement.snapshot(spark, sink)._1
    // winner appends k = -5 (interval [-5,-5], provably not > 20):
    // the delete's staged survivors stay exact — retry commits
    val res = Txn.racing(AtomicIncrement.appendBlindAtomic(
        Seq((-5L, "w", 0.0)).toDF("k", "v", "x").repartition(1), sink)) {
      AtomicIncrement.deleteWhereAtomic(spark, sink,
        $"k" > 20L, prune(GreaterThan("k", 20L)))
    }
    assert(res.version == v0 + 2, s"delete must retry onto the winner: $res")
    val keys = AtomicIncrement.readCommitted(spark, sink)
      .select("k").as[Long].collect().sorted.toSeq
    assert(keys == (-5L +: (1L to 20L)), s"got $keys")
    // winner appends k = 40 (MAY match k > 15): serializing after it
    // would have to delete that row — the staged rewrite cannot, so
    // the race must throw
    val ex = intercept[java.util.ConcurrentModificationException] {
      Txn.racing(AtomicIncrement.appendBlindAtomic(
          Seq((40L, "w2", 0.0)).toDF("k", "v", "x").repartition(1),
          sink)) {
        AtomicIncrement.deleteWhereAtomic(spark, sink,
          $"k" > 15L, prune(GreaterThan("k", 15L)))
      }
    }
    assert(ex.getMessage.contains("already committed"))
    // re-run applies the delete to the winner's row too — convergence
    AtomicIncrement.deleteWhereAtomic(spark, sink, $"k" > 15L,
      prune(GreaterThan("k", 15L)))
    val after = AtomicIncrement.readCommitted(spark, sink)
      .select("k").as[Long].collect().sorted.toSeq
    assert(after == (-5L +: (1L to 15L)), s"got $after")
  }

  test("multi-column stats: one manifest line carries both the ts " +
      "watermark and the id key — the watermark shortcut, pruned " +
      "range reads on EITHER column, and merge pruning on the " +
      "non-watermark key all engage, and compaction keeps both") {
    val sink = tmp()
    // ts-watermarked increments whose id ranges are ALSO disjoint —
    // the time-clustered table whose surrogate key correlates with
    // arrival (the common CDC shape)
    for (r <- Seq(1L to 10L, 11L to 20L, 21L to 30L))
      AtomicIncrement.appendIncrementAtomic(
        r.map(k => (1000L + k, k, s"v$k")).toDF("ts", "id", "v")
          .repartition(1),
        sink, "ts", extraStatsCols = Seq("id"))
    val (_, entries) = AtomicIncrement.snapshotEntries(spark, sink)
    assert(entries.forall(e => e.statsFor("ts").nonEmpty &&
      e.statsFor("id").nonEmpty), s"missing a stats group: $entries")
    // the watermark still answers from the manifest: replay appends 0
    assert(AtomicIncrement.appendIncrementAtomic(
      (1L to 30L).map(k => (1000L + k, k, s"v$k")).toDF("ts", "id", "v"),
      sink, "ts", extraStatsCols = Seq("id")) == 0)
    // pruned range reads engage on BOTH columns
    for ((c, cut) <- Seq(("ts", 1020L), ("id", 20L))) {
      val pruned = AtomicIncrement.readCommittedAbove(spark, sink, c, cut)
      assert(pruned.inputFiles.length < 3, s"no pruning on $c")
      assert(pruned.filter(col(c) > cut).count() == 10)
    }
    // the merge prunes on the NON-watermark key
    val changes = Seq((2000L, 25L, "UPD", false))
      .toDF("ts", "id", "v", "del")
    val res = AtomicIncrement.mergeAtomic(changes, sink, "id", "del")
    assert(res.carried == 2 && res.rewritten == 1,
      s"merge did not prune on the extra stats column: $res")
    // rewritten files re-record BOTH columns (merge key + covered
    // prior columns), so a second merge and the watermark both still
    // prune
    val (_, after) = AtomicIncrement.snapshotEntries(spark, sink)
    assert(after.forall(e => e.statsFor("ts").nonEmpty &&
      e.statsFor("id").nonEmpty), s"merge dropped a stats group: $after")
    // (the first merge may stage >1 file — partition count of
    // survivors ∪ upserts — so assert structurally: exactly the one
    // file whose id interval holds 5 rewrites, everything else carries)
    val res2 = AtomicIncrement.mergeAtomic(
      Seq((2001L, 5L, "UPD2", false)).toDF("ts", "id", "v", "del"),
      sink, "id", "del")
    assert(res2.rewritten == 1 && res2.carried == after.size - 1,
      s"second merge: $res2")
    // compaction keeps every fully-covered column's stats
    AtomicIncrement.compact(spark, sink, numFiles = 1)
    val (_, compacted) = AtomicIncrement.snapshotEntries(spark, sink)
    assert(compacted.forall(e => e.statsFor("ts").nonEmpty &&
      e.statsFor("id").nonEmpty),
      s"compaction dropped a stats group: $compacted")
    val got = AtomicIncrement.readCommitted(spark, sink)
      .select("id", "v").as[(Long, String)].collect().toMap
    assert(got(25L) == "UPD" && got(5L) == "UPD2" && got.size == 30)
  }

  test("compactClustered restores key locality: interleaved appends " +
      "defeat merge pruning (every interval spans the domain), the " +
      "clustered rewrite brings it back") {
    val sink = tmp()
    // three appends whose key sets INTERLEAVE (k % 3 == r), the shape
    // a table drifts into after random-key churn: every file's id
    // interval spans ~the whole domain
    for (r <- 0L to 2L)
      AtomicIncrement.appendIncrementAtomic(
        (1L to 30L).filter(_ % 3 == r)
          .map(k => (100L * (r + 1) + k, k, s"v$k"))
          .toDF("ts", "id", "v").repartition(1),
        sink, "ts", extraStatsCols = Seq("id"))
    val changes = Seq((200L, 25L, "UPD", false)).toDF("ts", "id", "v", "del")
    val res0 = AtomicIncrement.mergeAtomic(changes, sink, "id", "del")
    assert(res0.carried == 0,
      s"interleaved intervals cannot carry anything: $res0")
    // OPTIMIZE: re-cluster on id into 3 range files
    val (_, nAfter) = AtomicIncrement.compactClustered(
      spark, sink, Seq("id"), numFiles = 3)
    assert(nAfter == 3)
    val (_, entries) = AtomicIncrement.snapshotEntries(spark, sink)
    assert(entries.forall(e => e.statsFor("id").nonEmpty &&
      e.statsFor("ts").nonEmpty), s"clustered rewrite lost stats: $entries")
    // rows preserved, update included
    val got = AtomicIncrement.readCommitted(spark, sink)
      .select("id", "v").as[(Long, String)].collect().toMap
    assert(got.size == 30 && got(25L) == "UPD")
    // the same confined churn now rewrites ONE file and carries the rest
    val res1 = AtomicIncrement.mergeAtomic(
      Seq((201L, 26L, "UPD2", false)).toDF("ts", "id", "v", "del"),
      sink, "id", "del")
    assert(res1.rewritten == 1 && res1.carried == 2,
      s"clustering did not restore pruning: $res1")
    // and a pruned range read engages on the clustered column
    val pruned = AtomicIncrement.readCommittedAbove(spark, sink, "id", 20L)
    assert(pruned.inputFiles.length < 3, "no range pruning after cluster")
  }

  test("readKeyedMayContain opens the churn's locality only, and the " +
      "composed keyed read ≡ full scan under the exact filter") {
    val sink = tmp()
    loadRanged(sink)
    val keyed = AtomicIncrement.readKeyedMayContain(spark, sink, "k",
      Seq(25L, 27L))
    assert(keyed.inputFiles.length == 1,
      s"keyed read opened ${keyed.inputFiles.length} of 3 files")
    assert(keyed.filter(col("k").isin(25L, 27L))
      .select("k", "v").as[(Long, String)].collect().toSet ==
      Set((25L, "v25"), (27L, "v27")))
    // keys nowhere in the table: zero files, schema intact
    val none = AtomicIncrement.readKeyedMayContain(spark, sink, "k",
      Seq(999L))
    assert(none.inputFiles.isEmpty && none.columns.toSeq ==
      Seq("k", "v", "x"))
  }

  test("merge fails LOUDLY on an out-of-family key (float), on null " +
      "keys, and on a string churn against an integral table — never " +
      "the silent wrong table a coerced join would produce") {
    val sink = tmp()
    loadRanged(sink)
    // float/double "keys" have no row identity in either family
    val dblKeyed = Seq((25.0, "UPD", false)).toDF("d", "v", "del")
    val e1 = intercept[IllegalArgumentException] {
      AtomicIncrement.mergeAtomic(dblKeyed, sink, "d", "del")
    }
    assert(e1.getMessage.contains("integral or string"))
    val withNull = Seq((Some(25L), "UPD", false), (None, "X", false))
      .toDF("k", "v", "del")
    val e2 = intercept[IllegalArgumentException] {
      AtomicIncrement.mergeAtomic(withNull, sink, "k", "del")
    }
    assert(e2.getMessage.contains("NULL"))
    // a string-keyed change batch against the LONG-keyed table: legal
    // key family on its own, but joining it against the table would
    // coerce — the family mismatch must fail loudly instead
    val strKeyed = Seq(("25", "UPD", false)).toDF("k", "v", "del")
    val e3 = intercept[IllegalArgumentException] {
      AtomicIncrement.mergeAtomic(strKeyed, sink, "k", "del")
    }
    assert(e3.getMessage.contains("family mismatch"))
    // no attempt moved the table
    assert(AtomicIncrement.readCommitted(spark, sink).count() == 30)
  }

  private def loadRangedStr(sink: String): Unit = {
    // UUID-shaped keys whose byte order tracks the numeric tail; one
    // file per range batch so carried/rewritten counts are exact
    for (r <- Seq(1L to 10L, 11L to 20L, 21L to 30L))
      AtomicIncrement.appendIncrementAtomic(
        r.map(k => (1000L + k, f"ab-4000-$k%012d", s"v$k"))
          .toDF("ts", "guid", "v").repartition(1),
        sink, "ts", extraStatsCols = Seq("guid"))
  }

  test("string-keyed merge: manifest records string interval stats, " +
      "churn-free files carry verbatim, rows resolve to after-images, " +
      "null/mismatch guards hold") {
    val sink = tmp()
    loadRangedStr(sink)
    val before = AtomicIncrement.snapshotEntries(spark, sink)._2
    assert(before.forall(_.statsFor("guid").exists(_.tag == "string")),
      s"string stats missing: $before")
    def guid(k: Long) = f"ab-4000-$k%012d"
    // churn confined to the third batch's guid interval: update 25,
    // insert 31, delete 27 — all on the STRING key
    val changes = Seq(
      (2000L, guid(25), "UPD", false),
      (2001L, guid(31), "NEW", false),
      (2002L, guid(27), "", true)).toDF("ts", "guid", "v", "del")
    val res = AtomicIncrement.mergeAtomic(changes, sink, "guid", "del")
    assert(res.carried == 2 && res.rewritten == 1,
      s"string-interval pruning failed: $res")
    // carried lines ride verbatim — same path, same stats bytes
    val after = AtomicIncrement.snapshotEntries(spark, sink)._2
    val beforeByPath = before.map(e => e.path -> e).toMap
    val carriedLines = after.filter(e => beforeByPath.contains(e.path))
    assert(carriedLines.size == 2 &&
      carriedLines.forall(e => beforeByPath(e.path) == e),
      "carried manifest lines changed")
    val got = AtomicIncrement.readCommitted(spark, sink)
      .select("guid", "v").as[(String, String)].collect().toMap
    val expect = ((1L to 30L).filterNot(Set(25L, 27L))
      .map(k => guid(k) -> s"v$k") ++
      Seq(guid(25) -> "UPD", guid(31) -> "NEW")).toMap
    assert(got == expect, s"merged rows wrong: ${got.toSeq.sorted.take(8)}")
    // before/after delta frames replay the change on the string key
    assert(res.upserts.select("guid", "v").as[(String, String)]
      .collect().toSet == Set((guid(25), "UPD"), (guid(31), "NEW")))
    assert(res.beforeImages.select("guid", "v").as[(String, String)]
      .collect().toSet == Set((guid(25), "v25"), (guid(27), "v27")))
    // rewritten files re-record the string key's stats: a SECOND
    // confined merge still prunes
    val res2 = AtomicIncrement.mergeAtomic(
      Seq((3000L, guid(5), "UPD2", false)).toDF("ts", "guid", "v", "del"),
      sink, "guid", "del")
    assert(res2.rewritten == 1 && res2.carried == after.size - 1,
      s"second string merge lost pruning: $res2")
    // null string key fails loudly, table unmoved
    val withNull = Seq((Some(guid(5)), "X", false), (None, "Y", false))
      .map { case (g, v, d) => (g.orNull, v, d) }
      .toDF("guid", "v", "del")
    val e = intercept[IllegalArgumentException] {
      AtomicIncrement.mergeAtomic(withNull, sink, "guid", "del")
    }
    assert(e.getMessage.contains("NULL"))
  }

  test("string-keyed reads: readKeyedMayContainStr opens the churn's " +
      "locality; compactClustered range-partitions on the string key " +
      "and restores pruning") {
    val sink = tmp()
    loadRangedStr(sink)
    def guid(k: Long) = f"ab-4000-$k%012d"
    val keyed = AtomicIncrement.readKeyedMayContainStr(spark, sink,
      "guid", Seq(guid(25), guid(27)))
    assert(keyed.inputFiles.length == 1,
      s"keyed read opened ${keyed.inputFiles.length} of 3 files")
    assert(keyed.filter(col("guid").isin(guid(25), guid(27)))
      .select("guid", "v").as[(String, String)].collect().toSet ==
      Set((guid(25), "v25"), (guid(27), "v27")))
    val none = AtomicIncrement.readKeyedMayContainStr(spark, sink,
      "guid", Seq("zz-nowhere"))
    assert(none.inputFiles.isEmpty)
    // interleave the key space (a merge-churned table's drift), then
    // OPTIMIZE on the STRING column: intervals tighten, pruning returns
    AtomicIncrement.mergeAtomic(
      Seq((5000L, guid(2), "U2", false), (5001L, guid(22), "U22", false))
        .toDF("ts", "guid", "v", "del"), sink, "guid", "del")
    AtomicIncrement.compactClustered(spark, sink, Seq("guid"),
      numFiles = 3)
    val (_, entries) = AtomicIncrement.snapshotEntries(spark, sink)
    assert(entries.size == 3 &&
      entries.forall(_.statsFor("guid").exists(_.tag == "string")),
      s"clustered rewrite lost string stats: $entries")
    val res = AtomicIncrement.mergeAtomic(
      Seq((6000L, guid(26), "U26", false)).toDF("ts", "guid", "v", "del"),
      sink, "guid", "del")
    assert(res.rewritten == 1 && res.carried == 2,
      s"string clustering did not restore pruning: $res")
    val got = AtomicIncrement.readCommitted(spark, sink)
      .select("guid", "v").as[(String, String)].collect().toMap
    assert(got.size == 30 && got(guid(26)) == "U26" && got(guid(2)) == "U2")
  }

  test("vacuumSuperseded reclaims exactly the files a partial-rewrite " +
      "merge replaced (with their bloom sidecars), leaves live files " +
      "and staging orphans alone, and never moves the snapshot") {
    val sink = tmp()
    // ONE batch holding TWO range-disjoint files: a merge touching one
    // range supersedes one file while its sibling keeps the dir live
    AtomicIncrement.appendIncrementAtomic(
      (1L to 20L).map(k => (k, s"v$k")).toDF("k", "v")
        .repartitionByRange(2, col("k")), sink, "k")
    graft.operators.BloomSkip.ensureSidecars(spark, sink, "k")
    val before = AtomicIncrement.committedFiles(spark, sink)
    assert(before.size == 2, s"fixture wants 2 files: $before")
    val res = AtomicIncrement.mergeAtomic(
      Seq((3L, "UPD", false)).toDF("k", "v", "del"), sink, "k", "del")
    assert(res.carried == 1 && res.rewritten == 1, s"$res")
    val superseded = before.filterNot(
      AtomicIncrement.committedFiles(spark, sink).toSet)
    assert(superseded.size == 1)
    val f = fs(sink)
    def exists(relPath: String) =
      f.exists(new org.apache.hadoop.fs.Path(s"$sink/$relPath"))
    assert(exists(superseded.head) &&
      exists(s"${superseded.head}.bloom-k"),
      "fixture must leave a superseded file + sidecar behind")
    // also leave a staging ORPHAN (a crashed writer): file-level GC
    // must not touch it — that is vacuumUncommitted's job
    val orphan = stageOnly(Seq((99L, "orphan")).toDF("k", "v"), sink)
    assert(AtomicIncrement.vacuumSuperseded(spark, sink) == 1)
    assert(!exists(superseded.head), "superseded file survived")
    assert(!exists(s"${superseded.head}.bloom-k"),
      "dead file's sidecar survived")
    assert(orphan.forall(exists), "file GC touched a staging orphan")
    // live data unchanged; re-run removes nothing
    val got = AtomicIncrement.readCommitted(spark, sink)
      .select("k", "v").as[(Long, String)].collect().toMap
    assert(got.size == 20 && got(3L) == "UPD")
    assert(AtomicIncrement.vacuumSuperseded(spark, sink) == 0)
    // the whole-dir GC still reclaims the orphan afterwards
    assert(AtomicIncrement.vacuumUncommitted(spark, sink) == 1)
  }

  test("STRING watermark: increments keyed by ISO-like strings append " +
      "idempotently off the manifest's byte-ordered max, and the " +
      "string range read prunes ≡ full scan") {
    val sink = tmp()
    def day(d: Int) = f"2026-01-$d%02d"
    def rows(r: Range) = r.map(d => (day(d), s"v$d")).toDF("dt", "v")
    assert(AtomicIncrement.appendIncrementAtomic(
      rows(1 to 10).repartition(1), sink, "dt") == 10)
    assert(AtomicIncrement.appendIncrementAtomic(
      rows(11 to 20).repartition(1), sink, "dt") == 10)
    // stats recorded with the string tag on every file
    val (_, entries) = AtomicIncrement.snapshotEntries(spark, sink)
    assert(entries.forall(_.statsFor("dt").exists(_.tag == "string")),
      s"string watermark stats missing: $entries")
    // replay appends 0 (the manifest shortcut must answer the string
    // max — a wrong byte-order max here re-appends or drops rows)
    assert(AtomicIncrement.appendIncrementAtomic(
      rows(1 to 20), sink, "dt") == 0)
    // a late row below the max is dropped; a fresh one lands
    assert(AtomicIncrement.appendIncrementAtomic(
      rows(15 to 21), sink, "dt") == 1)
    assert(AtomicIncrement.readCommitted(spark, sink).count() == 21)
    // the string range-pruned read: above day 10 opens fewer files,
    // composed read ≡ full scan under the exact filter
    val pruned = AtomicIncrement.readCommittedAboveStr(spark, sink,
      "dt", day(10))
    val full = AtomicIncrement.readCommitted(spark, sink)
    assert(pruned.inputFiles.length < full.inputFiles.length,
      "string range read never pruned")
    assert(pruned.filter(col("dt") > day(10)).select("v")
      .as[String].collect().sorted.toSeq ==
      full.filter(col("dt") > day(10)).select("v")
        .as[String].collect().sorted.toSeq)
    // an impossible cut prunes everything, schema intact
    assert(AtomicIncrement.readCommittedAboveStr(spark, sink,
      "dt", "9999").count() == 0)
  }

  test("STRING watermark with >4KB values: parquet omits the oversized " +
      "binary bounds, the shortcut degrades to the scan — idempotence " +
      "holds with zero pruning, never a wrong watermark") {
    val sink = tmp()
    // 5000-char keys: parquet-mr drops binary chunk stats past its
    // 4096-byte cap rather than truncating, so the manifest line is
    // path-only for dt and every read/append takes the conservative
    // path
    def big(d: Int) = f"2026-01-$d%02d" + ("x" * 5000)
    def rows(r: Range) = r.map(d => (big(d), s"v$d")).toDF("dt", "v")
    assert(AtomicIncrement.appendIncrementAtomic(
      rows(1 to 5).repartition(1), sink, "dt") == 5)
    assert(AtomicIncrement.appendIncrementAtomic(
      rows(1 to 8).repartition(1), sink, "dt") == 3)
    assert(AtomicIncrement.appendIncrementAtomic(rows(1 to 8), sink, "dt") == 0)
    assert(AtomicIncrement.readCommitted(spark, sink).count() == 8)
  }

  test("merge schema evolution: a change batch carrying a NEW column " +
      "lands it (null-filled on survivors and carried files), and the " +
      "evolved table still reads/merges") {
    val sink = tmp()
    loadRanged(sink)
    // the change batch has an extra column the table never saw
    val changes = Seq((25L, "UPD", 250.0, "extra25", false))
      .toDF("k", "v", "x", "note", "del")
    val res = AtomicIncrement.mergeAtomic(changes, sink, "k", "del")
    assert(res.carried == 2 && res.rewritten == 1, s"$res")
    val evolved = AtomicIncrement.readCommitted(spark, sink)
    assert(evolved.columns.toSet == Set("k", "v", "x", "note"))
    val byK = evolved.select("k", "note").as[(Long, Option[String])]
      .collect().toMap
    assert(byK(25L).contains("extra25"), "evolved column lost its value")
    assert(byK(1L).isEmpty && byK(26L).isEmpty,
      "carried/survivor rows must read the evolved column as null")
    // and a second merge over the evolved table works
    val res2 = AtomicIncrement.mergeAtomic(
      Seq((26L, "U2", 1.0, "n26", false)).toDF("k", "v", "x", "note", "del"),
      sink, "k", "del")
    assert(AtomicIncrement.readCommitted(spark, sink)
      .filter(col("k") === 26L).select("note").as[String].head() == "n26")
    assert(res2.staged > 0)
  }

  test("string-keyed merge on Cyrillic/emoji natural keys (the " +
      "reference's person/project names): byte-order pruning stays " +
      "consistent with the join, supplementary chars included") {
    val sink = tmp()
    // three single-file loads clustered by byte order: Latin < Cyrillic
    // < supplementary (U+FFFD and emoji sort ABOVE Cyrillic in bytes —
    // and in UTF-16 they'd interleave differently, which is the trap)
    val groups = Seq(
      Seq("alpha", "beta", "omega"),
      Seq("Проект-А", "Проект-Б", "Сидоров Иван"),
      Seq("�-repl", "😀-emoji"))
    for ((g, gi) <- groups.zipWithIndex)
      AtomicIncrement.appendIncrementAtomic(
        g.zipWithIndex.map { case (n, i) =>
            (100L * (gi + 1) + i, n, s"val-$n") }
          .toDF("ts", "name", "v").repartition(1),
        sink, "ts", extraStatsCols = Seq("name"))
    val (_, entries) = AtomicIncrement.snapshotEntries(spark, sink)
    assert(entries.forall(_.statsFor("name").exists(_.tag == "string")))
    // churn one Cyrillic key: ONLY the Cyrillic file rewrites
    val res = AtomicIncrement.mergeAtomic(
      Seq((200L, "Проект-Б", "ОБНОВЛЁН", false))
        .toDF("ts", "name", "v", "del"), sink, "name", "del")
    assert(res.carried == 2 && res.rewritten == 1,
      s"Cyrillic churn pruning wrong: $res")
    val got = AtomicIncrement.readCommitted(spark, sink)
      .select("name", "v").as[(String, String)].collect().toMap
    assert(got("Проект-Б") == "ОБНОВЛЁН" && got.size == 8)
    // churn the emoji key (supplementary — UTF-16 order would place it
    // BELOW U+FFFD; byte order places it above, matching the stats)
    val res2 = AtomicIncrement.mergeAtomic(
      Seq((201L, "😀-emoji", "updated", false))
        .toDF("ts", "name", "v", "del"), sink, "name", "del")
    assert(res2.rewritten == 1, s"emoji churn: $res2")
    assert(AtomicIncrement.readCommitted(spark, sink)
      .filter(col("name") === "😀-emoji")
      .select("v").as[String].head() == "updated")
    // keyed string locality read on the Cyrillic range
    val keyed = AtomicIncrement.readKeyedMayContainStr(spark, sink,
      "name", Seq("Сидоров Иван"))
    assert(keyed.filter(col("name") === "Сидоров Иван").count() == 1)
  }

  private def loadScd2(sink: String): Unit =
    for (r <- Seq(1L to 10L, 11L to 20L, 21L to 30L))
      AtomicIncrement.appendIncrementAtomic(
        r.map(k => (k, s"v$k", 0L, Option.empty[Long]))
          .toDF("k", "v", "valid_from", "valid_to").repartition(1),
        sink, "k")

  test("SCD2 merge: intervals chain across batches (close + append), " +
      "deletes close without appending, revivals open a new row, only " +
      "churn files rewrite, and version monotonicity is enforced") {
    val sink = tmp()
    loadScd2(sink)
    def hist(k: Long) = AtomicIncrement.readCommitted(spark, sink)
      .filter(col("k") === k)
      .select("v", "valid_from", "valid_to")
      .as[(String, Long, Option[Long])].collect()
      .sortBy(_._2).toSeq
    // batch v=1: update 25, delete 27 — confined to the third file
    val res1 = AtomicIncrement.mergeScd2Atomic(
      Seq((25L, "UPD", 1L, false), (27L, "", 1L, true))
        .toDF("k", "v", "ver", "del"), sink, "k", "ver", "del")
    assert(res1.carried == 2 && res1.rewritten == 1, s"$res1")
    assert(hist(25L) == Seq(("v25", 0L, Some(1L)), ("UPD", 1L, None)),
      s"update chain wrong: ${hist(25L)}")
    assert(hist(27L) == Seq(("v27", 0L, Some(1L))),
      s"delete must close without appending: ${hist(27L)}")
    assert(hist(26L) == Seq(("v26", 0L, None)), "untouched key moved")
    // the delta frames: new open rows + the rows that closed
    assert(res1.upserts.select("k").as[Long].collect().toSeq == Seq(25L))
    assert(res1.beforeImages.select("k", "v").as[(Long, String)]
      .collect().toSet == Set((25L, "v25"), (27L, "v27")))
    // batch v=2: update 25 AGAIN (chains a third row), revive 27,
    // insert brand-new 31
    val res2 = AtomicIncrement.mergeScd2Atomic(
      Seq((25L, "UPD2", 2L, false), (27L, "BACK", 2L, false),
        (31L, "NEW", 2L, false))
        .toDF("k", "v", "ver", "del"), sink, "k", "ver", "del")
    assert(hist(25L) == Seq(("v25", 0L, Some(1L)), ("UPD", 1L, Some(2L)),
      ("UPD2", 2L, None)), s"second update chain wrong: ${hist(25L)}")
    assert(hist(27L) == Seq(("v27", 0L, Some(1L)), ("BACK", 2L, None)),
      s"revival chain wrong: ${hist(27L)}")
    assert(hist(31L) == Seq(("NEW", 2L, None)), "insert lost")
    assert(res2.carried >= 2, s"history files over-rewritten: $res2")
    // exactly one open row per live key; closed history immutable
    val open = AtomicIncrement.readCommitted(spark, sink)
      .filter(col("valid_to").isNull).groupBy("k").count()
      .filter(col("count") > 1).count()
    assert(open == 0, "a key holds two open rows")
    // version monotonicity: re-sending version 1 against an open v=2
    // row would write valid_to=1 < valid_from=2 — must throw, table
    // unmoved
    val before = AtomicIncrement.readCommitted(spark, sink).count()
    val e = intercept[IllegalArgumentException] {
      AtomicIncrement.mergeScd2Atomic(
        Seq((25L, "STALE", 1L, false)).toDF("k", "v", "ver", "del"),
        sink, "k", "ver", "del")
    }
    assert(e.getMessage.contains("valid_to"))
    assert(AtomicIncrement.readCommitted(spark, sink).count() == before)
    // a non-SCD2 table is rejected loudly
    val plain = tmp()
    loadRanged(plain)
    val e2 = intercept[IllegalArgumentException] {
      AtomicIncrement.mergeScd2Atomic(
        Seq((25L, "U", 1L, false)).toDF("k", "v", "ver", "del"),
        plain, "k", "ver", "del")
    }
    assert(e2.getMessage.contains("valid_from"))
  }

  test("merge fences a churn set past maxChurnKeys loudly") {
    val sink = tmp()
    loadRanged(sink)
    val changes = (1L to 9L).map(k => (k, "u", 0.0, false))
      .toDF("k", "v", "x", "del")
    val ex = intercept[IllegalArgumentException] {
      AtomicIncrement.mergeAtomic(changes, sink, "k", "del",
        maxChurnKeys = 8)
    }
    assert(ex.getMessage.contains("churn"))
    // nothing was staged or published
    assert(AtomicIncrement.readCommitted(spark, sink).count() == 30)
  }

  test("compactZordered: one multi-dimensional rewrite restores " +
      "pruning on BOTH independent columns (lexicographic clustering " +
      "cannot serve the trailing one), content and composed-read " +
      "equivalence preserved, non-integral dims rejected loudly") {
    val sink = tmp()
    // two independent uniform dims: c is a permutation of k (coprime
    // multiplier), loads interleaved on k so every file's interval
    // spans BOTH domains and nothing can prune
    def rows(p: Long => Boolean) = (1L to 400L).filter(p)
      .map(k => (k, (k * 193L) % 400L, k * 1.0)).toDF("k", "c", "x")
    for (r <- 0L to 2L)
      AtomicIncrement.appendIncrementAtomic(
        rows(_ % 3 == r).withColumn("b", lit(r)).repartition(1),
        sink, "b", extraStatsCols = Seq("k", "c"))
    val total = AtomicIncrement.committedFiles(spark, sink).size
    val (cutK, cutC) = (350L, 350L)
    def openedK = AtomicIncrement
      .readCommittedAbove(spark, sink, "k", cutK).inputFiles.length
    def openedC = AtomicIncrement
      .readCommittedAbove(spark, sink, "c", cutC).inputFiles.length
    assert(openedK == total && openedC == total,
      "fixture broke: pruning possible before the z-order rewrite")
    val before = AtomicIncrement.readCommitted(spark, sink)
      .select("k", "c").as[(Long, Long)].collect().sorted.toSeq
    val (nb, na) = AtomicIncrement.compactZordered(spark, sink, Seq("k", "c"),
      numFiles = 8)
    assert(nb == total && na >= 1)
    val total2 = AtomicIncrement.committedFiles(spark, sink).size
    assert(openedK < total2, "z-order did not restore pruning on k")
    assert(openedC < total2, "z-order did not restore pruning on c")
    // content untouched, and the composed pruned read ≡ full filter
    val after = AtomicIncrement.readCommitted(spark, sink)
      .select("k", "c").as[(Long, Long)].collect().sorted.toSeq
    assert(after == before)
    for ((col0, cut) <- Seq("k" -> cutK, "c" -> cutC)) {
      val pruned = AtomicIncrement
        .readCommittedAbove(spark, sink, col0, cut)
        .filter(col(col0) > cut).select("k").as[Long].collect().sorted.toSeq
      val full = AtomicIncrement.readCommitted(spark, sink)
        .filter(col(col0) > cut).select("k").as[Long].collect().sorted.toSeq
      assert(pruned == full, s"pruned read diverged on $col0")
    }
    // a non-integral dimension has no bucket grid — loud
    val e = intercept[IllegalArgumentException] {
      AtomicIncrement.compactZordered(spark, sink, Seq("k", "x"))
    }
    assert(e.getMessage.contains("integral"))
  }

  test("time travel by TIMESTAMP: readVersionAsOf resolves the latest " +
      "manifest at or before the instant (mtime = commit time), and a " +
      "pre-table instant throws") {
    val sink = tmp()
    AtomicIncrement.appendIncrementAtomic(
      Seq((1L, "a")).toDF("k", "v"), sink, "k")
    Thread.sleep(30)
    val between = System.currentTimeMillis()
    Thread.sleep(30)
    AtomicIncrement.appendIncrementAtomic(
      Seq((2L, "b")).toDF("k", "v"), sink, "k")
    assert(AtomicIncrement.readVersionAsOf(spark, sink, between)
      .select("k").as[Long].collect().toSeq == Seq(1L))
    assert(AtomicIncrement.readVersionAsOf(spark, sink,
      System.currentTimeMillis()).count() == 2)
    intercept[IllegalArgumentException] {
      AtomicIncrement.readVersionAsOf(spark, sink, between - 3600000L)
    }
  }

  test("expireManifests bounds the retention horizon: versions below " +
      "it are gone LOUDLY (time travel and feed windows throw), the " +
      "latest snapshot and every kept version read unchanged") {
    val sink = tmp()
    for (i <- 1 to 5)
      AtomicIncrement.appendIncrementAtomic(
        Seq((i.toLong, s"v$i")).toDF("k", "v"), sink, "k")
    assert(AtomicIncrement.expireManifests(spark, sink, keepLast = 2) == 3)
    // latest + kept versions unaffected
    assert(AtomicIncrement.readCommitted(spark, sink).count() == 5)
    assert(AtomicIncrement.readVersion(spark, sink, 4L).count() == 4)
    // expired versions fail the contract error, never a wrong answer
    intercept[IllegalArgumentException] {
      AtomicIncrement.readVersion(spark, sink, 3L)
    }
    intercept[IllegalArgumentException] {
      AtomicIncrement.changesBetween(spark, sink, 2L, 5L)
    }
    // windows fully above the horizon still feed
    val (p, m) = AtomicIncrement.changesBetween(spark, sink, 4L, 5L)
    assert(p.count() == 1 && m.count() == 0)
    // appends continue above the horizon (watermark intact)
    assert(AtomicIncrement.appendIncrementAtomic(
      Seq((3L, "dup")).toDF("k", "v"), sink, "k") == 0)
    assert(AtomicIncrement.expireManifests(spark, sink, 1) == 1)
    assert(AtomicIncrement.readCommitted(spark, sink).count() == 5)
  }

  test("change data feed: the manifest diff is an exact multiset " +
      "delta — appends feed only plus, a copy-on-write merge puts the " +
      "rewritten file's survivors on BOTH sides, and v1 + plus − minus " +
      "telescopes to exactly the v2 rows") {
    val sink = tmp()
    loadRanged(sink)
    val v1 = AtomicIncrement.snapshot(spark, sink)._1
    // bootstrap feed: 0 → v1 is the whole snapshot, nothing retracts
    val (p0, m0) = AtomicIncrement.changesBetween(spark, sink, 0L, v1)
    assert(m0.count() == 0 && p0.count() == 30)
    // a same-version feed is the empty delta
    val (pSame, mSame) = AtomicIncrement.changesBetween(spark, sink, v1, v1)
    assert(pSame.count() == 0 && mSame.count() == 0)
    // forward-only
    intercept[IllegalArgumentException] {
      AtomicIncrement.changesBetween(spark, sink, v1, v1 - 1)
    }
    // copy-on-write merge confined to the third file's interval
    val changes = Seq((25L, "UPD", 250.0, false), (27L, "", 0.0, true))
      .toDF("k", "v", "x", "del")
    val res = AtomicIncrement.mergeAtomic(changes, sink, "k", "del")
    assert(res.carried == 2 && res.rewritten == 1)
    val v2 = AtomicIncrement.snapshot(spark, sink)._1
    val (plus, minus) = AtomicIncrement.changesBetween(spark, sink, v1, v2)
    // file-grained, not row-grained: the whole old third file (10
    // rows) retracts; its 8 survivors + the upsert (9 rows) add back
    assert(minus.count() == 10, s"minus carried ${minus.count()} rows")
    assert(plus.count() == 9, s"plus carried ${plus.count()} rows")
    // multiset telescoping
    def rowsOf(df: org.apache.spark.sql.DataFrame) =
      df.select("k", "v").as[(Long, String)].collect().toSeq
    val counts = scala.collection.mutable.Map[(Long, String), Int]()
      .withDefaultValue(0)
    rowsOf(AtomicIncrement.readVersion(spark, sink, v1))
      .foreach(r => counts(r) += 1)
    rowsOf(plus).foreach(r => counts(r) += 1)
    rowsOf(minus).foreach(r => counts(r) -= 1)
    val fed = counts.filter(_._2 != 0).toMap
    val v2Bag = rowsOf(AtomicIncrement.readCommitted(spark, sink))
      .groupBy(identity).view.mapValues(_.size).toMap
    assert(fed == v2Bag, s"feed did not telescope: ${fed.toSeq.sorted
      .take(5)} vs ${v2Bag.toSeq.sorted.take(5)}")
  }

  test("z-order generalizes to N dimensions (round 14): three " +
      "independent integral columns all prune after ONE rewrite") {
    val sink = tmp()
    def rows(p: Long => Boolean) = (1L to 400L).filter(p)
      .map(k => (k, (k * 193L) % 400L, (k * 211L) % 400L, k * 1.0))
      .toDF("k", "c", "d", "x")
    for (r <- 0L to 2L)
      AtomicIncrement.appendIncrementAtomic(
        rows(_ % 3 == r).withColumn("b", lit(r)).repartition(1),
        sink, "b", extraStatsCols = Seq("k", "c", "d"))
    val total = AtomicIncrement.committedFiles(spark, sink).size
    def opened(c0: String) = AtomicIncrement
      .readCommittedAbove(spark, sink, c0, 350L).inputFiles.length
    for (c0 <- Seq("k", "c", "d"))
      assert(opened(c0) == total, s"fixture broke: $c0 pruned before")
    val before = AtomicIncrement.readCommitted(spark, sink)
      .select("k").as[Long].collect().sorted.toSeq
    AtomicIncrement.compactZordered(spark, sink, Seq("k", "c", "d"), 8)
    val total2 = AtomicIncrement.committedFiles(spark, sink).size
    for (c0 <- Seq("k", "c", "d"))
      assert(opened(c0) < total2, s"no pruning on $c0 after 3-dim z-order")
    assert(AtomicIncrement.readCommitted(spark, sink)
      .select("k").as[Long].collect().sorted.toSeq == before)
    // the z-key budget is enforced loudly: 16 bits x 4 dims > 62
    val e = intercept[IllegalArgumentException] {
      AtomicIncrement.compactZordered(spark, sink,
        Seq("k", "c", "d", "k"), 8, 16)
    }
    assert(e.getMessage.contains("62-bit"))
  }

  test("z-order bucket math is overflow-safe (round 14): a span past " +
      "2^62 grids correctly — the multiply-first form wrapped to " +
      "garbage buckets and lost the layout") {
    val sink = tmp()
    val big = 1L << 61
    // two key clusters at the extremes of a ~2^62 span; c is uniform
    // within each batch so only k's grid can separate the clusters
    def rows(r: Long) =
      ((1L to 100L).map(i => (-big + i * 1000L + r, (i * 193L) % 200L,
        1.0)) ++
       (1L to 100L).map(i => (big - i * 1000L - r, (i * 211L) % 200L,
        1.0))).toDF("k", "c", "x")
    for (r <- 0L to 1L)
      AtomicIncrement.appendIncrementAtomic(
        rows(r).withColumn("b", lit(r)).repartition(1),
        sink, "b", extraStatsCols = Seq("k", "c"))
    val total = AtomicIncrement.committedFiles(spark, sink).size
    def openedAbove0 = AtomicIncrement
      .readCommittedAbove(spark, sink, "k", 0L).inputFiles.length
    assert(openedAbove0 == total,
      "fixture broke: clusters separated before the rewrite")
    val before = AtomicIncrement.readCommitted(spark, sink)
      .select("k").as[Long].collect().sorted.toSeq
    AtomicIncrement.compactZordered(spark, sink, Seq("k", "c"), 4)
    assert(openedAbove0 <
      AtomicIncrement.committedFiles(spark, sink).size,
      "huge-span grid did not separate the clusters (overflow wrap?)")
    assert(AtomicIncrement.readCommitted(spark, sink)
      .select("k").as[Long].collect().sorted.toSeq == before)
  }

  test("z-order STRING dimension (round 14): the grid strips the " +
      "table-wide common prefix before bucketing, so a constant-" +
      "prefixed key space prunes on its varying suffix") {
    val sink = tmp()
    def key(i: Long) = "item-" + "%06d".format(i)
    def rows(p: Long => Boolean) = (1L to 300L).filter(p)
      .map(i => (key(i), (i * 193L) % 300L, i * 1.0))
      .toDF("okey", "c", "x")
    for (r <- 0L to 2L)
      AtomicIncrement.appendIncrementAtomic(
        rows(_ % 3 == r).withColumn("b", lit(r)).repartition(1),
        sink, "b", extraStatsCols = Seq("okey", "c"))
    val total = AtomicIncrement.committedFiles(spark, sink).size
    val cutS = key(250L)
    def openedS = AtomicIncrement
      .readCommittedAboveStr(spark, sink, "okey", cutS).inputFiles.length
    def openedC = AtomicIncrement
      .readCommittedAbove(spark, sink, "c", 250L).inputFiles.length
    assert(openedS == total && openedC == total,
      "fixture broke: pruning possible before the rewrite")
    val before = AtomicIncrement.readCommitted(spark, sink)
      .select("okey").as[String].collect().sorted.toSeq
    AtomicIncrement.compactZordered(spark, sink, Seq("okey", "c"), 8)
    val total2 = AtomicIncrement.committedFiles(spark, sink).size
    assert(openedS < total2,
      "string dim did not prune — common prefix not stripped?")
    assert(openedC < total2, "integral dim lost pruning beside a string")
    // composed equivalence on the string cut
    val pruned = AtomicIncrement
      .readCommittedAboveStr(spark, sink, "okey", cutS)
      .filter(col("okey") > cutS).select("okey").as[String]
      .collect().sorted.toSeq
    assert(pruned == before.filter(_ > cutS))
  }

  test("z-order bounds over TRUNCATED string footer stats equal the " +
      "scan path's: a min/max at parquet.statistics.truncate.length is " +
      "refused and the bounds pass scans") {
    val truncKey = "parquet.statistics.truncate.length"
    def key(i: Long) = "item-" + "%06d".format(i)
    val rows = (1L to 300L).map(i => (key(i), (i * 193L) % 300L))
      .toDF("okey", "c")
    // the same three appends into a fresh sink, z-ordered on (okey, c);
    // returns the okey set of every file the rewrite committed
    def layout(statsCols: Seq[String]): Set[Set[String]] = {
      val sink = tmp()
      for (r <- 0L to 2L)
        AtomicIncrement.appendIncrementAtomic(
          rows.filter(col("c") % 3 === r).withColumn("b", lit(r))
            .repartition(1), sink, "b", extraStatsCols = statsCols)
      if (statsCols.contains("okey")) {
        // fixture guard: the staged manifest really carries bounds cut
        // to the 8-byte truncate length
        val (_, entries) = AtomicIncrement.snapshotEntries(spark, sink)
        val maxLens = entries.flatMap(_.statsFor("okey"))
          .map(s => java.util.Base64.getDecoder.decode(s.max).length)
        assert(maxLens.nonEmpty && maxLens.forall(_ == 8),
          s"stats not truncated: $maxLens")
      }
      AtomicIncrement.compactZordered(spark, sink, Seq("okey", "c"), 8)
      AtomicIncrement.committedFiles(spark, sink).map(p =>
        spark.read.parquet(s"$sink/$p").select("okey").as[String]
          .collect().toSet).toSet
    }
    spark.conf.set(truncKey, "8")
    try {
      // okey stats-covered → manifest path; okey uncovered → the scan
      val viaStats = layout(Seq("okey", "c"))
      val viaScan = layout(Seq("c"))
      assert(viaStats.size > 1 && viaStats.flatten.size == 300)
      val sameGrid = viaStats == viaScan
      assert(sameGrid, "truncated string stats skewed the z-order grid")
    } finally spark.conf.unset(truncKey)
  }

  test("string watermarks under a set parquet.statistics.truncate.length " +
      "refuse the cut bounds: each append and fold takes the next batch, " +
      "and statsAggregate answers None or the exact bounds") {
    import graft.operators.IncrementalAgg
    val truncKey = "parquet.statistics.truncate.length"
    def batch(ts: String) = Seq((ts, 1L)).toDF("ts", "x")
    def tsOf(df: org.apache.spark.sql.DataFrame) =
      df.select("ts").as[String].collect().sorted.toSeq
    // (writer, one batch into the sink → rows taken, the sink's ts
    // values as a scan reads them)
    val cases = Seq[(String, (org.apache.spark.sql.DataFrame, String) => Long,
        String => Seq[String])](
      ("appendIncrementAtomic",
        (df, sink) => AtomicIncrement.appendIncrementAtomic(df, sink, "ts"),
        sink => tsOf(AtomicIncrement.readCommitted(spark, sink))),
      ("IncrementalAgg.mergeBatch (string __wm)",
        (df, sink) => IncrementalAgg.mergeBatch(df, sink, Seq("ts"),
          Seq("x"), "ts"),
        sink => tsOf(IncrementalAgg.readState(spark, sink))))
    // (first, second batch, byte length of the recorded cut bounds):
    // 13-byte ASCII values cut at 8 bytes, and values whose cut lands
    // inside the 2-byte "é", which parquet backs off to 7 bytes
    val pairs = Seq(("2024-01-01T10", "2024-01-02T00", 8),
      ("2024-01\u00e91", "2024-01\u00e92", 7))
    spark.conf.set(truncKey, "8")
    try for ((first, second, cutLen) <- pairs) {
      // rows taken by: the first batch, the second, a replay of it
      val results = for ((name, write, scan) <- cases) yield {
        val sink = tmp()
        val taken = Seq(first, second, second).map(ts => write(batch(ts), sink))
        (name, taken, scan(sink))
      }
      // statsAggregate over one batch: its min and max are both `first`
      val sink = tmp()
      AtomicIncrement.appendIncrementAtomic(batch(first), sink, "ts")
      // fixture guard: the manifest really carries cut bounds
      val (_, entries) = AtomicIncrement.snapshotEntries(spark, sink)
      assert(entries.flatMap(_.statsFor("ts")).map(s =>
        java.util.Base64.getDecoder.decode(s.max).length) == Seq(cutLen))
      val bounds = AtomicIncrement.statsAggregate(spark, sink, Seq("ts"))
        .map(_.head()).map(r => (r.getAs[String]("min_ts"),
          r.getAs[String]("max_ts")))
      val all = s"appends/folds: $results; statsAggregate: $bounds"
      for ((name, taken, rows) <- results) {
        assert(taken == Seq(1L, 1L, 0L), s"$name took $taken; $all")
        assert(rows == Seq(first, second), name)
      }
      assert(bounds.forall(_ == ((first, first))), all)
    } finally spark.conf.unset(truncKey)
  }

  test("readVersionAsOf prefers the manifest-embedded commit stamp " +
      "(round 14): a restore that scrambles every mtime leaves the " +
      "mapping intact; pre-stamp manifests fall back to mtime") {
    val sink = tmp()
    val times = (1 to 3).map { i =>
      AtomicIncrement.appendIncrementAtomic(
        Seq((i.toLong, s"v$i")).toDF("k", "v"), sink, "k")
      Thread.sleep(25)
      System.currentTimeMillis()
    }
    val fs = new org.apache.hadoop.fs.Path(sink)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val mdir = new org.apache.hadoop.fs.Path(sink, "_graft_manifest")
    val mfs = fs.listStatus(mdir).map(_.getPath)
      .filterNot(_.getName.startsWith(".")).sortBy(_.getName)
    // the backup-restore shape: every mtime rewritten, order INVERTED
    val far = System.currentTimeMillis() + 86400000L
    mfs.zipWithIndex.foreach { case (p, i) =>
      fs.setTimes(p, far + (mfs.length - i) * 3600000L, -1) }
    for (i <- 1 to 3)
      assert(AtomicIncrement.readVersionAsOf(spark, sink, times(i - 1))
        .count() == i, s"asOf mapping shifted after restore at v$i")
    // pre-stamp manifests (the r13 format): strip the meta line —
    // resolution falls back to the (now meaningful) mtime
    val sink2 = tmp()
    for (i <- 1 to 2)
      AtomicIncrement.appendIncrementAtomic(
        Seq((i.toLong, s"v$i")).toDF("k", "v"), sink2, "k")
    val fs2 = new org.apache.hadoop.fs.Path(sink2)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val mdir2 = new org.apache.hadoop.fs.Path(sink2, "_graft_manifest")
    val mfs2 = fs2.listStatus(mdir2).map(_.getPath)
      .filterNot(_.getName.startsWith(".")).sortBy(_.getName)
    for (p <- mfs2) {
      val in = fs2.open(p)
      val body = try scala.io.Source.fromInputStream(in, "UTF-8")
        .getLines().filterNot(_.startsWith("__graft_commit")).mkString("\n")
      finally in.close()
      fs2.delete(p, false)
      val out = fs2.create(p, false)
      try out.write(body.getBytes("UTF-8")) finally out.close()
    }
    val t0 = System.currentTimeMillis() + 86400000L
    fs2.setTimes(mfs2(0), t0, -1)
    fs2.setTimes(mfs2(1), t0 + 60000L, -1)
    assert(AtomicIncrement.readVersionAsOf(spark, sink2, t0 + 30000L)
      .count() == 1, "pre-stamp manifest did not fall back to mtime")
    assert(AtomicIncrement.readVersionAsOf(spark, sink2, t0 + 90000L)
      .count() == 2)
  }

  test("vacuumUncommitted age guard (round 14): a freshly staged " +
      "batch dir survives a concurrent pass, an aged orphan reclaims, " +
      "and the strict default still collects everything") {
    val sink = tmp()
    AtomicIncrement.appendIncrementAtomic(
      Seq((1L, "a")).toDF("k", "v"), sink, "k")
    val fs = new org.apache.hadoop.fs.Path(sink)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // a concurrent writer's in-flight stage (or seconds-old crash debris)
    stageOnly(Seq((2L, "b")).toDF("k", "v"), sink)
    assert(AtomicIncrement.vacuumUncommitted(spark, sink,
      minAgeMillis = 3600000L) == 0,
      "age guard reclaimed a fresh staged dir")
    assert(AtomicIncrement.readCommitted(spark, sink).count() == 1)
    // age the orphan past the guard — now it reclaims
    val dataRoot = new org.apache.hadoop.fs.Path(sink, "_data")
    val live = AtomicIncrement.committedFiles(spark, sink)
      .map(_.split("/")(1)).toSet
    val orphan = fs.listStatus(dataRoot).map(_.getPath)
      .filter(p => p.getName.startsWith("batch-") &&
        !live.contains(p.getName)).head
    fs.setTimes(orphan, System.currentTimeMillis() - 7200000L, -1)
    assert(AtomicIncrement.vacuumUncommitted(spark, sink,
      minAgeMillis = 3600000L) == 1)
    // strict default (0): immediate reclaim, the crash-matrix contract
    stageOnly(Seq((3L, "c")).toDF("k", "v"), sink)
    assert(AtomicIncrement.vacuumUncommitted(spark, sink) == 1)
  }

  test("compactSmall (round 14): only sub-threshold files bin-pack — " +
      "the well-formed file's manifest line rides byte-identical, " +
      "packing is cluster-preserving, content invariant, and fewer " +
      "than two small files is a no-op without a publish") {
    val sink = tmp()
    // one big file (keys 1..60) + four single-row small appends
    AtomicIncrement.appendIncrementAtomic(
      (1L to 60L).map(k => (k, s"v$k", 1.0 * k)).toDF("k", "v", "x")
        .repartition(1), sink, "k")
    for (k <- 61L to 64L)
      AtomicIncrement.appendIncrementAtomic(
        Seq((k, s"v$k", 1.0 * k)).toDF("k", "v", "x").repartition(1),
        sink, "k")
    val fs = new org.apache.hadoop.fs.Path(sink)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val linesBefore = AtomicIncrement.snapshotSplit(spark, sink)._2
      .map(_.render)
    val sizes = AtomicIncrement.committedFiles(spark, sink).map(f =>
      f -> fs.getFileStatus(
        new org.apache.hadoop.fs.Path(s"$sink/$f")).getLen).toMap
    val bigPath = sizes.maxBy(_._2)._1
    // threshold = the big file's own size: `< smallBytes` keeps the
    // big file out however close the parquet overheads run
    val thresh = sizes(bigPath)
    val (rew, staged) = AtomicIncrement.compactSmall(spark, sink,
      thresh, targetFiles = 1, keyCol = Some("k"))
    assert(rew == 4 && staged == 1, s"expected (4,1), got ($rew,$staged)")
    val (_, dataE, _) = AtomicIncrement.snapshotSplit(spark, sink)
    // the big file's line is byte-identical; packed region prunes
    val bigLine = linesBefore.find(_.startsWith(bigPath + "\t"))
      .getOrElse(fail(s"big file $bigPath not in the prior manifest"))
    assert(dataE.map(_.render).contains(bigLine),
      "big file's manifest line changed across compactSmall")
    assert(AtomicIncrement.readCommitted(spark, sink)
      .select("k").as[Long].collect().sorted.toSeq == (1L to 64L))
    assert(AtomicIncrement.readCommittedAbove(spark, sink, "k", 60L)
      .inputFiles.length < dataE.size,
      "packed small region lost its key interval")
    // one remaining small file: nothing to bin, no version published
    val v = AtomicIncrement.snapshot(spark, sink)._1
    assert(AtomicIncrement.compactSmall(spark, sink, thresh) == ((0, 0)))
    assert(AtomicIncrement.snapshot(spark, sink)._1 == v)
  }

  test("delete-vector locality (round 14): dv lines carry the " +
      "churn's key interval, so reads of provably-disjoint files " +
      "skip the anti-join entirely — and the masked region still " +
      "resolves exactly") {
    val sink = tmp()
    for (r <- Seq(1L to 10L, 11L to 20L, 21L to 30L))
      AtomicIncrement.appendIncrementAtomic(
        r.map(k => (k, s"v$k", 1.0 * k)).toDF("k", "v", "x")
          .repartition(1), sink, "k")
    AtomicIncrement.mergeOnReadAtomic(
      Seq((25L, "", 0.0, true)).toDF("k", "v", "x", "del"),
      sink, "k", "del")
    // a locality read entirely OUTSIDE the churn: no join in the plan
    val clean = AtomicIncrement.readKeyedMayContain(spark, sink,
      "k", Seq(5L))
    assert(!clean.queryExecution.optimizedPlan.toString.contains("Join"),
      "dv anti-join taxed a read of provably-unmasked files:\n" +
        clean.queryExecution.optimizedPlan.toString.take(400))
    assert(clean.filter(col("k") === 5L).count() == 1)
    // the masked region still pays (and resolves) its anti-join
    val hot = AtomicIncrement.readKeyedMayContain(spark, sink,
      "k", Seq(25L))
    assert(hot.queryExecution.optimizedPlan.toString.contains("Join"))
    assert(hot.filter(col("k") === 25L).count() == 0)
    assert(AtomicIncrement.readCommitted(spark, sink).count() == 29)
  }

  test("readGroupLocality (round 14): composite group keys intersect " +
      "per-column interval prunes — files opened < committed for a " +
      "two-column churn; NULL tuples and the fence degrade to the " +
      "full snapshot, never a wrong superset") {
    val sink = tmp()
    // three range-loaded files; BOTH group columns carry stats
    for (r <- 0L to 2L)
      AtomicIncrement.appendIncrementAtomic(
        (r * 10 + 1 to r * 10 + 10)
          .map(i => (i, i * 2, s"v$i")).toDF("g1", "g2", "v")
          .withColumn("b", lit(r)).repartition(1),
        sink, "b", extraStatsCols = Seq("g1", "g2"))
    val total = AtomicIncrement.committedFiles(spark, sink).size
    import spark.implicits._
    // churn confined to the third file's tuples
    val plus = Seq((25L, 50L, "x")).toDF("g1", "g2", "v")
    val minus = Seq((27L, 54L, "y")).toDF("g1", "g2", "v")
    val local = AtomicIncrement.readGroupLocality(spark, sink,
      Seq("g1", "g2"), Seq(plus, minus))
    assert(local.inputFiles.length < total,
      "composite-group locality read opened the whole table")
    assert(local.filter(col("g1") === 25L).count() == 1)
    // a NULL in one column's churned values disables THAT column's
    // prune; the other still narrows the read
    val plusNull = Seq((25L, Option.empty[Long], "x"))
      .toDF("g1", "g2", "v")
    val localNull = AtomicIncrement.readGroupLocality(spark, sink,
      Seq("g1", "g2"), Seq(plusNull, minus))
    assert(localNull.inputFiles.length < total,
      "g1 should still prune when g2's churn carries a null")
    // fence: past maxGroupKeys the read degrades to the full snapshot
    val f0 = AtomicIncrement.groupFenceFallbacks.get()
    val wide = (1L to 30L).map(i => (i, i * 2, "w")).toDF("g1", "g2", "v")
    val fenced = AtomicIncrement.readGroupLocality(spark, sink,
      Seq("g1", "g2"), Seq(wide, minus), maxGroupKeys = 5)
    assert(AtomicIncrement.groupFenceFallbacks.get() == f0 + 1,
      "group fence did not trip")
    assert(fenced.inputFiles.length == total)
    assert(fenced.count() == 30)
  }

  test("write-audit-publish (round 14): a rejected batch leaves no " +
      "version, no rows, and no orphan dir; a passing batch ≡ the " +
      "plain append; an audit crash cleans up too") {
    val sink = tmp()
    def dataDirs(): Int = {
      val root = new org.apache.hadoop.fs.Path(sink, "_data")
      if (!fs(sink).exists(root)) 0
      else fs(sink).listStatus(root).count(_.getPath.getName
        .startsWith("batch-"))
    }
    val gate: org.apache.spark.sql.DataFrame => Boolean =
      st => st.filter(col("v") < 0).isEmpty
    // pass: identical to a plain append
    assert(AtomicIncrement.appendAuditedAtomic(
      Seq((1L, 10L), (2L, 20L)).toDF("k", "v"), sink, "k")(gate)
      .contains(2L))
    val v1 = AtomicIncrement.snapshot(spark, sink)._1
    // reject: version frozen, rows invisible, staged dir GONE (not
    // waiting for vacuum)
    val before = dataDirs()
    assert(AtomicIncrement.appendAuditedAtomic(
      Seq((3L, -5L)).toDF("k", "v"), sink, "k")(gate).isEmpty)
    assert(AtomicIncrement.snapshot(spark, sink)._1 == v1)
    assert(dataDirs() == before, "rejected batch left an orphan dir")
    assert(AtomicIncrement.readCommitted(spark, sink).count() == 2)
    // an audit that THROWS cleans up the same way
    intercept[RuntimeException](AtomicIncrement.appendAuditedAtomic(
      Seq((4L, 1L)).toDF("k", "v"), sink, "k")(
      _ => throw new RuntimeException("audit infra down")))
    assert(dataDirs() == before && AtomicIncrement
      .snapshot(spark, sink)._1 == v1)
    // the watermark contract is untouched: the rejected key's range
    // re-arrives clean and publishes; a pure replay audits nothing
    var audits = 0
    assert(AtomicIncrement.appendAuditedAtomic(
      Seq((3L, 5L)).toDF("k", "v"), sink, "k")(
      st => { audits += 1; gate(st) }).contains(1L))
    assert(audits == 1)
    assert(AtomicIncrement.appendAuditedAtomic(
      Seq((3L, 5L)).toDF("k", "v"), sink, "k")(
      st => { audits += 1; gate(st) }).contains(0L))
    assert(audits == 1, "a zero-row replay must not stage or audit")
  }

  test("tags (round 14): a tag pins its snapshot through compaction, " +
      "vacuum, and manifest expiry; dropTag releases the pins; " +
      "immutability and path-safety are enforced") {
    val sink = tmp()
    AtomicIncrement.appendIncrementAtomic(
      (1L to 10L).map(k => (k, s"v$k")).toDF("k", "v"), sink, "k")
    val v1 = AtomicIncrement.snapshot(spark, sink)._1
    AtomicIncrement.tagVersion(spark, sink, "q3-train", v1)
    AtomicIncrement.appendIncrementAtomic(
      (11L to 20L).map(k => (k, s"v$k")).toDF("k", "v"), sink, "k")
    // full maintenance: rewrite + expiry + both vacuums
    AtomicIncrement.compact(spark, sink, 1)
    AtomicIncrement.expireManifests(spark, sink, 1)
    AtomicIncrement.vacuumSuperseded(spark, sink)
    AtomicIncrement.vacuumUncommitted(spark, sink)
    // the tagged snapshot is fully readable — exactly version 1
    assert(AtomicIncrement.readTag(spark, sink, "q3-train")
      .select("k").as[Long].collect().sorted.toSeq == (1L to 10L))
    assert(AtomicIncrement.readCommitted(spark, sink).count() == 20)
    // an UNTAGGED intermediate version expired: only the tagged one
    // and the latest survive retention
    val mdir = new org.apache.hadoop.fs.Path(sink, "_graft_manifest")
    val kept = fs(sink).listStatus(mdir)
      .flatMap(_.getPath.getName.toLongOption).sorted.toSeq
    assert(kept.contains(v1) && kept.size == 2,
      s"retention kept the wrong versions: $kept")
    // immutability + path safety
    intercept[IllegalArgumentException](
      AtomicIncrement.tagVersion(spark, sink, "q3-train", v1 + 1))
    intercept[IllegalArgumentException](
      AtomicIncrement.tagVersion(spark, sink, "../escape", v1))
    // a '.'-prefixed name would resolve in readTag but PIN NOTHING
    // (tags() skips the temp-file namespace) — refused up front
    intercept[IllegalArgumentException](
      AtomicIncrement.tagVersion(spark, sink, ".hidden", v1))
    intercept[IllegalArgumentException](
      AtomicIncrement.tagVersion(spark, sink, "nope", 999L))
    AtomicIncrement.tagVersion(spark, sink, "q3-train",
      AtomicIncrement.snapshot(spark, sink)._1, replace = true)
    assert(AtomicIncrement.readTag(spark, sink, "q3-train").count() == 20)
    // dropping the pin lets maintenance reclaim the old snapshot
    assert(AtomicIncrement.dropTag(spark, sink, "q3-train"))
    assert(!AtomicIncrement.dropTag(spark, sink, "q3-train"))
    AtomicIncrement.expireManifests(spark, sink, 1)
    AtomicIncrement.vacuumUncommitted(spark, sink)
    intercept[IllegalArgumentException](
      AtomicIncrement.readTag(spark, sink, "q3-train"))
  }

  test("a corrupted tag ref fails maintenance LOUDLY (round 15): an " +
      "existing-but-unparseable ref must never silently pin nothing " +
      "while expiry/vacuum reclaim the snapshot it meant to keep") {
    val sink = tmp()
    for (i <- 1 to 3)
      AtomicIncrement.appendIncrementAtomic(
        Seq((i.toLong, s"v$i")).toDF("k", "v"), sink, "k")
    val f = fs(sink)
    val ref = new org.apache.hadoop.fs.Path(
      new org.apache.hadoop.fs.Path(sink, "_refs"), "q3-train")
    f.mkdirs(ref.getParent)
    val out = f.create(ref, false)
    try out.write("not-a-version".getBytes("UTF-8")) finally out.close()
    // the lenient listing skips it; every reclaim decision refuses it
    assert(AtomicIncrement.tags(spark, sink).isEmpty)
    intercept[IllegalStateException](
      AtomicIncrement.expireManifests(spark, sink, 1))
    intercept[IllegalStateException](
      AtomicIncrement.vacuumSuperseded(spark, sink))
    intercept[IllegalStateException](
      AtomicIncrement.vacuumUncommitted(spark, sink))
    // all three versions still stand — nothing was reclaimed past the
    // pin maintenance could not honor
    val mdir = new org.apache.hadoop.fs.Path(sink, "_graft_manifest")
    assert(f.listStatus(mdir)
      .flatMap(_.getPath.getName.toLongOption).length == 3)
    // repairing (dropping) the ref unblocks maintenance
    assert(AtomicIncrement.dropTag(spark, sink, "q3-train"))
    assert(AtomicIncrement.expireManifests(spark, sink, 1) == 2)
  }

  test("describeSink's committed_at rides the same monotone-adjusted " +
      "mapping as history()/versionAsOf (round 15): after an mtime " +
      "scramble all three faces agree") {
    val sink = tmp()
    for (i <- 1 to 3) {
      AtomicIncrement.appendIncrementAtomic(
        Seq((i.toLong, s"v$i")).toDF("k", "v"), sink, "k")
      Thread.sleep(15)
    }
    val f = fs(sink)
    val mdir = new org.apache.hadoop.fs.Path(sink, "_graft_manifest")
    val mfs = f.listStatus(mdir).map(_.getPath)
      .filterNot(_.getName.startsWith(".")).sortBy(_.getName)
    // restore shape: every mtime rewritten far ahead, order inverted
    val far = System.currentTimeMillis() + 86400000L
    mfs.zipWithIndex.foreach { case (p, i) =>
      f.setTimes(p, far + (mfs.length - i) * 3600000L, -1) }
    val describe = AtomicIncrement.describeSink(spark, sink).head()
    val histLast = AtomicIncrement.history(spark, sink)
      .orderBy(col("version").desc).head()
    assert(describe.getAs[java.sql.Timestamp]("committed_at") ==
      histLast.getAs[java.sql.Timestamp]("committed_at"),
      "DESCRIBE DETAIL and the last DESCRIBE HISTORY row disagree")
    // and timestampAsOf at that instant resolves the latest version
    assert(AtomicIncrement.versionAsOf(spark, sink,
      describe.getAs[java.sql.Timestamp]("committed_at").getTime) ==
      describe.getAs[Long]("version"))
  }

  test("cluster-preserving merge rewrite (round 14): a spread churn " +
      "leaves tight disjoint key intervals behind, so the NEXT " +
      "confined merge still prunes instead of rewriting everything") {
    val sink = tmp()
    for (r <- Seq(1L to 100L, 101L to 200L, 201L to 300L))
      AtomicIncrement.appendIncrementAtomic(
        r.map(k => (k, s"v$k")).toDF("k", "v").repartition(1), sink, "k")
    // spread churn: every file's interval contains some churned key
    val spread = (1L to 300L by 30L).map(k => (k, s"u$k", false))
      .toDF("k", "v", "del")
    val m1 = AtomicIncrement.mergeAtomic(spread, sink, "k", "del")
    assert(m1.rewritten == 3, s"spread churn must touch all files: $m1")
    // the rewrite range-partitioned on k: staged intervals are
    // pairwise disjoint, so a confined second churn prunes again
    val (_, entries) = AtomicIncrement.snapshotEntries(spark, sink)
    val ivs = entries.flatMap(_.statsFor("k"))
      .map(s => (s.min.toLong, s.max.toLong)).sortBy(_._1)
    assert(ivs.size == m1.staged && ivs.sliding(2).forall {
      case Seq((_, aMax), (bMin, _)) => aMax < bMin
      case _ => true
    }, s"rewritten intervals overlap: $ivs")
    val confined = Seq((5L, "w5", false)).toDF("k", "v", "del")
    val m2 = AtomicIncrement.mergeAtomic(confined, sink, "k", "del")
    assert(m2.rewritten == 1 && m2.carried == m1.staged - 1,
      s"confined churn after a spread merge did not prune: $m2")
    // content stayed exact through both shapes
    val got = AtomicIncrement.readCommitted(spark, sink)
      .select("k", "v").as[(Long, String)].collect().toMap
    assert(got.size == 300 && got(5L) == "w5" && got(31L) == "u31" &&
      got(2L) == "v2")
  }

  test("statsAggregate (round 14): metadata-only count/min/max ≡ the " +
      "scan, survives total data-file loss, all-null columns follow " +
      "SQL semantics") {
    val sink = tmp()
    // batch 1: n mixes a value and a null; z is all-null everywhere
    AtomicIncrement.appendIncrementAtomic(
      Seq((1L, 2.5, "b", Option("x"), Option.empty[Long]),
          (5L, 1.0, "a", None, None)).toDF("k", "p", "s", "n", "z"),
      sink, "k", Seq("p", "s", "n", "z"))
    // batch 2: n is ALL null → its stats group is the null marker
    AtomicIncrement.appendIncrementAtomic(
      Seq((9L, 7.25, "c", Option.empty[String], Option.empty[Long]))
        .toDF("k", "p", "s", "n", "z"),
      sink, "k", Seq("p", "s", "n", "z"))
    val cols = Seq("k", "p", "s", "n", "z")
    val out = AtomicIncrement.statsAggregate(spark, sink, cols).get
    val got = out.head()
    assert(got.getLong(0) == 3L, s"cnt: $got")
    assert(got.getLong(1) == 1L && got.getLong(2) == 9L, s"k: $got")
    assert(got.getDouble(3) == 1.0 && got.getDouble(4) == 7.25, s"p: $got")
    assert(got.getString(5) == "a" && got.getString(6) == "c", s"s: $got")
    // n: the all-null batch contributes nothing (SQL null-ignoring)
    assert(got.getString(7) == "x" && got.getString(8) == "x", s"n: $got")
    // z: all-null in EVERY file → NULL min/max
    assert(got.isNullAt(9) && got.isNullAt(10), s"z: $got")
    // the answer agrees with the scan on every non-degenerate column
    val scan = AtomicIncrement.readCommitted(spark, sink)
      .agg(count(lit(1)), min("k"), max("k"), min("p"), max("p"),
        min("s"), max("s"), min("n"), max("n")).head()
    assert((0 to 8).forall(i => scan.get(i) == got.get(i)),
      s"metadata disagrees with scan: $got vs $scan")
    // compaction restages counts and stats: still exact after
    AtomicIncrement.compact(spark, sink, 1)
    assert(AtomicIncrement.statsAggregate(spark, sink, cols).get.head()
      .getLong(0) == 3L)
    // METADATA-ONLY: destroy every data file — the answer is unchanged
    fs(sink).delete(new org.apache.hadoop.fs.Path(sink, "_data"), true)
    val severed = AtomicIncrement.statsAggregate(spark, sink, cols).get
      .head()
    assert(severed.getLong(0) == 3L && severed.getLong(2) == 9L &&
      severed.getString(6) == "c", s"severed: $severed")
  }

  test("describeSink + history (round 14): operational truth from the " +
      "manifest — versions, counts, standing dvs, tags, and monotone " +
      "commit times") {
    val sink = tmp()
    for (r <- Seq(1L to 10L, 11L to 20L, 21L to 30L))
      AtomicIncrement.appendIncrementAtomic(
        r.map(k => (k, s"v$k")).toDF("k", "v").repartition(1), sink, "k")
    AtomicIncrement.tagVersion(spark, sink, "rel", 2L)
    AtomicIncrement.mergeOnReadAtomic(
      Seq((15L, "", true)).toDF("k", "v", "del"), sink, "k", "del")
    val d = AtomicIncrement.describeSink(spark, sink).head()
    assert(d.getLong(0) == 4L, s"version: $d")
    // 3 appended files; the all-delete merge adds its dv and no file
    assert(d.getInt(1) == 3 && d.getInt(2) == 1, s"files/dvs: $d")
    assert(d.getLong(3) > 0L, s"bytes: $d")
    assert(d.isNullAt(4), "rows must be NULL while a dv stands")
    assert(d.getSeq[String](5) == Seq("rel@2"), s"tags: $d")
    assert(!d.isNullAt(6), "committed_at missing")
    // folding the dv restores the exact metadata row count
    AtomicIncrement.foldDvsTargeted(spark, sink)
    assert(AtomicIncrement.describeSink(spark, sink).head()
      .getLong(4) == 29L)
    val h = AtomicIncrement.history(spark, sink).collect()
    assert(h.map(_.getLong(0)).toSeq == (1L to 5L),
      s"history versions: ${h.toSeq}")
    assert(h.map(_.getTimestamp(1).getTime).toSeq ==
      h.map(_.getTimestamp(1).getTime).sorted.toSeq,
      "commit times must list monotone")
    assert(h.map(_.getInt(3)).toSeq == Seq(0, 0, 0, 1, 0),
      s"dv-file history wrong: ${h.toSeq}")
    // retention is visible: expiring trims the listed history
    AtomicIncrement.dropTag(spark, sink, "rel")
    AtomicIncrement.expireManifests(spark, sink, 2)
    assert(AtomicIncrement.history(spark, sink).collect()
      .map(_.getLong(0)).toSeq == Seq(4L, 5L))
  }

  test("statsAggregate falls back to None — never approximates — on " +
      "standing delete vectors, missing row-count groups, and " +
      "uncovered columns") {
    val sink = tmp()
    AtomicIncrement.appendIncrementAtomic(
      (1L to 10L).map(k => (k, s"v$k")).toDF("k", "v"), sink, "k")
    // v carries no stats group → min/max on it cannot be exact
    assert(AtomicIncrement.statsAggregate(spark, sink, Seq("v")).isEmpty)
    // count-only works
    assert(AtomicIncrement.statsAggregate(spark, sink).get
      .head().getLong(0) == 10L)
    // a standing delete vector makes metadata counts unknowable
    AtomicIncrement.mergeOnReadAtomic(
      Seq((3L, "dead", true)).toDF("k", "v", "del"), sink, "k", "del")
    assert(AtomicIncrement.statsAggregate(spark, sink).isEmpty)
    // folding the dv restores the metadata answer, one row lighter
    AtomicIncrement.foldDvsTargeted(spark, sink)
    assert(AtomicIncrement.statsAggregate(spark, sink).get
      .head().getLong(0) == 9L)
    // pre-round-14 manifests (no row-count group): rewrite the latest
    // manifest path-only — count falls back, nothing throws
    val f = fs(sink)
    val dir = new org.apache.hadoop.fs.Path(sink, "_graft_manifest")
    val mf = f.listStatus(dir).map(_.getPath).maxBy(_.getName)
    val paths = AtomicIncrement.committedFiles(spark, sink)
    f.delete(mf, false)
    val outS = f.create(mf, true)
    try outS.write(paths.mkString("\n").getBytes("UTF-8"))
    finally outS.close()
    assert(AtomicIncrement.statsAggregate(spark, sink).isEmpty)
  }

  /** Runs `body(thread, round)` on `threads` threads for `rounds`
    * rounds, every round released together by a barrier; per thread,
    * the rounds whose body returned (a lost commit race throws). */
  private def raceRounds(threads: Int, rounds: Int)(
      body: (Int, Int) => Unit): Seq[Seq[Int]] = {
    import java.util.concurrent.{CyclicBarrier, Executors, TimeUnit}
    val barrier = new CyclicBarrier(threads)
    val pool = Executors.newFixedThreadPool(threads)
    try {
      val wins = (0 until threads).map(t => pool.submit(
        new java.util.concurrent.Callable[Seq[Int]] {
          def call(): Seq[Int] = (1 to rounds).filter { r =>
            barrier.await(60, TimeUnit.SECONDS)
            try { body(t, r); true }
            catch { case _: java.util.ConcurrentModificationException => false }
          }
        }))
      wins.map(_.get(600, TimeUnit.SECONDS))
    } finally pool.shutdownNow()
  }

  test("concurrent publishes of one manifest version: exactly one " +
      "publisher wins each version, the others throw, and the version " +
      "lists the winner's file") {
    val sink = tmp()
    val f = fs(sink)
    def line(t: Int, v: Int) = s"_data/batch-t$t/part-$v.parquet"
    val wins = raceRounds(threads = 4, rounds = 300) { (t, v) =>
      AtomicIncrement.publish(f, sink, Seq(line(t, v)), v.toLong, None, Nil,
        None)
    }
    val winners = wins.zipWithIndex
      .flatMap { case (vs, t) => vs.map(_ -> t) }.groupBy(_._1)
    val contested = (1 to 300).filterNot(v => winners.get(v).exists(_.size == 1))
    assert(contested.isEmpty, s"versions without exactly one winner: " +
      contested.take(10).map(v => v -> winners.get(v).map(_.map(_._2))))
    for ((v, Seq((_, t))) <- winners) {
      val in = f.open(new org.apache.hadoop.fs.Path(
        new org.apache.hadoop.fs.Path(sink, "_graft_manifest"), f"$v%020d"))
      val lines = try scala.io.Source.fromInputStream(in, "UTF-8")
        .getLines().toList finally in.close()
      assert(lines.contains(line(t, v)), s"version $v lost its winner's line")
    }
  }

  test("racing creates of one immutable tag: exactly one caller wins " +
      "each name, the others throw, and the tag points at the winner's " +
      "version") {
    val sink = tmp()
    for (i <- 1 to 4) AtomicIncrement.appendIncrementAtomic(
      Seq((i.toLong, "x")).toDF("k", "v"), sink, "k")
    val rounds = 300
    val wins = raceRounds(threads = 4, rounds = rounds) { (t, r) =>
      try AtomicIncrement.tagVersion(spark, sink, s"tag$r", t + 1L)
      catch { // the name already stood when this caller looked: it lost
        case _: IllegalArgumentException =>
          throw new java.util.ConcurrentModificationException()
      }
    }
    val winners = wins.zipWithIndex
      .flatMap { case (rs, t) => rs.map(_ -> t) }.groupBy(_._1)
    val contested = (1 to rounds)
      .filterNot(r => winners.get(r).exists(_.size == 1))
    assert(contested.isEmpty, s"names without exactly one winner: " +
      contested.take(10).map(r => r -> winners.get(r).map(_.map(_._2))))
    for ((r, Seq((_, t))) <- winners)
      assert(AtomicIncrement.tagVersionOf(spark, sink, s"tag$r")
        .contains(t + 1L), s"tag$r does not point at its winner's version")
  }

  test("a concurrent no-op publish cannot open the watermark floor: a " +
      "replayed batch racing it never commits a row above the floor") {
    val sink = tmp()
    val batch = (1 to 50).map(i => (i.toLong, s"v$i")).toDF("k", "v")
    AtomicIncrement.appendIncrementAtomic(batch, sink, "k")
    AtomicIncrement.deleteWhereAtomic(spark, sink, col("k") > 40)
    val f = fs(sink)
    val rounds = 200
    // thread 0 replays the delivered batch; thread 1 republishes a
    // snapshot unchanged (same max, same floor) at version + 1. It
    // reads that snapshot at the end of the round before, so its
    // publish lands as early as thread 0's snapshot read
    @volatile var next = AtomicIncrement.latestSnapshot(spark, sink)
    raceRounds(threads = 2, rounds = rounds) { (t, _) =>
      if (t == 0) AtomicIncrement.appendIncrementAtomic(batch, sink, "k")
      else {
        val s = next
        try AtomicIncrement.publish(f, sink, (s.data ++ s.dvs).map(_.render),
          s.version + 1, Some(s.schema), s.floors, s.lastBatch)
        finally next = AtomicIncrement.latestSnapshot(spark, sink)
      }
      ()
    }
    val snap = AtomicIncrement.latestSnapshot(spark, sink)
    assert(snap.version > rounds / 2, "the no-op publishes did not land")
    assert(AtomicIncrement.manifestMaxLong(snap.data, "k").contains(40L),
      "a replayed row above the floor was committed")
    assert(AtomicIncrement.readCommitted(spark, sink).count() == 40L)
  }

  /** The Spark jobs `body` starts, counted between two marker jobs:
    * the listener bus delivers in order, so once the end marker is
    * seen every job of the body is in. */
  private def jobsOf[T](body: => T): (T, Int) = {
    import java.util.concurrent.{CountDownLatch, TimeUnit}
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val ended = new CountDownLatch(1)
    @volatile var counting = false
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("spark.jobGroup.id")) match {
          case Some("ai-jobs-begin") => counting = true
          case Some("ai-jobs-end") => counting = false; ended.countDown()
          case _ => if (counting) jobs.incrementAndGet()
        }
    }
    def marker(group: String): Unit = {
      sc.setJobGroup(group, group)
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
    }
    sc.addSparkListener(listener)
    try {
      marker("ai-jobs-begin")
      val out = body
      marker("ai-jobs-end")
      assert(ended.await(60, TimeUnit.SECONDS), "listener bus never drained")
      (out, jobs.get)
    } finally sc.removeSparkListener(listener)
  }

  test("a feed window across ADD COLUMN reads the column null-filled on " +
      "both sides, with the schema from the two manifests alone") {
    val sink = tmp()
    AtomicIncrement.appendIncrementAtomic(
      (1 to 10).map(i => (i.toLong, s"v$i")).toDF("k", "v"), sink, "k")
    // what ALTER TABLE ... ADD COLUMN commits: one zero-row file
    // carrying the evolved schema
    val evolvedAt = AtomicIncrement.evolveSchemaAtomic(spark, sink,
      AtomicIncrement.latestSnapshot(spark, sink).schema
        .add("note", org.apache.spark.sql.types.StringType))
    // an append inside the window that lacks the new column
    AtomicIncrement.appendIncrementAtomic(
      (11 to 15).map(i => (i.toLong, s"v$i")).toDF("k", "v"), sink, "k")
    val to = AtomicIncrement.snapshot(spark, sink)._1
    // the column was added before the window (its file is common to
    // both versions) and inside it (its file is on the plus side)
    for (from <- Seq(evolvedAt, evolvedAt - 1)) {
      val ((plus, minus), jobs) = jobsOf {
        val (p, m) = AtomicIncrement.changesBetween(spark, sink, from, to)
        p.count(); m.count(); (p, m)
      }
      for (side <- Seq(plus, minus))
        assert(side.columns.toSeq == Seq("k", "v", "note"),
          s"window ($from, $to]: ${side.columns.toSeq}")
      assert(plus.select("k").as[Long].collect().sorted.toSeq ==
        (11L to 15L), s"window ($from, $to]")
      assert(plus.filter(col("note").isNotNull).count() == 0)
      assert(minus.count() == 0)
      // only the two counts' jobs: the union schema comes from the two
      // manifests, where a footer merge-schema job would make it 4
      assert(jobs == 3, s"window ($from, $to] ran $jobs jobs")
    }
  }

  test("racing blind appends lose no acknowledged row: every append that " +
      "returned is in the table, none that threw is, and each returned " +
      "append published one version and kept one batch dir") {
    val sink = tmp()
    def keysOf(t: Int, r: Int) = (0 until 10).map(i => t * 10000L + r * 10L + i)
    val wins = raceRounds(threads = 3, rounds = 20) { (t, r) =>
      AtomicIncrement.appendBlindAtomic(
        keysOf(t, r).map(k => (k, s"t$t")).toDF("k", "v"), sink)
    }
    val acked = wins.zipWithIndex.flatMap { case (rs, t) => rs.map(keysOf(t, _)) }
    assert(acked.size >= 20, s"fewer acknowledged appends than rounds: ${acked.size}")
    assert(AtomicIncrement.readCommitted(spark, sink).select("k").as[Long]
      .collect().sorted.toSeq == acked.flatten.sorted)
    assert(AtomicIncrement.snapshot(spark, sink)._1 == acked.size)
    assert(fs(sink).listStatus(new org.apache.hadoop.fs.Path(sink, "_data"))
      .length == acked.size, "a lost race left its staged batch behind")
  }
}
