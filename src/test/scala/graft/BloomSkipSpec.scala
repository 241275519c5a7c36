package graft

import graft.operators.{AtomicIncrement, BloomSkip}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._
import java.nio.file.Files
import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

/** Bloom sidecar file skipping: no false negatives ever, lookups
  * ≡ full scan + filter in every sidecar state (covered, partially
  * covered, missing, post-compaction), pruning actually engages, and
  * the build is idempotent and increment-local.
  */
class BloomSkipSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(): String =
    Files.createTempDirectory("graft_bloomskip").resolve("sink").toString

  private def fs(sink: String) =
    new org.apache.hadoop.fs.Path(sink)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)

  // three single-file increments clustered on ts, with ids SHUFFLED
  // across them (id = ts * 7919 % 3000 is a bijection-ish scatter) so
  // interval stats on ts can never answer an id lookup
  private def load(sink: String): Unit =
    for (r <- Seq(1L to 1000L, 1001L to 2000L, 2001L to 3000L))
      AtomicIncrement.appendIncrementAtomic(
        r.map(ts => (ts, ts * 7919 % 3000, s"v$ts")).toDF("ts", "id", "v")
          .repartition(1), sink, "ts")

  private def lookupRows(sink: String, id: Long) =
    BloomSkip.pointLookup(spark, sink, "id", lit(id))
      .filter(col("id") === id)
      .select("ts", "v").as[(Long, String)].collect().sorted.toSeq

  private def fullRows(sink: String, id: Long) =
    AtomicIncrement.readCommitted(spark, sink)
      .filter(col("id") === id)
      .select("ts", "v").as[(Long, String)].collect().sorted.toSeq

  test("the interval stage is ManifestPruning.mayMatch: with no sidecars " +
      "built, a file whose key is all-null is not opened, and the lookup " +
      "≡ full scan + filter") {
    val sink = tmp()
    for ((ids, w) <- Seq((Seq(Some(1L), Some(2L)), 1L),
        (Seq(Some(11L), Some(12L)), 2L), (Seq(None, None), 3L)))
      AtomicIncrement.appendIncrementAtomic(
        ids.map(i => (w, i, s"v$w")).toDF("w", "id", "v").repartition(1),
        sink, "w", extraStatsCols = Seq("id"))
    // fixture guard: the third file records the all-null (NullTag) group
    val (_, entries) = AtomicIncrement.snapshotEntries(spark, sink)
    assert(entries.flatMap(_.statsFor("id")).map(_.tag) ==
      Seq("long", "long", AtomicIncrement.NullTag))
    val hit = BloomSkip.pointLookup(spark, sink, "id", lit(1L))
    assert(hit.inputFiles.length == 1,
      s"opened ${hit.inputFiles.length} files: the all-null file was kept")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.filter(col("id") === 1L).select("w", "v").as[(Long, String)]
        .collect().toSeq
    assert(rows(hit) == Seq((1L, "v1")))
    assert(rows(hit) == rows(AtomicIncrement.readCommitted(spark, sink)))
  }

  /** Spark jobs `body` starts, counted between two marker jobs by a
    * listener registered for this call only: the bus delivers in
    * order, so once the end marker is seen every job of `body` is in.
    */
  private def jobsOf(body: => Unit): Int = {
    val sc = spark.sparkContext
    val jobs = new AtomicInteger
    val ended = new CountDownLatch(1)
    @volatile var counting = false
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("spark.jobGroup.id")) match {
          case Some("bloom-jobs-begin") => counting = true
          case Some("bloom-jobs-end") => counting = false; ended.countDown()
          case _ => if (counting) jobs.incrementAndGet()
        }
    }
    def marker(group: String): Unit = {
      sc.setJobGroup(group, group)
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
    }
    sc.addSparkListener(listener)
    try {
      marker("bloom-jobs-begin")
      body
      marker("bloom-jobs-end")
      assert(ended.await(60, TimeUnit.SECONDS), "listener bus never drained")
    } finally sc.removeSparkListener(listener)
    jobs.get
  }

  test("a literal key's probe folds on the driver: a lookup starts one " +
      "Spark job (its read), the folded hash and value equal the 1-row " +
      "job's for long, string and date keys, and lookup ≡ full scan + " +
      "filter") {
    val sink = tmp()
    val day0 = java.time.LocalDate.of(2024, 1, 1)
    for (w <- 1L to 3L)
      AtomicIncrement.appendIncrementAtomic(
        (1L to 200L).map { i =>
          val k = w * 1000 + i
          (w, k, s"s$k", java.sql.Date.valueOf(day0.plusDays(k)))
        }.toDF("w", "k", "s", "d").repartition(1), sink, "w")
    for (c <- Seq("k", "s", "d"))
      assert(BloomSkip.ensureSidecars(spark, sink, c) == 3)
    val keys = Seq("k" -> lit(2042L), "s" -> lit("s2042"),
      "d" -> lit(java.sql.Date.valueOf(day0.plusDays(2042))))
    for ((c, v) <- keys) {
      // what the probe computed as two 1-row jobs before it folded
      val hash = spark.range(1).select(xxhash64(v)).head().getLong(0)
      val value = spark.range(1).select(v).head().get(0)
      assert(BloomSkip.probeOf(spark, v) == ((hash, value)), s"key $c")
      def rows(df: org.apache.spark.sql.DataFrame) =
        df.filter(col(c) === v).collect().map(_.toString).sorted.toSeq
      var got = Seq.empty[String]
      val jobs = jobsOf {
        got = rows(BloomSkip.pointLookup(spark, sink, c, v))
      }
      assert(jobs == 1, s"key $c: the lookup started $jobs jobs")
      assert(got.size == 1 && got ==
        rows(AtomicIncrement.readCommitted(spark, sink)), s"key $c")
    }
    // a value that does not fold (it reads the 1-row frame's `id`, 0)
    // still answers, through the job
    assert(BloomSkip.probeOf(spark, col("id") + 2042L) ==
      BloomSkip.probeOf(spark, lit(2042L)))
  }

  test("no false negatives over the whole key domain; lookups prune to " +
      "fewer files; absent keys read zero files but keep the schema") {
    val sink = tmp()
    load(sink)
    assert(BloomSkip.ensureSidecars(spark, sink, "id") == 3)
    // EVERY present key must come back identical to the full scan —
    // a single false negative breaks the may-contain contract
    for (id <- 0L until 3000L by 97L)
      assert(lookupRows(sink, id) == fullRows(sink, id),
        s"lookup diverged for id=$id")
    // ids land in one increment each, so a lookup opens strictly
    // fewer files than the snapshot (usually exactly one)
    val some = BloomSkip.pointLookup(spark, sink, "id", lit(7919L % 3000L))
    assert(some.inputFiles.length < 3,
      s"bloom never pruned: ${some.inputFiles.length} files")
    // a key outside the domain: all sidecars reject (up to the ~1%
    // fp), the frame still carries the full schema and zero rows
    val none = BloomSkip.pointLookup(spark, sink, "id", lit(999999L))
    assert(none.columns.toSeq == Seq("ts", "id", "v"))
    assert(none.filter(col("id") === 999999L).count() == 0)
  }

  test("build is idempotent and increment-local; a missing sidecar " +
      "degrades to may-contain, never to a wrong answer") {
    val sink = tmp()
    load(sink)
    assert(BloomSkip.ensureSidecars(spark, sink, "id") == 3)
    assert(BloomSkip.ensureSidecars(spark, sink, "id") == 0,
      "re-ensure must build nothing")
    // a new increment: only ITS file needs a sidecar
    AtomicIncrement.appendIncrementAtomic(
      Seq((3001L, 42L, "fresh")).toDF("ts", "id", "v").repartition(1),
      sink, "ts")
    assert(BloomSkip.ensureSidecars(spark, sink, "id") == 1)
    // delete one sidecar: its file is may-contain (always read), and
    // results stay exactly equal to the full scan
    val victim = AtomicIncrement.committedFiles(spark, sink).head
    assert(fs(sink).delete(
      new org.apache.hadoop.fs.Path(s"$sink/$victim.bloom-id"), false))
    for (id <- Seq(42L, 7919L % 3000L, 999999L))
      assert(lookupRows(sink, id) == fullRows(sink, id))
    // the uncovered file is read by every lookup now (may-contain)
    val probe = BloomSkip.pointLookup(spark, sink, "id", lit(999999L))
    assert(probe.inputFiles.exists(_.contains(victim.split("/").last)),
      "sidecar-less file was skipped — that is a potential false negative")
  }

  test("compaction invalidates nothing silently: new files simply lack " +
      "sidecars (may-contain) until ensure covers them again") {
    val sink = tmp()
    load(sink)
    BloomSkip.ensureSidecars(spark, sink, "id")
    AtomicIncrement.compact(spark, sink, numFiles = 2)
    // rewritten files have no sidecars: lookups read them all, answers
    // unchanged
    val id = 7919L % 3000L
    assert(lookupRows(sink, id) == fullRows(sink, id))
    // re-ensure builds exactly the compacted files' sidecars, and
    // pruning engages again
    val built = BloomSkip.ensureSidecars(spark, sink, "id")
    assert(built == AtomicIncrement.committedFiles(spark, sink).size)
    assert(BloomSkip.pointLookup(spark, sink, "id", lit(999999L))
      .inputFiles.length <
      AtomicIncrement.committedFiles(spark, sink).size,
      "re-ensured sidecars never pruned the absent key")
    assert(lookupRows(sink, id) == fullRows(sink, id))
  }

  test("one ensureSidecars pass after a clustered rewrite re-covers " +
      "every rewritten file: lookups prune again IMMEDIATELY") {
    val sink = tmp()
    load(sink)
    BloomSkip.ensureSidecars(spark, sink, "id")
    AtomicIncrement.compactClustered(spark, sink, Seq("ts"), numFiles = 3)
    assert(BloomSkip.ensureSidecars(spark, sink, "id") ==
      AtomicIncrement.committedFiles(spark, sink).size)
    // full coverage with zero further builds...
    assert(BloomSkip.ensureSidecars(spark, sink, "id") == 0,
      "one pass left rewritten files uncovered")
    // ...and an absent-key lookup prunes right away
    assert(BloomSkip.pointLookup(spark, sink, "id", lit(999999L))
      .inputFiles.length <
      AtomicIncrement.committedFiles(spark, sink).size)
    val id = 7919L % 3000L
    assert(lookupRows(sink, id) == fullRows(sink, id))
  }

  test("string-column sidecars: lookups on a UUID-shaped key hash the " +
      "native string, prune, and stay ≡ full scan + filter") {
    val sink = tmp()
    for (r <- Seq(1L to 500L, 501L to 1000L, 1001L to 1500L))
      AtomicIncrement.appendIncrementAtomic(
        r.map(ts => (ts, f"u-${ts * 7919 % 1500}%08d", s"v$ts"))
          .toDF("ts", "guid", "v").repartition(1), sink, "ts")
    assert(BloomSkip.ensureSidecars(spark, sink, "guid") == 3)
    def look(g: String) =
      BloomSkip.pointLookup(spark, sink, "guid", lit(g))
        .filter(col("guid") === g)
        .select("ts", "v").as[(Long, String)].collect().sorted.toSeq
    def full(g: String) =
      AtomicIncrement.readCommitted(spark, sink)
        .filter(col("guid") === g)
        .select("ts", "v").as[(Long, String)].collect().sorted.toSeq
    for (k <- 0L until 1500L by 61L) {
      val g = f"u-$k%08d"
      assert(look(g) == full(g), s"string lookup diverged for $g")
    }
    assert(BloomSkip.pointLookup(spark, sink, "guid", lit(f"u-${7919L % 1500}%08d"))
      .inputFiles.length < 3, "string bloom never pruned")
    assert(look("u-nowhere").isEmpty)
  }

  test("a zero-row committed file gets an always-reject sidecar (the " +
      "true verdict), not an eternal rebuild") {
    val sink = tmp()
    val data = (1L to 100L).map(ts => (ts, ts % 10, s"v$ts"))
      .toDF("ts", "id", "v")
    AtomicIncrement.appendIncrementAtomic(data.repartition(1), sink, "ts")
    // hand-commit a ZERO-ROW data file (a defensive shape: no normal
    // append produces one, but a foreign writer might) — stage an
    // empty frame and publish it alongside the prior snapshot
    val f = fs(sink)
    val staged = graft.operators.Txn.begin(spark, sink)
      .stage(data.limit(0), Nil).map(_.path)
    assert(staged.nonEmpty, "fixture needs an empty part file")
    val snap = AtomicIncrement.latestSnapshot(spark, sink)
    AtomicIncrement.publish(f, sink, snap.data.map(_.path) ++ staged,
      snap.version + 1, Some(snap.schema), snap.floors, snap.lastBatch)
    val files = AtomicIncrement.committedFiles(spark, sink)
    assert(files.size == 1 + staged.size)
    assert(BloomSkip.ensureSidecars(spark, sink, "id") == files.size)
    assert(BloomSkip.ensureSidecars(spark, sink, "id") == 0,
      "the zero-row file must not rebuild forever")
    // the empty file's sidecar REJECTS every probe; answers unchanged
    for (id <- 0L until 10L)
      assert(BloomSkip.pointLookup(spark, sink, "id", lit(id))
        .filter(col("id") === id).count() ==
        AtomicIncrement.readCommitted(spark, sink)
          .filter(col("id") === id).count())
    assert(BloomSkip.pointLookup(spark, sink, "id", lit(3L))
      .inputFiles.length == 1, "the zero-row file was not rejected")
  }

  // ---- token sidecars (round 14): the text-search twin ----

  private def loadCorpus(sink: String): Unit = {
    // three single-file increments with CONTROLLED vocabulary: 'alpha'
    // rides every file, 'bravo' only file 2, 'delta'+'echo' co-occur
    // in one doc of file 3 while file 1 has them in SEPARATE docs
    val f1 = Seq((1L, "Alpha likes DELTA."), (2L, "alpha, echo!"),
      (3L, "alpha alone"))
    val f2 = Seq((11L, "alpha and bravo"), (12L, "alpha bravo again"))
    val f3 = Seq((21L, "alpha delta echo together"), (22L, "just alpha"))
    for (r <- Seq(f1, f2, f3))
      AtomicIncrement.appendIncrementAtomic(
        r.toDF("doc_id", "text").repartition(1), sink, "doc_id")
    assert(BloomSkip.ensureTokenSidecars(spark, sink, "text") == 3)
  }

  private def grep(sink: String, toks: Seq[String]) =
    BloomSkip.readContainingTokens(spark, sink, "text", toks)

  private def exact(df: org.apache.spark.sql.DataFrame,
      toks: Seq[String]) =
    toks.foldLeft(df)((d, t) => d.filter(
        array_contains(split(lower(col("text")), "[^a-z0-9]+"), t)))
      .select("doc_id").as[Long].collect().sorted.toSeq

  test("token sidecars: no false negatives through case/punctuation, " +
      "single-token probes prune to the right files, probe ≡ scan") {
    val sink = tmp()
    loadCorpus(sink)
    val full = AtomicIncrement.readCommitted(spark, sink)
    for (t <- Seq("alpha", "bravo", "delta", "echo", "zulu")) {
      val narrowed = grep(sink, Seq(t))
      assert(exact(narrowed, Seq(t)) == exact(full, Seq(t)),
        s"probe '$t' diverged from the scan")
    }
    // 'bravo' lives only in file 2; 'zulu' nowhere
    assert(grep(sink, Seq("bravo")).inputFiles.length == 1)
    assert(grep(sink, Seq("zulu")).inputFiles.length == 0)
    assert(grep(sink, Seq("alpha")).inputFiles.length == 3)
  }

  test("token sidecars: conjunctive probes are FILE-level verdicts — " +
      "a file holding the tokens in separate docs survives (the exact " +
      "filter restricts), idempotent rebuild, malformed probes throw") {
    val sink = tmp()
    loadCorpus(sink)
    // file 1 has delta+echo in separate docs, file 3 in one doc: both
    // files survive the probe, the exact filter keeps only doc 21
    val narrowed = grep(sink, Seq("delta", "echo"))
    assert(narrowed.inputFiles.length == 2,
      s"expected files 1+3, got ${narrowed.inputFiles.length}")
    assert(exact(narrowed, Seq("delta", "echo")) == Seq(21L))
    // conjunction with an absent token rejects everything
    assert(grep(sink, Seq("alpha", "zulu")).inputFiles.length == 0)
    assert(BloomSkip.ensureTokenSidecars(spark, sink, "text") == 0,
      "rebuild must be a no-op under full coverage")
    intercept[IllegalArgumentException](grep(sink, Seq("Alpha")))
    intercept[IllegalArgumentException](grep(sink, Seq("two words")))
    intercept[IllegalArgumentException](grep(sink, Seq.empty))
  }

  test("token sidecars: missing sidecar = may-contain, value and " +
      "token filters coexist on one column, delete vectors apply") {
    val sink = tmp()
    loadCorpus(sink)
    // a value filter over the SAME column: no name collision
    assert(BloomSkip.ensureSidecars(spark, sink, "text") == 3)
    assert(BloomSkip.ensureTokenSidecars(spark, sink, "text") == 0)
    val hit = BloomSkip.pointLookup(spark, sink, "text",
      lit("alpha alone")).filter(col("text") === "alpha alone")
    assert(hit.select("doc_id").as[Long].collect().toSeq == Seq(3L))
    // drop file 2's token sidecar: it must be KEPT (may-contain), and
    // answers stay identical
    val f = fs(sink)
    val victims = AtomicIncrement.committedFiles(spark, sink)
      .map(r => new org.apache.hadoop.fs.Path(s"$sink/$r.bloom-tok-text"))
      .filter(f.exists)
    assert(victims.size == 3)
    f.delete(victims(1), false)
    val narrowed = grep(sink, Seq("zulu"))
    assert(narrowed.inputFiles.length == 1,
      "the sidecar-less file must stay may-contain")
    assert(exact(narrowed, Seq("zulu")).isEmpty)
    // merge-on-read delete doc 21: the probe must not resurrect it
    AtomicIncrement.mergeOnReadAtomic(
      Seq((21L, "", true)).toDF("doc_id", "text", "del"),
      sink, "doc_id", "del")
    assert(exact(grep(sink, Seq("delta", "echo")), Seq("delta", "echo"))
      .isEmpty, "a tombstoned document surfaced through the token read")
  }

  test("sidecar namespace collision is REFUSED loudly: a column " +
      "literally named tok-<c> cannot share filter files with column " +
      "<c>'s token index (the silent version is a false negative)") {
    val sink = tmp()
    AtomicIncrement.appendIncrementAtomic(
      Seq((1L, "alpha beta", "x1"), (2L, "gamma", "x2"))
        .toDF("k", "text", "tok-text").repartition(1), sink, "k")
    intercept[IllegalArgumentException](
      BloomSkip.ensureTokenSidecars(spark, sink, "text"))
    intercept[IllegalArgumentException](
      BloomSkip.ensureSidecars(spark, sink, "tok-text"))
    intercept[IllegalArgumentException](
      BloomSkip.readContainingTokens(spark, sink, "text", Seq("alpha")))
    intercept[IllegalArgumentException](
      BloomSkip.pointLookup(spark, sink, "tok-text", lit("x1")))
    // the unambiguous pieces still work on the same table
    assert(BloomSkip.ensureSidecars(spark, sink, "text") == 1)
    assert(BloomSkip.pointLookup(spark, sink, "text", lit("gamma"))
      .filter(col("text") === "gamma").count() == 1)
  }

  test("distributed probe path (file count past the threshold) is " +
      "verdict-identical to the driver pool: same pruning, same rows, " +
      "and it actually engaged") {
    val sink = tmp()
    load(sink)
    assert(BloomSkip.ensureSidecars(spark, sink, "id") == 3)
    val id = 7919L % 3000L
    val pooled = lookupRows(sink, id)
    val pooledKept = BloomSkip.pointLookup(spark, sink, "id", lit(id))
      .inputFiles.toSet
    val before = BloomSkip.distributedProbes.get()
    spark.conf.set(BloomSkip.ProbeThresholdConf, "2")
    try {
      // identical verdict bitmap: same kept files, same rows, and the
      // probe ran as a Spark job (the counter pins the path taken)
      val dist = BloomSkip.pointLookup(spark, sink, "id", lit(id))
      assert(dist.inputFiles.toSet == pooledKept,
        "distributed probe kept a different file set")
      assert(lookupRows(sink, id) == pooled)
      assert(BloomSkip.distributedProbes.get() > before,
        "the distributed path never engaged below the lowered threshold")
      // the whole key domain stays false-negative-free through the job
      for (probe <- 0L until 3000L by 293L)
        assert(lookupRows(sink, probe) == fullRows(sink, probe),
          s"distributed lookup diverged for id=$probe")
    } finally spark.conf.unset(BloomSkip.ProbeThresholdConf)
  }
}
