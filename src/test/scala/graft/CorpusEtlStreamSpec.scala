package graft

import graft.operators.AtomicIncrement
import graft.streaming.CorpusEtlStream
import org.apache.spark.sql.functions._

/** Streaming corpus ETL: quality gate + cross-batch exact dedup +
  * chunking with idempotent replay and bounded fingerprint index.
  */
class CorpusEtlStreamSpec extends SparkSpec {
  import spark.implicits._

  private def committed(dir: String) = AtomicIncrement.readCommitted(spark, dir)

  /** The committed data files of an index table, after asserting that
    * no superseded file stays on disk beside them.
    */
  private def indexFiles(dir: String): Seq[String] = {
    val files = AtomicIncrement.committedFiles(spark, dir)
    val root = java.nio.file.Paths.get(dir)
    val it = java.nio.file.Files.walk(root.resolve("_data")).iterator()
    val onDisk = Iterator.continually(it).takeWhile(_.hasNext).map(_.next())
      .filter(_.getFileName.toString.endsWith(".parquet"))
      .map(root.relativize(_).toString).toSet
    assert(onDisk == files.toSet, s"$dir keeps superseded files")
    files
  }

  test("stream gates quality, drops exact dups across batches, chunks " +
      "admitted docs, and replays idempotently") {
    val base = java.nio.file.Files.createTempDirectory("graft_cetl")
    val index = base.resolve("index").toString
    val sink = base.resolve("sink").toString
    // suites share one context; only caches ADDED by this test count
    val cachedBefore = spark.sparkContext.getPersistentRDDs.keySet
    def doc(i: Int, n: Int = 12): (Long, String) =
      (i.toLong, (0 until n).map(t => s"e${i}w$t").mkString(" "))
    def step(rows: Seq[(Long, String)], id: Long): Unit =
      CorpusEtlStream.prepareBatchStep(rows.toDF("doc_id", "text"), id,
        index, sink, chunkTokens = 8, stride = 6, compactEvery = 3)
    def sinkDocIds: Set[Long] = committed(sink)
      .select("doc_id").distinct().as[Long].collect().toSet

    // batch 0: one good doc, one below the 5-token floor, one pure
    // punctuation (over the punct ceiling)
    step(Seq(doc(1), (2L, "too short"), (3L, "!!! ??? ;;; ::: ...")), 0L)
    assert(sinkDocIds == Set(1L))
    // chunking really chunked: 12 tokens at chunk 8 / stride 6 → 2 rows
    val d1 = committed(sink).filter(col("doc_id") === 1L)
      .orderBy("chunk_id").collect()
    assert(d1.length == 2)
    assert(d1(0).getAs[Int]("n_chunk_tokens") == 8)
    assert(d1(1).getAs[Int]("n_chunk_tokens") == 6)

    // batch 1: an exact copy of doc 1's text (dropped via the index),
    // an in-batch exact pair (min id 5 wins), a fresh doc
    step(Seq((4L, doc(1)._2), doc(5), (6L, doc(5)._2), doc(7)), 1L)
    assert(sinkDocIds == Set(1L, 5L, 7L))
    // REPLAY batch 1: same sink state, no duplicate chunk rows
    step(Seq((4L, doc(1)._2), doc(5), (6L, doc(5)._2), doc(7)), 1L)
    assert(sinkDocIds == Set(1L, 5L, 7L))
    val chunks = committed(sink)
    assert(chunks.count() == chunks.dropDuplicates("doc_id", "chunk_id").count())

    // more batches; compaction fires at batch 2 and 5 → bounded files
    for (i <- 2 to 6) step(Seq(doc(10 + i)), i.toLong)
    assert(sinkDocIds == Set(1L, 5L, 7L, 12L, 13L, 14L, 15L, 16L))
    val fpFiles = indexFiles(s"$index/fps")
    assert(fpFiles.size <= 3, s"fp index files unbounded: $fpFiles")
    // the folded index still drops a copy of a batch-0 doc
    step(Seq((99L, doc(1)._2)), 7L)
    assert(sinkDocIds == Set(1L, 5L, 7L, 12L, 13L, 14L, 15L, 16L))
    // and the batch scope left no caches of its own behind
    val leaked = spark.sparkContext.getPersistentRDDs.keySet -- cachedBefore
    assert(leaked.isEmpty, s"batch scope leaked cached RDDs: $leaked")
  }

  test("all gates on: quality -> exact -> decontam -> near-dup -> chunk, " +
      "exactly-once across replays, bounded indexes") {
    val base = java.nio.file.Files.createTempDirectory("graft_cetl_full")
    val index = base.resolve("index").toString
    val sink = base.resolve("sink").toString
    // 12-token bases; appending a token keeps 3-gram Jaccard ≈ 0.91
    val baseA = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"
    val baseB = "one two three four five six seven eight nine ten eleven twelve"
    val fill1 = "car train plane boat bike ship truck bus tram scooter van rover"
    val fill2 = "oak elm ash fir pine birch cedar maple willow spruce alder yew"
    val benchText = "bench mark corpus text that must never leak into training data here"
    val gate = graft.streaming.BenchmarkGate.fromDocs(
      Seq(Tuple1(benchText)).toDF("text"))
    def step(rows: Seq[(Long, String)], id: Long): Unit =
      CorpusEtlStream.prepareBatchStep(rows.toDF("doc_id", "text"), id,
        index, sink, chunkTokens = 8, stride = 6, compactEvery = 3,
        benchmark = Some(gate), nearDupJaccard = Some(0.8))
    def sinkDocIds: Set[Long] = committed(sink)
      .select("doc_id").distinct().as[Long].collect().toSet

    // batch 0: good doc; 2-token doc (quality floor); benchmark copy
    step(Seq((1L, baseA), (2L, "too short"), (3L, benchText)), 0L)
    assert(sinkDocIds == Set(1L))
    // batch 1: exact copy of doc 1 (exact gate), near-dup of doc 1
    // (near-dup gate), an in-batch near-dup pair (min id 6 wins), all
    // four gates exercised in ONE batch
    val b1 = Seq((4L, baseA), (5L, baseA + " nu"),
      (6L, baseB), (7L, baseB + " thirteen"))
    step(b1, 1L)
    assert(sinkDocIds == Set(1L, 6L))
    // replay batch 1: same state, no duplicate chunks
    step(b1, 1L)
    assert(sinkDocIds == Set(1L, 6L))
    val chunks = committed(sink)
    assert(chunks.count() == chunks.dropDuplicates("doc_id", "chunk_id").count())
    // chunking still chunks: doc 1 (12 tokens, chunk 8 / stride 6) → 2
    assert(chunks.filter(col("doc_id") === 1L).count() == 2)

    // batches through the compaction boundary (batch 2 compacts both
    // the fp index and the near-dup band/shingle index)
    step(Seq((22L, fill1)), 2L)
    step(Seq((23L, fill2)), 3L)
    // post-compaction: a near-dup of batch-1's doc 6 is still dropped,
    // an exact copy of doc 1 is still dropped
    step(Seq((30L, baseB + " fourteen"), (31L, baseA)), 4L)
    assert(sinkDocIds == Set(1L, 6L, 22L, 23L))
    // both indexes stay bounded after the compaction
    for (sub <- Seq("fps", "neardup/bands", "neardup/shingles")) {
      val files = indexFiles(s"$index/$sub")
      assert(files.size <= 3, s"$sub data files unbounded: $files")
    }
  }

  test("crash matrix over the composed url -> media -> decontam -> " +
      "budget -> near-dup pipeline: a kill after EVERY publish " +
      "boundary replays to the exactly-once end state") {
    import graft.operators.Multimodal
    // frozen corpus state the gates probe: a known canonical URL, a
    // known image phash, a benchmark text
    val knownUrl = Seq(Tuple1("https://example.com/known/page"))
      .toDF("url")
    val corpusHashes = Multimodal.aHash64(Multimodal.decodeImageBatch(
        Seq((100L, Multimodal.renderFixturePng(2L)))
          .toDF("doc_id", "payload"), "doc_id", "payload"))
      .toDF().select("phash")
    val benchText =
      "bench mark corpus text that must never leak into training data here"
    val phashGate = new graft.streaming.PHashGate(corpusHashes)
    val media = new graft.streaming.DocGate {
      override def scrubDocs(docs: org.apache.spark.sql.DataFrame,
          textCol: String, idCol: String): org.apache.spark.sql.DataFrame =
        phashGate.scrubImages(docs, idCol, "payload")
    }
    val composed = graft.streaming.DocGate.all(
      new graft.streaming.UrlGate(knownUrl),
      media,
      graft.streaming.BenchmarkGate.fromDocs(Seq(Tuple1(benchText)).toDF("text")))
    val budgets = CorpusEtlStream.SourceBudgets(
      perSource = Map("cap" -> 5L), default = 1000L)
    val baseA =
      "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"
    def sent(tag: String): String =
      (0 until 12).map(t => s"${tag}w$t").mkString(" ")
    val b0: Seq[(Long, String, String, Array[Byte], String)] = Seq(
      (1L, baseA, "https://example.com/seed", Multimodal.renderFixturePng(1L), "open"))
    val b1: Seq[(Long, String, String, Array[Byte], String)] = Seq(
      (10L, sent("good1"), null, null, "open"),           // admitted
      (11L, baseA + " nu", null, null, "open"),           // near-dup of 1
      (12L, baseA, null, null, "open"),                   // exact dup of 1
      (13L, benchText, null, null, "open"),               // decontam
      (14L, "too short", null, null, "open"),             // quality floor
      (15L, sent("urldup"),                               // url-gate drop:
        "HTTPS://EXAMPLE.COM/known/page?utm_source=x",    // canonical match
        null, "open"),
      (16L, sent("mediadup"), null,                       // media-gate drop:
        Multimodal.renderFixturePng(2L), "open"),         // corpus phash
      (17L, sent("capped"), null, null, "cap"),           // 12 tok > 5 budget
      (18L, sent("good2"), "https://fresh.example.org/x",
        Multimodal.renderFixturePng(3L), "open"))         // admitted
    def run(base: java.nio.file.Path,
        rows: Seq[(Long, String, String, Array[Byte], String)], id: Long,
        hook: String => Unit = _ => ()): Unit =
      CorpusEtlStream.prepareBatchStep(
        rows.toDF("doc_id", "text", "url", "payload", "source"), id,
        base.resolve("index").toString, base.resolve("sink").toString,
        chunkTokens = 8, stride = 6, compactEvery = 3,
        benchmark = Some(composed), nearDupJaccard = Some(0.8),
        budgets = Some(budgets), afterWrite = hook)
    def state(base: java.nio.file.Path): (Set[Long], Long, Set[Long]) = {
      val chunks = committed(base.resolve("sink").toString)
      (chunks.select("doc_id").distinct().as[Long].collect().toSet,
        chunks.count(),
        committed(base.resolve("index").toString + "/fps")
          .select("doc_id").distinct().as[Long].collect().toSet)
    }
    // the reference: both batches, no crash — every gate catches its doc
    val ref = java.nio.file.Files.createTempDirectory("graft_crashref")
    run(ref, b0, 0L); run(ref, b1, 1L)
    val refState = state(ref)
    assert(refState._1 == Set(1L, 10L, 18L), s"gate wiring drifted: $refState")
    // the matrix: die after each durable publish of batch 1, then
    // replay batch 1 as a stream restart would — the end state must be
    // byte-identical to the never-crashed run, for every kill point
    for (kill <- Seq("spent", "neardup", "chunks", "fps")) {
      val dir = java.nio.file.Files.createTempDirectory(s"graft_crash_$kill")
      run(dir, b0, 0L)
      val boom = intercept[RuntimeException] {
        run(dir, b1, 1L,
          hook = b => if (b == kill) throw new RuntimeException(s"die@$b"))
      }
      assert(boom.getMessage == s"die@$kill")
      run(dir, b1, 1L) // the restart's replay
      assert(state(dir) == refState,
        s"kill after '$kill' broke exactly-once: ${state(dir)} vs $refState")
    }
  }

  test("composed DocGate.all rides the stream: decontam + DSIR + LM " +
      "fluency each catch their own doc, replay idempotent") {
    val base = java.nio.file.Files.createTempDirectory("graft_cetl_sel")
    val index = base.resolve("index").toString
    val sink = base.resolve("sink").toString
    // reference corpus: 4 fluent target docs sharing bigrams, 4 junk
    // raw docs on a disjoint vocabulary, token counts balanced so the
    // DSIR total-count constant is ~0 and per-token sign = which side
    // the vocabulary came from
    val tgt = Seq(
      "the quick brown fox jumps over the lazy dog again and again",
      "the quick brown fox sleeps over the lazy dog again and again",
      "the quick brown fox runs over the lazy dog again and again",
      "the quick brown fox leaps over the lazy dog again and again")
    val raw = Seq(
      "zz1 zz2 zz3 zz4 zz5 zz6 zz7 zz8 zz9 zz10 zz11 zz12",
      "yy1 yy2 yy3 yy4 yy5 yy6 yy7 yy8 yy9 yy10 yy11 yy12",
      "xx1 xx2 xx3 xx4 xx5 xx6 xx7 xx8 xx9 xx10 xx11 xx12",
      "ww1 ww2 ww3 ww4 ww5 ww6 ww7 ww8 ww9 ww10 ww11 ww12")
    val reference = (tgt.map((_, "tgt")) ++ raw.map((_, "raw")))
      .zipWithIndex.map { case ((t, s), i) => (100L + i, t, s) }
      .toDF("doc_id", "text", "source")
    val gate = graft.streaming.DocGate.all(
      // decontam: tgt(1) is the "benchmark" — its exact copy must drop
      // even though it is fluent and on-target for the other two gates
      graft.streaming.BenchmarkGate.fromDocs(Seq(Tuple1(tgt(1))).toDF("text")),
      // selection: per-token log-ratio ≥ 0 — target vocab ≈ +1.6,
      // junk vocab ≈ −1.6 under the balanced reference
      graft.streaming.DsirGate.fromCorpus(reference,
        col("source") === "tgt", 0.0),
      // fluency: fit on the target docs; in-model bigrams average
      // ≈ −1.4, all-UNK text ≈ −ln(14) ≈ −2.6 — cut between them
      graft.streaming.LmGate.fromCorpus(
        reference.filter(col("source") === "tgt"), -2.2))
    def step(rows: Seq[(Long, String)], id: Long): Unit =
      CorpusEtlStream.prepareBatchStep(rows.toDF("doc_id", "text"), id,
        index, sink, chunkTokens = 8, stride = 6, compactEvery = 3,
        benchmark = Some(gate))
    def sinkDocIds: Set[Long] = committed(sink)
      .select("doc_id").distinct().as[Long].collect().toSet

    val b0 = Seq(
      (1L, tgt.head), // fluent, on-target, not the benchmark → kept
      (2L, tgt(1)), // exact benchmark copy → decontam gate drops
      (3L, raw.head), // junk vocabulary → DSIR gate drops
      // target VOCABULARY (DSIR passes) but scrambled so every bigram
      // is out-of-model → LM gate drops: the doc only the fluency
      // gate can catch
      (4L, "dog lazy the fox brown quick over jumps and the again again"))
    step(b0, 0L)
    assert(sinkDocIds == Set(1L),
      s"expected only doc 1 through the composed gates, got $sinkDocIds")
    // replay: pure per-batch filters → same verdicts, no dup chunks
    step(b0, 0L)
    assert(sinkDocIds == Set(1L))
    val chunks = committed(sink)
    assert(chunks.count() == chunks.dropDuplicates("doc_id", "chunk_id").count())
    // a later batch: the frozen models still gate (cross-batch), and a
    // fresh fluent on-target doc still passes
    step(Seq((11L, tgt(2)), (12L, raw(1))), 1L)
    assert(sinkDocIds == Set(1L, 11L))
  }

  test("budget gate: strict-prefix per-source spend across batches, " +
      "quality-dropped docs spend nothing, compaction replay holds") {
    val base = java.nio.file.Files.createTempDirectory("graft_cetl_bud")
    val index = base.resolve("index").toString
    val sink = base.resolve("sink").toString
    // every doc costs exactly 12 tokens; texts all distinct
    def doc(i: Int, src: String): (Long, String, String) =
      (i.toLong, (0 until 12).map(t => s"u${i}v$t").mkString(" "), src)
    val budgets = graft.streaming.CorpusEtlStream.SourceBudgets(
      Map("a" -> 24L, "b" -> 100L, "c" -> 30L)) // default 0
    def step(rows: Seq[(Long, String, String)], id: Long): Unit =
      CorpusEtlStream.prepareBatchStep(
        rows.toDF("doc_id", "text", "source"), id, index, sink,
        chunkTokens = 8, stride = 6, compactEvery = 3,
        budgets = Some(budgets))
    def sinkDocIds: Set[Long] = committed(sink)
      .select("doc_id").distinct().as[Long].collect().toSet

    // batch 0: three "a" docs (36 > 24 budget → exactly the 2 lowest
    // md5-rank ids survive), one "b" doc, one zero-budget "x" doc,
    // and a "c" doc the QUALITY gate drops (must spend nothing)
    val aIds = Seq(1L, 2L, 3L)
    val aKept = aIds.sortBy(i =>
      (graft.streaming.BudgetStream.rankKey(i), i)).take(2).toSet
    step(Seq(doc(1, "a"), doc(2, "a"), doc(3, "a"), doc(4, "b"),
      doc(5, "x"), (6L, "too short", "c")), 0L)
    assert(sinkDocIds == aKept + 4L)
    // batch 1: "a" is budget-closed even for later docs (strict
    // prefix: prior spend 36); "c" admits both 12-token docs ONLY if
    // batch 0's quality-dropped doc really spent nothing (24 ≤ 30)
    step(Seq(doc(7, "a"), doc(8, "c"), doc(9, "c")), 1L)
    assert(sinkDocIds == aKept + 4L + 8L + 9L)
    // replay batch 1: same admission, no duplicate chunks
    step(Seq(doc(7, "a"), doc(8, "c"), doc(9, "c")), 1L)
    assert(sinkDocIds == aKept + 4L + 8L + 9L)
    // "c" now holds spend 36 > 30: closed. Batch 2 runs the cadence's
    // maintenance pass over the spend state
    step(Seq(doc(10, "c"), doc(11, "b")), 2L)
    assert(sinkDocIds == aKept + 4L + 8L + 9L + 11L)
    // REPLAY the compaction batch: the state already holds its spend —
    // prior must reconstruct as state − delta, not the state
    step(Seq(doc(10, "c"), doc(11, "b")), 2L)
    assert(sinkDocIds == aKept + 4L + 8L + 9L + 11L)
    step(Seq(doc(12, "b")), 3L)
    assert(sinkDocIds == aKept + 4L + 8L + 9L + 11L + 12L)
    step(Seq(doc(12, "b")), 3L)
    assert(sinkDocIds == aKept + 4L + 8L + 9L + 11L + 12L)
    val chunks = committed(sink)
    assert(chunks.count() == chunks.dropDuplicates("doc_id", "chunk_id").count())
    // post-compaction: "a" and "c" stay closed (spend survived the fold)
    step(Seq(doc(13, "a"), doc(14, "c"), doc(15, "b")), 4L)
    assert(sinkDocIds == aKept + 4L + 8L + 9L + 11L + 12L + 15L)
    // the spend state is one row per source
    val spent = committed(s"$index/spent").select("source").as[String]
      .collect().toSeq
    assert(spent.sorted == Seq("a", "b", "c", "x"), s"spend rows: $spent")
  }

  test("benchmark gate drops exact benchmark copies, replays idempotently") {
    val base = java.nio.file.Files.createTempDirectory("graft_cetl_bm")
    val index = base.resolve("index").toString
    val sink = base.resolve("sink").toString
    def doc(i: Int): (Long, String) =
      (i.toLong, (0 until 12).map(t => s"b${i}w$t").mkString(" "))
    // benchmark holds doc 2's text, differing only in case+whitespace —
    // the normalized fingerprint still matches
    val bench = Seq(Tuple1("  " + doc(2)._2.toUpperCase + "  ")).toDF("text")
    val gate = graft.streaming.BenchmarkGate.fromDocs(bench)
    def step(rows: Seq[(Long, String)], id: Long): Unit =
      CorpusEtlStream.prepareBatchStep(rows.toDF("doc_id", "text"), id,
        index, sink, chunkTokens = 8, stride = 6, benchmark = Some(gate))
    step(Seq(doc(1), doc(2), doc(3)), 0L)
    def sinkDocIds: Set[Long] = committed(sink)
      .select("doc_id").distinct().as[Long].collect().toSet
    assert(sinkDocIds == Set(1L, 3L))
    // replay: same state, no duplicates
    step(Seq(doc(1), doc(2), doc(3)), 0L)
    assert(sinkDocIds == Set(1L, 3L))
    val chunks = committed(sink)
    assert(chunks.count() ==
      chunks.dropDuplicates("doc_id", "chunk_id").count())
  }

  test("minhash gate in the stream stack: near-dup of the EXISTING " +
      "corpus drops where the exact gate passes it") {
    import org.apache.spark.sql.functions.col
    val base = java.nio.file.Files.createTempDirectory("graft_cetl_mh")
    val index = base.resolve("index").toString
    val sink = base.resolve("sink").toString
    val corpusText = (1 to 30).map(i => s"corp$i").mkString(" ")
    val existing = Seq((100L, corpusText)).toDF("doc_id", "text")
    val gate = graft.streaming.DocGate.all(
      // exact gate over the corpus fingerprints ...
      graft.streaming.BenchmarkGate.fromDocs(existing.select("text")),
      // ... plus the near-dup gate over the SAME corpus's band index
      graft.streaming.MinHashGate.fromCorpus(existing))
    def step(rows: Seq[(Long, String)], id: Long): Unit =
      CorpusEtlStream.prepareBatchStep(rows.toDF("doc_id", "text"), id,
        index, sink, chunkTokens = 8, stride = 6, benchmark = Some(gate))
    val nearDup = ((1 to 29).map(i => s"corp$i") :+ "drifted").mkString(" ")
    val novel = (1 to 30).map(i => s"new$i").mkString(" ")
    step(Seq((1L, corpusText), // exact corpus copy → exact gate
      (2L, nearDup), // one token drifted → ONLY the minhash gate
      (3L, novel)), 0L)
    def sinkDocIds: Set[Long] = committed(sink)
      .select("doc_id").distinct().as[Long].collect().toSet
    assert(sinkDocIds == Set(3L),
      s"expected only the novel doc through, got $sinkDocIds")
    // replay idempotent — both gates are pure functions of (text, corpus)
    step(Seq((1L, corpusText), (2L, nearDup), (3L, novel)), 0L)
    assert(sinkDocIds == Set(3L))
    assert(committed(sink).where(col("doc_id") === 3L).count() > 0)
  }

  test("winnow gate drops an edit-drifted benchmark copy the exact " +
      "gate misses") {
    val base = java.nio.file.Files.createTempDirectory("graft_cetl_wg")
    def text(i: Int) = (0 until 24).map(t => s"w${i}t$t").mkString(" ")
    // benchmark = doc 2's text with ONE token edited: the exact-dup
    // fingerprint no longer matches, most winnow fingerprints still do
    val drifted = text(2).replace("w2t11", "EDITED")
    val bench = Seq(Tuple1(drifted)).toDF("text")
    assert(graft.streaming.BenchmarkGate.fromDocs(bench)
      .scrubDocs(Seq((2L, text(2))).toDF("doc_id", "text"))
      .count() == 1, "exact gate should MISS the drifted copy")
    val gate = graft.streaming.WinnowGate.fromDocs(bench)
    def step(rows: Seq[(Long, String)], id: Long): Unit =
      CorpusEtlStream.prepareBatchStep(rows.toDF("doc_id", "text"), id,
        base.resolve("index").toString, base.resolve("sink").toString,
        chunkTokens = 8, stride = 6, benchmark = Some(gate))
    step(Seq((1L, text(1)), (2L, text(2)), (3L, text(3))), 0L)
    val ids = committed(base.resolve("sink").toString)
      .select("doc_id").distinct().as[Long].collect().toSet
    assert(ids == Set(1L, 3L))
  }

  test("wired stream: exactly-once across restarts via checkpoint") {
    val base = java.nio.file.Files.createTempDirectory("graft_cetl_q")
    val in = base.resolve("in"); java.nio.file.Files.createDirectories(in)
    val index = base.resolve("index").toString
    val sink = base.resolve("sink").toString
    val ckpt = base.resolve("ckpt").toString
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("text",
        org.apache.spark.sql.types.StringType)))
    def land(rows: Seq[(Long, String)], name: String): Unit = {
      val tmp = java.nio.file.Files.createTempDirectory("graft_cetl_b")
      rows.toDF("doc_id", "text").coalesce(1)
        .write.parquet(tmp.resolve("d").toString)
      val it = java.nio.file.Files.list(tmp.resolve("d")).iterator()
      val f = Iterator.continually(it).takeWhile(_.hasNext).map(_.next())
        .find(_.toString.endsWith(".parquet")).get
      java.nio.file.Files.copy(f, in.resolve(name))
    }
    def runOnce(): Unit = {
      val src = spark.readStream.schema(schema).parquet(in.toString)
      val q = CorpusEtlStream.prepareStream(src, index, sink, ckpt,
        chunkTokens = 8, stride = 6)
      assert(q.awaitTermination(180000), "stream did not finish")
      q.stop()
    }
    def doc(i: Int): (Long, String) =
      (i.toLong, (0 until 12).map(t => s"s${i}q$t").mkString(" "))
    land(Seq(doc(1), doc(2)), "b1.parquet")
    runOnce()
    land(Seq((3L, doc(1)._2), doc(4)), "b2.parquet")
    runOnce()
    runOnce() // restart with nothing new: no reprocessing
    val ids = committed(sink)
      .select("doc_id").distinct().as[Long].collect().toSet
    assert(ids == Set(1L, 2L, 4L))
  }
}
