package graft

import graft.operators.AtomicIncrement
import graft.streaming.CorpusStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Streaming near-dup dedup: first-arrival-wins admission against the
  * persistent band index, batch-internal min-id dedup, exactly-once
  * file ingestion across restarts.
  */
class CorpusStreamSpec extends SparkSpec {
  import spark.implicits._

  private val docSchema = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType)))

  // 12-token base sentences; appending a token keeps 3-gram Jaccard at
  // 10/11 ≈ 0.91 ≥ 0.8 — a planted near-dup the LSH bands must catch
  private val baseA = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"
  private val baseB = "one two three four five six seven eight nine ten eleven twelve"
  private val baseD = "red orange yellow green blue indigo violet cyan magenta white black gray"

  private def committed(dir: String) = AtomicIncrement.readCommitted(spark, dir)

  /** Every parquet file under a sink's `_data`, sink-relative. */
  private def dataFilesOnDisk(dir: String): Set[String] = {
    val root = java.nio.file.Paths.get(dir)
    val it = java.nio.file.Files.walk(root.resolve("_data")).iterator()
    Iterator.continually(it).takeWhile(_.hasNext).map(_.next())
      .filter(_.getFileName.toString.endsWith(".parquet"))
      .map(root.relativize(_).toString).toSet
  }

  test("stream admits first arrivals, drops cross-batch and in-batch near-dups") {
    val base = java.nio.file.Files.createTempDirectory("graft_cstream")
    val in = base.resolve("in"); java.nio.file.Files.createDirectories(in)
    val index = base.resolve("index").toString
    val sink = base.resolve("sink").toString
    val ckpt = base.resolve("ckpt").toString

    def runOnce(): Unit = {
      val src = spark.readStream.schema(docSchema).parquet(in.toString)
      val q = CorpusStream.nearDedupStream(src, index, sink, ckpt)
      assert(q.awaitTermination(180000), "stream did not finish")
      q.stop()
    }
    def sinkIds: Set[Long] =
      committed(sink).select("doc_id").as[Long].collect().toSet

    // the file source lists FILES, not nested write directories — land
    // each batch as one flat parquet file
    def landBatch(rows: Seq[(Long, String)], name: String): Unit = {
      val tmp = java.nio.file.Files.createTempDirectory("graft_cs_b")
      rows.toDF("doc_id", "text").coalesce(1)
        .write.parquet(tmp.resolve("d").toString)
      val part = java.nio.file.Files.list(tmp.resolve("d")).iterator()
      val file = Iterator.continually(part)
        .takeWhile(_.hasNext).map(_.next())
        .find(_.toString.endsWith(".parquet")).get
      java.nio.file.Files.copy(file, in.resolve(name))
    }

    // batch 1: two unrelated docs
    landBatch(Seq((1L, baseA), (2L, baseB)), "b1.parquet")
    runOnce()
    assert(sinkIds == Set(1L, 2L))

    // batch 2: near-dup of doc 1 (dropped via the index), a brand-new
    // doc (admitted), and an in-batch near-dup pair (min id 4 wins)
    landBatch(Seq(
      (3L, baseA + " nu"),
      (4L, baseD),
      (5L, baseD + " extra")), "b2.parquet")
    runOnce()
    assert(sinkIds == Set(1L, 2L, 4L))

    // restart with no new data: exactly-once, nothing reprocessed
    runOnce()
    assert(sinkIds == Set(1L, 2L, 4L))

    // batch 3: near-dups of docs admitted in two DIFFERENT earlier
    // batches — both dropped via the accumulated index
    landBatch(Seq(
      (6L, baseD + " shade"),
      (7L, baseB + " thirteen")), "b3.parquet")
    runOnce()
    assert(sinkIds == Set(1L, 2L, 4L))

    // admitted corpus carries no near-dup pair at all (the invariant)
    val admitted = committed(sink)
    val pairs = graft.operators.Dedup.minhashNearDups(
      admitted, "doc_id", "text", minJaccard = 0.8)
    assert(pairs.count() == 0)
    // and the index holds bands for exactly the admitted docs
    val indexed = committed(s"$index/bands")
      .select("doc_id").distinct().as[Long].collect().toSet
    assert(indexed == sinkIds)
  }

  test("replayed micro-batch is a no-op; compaction bounds index partitions") {
    val base = java.nio.file.Files.createTempDirectory("graft_cstep")
    val index = base.resolve("index").toString
    val sink = base.resolve("sink").toString
    // 12 unique tokens per doc → disjoint 3-gram shingles across docs
    def doc(i: Int): (Long, String) =
      (i.toLong, (0 until 12).map(t => s"w${i}x$t").mkString(" "))
    def step(rows: Seq[(Long, String)], id: Long): Unit =
      CorpusStream.nearDedupBatchStep(
        rows.toDF("doc_id", "text"), id, index, sink,
        minJaccard = 0.8, compactEvery = 3)
    def sinkIds: Seq[Long] =
      committed(sink).select("doc_id").as[Long].collect().toSeq.sorted

    step(Seq(doc(1), doc(2)), 0L)
    // batch 1: a near-dup of doc 1 (dropped via the index) + fresh doc 3
    val nearDup1 = (10L, doc(1)._2 + " extra")
    step(Seq(nearDup1, doc(3)), 1L)
    assert(sinkIds == Seq(1L, 2L, 3L))
    // REPLAY batch 1 (crash before checkpoint commit): the sink must
    // not double-append, and the index leftovers of the first attempt
    // must not self-match doc 3 out of the corpus
    step(Seq(nearDup1, doc(3)), 1L)
    assert(sinkIds == Seq(1L, 2L, 3L))
    // five more unique-doc batches; compaction fires at ids 2 and 5
    for (i <- 2 to 6) step(Seq(doc(10 + i)), i.toLong)
    assert(sinkIds == Seq(1L, 2L, 3L, 12L, 13L, 14L, 15L, 16L))
    // the compaction at 5 left two files, batch 6 added one, and every
    // superseded file is gone from disk
    for (table <- Seq("bands", "shingles")) {
      val files = AtomicIncrement.committedFiles(spark, s"$index/$table")
      assert(files.size <= 3, s"$table data files unbounded: $files")
      assert(dataFilesOnDisk(s"$index/$table") == files.toSet,
        s"$table keeps superseded files")
    }
    // the folded index still drops a near-dup of a batch-0 doc
    step(Seq((99L, doc(2)._2 + " tail")), 7L)
    assert(sinkIds == Seq(1L, 2L, 3L, 12L, 13L, 14L, 15L, 16L))
    // and holds bands for exactly the admitted docs
    val indexed = committed(s"$index/bands")
      .select("doc_id").distinct().as[Long].collect().toSet
    assert(indexed == sinkIds.toSet)
  }

  test("a compaction that fails mid-stage leaves the index snapshot " +
      "and the next admission unchanged") {
    val base = java.nio.file.Files.createTempDirectory("graft_ccrash")
    val index = base.resolve("index").toString
    val sink = base.resolve("sink").toString
    val bands = s"$index/bands"
    def doc(i: Int): (Long, String) =
      (i.toLong, (0 until 12).map(t => s"c${i}y$t").mkString(" "))
    def step(rows: Seq[(Long, String)], id: Long): Unit =
      CorpusStream.nearDedupBatchStep(
        rows.toDF("doc_id", "text"), id, index, sink,
        minJaccard = 0.8, compactEvery = 0)
    def bandRows = committed(bands).collect().map(_.toString).sorted.toSeq

    step(Seq(doc(1), doc(2)), 0L)
    step(Seq(doc(3)), 1L)
    step(Seq(doc(4)), 2L)
    val before = AtomicIncrement.latestSnapshot(spark, bands)
    val (rowsBefore, onDiskBefore) = (bandRows, dataFilesOnDisk(bands))
    assert(before.data.size == 3, "precondition: three files to compact")
    // the compaction dies after staging its rewrite, before the publish
    val boom = intercept[RuntimeException] {
      graft.operators.Txn.racing(throw new RuntimeException("die@compact")) {
        CorpusStream.maintainIndex(spark, bands)
      }
    }
    assert(boom.getMessage == "die@compact")
    val after = AtomicIncrement.latestSnapshot(spark, bands)
    assert((after.version, after.data, after.lastBatch) ==
      (before.version, before.data, before.lastBatch))
    assert(bandRows == rowsBefore)
    assert(dataFilesOnDisk(bands) == onDiskBefore,
      "the failed compaction left staged files behind")
    // admission is still exact: a near-dup of a batch-0 doc is dropped,
    // a fresh doc admitted
    step(Seq((50L, doc(1)._2 + " tail"), doc(6)), 3L)
    val ids = committed(sink).select("doc_id").as[Long].collect().toSet
    assert(ids == Set(1L, 2L, 3L, 4L, 6L))
  }

  test("a sink or index dir the pre-manifest batch=<id> layout wrote " +
      "fails loudly, naming the dir, instead of reading as empty") {
    val base = java.nio.file.Files.createTempDirectory("graft_clegacy")
    def refused(index: String, sink: String, dir: String): Unit = {
      val e = intercept[IllegalStateException](
        CorpusStream.nearDedupBatchStep(
          Seq((1L, baseA)).toDF("doc_id", "text"), 0L, index, sink,
          minJaccard = 0.8))
      assert(e.getMessage.contains(s"$dir holds batch=<id> dirs"),
        e.getMessage)
    }
    def legacy(dir: String): Unit =
      Seq((7L, baseB)).toDF("doc_id", "text").write.parquet(s"$dir/batch=0")
    val index = base.resolve("index").toString
    legacy(s"$index/bands")
    refused(index, base.resolve("sink").toString, s"$index/bands")
    // a fresh index over a parent-layout sink: the sink append refuses
    val sink = base.resolve("sink2").toString
    legacy(sink)
    refused(base.resolve("index2").toString, sink, sink)
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(sink, "_graft_manifest")))
  }

  test("benchmark gate keeps contaminated docs out of sink AND index") {
    val base = java.nio.file.Files.createTempDirectory("graft_cs_bm")
    val index = base.resolve("index").toString
    val sink = base.resolve("sink").toString
    val gate = graft.streaming.BenchmarkGate.fromDocs(
      Seq(Tuple1(baseA.toUpperCase)).toDF("text")) // normalized-fp match
    def step(rows: Seq[(Long, String)], id: Long): Unit =
      CorpusStream.nearDedupBatchStep(rows.toDF("doc_id", "text"), id,
        index, sink, minJaccard = 0.8, benchmark = Some(gate))
    // doc 1 IS the benchmark doc (case differs): dropped by the gate,
    // and because it never enters the index, doc 2 — a legitimate
    // near-dup of the contaminated doc — is still admitted
    step(Seq((1L, baseA), (3L, baseB)), 0L)
    step(Seq((2L, baseA + " nu")), 1L)
    val ids = committed(sink).select("doc_id").as[Long].collect().toSet
    assert(ids == Set(2L, 3L))
  }
}
