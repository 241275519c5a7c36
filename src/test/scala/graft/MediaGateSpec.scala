package graft

import graft.operators.{AtomicIncrement, Multimodal}
import graft.streaming.PHashGate

/** The streaming image near-dup gate: equality with the batch
  * q_image_phash cut, boundary invisibility, corrupt-payload
  * pass-through, and the persisted-hash construction path.
  */
class MediaGateSpec extends SparkSpec {
  import spark.implicits._

  // a pattern family DISJOINT from renderFixturePng's: vertical
  // stripes keyed by seed, 32×32 gray PNG
  private def novelPng(seed: Int): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(
      32, 32, java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until 32; x <- 0 until 32) {
      val v = ((x / 4) * 53 + seed * 97) % 256
      img.setRGB(x, y, (v << 16) | (v << 8) | v)
    }
    val baos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", baos)
    baos.toByteArray
  }

  test("gate drops rescaled corpus twins, passes novel and corrupt payloads; " +
      "micro-batch boundaries invisible; persisted-hash path agrees") {
    // history: the 1× renders of patterns 0-7
    val corpus = spark.createDataFrame(
      (0L until 8L).map(id => (id, Multimodal.renderFixturePng(id))))
      .toDF("doc_id", "payload")
    val gate = PHashGate.fromCorpus(corpus)
    // arrivals: 2× renders of patterns 0-2 (near-dups by scale
    // invariance), two novel images, one corrupt payload
    val batch = spark.createDataFrame(
      (8L to 10L).map(id => (id, Multimodal.renderFixturePng(id))) ++
        Seq(20L -> novelPng(1), 21L -> novelPng(2),
          30L -> Array[Byte](1, 2, 3)))
      .toDF("doc_id", "payload")
    val kept = gate.scrubImages(batch).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    // 8-10 are resolution twins of history → dropped; novels pass;
    // the corrupt payload has no hash and must PASS (quarantine is a
    // separate filter, not the dedup gate's job)
    assert(kept == Set(20L, 21L, 30L))
    // the same rows arriving one per micro-batch decide identically
    val split = batch.collect().flatMap { r =>
      gate.scrubImages(spark.createDataFrame(
          Seq((r.getLong(0), r.getAs[Array[Byte]](1))))
          .toDF("doc_id", "payload"))
        .select("doc_id").collect().map(_.getLong(0))
    }.toSet
    assert(split == kept)
    // agreement with the batch query's cut: every dropped id shares a
    // phash with a corpus id, exactly q_image_phash's dup_group rule
    val allHashes = Multimodal.aHash64(Multimodal.decodeImageBatch(
        corpus.unionByName(batch), "doc_id", "payload"))
      .collect().map(h => h.doc_id -> h.phash).toMap
    val dropped = Set(8L, 9L, 10L)
    dropped.foreach(id => assert(
      (0L until 8L).exists(c => allHashes(c) == allHashes(id))))
    // the no-re-decode construction (persisted phash artifact) gates
    // identically
    val gate2 = PHashGate.fromHashes(
      (0L until 8L).map(allHashes).toDF("phash"))
    assert(gate2.scrubImages(batch).select("doc_id")
      .collect().map(_.getLong(0)).toSet == kept)
    InternalCaches.drain(blocking = true)
  }

  test("wired media stream: cross-batch dedup, batch-internal canonical keep, " +
      "corrupt quarantine, exactly-once across restarts") {
    import graft.streaming.MediaStream
    val base = java.nio.file.Files.createTempDirectory("graft_media_q")
    val in = base.resolve("in"); java.nio.file.Files.createDirectories(in)
    val index = base.resolve("index").toString
    val sink = base.resolve("sink").toString
    val ckpt = base.resolve("ckpt").toString
    // suites share one context; only caches ADDED by this test count
    val cachedBefore = spark.sparkContext.getPersistentRDDs.keySet
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("payload",
        org.apache.spark.sql.types.BinaryType)))
    def land(rows: Seq[(Long, Array[Byte])], name: String): Unit = {
      val tmp = java.nio.file.Files.createTempDirectory("graft_media_b")
      spark.createDataFrame(rows).toDF("doc_id", "payload").coalesce(1)
        .write.parquet(tmp.resolve("d").toString)
      val it = java.nio.file.Files.list(tmp.resolve("d")).iterator()
      val f = Iterator.continually(it).takeWhile(_.hasNext).map(_.next())
        .find(_.toString.endsWith(".parquet")).get
      java.nio.file.Files.copy(f, in.resolve(name))
    }
    def runOnce(): Unit = {
      val src = spark.readStream.schema(schema).parquet(in.toString)
      val q = MediaStream.ingestStream(src, index, sink, ckpt)
      assert(q.awaitTermination(180000), "stream did not finish")
      q.stop()
    }
    // batch 1: two distinct patterns, an exact in-batch dup of id 1
    // (same bytes under a higher id → canonical min keeps 1), a
    // corrupt payload
    land(Seq(
      1L -> Multimodal.renderFixturePng(1),
      2L -> Multimodal.renderFixturePng(2),
      3L -> Multimodal.renderFixturePng(1),
      90L -> Array[Byte](9, 9, 9)), "b1.parquet")
    runOnce()
    // batch 2: a 2x render of pattern 1 (hash-equal near-dup of the
    // ADMITTED id 1 → dropped by the index probe) and a novel image
    land(Seq(
      11L -> Multimodal.renderFixturePng(9),
      12L -> novelPng(5)), "b2.parquet")
    runOnce()
    runOnce() // restart with nothing new: no reprocessing
    val ids = AtomicIncrement.readCommitted(spark, sink).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(ids == Set(1L, 2L, 12L), s"admitted $ids")
    val corrupt = AtomicIncrement.readCommitted(spark, s"$sink/__corrupt")
      .select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(corrupt == Set(90L))
    // and the batch scope left no caches of its own behind
    val leaked = spark.sparkContext.getPersistentRDDs.keySet -- cachedBefore
    assert(leaked.isEmpty, s"batch scope leaked cached RDDs: $leaked")
  }
}
