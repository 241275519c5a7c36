package graft

import graft.operators.{AtomicIncrement, BloomSkip}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The manifest-level inverted token index
  * ([[BloomSkip.ensureTokenIndex]] / `readContainingTokensIndexed`):
  * one pushdown-pruned postings read replaces per-file sidecar
  * probes. Pins: incremental build cost ∝ the increment, uncovered
  * files stay may-contain, dead-heavy indexes rebuild, conjunctive
  * semantics, dv application, and the bucket-mismatch refusal.
  */
class TokenIndexSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  private def rm(dir: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(dir)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .delete(p, true)
    ()
  }

  private def docs(lo: Int, hi: Int, tag: String): DataFrame =
    (lo to hi).map(i => (i.toLong, s"common filler $tag doc$i"))
      .toDF("id", "text")

  test("incremental build, pushdown probe, uncovered may-contain, " +
      "conjunctive semantics") {
    val sink = tmp("graft_tidx")
    try {
      AtomicIncrement.appendIncrementAtomic(docs(1, 50, "alpha"), sink, "id")
      AtomicIncrement.appendIncrementAtomic(docs(51, 100, "beta"), sink, "id")
      val n0 = BloomSkip.ensureTokenIndex(spark, sink, "text",
        buckets = 4096)
      assert(n0 === AtomicIncrement.committedFiles(spark, sink).size)
      assert(BloomSkip.ensureTokenIndex(spark, sink, "text",
        buckets = 4096) === 0, "a current index must rebuild nothing")
      // probe: 'beta' lives only in the second increment's files
      val r = BloomSkip.readContainingTokensIndexed(spark, sink, "text",
        Seq("beta"), buckets = 4096)
      assert(r.inputFiles.length <
        AtomicIncrement.committedFiles(spark, sink).size)
      assert(r.filter($"text".contains("beta")).count() === 50L)
      // conjunctive: beta AND alpha co-occur nowhere
      assert(BloomSkip.readContainingTokensIndexed(spark, sink, "text",
        Seq("beta", "alpha"), buckets = 4096)
        .filter($"text".contains("beta") && $"text".contains("alpha"))
        .count() === 0L)
      // an uncovered late append stays may-contain: the new file is
      // read even though no postings mention it
      AtomicIncrement.appendIncrementAtomic(
        Seq((101L, "gamma only here")).toDF("id", "text"), sink, "id")
      val r2 = BloomSkip.readContainingTokensIndexed(spark, sink, "text",
        Seq("gamma"), buckets = 4096)
      assert(r2.filter($"text".contains("gamma")).count() === 1L)
      // incremental: covering it indexes exactly the one new file
      assert(BloomSkip.ensureTokenIndex(spark, sink, "text",
        buckets = 4096) === 1)
      // probing with the wrong bucket count refuses loudly
      val e = intercept[IllegalArgumentException] {
        BloomSkip.readContainingTokensIndexed(spark, sink, "text",
          Seq("gamma"), buckets = 8192)
      }
      assert(e.getMessage.contains("buckets"))
    } finally rm(sink)
  }

  test("compaction-dead postings trigger a full rebuild and dv-masked " +
      "rows never surface") {
    val sink = tmp("graft_tidx2")
    try {
      for (b <- 0 until 4)
        AtomicIncrement.appendIncrementAtomic(
          docs(b * 25 + 1, b * 25 + 25, s"b$b"), sink, "id")
      BloomSkip.ensureTokenIndex(spark, sink, "text", buckets = 4096)
      // compaction replaces every file: the whole covered list is dead
      AtomicIncrement.compact(spark, sink)
      val rebuilt = BloomSkip.ensureTokenIndex(spark, sink, "text",
        buckets = 4096)
      assert(rebuilt ===
        AtomicIncrement.committedFiles(spark, sink).size,
        "a dead-heavy index must rebuild in full")
      // MoR delete of doc 10, then the indexed grep must not resurrect
      AtomicIncrement.mergeOnReadAtomic(
        Seq((10L, "x", true)).toDF("id", "text", "del"), sink, "id", "del")
      val r = BloomSkip.readContainingTokensIndexed(spark, sink, "text",
        Seq("doc10"), buckets = 4096)
      assert(r.filter($"text".contains("doc10 ") ||
        $"text".endsWith("doc10")).count() === 0L,
        "a dv-masked row surfaced through the indexed grep")
    } finally rm(sink)
  }

  test("a top-up build never rewrites _meta.txt: a probe beside it " +
      "cannot read it torn") {
    val sink = tmp("graft_tidx3")
    try {
      AtomicIncrement.appendIncrementAtomic(docs(1, 25, "alpha"), sink, "id")
      BloomSkip.ensureTokenIndex(spark, sink, "text", buckets = 4096)
      val meta = new java.io.File(s"$sink/_index/tok-text/_meta.txt")
      val bytes = java.nio.file.Files.readAllBytes(meta.toPath).toSeq
      // an old stamp, so any rewrite shows whatever the clock's grain
      assert(meta.setLastModified(1000000000L))
      AtomicIncrement.appendIncrementAtomic(docs(26, 50, "beta"), sink, "id")
      assert(BloomSkip.ensureTokenIndex(spark, sink, "text",
        buckets = 4096) > 0, "the top-up must index the new files")
      assert(meta.lastModified === 1000000000L,
        "the top-up build rewrote _meta.txt")
      assert(java.nio.file.Files.readAllBytes(meta.toPath).toSeq === bytes)
    } finally rm(sink)
  }
}
