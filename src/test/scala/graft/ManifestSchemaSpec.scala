package graft

import graft.operators.AtomicIncrement
import org.apache.spark.sql.functions._

/** MANIFEST-EMBEDDED SCHEMA (round 16): every commit writes the
  * snapshot's merged data schema into the manifest, so schema
  * resolution is O(manifest) even first-touch in a fresh process —
  * the footer sweep survives only as the legacy fallback. Pins:
  * (1) the manifest line ALONE answers (data files can vanish and
  * the snapshot's schema still resolves — a sweep would throw); (2)
  * a legacy manifest without the line still sweeps correctly, and
  * its next commit embeds the line again; (3) a
  * schema-evolving append embeds the union and readers agree with
  * mergeSchema ground truth; (4) time travel resolves the pinned
  * version's schema from its own manifest.
  */
class ManifestSchemaSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  private def rm(dir: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(dir)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .delete(p, true)
    ()
  }

  private def fs(sink: String) =
    new org.apache.hadoop.fs.Path(sink)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)

  test("the manifest line alone answers a cold-process dataSchema: " +
      "data files vanish and the schema still resolves") {
    val sink = tmp("graft_msch_cold")
    try {
      AtomicIncrement.appendIncrementAtomic(
        (1 to 10).map(i => (i.toLong, i * 1.0)).toDF("k", "amt"),
        sink, "k")
      AtomicIncrement.appendIncrementAtomic(
        (11 to 20).map(i => (i.toLong, i * 1.0, s"g$i"))
          .toDF("k", "amt", "grp"), sink, "k")
      // ground truth BEFORE tampering: what a footer sweep reports
      val swept = spark.read.option("mergeSchema", "true")
        .parquet(AtomicIncrement.committedFiles(spark, sink)
          .map(f => s"$sink/$f"): _*).schema
      // the snapshot parse alone must answer from the embedded line
      // — with every data file MOVED AWAY, a footer sweep would throw
      // file-not-found
      val snap = AtomicIncrement.latestSnapshot(spark, sink)
      val dataE = snap.data
      val f = fs(sink)
      val hidden = new org.apache.hadoop.fs.Path(sink, "_hidden")
      f.mkdirs(hidden)
      val moved = dataE.map { e =>
        val from = new org.apache.hadoop.fs.Path(s"$sink/${e.path}")
        val to = new org.apache.hadoop.fs.Path(hidden,
          from.getName + "_" + math.abs(e.path.hashCode))
        assert(f.rename(from, to)); (from, to)
      }
      val got = snap.schema
      moved.foreach { case (from, to) => f.rename(to, from) }
      assert(got.fieldNames.toSeq === swept.fieldNames.toSeq)
      assert(got.fields.map(x => (x.name, x.dataType)).toSeq ===
        swept.fields.map(x => (x.name, x.dataType)).toSeq)
      // evolution read stays mergeSchema-correct through the embed
      val rows = AtomicIncrement.readCommitted(spark, sink)
      assert(rows.count() === 20L)
      assert(rows.filter($"k" <= 10 && $"grp".isNull).count() === 10L)
    } finally rm(sink)
  }

  test("a legacy manifest without the schema line still answers " +
      "through the footer sweep") {
    val sink = tmp("graft_msch_legacy")
    try {
      AtomicIncrement.appendIncrementAtomic(
        (1 to 10).map(i => (i.toLong, s"v$i")).toDF("k", "v"), sink, "k")
      // strip the embedded line in place — the pre-round-16 manifest
      val f = fs(sink)
      val dir = new org.apache.hadoop.fs.Path(sink, "_graft_manifest")
      val mf = f.listStatus(dir).map(_.getPath)
        .filter(_.getName.forall(_.isDigit)).maxBy(_.getName)
      val lines = {
        val in = f.open(mf)
        try scala.io.Source.fromInputStream(in, "UTF-8")
          .getLines().toList
        finally in.close()
      }
      assert(lines.exists(_.startsWith("__graft_schema")),
        "round-16 append should have embedded a schema line")
      f.delete(mf, false)
      val out = f.create(mf, true)
      try out.write(lines.filterNot(_.startsWith("__graft_schema"))
        .mkString("\n").getBytes("UTF-8"))
      finally out.close()
      val got = AtomicIncrement.latestSnapshot(spark, sink).schema
      assert(got.fieldNames.toSeq === Seq("k", "v"))
      assert(AtomicIncrement.readCommitted(spark, sink).count() === 10L)
      // the next commit upgrades the legacy manifest: its writer's
      // snapshot swept once, and the publish embeds the result
      AtomicIncrement.appendIncrementAtomic(
        (11 to 12).map(i => (i.toLong, s"v$i")).toDF("k", "v"), sink, "k")
      val upgraded = AtomicIncrement.latestSnapshot(spark, sink)
      assert(upgraded.version === 2L)
      assert(upgraded.embeddedSchema.map(_.fieldNames.toSeq) ===
        Some(Seq("k", "v")))
    } finally rm(sink)
  }

  test("time travel resolves the PINNED version's schema from its own " +
      "manifest, cold") {
    val sink = tmp("graft_msch_tt")
    try {
      AtomicIncrement.appendIncrementAtomic(
        (1 to 10).map(i => (i.toLong, i * 1.0)).toDF("k", "amt"),
        sink, "k")
      AtomicIncrement.appendIncrementAtomic(
        (11 to 20).map(i => (i.toLong, i * 1.0, s"g$i"))
          .toDF("k", "amt", "grp"), sink, "k")
      val got = AtomicIncrement.snapshotAt(spark, sink, 1L).schema
      // version 1 predates the evolution: two columns, not three —
      // and the resolve must come from v1's own embedded line (no
      // footer open can tell a 2-col subset apart faster than the
      // line does)
      assert(got.fieldNames.toSeq === Seq("k", "amt"))
    } finally rm(sink)
  }

  test("a dv-carrying commit embeds the DATA schema (dv key files " +
      "never pollute it) and the post-merge read agrees") {
    val sink = tmp("graft_msch_dv")
    try {
      AtomicIncrement.appendIncrementAtomic(
        (1 to 20).map(i => (i.toLong, i * 1.0)).toDF("k", "amt"),
        sink, "k")
      AtomicIncrement.mergeOnReadAtomic(
        Seq((5L, 500.0, false), (6L, 0.0, true))
          .toDF("k", "amt", "del"), sink, "k", "del")
      val got = AtomicIncrement.latestSnapshot(spark, sink).schema
      assert(got.fieldNames.toSeq === Seq("k", "amt"))
      val rows = AtomicIncrement.readCommitted(spark, sink)
      assert(rows.count() === 19L)
      assert(rows.filter($"k" === 5L).select("amt").as[Double]
        .head() === 500.0)
    } finally rm(sink)
  }
}
