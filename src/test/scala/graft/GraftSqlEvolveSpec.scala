package graft

import graft.operators.AtomicIncrement
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Round-17 SQL schema surface: plain CREATE TABLE publishes a
  * SCHEMA-ONLY manifest (immediately loadable, SELECT answers empty,
  * INSERT INTO lands as version 2), and `ALTER TABLE … ADD COLUMN`
  * commits a zero-row schema-evolution file — old rows read the new
  * column as NULL, time travel resolves each version's own schema,
  * standing delete vectors keep masking, destructive ALTERs refuse
  * loudly, and stats coverage (the manifest watermark shortcut)
  * survives the evolution.
  */
class GraftSqlEvolveSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  private def rm(dir: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(dir)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .delete(p, true)
    ()
  }

  private def install(): Unit =
    spark.conf.set("spark.sql.catalog.graft",
      "graft.sources.GraftCatalog")

  private def rows(lo: Int, hi: Int): DataFrame =
    (lo to hi).map(k => (k.toLong, s"g${k % 3}", k * 1.5))
      .toDF("k", "grp", "amt")

  test("plain CREATE TABLE is immediately loadable: schema-only v1, " +
      "empty SELECT, INSERT INTO lands as v2") {
    install()
    val sink = tmp("graft_evo_create")
    rm(sink) // CREATE wants a fresh path
    try {
      spark.sql(s"CREATE TABLE graft.`$sink` (k BIGINT, grp STRING)")
      assert(AtomicIncrement.snapshot(spark, sink)._1 == 1L,
        "CREATE must publish a schema-only manifest version 1")
      val empty = spark.sql(s"SELECT * FROM graft.`$sink`")
      assert(empty.columns.toSeq == Seq("k", "grp"))
      assert(empty.count() == 0L)
      spark.sql(s"INSERT INTO graft.`$sink` VALUES (1, 'a'), (2, 'b')")
      assert(AtomicIncrement.snapshot(spark, sink)._1 == 2L)
      assert(spark.sql(s"SELECT * FROM graft.`$sink`").count() == 2L)
      // CREATE over an existing table refuses
      val e = intercept[Exception] {
        spark.sql(s"CREATE TABLE graft.`$sink` (x INT)")
      }
      assert(e.getMessage.toLowerCase.contains("exists"), e.getMessage)
    } finally rm(sink)
  }

  test("ALTER TABLE ADD COLUMN: old files read NULL, new INSERT " +
      "carries the column, one evolution version is published") {
    install()
    val sink = tmp("graft_evo_add")
    try {
      AtomicIncrement.appendIncrementAtomic(
        rows(1, 40).repartition(1), sink, "k")
      val v1 = AtomicIncrement.snapshot(spark, sink)._1
      val before = AtomicIncrement.committedFiles(spark, sink).toSet
      spark.sql(s"ALTER TABLE graft.`$sink` ADD COLUMN note STRING")
      val (v2, filesAfter) = AtomicIncrement.snapshot(spark, sink)
      assert(v2 == v1 + 1, "evolution is one committed version")
      assert(before.subsetOf(filesAfter.toSet),
        "every standing data file rides verbatim")
      assert(filesAfter.size == before.size + 1,
        "exactly the zero-row evolution file joins")
      // catalog schema evolved; old rows read NULL
      val cols = spark.sql(s"SELECT * FROM graft.`$sink`").columns.toSeq
      assert(cols == Seq("k", "grp", "amt", "note"))
      assert(spark.sql(
        s"SELECT count(*) AS n FROM graft.`$sink` WHERE note IS NULL")
        .head().getLong(0) == 40L)
      spark.sql(s"INSERT INTO graft.`$sink` " +
        "VALUES (200, 'gx', 1.0, 'fresh')")
      val got = spark.sql(s"SELECT note FROM graft.`$sink` " +
        "WHERE k = 200").head().getString(0)
      assert(got == "fresh")
      assert(spark.sql(s"SELECT count(*) AS n FROM graft.`$sink`")
        .head().getLong(0) == 41L)
    } finally rm(sink)
  }

  test("time travel resolves each version's own schema — the " +
      "pre-evolution snapshot has no new column") {
    install()
    val sink = tmp("graft_evo_tt")
    try {
      AtomicIncrement.appendIncrementAtomic(
        rows(1, 10).repartition(1), sink, "k")
      spark.sql(s"ALTER TABLE graft.`$sink` ADD COLUMN note STRING")
      val old = spark.sql(
        s"SELECT * FROM graft.`$sink` VERSION AS OF 1")
      assert(old.columns.toSeq == Seq("k", "grp", "amt"),
        s"v1 must keep its own schema, got ${old.columns.toSeq}")
      assert(old.count() == 10L)
      val now = spark.sql(s"SELECT * FROM graft.`$sink`")
      assert(now.columns.toSeq == Seq("k", "grp", "amt", "note"))
    } finally rm(sink)
  }

  test("evolved read under standing delete vectors: tombstoned rows " +
      "stay masked and the new column reads") {
    install()
    val sink = tmp("graft_evo_dv")
    try {
      AtomicIncrement.appendIncrementAtomic(
        rows(1, 30).repartition(1), sink, "k")
      // merge-on-read delete of k <= 5 (leaves dv lines standing)
      AtomicIncrement.mergeOnReadAtomic(
        rows(1, 5).withColumn("del", lit(true)), sink, "k", "del")
      spark.sql(s"ALTER TABLE graft.`$sink` ADD COLUMN note STRING")
      val n = spark.sql(s"SELECT count(*) AS n FROM graft.`$sink`")
        .head().getLong(0)
      assert(n == 25L, s"dv must keep masking after evolution: $n")
      spark.sql(s"INSERT INTO graft.`$sink` VALUES (3, 'g0', 0.0, 'back')")
      // the re-inserted key outranks the old tombstone (sequence rule)
      val back = spark.sql(
        s"SELECT note FROM graft.`$sink` WHERE k = 3").collect()
      assert(back.map(_.getString(0)).toSeq == Seq("back"))
    } finally rm(sink)
  }

  test("refusal matrix: DROP / RENAME / retype / NOT NULL / nested / " +
      "position / default all refuse loudly") {
    install()
    val sink = tmp("graft_evo_refuse")
    try {
      AtomicIncrement.appendIncrementAtomic(
        rows(1, 5).repartition(1), sink, "k")
      val v = AtomicIncrement.snapshot(spark, sink)._1
      def refuses(sql: String, needle: String): Unit = {
        val e = intercept[Exception] { spark.sql(sql) }
        def all(t: Throwable): Seq[String] =
          Option(t).toSeq.flatMap(x =>
            x.getMessage +: all(x.getCause).flatMap(Seq(_)))
        assert(all(e).exists(m =>
            m != null && m.toLowerCase.contains(needle)),
          s"wanted '$needle' in: ${all(e).mkString(" | ")}")
      }
      refuses(s"ALTER TABLE graft.`$sink` DROP COLUMN amt",
        "not supported")
      refuses(s"ALTER TABLE graft.`$sink` RENAME COLUMN amt TO amount",
        "not supported")
      refuses(s"ALTER TABLE graft.`$sink` ALTER COLUMN amt TYPE STRING",
        "rewrite")
      // Spark's own analyzer already refuses tightening a nullable
      // column ("Cannot change nullable column to non-nullable");
      // the catalog's all-nullable guard backstops programmatic calls
      refuses(s"ALTER TABLE graft.`$sink` ALTER COLUMN amt SET NOT NULL",
        "non-nullable")
      refuses(s"ALTER TABLE graft.`$sink` ADD COLUMN note STRING FIRST",
        "parquet field order")
      refuses(s"ALTER TABLE graft.`$sink` ADD COLUMN amt DOUBLE",
        "already exists")
      assert(AtomicIncrement.snapshot(spark, sink)._1 == v,
        "a refused ALTER publishes nothing")
    } finally rm(sink)
  }

  test("ALTER on a schema-only (empty) table evolves the declared " +
      "schema; comment updates commit; nullable widen is a no-op") {
    install()
    val sink = tmp("graft_evo_empty")
    rm(sink)
    try {
      spark.sql(s"CREATE TABLE graft.`$sink` (k BIGINT)")
      spark.sql(s"ALTER TABLE graft.`$sink` ADD COLUMN tag STRING")
      assert(spark.sql(s"SELECT * FROM graft.`$sink`")
        .columns.toSeq == Seq("k", "tag"))
      spark.sql(s"INSERT INTO graft.`$sink` VALUES (7, 'x')")
      assert(spark.sql(s"SELECT tag FROM graft.`$sink` WHERE k = 7")
        .head().getString(0) == "x")
      val v = AtomicIncrement.snapshot(spark, sink)._1
      spark.sql(s"ALTER TABLE graft.`$sink` " +
        "ALTER COLUMN tag COMMENT 'free text'")
      assert(AtomicIncrement.snapshot(spark, sink)._1 == v + 1,
        "a comment change is a real (metadata) commit")
      spark.sql(s"ALTER TABLE graft.`$sink` ALTER COLUMN tag DROP NOT NULL")
      assert(AtomicIncrement.snapshot(spark, sink)._1 == v + 1,
        "widening to nullable is the standing state — no commit")
    } finally rm(sink)
  }

  test("a standing STREAM keeps its start-frozen schema across an " +
      "ALTER (the new column is projected away, rows keep flowing); " +
      "a fresh subscription surfaces the column") {
    install()
    val sink = tmp("graft_evo_stream")
    val ckpt = tmp("graft_evo_ck")
    val ck2 = tmp("graft_evo_ck2")
    try {
      AtomicIncrement.appendIncrementAtomic(
        rows(1, 10).repartition(1), sink, "k")
      val seenCols =
        scala.collection.mutable.ArrayBuffer.empty[Seq[String]]
      val n = new java.util.concurrent.atomic.AtomicLong(0)
      val q = spark.readStream.format("graft-atomic")
        .option("path", sink).load()
        .writeStream.option("checkpointLocation", ckpt)
        .foreachBatch { (df: DataFrame, _: Long) =>
          seenCols.synchronized { seenCols += df.columns.toSeq; () }
          n.addAndGet(df.count()); ()
        }.start()
      q.processAllAvailable()
      spark.sql(s"ALTER TABLE graft.`$sink` ADD COLUMN note STRING")
      spark.sql(s"INSERT INTO graft.`$sink` VALUES (100, 'gx', 1.0, 'n1')")
      q.processAllAvailable()
      q.stop()
      assert(n.get() == 11L,
        s"bootstrap 10 + 1 insert must flow (evolution file is " +
          s"zero rows): ${n.get()}")
      assert(seenCols.forall(!_.contains("note")),
        s"the frozen schema leaked the evolved column: $seenCols")
      // a FRESH subscription (new checkpoint → full bootstrap)
      // surfaces the column: old rows NULL, the inserted row carries it
      val got = scala.collection.mutable.ArrayBuffer
        .empty[(Long, Option[String])]
      val q2 = spark.readStream.format("graft-atomic")
        .option("path", sink).load()
        .writeStream.option("checkpointLocation", ck2)
        .foreachBatch { (df: DataFrame, _: Long) =>
          val batch = df.select("k", "note").collect()
            .map(r => (r.getLong(0), Option(r.getString(1))))
          got.synchronized { got ++= batch; () }
        }.start()
      q2.processAllAvailable()
      q2.stop()
      assert(got.size == 11)
      assert(got.toMap.apply(100L).contains("n1"))
      assert(got.filter(_._1 <= 10L).forall(_._2.isEmpty),
        "pre-evolution rows must read the new column as NULL")
    } finally { rm(sink); rm(ckpt); rm(ck2) }
  }

  test("stats coverage survives the evolution: the watermark gate " +
      "still dedupes a replay from MANIFEST stats after ALTER") {
    install()
    val sink = tmp("graft_evo_wm")
    try {
      AtomicIncrement.appendIncrementAtomic(
        rows(1, 20).repartition(1), sink, "k")
      spark.sql(s"ALTER TABLE graft.`$sink` ADD COLUMN note STRING")
      // full replay of the first increment: zero rows must land
      val n = AtomicIncrement.appendIncrementAtomic(
        rows(1, 20).repartition(1), sink, "k")
      assert(n == 0L, s"replay leaked $n rows after evolution")
      // genuinely new rows still land
      val m = AtomicIncrement.appendIncrementAtomic(
        rows(21, 30).repartition(1), sink, "k")
      assert(m == 10L)
    } finally rm(sink)
  }
}
