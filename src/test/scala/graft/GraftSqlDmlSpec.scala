package graft

import graft.operators.AtomicIncrement
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The round-16 SQL DML surface: UPDATE and MERGE INTO through
  * `SupportsRowLevelOperations` (group-based copy-on-write with a
  * real DSv2 batch read + BatchWrite), INSERT INTO / INSERT OVERWRITE
  * / CTAS through the catalog's V1 write. Pins: carried files ride
  * VERBATIM (path identity, not just content), dv-masked rows never
  * resurrect, the subquery-UPDATE union shape commits as a full
  * replace, no-match statements publish no version, and previously
  * refused untranslatable DELETE predicates now execute via CoW.
  */
class GraftSqlDmlSpec extends SparkSpec {
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

  /** Three disjoint-interval increments, ONE file each (so file-level
    * pins count whole increments).
    */
  private def loadThree(sink: String): Unit =
    for ((lo, hi) <- Seq((1, 40), (41, 80), (81, 120)))
      AtomicIncrement.appendIncrementAtomic(
        rows(lo, hi).repartition(1), sink, "k")

  test("SQL UPDATE rewrites only may-match files — carried files ride " +
      "verbatim by PATH; old-row SET semantics hold") {
    install()
    val sink = tmp("graft_dml_upd")
    try {
      loadThree(sink)
      val before = AtomicIncrement.committedFiles(spark, sink).toSet
      spark.sql(s"UPDATE graft.`$sink` SET amt = amt + 1000 " +
        "WHERE k <= 40")
      val after = AtomicIncrement.committedFiles(spark, sink).toSet
      // files 2 and 3 (k in 41..120) must be the SAME paths
      assert((before -- after).size <= 1,
        s"more than the may-match file was rewritten: " +
          s"dropped=${before -- after}")
      assert((before & after).size >= 2,
        "carried files must survive by path identity")
      val got = AtomicIncrement.readCommitted(spark, sink)
      assert(got.count() === 120L)
      assert(got.filter($"k" <= 40 && $"amt" =!= ($"k" * 1.5 + 1000))
        .count() === 0L)
      assert(got.filter($"k" > 40 && $"amt" =!= $"k" * 1.5)
        .count() === 0L)
    } finally rm(sink)
  }

  test("SQL UPDATE SET a = b, b = a swaps (every assignment sees the " +
      "OLD row); NULL cond rows carry") {
    install()
    val sink = tmp("graft_dml_swap")
    try {
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("k",
          org.apache.spark.sql.types.LongType, nullable = false),
        org.apache.spark.sql.types.StructField("a",
          org.apache.spark.sql.types.LongType, nullable = true),
        org.apache.spark.sql.types.StructField("b",
          org.apache.spark.sql.types.LongType, nullable = true)))
      AtomicIncrement.appendIncrementAtomic(
        spark.createDataFrame(java.util.Arrays.asList(
          org.apache.spark.sql.Row(1L, 10L, 20L),
          org.apache.spark.sql.Row(2L, 30L, 40L),
          org.apache.spark.sql.Row(3L, null, 60L)), schema),
        sink, "k")
      spark.sql(s"UPDATE graft.`$sink` SET a = b, b = a WHERE a < 25")
      val got = AtomicIncrement.readCommitted(spark, sink)
        .orderBy("k").collect().map(r =>
          (r.getLong(0), Option(r.get(1)), Option(r.get(2))))
      assert(got.toSeq === Seq(
        (1L, Some(20L), Some(10L)),
        (2L, Some(30L), Some(40L)),
        (3L, None, Some(60L))))
    } finally rm(sink)
  }

  test("SQL UPDATE with a subquery condition takes the UNION plan " +
      "shape and commits as a full snapshot replace — no duplication") {
    install()
    val sink = tmp("graft_dml_subq")
    try {
      loadThree(sink)
      spark.sql(s"UPDATE graft.`$sink` SET amt = 0 WHERE k IN " +
        s"(SELECT k FROM graft.`$sink` WHERE grp = 'g1')")
      val got = AtomicIncrement.readCommitted(spark, sink)
      assert(got.count() === 120L, "union-shape UPDATE duplicated rows")
      assert(got.filter($"grp" === "g1" && $"amt" =!= 0.0).count() === 0L)
      assert(got.filter($"grp" =!= "g1" && $"amt" === 0.0).count() === 0L)
    } finally rm(sink)
  }

  test("SQL UPDATE on a dv-carrying table: tombstoned rows never " +
      "resurrect; the rewrite outranks standing tombstones") {
    install()
    // a long key, and an int key whose dv file still holds the
    // churn's LONG keys
    for (key <- Seq("long", "int")) {
      val sink = tmp("graft_dml_dv")
      try {
        AtomicIncrement.appendIncrementAtomic(
          (1 to 20).map(i => (i.toLong, i * 1.0)).toDF("k", "amt")
            .withColumn("k", $"k".cast(key)), sink, "k")
        AtomicIncrement.mergeOnReadAtomic(
          Seq((5L, 0.0, true)).toDF("k", "amt", "del")
            .withColumn("k", $"k".cast(key)), sink, "k", "del")
        spark.sql(s"UPDATE graft.`$sink` SET amt = 777 WHERE k <= 10")
        val got = AtomicIncrement.readCommitted(spark, sink)
        assert(got.count() === 19L, key)
        assert(got.filter($"k" === 5L).count() === 0L,
          s"a dv-masked row resurrected through SQL UPDATE ($key key)")
        assert(got.filter($"k" <= 10 && $"amt" =!= 777.0).count() === 0L)
      } finally rm(sink)
    }
  }

  test("no-match SQL UPDATE publishes no version") {
    install()
    val sink = tmp("graft_dml_noop")
    try {
      loadThree(sink)
      val v0 = AtomicIncrement.snapshot(spark, sink)._1
      spark.sql(s"UPDATE graft.`$sink` SET amt = 0 WHERE k > 99999")
      assert(AtomicIncrement.snapshot(spark, sink)._1 === v0)
    } finally rm(sink)
  }

  test("MERGE INTO: matched update, matched-and delete, not-matched " +
      "insert — content equals the API merge") {
    install()
    val sink = tmp("graft_dml_merge")
    try {
      loadThree(sink)
      (Seq((2L, "gX", 9999.0, false), (41L, "gX", 8888.0, false),
        (7L, "", 0.0, true), (121L, "gN", 121.5, false),
        (130L, "gN", 130.5, false)))
        .toDF("k", "grp", "amt", "del")
        .createOrReplaceTempView("graft_dml_src")
      spark.sql(
        s"""MERGE INTO graft.`$sink` t USING graft_dml_src s ON t.k = s.k
           |WHEN MATCHED AND s.del THEN DELETE
           |WHEN MATCHED THEN UPDATE SET t.grp = s.grp, t.amt = s.amt
           |WHEN NOT MATCHED THEN INSERT (k, grp, amt)
           |  VALUES (s.k, s.grp, s.amt)""".stripMargin)
      val got = AtomicIncrement.readCommitted(spark, sink)
      assert(got.count() === 121L) // 120 - 1 deleted + 2 inserted
      assert(got.filter($"k" === 7L).count() === 0L)
      assert(got.filter($"k" === 2L).select("amt").as[Double]
        .head() === 9999.0)
      assert(got.filter($"k" === 41L).select("grp").as[String]
        .head() === "gX")
      assert(got.filter($"k" === 121L).count() === 1L)
      assert(got.filter($"k" === 130L).count() === 1L)
      // untouched rows intact
      assert(got.filter($"k" === 100L).select("amt").as[Double]
        .head() === 150.0)
    } finally rm(sink)
  }

  test("INSERT INTO is a blind ANSI append (carried files verbatim); " +
      "INSERT OVERWRITE replaces the snapshot") {
    install()
    val sink = tmp("graft_dml_ins")
    try {
      loadThree(sink)
      val before = AtomicIncrement.committedFiles(spark, sink).toSet
      spark.sql(s"INSERT INTO graft.`$sink` " +
        "VALUES (200L, 'gZ', 5.0), (201L, 'gZ', 6.0)")
      val after = AtomicIncrement.committedFiles(spark, sink).toSet
      assert(before.subsetOf(after), "append must carry files verbatim")
      val got = AtomicIncrement.readCommitted(spark, sink)
      assert(got.count() === 122L)
      assert(got.filter($"grp" === "gZ").count() === 2L)
      // blind append: re-running the same INSERT adds the rows AGAIN
      spark.sql(s"INSERT INTO graft.`$sink` " +
        "VALUES (200L, 'gZ', 5.0), (201L, 'gZ', 6.0)")
      assert(AtomicIncrement.readCommitted(spark, sink)
        .filter($"grp" === "gZ").count() === 4L)
      spark.sql(s"INSERT OVERWRITE graft.`$sink` " +
        "VALUES (1L, 'only', 1.0)")
      assert(AtomicIncrement.readCommitted(spark, sink).count() === 1L)
      // INSERT of an empty SELECT publishes NO version
      val v0 = AtomicIncrement.snapshot(spark, sink)._1
      spark.sql(s"INSERT INTO graft.`$sink` " +
        s"SELECT * FROM graft.`$sink` WHERE k > 99999")
      assert(AtomicIncrement.snapshot(spark, sink)._1 === v0,
        "an empty insert must be a free no-op")
    } finally rm(sink)
  }

  test("CTAS creates the table with the query's rows; a second CTAS " +
      "at the same path refuses") {
    install()
    val root = tmp("graft_dml_ctas")
    val sink = s"$root/t"
    try {
      loadThree(s"$root/src")
      spark.sql(s"CREATE TABLE graft.`$sink` AS " +
        s"SELECT k, amt FROM graft.`$root/src` WHERE k <= 10")
      val got = AtomicIncrement.readCommitted(spark, sink)
      assert(got.count() === 10L)
      assert(got.columns.toSeq === Seq("k", "amt"))
      intercept[Exception] {
        spark.sql(s"CREATE TABLE graft.`$sink` AS SELECT 1L AS k")
      }
    } finally rm(root)
  }

  test("runtime group filtering prunes a MERGE to the files that " +
      "actually hold matching rows — carried files ride verbatim") {
    install()
    val sink = tmp("graft_dml_mrgprune")
    try {
      loadThree(sink) // one file per increment: 1..40 / 41..80 / 81..120
      val before = AtomicIncrement.committedFiles(spark, sink).toSet
      Seq((5L, "gP", 1.0, false), (17L, "", 0.0, true))
        .toDF("k", "grp", "amt", "del")
        .createOrReplaceTempView("graft_mrgp_src")
      spark.sql(
        s"""MERGE INTO graft.`$sink` t USING graft_mrgp_src s
           |ON t.k = s.k
           |WHEN MATCHED AND s.del THEN DELETE
           |WHEN MATCHED THEN UPDATE SET t.grp = s.grp, t.amt = s.amt
           |""".stripMargin)
      val after = AtomicIncrement.committedFiles(spark, sink).toSet
      // the join pushes no static target filters — only the runtime
      // group filter can know that files 2 and 3 hold no matching
      // keys; they must survive BY PATH
      assert((before & after).size >= 2,
        s"runtime prune failed: carried=${(before & after).size} " +
          s"of ${before.size}")
      val got = AtomicIncrement.readCommitted(spark, sink)
      assert(got.count() === 119L)
      assert(got.filter($"k" === 5L).select("grp").as[String]
        .head() === "gP")
      assert(got.filter($"k" === 17L).count() === 0L)
      assert(got.filter($"k" === 100L).select("amt").as[Double]
        .head() === 150.0)
    } finally rm(sink)
  }

  test("the row-level scan serves COLUMNAR batches when no dv masks " +
      "apply and falls back to rows under standing tombstones " +
      "(round 17 pass-through)") {
    install()
    val clean = tmp("graft_dml_colc")
    val dved = tmp("graft_dml_colr")
    try {
      loadThree(clean)
      loadThree(dved)
      AtomicIncrement.mergeOnReadAtomic(
        rows(1, 3).withColumn("del", lit(true)), dved, "k", "del")
      def factoryFor(sink: String) = {
        val op = new graft.sources.GraftRowLevelOperation(sink,
          org.apache.spark.sql.connector.write.RowLevelOperation
            .Command.UPDATE)
        val scan = op.newScanBuilder(
          new org.apache.spark.sql.util.CaseInsensitiveStringMap(
            java.util.Collections.emptyMap())).build()
        val batch = scan.toBatch
        (batch.createReaderFactory(), batch.planInputPartitions())
      }
      val (cleanF, cleanP) = factoryFor(clean)
      assert(cleanP.forall(cleanF.supportColumnarReads),
        "dv-free scan must take the vectorized pass-through")
      val (dvF, dvP) = factoryFor(dved)
      assert(!dvP.exists(dvF.supportColumnarReads),
        "tombstone filtering is row work — dv scan must stay rows")
      // end-to-end through the columnar path: semantics unchanged,
      // including the file-identity constant the commit keys on
      spark.sql(s"UPDATE graft.`$clean` SET amt = amt + 1 WHERE k <= 40")
      assert(AtomicIncrement.readCommitted(spark, clean)
        .agg(sum("amt")).head().getDouble(0) ===
        (1 to 120).map(_ * 1.5).sum + 40.0)
    } finally { rm(clean); rm(dved) }
  }

  test("SQL UPDATE racing a DISJOINT appender commits on retry; an " +
      "in-scope appender still fails loudly (round 17 OCC on the " +
      "SQL face)") {
    install()
    val sink = tmp("graft_dml_race")
    try {
      loadThree(sink)
      val v0 = AtomicIncrement.snapshot(spark, sink)._1
      // winner appends k in 201..240 — provably outside WHERE k <= 40
      graft.operators.Txn.racing(AtomicIncrement.appendIncrementAtomic(
          rows(201, 240).repartition(1), sink, "k")) {
        spark.sql(s"UPDATE graft.`$sink` SET amt = amt + 1000 " +
          "WHERE k <= 40")
      }
      assert(AtomicIncrement.snapshot(spark, sink)._1 == v0 + 2,
        "append won v+1, the UPDATE must land on v+2 without rerun")
      val got = AtomicIncrement.readCommitted(spark, sink)
      assert(got.count() == 160L)
      assert(got.filter($"k" === 1L).select("amt").as[Double]
        .head() == 1001.5)
      assert(got.filter($"k" === 210L).count() == 1L)
      // winner appends k = 30 — the UPDATE would have to rewrite it
      // to serialize after; the staged rewrite cannot, so it fails
      val ex = intercept[Exception] {
        graft.operators.Txn.racing(AtomicIncrement.appendBlindAtomic(
            rows(30, 30).repartition(1), sink)) {
          spark.sql(s"UPDATE graft.`$sink` SET amt = 0 WHERE k <= 40")
        }
      }
      def msgs(t: Throwable): Seq[String] =
        Option(t).toSeq.flatMap(x =>
          Option(x.getMessage).toSeq ++ msgs(x.getCause))
      assert(msgs(ex).exists(_.contains("already committed")),
        msgs(ex).mkString(" | "))
    } finally rm(sink)
  }

  test("ATOMIC CTAS: a failing query leaves NO table behind; REPLACE " +
      "TABLE AS SELECT swaps in one OCC commit; missing-table " +
      "REPLACE refuses") {
    install()
    val sink = tmp("graft_dml_stage")
    rm(sink)
    try {
      // failed CTAS: the staged create must abort to NOTHING
      intercept[Exception] {
        spark.sql(s"CREATE TABLE graft.`$sink` AS " +
          "SELECT raise_error('boom') AS x")
      }
      assert(AtomicIncrement.snapshot(spark, sink)._1 == 0L,
        "a failed CTAS must leave no manifest")
      intercept[org.apache.spark.sql.AnalysisException] {
        spark.sql(s"SELECT * FROM graft.`$sink`").collect()
      }
      // successful CTAS; then REPLACE swaps content + schema
      spark.sql(s"CREATE TABLE graft.`$sink` AS " +
        "SELECT id AS k, 'a' AS tag FROM range(5)")
      assert(spark.sql(s"SELECT count(*) AS n FROM graft.`$sink`")
        .head().getLong(0) == 5L)
      val v1 = AtomicIncrement.snapshot(spark, sink)._1
      spark.sql(s"REPLACE TABLE graft.`$sink` AS " +
        "SELECT id AS k, cast(id * 2 AS DOUBLE) AS dbl FROM range(3)")
      assert(AtomicIncrement.snapshot(spark, sink)._1 == v1 + 1,
        "RTAS is ONE snapshot replace")
      val out = spark.sql(s"SELECT * FROM graft.`$sink` ORDER BY k")
      assert(out.columns.toSeq == Seq("k", "dbl"))
      assert(out.collect().map(_.getDouble(1)).toSeq ==
        Seq(0.0, 2.0, 4.0))
      // CREATE OR REPLACE works on the standing table too
      spark.sql(s"CREATE OR REPLACE TABLE graft.`$sink` AS " +
        "SELECT id AS k FROM range(2)")
      assert(spark.sql(s"SELECT count(*) AS n FROM graft.`$sink`")
        .head().getLong(0) == 2L)
      // REPLACE of a missing table refuses
      val missing = tmp("graft_dml_rtas_missing")
      rm(missing)
      intercept[Exception] {
        spark.sql(s"REPLACE TABLE graft.`$missing` AS SELECT 1 AS x")
      }
      assert(AtomicIncrement.snapshot(spark, missing)._1 == 0L)
    } finally rm(sink)
  }

  test("a DELETE whose WHERE has no V1-filter form (arithmetic) now " +
      "executes through the CoW row-level path") {
    install()
    val sink = tmp("graft_dml_delmod")
    try {
      loadThree(sink)
      spark.sql(s"DELETE FROM graft.`$sink` WHERE k % 7 = 0")
      val got = AtomicIncrement.readCommitted(spark, sink)
        .select("k").as[Long].collect().toSet
      assert(got === (1 to 120).map(_.toLong).filterNot(_ % 7 == 0).toSet)
    } finally rm(sink)
  }
}
