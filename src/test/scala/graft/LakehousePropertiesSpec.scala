package graft

import graft.operators.{AtomicIncrement, BloomSkip, IncrementalAgg}
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** Randomized INVARIANT checks for the lakehouse layer — seeded (so
  * every run replays the same scenarios) random tables, random CDC
  * batches, random merge strategy (copy-on-write vs merge-on-read),
  * random interleaved maintenance, checked against a driver-side
  * reference model. The point is the INTEGRATION surface the
  * hand-written specs can't enumerate: any sequence of merges and
  * maintenance passes must leave the committed table equal to the
  * model, the metadata answers equal to the scan, and every
  * may-contain read equal to the full read under the exact filter.
  */
class LakehousePropertiesSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(): String =
    Files.createTempDirectory("graft_prop").resolve("sink").toString

  private def tableOf(sink: String): Map[Long, (String, Double)] =
    AtomicIncrement.readCommitted(spark, sink)
      .select("k", "s", "x").collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getDouble(2))).toMap

  test("any sequence of CoW/MoR merges + interleaved maintenance " +
      "equals the driver-side reference fold (5 seeded scenarios)") {
    for (scenario <- 1 to 5) {
      val rnd = new scala.util.Random(20260816L + scenario)
      val sink = tmp()
      // initial load: two ascending key-range increments
      val n = 40 + rnd.nextInt(40)
      var model: Map[Long, (String, Double)] =
        (1L to n).map(k => k -> (s"v$k", k * 0.5)).toMap
      for (r <- Seq(1L to n / 2, n / 2 + 1L to n))
        AtomicIncrement.appendIncrementAtomic(
          r.map(k => (k, model(k)._1, model(k)._2)).toDF("k", "s", "x")
            .repartition(1), sink, "k")
      for (step <- 1 to 4) {
        // random CDC batch: ≤1 row per key, mixing upserts of existing
        // keys, deletes (some of keys that do not exist), and inserts
        val keys = rnd.shuffle((1L to (n + 10L)).toList).take(
          1 + rnd.nextInt(12)).distinct
        val rows = keys.map { k =>
          if (rnd.nextBoolean() && model.contains(k))
            (k, "", 0.0, true) // delete
          else (k, s"u$step-$k", rnd.nextInt(1000) * 0.25, false)
        }
        val changes = rows.toDF("k", "s", "x", "del")
        if (rnd.nextBoolean())
          AtomicIncrement.mergeAtomic(changes, sink, "k", "del")
        else
          AtomicIncrement.mergeOnReadAtomic(changes, sink, "k", "del")
        model = rows.foldLeft(model) {
          case (m, (k, _, _, true)) => m - k
          case (m, (k, s, x, false)) => m + (k -> (s, x))
        }
        // random maintenance between batches
        rnd.nextInt(4) match {
          case 0 => AtomicIncrement.compact(spark, sink, 2)
          case 1 => AtomicIncrement.foldDvsTargeted(spark, sink)
          case 2 => AtomicIncrement.compactSmall(spark, sink,
            1L << 20, targetFiles = 1, keyCol = Some("k"))
          case _ => ()
        }
        assert(tableOf(sink) == model,
          s"scenario $scenario step $step diverged from the model")
      }
      // metadata faces agree with the final state
      val dvStanding =
        AtomicIncrement.snapshotSplit(spark, sink)._3.nonEmpty
      val meta = AtomicIncrement.statsAggregate(spark, sink, Seq("k"))
      if (dvStanding)
        assert(meta.isEmpty, "metadata count must refuse under dvs")
      else {
        val row = meta.get.head()
        assert(row.getLong(0) == model.size &&
          row.getLong(1) == model.keys.min &&
          row.getLong(2) == model.keys.max,
          s"scenario $scenario metadata disagreed: $row vs ${model.size}")
      }
      // keyed may-contain ∘ exact filter ≡ full ∘ exact filter for a
      // random churn probe
      val probe = rnd.shuffle((1L to (n + 10L)).toList).take(5)
      val narrowed = AtomicIncrement.readKeyedMayContain(spark, sink,
        "k", probe)
        .filter(col("k").isin(probe: _*))
        .select("k").as[Long].collect().sorted.toSeq
      assert(narrowed == model.keys.filter(probe.contains).toSeq.sorted,
        s"scenario $scenario keyed read diverged")
    }
  }

  test("statsAggregate ≡ the scan on random null-ridden tables " +
      "(4 seeded scenarios)") {
    for (scenario <- 1 to 4) {
      val rnd = new scala.util.Random(77L + scenario)
      val sink = tmp()
      val n = 30 + rnd.nextInt(30)
      def maybe[A](a: A): Option[A] =
        if (rnd.nextInt(10) == 0) None else Some(a)
      val rows = (1L to n).map { k =>
        (k, maybe(rnd.nextInt(1000) * 0.5),
          maybe(rnd.alphanumeric.take(1 + rnd.nextInt(6)).mkString))
      }
      for (r <- rows.grouped((n / 2).toInt + 1))
        AtomicIncrement.appendIncrementAtomic(
          r.toDF("k", "p", "s").repartition(1), sink, "k",
          Seq("p", "s"))
      AtomicIncrement.statsAggregate(spark, sink, Seq("k", "p", "s"))
        .foreach { out =>
          val got = out.head()
          val scan = AtomicIncrement.readCommitted(spark, sink).agg(
            count(lit(1)), min("k"), max("k"), min("p"), max("p"),
            min("s"), max("s")).head()
          assert((0 to 6).forall(i => scan.get(i) == got.get(i)),
            s"scenario $scenario: $got vs $scan")
        }
    }
  }

  test("token grep ≡ scan for random corpora and probes, present or " +
      "absent (4 seeded scenarios)") {
    val vocab = Vector("alpha", "bravo", "charlie", "delta", "echo",
      "foxtrot", "golf", "hotel")
    for (scenario <- 1 to 4) {
      val rnd = new scala.util.Random(99L + scenario)
      val sink = tmp()
      val docs = (1L to 24L).map { i =>
        (i, Seq.fill(3 + rnd.nextInt(5))(
          vocab(rnd.nextInt(vocab.size))).mkString(" "))
      }
      for (r <- docs.grouped(8))
        AtomicIncrement.appendIncrementAtomic(
          r.toDF("doc_id", "text").repartition(1), sink, "doc_id")
      BloomSkip.ensureTokenSidecars(spark, sink, "text")
      val full = AtomicIncrement.readCommitted(spark, sink)
      for (_ <- 1 to 4) {
        val probe = rnd.shuffle(vocab :+ "zulu").take(1 + rnd.nextInt(2))
        def ids(df: org.apache.spark.sql.DataFrame): Seq[Long] =
          probe.foldLeft(df)((d, t) => d.filter(array_contains(
              split(lower(col("text")), "[^a-z0-9]+"), t)))
            .select("doc_id").as[Long].collect().sorted.toSeq
        assert(ids(BloomSkip.readContainingTokens(spark, sink,
          "text", probe)) == ids(full),
          s"scenario $scenario probe $probe diverged")
      }
    }
  }

  test("readQuantile stays within one bin of the rank statistic for " +
      "random retraction feeds (4 seeded scenarios)") {
    for (scenario <- 1 to 4) {
      val rnd = new scala.util.Random(1234L + scenario)
      val sink = tmp()
      val (lo, hi, bins) = (0.0, 100.0, 200) // w = 0.5
      var vals = Vector.fill(60 + rnd.nextInt(60))(
        rnd.nextInt(2000) * 0.05) // some out-of-domain via clamp edge
      val boot = vals.map(("g", _)).toDF("g", "v")
      assert(IncrementalAgg.mergeCdcQuantile(boot, boot.limit(0), sink,
        Seq("g"), "v", lo, hi, bins, 0L))
      // retract a random committed subset
      val gone = rnd.shuffle(vals.indices.toList)
        .take(rnd.nextInt(vals.size / 2))
      val minus = gone.map(i => ("g", vals(i))).toDF("g", "v")
      assert(IncrementalAgg.mergeCdcQuantile(minus.limit(0), minus,
        sink, Seq("g"), "v", lo, hi, bins, 1L))
      vals = vals.indices.filterNot(gone.contains).map(vals).toVector
      for (q <- Seq(0.25, 0.5, 0.9)) {
        val r = IncrementalAgg.readQuantile(spark, sink, Seq("g"),
          q, lo, hi, bins).head()
        assert(r.getLong(1) == vals.size)
        val clamped = vals.map(v => math.min(math.max(v, lo),
          hi - (hi - lo) / bins / 2)).sorted
        val rank = clamped(
          math.min(clamped.size - 1, math.ceil(q * clamped.size).toInt
            - 1).max(0))
        assert(math.abs(r.getDouble(2) - rank) <= (hi - lo) / bins + 1e-9,
          s"scenario $scenario q=$q est ${r.getDouble(2)} vs rank $rank")
      }
    }
  }

  test("CDC fold over integral extremes equals the BigInt reference " +
      "model: Short/Int always exact, Long exact or fails before the " +
      "manifest moves (3 seeded scenarios per type)") {
    import org.apache.spark.sql.types.{DataType, IntegerType, LongType,
      ShortType}
    def bounds(t: DataType): (Long, Long) = t match {
      case ShortType => (Short.MinValue.toLong, Short.MaxValue.toLong)
      case IntegerType => (Int.MinValue.toLong, Int.MaxValue.toLong)
      case _ => (Long.MinValue, Long.MaxValue)
    }
    for (t <- Seq(ShortType, IntegerType, LongType); scenario <- 1 to 3) {
      val rnd = new scala.util.Random(20261017L + 10 * scenario +
        t.defaultSize)
      val (mn, mx) = bounds(t)
      def value(): Long =
        Seq(mn, mx, mn + 1, mx - 1, -1L, 0L, 1L)(rnd.nextInt(7))
      def frame(rows: Seq[(String, Long)]) =
        rows.toDF("g", "v").select(col("g"), col("v").cast(t))
      val sink = tmp()
      var live = Vector.empty[(String, Long)]
      for (b <- 0L to 5L) {
        val plus = Vector.fill(1 + rnd.nextInt(4))(
          (s"g${rnd.nextInt(2)}", value()))
        // retract a random subset of the rows the state holds, always
        // including an extreme (the minimum first) when one is live
        val extreme = live.find(_._2 == mn)
          .orElse(live.find(_._2 == mx)).toSeq
        val minus = (extreme ++ rnd.shuffle(live)
          .take(rnd.nextInt(live.size + 1))).distinct
        val v0 = AtomicIncrement.snapshot(spark, sink)._1
        val applied = scala.util.Try(IncrementalAgg.mergeCdcBatch(
          frame(plus), frame(minus), sink, Seq("g"), Seq("v"), b))
        if (applied.isSuccess) {
          assert(applied.get, s"$t scenario $scenario batch $b no-op'd")
          live = live.diff(minus) ++ plus
        } else {
          assert(t == LongType,
            s"$t scenario $scenario batch $b failed: ${applied.failed.get}")
          assert(AtomicIncrement.snapshot(spark, sink)._1 == v0,
            s"the failed Long fold moved the manifest")
        }
        val model = live.groupBy(_._1).map { case (g, rs) =>
          g -> (rs.size.toLong, rs.map(r => BigInt(r._2)).sum) }
        val got = if (v0 == 0L && applied.isFailure) Map.empty
          else IncrementalAgg.readState(spark, sink)
            .select("g", "__n", "sum_v").collect()
            .map(r => r.getString(0) -> (r.getLong(1), BigInt(r.getLong(2))))
            .toMap
        assert(got == model, s"$t scenario $scenario batch $b: " +
          s"$got vs $model (plus $plus, minus $minus)")
      }
    }
  }

  test("random predicate DELETE/UPDATE interleaved with keyed merges " +
      "and maintenance equals the reference model (4 seeded scenarios; " +
      "round 16 routes each DML step through the SQL catalog faces " +
      "half the time — the row-level DSv2 path under the same model)") {
    import org.apache.spark.sql.sources.{GreaterThanOrEqual, LessThanOrEqual}
    spark.conf.set("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
    for (scenario <- 1 to 4) {
      val rnd = new scala.util.Random(31500L + scenario)
      val sink = tmp()
      val n = 40 + rnd.nextInt(40)
      var model: Map[Long, (String, Double)] =
        (1L to n).map(k => k -> (s"v$k", k * 0.5)).toMap
      for (r <- Seq(1L to n / 2, n / 2 + 1L to n))
        AtomicIncrement.appendIncrementAtomic(
          r.map(k => (k, model(k)._1, model(k)._2)).toDF("k", "s", "x")
            .repartition(1), sink, "k")
      def prune(lo: Long, hi: Long)(e: AtomicIncrement.ManifestEntry) =
        graft.sources.ManifestPruning.mayMatch(e,
          GreaterThanOrEqual("k", lo)) &&
        graft.sources.ManifestPruning.mayMatch(e,
          LessThanOrEqual("k", hi))
      var evolved = List.empty[String]
      for (step <- 1 to 5) {
        rnd.nextInt(6) match {
          case 0 => // keyed merge: CoW API, MoR API, or SQL MERGE INTO
            // (the round-16 row-level path) — same model fold
            val keys = rnd.shuffle((1L to (n + 10L)).toList)
              .take(1 + rnd.nextInt(10)).distinct
            val rows = keys.map { k =>
              if (rnd.nextBoolean() && model.contains(k))
                (k, "", 0.0, true)
              else (k, s"u$step-$k", rnd.nextInt(1000) * 0.25, false)
            }
            val changes = rows.toDF("k", "s", "x", "del")
            rnd.nextInt(3) match {
              case 0 =>
                AtomicIncrement.mergeAtomic(changes, sink, "k", "del")
              case 1 =>
                AtomicIncrement.mergeOnReadAtomic(changes, sink, "k", "del")
              case _ =>
                changes.createOrReplaceTempView("graft_prop_src")
                // the NOT MATCHED guard reproduces the API contract:
                // a delete row for an absent key is a no-op
                spark.sql(
                  s"""MERGE INTO graft.`$sink` t USING graft_prop_src s
                     |ON t.k = s.k
                     |WHEN MATCHED AND s.del THEN DELETE
                     |WHEN MATCHED THEN UPDATE SET t.s = s.s, t.x = s.x
                     |WHEN NOT MATCHED AND NOT s.del THEN
                     |  INSERT (k, s, x) VALUES (s.k, s.s, s.x)
                     |""".stripMargin)
            }
            model = rows.foldLeft(model) {
              case (m, (k, _, _, true)) => m - k
              case (m, (k, s, x, false)) => m + (k -> (s, x))
            }
          case 1 => // predicate DELETE: k in a random range with x below
            // a random threshold — API or SQL statement, same verdicts
            val lo = 1L + rnd.nextInt(n); val hi = lo + rnd.nextInt(n)
            val t = rnd.nextInt(300) * 1.0
            if (rnd.nextBoolean())
              AtomicIncrement.deleteWhereAtomic(spark, sink,
                col("k") >= lo && col("k") <= hi && col("x") < t,
                prune(lo, hi))
            else
              spark.sql(s"DELETE FROM graft.`$sink` WHERE " +
                s"k >= $lo AND k <= $hi AND x < $t")
            model = model.filterNot { case (k, (_, x)) =>
              k >= lo && k <= hi && x < t }
          case 2 => // predicate UPDATE: SET against the old row — API
            // or SQL UPDATE (the round-16 row-level path)
            val lo = 1L + rnd.nextInt(n); val hi = lo + rnd.nextInt(n)
            val c = rnd.nextInt(50) * 1.0
            if (rnd.nextBoolean())
              AtomicIncrement.updateWhereAtomic(spark, sink,
                col("k") >= lo && col("k") <= hi,
                Map("x" -> (col("x") + c),
                  "s" -> concat(lit(s"U$step-"), col("s"))),
                prune(lo, hi))
            else
              spark.sql(s"UPDATE graft.`$sink` SET x = x + $c, " +
                s"s = 'U$step-' || s WHERE k >= $lo AND k <= $hi")
            model = model.map { case (k, (s, x)) =>
              if (k >= lo && k <= hi) k -> (s"U$step-$s", x + c)
              else k -> (s, x) }
          case 3 => // REPLAY (round 16): the at-least-once upstream
            // re-delivers the ORIGINAL load — the monotone watermark
            // floor must hold the gate shut even after predicate
            // deletes or merge-deletes lowered the live max, however
            // the prior steps interleaved
            val re = AtomicIncrement.appendIncrementAtomic(
              (1L to n).map(k => (k, s"v$k", k * 0.5))
                .toDF("k", "s", "x"), sink, "k")
            assert(re === 0L,
              s"scenario $scenario step $step: replay re-admitted " +
                s"$re since-deleted rows")
          case 4 => // SCHEMA EVOLUTION (round 17): ALTER ADD COLUMN at
            // a random point — metadata-only (the k/s/x projection the
            // model checks is untouched), the new column reads NULL on
            // every standing row, and every later merge/delete/replay
            // in the sequence must hold over the evolved table
            val cname = s"e${scenario}_$step"
            spark.sql(s"ALTER TABLE graft.`$sink` ADD COLUMN " +
              s"$cname DOUBLE")
            evolved ::= cname
          case _ => // maintenance between DML steps
            rnd.nextInt(3) match {
              case 0 => AtomicIncrement.compact(spark, sink, 2)
              case 1 => AtomicIncrement.foldDvsTargeted(spark, sink)
              case _ => AtomicIncrement.compactSmall(spark, sink,
                1L << 20, targetFiles = 1, keyCol = Some("k"))
            }
        }
        if (model.nonEmpty)
          assert(tableOf(sink) == model,
            s"scenario $scenario step $step diverged from the model")
      }
      // every evolved column survives whatever rewrites followed it
      // (partial compactions, dv folds, merges) and reads all-NULL —
      // a rewrite that read less than the full snapshot schema would
      // silently drop it
      if (evolved.nonEmpty && model.nonEmpty) {
        val fin = AtomicIncrement.readCommitted(spark, sink)
        for (c <- evolved) {
          assert(fin.columns.contains(c),
            s"scenario $scenario: evolved column $c vanished")
          assert(fin.filter(col(c).isNotNull).count() == 0L,
            s"scenario $scenario: NULL backfill of $c violated")
        }
      }
    }
  }
}
