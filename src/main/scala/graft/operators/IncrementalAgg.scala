package graft.operators

import graft.QueryDef
import graft.sources.Tables.table
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Incrementally-maintained aggregate table (a materialized rollup):
  * one row per key holding MERGEABLE state — row count, per-column
  * sums, and the max watermark — folded forward batch by batch.
  * Keeping a 100 TB corpus's rollup current then costs one
  * state-sized merge per increment (state = |keys| rows, usually
  * millions at most) instead of a full-history rescan; derived
  * measures (averages, rates) are computed at read time from the
  * state, never stored, so they are always consistent with it.
  *
  * Publication is [[AtomicIncrement]]'s manifest commit: readers get
  * snapshot isolation, concurrent writers collide on the optimistic
  * version token, and replaying a delivered batch is a no-op — the
  * stored watermark filters it to zero rows and no new version is
  * published (the same high-watermark contract as
  * `AtomicIncrement.appendIncrementAtomic`, which also means batches
  * must arrive in watermark order). Mirrors the reference's max-date
  * incremental pattern (extractor_legacy/load_increment.py) lifted
  * from row appends to aggregate state.
  */
object IncrementalAgg {

  /** Fold one increment into the state at `sink`. Returns the number
    * of fresh rows folded (0 = replay or empty batch; nothing
    * published).
    */
  def mergeBatch(batch: DataFrame, sink: String, keys: Seq[String],
      sumCols: Seq[String], watermarkCol: String): Long = {
    val spark = batch.sparkSession
    // ONE snapshot serves the watermark gate, the state read and the
    // replace's OCC token
    val snap = AtomicIncrement.latestSnapshot(spark, sink)
    val (version, dataE) = (snap.version, snap.data)
    // stored-watermark read: manifest stats first (the state lines
    // stamp `__wm` bounds since the round-17 optimization — zero
    // jobs), else the one-job max over the state (legacy sinks)
    val wm: Option[org.apache.spark.sql.Column] =
      if (dataE.isEmpty) None
      else {
        val st = AtomicIncrement.readSnapshot(spark, sink, snap)
        AtomicIncrement.manifestMaxLiteral(dataE, "__wm",
            st.schema("__wm").dataType)
          .orElse(Option(st.agg(max("__wm")).head().get(0)).map(lit))
      }
    val fresh = wm match {
      case Some(w) => batch.filter(col(watermarkCol) > w)
      case None => batch
    }
    // ONE action for count + fold (round 18, guide §1.2 step 1): the
    // fresh-row count is OBSERVED on the partial aggregate while the
    // staging write streams through it, so the increment is scanned
    // exactly once with no cache and no dedicated counting job (the
    // previous shape persisted the partial and paid a count action
    // before the write). A zero-fresh batch (replay) is discovered
    // after staging — the gate reclaims the staged files and no
    // version is published, the same no-op the count-first shape
    // guaranteed; the replay pays a state-sized write-and-delete
    // where it used to pay a count, and the common path saves a
    // whole action per fold.
    MetricGate.withGate(spark) { gate =>
      val partial = fresh.groupBy(keys.map(col): _*).agg(
        count(lit(1)).as("__n"),
        sumCols.map(c => sum(col(c)).as(s"sum_$c")) :+
          max(col(watermarkCol)).as("__wm"): _*)
        .observe(gate.name, coalesce(sum("__n"), lit(0L)).as("__fresh"))
      val merged =
        if (dataE.isEmpty) partial
        else AtomicIncrement.readSnapshot(spark, sink, snap)
          .unionByName(partial)
          .groupBy(keys.map(col): _*).agg(
            sum("__n").as("__n"),
            sumCols.map(c => sum(s"sum_$c").as(s"sum_$c")) :+
              max("__wm").as("__wm"): _*)
      var n = 0L
      // stamp `__wm` stats into the state lines so the next fold's
      // stored-watermark read answers from the manifest (zero jobs)
      AtomicIncrement.replaceGated(merged, sink, version, snap.lastBatch,
        statsFields = Seq(merged.schema("__wm")), gate = () => {
          n = gate.long()
          n > 0
        })
      n
    }
  }

  /** The committed state: keys, `__n`, `sum_<col>`s, `__wm`. */
  def readState(spark: org.apache.spark.sql.SparkSession,
      sink: String): DataFrame =
    AtomicIncrement.readCommitted(spark, sink)

  /** Retraction fold — the CDC face of the maintained rollup, for
    * feeds that UPDATE and DELETE instead of only appending (where
    * [[mergeBatch]]'s high-watermark contract applies): `plus` holds a
    * change batch's after-images, `minus` the before-images of every
    * churned key (exactly what [[AtomicIncrement.MergeResult]] hands
    * back from a table merge), and the state moves by
    * `Σ(plus) − Σ(minus)` per group — count and sums are abelian, so
    * the fold costs one churn-sized aggregate plus a |keys|-row merge,
    * never a rescan of the table the rollup summarizes. A group whose
    * count retracts to zero leaves the state (matching what a fresh
    * rescan would produce); retracting rows that were never added is
    * the caller's contract violation (counts would go negative — such
    * groups are dropped rather than published as nonsense).
    *
    * Exactly-once on replay is keyed on `batchId` (the [[graft.streaming.AggStream]]
    * discipline — monotone per sink, NOT a data watermark: CDC batches
    * routinely carry old keys): a batch at or below the batch id the
    * sink's last commit recorded ([[AtomicIncrement.Snapshot]]'s
    * `lastBatch`) no-ops before reading anything. Publication is the
    * same OCC snapshot replace as every state fold here, recording
    * `batchId` on its commit line. Returns whether the batch applied
    * (false = replay).
    *
    * Sums accumulate in the column's NATIVE family — integral sums
    * stay LongType exactly like [[mergeBatch]]'s (a long count rolled
    * up in floating point would drift past 2⁵³), doubles stay double,
    * decimals keep their widened decimal type.
    *
    * CONTRACT BOUNDARY — abelian measures only. Count and sum form a
    * group (every retraction has an inverse), so the fold never needs
    * the table. min/max/distinct do NOT: retracting the current
    * minimum leaves "second-smallest" unanswerable from state alone,
    * so a retractable min/max/distinct needs either a rescan of the
    * churned groups against the merged table (cost ∝ those groups'
    * rows — the caller can compute it from
    * [[AtomicIncrement.MergeResult.upserts]] + the post-merge
    * [[AtomicIncrement.readKeyedMayContain]] locality read) or sketch
    * state with deletion support (a counting HLL for distinct). This
    * fold deliberately refuses to fake them; ask only for count/sum
    * here and derive ratios at read time.
    */
  def mergeCdcBatch(plus: DataFrame, minus: DataFrame, sink: String,
      keys: Seq[String], sumCols: Seq[String], batchId: Long): Boolean =
    mergeCdcCore(plus, minus, sink, keys, sumCols, batchId, None)

  /** [[mergeCdcBatch]] for PRE-AGGREGATED inputs: each row of
    * `plus`/`minus` carries `weightCol` occurrences (a long count an
    * upstream aggregate folded before a generator fan-out — guide
    * §2.3 "aggregate before you shuffle", applied before explode).
    * Identical state and semantics, with `__n` moved by Σ weight
    * instead of the row count.
    */
  private[graft] def mergeCdcWeighted(plus: DataFrame,
      minus: DataFrame, sink: String, keys: Seq[String],
      weightCol: String, batchId: Long): Boolean =
    mergeCdcCore(plus, minus, sink, keys, Nil, batchId, Some(weightCol))

  private def mergeCdcCore(plus: DataFrame, minus: DataFrame,
      sink: String, keys: Seq[String], sumCols: Seq[String],
      batchId: Long, weightCol: Option[String]): Boolean = {
    val spark = plus.sparkSession
    val snap = AtomicIncrement.latestSnapshot(spark, sink)
    // the bootstrap fold (nothing folded yet) always applies — a
    // bootstrap conventionally sits at batchId −1 so the stream's own
    // ids can start at 0 without colliding with it
    if (AtomicIncrement.isReplay(snap, sink, batchId)) return false
    val prior = AtomicIncrement.readFoldState(spark, sink, snap)
    // ONE exchange for the whole fold (guide §2.3/§2.4, round 18): the
    // prior state, the plus rows, and the minus rows union as signed
    // per-row CONTRIBUTIONS (state rows carry their folded __n/sums,
    // batch rows ±1/±weight and ±value) into a single hash aggregate —
    // map-side partial aggregation collapses each side per partition,
    // so the shuffle carries the same group partials the old per-side
    // pre-aggregates shipped, minus their two extra exchanges and the
    // re-aggregate exchange behind them (3 → 1; at the bench's AQE
    // stage-per-job execution that is ~2 fewer jobs per fold). Group
    // algebra, typed-zero coalesce, and the __n > 0 drop are unchanged
    // (Σ±value ≡ Σplus − Σminus; doubles reassociate within the same
    // rounding the fixtures already tolerate).
    AtomicIncrement.replaceGated(
      mergedCdcState(prior, plus, minus, keys, sumCols, weightCol),
      sink, snap.version, Some(batchId))
    true
  }

  /** The fold's merged state in one aggregate: signed contributions
    * from prior state + both batch sides through a single groupBy.
    * Output: keys, `__n`, `sum_<c>`s.
    */
  private[graft] def mergedCdcState(prior: Option[DataFrame],
      plus: DataFrame, minus: DataFrame, keys: Seq[String],
      sumCols: Seq[String], weightCol: Option[String]): DataFrame = {
    import org.apache.spark.sql.types._
    def contrib(df: DataFrame, sign: Int): DataFrame = {
      val n = weightCol
        .map(w => col(w).cast(LongType) * sign)
        .getOrElse(lit(sign.toLong))
      // narrow integral sums widen to long BEFORE the sign: negating
      // Int.MinValue at its native width overflows (ANSI throws, and
      // non-ANSI wraps to a wrong sum)
      def widened(c: String) = df.schema.fields
        .find(_.name.equalsIgnoreCase(c)).map(_.dataType) match {
          case Some(ByteType | ShortType | IntegerType) =>
            col(c).cast(LongType)
          case _ => col(c)
        }
      df.select((keys.map(col) :+ n.as("__n")) ++
        sumCols.map(c =>
          (if (sign >= 0) widened(c) else -widened(c)).as(s"sum_$c")): _*)
    }
    val all = (prior.toSeq :+
      contrib(plus, 1) :+ contrib(minus, -1)).reduce(_ unionByName _)
    // typed zero for a surviving group whose value contributions are
    // all null — signedAgg's zeroOf semantics, applied once post-union
    def zeroOf(c: String) = all.schema.fields
      .find(_.name.equalsIgnoreCase(s"sum_$c")).map(_.dataType) match {
        case Some(ByteType | ShortType | IntegerType | LongType) => lit(0L)
        case Some(d: DecimalType) =>
          lit(java.math.BigDecimal.ZERO).cast(d)
        case _ => lit(0.0)
      }
    all.groupBy(keys.map(col): _*).agg(
      sum("__n").as("__n"),
      sumCols.map(c =>
        coalesce(sum(s"sum_$c"), zeroOf(c)).as(s"sum_$c")): _*)
      .filter(col("__n") > 0)
  }

  /** Retractable rollup WITH min/max — the non-abelian face
    * [[mergeCdcBatch]]'s contract boundary deliberately refuses:
    * retracting a group's current minimum leaves "second-smallest"
    * unanswerable from (count, sum, min, max) state alone, so churned
    * groups' extremes are RESCANNED while everything abelian still
    * folds from the deltas. Per batch:
    *
    *  - counts and sums move by `Σ(plus) − Σ(minus)` per group —
    *    [[mergeCdcBatch]]'s exact algebra (native-typed sums, groups
    *    at count 0 leave the state);
    *  - `min_<c>`/`max_<c>` for every group the batch touches (a key
    *    present in `plus` OR `minus`) recompute from `churnedRows`;
    *    untouched groups carry their stored extremes forward byte-for-
    *    byte — the rescan is priced by the CHURNED GROUPS' rows, never
    *    the table.
    *
    * `churnedRows` is the caller's post-change view of AT LEAST the
    * churned groups' surviving rows — rows of other groups are
    * ignored (filtered by a null-safe semi join), so handing the whole
    * resolved table works, but the scale path hands the churned
    * groups' LOCALITY: on a table whose manifest records stats for the
    * GROUP column (clustered by it, or carrying it in
    * `extraStatsCols`), `readKeyedMayContain` on that column with the
    * churned group keys opens only their files — note the group
    * column, not the merge key: a merge-key locality read covers the
    * churned ROWS but not their groups' other rows, which the rescan
    * needs. UNDER-coverage is detected loudly: a group
    * that is alive by the count algebra but has no extremes row
    * (neither carried state nor rescan) fails the fold before
    * publishing — silence there would write stale or missing extremes.
    *
    * Exactly-once, publication, and bootstrap follow [[mergeCdcBatch]]
    * (the commit line's batch id, OCC snapshot replace; bootstrap =
    * everything in `plus`, `minus` empty, `churnedRows` = the full
    * load). State schema: keys, `__n`, `sum_<c>`s,
    * `min_<c>`/`max_<c>`s.
    * Returns whether the batch applied (false = replay).
    */
  def mergeCdcExtremes(plus: DataFrame, minus: DataFrame,
      churnedRows: DataFrame, sink: String, keys: Seq[String],
      sumCols: Seq[String], minMaxCols: Seq[String],
      batchId: Long): Boolean = {
    require(minMaxCols.nonEmpty,
      "no min/max columns: use mergeCdcBatch, which needs no rescan")
    val spark = plus.sparkSession
    val snap = AtomicIncrement.latestSnapshot(spark, sink)
    if (AtomicIncrement.isReplay(snap, sink, batchId)) return false
    val prior = AtomicIncrement.readFoldState(spark, sink, snap)
    val kcols = keys.map(col)
    val mmNames = minMaxCols.flatMap(c => Seq(s"min_$c", s"max_$c"))
    // the groups this batch touches, either side; null group keys are
    // legitimate groups, so every key join below is null-safe (<=>)
    val churned = plus.select(kcols: _*)
      .unionByName(minus.select(kcols: _*)).distinct()
    val churnedR = churned.select(
      keys.map(k => col(k).as(s"__ck_$k")): _*)
    def touchesChurn(df: DataFrame) = keys
      .map(k => col(k) <=> col(s"__ck_$k")).reduce(_ && _)
    // abelian half: state + both sides through the fold's single
    // contribution aggregate (one exchange — see mergedCdcState)
    val counts = mergedCdcState(
      prior.map(_.select(
        (kcols :+ col("__n")) ++ sumCols.map(c => col(s"sum_$c")): _*)),
      plus, minus, keys, sumCols, None)
    // non-abelian half: churned groups rescan, the rest carry state
    val mmAggs = minMaxCols.flatMap(c =>
      Seq(min(col(c)).as(s"min_$c"), max(col(c)).as(s"max_$c")))
    val rescan = churnedRows.join(churnedR, touchesChurn(churnedRows),
        "left_semi")
      .groupBy(kcols: _*).agg(mmAggs.head, mmAggs.tail: _*)
    val extremes = prior match {
      case Some(st) => st.join(churnedR, touchesChurn(st), "left_anti")
        .select(kcols ++ mmNames.map(col): _*)
        .unionByName(rescan)
      case None => rescan
    }
    // `__cov` marks a matched extremes row (mm values can be
    // legitimately null, so coverage needs its own marker); the
    // under-coverage check is OBSERVED on the staging write instead
    // of paying a dedicated anti-join action (round 18, guide §1.2
    // step 1) — an uncovered group fails the fold from the gate
    // BEFORE any publish, the staged files are reclaimed, and the
    // committed state stays byte-identical, the same loudness the
    // count-first shape guaranteed
    val extremesR = extremes.select(
      (keys.map(k => col(k).as(s"__e_$k")) :+ lit(true).as("__cov")) ++
        mmNames.map(col): _*)
    def matchesExt(df: DataFrame) = keys
      .map(k => col(k) <=> col(s"__e_$k")).reduce(_ && _)
    MetricGate.withGate(spark) { gate =>
      val merged = counts.join(extremesR, matchesExt(counts), "left")
        .observe(gate.name,
          count(when(col("__cov").isNull, 1)).as("__uncov"))
        .filter(col("__cov"))
        .select(kcols ++ (col("__n") +:
          (sumCols.map(c => col(s"sum_$c")) ++ mmNames.map(col))): _*)
      AtomicIncrement.replaceGated(merged, sink, snap.version,
        Some(batchId), gate = () => {
          require(gate.long() == 0L,
            "churnedRows under-covers the churn: a group alive by the " +
              "count algebra has no surviving rows to rescan extremes " +
              "from — pass the churned groups' post-change rows (e.g. " +
              "the keyed locality read of the merged table)")
          true
        })
    }
    true
  }

  /** EXACT distinct-count under retraction — the other measure
    * [[mergeCdcBatch]]'s abelian boundary excludes — via two-level
    * state: the child sink is a plain CDC rollup keyed at
    * `(keys…, valueCol)` granularity, i.e. one row per distinct
    * (group, value) pair holding that pair's multiplicity. Retractions
    * decrement the multiplicity and [[mergeCdcBatch]]'s `__n > 0`
    * filter removes the pair when its last occurrence retracts, so
    * `COUNT(DISTINCT value)` per group is simply the child state's
    * per-group ROW count — always exact, no sketch error, and the
    * whole fold stays abelian (the non-abelian distinct is expressed
    * as the count of a finer-grained abelian state).
    *
    * State size is |distinct (group, value) pairs| — the same rows an
    * exact `COUNT(DISTINCT)` shuffles anyway, held incrementally; for
    * cardinalities where even that is too large, the alternative is
    * deletion-capable sketch state (a counting HLL), trading exactness
    * — this is the exact path. Same batch-id replay shield, OCC publish,
    * and bootstrap conventions as every CDC fold here.
    */
  def mergeCdcDistinct(plus: DataFrame, minus: DataFrame, sink: String,
      keys: Seq[String], valueCol: String, batchId: Long): Boolean = {
    val pairCols = (keys :+ valueCol).map(col)
    mergeCdcBatch(plus.select(pairCols: _*), minus.select(pairCols: _*),
      sink, keys :+ valueCol, Nil, batchId)
  }

  /** The maintained `COUNT(DISTINCT valueCol)` per group from a
    * [[mergeCdcDistinct]] child sink: one row per group,
    * `distinct_<valueCol>`.
    */
  def readDistinct(spark: org.apache.spark.sql.SparkSession,
      sink: String, keys: Seq[String], valueCol: String): DataFrame =
    readState(spark, sink)
      .groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as(s"distinct_$valueCol"))

  /** Retractable TOP-K / heavy hitters (round 14): the per-group k
    * most frequent values of `valueCol`, read from the SAME
    * (group, value)-multiplicity state [[mergeCdcDistinct]] maintains
    * — no new fold at all, because the pair state is already the
    * exact frequency table under retraction (each pair row's `__n` is
    * its value's surviving multiplicity; a retraction decrements; the
    * pair leaves at zero). The read ranks inside each group by
    * (count desc, value asc — the deterministic tie-break an oracle
    * needs) over |state| rows, never data. State cost is the exact
    * path's min(D, ·) rows per group; for cardinalities past that the
    * documented sketch trade applies (a count-min twin would bound
    * state at the price of an error band — the same boundary the
    * distinct faces draw).
    */
  def readTopK(spark: org.apache.spark.sql.SparkSession, sink: String,
      keys: Seq[String], valueCol: String, k: Int): DataFrame = {
    require(k >= 1, s"top-k needs k >= 1: $k")
    val win = org.apache.spark.sql.expressions.Window
      .partitionBy(keys.map(col): _*)
      .orderBy(col("__n").desc, col(valueCol))
    readState(spark, sink)
      .withColumn("__rk", row_number().over(win))
      .filter(col("__rk") <= k)
      .select((keys.map(col) :+ col(valueCol) :+
        col("__n").as("cnt") :+ col("__rk").as("rank")): _*)
  }

  /** APPROXIMATE distinct-count under retraction (round 14) — the
    * deletion-capable SKETCH twin [[mergeCdcDistinct]]'s scaladoc
    * names for cardinalities past the exact path's state boundary:
    * sparse LINEAR COUNTING with multiplicity registers. Values hash
    * into `m` buckets (xxhash64 — deterministic across runs and
    * machines), and the child state holds one multiplicity row per
    * OCCUPIED (group, bucket) pair — a retraction decrements and the
    * bucket row leaves at zero exactly like the exact path's value
    * pairs, so occupancy is always EXACT for the current multiset
    * (this is a counting-Bloom/counting-HLL register array, kept
    * sparse so only occupied buckets cost state). The estimate
    * derives at read time ([[readDistinctApprox]]) from the load
    * factor: `D̂ = −m·ln(1 − occupied/m)`, the classic linear-counting
    * estimator, standard error ≈ `√(m(e^t − t − 1))/(t·m)` at load
    * `t = D/m` — about 0.3% at t = 0.25 with the default m = 2¹⁶.
    *
    * The trade vs the exact path: state is `min(D, m)` rows per group
    * — BOUNDED at m however large the group's cardinality grows,
    * while [[mergeCdcDistinct]]'s grows with D; the price is the
    * pinned error band and SATURATION (occupancy → m drives the
    * estimator to infinity — size m ≥ 4·D_expected; the read face
    * answers NULL for a fully-saturated group rather than a number).
    * Same batch-id replay shield, OCC publish, and bootstrap conventions
    * as every CDC fold here.
    */
  def mergeCdcDistinctApprox(plus: DataFrame, minus: DataFrame,
      sink: String, keys: Seq[String], valueCol: String, batchId: Long,
      m: Int = 1 << 16): Boolean = {
    require(m >= 16, s"sketch needs at least 16 buckets, got $m")
    def bucketed(df: DataFrame) = df.select(
      (keys.map(col) :+ pmod(xxhash64(col(valueCol)), lit(m.toLong))
        .as("__bkt")): _*)
    mergeCdcBatch(bucketed(plus), bucketed(minus), sink,
      keys :+ "__bkt", Nil, batchId)
  }

  /** The estimated `COUNT(DISTINCT)` per group from a
    * [[mergeCdcDistinctApprox]] child sink (`distinct_est`, rounded
    * to a long; NULL when the group's sketch is saturated). `m` must
    * match the fold's.
    */
  def readDistinctApprox(spark: org.apache.spark.sql.SparkSession,
      sink: String, keys: Seq[String], m: Int = 1 << 16): DataFrame =
    readState(spark, sink)
      .groupBy(keys.map(col): _*)
      .agg(when(count(lit(1)) < m,
        round(-lit(m.toDouble) *
          log(lit(1.0) - count(lit(1)) / lit(m.toDouble))).cast("long"))
        .as("distinct_est"))

  /** Retractable TOP-K under BOUNDED state (round 15) — the count-min
    * twin [[readTopK]]'s scaladoc names for value domains past the
    * exact pair state's boundary. Two child CDC rollups under `sink`:
    *
    *  - `cm` — the COUNT-MIN CELLS: each value hashes into one cell
    *    per depth row (`xxhash64(value, d) % width`), and the rollup
    *    keyed at (group, d, cell) holds each occupied cell's SIGNED
    *    occupancy. Cells are pure sums, so retraction is EXACT — a
    *    cell is always ≥ any colliding value's true count, and the
    *    read-time estimate (min over depth) sits in
    *    `[true, true + εN]` with `ε ≈ e/width`, the classic CM bound,
    *    which deletions do not loosen. State ≤ depth × width rows per
    *    group, however large the value domain grows.
    *  - `pool` — the CANDIDATE SET: (group, value) pairs seen by any
    *    batch, PRUNED after every fold to the `poolFactor × k` best
    *    by CM estimate (a heap expressed as state). The prune is what
    *    bounds state; its price is the standard heavy-hitter
    *    one-sidedness — a value pruned while light re-enters the pool
    *    only when a later batch touches it, so a candidate promoted
    *    purely by OTHERS' mass-retraction (its own rows untouched)
    *    can be missed. Values heavy by their own insertion mass — the
    *    heavy-hitter workload — are never lost: at prune time a true
    *    heavy hitter's estimate is ≥ its true count and outranks the
    *    cap boundary.
    *
    * Crash matrix (each child sink's commit line records its own
    * batch id; the two folds run side by side): die before either
    * fold lands → both replay; after one → it no-ops, the other
    * applies; after both → both no-op and the prune re-runs
    * idempotently. Read via [[readTopKSketch]] with
    * the SAME width/depth.
    */
  def mergeCdcTopKSketch(plus: DataFrame, minus: DataFrame, sink: String,
      keys: Seq[String], valueCol: String, batchId: Long, k: Int,
      width: Int = 2048, depth: Int = 3, poolFactor: Int = 4): Boolean = {
    require(k >= 1 && width >= 16 && depth >= 1 && poolFactor >= 2,
      s"bad sketch shape: k=$k width=$width depth=$depth pool=$poolFactor")
    val spark = plus.sparkSession
    val (cellSink, poolSink) = (s"$sink/cm", s"$sink/pool")
    // aggregate before the depth fan-out (guide §2.3): count per
    // (group, value) first — the batch collapses to its distinct
    // values before explode ships depth× rows into the fold — then
    // move the same counters through the weighted fold. Cell hashes
    // and state are byte-identical to the per-row shape.
    def cells(df: DataFrame) = df
      .groupBy((keys :+ valueCol).map(col): _*)
      .agg(count(lit(1)).as("__w"))
      .withColumn("__d", explode(array((0 until depth).map(lit): _*)))
      .withColumn("__cell",
        pmod(xxhash64(col(valueCol), col("__d")), lit(width.toLong)))
      .drop(valueCol)
    // the cell fold and the pool fold touch disjoint child sinks with
    // independent replay shields — overlap them (guide §2.6); the
    // prune below still runs strictly after both
    val pairCols = (keys :+ valueCol).map(col)
    val (applied, _) = inParallel2(
      mergeCdcWeighted(cells(plus), cells(minus), cellSink,
        keys ++ Seq("__d", "__cell"), "__w", batchId),
      mergeCdcBatch(plus.select(pairCols: _*), minus.select(pairCols: _*),
        poolSink, keys :+ valueCol, Nil, batchId))
    // prune the pool to the cap by CM estimate — state-sized, runs
    // even on replay (idempotent), so a crash mid-prune self-heals
    val cap = poolFactor * k
    val poolSnap = AtomicIncrement.latestSnapshot(spark, poolSink)
    if (poolSnap.data.nonEmpty) {
      val pool = AtomicIncrement.readSnapshot(spark, poolSink, poolSnap)
      // the estimate joins BACK onto the intact pool rows — the pruned
      // state must keep the fold's full schema (multiplicity `__n`),
      // not the estimate projection
      val est = cmEstimate(spark, cellSink, pool, keys, valueCol,
        width, depth).select(
        (keys.map(k => col(k).as(s"__e_$k")) :+
          col(valueCol).as("__e_v") :+ col("__est")): _*)
      val estCond = (keys.map(k => col(k) <=> col(s"__e_$k")) :+
        (col(valueCol) <=> col("__e_v"))).reduce(_ && _)
      val win = org.apache.spark.sql.expressions.Window
        .partitionBy(keys.map(col): _*)
        .orderBy(col("__est").desc, col(valueCol))
      val ranked = pool.join(est, estCond)
        .withColumn("__rk", row_number().over(win))
      // the prune's commit keeps the pool's batch id, so a replay of
      // the batch it follows still no-ops
      if (ranked.filter(col("__rk") > cap).limit(1).count() > 0)
        AtomicIncrement.replaceGated(
          ranked.filter(col("__rk") <= cap)
            .select(pool.columns.toIndexedSeq.map(col): _*),
          poolSink, poolSnap.version, poolSnap.lastBatch)
    }
    applied
  }

  /** Run two INDEPENDENT fold legs concurrently (guide §2.6: actions
    * are only sequential because the driver calls them sequentially —
    * Spark schedules concurrent jobs FIFO and back-fills idle cores).
    * The legs must target DISJOINT sinks: each sink's commit line
    * keeps its own batch id, and each fold its own OCC token, so the
    * pair's crash/replay matrix is the product of the legs'
    * independent ones — a crash can leave either applied and the
    * retry no-ops whichever already landed, exactly as under the old
    * fixed order (neither leg ever read the other's sink). Errors rethrow on the caller's thread; the other
    * leg is joined first so no fold is ever abandoned mid-commit. When
    * both legs throw, leg A's error carries leg B's as suppressed.
    */
  private[graft] def inParallel2[A, B](a: => A, b: => B): (A, B) = {
    var rb: Option[B] = None
    var eb: Option[Throwable] = None
    val tb = new Thread(() =>
      try { rb = Some(b) } catch { case e: Throwable => eb = Some(e) })
    tb.start()
    val ra =
      try a
      catch { case e: Throwable =>
        tb.join(); eb.foreach(e.addSuppressed); throw e }
    tb.join()
    eb.foreach(throw _)
    (ra, rb.get)
  }

  /** Dyadic levels for a radix-2^b prefix tree over the signed-long
    * domain: value >> (64−b), …, b, 0 (arithmetic shifts compose, so
    * negatives form a correct subtree under the negative root
    * prefixes). radixBits = 4 (the round-16 default) gives 16 levels
    * × 16-way fan-out; radixBits = 8 gives 8 levels × 256-way — the
    * fold constant HALVES (cells per row ∝ levels × depth) while the
    * read's beam pays 16× more candidate children per expansion,
    * still state-sized. The two are STATE-INCOMPATIBLE (different
    * `__lvl` sets): fold and read of one sink must agree on the
    * radix, and a sink folded at one radix never mixes with another.
    */
  private def dyadicLevels(radixBits: Int): Seq[Int] = {
    require(radixBits == 4 || radixBits == 8,
      s"radixBits must be 4 or 8, got $radixBits")
    (0 to 64 - radixBits by radixBits).reverse
  }

  /** DYADIC-RANGE count-min TOP-K (round 16) — the deletion-complete
    * twin of [[mergeCdcTopKSketch]]. The pooled sketch's candidate
    * pool is ONE-SIDED under retraction: a value the recent batches
    * never touched can rise into the top-k purely because others
    * were retracted, and if the pool pruned it earlier nothing ever
    * re-nominates it. This twin keeps NO pool at all — the textbook
    * deletion-capable heavy-hitter shape: one CM sketch per dyadic
    * level of the value domain (radix-16: prefix = value >> ℓ for
    * ℓ = 60, 56, …, 0), all abelian signed counters, so retraction
    * decrements every level exactly and the CURRENT heavy hitters
    * are recoverable from state alone by descending the prefix tree
    * ([[readTopKDyadic]]'s beam search). State: ≤ 16 × depth × width
    * cells per group, O(log U) of the pooled twin's cells — bounded
    * however the data churns, which is the point.
    *
    * INTEGRAL values only (the prefix tree is bit arithmetic); both
    * signs supported. Same batch-id replay shield, OCC publish, and
    * bootstrap conventions as every CDC fold.
    */
  def mergeCdcTopKDyadic(plus: DataFrame, minus: DataFrame,
      sink: String, keys: Seq[String], valueCol: String,
      batchId: Long, width: Int = 2048, depth: Int = 3,
      radixBits: Int = 4): Boolean = {
    require(width >= 16 && depth >= 1,
      s"bad sketch shape: width=$width depth=$depth")
    def cells(df: DataFrame): DataFrame = {
      val v = df.schema.fields
        .find(_.name.equalsIgnoreCase(valueCol))
        .getOrElse(throw new IllegalArgumentException(
          s"value column '$valueCol' absent from the batch"))
      require(AtomicIncrement.integralTags.exists(
          graft.operators.AtomicIncrement.tagOf(v.dataType).contains),
        s"dyadic top-k needs an integral value column, got " +
          s"${v.dataType.simpleString} — use mergeCdcTopKAny for " +
          "strings/doubles (hash domain + dictionary)")
      val base = df.select((keys.map(col) :+
        col(valueCol).cast("long").as("__v")): _*)
      // AGGREGATE BEFORE THE FAN-OUT (guide §2.3), then ONE scan with
      // a generator per level instead of a union of per-level selects:
      // the union shape re-scanned the source once PER LEVEL (16 scans
      // at radix-16 — measured as the fold job's dominant task time),
      // and even single-scanned, exploding raw rows ships
      // |batch| × levels × depth rows into the fold's aggregate. The
      // per-(group, value) count first collapses the batch to its
      // distinct values (bounded by the domain, ≪ |batch| for the
      // heavy-hitter workloads this sketch exists for), and the
      // weighted fold moves the same counters — cell hashes, state,
      // and estimates are byte-identical (oracle-pinned).
      base.groupBy((keys.map(col) :+ col("__v")): _*)
        .agg(count(lit(1)).as("__w"))
        .withColumn("__lvl",
          explode(array(dyadicLevels(radixBits).map(l => lit(l)): _*)))
        .withColumn("__p", expr("shiftright(__v, __lvl)"))
        .withColumn("__d", explode(array((0 until depth).map(lit): _*)))
        .withColumn("__cell",
          pmod(xxhash64(col("__p"), col("__d")), lit(width.toLong)))
        .drop("__v", "__p")
    }
    mergeCdcWeighted(cells(plus), cells(minus), s"$sink/dyadic",
      keys ++ Seq("__lvl", "__d", "__cell"), "__w", batchId)
  }

  /** [[mergeCdcTopKDyadic]] for ARBITRARY value columns — strings,
    * doubles, anything hashable (round 17, closing the integral-only
    * boundary). The dyadic domain is `xxhash64(value)`: heavy-hitter
    * descent needs a STABLE INTEGRAL domain, not semantic order, and
    * a radix trie over hash bits finds heavy leaves exactly as over
    * raw integers. Because a 64-bit hash cannot be inverted, a
    * companion DICTIONARY fold (`<sink>/dyadicdict`, signed
    * refcounts per (domain, value) through the same retractable CDC
    * fold) recovers values at read time — entries whose refcount
    * retracts to zero drop out, so the dictionary tracks LIVE values
    * only. State: the sketch stays `levels × depth × width` cells
    * per group (bounded, the dyadic point); the dictionary is
    * O(live distinct values) — the same scale as the exact distinct
    * fold's pair state, the honest price of recovering arbitrary
    * values. Hash collisions (two live values, one domain) merge
    * their counts — probability ≈ d²/2⁶⁴ for d live distincts; the
    * read surfaces every colliding value under the shared estimate
    * rather than silently dropping one.
    */
  def mergeCdcTopKAny(plus: DataFrame, minus: DataFrame,
      sink: String, keys: Seq[String], valueCol: String,
      batchId: Long, width: Int = 2048, depth: Int = 3,
      radixBits: Int = 4): Boolean = {
    def dom(df: DataFrame): DataFrame =
      df.withColumn("__dom", xxhash64(col(valueCol)))
    // the sketch and dictionary folds target disjoint child sinks,
    // each under its own replay shield on the same batchId — overlap
    // them (guide §2.6): whichever leg a crash strands, the retry
    // applies it and no-ops the other, the same self-heal the old
    // fixed order gave
    val (applied, _) = inParallel2(
      mergeCdcTopKDyadic(dom(plus), dom(minus), sink,
        keys, "__dom", batchId, width, depth, radixBits),
      mergeCdcBatch(
        dom(plus).select(col("__dom"), col(valueCol)),
        dom(minus).select(col("__dom"), col(valueCol)),
        s"$sink/dyadicdict", Seq("__dom", valueCol), Nil, batchId))
    applied
  }

  /** Per-group top-k from a [[mergeCdcTopKDyadic]] sink by BEAM
    * DESCENT over the prefix tree: start from the radix's root
    * prefixes, estimate each candidate's range count (CM min over
    * depth at its level), keep the best `beamFactor × k` per group,
    * expand each survivor's children, repeat to level 0 — the
    * survivors there ARE values, ranked exactly like the exact twin
    * (estimate desc, value asc). A true top-k value's ancestors carry
    * at least its count, so they out-rank all but CM-noise-inflated
    * rivals at every level; the beam absorbs that noise (εN per
    * cell, min over depth). One state-sized lazy stage per level,
    * never data. `radixBits` must match the fold's.
    */
  def readTopKDyadic(spark: org.apache.spark.sql.SparkSession,
      sink: String, keys: Seq[String], valueCol: String, k: Int,
      width: Int = 2048, depth: Int = 3, beamFactor: Int = 4,
      radixBits: Int = 4): DataFrame = {
    require(k >= 1 && beamFactor >= 2,
      s"top-k needs k >= 1 and beamFactor >= 2: $k, $beamFactor")
    val beam = beamFactor * k
    val fan = 1 << radixBits
    val cellState = readState(spark, s"$sink/dyadic")
    cellState.cache()
    try {
      val groups = cellState.select(keys.map(col): _*).distinct()
      // roots: value >> (64−b) of any long lies in [−2^(b−1), 2^(b−1))
      var cand = groups.withColumn("__p",
        explode(array((-(fan / 2) until fan / 2)
          .map(i => lit(i.toLong)): _*)))
      for (lvl <- dyadicLevels(radixBits)) {
        val probes = cand
          .withColumn("__d", explode(array((0 until depth).map(lit): _*)))
          .withColumn("__cell",
            pmod(xxhash64(col("__p"), col("__d")), lit(width.toLong)))
        val state = cellState.filter(col("__lvl") === lvl).select(
          (keys.map(c => col(c).as(s"__s_$c")) ++
            Seq(col("__d").as("__s_d"), col("__cell").as("__s_cell"),
              col("__n").as("__s_n"))): _*)
        val joinCond = (keys.map(c => col(c) <=> col(s"__s_$c")) ++
          Seq(col("__d") === col("__s_d"),
            col("__cell") === col("__s_cell"))).reduce(_ && _)
        val est = probes.join(state, joinCond, "left")
          .groupBy((keys :+ "__p").map(col): _*)
          .agg(min(coalesce(col("__s_n"), lit(0L))).as("__est"))
          .filter(col("__est") > 0L)
        val win = org.apache.spark.sql.expressions.Window
          .partitionBy(keys.map(col): _*)
          .orderBy(col("__est").desc, col("__p"))
        val kept = est.withColumn("__rk", row_number().over(win))
          .filter(col("__rk") <= beam)
        cand =
          if (lvl == 0) kept
          else kept.select((keys.map(col) :+
            (col("__p") * fan).as("__pf")): _*)
            .withColumn("__c",
              explode(array((0 until fan).map(i => lit(i.toLong)): _*)))
            .withColumn("__p", col("__pf") + col("__c"))
            .drop("__pf", "__c")
        // the chain stays LAZY: 16 beam-sized window stages execute
        // as ONE job at the final action (an eager checkpoint per
        // level cost 16 job round trips — measured 7.4 s vs ~1.5 s
        // on the sf0.1 oracle fixture for identical results)
      }
      cand.filter(col("__rk") <= k)
        .select((keys.map(col) :+ col("__p").as(valueCol) :+
          col("__est").as("cnt_est") :+ col("__rk").as("rank")): _*)
    } finally { cellState.unpersist(); () }
  }

  /** Per-group top-k from a [[mergeCdcTopKAny]] sink: the same beam
    * descent over the HASH domain, then a join against the live
    * dictionary (`__n > 0`) recovers the actual values, and a final
    * re-rank (estimate desc, value asc — the exact twin's order)
    * absorbs collision fan-out: two live values sharing a domain
    * both surface under the shared estimate, never a silent drop.
    */
  def readTopKAny(spark: org.apache.spark.sql.SparkSession,
      sink: String, keys: Seq[String], valueCol: String, k: Int,
      width: Int = 2048, depth: Int = 3, beamFactor: Int = 4,
      radixBits: Int = 4): DataFrame = {
    val leaves = readTopKDyadic(spark, sink, keys, "__dom", k,
      width, depth, beamFactor, radixBits)
    val dict = readState(spark, s"$sink/dyadicdict")
      .filter(col("__n") > 0)
      .select(col("__dom"), col(valueCol))
    val win = org.apache.spark.sql.expressions.Window
      .partitionBy(keys.map(col): _*)
      .orderBy(col("cnt_est").desc, col(valueCol))
    leaves.join(dict, "__dom")
      .withColumn("rank", row_number().over(win))
      .filter(col("rank") <= k)
      .select((keys.map(col) :+ col(valueCol) :+
        col("cnt_est") :+ col("rank")): _*)
  }

  /** The (value, depth-row, cell) exploded view shared by the fold and
    * the read — ONE expression builds the hash on both sides, so the
    * probe always lands in the fold's cell (type-identical inputs).
    */
  private def cmCells(df: DataFrame, keys: Seq[String], valueCol: String,
      width: Int, depth: Int): DataFrame =
    df.select((keys.map(col) :+ col(valueCol)): _*)
      .withColumn("__d", explode(array((0 until depth).map(lit): _*)))
      .withColumn("__cell",
        pmod(xxhash64(col(valueCol), col("__d")), lit(width.toLong)))

  /** CM estimate per (group, candidate): min over depth of the
    * occupied cell counts (an absent cell is 0). Null-safe on the
    * group keys — a null group is a legitimate group here, as in
    * every CDC fold.
    */
  private def cmEstimate(spark: org.apache.spark.sql.SparkSession,
      cellSink: String, candidates: DataFrame, keys: Seq[String],
      valueCol: String, width: Int, depth: Int): DataFrame = {
    val cellState = readState(spark, cellSink).select(
      (keys.map(k => col(k).as(s"__s_$k")) ++
        Seq(col("__d").as("__s_d"), col("__cell").as("__s_cell"),
          col("__n").as("__s_n"))): _*)
    val probes = cmCells(candidates, keys, valueCol, width, depth)
    val joinCond = (keys.map(k => col(k) <=> col(s"__s_$k")) ++
      Seq(col("__d") === col("__s_d"), col("__cell") === col("__s_cell")))
      .reduce(_ && _)
    probes.join(cellState, joinCond, "left")
      .groupBy((keys :+ valueCol).map(col): _*)
      .agg(min(coalesce(col("__s_n"), lit(0L))).as("__est"))
  }

  /** The per-group top-k heavy hitters from a [[mergeCdcTopKSketch]]
    * sink: pool candidates ranked by CM estimate (`cnt_est`), the
    * same deterministic tie-break as the exact [[readTopK]]
    * (estimate desc, value asc). `width`/`depth` must match the
    * fold's; `k` at most its `poolFactor × k` cap. Everything here is
    * state-sized — |pool| ≤ cap rows and ≤ depth × width cells per
    * group, never data.
    */
  def readTopKSketch(spark: org.apache.spark.sql.SparkSession,
      sink: String, keys: Seq[String], valueCol: String, k: Int,
      width: Int = 2048, depth: Int = 3): DataFrame = {
    require(k >= 1, s"top-k needs k >= 1: $k")
    val pool = readState(spark, s"$sink/pool")
    val est = cmEstimate(spark, s"$sink/cm", pool, keys, valueCol,
      width, depth)
    val win = org.apache.spark.sql.expressions.Window
      .partitionBy(keys.map(col): _*)
      .orderBy(col("__est").desc, col(valueCol))
    est.withColumn("__rk", row_number().over(win))
      .filter(col("__rk") <= k)
      .select((keys.map(col) :+ col(valueCol) :+
        col("__est").as("cnt_est") :+ col("__rk").as("rank")): _*)
  }

  /** Retractable QUANTILE rollup (round 14) — the distribution face of
    * the CDC family (count/sum fold, extremes rescan, distinct pairs,
    * sketch registers… and now percentiles): fixed-grid HISTOGRAM
    * state. Values bin into `bins` equal-width buckets over the
    * DECLARED domain `[lo, hi)` (out-of-range values clamp into the
    * edge bins — declare the domain generously; the grid must be
    * fixed up front because rebinning old state is impossible), and
    * the child CDC rollup keyed at (group, bin) holds one signed
    * count per occupied bucket — retraction decrements, empty buckets
    * leave, state is `min(distinct-bins, bins)` rows per group
    * however large the group grows. Unlike every order-statistic
    * sketch (KLL, t-digest), a counting histogram is ABELIAN — it
    * supports deletion exactly, which is the whole reason it is the
    * retraction-safe choice here. NULL values are ignored on both
    * sides (SQL aggregate semantics). Same batch-id replay shield, OCC
    * publish, and bootstrap conventions as every CDC fold.
    */
  def mergeCdcQuantile(plus: DataFrame, minus: DataFrame, sink: String,
      keys: Seq[String], valueCol: String, lo: Double, hi: Double,
      bins: Int, batchId: Long): Boolean = {
    require(bins >= 2 && bins <= (1 << 20),
      s"bins out of range: $bins")
    require(hi > lo, s"empty histogram domain: [$lo, $hi)")
    val w = (hi - lo) / bins
    // NaN is excluded alongside NULL (round 15, ADVICE): floor(NaN)
    // casts to 0L under the clamp and would silently count NaN rows
    // into bin 0, dragging low-quantile estimates down — the
    // documented semantics are "values in [lo, hi) clamp to edge
    // bins", and NaN is not a value on that line. The exclusion is
    // symmetric on plus and minus, so retraction stays exact.
    def binned(df: DataFrame) = df
      .filter(col(valueCol).isNotNull &&
        !isnan(col(valueCol).cast("double")))
      .select((keys.map(col) :+
        least(lit(bins - 1L), greatest(lit(0L),
          floor((col(valueCol).cast("double") - lit(lo)) / lit(w))
            .cast("long"))).as("__qbin")): _*)
    mergeCdcBatch(binned(plus), binned(minus), sink,
      keys :+ "__qbin", Nil, batchId)
  }

  /** The estimated q-quantile per group from a [[mergeCdcQuantile]]
    * child sink (`n` = exact surviving non-null count, `quantile_est`
    * = linear interpolation inside the first bucket whose cumulative
    * count crosses `q·n`). The rank-`⌈q·n⌉` order statistic sits in
    * that same bucket by construction, so the error against it is
    * bounded by ONE BIN WIDTH, `(hi − lo) / bins` — and by two bin
    * widths against any interpolated percentile definition (whose
    * bracketing ranks can straddle the bucket boundary); the oracle
    * row pins the two-width band.
    * `lo`/`hi`/`bins` must match the fold's. State is rollup-sized,
    * so the window here runs over |groups × occupied bins| rows,
    * never data.
    */
  def readQuantile(spark: org.apache.spark.sql.SparkSession,
      sink: String, keys: Seq[String], q: Double, lo: Double,
      hi: Double, bins: Int): DataFrame = {
    require(q > 0.0 && q < 1.0, s"quantile must be in (0, 1): $q")
    val w = (hi - lo) / bins
    val win = org.apache.spark.sql.expressions.Window
      .partitionBy(keys.map(col): _*)
    val cum = readState(spark, sink)
      .withColumn("__cum", sum("__n").over(win.orderBy("__qbin")))
      .withColumn("__tot", sum("__n").over(win))
    // the first bucket whose cumulative count reaches the target rank
    // contains the true quantile; interpolate linearly inside it
    cum.filter(col("__cum") >= col("__tot") * q)
      .groupBy(keys.map(col): _*)
      .agg(min_by(struct(col("__qbin"), col("__n"), col("__cum"),
        col("__tot")), col("__qbin")).as("__hit"))
      .select((keys.map(col) :+
        col("__hit.__tot").as("n") :+
        (lit(lo) + lit(w) * (col("__hit.__qbin") +
          (col("__hit.__tot") * q -
            (col("__hit.__cum") - col("__hit.__n"))) / col("__hit.__n")))
          .as("quantile_est")): _*)
  }

  /** [[syncRollup]]'s QUANTILE twin: the version-keyed manifest-diff
    * feed folded through [[mergeCdcQuantile]] — histogram counts are
    * abelian, so the file-grained feed's rewritten survivors
    * telescope exactly like the count/sum rollup's. Same bootstrap /
    * retention / no-op semantics; read via [[readQuantile]]. Returns
    * versions folded.
    */
  def syncQuantile(spark: org.apache.spark.sql.SparkSession,
      tableSink: String, stateSink: String, keys: Seq[String],
      valueCol: String, lo: Double, hi: Double, bins: Int): Long =
    syncWith(spark, tableSink, stateSink) { (plus, minus, current) =>
      mergeCdcQuantile(plus, minus, stateSink, keys, valueCol, lo, hi,
        bins, current)
    }

  /** SELF-SYNCING rollup: fold everything `tableSink` committed since
    * this state's last sync, in ONE pull of the manifest-diff change
    * feed ([[AtomicIncrement.changesBetween]]) — no upstream
    * coordination, no CDC batch plumbing: the table's own VERSION is
    * the exactly-once key (the state's recorded batch id), so appends,
    * copy-on-write merges, and merge-on-read commits all flow through
    * the same telescoping fold, a catch-up after downtime spans any
    * number of commits in one feed window, and a re-run with nothing
    * new is a version-compare no-op (zero jobs beyond the manifest
    * read). First sync bootstraps from version 0 (the whole snapshot
    * arrives as the plus side).
    *
    * Retention contract is the feed's: sync before vacuum reclaims the
    * last-synced version's superseded files; a rollup that slept past
    * its table's vacuum horizon re-bootstraps (drop the state and
    * sync fresh). Returns how many table versions were folded
    * (0 = already current).
    */
  def syncRollup(spark: org.apache.spark.sql.SparkSession,
      tableSink: String, stateSink: String, keys: Seq[String],
      sumCols: Seq[String]): Long =
    syncWith(spark, tableSink, stateSink) { (plus, minus, current) =>
      mergeCdcBatch(plus, minus, stateSink, keys, sumCols, current)
    }

  /** [[syncRollup]]'s DISTINCT twin (round 14, completing the
    * self-sync family beside the extremes): the same version-keyed
    * feed pull folded through [[mergeCdcDistinct]] — the two-level
    * (group, value) multiplicity state is abelian all the way down,
    * so the file-grained feed's rewritten survivors telescope exactly
    * like the count/sum rollup's, and a downstream COUNT(DISTINCT)
    * self-paces off the manifest with no CDC plumbing. Same
    * bootstrap / retention / no-op semantics as [[syncRollup]];
    * read the answer via [[readDistinct]]. Returns versions folded.
    */
  def syncDistinct(spark: org.apache.spark.sql.SparkSession,
      tableSink: String, stateSink: String, keys: Seq[String],
      valueCol: String): Long =
    syncWith(spark, tableSink, stateSink) { (plus, minus, current) =>
      mergeCdcDistinct(plus, minus, stateSink, keys, valueCol, current)
    }

  /** [[syncRollup]]'s EXTREMES twin: the same version-keyed feed pull,
    * folded through [[mergeCdcExtremes]] — churned groups' min/max
    * rescan from the CURRENT table's group locality (the feed is
    * file-grained, so "churned" here is every group in a diffed file,
    * a superset of the truly-moved groups: each rescans exactly, the
    * rest carry state; on a group-clustered table that superset IS the
    * touched files' locality). The rescan view resolves through
    * [[AtomicIncrement.readGroupLocality]] (round 14): COMPOSITE group
    * keys intersect per-column interval prunes — any group column with
    * manifest stats narrows the file set, so a two-column-grouped
    * rollup no longer degrades to a full table scan per sync — and the
    * churned-tuple collect is fenced at `maxGroupKeys` (falling back
    * to the full-snapshot read past it: the feed can churn every
    * group, e.g. a compaction inside the window). Either way a
    * may-contain superset the fold's semi join restricts.
    */
  def syncExtremes(spark: org.apache.spark.sql.SparkSession,
      tableSink: String, stateSink: String, keys: Seq[String],
      sumCols: Seq[String], minMaxCols: Seq[String],
      maxGroupKeys: Int = 1000000): Long =
    syncWith(spark, tableSink, stateSink) { (plus, minus, current) =>
      val churnedRows = AtomicIncrement.readGroupLocality(spark,
        tableSink, keys, Seq(plus, minus), maxGroupKeys)
      mergeCdcExtremes(plus, minus, churnedRows, stateSink, keys,
        sumCols, minMaxCols, current)
    }

  /** The self-syncing folds' one prologue: the state's recorded batch
    * id is the table version it last synced (0 before bootstrap — sync
    * feeds start at version 0); when the table has moved past it,
    * `fold` gets the feed window's (plus, minus) and the table's
    * current version as its batch id. Returns the versions folded
    * (0 = already current).
    */
  private def syncWith(spark: org.apache.spark.sql.SparkSession,
      tableSink: String, stateSink: String)(
      fold: (DataFrame, DataFrame, Long) => Boolean): Long = {
    val current = AtomicIncrement.snapshot(spark, tableSink)._1
    val last = math.max(AtomicIncrement.latestSnapshot(spark, stateSink)
      .lastBatch.getOrElse(0L), 0L)
    if (current <= last) return 0L
    val (plus, minus) = AtomicIncrement.changesBetween(spark, tableSink,
      last, current)
    fold(plus, minus, current)
    current - last
  }

  /** Run a query whose plumbing needs a scratch atomic sink, then
    * reclaim the sink DETERMINISTICALLY: the output (small by
    * construction — these queries end in an aggregate of at most a
    * few rows) is materialized, the scratch directory deleted, and
    * the rows re-wrapped as a local frame. Without this every
    * bench/scale invocation stranded a fresh multi-copy temp sink on
    * disk — unbounded accumulation across repeated runs.
    */
  private[operators] def withScratchSink(
      spark: org.apache.spark.sql.SparkSession,
      prefix: String)(body: String => DataFrame): DataFrame = {
    val sink = java.nio.file.Files.createTempDirectory(prefix).toString
    try {
      val out = body(sink)
      val rows = out.collect()
      spark.createDataFrame(
        java.util.Arrays.asList(rows: _*), out.schema)
    } finally {
      val p = new org.apache.hadoop.fs.Path(sink)
      p.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .delete(p, true)
      ()
    }
  }

  def defs: Map[String, QueryDef] = Map(
    // Data-skipping read under the oracle gate: lineitem lands in an
    // atomic sink as three orderkey-range increments (disjoint
    // per-file stats intervals by construction), then the
    // incremental-consumer query — rows above the second cut — reads
    // through readCommittedAbove. The manifest prunes the first two
    // batches' files without touching them; the oracle aggregates the
    // raw source directly, so the pruned read must be
    // indistinguishable from a full scan + filter. `pruned` pins that
    // skipping ENGAGED (strictly fewer files listed than committed) —
    // a regression to read-everything flips it and hash-mismatches.
    "q_read_pruned" -> QueryDef(
      (s, dir) => withScratchSink(s, "graft_skipread") { sink =>
        val li = table(s, dir, "lineitem").select(
          col("l_orderkey"), col("l_quantity"), col("l_extendedprice"))
        val mx = li.agg(max("l_orderkey")).head().getLong(0)
        var lo = Long.MinValue
        for (hi <- Seq(mx / 3, 2 * mx / 3, mx)) {
          AtomicIncrement.appendIncrementAtomic(
            li.filter(col("l_orderkey") > lo && col("l_orderkey") <= hi),
            sink, "l_orderkey")
          lo = hi
        }
        val cut = 2 * mx / 3
        val pruned = AtomicIncrement.readCommittedAbove(s, sink,
          "l_orderkey", cut)
        val engaged = pruned.inputFiles.length <
          AtomicIncrement.committedFiles(s, sink).size
        pruned.filter(col("l_orderkey") > cut)
          .agg(count(lit(1)).as("n"),
            round(sum("l_quantity"), 2).as("sum_qty"),
            round(sum("l_extendedprice"), 2).as("sum_price"))
          .withColumn("pruned", lit(engaged))
      },
      """SELECT count(*) AS n, round(sum(l_quantity), 2) AS sum_qty,
        |  round(sum(l_extendedprice), 2) AS sum_price, TRUE AS pruned
        |FROM lineitem
        |WHERE l_orderkey > 2 * (SELECT max(l_orderkey) FROM lineitem) // 3
        |""".stripMargin),

    // The STRING-watermark twin of q_read_pruned (round 13): the sink
    // is watermarked by a monotone string key (the reference's
    // GUID/ISO-string incremental pulls), so BOTH new string paths
    // carry the oracle row — the replay must append 0 THROUGH the
    // manifest's byte-ordered string max (a wrong byte-order max
    // re-appends rows and the count hash-mismatches), and the
    // consumer read is readCommittedAboveStr, whose `pruned` flag
    // pins that string-interval skipping ENGAGED. Fixed-width zero
    // padding makes byte order ≡ key order, so the oracle can derive
    // the same strings in SQL.
    "q_read_pruned_str" -> QueryDef(
      (s, dir) => withScratchSink(s, "graft_skipstr") { sink =>
        val o = table(s, dir, "orders").select(
          concat(lit("o-"),
            lpad(col("o_orderkey").cast("string"), 12, "0")).as("okey"),
          col("o_totalprice"))
        val mxk = table(s, dir, "orders")
          .agg(max("o_orderkey")).head().getLong(0)
        def k(v: Long) = "o-" + "%012d".format(v)
        var lo = ""
        for (hi <- Seq(k(mxk / 3), k(2 * mxk / 3), k(mxk))) {
          AtomicIncrement.appendIncrementAtomic(
            o.filter(col("okey") > lo && col("okey") <= hi), sink, "okey")
          lo = hi
        }
        // replay rides the manifest's string watermark: 0 fresh rows
        val replay = AtomicIncrement.appendIncrementAtomic(o, sink, "okey")
        val cutS = k(2 * mxk / 3)
        val pruned = AtomicIncrement.readCommittedAboveStr(
          s, sink, "okey", cutS)
        val engaged = replay == 0 && pruned.inputFiles.length <
          AtomicIncrement.committedFiles(s, sink).size
        pruned.filter(col("okey") > cutS)
          .agg(count(lit(1)).as("n"), min("okey").as("k_min"),
            round(sum("o_totalprice"), 2).as("sum_price"))
          .withColumn("pruned", lit(engaged))
      },
      """WITH cut AS (SELECT 2 * max(o_orderkey) // 3 AS c FROM orders)
        |SELECT count(*) AS n,
        |  'o-' || lpad(CAST(min(o_orderkey) AS VARCHAR), 12, '0') AS k_min,
        |  round(sum(o_totalprice), 2) AS sum_price, TRUE AS pruned
        |FROM orders, cut WHERE o_orderkey > c""".stripMargin),

    // The fold under the oracle gate: lineitem arrives as three
    // orderkey-range increments, each merged into the state table;
    // the oracle aggregates the FULL history in one pass — so the
    // merge algebra (counts add, sums add, avg derived from state)
    // must reproduce the rescan exactly.
    "q_incr_agg" -> QueryDef(
      (s, dir) => withScratchSink(s, "graft_incragg") { sink =>
        val li = table(s, dir, "lineitem").select(
          col("l_orderkey"), col("l_returnflag"), col("l_linestatus"),
          col("l_quantity"), col("l_extendedprice"))
        val mx = li.agg(max("l_orderkey")).head().getLong(0)
        var lo = Long.MinValue
        for (hi <- Seq(mx / 3, 2 * mx / 3, mx)) {
          mergeBatch(li.filter(col("l_orderkey") > lo && col("l_orderkey") <= hi),
            sink, Seq("l_returnflag", "l_linestatus"),
            Seq("l_quantity", "l_extendedprice"), "l_orderkey")
          lo = hi
        }
        readState(s, sink)
          .select(col("l_returnflag"), col("l_linestatus"),
            col("__n").as("n"),
            round(col("sum_l_quantity"), 2).as("sum_qty"),
            round(col("sum_l_extendedprice") / col("__n"), 6).as("avg_price"))
          .orderBy("l_returnflag", "l_linestatus")
      },
      """SELECT l_returnflag, l_linestatus, count(*) AS n,
        |  round(sum(l_quantity), 2) AS sum_qty,
        |  round(sum(l_extendedprice) / count(*), 6) AS avg_price
        |FROM lineitem GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin),

    // The OPTIMIZE path under the oracle gate: three loads whose key
    // sets INTERLEAVE (k % 3 == batch), so every file's key interval
    // spans the whole domain and nothing can prune — then
    // compactClustered re-ranges the table on the key and the same
    // above-the-cut read must skip files again. `clustered` pins both
    // halves: pruning was impossible before (a fixture regression to
    // accidentally-clustered loads would flip it) and engaged after.
    // The oracle is the plain aggregate — clustering must be invisible
    // to content.
    "q_optimize_cluster" -> QueryDef(
      (s, dir) => withScratchSink(s, "graft_optcluster") { sink =>
        val o = table(s, dir, "orders").select(
          col("o_orderkey"), col("o_totalprice"))
        for (r <- 0L to 2L)
          AtomicIncrement.appendIncrementAtomic(
            o.filter(col("o_orderkey") % 3 === r)
              .withColumn("b", lit(r)),
            sink, "b", extraStatsCols = Seq("o_orderkey"))
        val mx = o.agg(max("o_orderkey")).head().getLong(0)
        val cut = 2 * mx / 3
        def files(df: org.apache.spark.sql.DataFrame) =
          df.inputFiles.length
        val total = AtomicIncrement.committedFiles(s, sink).size
        val beforePruned = files(AtomicIncrement.readCommittedAbove(
          s, sink, "o_orderkey", cut)) < total
        AtomicIncrement.compactClustered(s, sink, Seq("o_orderkey"),
          numFiles = 6)
        val prunedRead = AtomicIncrement.readCommittedAbove(
          s, sink, "o_orderkey", cut)
        val engaged = !beforePruned && files(prunedRead) <
          AtomicIncrement.committedFiles(s, sink).size
        prunedRead.filter(col("o_orderkey") > cut)
          .agg(count(lit(1)).as("n"),
            sum("o_orderkey").as("key_sum"),
            round(sum("o_totalprice"), 2).as("price_sum"))
          .withColumn("clustered", lit(engaged))
      },
      """SELECT count(*) AS n,
        |  CAST(sum(o_orderkey) AS BIGINT) AS key_sum,
        |  round(sum(o_totalprice), 2) AS price_sum, TRUE AS clustered
        |FROM orders
        |WHERE o_orderkey > 2 * (SELECT max(o_orderkey) FROM orders) // 3
        |""".stripMargin),

    // SELF-SYNCING rollup under the oracle gate: the state never sees
    // a CDC batch — it pulls the manifest-diff feed by table VERSION
    // (bootstrap 0→v3, then ONE catch-up pull spanning a copy-on-write
    // merge AND a merge-on-read commit, then an idempotent no-op).
    // The oracle aggregates the SQL-resolved final table; `synced`
    // pins the version arithmetic (3 folded, then 2 in one pull, then
    // 0). A feed that mis-handles the cross-kind window (rewritten
    // survivors not telescoping, dv-masked rows not landing on minus)
    // hash-mismatches.
    "q_rollup_sync" -> QueryDef(
      (s, dir) => withScratchSink(s, "graft_sync_t") { tableSink =>
        withScratchSink(s, "graft_sync_s") { stateSink =>
          val o = table(s, dir, "orders")
            .filter(col("o_orderkey") % 3 === 1)
            .select(
            col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
          val mx = o.agg(max("o_orderkey")).head().getLong(0)
          var lo = Long.MinValue
          for (hi <- Seq(mx / 3, 2 * mx / 3, mx)) {
            AtomicIncrement.appendIncrementAtomic(
              o.filter(col("o_orderkey") > lo && col("o_orderkey") <= hi),
              tableSink, "o_orderkey")
            lo = hi
          }
          val n0 = syncRollup(s, tableSink, stateSink,
            Seq("o_orderstatus"), Seq("o_totalprice"))
          val cut = 2 * mx / 3
          val hot = o.filter(col("o_orderkey") > cut)
          def ch(df: DataFrame, status: org.apache.spark.sql.Column,
              price: org.apache.spark.sql.Column, del: Boolean) =
            df.select(col("o_orderkey"), status.as("o_orderstatus"),
              price.as("o_totalprice"), lit(del).as("del"))
          AtomicIncrement.mergeAtomic(
            ch(hot.filter(col("o_orderkey") % 10 === 0), lit("X"),
              col("o_totalprice") + 100, del = false)
            .unionByName(ch(hot.filter(col("o_orderkey") % 10 === 7),
              col("o_orderstatus"), col("o_totalprice"), del = true)),
            tableSink, "o_orderkey", "del")
          AtomicIncrement.mergeOnReadAtomic(
            ch(hot.filter(col("o_orderkey") % 10 === 3), lit("Y"),
              col("o_totalprice") + 50, del = false)
            .unionByName(ch(hot.filter(col("o_orderkey") % 10 === 1),
              col("o_orderstatus"), col("o_totalprice"), del = true)),
            tableSink, "o_orderkey", "del")
          val n1 = syncRollup(s, tableSink, stateSink,
            Seq("o_orderstatus"), Seq("o_totalprice"))
          val n2 = syncRollup(s, tableSink, stateSink,
            Seq("o_orderstatus"), Seq("o_totalprice"))
          readState(s, stateSink)
            .select(col("o_orderstatus"), col("__n").as("n"),
              round(col("sum_o_totalprice"), 2).as("sum_price"))
            .withColumn("synced", lit(n0 == 3 && n1 == 2 && n2 == 0))
            .orderBy("o_orderstatus")
        }
      },
      """WITH base AS (SELECT o_orderkey, o_orderstatus, o_totalprice
        |              FROM orders WHERE o_orderkey % 3 = 1),
        |cut AS (SELECT 2 * max(o_orderkey) // 3 AS c FROM base),
        |resolved AS (
        |  SELECT o_orderstatus, o_totalprice FROM base, cut
        |  WHERE NOT (o_orderkey > c AND o_orderkey % 10 IN (0, 1, 3, 7))
        |  UNION ALL
        |  SELECT 'X', o_totalprice + 100 FROM base, cut
        |  WHERE o_orderkey > c AND o_orderkey % 10 = 0
        |  UNION ALL
        |  SELECT 'Y', o_totalprice + 50 FROM base, cut
        |  WHERE o_orderkey > c AND o_orderkey % 10 = 3)
        |SELECT o_orderstatus, count(*) AS n,
        |  round(sum(o_totalprice), 2) AS sum_price, TRUE AS synced
        |FROM resolved GROUP BY o_orderstatus
        |ORDER BY o_orderstatus""".stripMargin),

    // STREAMING SOURCE face under the oracle gate (round 15): the
    // exact q_rollup_sync fixture — three appends, a copy-on-write
    // merge, a merge-on-read commit — but the consumer is a REAL
    // `spark.readStream.format("graft-atomic")` subscription: offsets
    // are manifest versions, each micro-batch one change-feed window,
    // foreachBatch folds the signed delta. The oracle aggregates the
    // SQL-resolved final table, so the stream's multiset-delta
    // contract (rewritten survivors telescoping, dv-masked rows
    // landing as deletes) must reproduce the batch resolve EXACTLY.
    // `streamed` pins the window arithmetic: 5 versions under a
    // 2-version admission cap drain in 3 micro-batches (0→2, 2→4,
    // 4→5), and a second run from the same checkpoint fires ZERO
    // batches (the offset log already covers the table).
    "q_stream_source" -> QueryDef(
      (s, dir) => withScratchSink(s, "graft_strm_t") { tableSink =>
        withScratchSink(s, "graft_strm_c") { scratch =>
          val o = table(s, dir, "orders")
            .filter(col("o_orderkey") % 3 === 1)
            .select(
            col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
          val mx = o.agg(max("o_orderkey")).head().getLong(0)
          var lo = Long.MinValue
          for (hi <- Seq(mx / 3, 2 * mx / 3, mx)) {
            AtomicIncrement.appendIncrementAtomic(
              o.filter(col("o_orderkey") > lo && col("o_orderkey") <= hi),
              tableSink, "o_orderkey")
            lo = hi
          }
          val cut = 2 * mx / 3
          val hot = o.filter(col("o_orderkey") > cut)
          def ch(df: DataFrame, status: org.apache.spark.sql.Column,
              price: org.apache.spark.sql.Column, del: Boolean) =
            df.select(col("o_orderkey"), status.as("o_orderstatus"),
              price.as("o_totalprice"), lit(del).as("del"))
          AtomicIncrement.mergeAtomic(
            ch(hot.filter(col("o_orderkey") % 10 === 0), lit("X"),
              col("o_totalprice") + 100, del = false)
            .unionByName(ch(hot.filter(col("o_orderkey") % 10 === 7),
              col("o_orderstatus"), col("o_totalprice"), del = true)),
            tableSink, "o_orderkey", "del")
          AtomicIncrement.mergeOnReadAtomic(
            ch(hot.filter(col("o_orderkey") % 10 === 3), lit("Y"),
              col("o_totalprice") + 50, del = false)
            .unionByName(ch(hot.filter(col("o_orderkey") % 10 === 1),
              col("o_orderstatus"), col("o_totalprice"), del = true)),
            tableSink, "o_orderkey", "del")
          val state = new java.util.concurrent.ConcurrentHashMap[
            String, (Long, Double)]()
          val windows = new java.util.concurrent.atomic.AtomicInteger
          def drain(): Int = {
            val before = windows.get()
            val q = s.readStream.format("graft-atomic")
              .option("path", tableSink)
              .option("maxVersionsPerBatch", "2").load()
              .writeStream
              .option("checkpointLocation", s"$scratch/ckpt")
              .trigger(
                org.apache.spark.sql.streaming.Trigger.AvailableNow())
              .foreachBatch { (df: DataFrame, _: Long) =>
                windows.incrementAndGet()
                df.groupBy("o_orderstatus").agg(
                  sum(when(col("_change_type") === "insert", 1L)
                    .otherwise(-1L)).as("dn"),
                  sum(when(col("_change_type") === "insert",
                    col("o_totalprice")).otherwise(-col("o_totalprice")))
                    .as("ds"))
                  .collect().foreach { r =>
                    state.merge(r.getString(0),
                      (r.getLong(1), r.getDouble(2)),
                      (a, b) => (a._1 + b._1, a._2 + b._2))
                  }
                ()
              }.start()
            q.awaitTermination()
            windows.get() - before
          }
          val n1 = drain() // the full backlog: 3 capped windows
          val n2 = drain() // caught up: zero windows fire
          import scala.jdk.CollectionConverters._
          val folded = state.asScala.toSeq
            .filter { case (_, (n, _)) => n != 0L }
            .map { case (k, (n, sm)) => (k, n, sm) }
          s.createDataFrame(folded)
            .toDF("o_orderstatus", "n", "raw")
            .select(col("o_orderstatus"), col("n"),
              round(col("raw"), 2).as("sum_price"))
            .withColumn("streamed", lit(n1 == 3 && n2 == 0))
            .orderBy("o_orderstatus")
        }
      },
      """WITH base AS (SELECT o_orderkey, o_orderstatus, o_totalprice
        |              FROM orders WHERE o_orderkey % 3 = 1),
        |cut AS (SELECT 2 * max(o_orderkey) // 3 AS c FROM base),
        |resolved AS (
        |  SELECT o_orderstatus, o_totalprice FROM base, cut
        |  WHERE NOT (o_orderkey > c AND o_orderkey % 10 IN (0, 1, 3, 7))
        |  UNION ALL
        |  SELECT 'X', o_totalprice + 100 FROM base, cut
        |  WHERE o_orderkey > c AND o_orderkey % 10 = 0
        |  UNION ALL
        |  SELECT 'Y', o_totalprice + 50 FROM base, cut
        |  WHERE o_orderkey > c AND o_orderkey % 10 = 3)
        |SELECT o_orderstatus, count(*) AS n,
        |  round(sum(o_totalprice), 2) AS sum_price, TRUE AS streamed
        |FROM resolved GROUP BY o_orderstatus
        |ORDER BY o_orderstatus""".stripMargin),

    // MERGE-ON-READ under the oracle gate: two deferred change batches
    // (the second RE-UPSERTS keys the first already moved — only the
    // sequence rule keeps the newest after-image alive) apply with
    // ZERO data-file rewrites (`deferred` pins rewritten == 0 on
    // both), the dv-masked read must equal the SQL resolve, and the
    // compaction that follows must FOLD the tombstones away without
    // moving content (`folded` pins dv lines gone AND the aggregate
    // byte-identical across the fold). The oracle aggregates the
    // resolved final table in one pass.
    "q_merge_deferred" -> QueryDef(
      (s, dir) => withScratchSink(s, "graft_mor") { sink =>
        val o = table(s, dir, "orders")
          .filter(col("o_orderkey") % 3 === 1)
          .select(
          col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
        val mx = o.agg(max("o_orderkey")).head().getLong(0)
        var lo = Long.MinValue
        for (hi <- Seq(mx / 3, 2 * mx / 3, mx)) {
          AtomicIncrement.appendIncrementAtomic(
            o.filter(col("o_orderkey") > lo && col("o_orderkey") <= hi),
            sink, "o_orderkey")
          lo = hi
        }
        val cut = 2 * mx / 3
        val hot = o.filter(col("o_orderkey") > cut)
        val b1 = hot.filter(col("o_orderkey") % 10 === 0)
          .withColumn("o_orderstatus", lit("X"))
          .withColumn("o_totalprice", col("o_totalprice") + 100)
          .withColumn("del", lit(false))
          .unionByName(hot.filter(col("o_orderkey") % 10 === 7)
            .withColumn("del", lit(true)))
        val r1 = AtomicIncrement.mergeOnReadAtomic(b1, sink,
          "o_orderkey", "del")
        val b2 = hot.filter(col("o_orderkey") % 10 === 0)
          .withColumn("o_orderstatus", lit("Y"))
          .withColumn("o_totalprice", col("o_totalprice") + 200)
          .withColumn("del", lit(false))
        val r2 = AtomicIncrement.mergeOnReadAtomic(b2, sink,
          "o_orderkey", "del")
        val deferred = r1.rewritten == 0 && r2.rewritten == 0
        def agg = AtomicIncrement.readCommitted(s, sink)
          .groupBy("o_orderstatus")
          .agg(count(lit(1)).as("n"),
            round(sum("o_totalprice"), 2).as("sum_price"))
          .orderBy("o_orderstatus")
        val preFold = agg.collect().toSeq
        AtomicIncrement.compact(s, sink, numFiles = 4)
        val dvGone = AtomicIncrement.snapshotSplit(s, sink)._3.isEmpty
        val postFold = agg
        val folded = dvGone && postFold.collect().toSeq == preFold
        postFold.withColumn("deferred", lit(deferred))
          .withColumn("folded", lit(folded))
      },
      """WITH base AS (SELECT o_orderkey, o_orderstatus, o_totalprice
        |              FROM orders WHERE o_orderkey % 3 = 1),
        |cut AS (SELECT 2 * max(o_orderkey) // 3 AS c FROM base),
        |resolved AS (
        |  SELECT o_orderstatus, o_totalprice FROM base, cut
        |  WHERE NOT (o_orderkey > c AND o_orderkey % 10 IN (0, 7))
        |  UNION ALL
        |  SELECT 'Y', o_totalprice + 200 FROM base, cut
        |  WHERE o_orderkey > c AND o_orderkey % 10 = 0)
        |SELECT o_orderstatus, count(*) AS n,
        |  round(sum(o_totalprice), 2) AS sum_price,
        |  TRUE AS deferred, TRUE AS folded
        |FROM resolved GROUP BY o_orderstatus
        |ORDER BY o_orderstatus""".stripMargin),

    // The OPTIMIZE ZORDER path under the oracle gate: interleaved
    // loads defeat pruning on BOTH dimensions (every file's interval
    // on each spans the whole domain), then ONE multi-dimensional
    // rewrite must make the same above-the-cut read skip files on
    // EITHER column — which no lexicographic layout can do for the
    // trailing dimension. `zordered` pins all four halves (pruning
    // impossible before on both dims, engaged after on both); the
    // oracle aggregates both cuts from the raw table — layout must be
    // invisible to content.
    "q_optimize_zorder" -> QueryDef(
      (s, dir) => withScratchSink(s, "graft_optz") { sink =>
        val o = table(s, dir, "orders").select(
          col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
        for (r <- 0L to 2L)
          AtomicIncrement.appendIncrementAtomic(
            o.filter(col("o_orderkey") % 3 === r).withColumn("b", lit(r)),
            sink, "b", extraStatsCols = Seq("o_orderkey", "o_custkey"))
        val m = o.agg(max("o_orderkey"), max("o_custkey")).head()
        val cutK = 7 * m.getLong(0) / 8
        val cutC = 7 * m.getLong(1) / 8
        def opened(c: String, cut: Long) = AtomicIncrement
          .readCommittedAbove(s, sink, c, cut).inputFiles.length
        def total = AtomicIncrement.committedFiles(s, sink).size
        val beforeK = opened("o_orderkey", cutK) < total
        val beforeC = opened("o_custkey", cutC) < total
        AtomicIncrement.compactZordered(s, sink,
          "o_orderkey", "o_custkey", numFiles = 16)
        val readK = AtomicIncrement.readCommittedAbove(
          s, sink, "o_orderkey", cutK)
        val readC = AtomicIncrement.readCommittedAbove(
          s, sink, "o_custkey", cutC)
        val engaged = !beforeK && !beforeC &&
          readK.inputFiles.length < total && readC.inputFiles.length < total
        val aggK = readK.filter(col("o_orderkey") > cutK)
          .agg(count(lit(1)).as("n_key"),
            round(sum("o_totalprice"), 2).as("sum_key"))
        val aggC = readC.filter(col("o_custkey") > cutC)
          .agg(count(lit(1)).as("n_cust"),
            round(sum("o_totalprice"), 2).as("sum_cust"))
        aggK.crossJoin(aggC).withColumn("zordered", lit(engaged))
      },
      """WITH ck AS (SELECT 7 * max(o_orderkey) // 8 AS v FROM orders),
        |cc AS (SELECT 7 * max(o_custkey) // 8 AS v FROM orders)
        |SELECT
        |  (SELECT count(*) FROM orders, ck WHERE o_orderkey > v)
        |    AS n_key,
        |  (SELECT round(sum(o_totalprice), 2) FROM orders, ck
        |    WHERE o_orderkey > v) AS sum_key,
        |  (SELECT count(*) FROM orders, cc WHERE o_custkey > v)
        |    AS n_cust,
        |  (SELECT round(sum(o_totalprice), 2) FROM orders, cc
        |    WHERE o_custkey > v) AS sum_cust,
        |  TRUE AS zordered""".stripMargin),

    // The RETRACTION fold under the oracle gate: the rollup
    // initializes from the base load, then the q_merge_upsert change
    // feed moves it by Σ(after-images) − Σ(before-images) — one
    // churn-sized aggregate, never a rescan. The oracle aggregates the
    // SQL-resolved final table in one pass, so a wrong sign, a
    // double-counted update (its before-image not retracted), or a
    // surviving deleted row's contribution all hash-mismatch. The 'X'
    // group exists ONLY through the delta — a fold that ignores new
    // groups drops it.
    "q_incr_agg_cdc" -> QueryDef(
      (s, dir) => withScratchSink(s, "graft_cdcagg") { sink =>
        val o = table(s, dir, "orders").select(
          col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
        mergeCdcBatch(o, o.limit(0), sink,
          Seq("o_orderstatus"), Seq("o_totalprice"), 0L)
        val mx = o.agg(max("o_orderkey")).head().getLong(0)
        val cut = 2 * mx / 3
        val hot = o.filter(col("o_orderkey") > cut)
        val plus = hot.filter(col("o_orderkey") % 10 === 0)
          .select(lit("X").as("o_orderstatus"),
            (col("o_totalprice") + 100).as("o_totalprice"))
        val minus = hot.filter(
          col("o_orderkey") % 10 === 0 || col("o_orderkey") % 10 === 7)
        mergeCdcBatch(plus, minus, sink,
          Seq("o_orderstatus"), Seq("o_totalprice"), 1L)
        readState(s, sink)
          .select(col("o_orderstatus"), col("__n").as("n"),
            round(col("sum_o_totalprice"), 2).as("sum_price"),
            round(col("sum_o_totalprice") / col("__n"), 6).as("avg_price"))
          .orderBy("o_orderstatus")
      },
      """WITH cut AS (SELECT 2 * max(o_orderkey) // 3 AS c FROM orders),
        |final AS (
        |  SELECT o_orderstatus, o_totalprice FROM orders, cut
        |  WHERE NOT (o_orderkey > c AND o_orderkey % 10 IN (0, 7))
        |  UNION ALL
        |  SELECT 'X', o_totalprice + 100 FROM orders, cut
        |  WHERE o_orderkey > c AND o_orderkey % 10 = 0)
        |SELECT o_orderstatus, count(*) AS n,
        |  round(sum(o_totalprice), 2) AS sum_price,
        |  round(sum(o_totalprice) / count(*), 6) AS avg_price
        |FROM final GROUP BY o_orderstatus
        |ORDER BY o_orderstatus""".stripMargin),

    // min/max under RETRACTION — the non-abelian measures
    // q_incr_agg_cdc's fold refuses: the change batch deletes every
    // group's current ARGMAX rows, so the stored max is gone and the
    // new one must re-derive from the churned groups' survivors (state
    // algebra alone cannot answer it); a brand-new group arrives only
    // through the delta. The oracle aggregates the resolved table in
    // one pass — a stale carried max, a missed tie (all argmax rows
    // delete, both sides), or a dropped new group all hash-mismatch.
    "q_incr_agg_minmax" -> QueryDef(
      (s, dir) => withScratchSink(s, "graft_mmagg") { sink =>
        // a third of orders (the q_maintain_cdc fixture discipline):
        // the RETRACTION ALGEBRA is under test, not the volume
        val o = table(s, dir, "orders")
          .filter(col("o_orderkey") % 3 === 1)
          .select(
          col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
        mergeCdcExtremes(o, o.limit(0), o, sink, Seq("o_orderstatus"),
          Seq("o_totalprice"), Seq("o_totalprice"), 0L)
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("o_orderstatus")
        val withMx = o.withColumn("__gmx", max("o_totalprice").over(w))
        val minus = withMx.filter(col("o_totalprice") === col("__gmx"))
          .drop("__gmx")
        val plus = o.filter(col("o_orderkey") % 10 === 3)
          .withColumn("o_orderstatus", lit("X"))
        // the churned groups' post-change rows: survivors + the new
        // group — exactly what the extremes rescan is priced by
        val resolved = withMx.filter(col("o_totalprice") < col("__gmx"))
          .drop("__gmx").unionByName(plus)
        mergeCdcExtremes(plus, minus, resolved, sink,
          Seq("o_orderstatus"), Seq("o_totalprice"),
          Seq("o_totalprice"), 1L)
        readState(s, sink)
          .select(col("o_orderstatus"), col("__n").as("n"),
            round(col("sum_o_totalprice"), 2).as("sum_price"),
            col("min_o_totalprice").as("min_price"),
            col("max_o_totalprice").as("max_price"))
          .orderBy("o_orderstatus")
      },
      """WITH base AS (SELECT o_orderkey, o_orderstatus, o_totalprice
        |              FROM orders WHERE o_orderkey % 3 = 1),
        |ranked AS (
        |  SELECT o_orderstatus, o_totalprice,
        |    max(o_totalprice) OVER (PARTITION BY o_orderstatus) AS gmx
        |  FROM base),
        |resolved AS (
        |  SELECT o_orderstatus, o_totalprice FROM ranked
        |  WHERE o_totalprice < gmx
        |  UNION ALL
        |  SELECT 'X' AS o_orderstatus, o_totalprice FROM base
        |  WHERE o_orderkey % 10 = 3)
        |SELECT o_orderstatus, count(*) AS n,
        |  round(sum(o_totalprice), 2) AS sum_price,
        |  min(o_totalprice) AS min_price, max(o_totalprice) AS max_price
        |FROM resolved GROUP BY o_orderstatus
        |ORDER BY o_orderstatus""".stripMargin),

    // EXACT COUNT(DISTINCT) under retraction via the two-level state:
    // the child rollup holds one multiplicity row per (status,
    // custkey) pair, deletes decrement it, and the distinct count is
    // the child state's per-group row count. The oracle computes
    // count(DISTINCT) over the resolved table — a pair surviving its
    // last retraction (multiplicity accounting wrong) or a distinct
    // count derived from anything but the pair rows hash-mismatches.
    "q_incr_agg_distinct" -> QueryDef(
      (s, dir) => withScratchSink(s, "graft_distagg") { sink =>
        val o = table(s, dir, "orders").select(
          col("o_orderkey"), col("o_orderstatus"), col("o_custkey"))
        mergeCdcDistinct(o, o.limit(0), sink,
          Seq("o_orderstatus"), "o_custkey", 0L)
        val minus = o.filter(col("o_orderkey") % 10 === 7)
        val plus = o.filter(col("o_orderkey") % 10 === 3)
          .withColumn("o_orderstatus", lit("X"))
        mergeCdcDistinct(plus, minus, sink,
          Seq("o_orderstatus"), "o_custkey", 1L)
        readDistinct(s, sink, Seq("o_orderstatus"), "o_custkey")
          .withColumnRenamed("distinct_o_custkey", "n_cust")
          .orderBy("o_orderstatus")
      },
      """WITH resolved AS (
        |  SELECT o_orderstatus, o_custkey FROM orders
        |  WHERE o_orderkey % 10 <> 7
        |  UNION ALL
        |  SELECT 'X' AS o_orderstatus, o_custkey FROM orders
        |  WHERE o_orderkey % 10 = 3)
        |SELECT o_orderstatus, count(DISTINCT o_custkey) AS n_cust
        |FROM resolved GROUP BY o_orderstatus
        |ORDER BY o_orderstatus""".stripMargin),

    // CHANGE DATA FEED under the oracle gate: the downstream rollup
    // never sees the upstream CDC batch — it folds ONLY the manifest
    // file-diff frames changesBetween derives (bootstrap 0→v1, then
    // v1→v2 across a copy-on-write merge). Rewritten files put their
    // survivors on BOTH sides of the feed, so the fold's telescoping
    // must cancel them exactly; `diffed` pins the feed really is
    // file-grained (the minus side carries MORE rows than the churn —
    // a row-level feed would flip it). The oracle aggregates the
    // SQL-resolved final table in one pass.
    "q_change_feed" -> QueryDef(
      (s, dir) => withScratchSink(s, "graft_cdf_tab") { tableSink =>
        withScratchSink(s, "graft_cdf_state") { stateSink =>
          val o = table(s, dir, "orders").select(
            col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
          val mx = o.agg(max("o_orderkey")).head().getLong(0)
          var lo = Long.MinValue
          for (hi <- Seq(mx / 3, 2 * mx / 3, mx)) {
            AtomicIncrement.appendIncrementAtomic(
              o.filter(col("o_orderkey") > lo && col("o_orderkey") <= hi),
              tableSink, "o_orderkey")
            lo = hi
          }
          val v1 = AtomicIncrement.snapshot(s, tableSink)._1
          val (p0, m0) = AtomicIncrement.changesBetween(s, tableSink, 0L, v1)
          mergeCdcBatch(p0.select("o_orderstatus", "o_totalprice"),
            m0.select("o_orderstatus", "o_totalprice"),
            stateSink, Seq("o_orderstatus"), Seq("o_totalprice"), 0L)
          val cut = 2 * mx / 3
          val hot = o.filter(col("o_orderkey") > cut)
          val changes = hot.filter(col("o_orderkey") % 10 === 0)
            .withColumn("o_orderstatus", lit("X"))
            .withColumn("o_totalprice", col("o_totalprice") + 100)
            .withColumn("del", lit(false))
            .unionByName(hot.filter(col("o_orderkey") % 10 === 7)
              .withColumn("del", lit(true)))
          AtomicIncrement.mergeAtomic(changes, tableSink,
            "o_orderkey", "del")
          val v2 = AtomicIncrement.snapshot(s, tableSink)._1
          val (plus, minus) =
            AtomicIncrement.changesBetween(s, tableSink, v1, v2)
          val fileGrained = minus.count() > changes.count()
          mergeCdcBatch(plus.select("o_orderstatus", "o_totalprice"),
            minus.select("o_orderstatus", "o_totalprice"),
            stateSink, Seq("o_orderstatus"), Seq("o_totalprice"), 1L)
          readState(s, stateSink)
            .select(col("o_orderstatus"), col("__n").as("n"),
              round(col("sum_o_totalprice"), 2).as("sum_price"))
            .withColumn("diffed", lit(fileGrained))
            .orderBy("o_orderstatus")
        }
      },
      """WITH cut AS (SELECT 2 * max(o_orderkey) // 3 AS c FROM orders),
        |resolved AS (
        |  SELECT o_orderstatus, o_totalprice FROM orders, cut
        |  WHERE NOT (o_orderkey > c AND o_orderkey % 10 IN (0, 7))
        |  UNION ALL
        |  SELECT 'X', o_totalprice + 100 FROM orders, cut
        |  WHERE o_orderkey > c AND o_orderkey % 10 = 0)
        |SELECT o_orderstatus, count(*) AS n,
        |  round(sum(o_totalprice), 2) AS sum_price, TRUE AS diffed
        |FROM resolved GROUP BY o_orderstatus
        |ORDER BY o_orderstatus""".stripMargin),

    // OPTIMIZE ZORDER with a STRING dimension (round 14): the hot keys
    // of the reference's conformed tables are UUID strings, so the
    // multi-dimensional layout must grid a string column too. The
    // string key is a constant-prefixed zero-padded form of the order
    // key (so DuckDB can derive it), which also pins the adaptive
    // prefix-stripping: a grid over the RAW first characters would
    // see the constant "o-0" on every row and never discriminate —
    // pruning engaging on the string dim proves the common prefix was
    // stripped before bucketing. Interleaved loads defeat pruning on
    // both dims before the rewrite; `zordered` pins impossible-before
    // + engaged-after on the string AND the integral dimension; the
    // oracle aggregates both cuts from the raw table.
    "q_optimize_zorder_str" -> QueryDef(
      (s, dir) => withScratchSink(s, "graft_optzs") { sink =>
        val o = table(s, dir, "orders").select(
          concat(lit("o-"),
            lpad(col("o_orderkey").cast("string"), 12, "0")).as("okey"),
          col("o_custkey"), col("o_totalprice"), col("o_orderkey"))
        for (r <- 0L to 2L)
          AtomicIncrement.appendIncrementAtomic(
            o.filter(col("o_orderkey") % 3 === r).drop("o_orderkey")
              .withColumn("b", lit(r)),
            sink, "b", extraStatsCols = Seq("okey", "o_custkey"))
        val m = table(s, dir, "orders")
          .agg(max("o_orderkey"), max("o_custkey")).head()
        val cutK = "o-" + "%012d".format(7 * m.getLong(0) / 8)
        val cutC = 7 * m.getLong(1) / 8
        def total = AtomicIncrement.committedFiles(s, sink).size
        val beforeK = AtomicIncrement.readCommittedAboveStr(
          s, sink, "okey", cutK).inputFiles.length < total
        val beforeC = AtomicIncrement.readCommittedAbove(
          s, sink, "o_custkey", cutC).inputFiles.length < total
        AtomicIncrement.compactZordered(s, sink,
          Seq("okey", "o_custkey"), 16)
        val readK = AtomicIncrement.readCommittedAboveStr(
          s, sink, "okey", cutK)
        val readC = AtomicIncrement.readCommittedAbove(
          s, sink, "o_custkey", cutC)
        val engaged = !beforeK && !beforeC &&
          readK.inputFiles.length < total &&
          readC.inputFiles.length < total
        val aggK = readK.filter(col("okey") > cutK)
          .agg(count(lit(1)).as("n_key"),
            round(sum("o_totalprice"), 2).as("sum_key"))
        val aggC = readC.filter(col("o_custkey") > cutC)
          .agg(count(lit(1)).as("n_cust"),
            round(sum("o_totalprice"), 2).as("sum_cust"))
        aggK.crossJoin(aggC).withColumn("zordered", lit(engaged))
      },
      """WITH ck AS (SELECT 'o-' || lpad(CAST(7 * max(o_orderkey) // 8
        |    AS VARCHAR), 12, '0') AS v FROM orders),
        |cc AS (SELECT 7 * max(o_custkey) // 8 AS v FROM orders)
        |SELECT
        |  (SELECT count(*) FROM orders, ck
        |    WHERE 'o-' || lpad(CAST(o_orderkey AS VARCHAR), 12, '0') > v)
        |    AS n_key,
        |  (SELECT round(sum(o_totalprice), 2) FROM orders, ck
        |    WHERE 'o-' || lpad(CAST(o_orderkey AS VARCHAR), 12, '0') > v)
        |    AS sum_key,
        |  (SELECT count(*) FROM orders, cc WHERE o_custkey > v)
        |    AS n_cust,
        |  (SELECT round(sum(o_totalprice), 2) FROM orders, cc
        |    WHERE o_custkey > v) AS sum_cust,
        |  TRUE AS zordered""".stripMargin),

    // The deletion-capable SKETCH distinct beside the exact path
    // (round 14): the same retraction feed drives BOTH states — the
    // exact two-level multiplicity rollup and the linear-counting
    // sketch — and the output pins the sketch INSIDE its error band
    // against the exact count per group (`within_5pct`; the
    // estimator's expected error at this m and these cardinalities is
    // under 1%, so the 5% band is conservative, and xxhash64 makes it
    // deterministic). The exact counts also ride the row, so the
    // oracle's count(DISTINCT) gates both states at once: a bucket
    // surviving its last retraction breaks the band, a wrong exact
    // multiplicity breaks the counts.
    "q_incr_agg_distinct_approx" -> QueryDef(
      (s, dir) => withScratchSink(s, "graft_dexact") { exactSink =>
        withScratchSink(s, "graft_dsketch") { sketchSink =>
          val o = table(s, dir, "orders").select(
            col("o_orderkey"), col("o_orderstatus"), col("o_custkey"))
          // disjoint sinks — overlap each batch's two folds (§2.6)
          inParallel2(
            mergeCdcDistinct(o, o.limit(0), exactSink,
              Seq("o_orderstatus"), "o_custkey", 0L),
            mergeCdcDistinctApprox(o, o.limit(0), sketchSink,
              Seq("o_orderstatus"), "o_custkey", 0L))
          val minus = o.filter(col("o_orderkey") % 10 === 7)
          val plus = o.filter(col("o_orderkey") % 10 === 3)
            .withColumn("o_orderstatus", lit("X"))
          inParallel2(
            mergeCdcDistinct(plus, minus, exactSink,
              Seq("o_orderstatus"), "o_custkey", 1L),
            mergeCdcDistinctApprox(plus, minus, sketchSink,
              Seq("o_orderstatus"), "o_custkey", 1L))
          readDistinct(s, exactSink, Seq("o_orderstatus"), "o_custkey")
            .join(readDistinctApprox(s, sketchSink,
              Seq("o_orderstatus")), Seq("o_orderstatus"))
            .select(col("o_orderstatus"),
              col("distinct_o_custkey").as("n_cust"),
              (abs(col("distinct_est") - col("distinct_o_custkey")) <=
                greatest(lit(1.0),
                  col("distinct_o_custkey") * 0.05)).as("within_5pct"))
            .orderBy("o_orderstatus")
        }
      },
      """WITH resolved AS (
        |  SELECT o_orderstatus, o_custkey FROM orders
        |  WHERE o_orderkey % 10 <> 7
        |  UNION ALL
        |  SELECT 'X' AS o_orderstatus, o_custkey FROM orders
        |  WHERE o_orderkey % 10 = 3)
        |SELECT o_orderstatus, count(DISTINCT o_custkey) AS n_cust,
        |  TRUE AS within_5pct
        |FROM resolved GROUP BY o_orderstatus
        |ORDER BY o_orderstatus""".stripMargin),

    // Retractable TOP-K under the oracle gate (round 14): the
    // (group, value) multiplicity state bootstraps from orders, one
    // CDC batch retracts every %10==7 order and re-homes %10==3
    // under a new group, and the per-status top-3 customers BY
    // SURVIVING ORDER COUNT must match the oracle's window over the
    // resolved feed — deterministic tie-break (count desc, customer
    // asc) pinned on both engines. A multiplicity that survives its
    // retraction re-ranks the tail and hash-mismatches.
    "q_incr_agg_topk" -> QueryDef(
      (s, dir) => withScratchSink(s, "graft_topk") { sink =>
        val o = table(s, dir, "orders").select(
          col("o_orderkey"), col("o_orderstatus"), col("o_custkey"))
        mergeCdcDistinct(o, o.limit(0), sink,
          Seq("o_orderstatus"), "o_custkey", 0L)
        val minus = o.filter(col("o_orderkey") % 10 === 7)
        val plus = o.filter(col("o_orderkey") % 10 === 3)
          .withColumn("o_orderstatus", lit("X"))
        mergeCdcDistinct(plus, minus, sink,
          Seq("o_orderstatus"), "o_custkey", 1L)
        readTopK(s, sink, Seq("o_orderstatus"), "o_custkey", 3)
          .orderBy("o_orderstatus", "rank")
      },
      """WITH resolved AS (
        |  SELECT o_orderstatus, o_custkey FROM orders
        |  WHERE o_orderkey % 10 <> 7
        |  UNION ALL
        |  SELECT 'X' AS o_orderstatus, o_custkey FROM orders
        |  WHERE o_orderkey % 10 = 3),
        |counted AS (
        |  SELECT o_orderstatus, o_custkey, count(*) AS cnt
        |  FROM resolved GROUP BY o_orderstatus, o_custkey),
        |ranked AS (
        |  SELECT o_orderstatus, o_custkey, cnt,
        |    CAST(row_number() OVER (PARTITION BY o_orderstatus
        |      ORDER BY cnt DESC, o_custkey) AS INT) AS rank
        |  FROM counted)
        |SELECT o_orderstatus, o_custkey, cnt, rank FROM ranked
        |WHERE rank <= 3
        |ORDER BY o_orderstatus, rank""".stripMargin),

    // END-TO-END CDC REPLICATION under the oracle gate (round 15):
    // the streaming SOURCE face reads table A's row-level change feed
    // (insert/delete/update images classified by key) and the
    // streaming SINK face applies it to table B as per-batch
    // copy-on-write merges — `readStream(A) → writeStream(B)` through
    // public APIs, the loop every lakehouse replication product
    // closes. The oracle aggregates the SQL-resolved upstream;
    // `replicated` pins that a second catch-up run moves NOTHING
    // (version-idempotent) and that B's version count shows the
    // bootstrap-then-merge shape. A survivor riding the feed
    // un-telescoped, a preimage applied as an upsert, or a delete
    // dropped by the sink all hash-mismatch.
    "q_stream_replicate" -> QueryDef(
      (s, dir) => withScratchSink(s, "graft_repa") { tableA =>
        withScratchSink(s, "graft_repb") { scratch =>
          val o = table(s, dir, "orders")
            .filter(col("o_orderkey") % 3 === 1)
            .select(
            col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
          val mx = o.agg(max("o_orderkey")).head().getLong(0)
          var lo = Long.MinValue
          for (hi <- Seq(mx / 3, 2 * mx / 3, mx)) {
            AtomicIncrement.appendIncrementAtomic(
              o.filter(col("o_orderkey") > lo && col("o_orderkey") <= hi),
              tableA, "o_orderkey")
            lo = hi
          }
          val cut = 2 * mx / 3
          val hot = o.filter(col("o_orderkey") > cut)
          def ch(df: DataFrame, status: org.apache.spark.sql.Column,
              price: org.apache.spark.sql.Column, del: Boolean) =
            df.select(col("o_orderkey"), status.as("o_orderstatus"),
              price.as("o_totalprice"), lit(del).as("del"))
          AtomicIncrement.mergeAtomic(
            ch(hot.filter(col("o_orderkey") % 10 === 0), lit("X"),
              col("o_totalprice") + 100, del = false)
            .unionByName(ch(hot.filter(col("o_orderkey") % 10 === 7),
              col("o_orderstatus"), col("o_totalprice"), del = true)),
            tableA, "o_orderkey", "del")
          AtomicIncrement.mergeOnReadAtomic(
            ch(hot.filter(col("o_orderkey") % 10 === 3), lit("Y"),
              col("o_totalprice") + 50, del = false)
            .unionByName(ch(hot.filter(col("o_orderkey") % 10 === 1),
              col("o_orderstatus"), col("o_totalprice"), del = true)),
            tableA, "o_orderkey", "del")
          val tableB = s"$scratch/b"
          def replicate(): Unit = {
            val q = s.readStream.format("graft-atomic")
              .option("path", tableA).option("rowLevel", "true")
              .option("keyCol", "o_orderkey").load()
              .filter(col("_change_type") =!= "update_preimage")
              .withColumn("del", col("_change_type") === "delete")
              .drop("_change_type", "_commit_version")
              .writeStream.format("graft-atomic")
              .option("path", tableB).option("keyCol", "o_orderkey")
              .option("deleteCol", "del")
              .option("checkpointLocation", s"$scratch/ckpt")
              .outputMode(
                org.apache.spark.sql.streaming.OutputMode.Update())
              .trigger(
                org.apache.spark.sql.streaming.Trigger.AvailableNow())
              .start()
            q.awaitTermination()
          }
          replicate()
          val vb = AtomicIncrement.snapshot(s, tableB)._1
          replicate() // caught up: nothing may move
          val idem = AtomicIncrement.snapshot(s, tableB)._1 == vb
          AtomicIncrement.readCommitted(s, tableB)
            .groupBy("o_orderstatus")
            .agg(count(lit(1)).as("n"),
              round(sum("o_totalprice"), 2).as("sum_price"))
            .withColumn("replicated", lit(idem && vb >= 1))
            .orderBy("o_orderstatus")
        }
      },
      """WITH base AS (SELECT o_orderkey, o_orderstatus, o_totalprice
        |              FROM orders WHERE o_orderkey % 3 = 1),
        |cut AS (SELECT 2 * max(o_orderkey) // 3 AS c FROM base),
        |resolved AS (
        |  SELECT o_orderstatus, o_totalprice FROM base, cut
        |  WHERE NOT (o_orderkey > c AND o_orderkey % 10 IN (0, 1, 3, 7))
        |  UNION ALL
        |  SELECT 'X', o_totalprice + 100 FROM base, cut
        |  WHERE o_orderkey > c AND o_orderkey % 10 = 0
        |  UNION ALL
        |  SELECT 'Y', o_totalprice + 50 FROM base, cut
        |  WHERE o_orderkey > c AND o_orderkey % 10 = 3)
        |SELECT o_orderstatus, count(*) AS n,
        |  round(sum(o_totalprice), 2) AS sum_price, TRUE AS replicated
        |FROM resolved GROUP BY o_orderstatus
        |ORDER BY o_orderstatus""".stripMargin),

    // The BOUNDED-state TOP-K twin under the oracle gate (round 15):
    // the same retraction feed drives the exact pair state AND the
    // count-min + candidate-pool sketch, with the heavy-hitter value
    // deliberately skewed (lowest set bit of o_custkey — geometric
    // frequency gaps, the workload the sketch is FOR). The sketch's
    // per-status top-3 must reproduce the oracle's exact ranking
    // (estimate-ranked, same tie-break), each reported count is the
    // EXACT path's (gating both states at once), and `within_band`
    // pins the CM guarantee — estimate ≥ exact, excess ≤ max(1, εN)
    // — which retraction must not loosen. The pool cap (12 < ~20
    // distinct values) forces real pruning in-query.
    "q_incr_agg_topk_approx" -> QueryDef(
      (s, dir) => withScratchSink(s, "graft_tkexact") { exactSink =>
        withScratchSink(s, "graft_tksketch") { sketchSink =>
          val o = table(s, dir, "orders").select(
            col("o_orderkey"), col("o_orderstatus"),
            (col("o_custkey").bitwiseAND(-col("o_custkey"))).as("hh"))
          // the exact pair state and the sketch live in DISJOINT sinks
          // — overlap each batch's two folds (guide §2.6); batches
          // stay ordered within every sink
          inParallel2(
            mergeCdcDistinct(o, o.limit(0), exactSink,
              Seq("o_orderstatus"), "hh", 0L),
            mergeCdcTopKSketch(o, o.limit(0), sketchSink,
              Seq("o_orderstatus"), "hh", 0L, k = 3))
          val minus = o.filter(col("o_orderkey") % 10 === 7)
          val plus = o.filter(col("o_orderkey") % 10 === 3)
            .withColumn("o_orderstatus", lit("X"))
          inParallel2(
            mergeCdcDistinct(plus, minus, exactSink,
              Seq("o_orderstatus"), "hh", 1L),
            mergeCdcTopKSketch(plus, minus, sketchSink,
              Seq("o_orderstatus"), "hh", 1L, k = 3))
          val exact = readState(s, exactSink)
            .select(col("o_orderstatus"), col("hh"),
              col("__n").as("cnt"))
          val tot = exact.groupBy("o_orderstatus")
            .agg(sum("cnt").as("__tot"))
          readTopKSketch(s, sketchSink, Seq("o_orderstatus"), "hh", 3)
            .join(exact, Seq("o_orderstatus", "hh"))
            .join(tot, Seq("o_orderstatus"))
            .select(col("o_orderstatus"), col("hh"), col("cnt"),
              col("rank"),
              (col("cnt_est") >= col("cnt") &&
                (col("cnt_est") - col("cnt")) <=
                  greatest(lit(1.0), col("__tot") * (math.E / 2048.0)))
                .as("within_band"))
            .orderBy("o_orderstatus", "rank")
        }
      },
      """WITH resolved AS (
        |  SELECT o_orderstatus, o_custkey & -o_custkey AS hh
        |  FROM orders WHERE o_orderkey % 10 <> 7
        |  UNION ALL
        |  SELECT 'X' AS o_orderstatus, o_custkey & -o_custkey AS hh
        |  FROM orders WHERE o_orderkey % 10 = 3),
        |counted AS (
        |  SELECT o_orderstatus, hh, count(*) AS cnt
        |  FROM resolved GROUP BY o_orderstatus, hh),
        |ranked AS (
        |  SELECT o_orderstatus, hh, cnt,
        |    CAST(row_number() OVER (PARTITION BY o_orderstatus
        |      ORDER BY cnt DESC, hh) AS INT) AS rank
        |  FROM counted)
        |SELECT o_orderstatus, hh, cnt, rank, TRUE AS within_band
        |FROM ranked WHERE rank <= 3
        |ORDER BY o_orderstatus, rank""".stripMargin),

    // The DYADIC-RANGE top-k twin under the oracle gate (round 16,
    // closing the pooled sketch's documented one-sidedness): the same
    // skewed retraction feed, but the state is 16 level-wise CM
    // sketches over the value's radix-16 prefix tree and the read is
    // a BEAM DESCENT that recovers the current heavy hitters from
    // state alone — no candidate pool, so a value promoted purely by
    // OTHERS' retraction surfaces by construction (TopKSketchSpec
    // constructs that exact promotion; here the oracle pins the full
    // exact ranking + the CM band on the deep retraction feed).
    "q_incr_agg_topk_dyadic" -> QueryDef(
      (s, dir) => withScratchSink(s, "graft_tkdyexact") { exactSink =>
        withScratchSink(s, "graft_tkdysketch") { sketchSink =>
          val o = table(s, dir, "orders").select(
            col("o_orderkey"), col("o_orderstatus"),
            (col("o_custkey").bitwiseAND(-col("o_custkey"))).as("hh"))
          // radixBits = 8 (round-17 optimization): the stride SCALING.md
          // "dyadic radix" measured at fold 0.68×/read 0.57× — half the
          // levels × depth cells per row, half the beam's window stages.
          // The CM band and the exact ranking are unchanged (the oracle
          // pins both at sf0.001/0.01/0.1); radix-16 stays the API
          // default and keeps its spec coverage (TopKSketchSpec).
          // disjoint sinks — overlap each batch's two folds (§2.6)
          inParallel2(
            mergeCdcDistinct(o, o.limit(0), exactSink,
              Seq("o_orderstatus"), "hh", 0L),
            mergeCdcTopKDyadic(o, o.limit(0), sketchSink,
              Seq("o_orderstatus"), "hh", 0L, radixBits = 8))
          val minus = o.filter(col("o_orderkey") % 10 === 7)
          val plus = o.filter(col("o_orderkey") % 10 === 3)
            .withColumn("o_orderstatus", lit("X"))
          inParallel2(
            mergeCdcDistinct(plus, minus, exactSink,
              Seq("o_orderstatus"), "hh", 1L),
            mergeCdcTopKDyadic(plus, minus, sketchSink,
              Seq("o_orderstatus"), "hh", 1L, radixBits = 8))
          val exact = readState(s, exactSink)
            .select(col("o_orderstatus"), col("hh"),
              col("__n").as("cnt"))
          val tot = exact.groupBy("o_orderstatus")
            .agg(sum("cnt").as("__tot"))
          readTopKDyadic(s, sketchSink, Seq("o_orderstatus"), "hh", 3,
            radixBits = 8)
            .join(exact, Seq("o_orderstatus", "hh"))
            .join(tot, Seq("o_orderstatus"))
            .select(col("o_orderstatus"), col("hh"), col("cnt"),
              col("rank"),
              (col("cnt_est") >= col("cnt") &&
                (col("cnt_est") - col("cnt")) <=
                  greatest(lit(1.0), col("__tot") * (math.E / 2048.0)))
                .as("within_band"))
            .orderBy("o_orderstatus", "rank")
        }
      },
      """WITH resolved AS (
        |  SELECT o_orderstatus, o_custkey & -o_custkey AS hh
        |  FROM orders WHERE o_orderkey % 10 <> 7
        |  UNION ALL
        |  SELECT 'X' AS o_orderstatus, o_custkey & -o_custkey AS hh
        |  FROM orders WHERE o_orderkey % 10 = 3),
        |counted AS (
        |  SELECT o_orderstatus, hh, count(*) AS cnt
        |  FROM resolved GROUP BY o_orderstatus, hh),
        |ranked AS (
        |  SELECT o_orderstatus, hh, cnt,
        |    CAST(row_number() OVER (PARTITION BY o_orderstatus
        |      ORDER BY cnt DESC, hh) AS INT) AS rank
        |  FROM counted)
        |SELECT o_orderstatus, hh, cnt, rank, TRUE AS within_band
        |FROM ranked WHERE rank <= 3
        |ORDER BY o_orderstatus, rank""".stripMargin),

    // ANY-DOMAIN dyadic top-k under the oracle gate (round 17,
    // closing the integral-only boundary): the same two-batch
    // retraction fixture as q_incr_agg_topk_dyadic, but the value is
    // a STRING ('p' + the power-of-two hh, geometric counts so ranks
    // are noise-separated) — the sketch folds over xxhash64(word),
    // the companion dictionary refcounts (domain, word) pairs, and
    // the read recovers the actual strings via the live dictionary.
    // The oracle replays both batches relationally and ranks by
    // exact count; a stale dictionary recovery, a hash-domain fold
    // drift, or a collision silently dropping a value all
    // hash-mismatch (`within_band` pins the CM error bound too).
    "q_incr_agg_topk_str" -> QueryDef(
      (s, dir) => withScratchSink(s, "graft_tkstrex") { exactSink =>
        withScratchSink(s, "graft_tkstrsk") { sketchSink =>
          val o = table(s, dir, "orders").select(
            col("o_orderkey"), col("o_orderstatus"),
            concat(lit("p"), (col("o_custkey")
              .bitwiseAND(-col("o_custkey"))).cast("string")).as("word"))
          // radixBits = 8: the measured-better stride for
          // fold-dominated fixtures (SCALING.md "dyadic radix") — the
          // radix-16 default stays pinned by q_incr_agg_topk_dyadic
          // disjoint sinks — overlap each batch's two folds (§2.6)
          inParallel2(
            mergeCdcDistinct(o, o.limit(0), exactSink,
              Seq("o_orderstatus"), "word", 0L),
            mergeCdcTopKAny(o, o.limit(0), sketchSink,
              Seq("o_orderstatus"), "word", 0L, radixBits = 8))
          val minus = o.filter(col("o_orderkey") % 10 === 7)
          val plus = o.filter(col("o_orderkey") % 10 === 3)
            .withColumn("o_orderstatus", lit("X"))
          inParallel2(
            mergeCdcDistinct(plus, minus, exactSink,
              Seq("o_orderstatus"), "word", 1L),
            mergeCdcTopKAny(plus, minus, sketchSink,
              Seq("o_orderstatus"), "word", 1L, radixBits = 8))
          val exact = readState(s, exactSink)
            .select(col("o_orderstatus"), col("word"),
              col("__n").as("cnt"))
          val tot = exact.groupBy("o_orderstatus")
            .agg(sum("cnt").as("__tot"))
          readTopKAny(s, sketchSink, Seq("o_orderstatus"), "word", 3,
            radixBits = 8)
            .join(exact, Seq("o_orderstatus", "word"))
            .join(tot, Seq("o_orderstatus"))
            .select(col("o_orderstatus"), col("word"), col("cnt"),
              col("rank"),
              (col("cnt_est") >= col("cnt") &&
                (col("cnt_est") - col("cnt")) <=
                  greatest(lit(1.0), col("__tot") * (math.E / 2048.0)))
                .as("within_band"))
            .orderBy("o_orderstatus", "rank")
        }
      },
      """WITH resolved AS (
        |  SELECT o_orderstatus,
        |    'p' || CAST(o_custkey & -o_custkey AS VARCHAR) AS word
        |  FROM orders WHERE o_orderkey % 10 <> 7
        |  UNION ALL
        |  SELECT 'X' AS o_orderstatus,
        |    'p' || CAST(o_custkey & -o_custkey AS VARCHAR) AS word
        |  FROM orders WHERE o_orderkey % 10 = 3),
        |counted AS (
        |  SELECT o_orderstatus, word, count(*) AS cnt
        |  FROM resolved GROUP BY o_orderstatus, word),
        |ranked AS (
        |  SELECT o_orderstatus, word, cnt,
        |    CAST(row_number() OVER (PARTITION BY o_orderstatus
        |      ORDER BY cnt DESC, word) AS INT) AS rank
        |  FROM counted)
        |SELECT o_orderstatus, word, cnt, rank, TRUE AS within_band
        |FROM ranked WHERE rank <= 3
        |ORDER BY o_orderstatus, rank""".stripMargin),

    // Retractable QUANTILE rollup under the oracle gate (round 14):
    // histogram state bootstraps from the full orders load, then one
    // CDC batch retracts every %10==7 key and inserts %10==3 copies
    // under a new group — and the read-time median must stay within
    // the pinned TWO-BIN band of the exact DISCRETE median (the
    // rank-ceil(n/2) order statistic). The discrete quantile is the
    // right referent at EVERY density: readQuantile locates exactly
    // the bin that order statistic falls in (counts are exact) and
    // interpolates inside it, so |est − disc| ≤ one width by
    // construction — whereas Spark's interpolating percentile()
    // averages the two middle order stats, which sparse data can
    // place in bins arbitrarily far apart (measured: every group
    // fails the band at sf0.001 against percentile(), round 16).
    // `n` is the state's exact surviving count — a bucket surviving
    // its retraction, a clamp bin miscounting, or a cumulative-rank
    // off-by-one all hash-mismatch.
    "q_incr_agg_quantile" -> QueryDef(
      (s, dir) => withScratchSink(s, "graft_qhist") { sink =>
        val o = table(s, dir, "orders").select(
          col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
        val (lo, hi, bins) = (0.0, 640000.0, 6400) // w = 100
        mergeCdcQuantile(o, o.limit(0), sink, Seq("o_orderstatus"),
          "o_totalprice", lo, hi, bins, 0L)
        val minus = o.filter(col("o_orderkey") % 10 === 7)
        val plus = o.filter(col("o_orderkey") % 10 === 3)
          .withColumn("o_orderstatus", lit("X"))
        mergeCdcQuantile(plus, minus, sink, Seq("o_orderstatus"),
          "o_totalprice", lo, hi, bins, 1L)
        val resolved = o.filter(col("o_orderkey") % 10 =!= 7)
          .unionByName(plus)
        // discrete median: the smallest value whose cumulative count
        // reaches ceil(0.5·n) — the same rank convention readQuantile's
        // `__cum >= __tot * q` bin hit uses
        val grpWin = org.apache.spark.sql.expressions.Window
          .partitionBy("o_orderstatus")
        val exact = resolved
          .withColumn("__r",
            row_number().over(grpWin.orderBy("o_totalprice")))
          .withColumn("__n", count(lit(1)).over(grpWin))
          .filter(col("__r") === ceil(col("__n") * 0.5))
          .select(col("o_orderstatus"), col("o_totalprice").as("p50"))
        readQuantile(s, sink, Seq("o_orderstatus"), 0.5, lo, hi, bins)
          .join(exact, Seq("o_orderstatus"))
          .select(col("o_orderstatus"), col("n"),
            (abs(col("quantile_est") - col("p50")) <=
              lit(2 * (hi - lo) / bins)).as("within_band"))
          .orderBy("o_orderstatus")
      },
      """WITH resolved AS (
        |  SELECT o_orderstatus, o_totalprice FROM orders
        |  WHERE o_orderkey % 10 <> 7
        |  UNION ALL
        |  SELECT 'X' AS o_orderstatus, o_totalprice FROM orders
        |  WHERE o_orderkey % 10 = 3)
        |SELECT o_orderstatus, count(*) AS n, TRUE AS within_band
        |FROM resolved GROUP BY o_orderstatus
        |ORDER BY o_orderstatus""".stripMargin),

    // INCREMENTAL small-file compaction under the oracle gate (round
    // 14): one well-formed big file + six small append files — the
    // debt a steady cadence accretes — and compactSmall must bin-pack
    // ONLY the six (the big file's manifest line rides byte-identical:
    // `carried` pins its path survives) into targetFiles, cluster-
    // preserving so the key-range read still prunes afterwards
    // (`packed` pins (6 rewritten, 2 staged) + pruning engaged). The
    // oracle aggregates the raw table — packing must be invisible to
    // content. The full-snapshot OPTIMIZE shapes are q_optimize_*'s
    // fixtures; this is the between-rewrites maintenance price.
    "q_optimize_small" -> QueryDef(
      (s, dir) => withScratchSink(s, "graft_optsm") { sink =>
        val o = table(s, dir, "orders").select(
          col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
        val mx = o.agg(max("o_orderkey")).head().getLong(0)
        val cut = 2 * mx / 3
        AtomicIncrement.appendIncrementAtomic(
          o.filter(col("o_orderkey") <= cut).repartition(1),
          sink, "o_orderkey")
        var lo = cut
        for (i <- 1 to 6) {
          val hi = if (i == 6) mx else cut + i * (mx - cut) / 6
          AtomicIncrement.appendIncrementAtomic(
            o.filter(col("o_orderkey") > lo && col("o_orderkey") <= hi)
              .repartition(1), sink, "o_orderkey")
          lo = hi
        }
        val fs = new org.apache.hadoop.fs.Path(sink)
          .getFileSystem(s.sparkContext.hadoopConfiguration)
        val files0 = AtomicIncrement.committedFiles(s, sink)
        val sizes = files0.map(f => f -> fs.getFileStatus(
          new org.apache.hadoop.fs.Path(s"$sink/$f")).getLen).toMap
        val bigPath = sizes.maxBy(_._2)._1
        val (rewritten, stagedN) = AtomicIncrement.compactSmall(s, sink,
          smallBytes = sizes(bigPath) / 2, targetFiles = 2,
          keyCol = Some("o_orderkey"))
        val after = AtomicIncrement.committedFiles(s, sink)
        val carried = after.contains(bigPath)
        val pruned = AtomicIncrement.readCommittedAbove(s, sink,
          "o_orderkey", cut + 5 * (mx - cut) / 6)
          .inputFiles.length < after.size
        AtomicIncrement.readCommitted(s, sink)
          .groupBy("o_orderstatus")
          .agg(count(lit(1)).as("n"),
            round(sum("o_totalprice"), 2).as("sum_price"))
          .withColumn("carried", lit(carried))
          .withColumn("packed",
            lit(rewritten == 6 && stagedN == 2 && pruned))
          .orderBy("o_orderstatus")
      },
      """SELECT o_orderstatus, count(*) AS n,
        |  round(sum(o_totalprice), 2) AS sum_price,
        |  TRUE AS carried, TRUE AS packed
        |FROM orders GROUP BY o_orderstatus
        |ORDER BY o_orderstatus""".stripMargin),

    // SELF-SYNCING COUNT(DISTINCT) (round 14 — the sync family's
    // third member beside q_rollup_sync and the extremes): the pair
    // state never sees a CDC batch, it pulls the manifest-diff feed
    // by table version across a copy-on-write merge AND a
    // merge-on-read commit in ONE catch-up window. A pair surviving
    // its retraction (multiplicity wrong through the file-grained
    // telescoping), a dv-masked row missing from the minus side, or
    // a distinct count derived from anything but the pair rows all
    // hash-mismatch; `synced` pins the version arithmetic (3 folded,
    // 2 in one pull, then the idempotent 0).
    // The SQL FACE under the oracle gate (round 14): the sink mounts
    // as a `graft-atomic` TEMPORARY VIEW and a plain SQL
    // aggregate-with-WHERE runs against it — the WHERE must prune
    // files through the manifest stats (`pruned` pins kept <
    // committed via the scan probe) while the answer matches the
    // oracle's raw-table SQL exactly. A pruning verdict that drops a
    // live file, a dv leak, or a filter translated wrong all
    // hash-mismatch.
    "q_sql_pushdown" -> QueryDef(
      (s, dir) => withScratchSink(s, "graft_sqlview") { sink =>
        val o = table(s, dir, "orders").select(
          col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
        val mx = o.agg(max("o_orderkey")).head().getLong(0)
        var lo = Long.MinValue
        for (hi <- Seq(mx / 3, 2 * mx / 3, mx)) {
          AtomicIncrement.appendIncrementAtomic(
            o.filter(col("o_orderkey") > lo && col("o_orderkey") <= hi),
            sink, "o_orderkey", Seq("o_totalprice", "o_orderstatus"))
          lo = hi
        }
        s.sql(s"""CREATE OR REPLACE TEMPORARY VIEW graft_sql_orders
          USING `graft-atomic` OPTIONS (path '$sink')""")
        val cut = 2 * mx / 3
        val out = s.sql(
          s"""SELECT o_orderstatus, count(*) AS n,
             |  round(sum(o_totalprice), 2) AS total
             |FROM graft_sql_orders
             |WHERE o_orderkey > $cut
             |GROUP BY o_orderstatus""".stripMargin)
        val rows = out.collect()
        val (kept, committed) = graft.sources.GraftAtomicRelation
          .lastScanFor(sink)
        s.createDataFrame(java.util.Arrays.asList(rows: _*), out.schema)
          .withColumn("pruned", lit(kept < committed))
          .orderBy("o_orderstatus")
      },
      """SELECT o_orderstatus, count(*) AS n,
        |  round(sum(o_totalprice), 2) AS total, TRUE AS pruned
        |FROM orders
        |WHERE o_orderkey > (SELECT (2 * max(o_orderkey)) // 3
        |                    FROM orders)
        |GROUP BY o_orderstatus
        |ORDER BY o_orderstatus""".stripMargin),

    // SQL ROW-LEVEL DML under the oracle gate (round 15, the r14
    // verdict's missing #1): the sink mounts through the DSv2 CATALOG
    // (`graft.`<path>``) and a plain SQL `DELETE FROM ... WHERE`
    // lands as a copy-on-write predicate delete — files the WHERE
    // provably cannot touch ride into the new manifest VERBATIM
    // (`pruned` pins carried ∩ rewritten ≠ ∅ via the before/after
    // file sets, plus a no-match DELETE publishing NO new version),
    // and the read-back runs through the catalog's SELECT face (the
    // V1Scan bridge), so both halves of the DML surface sit under one
    // oracle. The oracle replays the delete as a WHERE NOT(...) over
    // the raw table — a dropped survivor, a resurrected dv row, or a
    // NULL-cond mishandling all hash-mismatch.
    "q_sql_delete" -> QueryDef(
      (s, dir) => withScratchSink(s, "graft_sqldel") { sink =>
        s.conf.set("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
        val o = table(s, dir, "orders").select(
          col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
        val mx = o.agg(max("o_orderkey")).head().getLong(0)
        var lo = Long.MinValue
        for (hi <- Seq(mx / 3, 2 * mx / 3, mx)) {
          AtomicIncrement.appendIncrementAtomic(
            o.filter(col("o_orderkey") > lo && col("o_orderkey") <= hi),
            sink, "o_orderkey", Seq("o_totalprice"))
          lo = hi
        }
        val cut = 2 * mx / 3
        val before = AtomicIncrement.committedFiles(s, sink).toSet
        val v1 = AtomicIncrement.snapshot(s, sink)._1
        s.sql(s"DELETE FROM graft.`$sink` " +
          s"WHERE o_orderkey > $cut AND o_totalprice < 150000")
        val after = AtomicIncrement.committedFiles(s, sink).toSet
        val v2 = AtomicIncrement.snapshot(s, sink)._1
        // a DELETE no row can match must be a FREE no-op: no version
        s.sql(s"DELETE FROM graft.`$sink` WHERE o_orderkey > ${mx * 10}")
        val v3 = AtomicIncrement.snapshot(s, sink)._1
        val engaged = before.intersect(after).nonEmpty &&
          before.diff(after).nonEmpty && v2 == v1 + 1 && v3 == v2
        val out = s.sql(
          s"""SELECT o_orderstatus, count(*) AS n,
             |  round(sum(o_totalprice), 2) AS sum_price
             |FROM graft.`$sink`
             |GROUP BY o_orderstatus""".stripMargin)
        val rows = out.collect()
        s.createDataFrame(java.util.Arrays.asList(rows: _*), out.schema)
          .withColumn("pruned", lit(engaged))
          .orderBy("o_orderstatus")
      },
      """WITH cut AS (SELECT (2 * max(o_orderkey)) // 3 AS c FROM orders)
        |SELECT o_orderstatus, count(*) AS n,
        |  round(sum(o_totalprice), 2) AS sum_price, TRUE AS pruned
        |FROM orders, cut
        |WHERE NOT (o_orderkey > c AND o_totalprice < 150000)
        |GROUP BY o_orderstatus
        |ORDER BY o_orderstatus""".stripMargin),

    // Copy-on-write predicate UPDATE under the oracle gate (round 15,
    // DELETE's sibling): no key contract — the WHERE prunes files
    // through the same manifest verdicts, only may-match files
    // rewrite (carried-verbatim pinned via the file sets), matching
    // rows get the SET expressions applied AGAINST THE OLD ROW, and a
    // no-match UPDATE publishes no version. The oracle replays the
    // statement as a CASE expression over the raw table — sequential
    // SET evaluation (new values leaking into later assignments), a
    // NULL-cond row mutated, or a type drift through the cast all
    // hash-mismatch.
    "q_update_where" -> QueryDef(
      (s, dir) => withScratchSink(s, "graft_updw") { sink =>
        val o = table(s, dir, "orders").select(
          col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
        val mx = o.agg(max("o_orderkey")).head().getLong(0)
        var lo = Long.MinValue
        for (hi <- Seq(mx / 3, 2 * mx / 3, mx)) {
          AtomicIncrement.appendIncrementAtomic(
            o.filter(col("o_orderkey") > lo && col("o_orderkey") <= hi),
            sink, "o_orderkey", Seq("o_totalprice"))
          lo = hi
        }
        val cut = 2 * mx / 3
        import org.apache.spark.sql.sources.GreaterThan
        def prune(f: org.apache.spark.sql.sources.Filter)(
            e: AtomicIncrement.ManifestEntry) =
          graft.sources.ManifestPruning.mayMatch(e, f)
        val before = AtomicIncrement.committedFiles(s, sink).toSet
        val v1 = AtomicIncrement.snapshot(s, sink)._1
        val r1 = AtomicIncrement.updateWhereAtomic(s, sink,
          col("o_orderkey") > cut && col("o_totalprice") < 150000,
          Map("o_totalprice" -> (col("o_totalprice") * 2),
            "o_orderstatus" -> lit("U")),
          prune(GreaterThan("o_orderkey", cut)))
        val after = AtomicIncrement.committedFiles(s, sink).toSet
        val r2 = AtomicIncrement.updateWhereAtomic(s, sink,
          col("o_orderkey") > mx * 10,
          Map("o_orderstatus" -> lit("Z")),
          prune(GreaterThan("o_orderkey", mx * 10)))
        val engaged = before.intersect(after).nonEmpty &&
          before.diff(after).nonEmpty &&
          r1.version == v1 + 1 && r2.version == r1.version
        AtomicIncrement.readCommitted(s, sink)
          .groupBy("o_orderstatus")
          .agg(count(lit(1)).as("n"),
            round(sum("o_totalprice"), 2).as("sum_price"))
          .withColumn("pruned", lit(engaged))
          .orderBy("o_orderstatus")
      },
      """WITH cut AS (SELECT (2 * max(o_orderkey)) // 3 AS c FROM orders),
        |resolved AS (
        |  SELECT CASE WHEN o_orderkey > c AND o_totalprice < 150000
        |              THEN 'U' ELSE o_orderstatus END AS o_orderstatus,
        |         CASE WHEN o_orderkey > c AND o_totalprice < 150000
        |              THEN o_totalprice * 2 ELSE o_totalprice END
        |           AS o_totalprice
        |  FROM orders, cut)
        |SELECT o_orderstatus, count(*) AS n,
        |  round(sum(o_totalprice), 2) AS sum_price, TRUE AS pruned
        |FROM resolved GROUP BY o_orderstatus
        |ORDER BY o_orderstatus""".stripMargin),

    // SQL UPDATE through the DSv2 catalog (round 16, the r15
    // verdict's missing #1): `UPDATE graft.t SET ... WHERE ...` is
    // rewritten by Spark into a group-based ReplaceData plan whose
    // scan is a REAL DSv2 batch over ONLY the may-match files (the
    // same ManifestPruning verdicts, pushed through
    // GroupBasedRowLevelOperationScanPlanning) and whose write is a
    // REAL BatchWrite — executor parquet parts, driver manifest
    // commit from the WriterCommitMessages. `pruned` pins the
    // carried-files-verbatim contract via before/after file-set
    // identity AND the no-match no-version rule; the oracle replays
    // the statement as a CASE over the raw table, so old-row SET
    // semantics, NULL-cond carries, and survivor fidelity all sit
    // under the hash.
    "q_sql_update" -> QueryDef(
      (s, dir) => withScratchSink(s, "graft_squpd") { sink =>
        s.conf.set("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
        val o = table(s, dir, "orders").select(
          col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
        val mx = o.agg(max("o_orderkey")).head().getLong(0)
        var lo = Long.MinValue
        for (hi <- Seq(mx / 3, 2 * mx / 3, mx)) {
          AtomicIncrement.appendIncrementAtomic(
            o.filter(col("o_orderkey") > lo && col("o_orderkey") <= hi),
            sink, "o_orderkey", Seq("o_totalprice"))
          lo = hi
        }
        val cut = 2 * mx / 3
        val before = AtomicIncrement.committedFiles(s, sink).toSet
        val v1 = AtomicIncrement.snapshot(s, sink)._1
        s.sql(s"UPDATE graft.`$sink` SET o_totalprice = " +
          s"o_totalprice * 2, o_orderstatus = 'U' " +
          s"WHERE o_orderkey > $cut AND o_totalprice < 150000")
        val after = AtomicIncrement.committedFiles(s, sink).toSet
        val v2 = AtomicIncrement.snapshot(s, sink)._1
        // no-match UPDATE: zero touched files, no version published
        s.sql(s"UPDATE graft.`$sink` SET o_orderstatus = 'Z' " +
          s"WHERE o_orderkey > ${mx * 10}")
        val v3 = AtomicIncrement.snapshot(s, sink)._1
        val engaged = before.intersect(after).nonEmpty &&
          before.diff(after).nonEmpty && v2 == v1 + 1 && v3 == v2
        val out = s.sql(
          s"""SELECT o_orderstatus, count(*) AS n,
             |  round(sum(o_totalprice), 2) AS sum_price
             |FROM graft.`$sink`
             |GROUP BY o_orderstatus""".stripMargin)
        val rows = out.collect()
        s.createDataFrame(java.util.Arrays.asList(rows: _*), out.schema)
          .withColumn("pruned", lit(engaged))
          .orderBy("o_orderstatus")
      },
      """WITH cut AS (SELECT (2 * max(o_orderkey)) // 3 AS c FROM orders),
        |resolved AS (
        |  SELECT CASE WHEN o_orderkey > c AND o_totalprice < 150000
        |              THEN 'U' ELSE o_orderstatus END AS o_orderstatus,
        |         CASE WHEN o_orderkey > c AND o_totalprice < 150000
        |              THEN o_totalprice * 2 ELSE o_totalprice END
        |           AS o_totalprice
        |  FROM orders, cut)
        |SELECT o_orderstatus, count(*) AS n,
        |  round(sum(o_totalprice), 2) AS sum_price, TRUE AS pruned
        |FROM resolved GROUP BY o_orderstatus
        |ORDER BY o_orderstatus""".stripMargin),

    // SQL MERGE INTO through the DSv2 catalog (round 16): matched
    // UPDATE, matched-AND DELETE, and NOT MATCHED INSERT in one
    // statement over the same row-level machinery — the source is a
    // derived view of orders (every 10th key upserts doubled, every
    // 7th deletes, shifted keys insert), and the oracle replays the
    // statement relationally (anti-join survivors + updated matches +
    // inserts). A merge group rewrite is whole-table in v1 (a join
    // condition pushes no target-only filters), so the pin here is
    // CONTENT + the single published version, not file pruning.
    "q_sql_merge" -> QueryDef(
      (s, dir) => withScratchSink(s, "graft_sqmrg") { sink =>
        s.conf.set("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
        val o = table(s, dir, "orders").select(
          col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
        val mx = o.agg(max("o_orderkey")).head().getLong(0)
        AtomicIncrement.appendIncrementAtomic(o, sink, "o_orderkey",
          Seq("o_totalprice"))
        val v1 = AtomicIncrement.snapshot(s, sink)._1
        o.filter(col("o_orderkey") % 10 === 0)
          .withColumn("o_totalprice", col("o_totalprice") * 2)
          .withColumn("o_orderstatus", lit("M"))
          .withColumn("del", lit(false))
          .unionByName(o.filter(col("o_orderkey") % 10 === 7)
            .withColumn("del", lit(true)))
          .unionByName(o.filter(col("o_orderkey") % 10 === 3)
            .withColumn("o_orderkey", col("o_orderkey") + mx)
            .withColumn("o_orderstatus", lit("I"))
            .withColumn("del", lit(false)))
          .createOrReplaceTempView("graft_sqmrg_src")
        s.sql(
          s"""MERGE INTO graft.`$sink` t USING graft_sqmrg_src s
             |ON t.o_orderkey = s.o_orderkey
             |WHEN MATCHED AND s.del THEN DELETE
             |WHEN MATCHED THEN UPDATE SET
             |  t.o_orderstatus = s.o_orderstatus,
             |  t.o_totalprice = s.o_totalprice
             |WHEN NOT MATCHED THEN INSERT
             |  (o_orderkey, o_orderstatus, o_totalprice)
             |  VALUES (s.o_orderkey, s.o_orderstatus, s.o_totalprice)
             |""".stripMargin)
        val v2 = AtomicIncrement.snapshot(s, sink)._1
        val out = s.sql(
          s"""SELECT o_orderstatus, count(*) AS n,
             |  round(sum(o_totalprice), 2) AS sum_price
             |FROM graft.`$sink`
             |GROUP BY o_orderstatus""".stripMargin)
        val rows = out.collect()
        s.createDataFrame(java.util.Arrays.asList(rows: _*), out.schema)
          .withColumn("one_commit", lit(v2 == v1 + 1))
          .orderBy("o_orderstatus")
      },
      """WITH mx AS (SELECT max(o_orderkey) AS m FROM orders),
        |resolved AS (
        |  SELECT o_orderkey,
        |    CASE WHEN o_orderkey % 10 = 0 THEN 'M'
        |         ELSE o_orderstatus END AS o_orderstatus,
        |    CASE WHEN o_orderkey % 10 = 0 THEN o_totalprice * 2
        |         ELSE o_totalprice END AS o_totalprice
        |  FROM orders WHERE o_orderkey % 10 <> 7
        |  UNION ALL
        |  SELECT o_orderkey + m, 'I', o_totalprice
        |  FROM orders, mx WHERE o_orderkey % 10 = 3)
        |SELECT o_orderstatus, count(*) AS n,
        |  round(sum(o_totalprice), 2) AS sum_price, TRUE AS one_commit
        |FROM resolved GROUP BY o_orderstatus
        |ORDER BY o_orderstatus""".stripMargin),

    // SQL SCHEMA EVOLUTION under the oracle gate (round 17, the r16
    // verdict's top item): half of orders lands in the pre-evolution
    // shape, `ALTER TABLE … ADD COLUMN` commits the zero-row
    // evolution file (one version, every standing file carried BY
    // PATH — `evolved` pins both), the other half INSERTs WITH the
    // new column through SQL, and the read-back spans old+new files —
    // old rows surface the column as NULL (folded to 'NONE' so the
    // hash covers them). The oracle replays the whole life relationally
    // over the raw table: a dropped column on the old files, a NULL
    // leak on the new ones, or an evolution that rewrote data all
    // hash-mismatch.
    "q_sql_evolve" -> QueryDef(
      (s, dir) => withScratchSink(s, "graft_sqevo") { sink =>
        s.conf.set("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
        val o = table(s, dir, "orders").select(
          col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
        val mx = o.agg(max("o_orderkey")).head().getLong(0)
        val cut = mx / 2
        AtomicIncrement.appendIncrementAtomic(
          o.filter(col("o_orderkey") <= cut), sink, "o_orderkey",
          Seq("o_totalprice"))
        val before = AtomicIncrement.committedFiles(s, sink).toSet
        val v1 = AtomicIncrement.snapshot(s, sink)._1
        s.sql(s"ALTER TABLE graft.`$sink` ADD COLUMN o_priority STRING")
        val (v2, filesAfter) = AtomicIncrement.snapshot(s, sink)
        o.createOrReplaceTempView("graft_sqevo_src")
        s.sql(
          s"""INSERT INTO graft.`$sink`
             |SELECT o_orderkey, o_orderstatus, o_totalprice,
             |  CASE WHEN o_orderkey % 2 = 0 THEN 'HI' ELSE 'LO' END
             |FROM graft_sqevo_src WHERE o_orderkey > $cut""".stripMargin)
        val evolvedOk = v2 == v1 + 1 &&
          before.subsetOf(filesAfter.toSet) &&
          filesAfter.size == before.size + 1
        val out = s.sql(
          s"""SELECT coalesce(o_priority, 'NONE') AS prio,
             |  count(*) AS n, round(sum(o_totalprice), 2) AS sum_price
             |FROM graft.`$sink`
             |GROUP BY coalesce(o_priority, 'NONE')""".stripMargin)
        val rows = out.collect()
        s.createDataFrame(java.util.Arrays.asList(rows: _*), out.schema)
          .withColumn("evolved", lit(evolvedOk))
          .orderBy("prio")
      },
      """WITH cut AS (SELECT max(o_orderkey) // 2 AS c FROM orders)
        |SELECT CASE WHEN o_orderkey > c THEN
        |         CASE WHEN o_orderkey % 2 = 0 THEN 'HI' ELSE 'LO' END
        |       ELSE 'NONE' END AS prio,
        |  count(*) AS n, round(sum(o_totalprice), 2) AS sum_price,
        |  TRUE AS evolved
        |FROM orders, cut
        |GROUP BY 1
        |ORDER BY prio""".stripMargin),

    // SQL MAINTENANCE + METADATA-TABLE surface under the oracle gate
    // (round 17, the r16 verdict's #2): the q_history fixture —
    // three single-file appends, a churn-confined CoW merge — then a
    // real `CALL graft.system.optimize` (the Spark 4 stored-procedure
    // seam), and the read-back through the Iceberg-style
    // `graft.`<path>`.history` METADATA TABLE in plain SQL. The
    // literal oracle pins the whole life: versions 1..5 with file
    // counts 1,2,3,3,2 — the merge rewriting exactly its one touched
    // file, the CALL compacting to exactly target_files — and zero
    // dv lines throughout. A procedure that stopped compacting, a
    // metadata table that dropped a version, or a maintenance pass
    // that minted a spurious commit all hash-mismatch.
    "q_sql_history" -> QueryDef(
      (s, dir) => withScratchSink(s, "graft_sqhist") { sink =>
        s.conf.set("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
        val o = table(s, dir, "orders").select(
          col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
        val mx = o.agg(max("o_orderkey")).head().getLong(0)
        var lo = Long.MinValue
        for (hi <- Seq(mx / 3, 2 * mx / 3, mx)) {
          AtomicIncrement.appendIncrementAtomic(
            o.filter(col("o_orderkey") > lo && col("o_orderkey") <= hi)
              .repartition(1), sink, "o_orderkey")
          lo = hi
        }
        AtomicIncrement.mergeAtomic(
          o.filter(col("o_orderkey") <= mx / 3 &&
            col("o_orderkey") % 10 === 0)
            .withColumn("o_orderstatus", lit("X"))
            .withColumn("del", lit(false)),
          sink, "o_orderkey", "del")
        s.sql(s"CALL graft.system.optimize(table_path => '$sink', " +
          "target_files => 2, cluster_by => 'o_orderkey')")
        s.sql(s"""SELECT version, files, dv_files
          FROM graft.`$sink`.history ORDER BY version""")
      },
      """SELECT CAST(version AS BIGINT) AS version,
        |  CAST(files AS INT) AS files, CAST(dv_files AS INT) AS dv_files
        |FROM (VALUES (1, 1, 0), (2, 2, 0), (3, 3, 0), (4, 3, 0),
        |  (5, 2, 0)) t(version, files, dv_files)
        |ORDER BY version""".stripMargin),

    // ATOMIC CTAS / RTAS under the oracle gate (round 17): CREATE
    // TABLE AS SELECT through the StagingTableCatalog seam (the sink
    // stays empty until the write's own manifest commit), then
    // REPLACE TABLE AS SELECT swaps schema+content as ONE OCC
    // snapshot replace, and the read-back aggregates the replaced
    // table through the catalog SELECT face. `one_swap` pins the
    // version arithmetic (create = v1, replace = v2 — nothing
    // staged-then-patched); the oracle replays the final table
    // relationally. A half-applied replace, a CTAS leaking its
    // pre-replace rows, or a schema that kept the old column all
    // hash-mismatch.
    "q_sql_rtas" -> QueryDef(
      (s, dir) => withScratchSink(s, "graft_sqrtas") { sink =>
        s.conf.set("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
        // CTAS wants a fresh (uncreated) path
        val fs = new org.apache.hadoop.fs.Path(sink).getFileSystem(
          s.sparkContext.hadoopConfiguration)
        fs.delete(new org.apache.hadoop.fs.Path(sink), true)
        table(s, dir, "orders").select(
          col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
          .createOrReplaceTempView("graft_sqrtas_src")
        s.sql(s"""CREATE TABLE graft.`$sink` AS
          SELECT o_orderkey, o_orderstatus, o_totalprice
          FROM graft_sqrtas_src""")
        val v1 = AtomicIncrement.snapshot(s, sink)._1
        s.sql(
          s"""REPLACE TABLE graft.`$sink` AS
             |SELECT o_orderstatus,
             |  round(sum(o_totalprice), 2) AS total, count(*) AS n
             |FROM graft_sqrtas_src GROUP BY o_orderstatus""".stripMargin)
        val v2 = AtomicIncrement.snapshot(s, sink)._1
        val out = s.sql(s"SELECT * FROM graft.`$sink`")
        val rows = out.collect()
        s.createDataFrame(java.util.Arrays.asList(rows: _*), out.schema)
          .withColumn("one_swap", lit(v1 == 1L && v2 == 2L))
          .orderBy("o_orderstatus")
      },
      """SELECT o_orderstatus, round(sum(o_totalprice), 2) AS total,
        |  count(*) AS n, TRUE AS one_swap
        |FROM orders GROUP BY o_orderstatus
        |ORDER BY o_orderstatus""".stripMargin),

    // DESCRIBE HISTORY under the oracle gate (round 14): three
    // single-file appends then a churn-CONFINED copy-on-write merge —
    // the listed history must show versions 1..4 with file counts
    // 1,2,3,3 (the merge rewrites exactly the one touched file and
    // stages exactly one back — the cluster-preserving rewrite's
    // count) and zero dv lines throughout. A merge that stopped
    // pruning (files jump), a rewrite that fans out per input split,
    // or a version-arithmetic slip all hash-mismatch against the
    // literal expectation.
    "q_history" -> QueryDef(
      (s, dir) => withScratchSink(s, "graft_hist") { sink =>
        val o = table(s, dir, "orders").select(
          col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
        val mx = o.agg(max("o_orderkey")).head().getLong(0)
        var lo = Long.MinValue
        for (hi <- Seq(mx / 3, 2 * mx / 3, mx)) {
          AtomicIncrement.appendIncrementAtomic(
            o.filter(col("o_orderkey") > lo && col("o_orderkey") <= hi)
              .repartition(1), sink, "o_orderkey")
          lo = hi
        }
        AtomicIncrement.mergeAtomic(
          o.filter(col("o_orderkey") <= mx / 3 &&
            col("o_orderkey") % 10 === 0)
            .withColumn("o_orderstatus", lit("X"))
            .withColumn("del", lit(false)),
          sink, "o_orderkey", "del")
        AtomicIncrement.history(s, sink)
          .select(col("version"), col("files"), col("dv_files"))
          .orderBy("version")
      },
      """SELECT CAST(version AS BIGINT) AS version,
        |  CAST(files AS INT) AS files, CAST(dv_files AS INT) AS dv_files
        |FROM (VALUES (1, 1, 0), (2, 2, 0), (3, 3, 0), (4, 3, 0))
        |  t(version, files, dv_files)
        |ORDER BY version""".stripMargin),

    // SQL WRITE path under the oracle gate (round 14): half of orders
    // seeds the sink through the writer API, the other half arrives
    // via SQL `INSERT INTO` a graft-atomic view, and a FULL REPLAY
    // insert follows — the watermark contract must filter it to zero
    // rows through the SQL face too (a leak doubles every count and
    // hash-mismatches). The final aggregate must equal the oracle's
    // raw-table SQL exactly.
    "q_sql_insert" -> QueryDef(
      (s, dir) => withScratchSink(s, "graft_sqlins") { sink =>
        val o = table(s, dir, "orders").select(
          col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
        val mx = o.agg(max("o_orderkey")).head().getLong(0)
        val cut = mx / 2
        o.filter(col("o_orderkey") <= cut).write
          .format("graft-atomic").option("watermarkCol", "o_orderkey")
          .mode("append").save(sink)
        o.createOrReplaceTempView("graft_sqlins_src")
        s.sql(s"""CREATE OR REPLACE TEMPORARY VIEW graft_sqlins_t
          USING `graft-atomic`
          OPTIONS (path '$sink', watermarkCol 'o_orderkey')""")
        s.sql(s"""INSERT INTO graft_sqlins_t
          SELECT * FROM graft_sqlins_src WHERE o_orderkey > $cut""")
        s.sql("INSERT INTO graft_sqlins_t SELECT * FROM graft_sqlins_src")
        s.sql("""SELECT o_orderstatus, count(*) AS n,
          round(sum(o_totalprice), 2) AS total
          FROM graft_sqlins_t GROUP BY o_orderstatus
          ORDER BY o_orderstatus""")
      },
      """SELECT o_orderstatus, count(*) AS n,
        |  round(sum(o_totalprice), 2) AS total
        |FROM orders GROUP BY o_orderstatus
        |ORDER BY o_orderstatus""".stripMargin),

    // WRITE-AUDIT-PUBLISH under the oracle gate (round 14): the first
    // half of lineitem lands through a passing audit, a POISONED
    // second half (negated quantities) is REJECTED at the staging
    // seam — no version moves, no orphan waits for vacuum — and the
    // corrected rows then land normally. The final table must equal
    // the raw table exactly (the oracle aggregates it), so a rejected
    // batch leaking rows, a watermark advanced by the rejected stage,
    // or an audit that read the caller's plan instead of the staged
    // bytes all hash-mismatch; `audit_fired` pins the rejection
    // actually happened.
    "q_wap" -> QueryDef(
      (s, dir) => withScratchSink(s, "graft_wap") { sink =>
        val li = table(s, dir, "lineitem").select(
          col("l_orderkey"), col("l_quantity"), col("l_extendedprice"))
        val mx = li.agg(max("l_orderkey")).head().getLong(0)
        val cut = mx / 2
        val gate: DataFrame => Boolean =
          st => st.filter(col("l_quantity") < 0).isEmpty
        AtomicIncrement.appendAuditedAtomic(
          li.filter(col("l_orderkey") <= cut), sink, "l_orderkey")(gate)
        val rejected = AtomicIncrement.appendAuditedAtomic(
          li.filter(col("l_orderkey") > cut)
            .withColumn("l_quantity", -col("l_quantity")),
          sink, "l_orderkey")(gate)
        AtomicIncrement.appendAuditedAtomic(
          li.filter(col("l_orderkey") > cut), sink, "l_orderkey")(gate)
        AtomicIncrement.readCommitted(s, sink).agg(
          count(lit(1)).as("cnt"),
          sum("l_quantity").as("sum_qty"),
          lit(rejected.isEmpty).as("audit_fired"))
      },
      """SELECT count(*) AS cnt, sum(l_quantity) AS sum_qty,
        |  TRUE AS audit_fired
        |FROM lineitem""".stripMargin),

    // METADATA-ONLY aggregate under the oracle gate (round 14): three
    // watermarked increments land with per-file row counts + min/max
    // stamped in the manifest, then EVERY data file is DELETED — the
    // strongest possible "zero data reads" pin — and statsAggregate
    // must still answer count(*)/min/max exactly as the oracle
    // computes them from the raw table. A count derived from anything
    // but the stamped footer counts, a min/max fold that misses a
    // file, or a string bound decoded out of byte order all
    // hash-mismatch; at 100 TB this is the dashboard heartbeat query
    // ("how many rows, how fresh") priced at one manifest read
    // instead of a 10⁵-split scan stage.
    "q_stats_agg" -> QueryDef(
      (s, dir) => withScratchSink(s, "graft_statsagg") { sink =>
        val o = table(s, dir, "orders").select(
          col("o_orderkey"), col("o_totalprice"), col("o_orderstatus"))
        val mx = o.agg(max("o_orderkey")).head().getLong(0)
        var lo = Long.MinValue
        for (hi <- Seq(mx / 3, 2 * mx / 3, mx)) {
          AtomicIncrement.appendIncrementAtomic(
            o.filter(col("o_orderkey") > lo && col("o_orderkey") <= hi),
            sink, "o_orderkey", Seq("o_totalprice", "o_orderstatus"))
          lo = hi
        }
        val dataRoot = new org.apache.hadoop.fs.Path(sink,
          AtomicIncrement.DataDir)
        dataRoot.getFileSystem(s.sparkContext.hadoopConfiguration)
          .delete(dataRoot, true)
        AtomicIncrement.statsAggregate(s, sink,
          Seq("o_orderkey", "o_totalprice", "o_orderstatus")).get
          .select(col("cnt"),
            col("min_o_orderkey").as("mn_key"),
            col("max_o_orderkey").as("mx_key"),
            col("min_o_totalprice").as("mn_price"),
            col("max_o_totalprice").as("mx_price"),
            col("min_o_orderstatus").as("mn_status"),
            col("max_o_orderstatus").as("mx_status"))
      },
      """SELECT count(*) AS cnt,
        |  min(o_orderkey) AS mn_key, max(o_orderkey) AS mx_key,
        |  min(o_totalprice) AS mn_price, max(o_totalprice) AS mx_price,
        |  min(o_orderstatus) AS mn_status, max(o_orderstatus) AS mx_status
        |FROM orders""".stripMargin),

    "q_distinct_sync" -> QueryDef(
      (s, dir) => withScratchSink(s, "graft_dsync_t") { tableSink =>
        withScratchSink(s, "graft_dsync_s") { stateSink =>
          val o = table(s, dir, "orders")
            .filter(col("o_orderkey") % 3 === 1)
            .select(col("o_orderkey"), col("o_orderstatus"),
              col("o_custkey"))
          val mx = o.agg(max("o_orderkey")).head().getLong(0)
          var lo = Long.MinValue
          for (hi <- Seq(mx / 3, 2 * mx / 3, mx)) {
            AtomicIncrement.appendIncrementAtomic(
              o.filter(col("o_orderkey") > lo && col("o_orderkey") <= hi),
              tableSink, "o_orderkey")
            lo = hi
          }
          val n0 = syncDistinct(s, tableSink, stateSink,
            Seq("o_orderstatus"), "o_custkey")
          val cut = 2 * mx / 3
          val hot = o.filter(col("o_orderkey") > cut)
          def ch(df: DataFrame, status: org.apache.spark.sql.Column,
              del: Boolean) =
            df.select(col("o_orderkey"), status.as("o_orderstatus"),
              col("o_custkey"), lit(del).as("del"))
          AtomicIncrement.mergeAtomic(
            ch(hot.filter(col("o_orderkey") % 10 === 0), lit("X"),
              del = false)
            .unionByName(ch(hot.filter(col("o_orderkey") % 10 === 7),
              col("o_orderstatus"), del = true)),
            tableSink, "o_orderkey", "del")
          AtomicIncrement.mergeOnReadAtomic(
            ch(hot.filter(col("o_orderkey") % 10 === 3), lit("Y"),
              del = false)
            .unionByName(ch(hot.filter(col("o_orderkey") % 10 === 1),
              col("o_orderstatus"), del = true)),
            tableSink, "o_orderkey", "del")
          val n1 = syncDistinct(s, tableSink, stateSink,
            Seq("o_orderstatus"), "o_custkey")
          val n2 = syncDistinct(s, tableSink, stateSink,
            Seq("o_orderstatus"), "o_custkey")
          readDistinct(s, stateSink, Seq("o_orderstatus"), "o_custkey")
            .withColumnRenamed("distinct_o_custkey", "n_cust")
            .withColumn("synced", lit(n0 == 3 && n1 == 2 && n2 == 0))
            .orderBy("o_orderstatus")
        }
      },
      """WITH base AS (SELECT o_orderkey, o_orderstatus, o_custkey
        |              FROM orders WHERE o_orderkey % 3 = 1),
        |cut AS (SELECT 2 * max(o_orderkey) // 3 AS c FROM base),
        |resolved AS (
        |  SELECT o_orderstatus, o_custkey FROM base, cut
        |  WHERE NOT (o_orderkey > c AND o_orderkey % 10 IN (0, 1, 3, 7))
        |  UNION ALL
        |  SELECT 'X', o_custkey FROM base, cut
        |  WHERE o_orderkey > c AND o_orderkey % 10 = 0
        |  UNION ALL
        |  SELECT 'Y', o_custkey FROM base, cut
        |  WHERE o_orderkey > c AND o_orderkey % 10 = 3)
        |SELECT o_orderstatus, count(DISTINCT o_custkey) AS n_cust,
        |  TRUE AS synced
        |FROM resolved GROUP BY o_orderstatus
        |ORDER BY o_orderstatus""".stripMargin))
}
