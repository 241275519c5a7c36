package graft.streaming

import graft.operators.AtomicIncrement
import org.apache.spark.sql.{DataFrame, SQLContext, SparkSession}
import org.apache.spark.sql.connector.read.streaming.{Offset => OffsetV2, ReadLimit, SupportsAdmissionControl, SupportsTriggerAvailableNow}
import org.apache.spark.sql.execution.streaming.{Offset => OffsetV1, Source}
import org.apache.spark.sql.execution.streaming.runtime.{LongOffset, SerializedOffset}
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.graftbridge.StreamingFrameBridge
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

/** STREAMING SOURCE face of the manifest-committed atomic sink —
  * downstream consumers SUBSCRIBE to a table instead of scheduling
  * version-keyed `sync*` pulls:
  *
  * {{{
  *   spark.readStream.format("graft-atomic")
  *     .option("path", sink)            // an existing committed sink
  *     .option("maxVersionsPerBatch", 4) // optional admission control
  *     .load()
  *     .writeStream.foreachBatch { (delta, _) => fold(delta) } ...
  * }}}
  *
  * OFFSETS ARE MANIFEST VERSIONS. Every micro-batch is one version
  * window `(from, to]` of the change-data feed the manifest diff
  * already defines ([[AtomicIncrement.changesBetween]]): `plus` rows
  * arrive tagged `_change_type = 'insert'`, `minus` rows
  * `'delete'`, both stamped `_commit_version = to` (window-end
  * attribution — a consumer that needs exact per-version stamps runs
  * with `maxVersionsPerBatch = 1`, where window end IS the version).
  * The first batch from a fresh checkpoint is the bootstrap feed
  * (version 0 → current: the whole effective snapshot as inserts), so
  * a subscriber needs no separate backfill path. Because every commit
  * is copy-on-write over immutable files, the pair is an exact
  * MULTISET delta: an abelian consumer (count/sum/rollup folds — the
  * whole [[graft.operators.IncrementalAgg]] family) telescopes a
  * rewritten file's surviving rows away as insert+delete of the same
  * row, and the fold lands on exactly the `to`-version aggregate.
  *
  * Restart rides the checkpoint: Spark replays the last uncommitted
  * window through `getBatch(checkpointedStart, checkpointedEnd)` and
  * resumes from there — the window algebra is pure manifest
  * arithmetic, so a replayed window reproduces byte-identical frames
  * as long as the superseded files still stand (the same retention
  * contract as [[AtomicIncrement.readVersion]] time travel: run
  * vacuum with a retention horizon longer than the slowest
  * subscriber's lag).
  *
  * Modes (`mode` option):
  *  - `cdf` (default): inserts AND deletes, dv windows resolved
  *    through the shared feed (merge-on-read commits emit their
  *    newly-dead rows as deletes).
  *  - `append-only`: refuses LOUDLY any window that would emit a
  *    delete (a rewritten/removed file, or a new delete vector
  *    masking standing files) instead of silently dropping the minus
  *    frame — for consumers that declare the table append-only and
  *    want that assumption enforced, at zero read cost (the verdict
  *    is manifest arithmetic, no data file is opened for it).
  *
  * SCALE SHAPE: the per-batch driver work is two manifest reads plus
  * one footer pass over the WINDOW'S CHANGED FILES only (never the
  * table); the rows flow through the same pruned, dv-resolved,
  * codegen'd plan the batch feed uses — a 10⁵-file table with a
  * 3-file append window plans a 3-file scan. The stream's schema is
  * frozen at start (standard Spark contract); a column added later is
  * served null-projected to the frozen set, exactly like the standing
  * SQL view ([[graft.sources.GraftAtomicSource]] scaladoc) — restart
  * the stream to surface it.
  */
/** Micro-batch admission limits (round 16 adds the DATA-SIZED pair):
  * `maxVersions` caps how many manifest versions a window may span;
  * `maxFiles` / `maxBytes` stop ACCUMULATING versions once the
  * window's cumulative changed-file count / changed-byte volume
  * crosses the limit — so one runaway backfill commit can no longer
  * drag a dozen ordinary ones into the same micro-batch. Version
  * atomicity is the FLOOR: a window never splits below one version,
  * so a single bulk commit still arrives whole (but alone). File
  * counts come from the manifest diff alone; bytes cost one
  * file-status round trip per ADDED file in the window, short-
  * circuited as soon as the cap is crossed.
  */
case class AdmissionCaps(maxVersions: Option[Long] = None,
    maxFiles: Option[Long] = None, maxBytes: Option[Long] = None) {
  def unlimited: Boolean =
    maxVersions.isEmpty && maxFiles.isEmpty && maxBytes.isEmpty
}

object GraftAtomicStreamSource {
  val ChangeTypeCol = "_change_type"
  val CommitVersionCol = "_commit_version"

  private[graft] def dataSchemaOf(spark: SparkSession,
      sink: String): StructType = {
    val snap = AtomicIncrement.latestSnapshot(spark, sink)
    require(snap.data.nonEmpty,
      s"graft-atomic stream subscribes to an EXISTING table — no " +
        s"committed snapshot at $sink (commit one first; the " +
        "bootstrap batch then replays it as inserts)")
    snap.schema
  }

  private[graft] def fullSchema(data: StructType): StructType =
    StructType(data.fields.map(_.copy(nullable = true)) ++ Seq(
      StructField(ChangeTypeCol, StringType, nullable = false),
      StructField(CommitVersionCol, LongType, nullable = false)))
}

class GraftAtomicStreamSource(sqlContext: SQLContext, sink: String,
    dataSchema: StructType, appendOnly: Boolean,
    caps: AdmissionCaps,
    rowLevel: Boolean = false, rowKey: Option[String] = None)
    extends Source
    with SupportsAdmissionControl with SupportsTriggerAvailableNow {
  import GraftAtomicStreamSource._

  private def spark = sqlContext.sparkSession

  override val schema: StructType = fullSchema(dataSchema)

  /** Trigger.AvailableNow target: the version captured when the run
    * started — the run drains up to here (in `maxVersionsPerBatch`
    * windows) and stops, exactly [[SupportsTriggerAvailableNow]]'s
    * contract. Without it a V1 source silently degrades to ONE window
    * per run (Spark's SingleBatchExecutor fallback), which under a
    * version cap would strand a subscriber mid-backlog.
    */
  private val availableNowTarget =
    new java.util.concurrent.atomic.AtomicLong(-1L)

  override def prepareForTriggerAvailableNow(): Unit = {
    availableNowTarget.set(AtomicIncrement.snapshot(spark, sink)._1)
    ()
  }

  private def versionOf(o: OffsetV2): Long = o match {
    case null => 0L
    case l: LongOffset => l.offset
    case s: SerializedOffset => s.json.trim.toLong
    case other => other.json.trim.toLong
  }

  /** Admission control: offer manifest versions past the committed
    * offset up to the caps, never past an AvailableNow target. The
    * version is the natural read unit here (one version = one
    * commit's worth of changed files) so the caps ride this method
    * rather than a row-based [[ReadLimit]]: `maxVersions` bounds the
    * span outright; `maxFiles`/`maxBytes` stop accumulating versions
    * once the cumulative changed-file count / added-byte volume
    * crosses the limit — with the single-version floor (the first
    * version past the offset always admits, however large: version
    * atomicity bounds the window from below).
    */
  override def latestOffset(startOffset: OffsetV2, limit: ReadLimit)
      : OffsetV2 = {
    val base = versionOf(startOffset)
    val target = availableNowTarget.get() match {
      case t if t >= 0L => t
      case _ => AtomicIncrement.snapshot(spark, sink)._1
    }
    val byVersion = caps.maxVersions match {
      case Some(m) => math.max(math.min(target, base + m), base)
      case None => math.max(target, base)
    }
    val next =
      if (caps.maxFiles.isEmpty && caps.maxBytes.isEmpty) byVersion
      else dataSizedCap(base, byVersion)
    if (next <= 0L) null else LongOffset(next)
  }

  /** Walk versions `base+1 .. limitV`, accumulating each version's
    * manifest diff (files added + removed; bytes of added files when
    * `maxBytes` is set), and return the last version that fits — at
    * least `base+1` when anything is pending. Cost: one manifest read
    * per walked version (the reads the admitted window's
    * `changesBetween` repeats anyway) plus, under `maxBytes` only,
    * one file-status round trip per added file, short-circuited at
    * the cap.
    */
  private def dataSizedCap(base: Long, limitV: Long): Long = {
    if (limitV <= base) return base
    val fs = new org.apache.hadoop.fs.Path(sink)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def dataPaths(v: Long) =
      AtomicIncrement.snapshotAt(spark, sink, v).data.map(_.path).toSet
    var prev = dataPaths(base)
    var admitted = base
    var files = 0L
    var bytes = 0L
    var full = false
    while (!full && admitted < limitV) {
      val v = admitted + 1
      val cur = dataPaths(v)
      val added = cur.diff(prev)
      val removed = prev.diff(cur)
      val vFiles = added.size.toLong + removed.size.toLong
      val vBytes = caps.maxBytes match {
        case None => 0L
        case Some(cap) =>
          var sum = 0L
          val it = added.iterator
          while (sum <= cap && it.hasNext) {
            val p = new org.apache.hadoop.fs.Path(s"$sink/${it.next()}")
            sum += (try fs.getFileStatus(p).getLen
              catch { case _: java.io.IOException => 0L })
          }
          sum
      }
      val fits = caps.maxFiles.forall(files + vFiles <= _) &&
        caps.maxBytes.forall(bytes + vBytes <= _)
      if (fits || admitted == base) {
        // the single-version floor: the FIRST pending version admits
        // whole even when it alone exceeds the caps — and then the
        // window is full
        admitted = v
        files += vFiles
        bytes += vBytes
        prev = cur
        full = !fits ||
          caps.maxFiles.exists(files >= _) ||
          caps.maxBytes.exists(bytes >= _)
      } else full = true
    }
    admitted
  }

  override def reportLatestOffset(): OffsetV2 = {
    val latest = AtomicIncrement.snapshot(spark, sink)._1
    if (latest <= 0L) null else LongOffset(latest)
  }

  /** Unused once [[SupportsAdmissionControl]] is declared (the runtime
    * routes through [[latestOffset]]); kept as a thin uncapped
    * delegate for any direct caller.
    */
  override def getOffset: Option[OffsetV1] = {
    val latest = AtomicIncrement.snapshot(spark, sink)._1
    if (latest <= 0L) None else Some(LongOffset(latest))
  }

  override def getBatch(start: Option[OffsetV1], end: OffsetV1)
      : DataFrame = {
    val from = start.map(versionOf(_: OffsetV2)).getOrElse(0L)
    val to = versionOf(end)
    val dataCols = dataSchema.fields.toIndexedSeq
      .map(f => col(f.name).cast(f.dataType).as(f.name))
    val window: DataFrame =
      if (from >= to)
        spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          StructType(schema.fields.toIndexedSeq))
      else if (appendOnly) appendOnlyWindow(from, to)
      else if (rowLevel)
        // minimal-rows window: the file-grained frames telescope
        // HERE (changesRowLevel's two-sided EXCEPT ALL), so the
        // subscriber receives only genuinely changed rows — with a
        // declared keyCol, classified into insert/delete/
        // update_preimage/update_postimage
        AtomicIncrement.changesRowLevel(spark, sink, from, to, rowKey)
          .select((dataCols :+ col(ChangeTypeCol)): _*)
          .withColumn(CommitVersionCol, lit(to))
      else {
        val (plus, minus) = AtomicIncrement.changesBetween(
          spark, sink, from, to)
        plus.select(dataCols: _*)
          .withColumn(ChangeTypeCol, lit("insert"))
          .unionByName(minus.select(dataCols: _*)
            .withColumn(ChangeTypeCol, lit("delete")))
          .withColumn(CommitVersionCol, lit(to))
      }
    StreamingFrameBridge.streamingFrame(spark,
      window.select(schema.fieldNames.toIndexedSeq.map(col): _*), schema)
  }

  /** The append-only window: admitted iff the manifest diff PROVES no
    * delete can flow — no file removed, and no delete vector
    * published inside the window that is sequenced above a file both
    * versions share (a dv above only the window's own added files
    * masks rows the subscriber never saw — those die unobserved, as
    * in any snapshot read). The verdict costs two manifest reads and
    * zero data opens; violation fails the stream loudly rather than
    * silently dropping the minus frame.
    */
  private def appendOnlyWindow(from: Long, to: Long): DataFrame = {
    val fromSnap = AtomicIncrement.snapshotAt(spark, sink, from)
    val toSnap = AtomicIncrement.snapshotAt(spark, sink, to)
    val (fromDv, fromData) = (fromSnap.dvs, fromSnap.data)
    val (toDv, toData) = (toSnap.dvs, toSnap.data)
    val fromPaths = fromData.map(_.path).toSet
    val toPaths = toData.map(_.path).toSet
    val removed = fromData.filterNot(e => toPaths.contains(e.path))
    val common = toData.filter(e => fromPaths.contains(e.path))
    val fromDvPaths = fromDv.map(_.path).toSet
    val newDv = toDv.filterNot(e => fromDvPaths.contains(e.path))
    val minCommonSeq = if (common.isEmpty) Long.MaxValue
      else common.map(AtomicIncrement.seqOf).min
    val masksCommon = newDv.exists(d =>
      AtomicIncrement.seqOf(d) > minCommonSeq)
    require(removed.isEmpty && !masksCommon,
      s"append-only graft-atomic stream at $sink: version window " +
        s"($from, $to] is NOT append-only (${removed.size} file(s) " +
        s"removed, ${newDv.size} new delete vector(s)" +
        (if (masksCommon) " masking standing files" else "") +
        ") — subscribe in cdf mode to consume deletes")
    val added = toData.filterNot(e => fromPaths.contains(e.path))
    val dataCols = dataSchema.fields.toIndexedSeq
      .map(f => col(f.name).cast(f.dataType).as(f.name))
    AtomicIncrement.readEffective(spark, sink, added, toDv, dataSchema)
      .select(dataCols: _*)
      .withColumn(ChangeTypeCol, lit("insert"))
      .withColumn(CommitVersionCol, lit(to))
  }

  override def stop(): Unit = ()

  override def toString: String =
    s"GraftAtomicStreamSource[$sink, " +
      s"${if (appendOnly) "append-only" else "cdf"}]"
}

/** STREAMING SINK face — `df.writeStream.format("graft-atomic")`:
  * every micro-batch lands as ONE manifest commit, and the commit
  * kind follows the output mode:
  *
  *  - **Append** (requires `watermarkCol`): each batch is an atomic
  *    watermarked increment — the sink's replay shield IS the
  *    watermark contract (a restarted query's re-delivered batch
  *    filters to zero rows and publishes nothing), so the pipeline is
  *    exactly-once end to end without any sink-side batch log. The
  *    contract demands CROSS-BATCH WATERMARK MONOTONICITY: a
  *    genuinely late row (watermark at or below the committed max)
  *    is dropped by the same gate that dedups replays, and the two
  *    are indistinguishable to the sink. Every non-zero drop is
  *    logged with its count; `failOnLateRows=true` turns it into a
  *    batch failure for streams where late data must never be
  *    silently lost (use Update mode, which has no watermark gate,
  *    when the stream is keyed and genuinely out-of-order).
  *  - **Update** (requires `keyCol`, optional `deleteCol`): each
  *    batch is a copy-on-write MERGE priced by churn-touched files —
  *    rows upsert by key; with `deleteCol`, true rows delete. The
  *    merge contract applies: ≤1 row per key PER BATCH — resolve
  *    within-batch conflicts upstream ([[graft.operators.Cdc.latestView]]
  *    is that resolve; the graft-atomic source's row-level feed emits
  *    ≤1 net change per key per window by snapshot-diff construction).
  *    Replay-safe because the merge is semantically idempotent
  *    (re-upserting the same after-images and re-deleting the same
  *    keys reproduce the same table). The FIRST batch into an empty
  *    sink bootstraps via one OCC snapshot replace (a merge needs a
  *    committed base); its replay falls through to the idempotent
  *    merge path.
  *  - **Complete**: each batch replaces the snapshot (OCC) — the
  *    rollup-table shape.
  *
  * Composed with the SOURCE face this closes the replication loop:
  * `readStream(A, rowLevel) → classify → writeStream(B, Update)` is
  * CDC replication lakehouse-to-lakehouse through public streaming
  * APIs, oracle-pinned by `q_stream_replicate`.
  */
class GraftAtomicStreamSink(sink: String, watermarkCol: Option[String],
    keyCol: Option[String], deleteCol: Option[String],
    mode: org.apache.spark.sql.streaming.OutputMode,
    failOnLateRows: Boolean = false)
    extends org.apache.spark.sql.execution.streaming.Sink {
  import org.apache.spark.sql.streaming.OutputMode
  private val logger =
    org.slf4j.LoggerFactory.getLogger(classOf[GraftAtomicStreamSink])

  override def addBatch(batchId: Long,
      incoming: org.apache.spark.sql.DataFrame): Unit = {
    val spark = incoming.sparkSession
    // the runtime hands the INCREMENTAL (isStreaming) frame; re-wrap
    // its rows as a batch plan before any write action — the
    // ForeachBatchSink move, via the one audited bridge
    val data = StreamingFrameBridge.batchFrame(incoming)
    mode match {
      case m if m == OutputMode.Append() =>
        val wm = watermarkCol.getOrElse(throw new IllegalArgumentException(
          "append-mode graft-atomic sink requires the 'watermarkCol' " +
            "option — the watermark contract is its exactly-once " +
            "shield, and it assumes CROSS-BATCH MONOTONICITY: every " +
            "batch's rows must carry watermarks strictly above all " +
            "previously committed ones, or the gate drops them as " +
            "replays (set failOnLateRows=true to make that fatal)"))
        // the watermark gate cannot distinguish a REPLAYED row from a
        // genuinely LATE one — surface the dropped count so an
        // out-of-order event-time stream's silent loss is visible
        // (round 16, ADVICE); with failOnLateRows the append itself
        // throws BEFORE staging or publish, so a failed batch leaves
        // the table byte-identical
        val res = AtomicIncrement.appendIncrementAtomicCounted(
          data, sink, wm, failOnDropped = failOnLateRows)
        if (res.droppedLate > 0)
          logger.warn(
            s"graft-atomic append sink $sink batch $batchId: " +
              s"watermark gate dropped ${res.droppedLate} row(s) at " +
              s"or below the committed max of '$wm' — replay dedup " +
              "if this batch is a retry, DATA LOSS if the stream " +
              "delivers out-of-order event times (the append " +
              "contract requires cross-batch watermark monotonicity)")
        ()
      case m if m == OutputMode.Complete() =>
        AtomicIncrement.replaceSnapshot(data, sink,
          AtomicIncrement.snapshot(spark, sink)._1)
        ()
      case _ => // Update
        val k = keyCol.getOrElse(throw new IllegalArgumentException(
          "update-mode graft-atomic sink requires the 'keyCol' option " +
            "(rows merge by key)"))
        val del = deleteCol.map(col).getOrElse(lit(false))
        val changes = data.withColumn("__gdel", del)
          .drop(deleteCol.toSeq: _*)
        if (AtomicIncrement.snapshot(spark, sink)._2.isEmpty) {
          // bootstrap: a merge needs a committed base — the first
          // batch must be pure upserts and lands as one OCC replace
          val deletes = changes.filter(col("__gdel")).limit(1).count()
          require(deletes == 0L,
            s"first batch into empty sink $sink carries deletes — " +
              "nothing exists to delete; seed the table first")
          AtomicIncrement.replaceSnapshot(
            changes.drop("__gdel"), sink, 0L)
          ()
        } else {
          AtomicIncrement.mergeAtomic(changes, sink, k, "__gdel")
          ()
        }
    }
  }

  override def toString: String = s"GraftAtomicStreamSink[$sink, $mode]"
}
