package graft.sources

import graft.operators.{AtomicIncrement, ManifestStats}
import graft.operators.Incremental.AllNullFile
import org.apache.hadoop.fs.Path
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, Row, SQLContext}
import org.apache.spark.sql.functions.{col, lit, not}
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types.StructType

/** The manifest-committed atomic sink as a FIRST-CLASS Spark data
  * source, `graft-atomic` (round 14): the lakehouse layer becomes
  * SQL-queryable —
  *
  * {{{
  *   CREATE TEMPORARY VIEW t
  *   USING `graft-atomic` OPTIONS (path '/sinks/orders')
  *   -- then plain SQL:
  *   SELECT o_orderstatus, sum(o_totalprice) FROM t
  *   WHERE o_orderkey > 4500000 GROUP BY 1
  * }}}
  *
  * or `spark.read.format("graft-atomic").option(...).load(sink)`.
  * SCHEMA-EVOLUTION window (standard V1 behavior, spec-pinned): a
  * standing view's COLUMN SET freezes at view creation while its DATA
  * follows the latest snapshot — after a schema-evolving append the
  * old view serves the new rows projected to the old columns (stale
  * columns, never wrong rows; `readEffective` pins the old schema
  * over the evolved files). Re-create the view to surface new columns.
  * Read options: `versionAsOf` (manifest version), `timestampAsOf`
  * (epoch millis, or an ISO-8601 instant — resolved through the
  * manifest-embedded commit stamps), `tag` (a named ref from
  * [[AtomicIncrement.tagVersion]]). Omitting all three reads the
  * LATEST snapshot, re-resolved at every scan (a standing view
  * follows the table, exactly like Delta's); an explicit pin is
  * re-resolved per scan too, so a `tag` view follows a deliberately
  * moved tag.
  *
  * The scan is where the manifest pays off inside Spark's own
  * planner:
  *
  *  - FILE PRUNING from pushed filters: equality/range/IN/prefix
  *    predicates on stats-covered columns drop every file whose
  *    recorded interval provably cannot match, BEFORE any footer is
  *    touched — the same skipping [[AtomicIncrement.readCommittedAbove]]
  *    does for the API consumer, now driven by the SQL WHERE clause.
  *    `IsNotNull` prunes provably-all-null files ([[AtomicIncrement.NullTag]]);
  *    AND/OR compose verdicts conservatively. Files without usable
  *    stats always survive (may-contain).
  *  - ROW-GROUP pushdown: translatable filters are ALSO applied to
  *    the inner parquet read, so parquet's own min/max and dictionary
  *    skipping engage inside each surviving file.
  *  - DELETE VECTORS apply through the shared
  *    [[AtomicIncrement.readEffective]] (sequence rule and all) — a
  *    merge-on-read table reads its effective rows from SQL exactly
  *    as from the API.
  *
  * Every filter is reported UNHANDLED, so Spark re-evaluates the
  * full predicate above the scan: pruning and pushdown are pure
  * performance moves, and a stats bug can only cost speed, never
  * rows — the same may-contain discipline as every manifest read.
  *
  * WHY DataSource V1 (`PrunedFilteredScan`) and not a V2
  * `TableProvider` like [[RestDataSource]]: a V2 `PartitionReader`
  * produces rows partition-locally, but this table's read SEMANTICS
  * are a DataFrame composition — per-sequence-group ANTI-JOINS
  * against the standing delete vectors — which cannot run inside a
  * partition reader without reimplementing the join. V1's contract
  * (`buildScan` returns any `RDD[Row]`) admits the composed plan
  * directly: the RDD handed back IS the pruned, dv-resolved,
  * column-pruned DataFrame's, so Catalyst still sees a parquet scan
  * under the hood (whole-stage codegen, vectorized reader) with this
  * source contributing only the file list and the dv algebra.
  * WRITES: `INSERT INTO` a view declared with a `watermarkCol`
  * option routes through [[AtomicIncrement.appendIncrementAtomic]] —
  * the same two-phase manifest commit, OCC, and high-watermark
  * idempotence as the API (rows at or below the committed watermark
  * are FILTERED, the sink's replay contract — an INSERT is an
  * increment delivery, not a blind row add; a view without the
  * option rejects inserts loudly). `INSERT OVERWRITE` (and
  * `df.write.mode("overwrite")`) is [[AtomicIncrement.replaceSnapshot]]:
  * one OCC snapshot replace. MERGE stays on the API
  * ([[AtomicIncrement.mergeAtomic]]): its churn/key contract has no
  * SQL-option encoding here. Time-travel-pinned views are read-only.
  */
class GraftAtomicSource extends RelationProvider
    with CreatableRelationProvider with DataSourceRegister
    with StreamSourceProvider with StreamSinkProvider {
  override def shortName(): String = "graft-atomic"

  /** `df.writeStream.format("graft-atomic")`: micro-batches land as
    * manifest commits — Append = watermarked increments (the
    * watermark IS the exactly-once shield), Update = copy-on-write
    * merges by `keyCol` (+ optional `deleteCol`), Complete = OCC
    * snapshot replaces. Contract at
    * [[graft.streaming.GraftAtomicStreamSink]].
    */
  override def createSink(sqlContext: SQLContext,
      parameters: Map[String, String], partitionColumns: Seq[String],
      outputMode: org.apache.spark.sql.streaming.OutputMode)
      : org.apache.spark.sql.execution.streaming.Sink = {
    require(partitionColumns.isEmpty,
      "graft-atomic lays data out by manifest + clustering, not " +
        "partitionBy — drop the partitioning clause")
    val sink = parameters.getOrElse("path",
      throw new IllegalArgumentException(
        "graft-atomic requires a 'path' option (the sink root)"))
    new graft.streaming.GraftAtomicStreamSink(sink,
      parameters.get("watermarkCol"), parameters.get("keyCol"),
      parameters.get("deleteCol"), outputMode,
      failOnLateRows = parameters.get("failOnLateRows")
        .exists(_.trim.equalsIgnoreCase("true")))
  }

  // ---- STREAMING source face (round 15): subscribers replace the
  // scheduled version-keyed sync* pulls — offsets are manifest
  // versions, each micro-batch one changesBetween window. Full
  // contract at [[graft.streaming.GraftAtomicStreamSource]]. ----

  private def streamParams(parameters: Map[String, String])
      : (String, Boolean, graft.streaming.AdmissionCaps, Boolean,
        Option[String]) = {
    val sink = parameters.getOrElse("path",
      throw new IllegalArgumentException(
        "graft-atomic requires a 'path' option (the sink root)"))
    val appendOnly = parameters.get("mode") match {
      case None | Some("cdf") => false
      case Some("append-only") => true
      case Some(other) => throw new IllegalArgumentException(
        s"graft-atomic stream mode must be cdf|append-only, got $other")
    }
    def positive(key: String): Option[Long] =
      parameters.get(key).map { v =>
        val n = v.trim.toLong
        require(n > 0, s"$key must be positive, got $n")
        n
      }
    val caps = graft.streaming.AdmissionCaps(
      maxVersions = positive("maxVersionsPerBatch"),
      maxFiles = positive("maxFilesPerBatch"),
      maxBytes = positive("maxBytesPerBatch"))
    val rowLevel = parameters.get("rowLevel").exists(_.trim.toBoolean)
    val rowKey = parameters.get("keyCol")
    require(rowKey.isEmpty || rowLevel,
      "keyCol only classifies a rowLevel=true stream")
    require(!(rowLevel && appendOnly),
      "rowLevel diffs a cdf window; append-only windows are already " +
        "minimal (pure inserts)")
    (sink, appendOnly, caps, rowLevel, rowKey)
  }

  override def sourceSchema(sqlContext: SQLContext,
      schema: Option[StructType], providerName: String,
      parameters: Map[String, String]): (String, StructType) = {
    require(schema.isEmpty,
      "graft-atomic stream schema comes from the committed manifest — " +
        "drop the explicit .schema(...)")
    val (sink, _, _, _, _) = streamParams(parameters)
    (shortName(), graft.streaming.GraftAtomicStreamSource.fullSchema(
      graft.streaming.GraftAtomicStreamSource.dataSchemaOf(
        sqlContext.sparkSession, sink)))
  }

  override def createSource(sqlContext: SQLContext, metadataPath: String,
      schema: Option[StructType], providerName: String,
      parameters: Map[String, String])
      : org.apache.spark.sql.execution.streaming.Source = {
    val (sink, appendOnly, cap, rowLevel, rowKey) =
      streamParams(parameters)
    new graft.streaming.GraftAtomicStreamSource(sqlContext, sink,
      graft.streaming.GraftAtomicStreamSource.dataSchemaOf(
        sqlContext.sparkSession, sink), appendOnly, cap, rowLevel, rowKey)
  }

  override def createRelation(sqlContext: SQLContext,
      parameters: Map[String, String]): BaseRelation = {
    val sink = parameters.getOrElse("path",
      throw new IllegalArgumentException(
        "graft-atomic requires a 'path' option (the sink root)"))
    val pins = Seq("versionAsOf", "timestampAsOf", "tag")
      .flatMap(k => parameters.get(k).map(k -> _))
    require(pins.size <= 1,
      s"at most one of versionAsOf/timestampAsOf/tag: got $pins")
    new GraftAtomicRelation(sqlContext, sink, pins.headOption,
      parameters.get("watermarkCol"))
  }

  /** The `df.write.format("graft-atomic")` path: Append requires the
    * `watermarkCol` option; Overwrite replaces the snapshot;
    * ErrorIfExists/Ignore follow their SaveMode contracts against
    * "a committed snapshot exists".
    */
  override def createRelation(sqlContext: SQLContext,
      mode: org.apache.spark.sql.SaveMode,
      parameters: Map[String, String],
      data: org.apache.spark.sql.DataFrame): BaseRelation = {
    import org.apache.spark.sql.SaveMode._
    val sink = parameters.getOrElse("path",
      throw new IllegalArgumentException(
        "graft-atomic requires a 'path' option (the sink root)"))
    val exists =
      AtomicIncrement.snapshot(data.sparkSession, sink)._2.nonEmpty
    mode match {
      case Overwrite =>
        AtomicIncrement.replaceSnapshot(data, sink,
          AtomicIncrement.snapshot(data.sparkSession, sink)._1)
      case Append =>
        val wm = parameters.getOrElse("watermarkCol",
          throw new IllegalArgumentException(
            "append to graft-atomic requires the 'watermarkCol' " +
              "option — the sink's idempotence contract needs it"))
        AtomicIncrement.appendIncrementAtomic(data, sink, wm)
      case ErrorIfExists if exists =>
        throw new IllegalStateException(
          s"graft-atomic sink already committed at $sink")
      case ErrorIfExists =>
        AtomicIncrement.replaceSnapshot(data, sink, 0L)
      case Ignore if exists => ()
      case Ignore =>
        AtomicIncrement.replaceSnapshot(data, sink, 0L)
    }
    createRelation(sqlContext, parameters)
  }
}

private[graft] object GraftAtomicRelation {
  /** Test probe: (files kept, files committed) of the latest scan,
    * KEYED BY SINK PATH — how the spec pins that SQL WHERE clauses
    * actually skip files. Per-sink scoping (round 15) keeps the pin
    * honest under a parallel query driver: concurrent scans of
    * different graft-atomic relations record into different slots
    * instead of clobbering one process-global cell.
    */
  private val lastScans =
    new java.util.concurrent.ConcurrentHashMap[String, (Int, Int)]()
  private[graft] def recordScan(sink: String, kept: Int,
      committed: Int): Unit = lastScans.put(sink, (kept, committed))
  /** The latest (kept, committed) scan verdict for `sink`; (0, 0)
    * before any scan.
    */
  def lastScanFor(sink: String): (Int, Int) =
    lastScans.getOrDefault(sink, (0, 0))

  /** Resolve a time-travel pin to a manifest version — the ONE
    * translation every pinned face shares (the V1 relation's scan and
    * the catalog's `VERSION AS OF` / `TIMESTAMP AS OF` overloads).
    * `None` = the LATEST version, re-resolved at every call.
    */
  private[graft] def resolveVersion(
      spark: org.apache.spark.sql.SparkSession, sink: String,
      pin: Option[(String, String)]): Long = pin match {
    case None => AtomicIncrement.snapshot(spark, sink)._1
    case Some(("versionAsOf", v)) => v.trim.toLong
    case Some(("timestampAsOf", t)) =>
      val ms = t.trim.toLongOption.getOrElse(
        java.time.Instant.parse(t.trim).toEpochMilli)
      AtomicIncrement.versionAsOf(spark, sink, ms)
    case Some(("tag", name)) =>
      AtomicIncrement.tagVersionOf(spark, sink, name).getOrElse(
        throw new IllegalArgumentException(s"no tag '$name' at $sink"))
    case Some((k, _)) =>
      throw new IllegalArgumentException(s"unknown pin option $k")
  }
}

private[graft] class GraftAtomicRelation(override val sqlContext: SQLContext,
    sink: String, pin: Option[(String, String)],
    watermarkCol: Option[String] = None)
    extends BaseRelation with PrunedFilteredScan with InsertableRelation {

  /** SQL `INSERT INTO` lands as one atomic increment (watermark
    * idempotence included); `INSERT OVERWRITE` as one OCC snapshot
    * replace. Pinned (time-travel) views are read-only — history is
    * immutable here by construction.
    */
  override def insert(data: org.apache.spark.sql.DataFrame,
      overwrite: Boolean): Unit = {
    require(pin.isEmpty,
      s"cannot insert into a time-travel-pinned view ($pin): " +
        "committed history is immutable")
    if (overwrite)
      AtomicIncrement.replaceSnapshot(data, sink,
        AtomicIncrement.snapshot(data.sparkSession, sink)._1)
    else {
      val wm = watermarkCol.getOrElse(
        throw new IllegalArgumentException(
          "INSERT INTO a graft-atomic view needs the view declared " +
            "with a 'watermarkCol' option — the sink's idempotence " +
            "contract needs it"))
      AtomicIncrement.appendIncrementAtomic(data, sink, wm)
    }
    ()
  }

  private def spark = sqlContext.sparkSession

  /** The pinned (or latest) snapshot — re-resolved at every call, so
    * a standing view follows the table (or a moved tag).
    */
  private def resolveSnapshot(): AtomicIncrement.Snapshot = {
    val snap = AtomicIncrement.snapshotAt(spark, sink,
      GraftAtomicRelation.resolveVersion(spark, sink, pin))
    // a SCHEMA-ONLY snapshot (CREATE TABLE before its first INSERT,
    // or a DELETE that emptied the table) reads as an empty frame —
    // the embedded schema line answers the shape
    require(snap.hasSchema, s"no committed snapshot at $sink")
    snap
  }

  override val schema: StructType = resolveSnapshot().schema

  /** Real table size from the manifest's file list (one status call
    * per file, fanned out, computed once per relation) — without this
    * a V1 relation reports `spark.sql.defaultSizeInBytes` (huge) and
    * a small graft-atomic dimension table would NEVER broadcast in a
    * SQL join; with it Catalyst's broadcast threshold sees the truth.
    * Missing files (pinned reader racing a vacuum) count 0 — an
    * underestimate only risks a broadcast that Spark would spill on,
    * never a wrong answer.
    */
  override lazy val sizeInBytes: Long = {
    val data = resolveSnapshot().data
    val fs = new Path(sink).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    AtomicIncrement.inParallel(data) { e =>
      try fs.getFileStatus(new Path(s"$sink/${e.path}")).getLen
      catch { case _: java.io.IOException => 0L }
    }.sum
  }

  // every filter re-evaluates above the scan: pruning/pushdown here
  // are pure performance, a stats bug can never lose rows
  override def unhandledFilters(filters: Array[Filter]): Array[Filter] =
    filters

  override def buildScan(requiredColumns: Array[String],
      filters: Array[Filter]): RDD[Row] = {
    val snap = resolveSnapshot()
    val data = snap.data
    val kept = data.filter(e => filters.forall(f => mayMatch(e, f)))
    GraftAtomicRelation.recordScan(sink, kept.size, data.size)
    // the file-identity metadata column (catalog face) is served from
    // the physical scan's own file attribution — attached INSIDE
    // readEffective, per parquet leaf (input_file_name() refuses to
    // sit above the dv algebra's unions/joins)
    val fileCol = GraftRowLevelOperation.FileCol
    val base = AtomicIncrement.readEffective(spark, sink, kept, snap.dvs,
      schema,
      tagFileCol = if (requiredColumns.contains(fileCol))
        Some(fileCol) else None)
    val pushed = filters.flatMap(translate)
      .foldLeft(base)((df, c) => df.filter(c))
    pushed.select(requiredColumns.toIndexedSeq.map(col): _*).rdd
  }

  private def mayMatch(e: AtomicIncrement.ManifestEntry,
      f: Filter): Boolean = ManifestPruning.mayMatch(e, f)

  private def translate(f: Filter): Option[Column] =
    ManifestPruning.translate(f)
}

/** File-level may-match verdicts from manifest interval stats plus the
  * Filter→Column translation — shared by every face that prunes a
  * snapshot's file list by a SQL predicate: the V1 relation's scan
  * ([[GraftAtomicRelation.buildScan]]) and the catalog table's
  * `DELETE FROM` ([[GraftSqlTable]]'s copy-on-write predicate delete).
  */
private[graft] object ManifestPruning {

  /** False ONLY when the file's recorded stats PROVE no row can
    * satisfy `f` — every uncertainty (no stats, foreign family,
    * unparseable bounds, untranslatable value) answers true.
    */
  private[graft] def mayMatch(e: AtomicIncrement.ManifestEntry,
      f: Filter): Boolean = f match {
    case And(l, r) => mayMatch(e, l) && mayMatch(e, r)
    case Or(l, r) => mayMatch(e, l) || mayMatch(e, r)
    case EqualTo(c, v) => boundsAllow(e, c, v, Cmp.Eq)
    case GreaterThan(c, v) => boundsAllow(e, c, v, Cmp.Gt)
    case GreaterThanOrEqual(c, v) => boundsAllow(e, c, v, Cmp.Ge)
    case LessThan(c, v) => boundsAllow(e, c, v, Cmp.Lt)
    case LessThanOrEqual(c, v) => boundsAllow(e, c, v, Cmp.Le)
    case In(c, vs) => vs.exists(v => boundsAllow(e, c, v, Cmp.Eq))
    case IsNotNull(c) =>
      !e.statsFor(c).exists(_.tag == AtomicIncrement.NullTag)
    // any string with prefix p is >= p in byte order, so a file whose
    // max < p cannot hold one (lower bound left conservative)
    case StringStartsWith(c, p) => boundsAllow(e, c, p, Cmp.Ge)
    // WHERE folded to false (translate maps it to lit(false)):
    // provably no row matches, so no file is touched — a predicate
    // DELETE with such a WHERE carries everything and publishes
    // nothing instead of copy-on-write rewriting the whole table as
    // a no-op (round 16, ADVICE)
    case _: AlwaysFalse => false
    case _ => true // IsNull, Not(...), unknown shapes: may contain
  }

  private object Cmp extends Enumeration {
    val Eq, Gt, Ge, Lt, Le = Value
  }

  /** Interval verdicts per comparison: with file bounds [lo, hi], a
    * row `= v` may exist iff lo ≤ v ≤ hi; `> v` iff hi > v; `≥ v` iff
    * hi ≥ v; `< v` iff lo < v; `≤ v` iff lo ≤ v.
    */
  private def verdict(cmpLo: Int, cmpHi: Int, op: Cmp.Value): Boolean =
    op match {
      // cmpLo = sign of (lo − v), cmpHi = sign of (hi − v)
      case Cmp.Eq => cmpLo <= 0 && cmpHi >= 0
      case Cmp.Gt => cmpHi > 0
      case Cmp.Ge => cmpHi >= 0
      case Cmp.Lt => cmpLo < 0
      case Cmp.Le => cmpLo <= 0
    }

  /** The verdict from the file's decoded bounds for `c`
    * ([[ManifestStats.signs]]): an all-null file matches no comparison;
    * no stats, damaged stats or a value the family cannot compare
    * exactly keep the file.
    */
  private def boundsAllow(e: AtomicIncrement.ManifestEntry, c: String,
      v: Any, op: Cmp.Value): Boolean =
    e.statsFor(c).forall(fc => ManifestStats.decode(fc) match {
      case Some(AllNullFile) => false
      case Some(st) => ManifestStats.signs(fc.tag, st, v)
        .forall { case (lo, hi) => verdict(lo, hi, op) }
      case None => true
    })

  // ---- Filter → Column, for parquet row-group pushdown inside the
  // surviving files (Spark still re-applies everything on top) and
  // for the catalog DELETE's survivor predicate ----

  private[graft] def translate(f: Filter): Option[Column] = f match {
    case EqualTo(c, v) => Some(col(c) === lit(v))
    case GreaterThan(c, v) => Some(col(c) > lit(v))
    case GreaterThanOrEqual(c, v) => Some(col(c) >= lit(v))
    case LessThan(c, v) => Some(col(c) < lit(v))
    case LessThanOrEqual(c, v) => Some(col(c) <= lit(v))
    case In(c, vs) => Some(col(c).isin(vs.toIndexedSeq: _*))
    case IsNull(c) => Some(col(c).isNull)
    case IsNotNull(c) => Some(col(c).isNotNull)
    case StringStartsWith(c, p) => Some(col(c).startsWith(p))
    case StringEndsWith(c, p) => Some(col(c).endsWith(p))
    case StringContains(c, p) => Some(col(c).contains(p))
    case And(l, r) =>
      for (a <- translate(l); b <- translate(r)) yield a && b
    case Or(l, r) =>
      for (a <- translate(l); b <- translate(r)) yield a || b
    case Not(x) => translate(x).map(not)
    // DELETE FROM t (no WHERE) arrives as AlwaysTrue via the
    // TruncatableTable default; keep both constants total here
    case _: AlwaysTrue => Some(lit(true))
    case _: AlwaysFalse => Some(lit(false))
    case _ => None
  }
}
