package graft.operators

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import Incremental.{AllNullFile, BinaryStats, DoubleStats, LongStats}

/** Manifest-committed incremental sink (SURVEY §7.5 #7's transactional
  * gap): a watermark append into a plain parquet directory is
  * idempotent on replay, but a crash mid-append exposes a partial file
  * set to concurrent readers, and the re-run's watermark then filters
  * the rest of the batch out. This layout closes that with a two-phase
  * commit — the snapshot-isolation core of the Delta/Iceberg commit
  * protocol, without the formats:
  *
  *  1. STAGE: the increment is written to `<sink>/_data/batch-<id>/`.
  *     `_data` is a hidden directory — plain `spark.read.parquet`,
  *     recursive listings, and footer-stats sweeps all skip it, so
  *     staged files are invisible everywhere until committed.
  *  2. PUBLISH: a new manifest version — the COMPLETE data-file list,
  *     prior snapshot plus the staged files, one relative path per
  *     line — is written to a temp name and moved to
  *     `_graft_manifest/<version>`. The move is the commit point:
  *     readers resolve the highest version and read exactly its file
  *     list, so they see the old snapshot or the new one, never a
  *     partial append. (The move refuses an existing version
  *     atomically: a hard link on `file:`, a no-overwrite rename on
  *     HDFS; object stores need their atomic-commit primitive behind
  *     the same seam.)
  *
  * Crash anywhere before the move → orphaned staged files the next
  * run ignores (its watermark comes from the committed snapshot, so
  * the delta is recomputed in full) and [[vacuumUncommitted]] GCs.
  * Concurrent writers: the loser's move hits an existing version,
  * its staged batch is deleted, and it throws — re-run converges on
  * the winner's snapshot (optimistic concurrency, one winner per
  * version).
  *
  * At 100 TB: the manifest is O(files) lines of text, the watermark
  * stays a footer-stats read over the committed list, and data files
  * are never moved or rewritten — commit cost is one small-file write
  * + one move regardless of data size.
  */
object AtomicIncrement {

  private val ManifestDir = "_graft_manifest"
  private[graft] val DataDir = "_data"

  private def fsOf(spark: SparkSession, path: String): FileSystem =
    new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Driver-side FS fan-out with a bounded pool — the vacuum walks
    * (one listing per batch dir, one delete per dead file) are pure
    * metadata round trips, and a serial loop over 10⁵ dirs is minutes
    * of wall-clock on object storage that a few dozen concurrent
    * requests collapse. Hadoop FileSystem instances are thread-safe
    * for list/delete.
    */
  private[graft] def inParallel[A, B](items: Seq[A], maxThreads: Int = 32)(
      f: A => B): Seq[B] = {
    if (items.isEmpty) Nil
    else if (items.size == 1) Seq(f(items.head))
    else {
      val pool = java.util.concurrent.Executors.newFixedThreadPool(
        math.min(maxThreads, items.size))
      try items.map(a => pool.submit(
          new java.util.concurrent.Callable[B] { def call(): B = f(a) }))
        .map(_.get())
      finally { pool.shutdown(); () }
    }
  }

  /** One manifest line: a sink-relative data-file path, optionally
    * carrying footer-derived (min, max) statistics for ANY NUMBER of
    * columns — the Delta-log data-skipping idea reduced to one
    * tab-separated line of repeating groups,
    * `path[\tcolumn\ttypeTag\tmin\tmax]*`:
    *  - the watermark resolves from the manifest alone (zero footer
    *    round trips over a 100 k-file snapshot),
    *  - [[readCommittedAbove]] prunes files whose interval provably
    *    cannot satisfy a `column > lower` consumer, and
    *  - [[mergeAtomic]] prunes its rewrite set on the MERGE KEY's
    *    interval — which multi-column lines decouple from the
    *    watermark: a table watermarked by event time and merged by id
    *    records both.
    * Stats are RECORDED AT STAGE TIME from the just-written files'
    * footers (batch-local, cheap) and ride every later manifest
    * verbatim — data files are immutable, so the stats never go
    * stale. Path-only lines (pre-stats manifests, or types footer
    * stats can't answer exactly) parse fine and simply never prune;
    * single-group lines from older manifests parse identically.
    * Batch dirs are UUID-named and Spark part-file names carry no
    * tabs, so the separator is unambiguous.
    */
  private[graft] final case class ManifestEntry(path: String,
      allStats: Seq[FileColumnStats]) {
    def render: String =
      (path +: allStats.flatMap(s =>
        Seq(s.column, s.tag, s.min, s.max))).mkString("\t")
    /** The entry's stats for `column`, if recorded. */
    def statsFor(column: String): Option[FileColumnStats] =
      allStats.find(_.column.equalsIgnoreCase(column))
  }

  /** Stats in the footer's primitive domain: `tag` names the column
    * type family the min/max strings decode under (`ts` = micros,
    * `date` = unix days, integral by cast, `double`/`float` as IEEE,
    * `string` = base64 of the bound's UTF-8 bytes — raw bounds could
    * carry the manifest's own tab/newline separators, and byte-space
    * is the order parquet's UNSIGNED UTF8 comparator ranked them in).
    */
  private[graft] final case class FileColumnStats(column: String,
      tag: String, min: String, max: String)

  private[graft] val integralTags = Set("long", "int", "short", "byte")

  /** Reserved manifest stats-group column names — metadata riding the
    * stats-group syntax, never real table columns:
    *  - `__graft_dv` marks a DELETE-VECTOR line (the [[mergeOnReadAtomic]]
    *    path): the entry's file holds deleted KEYS, not rows; min/max
    *    carry the base64 merge-key column name.
    *  - `__graft_seq` is the commit SEQUENCE a data or dv file was
    *    staged at (Iceberg's sequence-number idea): a dv masks only
    *    data files with a STRICTLY smaller sequence, so a later
    *    re-upsert of a deleted key is never swallowed by the old
    *    tombstone. Data lines without the group sit at sequence 0.
    */
  private val DvCol = "__graft_dv"
  private val SeqCol = "__graft_seq"

  /** Reserved stats group `__graft_rows` (round 14): the file's EXACT
    * row count, stamped at stage time from the parquet footer
    * (min = max = count). It makes the manifest a COUNT index —
    * [[statsAggregate]] answers `count(*)` (and min/max on covered
    * columns) from the manifest alone, zero data-file reads over a
    * 10⁵-file snapshot (the Iceberg metadata-table / Delta
    * stats-only-query move). Files staged before the group existed
    * parse fine and simply disable the metadata count (fallback is
    * the ordinary scan — conservative like every stats gap here).
    */
  private[graft] val RowsCol = "__graft_rows"
  private val ReservedStatsCols = Set(DvCol, SeqCol, RowsCol)

  /** Stats tag for a PROVABLY ALL-NULL column chunk set (round 14):
    * footers report "no non-null value" distinctly from "no stats",
    * and recording that as `null`-tagged bounds (empty min/max) keeps
    * the column COVERED across rewrites — an all-null file
    * contributes nothing to [[statsAggregate]]'s min/max (exactly
    * SQL's null-ignoring aggregate semantics) instead of forcing the
    * whole table to the scan fallback. Every interval consumer treats
    * the tag conservatively: a file with zero non-null values can
    * never satisfy a `col > x` watermark read or contain a (non-null
    * by contract) churned merge key, so those paths skip it EXACTLY;
    * anything else falls through to may-contain like any unusable
    * stats group.
    */
  private[graft] val NullTag = "null"

  /** Reserved manifest LINE (round 14): the first line of every new
    * manifest is `__graft_commit\t__graft_ts\tlong\t<ms>\t<ms>` — the
    * commit wall-clock stamped INTO the manifest, riding the ordinary
    * stats-group syntax so old parsers would read it as one more
    * entry and new ones filter it by path. [[readVersionAsOf]]
    * prefers it over filesystem mtime, which a DistCp/backup-restore
    * scrambles silently; manifests written before the stamp existed
    * fall back to mtime.
    *
    * The same line carries a `__graft_batch` group on a sink the CDC
    * folds write: the highest batch id folded into it, the folds'
    * exactly-once key (Delta's `txn` action, one id per sink). Every
    * commit writes it — a fold its new id, any other commit the id of
    * the snapshot it lands on — so a rewrite never loses it.
    */
  private val CommitMetaPath = "__graft_commit"
  private val TsCol = "__graft_ts"
  private val BatchCol = "__graft_batch"

  /** The per-row state columns the folds recorded their batch id in
    * before the commit line carried it (`IncrementalAgg`'s CDC folds,
    * `AggStream`). A legacy manifest answers [[Snapshot.lastBatch]]
    * from their exact stats; a fold drops them from the state it
    * reads.
    */
  private val LegacyBatchCols = Seq("__b", "__lastBatch")

  /** MANIFEST-EMBEDDED SCHEMA (round 16): a second reserved line
    * carrying the snapshot's merged data schema as base64(JSON) —
    * the Delta-log "schema lives in the log" move. Every
    * schema-needing face (stream start, catalog load, predicate
    * DELETE/UPDATE, pruned reads, feed windows) used to pay a
    * first-touch mergeSchema FOOTER SWEEP over all committed files
    * (O(files) small reads — measured as the dominant 32× residual
    * in `sqldelete` 3.01 / `streamwin` 1.88); with the schema in the
    * manifest, [[Snapshot.schema]] resolves O(manifest) even in a
    * fresh process or on a fresh table. Back-compat READ-side only: a
    * manifest without the line falls back to the footer sweep exactly
    * as before (and upgrades on its next commit, since the writer's
    * snapshot sweeps once and the publish embeds the result). The REVERSE
    * direction is a declared break: a pre-round-16 binary filters
    * only `__graft_commit` and would parse this line (and any later
    * reserved line) as a data file, then fail every read trying to
    * open `sink/__graft_schema` as parquet — round-16+ manifests are
    * not readable by older binaries. From round 17 this binary
    * filters reserved lines by the `__graft_` path PREFIX, so any
    * FUTURE reserved line is ignored generically here.
    * The embedded schema is normalized ALL-NULLABLE, matching what a
    * parquet footer sweep reports — a writer-declared non-null field
    * must not suppress codegen null checks over files an evolving
    * append left without the column.
    */
  private val SchemaMetaPath = "__graft_schema"

  /** MONOTONE WATERMARK FLOOR (round 16): a destructive commit (a
    * predicate DELETE of the newest rows, a CoW merge-delete) can
    * LOWER a column's live manifest max — and the append gate, which
    * resolves its replay shield from that max, would then re-admit a
    * replayed batch whose rows were already delivered and since
    * deleted. This reserved line closes the hazard structurally: it
    * carries, per stats-covered column, the highest max ANY version
    * ever committed (never lowered by rewrites — each publish folds
    * `max(prior floor, new version's recorded maxes)`), and
    * [[appendGated]] filters against `greatest(live max, floor)`.
    * A column's floor is conservative-LOW by construction (files
    * without usable stats contribute nothing), so it can only ever
    * fail toward the pre-round-16 behavior, never drop genuinely new
    * rows. [[replaceSnapshot]] RESETS floors to the replacing data's
    * own maxes — a full replace is a deliberate new history (the
    * Complete-mode streaming sink's contract), not a destructive
    * edit of the old one. Legacy manifests without the line behave
    * exactly as before until their next commit writes one.
    */
  private val FloorMetaPath = "__graft_wmfloor"

  private def commitMetaLine(ms: Long, batch: Option[Long]): String = {
    def group(c: String, v: Long) =
      FileColumnStats(c, "long", v.toString, v.toString)
    ManifestEntry(CommitMetaPath,
      group(TsCol, ms) +: batch.map(group(BatchCol, _)).toSeq).render
  }

  private def schemaMetaLine(
      schema: org.apache.spark.sql.types.StructType): String =
    ManifestEntry(SchemaMetaPath, Seq(FileColumnStats(SchemaMetaPath,
      "json", java.util.Base64.getEncoder.encodeToString(
        schema.json.getBytes(java.nio.charset.StandardCharsets.UTF_8)),
      "-"))).render

  /** Reserved metadata lines — never data, never dv. Matched by the
    * `__graft_` path PREFIX (not an enumerated set) so a reserved
    * line introduced by a FUTURE version is ignored generically by
    * this binary instead of being misread as a data file. Data paths
    * are engine-generated under `_data/`, so the prefix can never
    * collide with a real file.
    */
  private[graft] val ReservedPathPrefix = "__graft_"
  private def isMeta(e: ManifestEntry): Boolean =
    e.path.startsWith(ReservedPathPrefix)

  private def decodeSchemaMeta(e: ManifestEntry)
      : Option[org.apache.spark.sql.types.StructType] =
    e.statsFor(SchemaMetaPath).flatMap { s =>
      try Some(org.apache.spark.sql.types.DataType.fromJson(
        new String(java.util.Base64.getDecoder.decode(s.min),
          java.nio.charset.StandardCharsets.UTF_8))
        .asInstanceOf[org.apache.spark.sql.types.StructType])
      catch { case _: Exception => None } // unknown future shape: sweep
    }

  private[graft] def isDv(e: ManifestEntry): Boolean =
    e.statsFor(DvCol).nonEmpty

  private[graft] def seqOf(e: ManifestEntry): Long =
    e.statsFor(SeqCol).flatMap(s => s.min.toLongOption).getOrElse(0L)

  private[graft] def dvKeyColOf(e: ManifestEntry): String =
    new String(java.util.Base64.getDecoder.decode(
      e.statsFor(DvCol).get.min), java.nio.charset.StandardCharsets.UTF_8)

  private[graft] def stampSeq(e: ManifestEntry, seq: Long): ManifestEntry =
    e.copy(allStats = e.allStats :+
      FileColumnStats(SeqCol, "long", seq.toString, seq.toString))

  private[graft] def tagOf(dt: org.apache.spark.sql.types.DataType): Option[String] = {
    import org.apache.spark.sql.types._
    dt match {
      case LongType => Some("long")
      case IntegerType => Some("int")
      case ShortType => Some("short")
      case ByteType => Some("byte")
      case TimestampType => Some("ts")
      case DateType => Some("date")
      case DoubleType => Some("double")
      case FloatType => Some("float")
      case StringType => Some("string")
      case _ => None
    }
  }

  private def parseLine(line: String): ManifestEntry = {
    val parts = line.split("\t", -1)
    val groups = parts.tail.grouped(4).toSeq
    // a ragged tail (unknown future shape) keeps the path and every
    // complete group, dropping only what can't be read
    ManifestEntry(parts.head, groups.collect {
      case Array(c, t, mn, mx) => FileColumnStats(c, t, mn, mx)
    })
  }

  /** Every retained manifest version with its file, ascending: the one
    * listing of `_graft_manifest`.
    */
  private def manifestVersions(fs: FileSystem,
      sink: String): Seq[(Long, FileStatus)] = {
    val dir = new Path(sink, ManifestDir)
    if (!fs.exists(dir)) Nil
    else fs.listStatus(dir).toSeq
      .flatMap(st => st.getPath.getName.toLongOption.map(_ -> st))
      .sortBy(_._1)
  }

  /** (version, manifest path) of the latest commit, if any. */
  private def latestManifest(fs: FileSystem,
      sink: String): Option[(Long, Path)] =
    manifestVersions(fs, sink).lastOption.map(v => v._1 -> v._2.getPath)

  /** ONE parsed manifest: its version, data lines, delete-vector
    * lines, the embedded `__graft_schema` line, the watermark floors
    * ([[FloorMetaPath]]) and the last folded batch id (the commit
    * line's `__graft_batch` group). Every reader and writer works from
    * one of these, so nothing about a snapshot is re-read or kept
    * beside it. Immutable like the manifest it came from.
    */
  private[graft] final case class Snapshot(version: Long,
      data: Seq[ManifestEntry], dvs: Seq[ManifestEntry],
      embeddedSchema: Option[org.apache.spark.sql.types.StructType],
      floors: Seq[FileColumnStats], lastBatch: Option[Long])(
      spark: SparkSession, sink: String) {

    /** Whether anything can answer the schema: the embedded line, or
      * data files to sweep. A legacy schema-only manifest has neither.
      */
    def hasSchema: Boolean = embeddedSchema.nonEmpty || data.nonEmpty

    /** The merged data schema (dv files hold keys, not rows): the
      * embedded line, or — for a manifest written before the line
      * existed — one mergeSchema footer sweep over the data files,
      * paid at most once per Snapshot.
      */
    lazy val schema: org.apache.spark.sql.types.StructType =
      embeddedSchema.getOrElse {
        if (data.isEmpty) throw new IllegalStateException(
          s"schema-only snapshot at $sink has no __graft_schema line " +
            "(pre-round-16 manifest?) — nothing can answer its schema")
        spark.read.option("mergeSchema", "true")
          .parquet(data.map(e => s"$sink/${e.path}"): _*).schema
      }
  }

  /** Whether folding `batchId` into `snap`'s state would replay a
    * batch: the id is at or below [[Snapshot.lastBatch]]. A legacy
    * state (it still has a per-row batch column) whose manifest
    * answers no id cannot tell, so it fails instead of folding again.
    */
  private[graft] def isReplay(snap: Snapshot, sink: String,
      batchId: Long): Boolean = {
    if (snap.lastBatch.isEmpty && snap.hasSchema &&
        snap.schema.fieldNames.exists(LegacyBatchCols.contains))
      throw new IllegalStateException(s"fold state at $sink has a " +
        "legacy batch column but its manifest records no batch id")
    snap.lastBatch.exists(batchId <= _)
  }

  /** A fold's prior state, None before the first fold: `snap`'s rows
    * minus any legacy batch column, which the fold's commit drops.
    */
  private[graft] def readFoldState(spark: SparkSession, sink: String,
      snap: Snapshot): Option[DataFrame] =
    if (snap.data.isEmpty) None
    else Some(readSnapshot(spark, sink, snap).drop(LegacyBatchCols: _*))

  /** The latest snapshot of a sink a stream writes. While the sink has
    * no manifest, a dir holding `batch=<id>` dirs is refused: the
    * pre-manifest stream layout wrote it, and reading it as empty would
    * silently re-admit every document it holds.
    */
  private[graft] def streamSnapshot(spark: SparkSession,
      sink: String): Snapshot = {
    val snap = latestSnapshot(spark, sink)
    if (snap.version == 0L) {
      val fs = fsOf(spark, sink)
      val dir = new Path(sink)
      if (fs.exists(dir) &&
          fs.listStatus(dir).exists(_.getPath.getName.startsWith("batch=")))
        throw new IllegalStateException(s"$sink holds batch=<id> dirs " +
          "but no committed manifest: the pre-manifest stream layout " +
          "wrote it — rebuild it as a graft sink from its rows, or point " +
          "the stream at a new dir")
    }
    snap
  }

  /** The committed rows of a sink a stream writes, None while it holds
    * no data file ([[streamSnapshot]]'s refusal applies).
    */
  private[graft] def readStreamState(spark: SparkSession,
      sink: String): Option[DataFrame] = {
    val snap = streamSnapshot(spark, sink)
    if (snap.data.isEmpty) None else Some(readSnapshot(spark, sink, snap))
  }

  /** The replay-checked apply of a stream-maintained sink: `write` runs
    * with the batch id to record unless `batchId` is at or below the
    * one the sink's commit line holds ([[isReplay]]). A crash before the
    * publish leaves the snapshot as it was, and the replay applies. The
    * id is per sink, so ONE stream, keeping its checkpoint, writes a
    * sink: a second stream with a fresh checkpoint has its batches
    * skipped as replays. Returns whether the call applied.
    */
  private[graft] def applyOnce(spark: SparkSession, sink: String,
      batchId: Long)(write: (Snapshot, Option[Long]) => Unit): Boolean = {
    val snap = streamSnapshot(spark, sink)
    val fresh = !isReplay(snap, sink, batchId)
    if (fresh) write(snap, Some(batchId))
    fresh
  }

  /** [[applyOnce]] of one [[appendBlindAtomic]]: an empty `df` on a
    * sink holding data publishes nothing, so its replay is a no-op too.
    */
  private[graft] def appendOnce(df: DataFrame, sink: String,
      batchId: Long): Boolean =
    applyOnce(df.sparkSession, sink, batchId) { (_, batch) =>
      appendBlindAtomic(df, sink, batch); ()
    }

  private def manifestPath(sink: String, version: Long): Path =
    new Path(new Path(sink, ManifestDir), f"$version%020d")

  /** The one manifest parse. Meta lines never reach the entry lists. */
  private def parseSnapshot(spark: SparkSession, sink: String,
      fs: FileSystem, version: Long, mf: Path): Snapshot = {
    val in = fs.open(mf)
    val all = try scala.io.Source.fromInputStream(in, "UTF-8")
      .getLines().filter(_.nonEmpty).map(parseLine).toList
      finally in.close()
    val (meta, entries) = all.partition(isMeta)
    val (dvs, data) = entries.partition(isDv)
    // a manifest written before the commit line carried the batch id
    // answers from the exact max of its state's legacy batch column
    val lastBatch = meta.find(_.path == CommitMetaPath)
      .flatMap(_.statsFor(BatchCol)).flatMap(_.min.toLongOption)
      .orElse(LegacyBatchCols.view.flatMap(manifestMaxLong(data, _))
        .headOption)
    Snapshot(version, data, dvs,
      meta.find(_.path == SchemaMetaPath).flatMap(decodeSchemaMeta),
      meta.find(_.path == FloorMetaPath).map(_.allStats).getOrElse(Nil),
      lastBatch)(spark, sink)
  }

  /** The latest committed snapshot — version 0 with nothing in it
    * before the first commit. The version is the writer's
    * optimistic-concurrency token: a commit publishes at version+1
    * and fails if that version exists.
    */
  private[graft] def latestSnapshot(spark: SparkSession,
      sink: String): Snapshot = {
    val fs = fsOf(spark, sink)
    latestManifest(fs, sink) match {
      case None => Snapshot(0L, Nil, Nil, None, Nil, None)(spark, sink)
      case Some((v, mf)) => parseSnapshot(spark, sink, fs, v, mf)
    }
  }

  /** The snapshot manifest `version` committed. Version 0 is the
    * empty pre-first-commit snapshot (no manifest file exists for it,
    * by construction).
    */
  private[graft] def snapshotAt(spark: SparkSession, sink: String,
      version: Long): Snapshot = {
    if (version == 0L)
      return Snapshot(0L, Nil, Nil, None, Nil, None)(spark, sink)
    val fs = fsOf(spark, sink)
    val mf = manifestPath(sink, version)
    require(fs.exists(mf), s"no manifest version $version at $sink")
    parseSnapshot(spark, sink, fs, version, mf)
  }

  /** (version, data-file paths relative to the sink root) of the
    * committed snapshot — (0, empty) before the first commit.
    * Delete-vector lines are NOT data files and are excluded (their
    * lifecycle is [[committedLivePaths]]').
    */
  def snapshot(spark: SparkSession, sink: String): (Long, Seq[String]) = {
    val s = latestSnapshot(spark, sink)
    (s.version, s.data.map(_.path))
  }

  /** [[latestSnapshot]] as (version, data lines, delete-vector lines). */
  private[graft] def snapshotSplit(spark: SparkSession, sink: String)
      : (Long, Seq[ManifestEntry], Seq[ManifestEntry]) = {
    val s = latestSnapshot(spark, sink)
    (s.version, s.data, s.dvs)
  }

  /** [[latestSnapshot]] as (version, data lines ++ delete-vector lines). */
  private[graft] def snapshotEntries(spark: SparkSession,
      sink: String): (Long, Seq[ManifestEntry]) = {
    val s = latestSnapshot(spark, sink)
    (s.version, s.data ++ s.dvs)
  }

  /** Data-file paths (relative to the sink root) of the committed
    * snapshot — empty before the first commit.
    */
  def committedFiles(spark: SparkSession, sink: String): Seq[String] =
    snapshot(spark, sink)._2

  /** EVERY path the latest manifest — or any TAGGED manifest (round
    * 14) — keeps alive: data files AND delete-vector files, the
    * liveness root the vacuums walk (a dv reclaimed while its
    * manifest line stands would resurrect deleted rows; a tagged
    * snapshot's file reclaimed would break the tag's pin silently).
    * A tag pointing at an expired/missing manifest throws here —
    * LOUDLY failing the vacuum rather than quietly deleting what the
    * tag meant to pin.
    */
  private def committedLivePaths(spark: SparkSession,
      sink: String): Seq[String] = {
    def paths(s: Snapshot) = (s.data ++ s.dvs).map(_.path)
    val latest = paths(latestSnapshot(spark, sink))
    val pinned = pinnedVersionsStrict(spark, sink)
    if (pinned.isEmpty) latest
    else (latest ++ pinned.flatMap(v =>
      paths(snapshotAt(spark, sink, v)))).distinct
  }

  /** The committed snapshot as a DataFrame (under the snapshot's
    * merged schema — a file written before a column was added reads
    * it as null), with any delete vectors APPLIED:
    * a table carrying merge-on-read tombstones reads its effective
    * rows here, exactly what the copy-on-write result would hold.
    * Throws before the first commit.
    */
  def readCommitted(spark: SparkSession, sink: String): DataFrame =
    readSnapshot(spark, sink, latestSnapshot(spark, sink))

  /** [[readCommitted]] of a snapshot already in hand. */
  private[graft] def readSnapshot(spark: SparkSession, sink: String,
      snap: Snapshot): DataFrame = {
    require(snap.data.nonEmpty, s"no committed snapshot at $sink")
    readEffective(spark, sink, snap.data, snap.dvs, snap.schema)
  }

  /** The one-column schema [[ChurnKeys.toDf]] writes every delete-
    * vector file under (merge-on-read is the only dv writer): the key
    * as a long for an integral table key, as a string for a string
    * one. Reading dv files under it opens no footer to learn it.
    */
  private[graft] def dvSchema(keyCol: String,
      tableSchema: org.apache.spark.sql.types.StructType)
      : org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types._
    val isString = tableSchema.fields.find(_.name.equalsIgnoreCase(keyCol))
      .exists(_.dataType == StringType)
    StructType(Seq(StructField(keyCol,
      if (isString) StringType else LongType)))
  }

  /** The keys the dv files `dvs` tombstone, one column `keyCol`. */
  private def readDvKeys(spark: SparkSession, sink: String,
      dvs: Seq[ManifestEntry], keyCol: String,
      tableSchema: org.apache.spark.sql.types.StructType): DataFrame =
    spark.read.schema(dvSchema(keyCol, tableSchema))
      .parquet(dvs.map(e => s"$sink/${e.path}"): _*)
      .select(col(keyCol))

  /** Read `dataSubset` under `schema` with the snapshot's delete
    * vectors applied — the Iceberg equality-delete rule: a dv masks
    * exactly the data files whose sequence is STRICTLY below its own,
    * so a key deleted at sequence s and re-upserted at s' > s keeps
    * its new row. The
    * subset's files group by sequence (one group per distinct commit
    * sequence still standing — bounded by the commits since the last
    * compaction, which folds every dv away), each group anti-joins the
    * union of the dvs above it, and the groups union back. With no dvs
    * this is exactly the plain schema-pinned read.
    *
    * `schema` is the FULL snapshot's ([[Snapshot.schema]]), so a read
    * plans with ZERO jobs and a pruned subset never loses an evolved
    * column only its pruned files carry.
    */
  private[graft] def readEffective(spark: SparkSession, sink: String,
      dataSubset: Seq[ManifestEntry], dvE: Seq[ManifestEntry],
      schema: org.apache.spark.sql.types.StructType,
      tagFileCol: Option[String] = None): DataFrame = {
    // `tagFileCol`: attach `input_file_name()` under that name
    // DIRECTLY ABOVE EACH parquet leaf (round 16, the `_graft_file`
    // metadata column) — the expression refuses to sit above a union
    // or join of sources ("does not support more than one source"),
    // so the tag must ride each single-relation read before the dv
    // algebra composes them.
    def tag(df: DataFrame): DataFrame = tagFileCol match {
      case Some(c) => df.withColumn(c, input_file_name())
      case None => df
    }
    def plain(files: Seq[ManifestEntry]): DataFrame =
      if (files.isEmpty) tagFileCol.foldLeft(spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema))(
          (df, c) => df.withColumn(c, lit("")))
      else tag(spark.read.schema(schema)
        .parquet(files.map(e => s"$sink/${e.path}"): _*))
    if (dvE.isEmpty || dataSubset.isEmpty) return plain(dataSubset)
    val keyCols = dvE.map(dvKeyColOf).distinct
    require(keyCols.size == 1,
      s"delete vectors disagree on the merge key at $sink: $keyCols")
    val keyCol = keyCols.head
    dataSubset.groupBy(seqOf).toSeq.sortBy(_._1).map { case (s, group) =>
      val masks = dvE.filter(d => seqOf(d) > s)
      if (masks.isEmpty) plain(group)
      else {
        // dv LOCALITY (round 14): dv lines staged since this round
        // carry the churn's own keyCol interval, so a data file whose
        // interval is provably DISJOINT from every applicable dv's
        // skips the anti-join entirely — on a key-clustered 10⁵-file
        // table a localized deferred delete prices the read debt at
        // its churn's file locality instead of one table-wide
        // anti-join per dv window. Files or dvs without usable stats
        // stay on the maybe side (may-contain, the universal fallback
        // here), which is also what every pre-round-14 dv line does.
        val (clean, maybe) = group.partition(f =>
          masks.forall(d => intervalsDisjoint(
            f.statsFor(keyCol), d.statsFor(keyCol))))
        val maskedSide =
          if (maybe.isEmpty) None
          else Some(plain(maybe).join(
            readDvKeys(spark, sink, masks, keyCol, schema).distinct()
              .withColumnRenamed(keyCol, "__dvk"),
            col(keyCol) === col("__dvk"), "left_anti"))
        (clean, maskedSide) match {
          case (Nil, Some(m)) => m
          case (c, None) => plain(c)
          case (c, Some(m)) => plain(c).unionByName(m)
        }
      }
    }.reduce(_ unionByName _)
  }

  /** True only when BOTH stats are present, both integral or both
    * string, decodable, and their [min, max] intervals provably do not
    * intersect — every uncertainty answers false (may overlap), keeping
    * all interval decisions conservative.
    */
  private def intervalsDisjoint(a: Option[FileColumnStats],
      b: Option[FileColumnStats]): Boolean = {
    def keyBounds(s: Option[FileColumnStats]) = s
      .filter(fc => integralTags.contains(fc.tag) || fc.tag == "string")
      .flatMap(ManifestStats.decode)
    (keyBounds(a), keyBounds(b)) match {
      case (Some(LongStats(amn, amx)), Some(LongStats(bmn, bmx))) =>
        amx < bmn || amn > bmx
      case (Some(BinaryStats(amn, amx)), Some(BinaryStats(bmn, bmx))) =>
        ManifestStats.cmp(amx, bmn) < 0 || ManifestStats.cmp(amn, bmx) > 0
      case _ => false
    }
  }

  /** Time travel: the snapshot EXACTLY as manifest `version` committed
    * it. Every manifest is immutable and lists its complete file set,
    * so any version remains readable until [[vacuumUncommitted]]
    * reclaims batch dirs the latest manifest no longer references —
    * the same manifest-retention trade as Delta/Iceberg time travel.
    */
  def readVersion(spark: SparkSession, sink: String,
      version: Long): DataFrame = {
    val snap = snapshotAt(spark, sink, version)
    require(snap.data.nonEmpty, s"no manifest version $version at $sink")
    readEffective(spark, sink, snap.data, snap.dvs, snap.schema)
  }

  /** Time travel by TIMESTAMP: the snapshot of the latest version
    * whose commit time is at or before `tsMillis` (epoch ms). The
    * commit time PREFERS the wall-clock stamped into the manifest's
    * reserved first line (round 14 — [[commitMetaLine]]): manifest
    * files are written once, but a DistCp/backup-restore rewrites
    * their filesystem mtimes and would silently shift a mapping keyed
    * on them, while the embedded stamp survives any copy. Manifests
    * written before the stamp existed fall back to their mtime.
    * Resolved times are then made MONOTONE in version order by a
    * running max (the Delta in-commit-timestamp discipline): commit
    * clocks can skew and restored mtimes can invert, and a
    * non-monotone mapping would answer "as of T" with a version whose
    * successor is older than T — the adjustment keeps the mapping
    * order-consistent and deterministic instead of throwing a table
    * into an unreadable state after every restore. Cost: one small
    * manifest-head read per retained version ([[expireManifests]]
    * bounds the count) — time travel is the rare path; snapshot reads
    * never pay this. Same retention contract as [[readVersion]].
    * Throws when every retained version is later than `tsMillis`.
    */
  def readVersionAsOf(spark: SparkSession, sink: String,
      tsMillis: Long): DataFrame =
    readVersion(spark, sink, versionAsOf(spark, sink, tsMillis))

  /** The version [[readVersionAsOf]] resolves for `tsMillis` — shared
    * with the `graft-atomic` DataSource's `timestampAsOf` option.
    */
  private[graft] def versionAsOf(spark: SparkSession, sink: String,
      tsMillis: Long): Long = {
    val versions = timeline(fsOf(spark, sink), sink, full = false)
    require(versions.nonEmpty, s"no committed snapshot at $sink")
    val eligible = versions.filter(_._2 <= tsMillis)
    require(eligible.nonEmpty,
      s"no manifest version at or before $tsMillis at $sink " +
        "(expired, or the table is younger)")
    eligible.last._1
  }

  /** The commit timeline every time face reads: each retained version
    * with its commit wall-clock made MONOTONE by a running max (see
    * [[readVersionAsOf]]) and its parsed manifest lines — only the head
    * line unless `full`. The wall-clock is the embedded stamp when
    * present, the file's mtime otherwise (pre-stamp manifests). One
    * small manifest read per retained version.
    */
  private def timeline(fs: FileSystem, sink: String, full: Boolean)
      : Seq[(Long, Long, Seq[ManifestEntry])] = {
    val read = inParallel(manifestVersions(fs, sink)) { case (v, st) =>
      val in = fs.open(st.getPath)
      val lines = try {
        val it = scala.io.Source.fromInputStream(in, "UTF-8").getLines()
          .filter(_.nonEmpty).map(parseLine)
        (if (full) it else it.take(1)).toList
      } finally in.close()
      val stamp = lines.find(_.path == CommitMetaPath)
        .flatMap(_.statsFor(TsCol)).flatMap(_.min.toLongOption)
        .getOrElse(st.getModificationTime)
      (v, stamp, lines)
    }
    read.scanLeft((0L, Long.MinValue, Seq.empty[ManifestEntry])) {
      case ((_, prev, _), (v, t, lines)) => (v, math.max(prev, t), lines)
    }.drop(1)
  }

  private val RefsDir = "_refs"

  private def refPath(sink: String, name: String): Path =
    new Path(new Path(sink, RefsDir), name)

  /** Create a named TAG — an immutable pointer to manifest `version`
    * (round 14; Iceberg's tags / Delta's pinned versions, the ref
    * layer every audited pipeline eventually needs: "the snapshot the
    * Q3 model trained on" must survive maintenance). A tag PINS its
    * snapshot end to end:
    *
    *  - [[expireManifests]] never retires a tagged version, and
    *  - both vacuums treat every tagged manifest's files as LIVE, so
    *    [[readTag]] keeps answering after any maintenance pass —
    *    unlike raw version-number time travel, whose horizon is
    *    "whenever vacuum last ran".
    *
    * Tags are immutable by default (re-tagging a name throws, and of
    * two racing creates of one name exactly one wins — the ref moves
    * into place by the same no-replace step as a manifest publish;
    * `replace = true` moves it deliberately). The cost
    * of a standing tag is retained storage: superseded files it pins
    * are not reclaimed until [[dropTag]] releases them — exactly the
    * trade a pinned snapshot asks for.
    */
  def tagVersion(spark: SparkSession, sink: String, name: String,
      version: Long, replace: Boolean = false): Unit = {
    // leading dot forbidden: '.'-prefixed ref files are this layout's
    // invisible temp namespace — a dot-named tag would resolve in
    // readTag but pin NOTHING against expiry/vacuum (tags() skips
    // dotfiles), silently breaking the pin contract
    require(name.matches("[A-Za-z0-9][A-Za-z0-9._-]*"),
      s"tag name must be path-safe and not start with '.': '$name'")
    // all-digit names forbidden (round 16): SQL `VERSION AS OF '123'`
    // resolves digit-only strings as manifest VERSIONS, so a tag
    // named "123" would be unreachable from the catalog face —
    // refuse at creation instead of shadowing silently
    require(!name.forall(_.isDigit),
      s"tag name '$name' is all digits — SQL time travel would read " +
        "it as a manifest version, never the tag; pick a name with " +
        "at least one non-digit")
    val fs = fsOf(spark, sink)
    require(fs.exists(manifestPath(sink, version)),
      s"cannot tag $sink@$version: no such manifest version")
    val p = refPath(sink, name)
    require(replace || !fs.exists(p),
      s"tag '$name' already exists at $sink — tags are immutable; " +
        "pass replace = true to move it deliberately")
    fs.mkdirs(p.getParent)
    def writeRef(target: Path): Unit = {
      val tmp = new Path(p.getParent,
        s".$name.${java.util.UUID.randomUUID()}.tmp")
      val out = fs.create(tmp, true)
      try out.write(version.toString.getBytes("UTF-8"))
      finally out.close()
      if (!moveNoReplace(fs, tmp, target))
        throw new java.util.ConcurrentModificationException(
          s"tag '${target.getName}' appeared concurrently at $sink")
    }
    if (!replace) writeRef(p)
    else {
      // NO unpinned window on replace: a visible BRIDGE ref pins the
      // new version BEFORE the old name drops, so a maintenance pass
      // racing the move always sees at least one standing pin for
      // what the caller wants kept (the old version's pin releases at
      // the delete — that IS replace's semantics). A crash between
      // the steps leaves the bridge standing: harmless (a pin),
      // visible in tags(), reclaimed by dropTag.
      val bridge = s"$name.moving-${java.util.UUID.randomUUID()}"
      writeRef(refPath(sink, bridge))
      fs.delete(p, false)
      if (!fs.rename(refPath(sink, bridge), p)) {
        fs.delete(refPath(sink, bridge), false)
        throw new java.util.ConcurrentModificationException(
          s"tag '$name' moved concurrently at $sink")
      }
    }
  }

  /** The version a tag points at, if the tag exists. */
  def tagVersionOf(spark: SparkSession, sink: String,
      name: String): Option[Long] = {
    val fs = fsOf(spark, sink)
    val p = refPath(sink, name)
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      try scala.io.Source.fromInputStream(in, "UTF-8")
        .mkString.trim.toLongOption
      finally in.close()
    }
  }

  /** The versions MAINTENANCE must treat as pinned — every non-dot
    * ref's version, with an existing-but-UNPARSEABLE ref a LOUD error
    * (round 15, ADVICE): a corrupted ref that silently pinned nothing
    * would let [[expireManifests]] and both vacuums reclaim exactly
    * the snapshot the tag meant to keep — the user-facing [[tags]]
    * listing stays lenient, but a reclaim decision must not be.
    */
  private def pinnedVersionsStrict(spark: SparkSession,
      sink: String): Seq[Long] = {
    val fs = fsOf(spark, sink)
    val dir = new Path(sink, RefsDir)
    if (!fs.exists(dir)) Nil
    else fs.listStatus(dir).toSeq.map(_.getPath.getName)
      .filterNot(_.startsWith(".")).map { n =>
        tagVersionOf(spark, sink, n).getOrElse(
          throw new IllegalStateException(
            s"tag ref '$n' at $sink exists but does not parse as a " +
              "version — refusing to run maintenance past a pin it " +
              "cannot honor (repair or dropTag the ref first)"))
      }.distinct
  }

  /** Every tag at the sink, name → version. Unparseable ref files are
    * IGNORED here (a listing should not throw) but
    * [[pinnedVersionsStrict]] makes them fail maintenance loudly —
    * they cannot silently pin nothing.
    */
  def tags(spark: SparkSession, sink: String): Map[String, Long] = {
    val fs = fsOf(spark, sink)
    val dir = new Path(sink, RefsDir)
    if (!fs.exists(dir)) Map.empty
    else fs.listStatus(dir).toSeq.map(_.getPath.getName)
      .filterNot(_.startsWith("."))
      .flatMap(n => tagVersionOf(spark, sink, n).map(n -> _)).toMap
  }

  /** Time travel by TAG: the snapshot the tag pinned, guaranteed
    * readable while the tag stands (see [[tagVersion]]).
    */
  def readTag(spark: SparkSession, sink: String, name: String)
      : DataFrame =
    readVersion(spark, sink, tagVersionOf(spark, sink, name)
      .getOrElse(throw new IllegalArgumentException(
        s"no tag '$name' at $sink")))

  /** Drop a tag, releasing its pins (the next maintenance pass may
    * reclaim what only it kept). Returns whether it existed.
    */
  def dropTag(spark: SparkSession, sink: String, name: String): Boolean =
    fsOf(spark, sink).delete(refPath(sink, name), false)

  /** DESCRIBE DETAIL for the sink (round 14): one row of operational
    * truth — `version`, `files` (data), `dv_files` (standing delete
    * vectors), `bytes` (live data size), `rows` (exact, from the
    * manifest row counts; NULL when any line predates them or dvs
    * stand — [[statsAggregate]]'s contract), `tags`, and the latest
    * commit's wall-clock. Everything but `bytes` is manifest-only;
    * `bytes` fans one status call per live file. The face an operator
    * (or a scheduler deciding whether to OPTIMIZE) reads instead of
    * spelunking `_graft_manifest` by hand.
    */
  def describeSink(spark: SparkSession, sink: String): DataFrame = {
    import org.apache.spark.sql.types._
    val fs = fsOf(spark, sink)
    val (version, dataE, dvE) = snapshotSplit(spark, sink)
    val bytes = inParallel(dataE ++ dvE) { e =>
      try fs.getFileStatus(new Path(s"$sink/${e.path}")).getLen
      catch { case _: java.io.IOException => 0L }
    }.sum
    val rows: Any = metadataRowCount(dataE, dvE).orNull
    // committed_at goes through the SAME monotone-adjusted mapping as
    // history() and versionAsOf() (round 15, ADVICE): the running max
    // of every retained version's resolved stamp — its last element is
    // simply the max — so all three faces agree even when restored
    // mtimes or skewed clocks invert the raw stamps. Cost: one small
    // manifest-head read per retained version, the same price
    // versionAsOf already declares (expireManifests bounds the count).
    val committedAt: Any = timeline(fs, sink, full = false).lastOption
      .map(t => org.apache.spark.sql.catalyst.util.DateTimeUtils
        .toJavaTimestamp(t._2 * 1000L)).orNull
    val tagList = tags(spark, sink).toSeq.sortBy(_._1)
      .map { case (n, v) => s"$n@$v" }
    val schemaOut = StructType(Seq(
      StructField("version", LongType, nullable = false),
      StructField("files", IntegerType, nullable = false),
      StructField("dv_files", IntegerType, nullable = false),
      StructField("bytes", LongType, nullable = false),
      StructField("rows", LongType),
      StructField("tags", ArrayType(StringType), nullable = false),
      StructField("committed_at", TimestampType)))
    spark.createDataFrame(java.util.Arrays.asList(
      org.apache.spark.sql.Row(version, dataE.size, dvE.size, bytes,
        rows, tagList, committedAt)), schemaOut)
  }

  /** DESCRIBE HISTORY for the sink (round 14): one row per retained
    * manifest version — `version`, `committed_at` (the embedded
    * commit stamp, mtime for pre-stamp manifests, monotone-adjusted
    * exactly like [[readVersionAsOf]]'s mapping so the listed times
    * are the ones time travel resolves against), `files`, `dv_files`.
    * Pure metadata: one small manifest read per retained version
    * ([[expireManifests]] bounds the count). Expired versions are
    * simply absent — the explicit retention horizon, visible.
    */
  def history(spark: SparkSession, sink: String): DataFrame = {
    import org.apache.spark.sql.types._
    // ONE read per manifest serves both the commit stamp and the
    // entry counts
    val rows = timeline(fsOf(spark, sink), sink, full = true).map {
      case (v, t, lines) =>
        val (dv, data) = lines.filterNot(isMeta).partition(isDv)
        org.apache.spark.sql.Row(v, org.apache.spark.sql.catalyst.util
          .DateTimeUtils.toJavaTimestamp(t * 1000L), data.size, dv.size)
    }
    val schemaOut = StructType(Seq(
      StructField("version", LongType, nullable = false),
      StructField("committed_at", TimestampType, nullable = false),
      StructField("files", IntegerType, nullable = false),
      StructField("dv_files", IntegerType, nullable = false)))
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schemaOut)
  }

  /** CHANGE DATA FEED between two committed versions, derived from the
    * manifest diff alone — no per-row change tracking is ever written:
    * `plus` reads the data files version `to` lists that `from` did
    * not, `minus` the files `from` lists that `to` dropped. Because
    * every commit here is copy-on-write over immutable files, the pair
    * is an exact MULTISET delta of the table: an append contributes
    * only new files to `plus`; a [[mergeAtomic]]'s rewritten files put
    * their survivors in BOTH frames, where any abelian consumer
    * telescopes them away — folding `(plus, minus)` through
    * [[IncrementalAgg.mergeCdcBatch]] (or [[IncrementalAgg.mergeCdcExtremes]],
    * handing `plus` as the churned-groups view) moves a downstream
    * rollup to exactly the `to`-version aggregate. That makes every
    * manifest-committed table a CDC SOURCE for incremental consumers
    * that never saw the upstream feed, at the cost of shipping
    * rewritten-file rows rather than minimal row-level diffs — the
    * Delta CDF trade inverted (zero write amplification, reader pays
    * file granularity), priced by the churn-touched files when the
    * table is key-clustered.
    *
    * Both frames read under the union of the two snapshots' merged
    * schemas, so a column added between the versions is present
    * (null-filled) on both sides. Retention contract: `from`'s
    * superseded files must still exist — run the feed before
    * [[vacuumSuperseded]]/[[vacuumUncommitted]] reclaim them, the
    * same retention trade as [[readVersion]] time travel. `from` = 0
    * yields the whole `to` snapshot as `plus` (the bootstrap feed).
    */
  def changesBetween(spark: SparkSession, sink: String,
      from: Long, to: Long, maxPruneKeys: Int = 10000000)
      : (DataFrame, DataFrame) = {
    require(from <= to, s"change feed runs forward: $from > $to")
    val fromSnap = snapshotAt(spark, sink, from)
    val toSnap = snapshotAt(spark, sink, to)
    val (fromDv, fromData) = (fromSnap.dvs, fromSnap.data)
    val (toDv, toData) = (toSnap.dvs, toSnap.data)
    val fromPaths = fromData.map(_.path).toSet
    val toPaths = toData.map(_.path).toSet
    val added = toData.filterNot(e => fromPaths.contains(e.path))
    val removed = fromData.filterNot(e => toPaths.contains(e.path))
    val common = toData.filter(e => fromPaths.contains(e.path))
    if (added.isEmpty && removed.isEmpty &&
        fromDv.map(_.path) == toDv.map(_.path)) {
      // nothing moved between the versions (e.g. from == to): both
      // sides are the empty delta under the target snapshot's schema
      val empty = readVersion(spark, sink, to).limit(0)
      return (empty, empty)
    }
    // both sides read under the union of the two snapshots' schemas
    // (the bootstrap side, version 0, has none) — the manifests
    // answer it, no footer is opened. A window across a replace that
    // retyped a column has no union to read under and is refused
    val schema =
      if (from == 0L) toSnap.schema
      else mergeStructs(fromSnap.schema, toSnap.schema).getOrElse(
        throw new IllegalStateException(s"the schemas of versions " +
          s"$from and $to at $sink do not merge: ${fromSnap.schema
            .simpleString} vs ${toSnap.schema.simpleString}"))
    // file-level halves, each under the dvs of ITS OWN version: plus =
    // added files' rows still live at `to`; minus = removed files'
    // rows that were live at `from` (rewritten survivors ride both
    // sides and telescope in any abelian consumer)
    val plusFiles = readEffective(spark, sink, added, toDv, schema)
    val minusFiles = readEffective(spark, sink, removed, fromDv, schema)
    if (fromDv.isEmpty && toDv.isEmpty) return (plusFiles, minusFiles)
    // merge-on-read half: rows of files PRESENT AT BOTH versions that
    // a dv published inside the window newly masks — for a common file
    // at sequence s the newly-dead keys are those in `to`'s
    // above-s tombstones but not `from`'s (dv lines only accrete while
    // their data files stand; a compaction in the window removes the
    // files from `common` instead)
    val keyCols = (fromDv ++ toDv).map(dvKeyColOf).distinct
    require(keyCols.size == 1,
      s"delete vectors disagree on the merge key at $sink: $keyCols")
    val keyCol = keyCols.head
    def keysAbove(dvs: Seq[ManifestEntry], s: Long): DataFrame = {
      val hit = dvs.filter(d => seqOf(d) > s)
      if (hit.isEmpty) spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        dvSchema(keyCol, schema))
      else readDvKeys(spark, sink, hit, keyCol, schema)
    }
    // the common files a newly-masked row can live in are PRUNED by
    // the window's new tombstone keys before anything is read: each dv
    // file is one merge batch's churn (fenced churn-sized), so the new
    // keys collect like any churn set and test the common files' key
    // intervals — a 3-key delete against a 10⁵-file clustered table
    // feeds from the churn's locality, never a table-sized read. The
    // collected superset (all new dv keys, any sequence) only ever
    // keeps MORE files than the per-group exact set — may-contain safe.
    // The collect is guarded twice (round 14): SKIPPED outright when
    // no common file can be newly masked (no common files at all —
    // every bootstrap pull from version 0 — or no new dv sequenced
    // above the lowest common file), and FENCED like every churn
    // collect — a catch-up window spanning many deferred batches
    // pools Σ(churn) keys, and past `maxPruneKeys` the feed KEEPS
    // every common file instead of collecting unbounded keys to the
    // driver (may-contain correct: the per-group semi joins below
    // still emit only newly-dead rows; a fence-abort mid-feed would
    // turn a catch-up sync into an outage).
    val fromDvPaths = fromDv.map(_.path).toSet
    val newDv = toDv.filterNot(e => fromDvPaths.contains(e.path))
    val minCommonSeq =
      if (common.isEmpty) Long.MaxValue else common.map(seqOf).min
    val pruneChurn: Option[ChurnKeys] =
      if (!newDv.exists(d => seqOf(d) > minCommonSeq)) None
      else {
        pruneChurnCollects.incrementAndGet()
        val vals = readDvKeys(spark, sink, newDv, keyCol, schema).distinct()
          .limit(maxPruneKeys + 1).collect()
        if (vals.length > maxPruneKeys) {
          pruneFenceFallbacks.incrementAndGet()
          None // over the fence: keep every common file
        } else // None for a key with no interval family: keep them all
          ChurnKeys.of(vals, 0, schema(schema.fieldIndex(keyCol)).dataType)
      }
    val newlyMasked = common.groupBy(seqOf).toSeq.flatMap { case (s, group) =>
      val touched = pruneChurn match {
        case Some(ch) => splitByKeyIntervals(group, keyCol, ch)._2
        case None => group
      }
      if (touched.isEmpty || newDv.forall(d => seqOf(d) <= s)) None
      else {
        val newKeys = keysAbove(toDv, s)
          .join(keysAbove(fromDv, s).withColumnRenamed(keyCol, "__old"),
            col(keyCol) === col("__old"), "left_anti")
          .withColumnRenamed(keyCol, "__dead")
        Some(spark.read.schema(schema)
          .parquet(touched.map(e => s"$sink/${e.path}"): _*)
          .join(newKeys, col(keyCol) === col("__dead"), "left_semi"))
      }
    }.reduceOption(_ unionByName _)
    val minus = newlyMasked.map(minusFiles.unionByName)
      .getOrElse(minusFiles)
    (plusFiles, minus)
  }

  /** ROW-LEVEL change feed (round 15) — the opt-in minimal-rows face
    * of [[changesBetween]] for NON-ABELIAN consumers (an external
    * sink replaying rows elsewhere, an audit trail): the file-grained
    * frames telescope here instead of at the consumer, via a
    * two-sided multiset difference (`EXCEPT ALL` both ways), so a
    * rewritten file's surviving rows — identical on both sides —
    * vanish and only genuinely changed rows ship. With a declared
    * `keyCol`, rows further classify Delta-CDF style into one frame:
    * `_change_type ∈ {insert, delete, update_preimage,
    * update_postimage}` (a key present on both sides is an update;
    * pre/post images pair by key — under a NON-unique key the labels
    * stay consistent per side but individual pre/post rows don't pair
    * one-to-one; declare a genuinely unique key for CDC-style
    * consumption). Without one, the pure multiset delta ships as
    * insert/delete.
    *
    * Cost model: the diff shuffles the WINDOW'S CHANGED-FILE rows on
    * their full width (the telescoping the abelian path gets free now
    * costs one exchange) — still priced by the churn-touched files,
    * never the table, and exactly the trade the consumer asked for by
    * wanting minimal rows. Same retention contract as the file-grained
    * feed. NOTE: an update that leaves a row byte-identical (an
    * upsert writing the same values) telescopes away entirely — this
    * feed ships CHANGES, not touches.
    */
  def changesRowLevel(spark: SparkSession, sink: String, from: Long,
      to: Long, keyCol: Option[String] = None): DataFrame = {
    val (plus, minus) = changesBetween(spark, sink, from, to)
    val rowPlus = plus.exceptAll(minus)
    val rowMinus = minus.exceptAll(plus)
    def tagged(df: DataFrame, t: String) =
      df.withColumn("_change_type", lit(t))
    keyCol match {
      case None =>
        tagged(rowPlus, "insert").unionByName(tagged(rowMinus, "delete"))
      case Some(k) =>
        val plusKeys = rowPlus.select(col(k).as("__pk")).distinct()
        val minusKeys = rowMinus.select(col(k).as("__mk")).distinct()
        tagged(rowPlus.join(minusKeys, col(k) <=> col("__mk"),
            "left_anti"), "insert")
          .unionByName(tagged(rowPlus.join(minusKeys,
            col(k) <=> col("__mk"), "left_semi"), "update_postimage"))
          .unionByName(tagged(rowMinus.join(plusKeys,
            col(k) <=> col("__pk"), "left_anti"), "delete"))
          .unionByName(tagged(rowMinus.join(plusKeys,
            col(k) <=> col("__pk"), "left_semi"), "update_preimage"))
    }
  }

  /** Append rows with `watermarkCol` strictly above the committed
    * snapshot's max, atomically. Returns the appended row count.
    * Idempotent on replay; safe under concurrent readers at every
    * instant; throws `ConcurrentModificationException` (after
    * cleaning its staged files) if another writer commits first.
    */
  def appendIncrementAtomic(df: DataFrame, sink: String,
      watermarkCol: String): Long =
    appendIncrementAtomic(df, sink, watermarkCol, Nil)

  /** Outcome of a counted append: rows published vs rows the
    * watermark gate dropped (watermark ≤ committed max, or NULL).
    * The gate cannot tell a REPLAYED row from a genuinely LATE one —
    * both carry a stale watermark — so callers that ingest
    * out-of-order event-time data must watch `droppedLate` (the
    * streaming sink surfaces it; `failOnLateRows` turns it fatal).
    */
  case class AppendResult(appended: Long, droppedLate: Long)

  /** [[appendIncrementAtomic]] that ALSO reports how many incoming
    * rows the watermark gate dropped (round 16, ADVICE): the filter
    * that makes replay idempotent silently discards any genuinely
    * late row too, and for out-of-order streams that loss is
    * indistinguishable from replay dedup unless counted. Costs one
    * extra `count` over the incoming frame.
    */
  def appendIncrementAtomicCounted(df: DataFrame, sink: String,
      watermarkCol: String, extraStatsCols: Seq[String] = Nil,
      failOnDropped: Boolean = false): AppendResult =
    appendGated(df, sink, watermarkCol, extraStatsCols,
      countDropped = true, failOnDropped = failOnDropped)(_ => true)
      .map { case (a, d) => AppendResult(a, d) }
      .getOrElse(throw new IllegalStateException(
        "unreachable: the always-true gate rejected"))

  /** [[appendIncrementAtomic]] recording interval stats for extra
    * columns beyond the watermark — the multi-stats manifest shape
    * that lets a table watermarked by event time also prune a
    * [[mergeAtomic]] on its id, or a [[readCommittedAbove]] on any
    * recorded column.
    */
  def appendIncrementAtomic(df: DataFrame, sink: String,
      watermarkCol: String, extraStatsCols: Seq[String]): Long =
    appendGated(df, sink, watermarkCol, extraStatsCols)(_ => true)
      .map(_._1)
      .getOrElse(throw new IllegalStateException(
        "unreachable: the always-true gate rejected"))

  /** WRITE-AUDIT-PUBLISH append (round 14 — the Iceberg WAP / staging
    * pattern): the increment stages exactly like
    * [[appendIncrementAtomic]], then `audit` receives the STAGED
    * FILES as a DataFrame — the bytes the table would serve, not the
    * caller's logical plan re-evaluated — and only a true verdict
    * publishes. On false (or an audit that throws) the staged batch
    * directory is removed immediately and the committed snapshot is
    * untouched: no version moves, no reader ever sees the rejected
    * rows, no orphan waits for vacuum. Returns Some(appended) on
    * publish, None on rejection. Everything else — watermark
    * idempotence, OCC collision, crash cleanup — is the plain
    * append's contract.
    *
    * This is the quality gate a production ingest wants ON the
    * transaction boundary: schema drift, null floods, or volume
    * anomalies abort BEFORE the commit instead of being rolled back
    * after downstream already read them.
    */
  def appendAuditedAtomic(df: DataFrame, sink: String,
      watermarkCol: String, extraStatsCols: Seq[String] = Nil)(
      audit: DataFrame => Boolean): Option[Long] =
    appendGated(df, sink, watermarkCol, extraStatsCols)(audit).map(_._1)

  /** Returns Some((appended, dropped)) on publish/no-op, None on audit
    * rejection; `dropped` is counted only when `countDropped` (one
    * extra job over the incoming frame), else reported as 0.
    */
  private def appendGated(df: DataFrame, sink: String,
      watermarkCol: String,
      extraStatsCols: Seq[String], countDropped: Boolean = false,
      failOnDropped: Boolean = false)(
      audit: DataFrame => Boolean): Option[(Long, Long)] = {
    val spark = df.sparkSession
    val resolved = df.schema.fields
      .find(_.name.equalsIgnoreCase(watermarkCol))
      .getOrElse(throw new IllegalArgumentException(
        s"watermark column '$watermarkCol' not in ${df.columns.mkString(",")}"))
    val extraFields = extraStatsCols.map(c => df.schema.fields
      .find(_.name.equalsIgnoreCase(c))
      .getOrElse(throw new IllegalArgumentException(
        s"stats column '$c' not in ${df.columns.mkString(",")}")))
    val txn = Txn.begin(spark, sink)
    val dataEntries = txn.snap.data
    val prior = dataEntries.map(_.path)
    // watermark resolution, cheapest exact answer first: the manifest's
    // recorded stats (zero I/O beyond the manifest itself), then the
    // footer sweep (O(files) small reads), then the full scan — all
    // over DATA lines only (a delete vector holds keys, not rows; a
    // dv-masked row's watermark still upper-bounds, conservatively)
    val liveMax =
      if (prior.isEmpty) None
      else manifestMaxLiteral(dataEntries, resolved.name, resolved.dataType)
        .orElse(Incremental.footerMaxOfFiles(spark,
          prior.map(f => new Path(s"$sink/$f")), resolved.name, resolved.dataType))
        .orElse(Option(readCommitted(spark, sink)
          .agg(max(watermarkCol)).head().get(0)).map(lit))
    // the MONOTONE FLOOR closes the delete-reopens-replay-window
    // hazard: a predicate DELETE of the newest rows lowers the live
    // max, but the floor (never lowered by rewrites) still remembers
    // the highest watermark ever committed — gate on the larger of
    // the two. The floors are the transaction's own snapshot's;
    // decode reuses the manifest-max machinery over a synthetic
    // one-line entry.
    val floorLit = Some(txn.snap.floors).filter(_.nonEmpty)
      .flatMap(fl => manifestMaxLiteral(Seq(ManifestEntry("f", fl)),
        resolved.name, resolved.dataType))
    val wmExpr = (liveMax, floorLit) match {
      case (Some(l), Some(f)) => Some(greatest(l, f))
      case (l, f) => l.orElse(f)
    }
    val fresh = wmExpr match {
      case Some(w) => df.filter(col(watermarkCol) > w)
      case None => df
    }
    // dropped = late-or-replayed rows the gate filtered (watermark
    // ≤ committed max, or NULL watermark when a bound exists). When
    // counting, cache the INCOMING frame (fresh is a filter over it,
    // so staging reads the cache too) and fold BOTH counts into one
    // aggregate job — the previous shape (`df.count() - n`) rescanned
    // the entire micro-batch from source on every gated batch
    val countBoth = countDropped && wmExpr.isDefined
    if (countBoth) df.cache()
    try {
      // THE COMMON LEG STAGES FIRST and takes its row count from the
      // staged footers (round 18, guide §1.2 step 1): the manifest
      // line already opens every staged footer once — the exact row
      // count rides it for free — so the pre-staging `fresh.count()`
      // action (plus the cache that kept count+write to one source
      // scan) is a second pass the append never needed. One source
      // pass per append now; an all-filtered replay stages an empty
      // batch dir and reclaims it immediately (the rare path pays a
      // no-row write where it used to pay a count — the common path
      // saves a whole action). The COUNTED leg keeps the old order:
      // its fatal late-rows check must fire before any bytes land.
      val (preN, dropped) =
        if (countBoth) {
          val r = df.agg(
            count(lit(1)),
            count(when(col(watermarkCol) > wmExpr.get, 1))).head()
          (r.getLong(1), r.getLong(0) - r.getLong(1))
        } else (-1L, 0L)
      // the fatal check fires BEFORE any staging or publish — a
      // failed batch must leave the table byte-identical (the
      // streaming sink's failOnLateRows rides this)
      if (failOnDropped && dropped > 0)
        throw new IllegalStateException(
          s"watermark gate dropped $dropped row(s) at or below the " +
            s"committed max of '$watermarkCol' — replay dedup if this " +
            "batch is a retry, DATA LOSS if the stream delivers " +
            "out-of-order event times (the append contract requires " +
            "cross-batch watermark monotonicity)")
      if (preN == 0) return Some((0L, dropped))
      // APPEND-SIDE OCC RETRY (round 17): a lost race re-publishes
      // the already-staged batch on top of the winner when the
      // EFFECTIVE WATERMARK BOUND provably did not move — the raw
      // manifest max AND the floor line for the gate column are
      // byte-identical at the winner's version — because then the
      // staged rows are still exactly the fresh set this gate
      // admitted. A winner that raised the max (another appender —
      // a single-writer-contract violation anyway) or lowered it
      // (a replace) fails the fingerprint and rethrows; maintenance
      // rewrites and confined merges keep it intact and retry. Gates
      // that resolved their bound OUTSIDE manifest stats (footer
      // sweep / scan) have no comparable fingerprint and never retry.
      val wmFp0 = rawMaxFingerprint(dataEntries, resolved.name)
      def floorOf(s: Snapshot) =
        s.floors.filter(_.column.equalsIgnoreCase(resolved.name))
      var n = 0L
      // the gate: an all-filtered replay (zero staged rows) and a WAP
      // audit rejection both reclaim the batch before any manifest
      // moves. The audit reads the STAGED FILES — the exact bytes a
      // publish would serve
      val published = txn.commit(
        gate = staged => {
          n = if (preN >= 0) preN
            else staged.foldLeft(Option(0L)) { (acc, e) =>
              for { a <- acc; st <- e.statsFor(RowsCol)
                    c <- st.max.toLongOption } yield a + c
            }.getOrElse( // unreadable footer: count the staged bytes
              spark.read.schema(fresh.schema)
                .parquet(staged.map(e => s"$sink/${e.path}"): _*).count())
          n > 0 && audit(spark.read.schema(fresh.schema)
            .parquet(staged.map(e => s"$sink/${e.path}"): _*))
        },
        schema = s => appendSchema(s, fresh.schema),
        retry = wmFp0.map(_ => (_, winner) =>
          rawMaxFingerprint(winner.data, resolved.name) == wmFp0 &&
            floorOf(winner) == floorOf(txn.snap)))(
        txn.stage(fresh, resolved +: extraFields))
      if (published.isEmpty && n > 0) None else Some((n, dropped))
    } finally { if (countBoth) df.unpersist(); () }
  }

  /** The schema an append embeds over snapshot `s`: the increment's
    * own on a table without data files, else the snapshot's merged
    * with it (a legacy manifest's schema is swept once, so the commit
    * upgrades it) — None on a merge conflict, and the footer sweep
    * then adjudicates at read time.
    */
  private def appendSchema(s: Snapshot,
      incoming: org.apache.spark.sql.types.StructType)
      : Option[org.apache.spark.sql.types.StructType] =
    if (s.data.isEmpty) Some(incoming) else mergeStructs(s.schema, incoming)

  /** The snapshot's exact max of `column` from manifest stats alone,
    * as a floor-shaped group — the COMPARABLE form of
    * [[manifestMaxLiteral]]'s answer. Two snapshots with equal
    * fingerprints provably gate an append identically; None (no exact
    * max) disables fingerprint-based decisions.
    */
  private def rawMaxFingerprint(entries: Seq[ManifestEntry],
      column: String): Option[FileColumnStats] =
    exactMaxGroup(column, entries.map(_.statsFor(column)))

  /** Integral-column max from manifest stats alone
    * ([[ManifestStats.exactBounds]]), zero jobs — how the manifest
    * parse answers a legacy fold state's batch id from its
    * [[LegacyBatchCols]] stats.
    */
  private[graft] def manifestMaxLong(entries: Seq[ManifestEntry],
      column: String): Option[Long] =
    ManifestStats.exactBounds(entries.map(_.statsFor(column))).collect {
      case (tag, LongStats(_, mx)) if integralTags.contains(tag) => mx
    }

  /** The committed snapshot's max of `column` from manifest stats
    * alone, as a literal of `dt` — None unless the stats answer
    * EXACTLY under `dt`'s own tag ([[ManifestStats.exactBounds]]).
    * NullTag lines (provably zero non-null values — e.g. the empty
    * after-image file a pure-delete merge-on-read stages) contribute
    * nothing and do not disable the shortcut.
    */
  private[graft] def manifestMaxLiteral(entries: Seq[ManifestEntry],
      column: String, dt: org.apache.spark.sql.types.DataType)
      : Option[org.apache.spark.sql.Column] =
    ManifestStats.exactBounds(entries.map(_.statsFor(column))).collect {
      case (tag, st) if tagOf(dt).contains(tag) => st
    }.flatMap(ManifestStats.maxLiteral(dt, _))

  /** The committed snapshot's exact (min, max) of an integral (as
    * Long) or string (as String) `column` tagged `expectTag`, from
    * manifest stats alone ([[ManifestStats.exactBounds]]). `Some(None)`
    * = provably all-null column; `None` = no exact answer — the caller
    * must fall back to a scan. NOTE file stats ignore delete vectors:
    * exact table bounds only on a dv-free snapshot (the caller's
    * check).
    */
  private[graft] def manifestMinMax(entries: Seq[ManifestEntry],
      column: String, expectTag: String): Option[Option[(Any, Any)]] =
    ManifestStats.exactBounds(entries.map(_.statsFor(column))).collect {
      case (_, AllNullFile) => None
      case (tag, LongStats(mn, mx))
          if tag == expectTag && integralTags.contains(tag) =>
        Some((mn, mx))
      case ("string", BinaryStats(mn, mx)) if expectTag == "string" =>
        Some((ManifestStats.utf8(mn), ManifestStats.utf8(mx)))
    }

  /** One manifest line for an ALREADY-WRITTEN staged file: footer
    * stats for each of `statsFields`, read from the just-written file
    * (batch-local — the write that just produced it is the expensive
    * part). A column whose footer cannot answer exactly (suppressed
    * float stats) stages without that group: it disables the manifest
    * watermark shortcut and is never pruned on, both conservative.
    */
  private[graft] def entryForStagedFile(spark: SparkSession,
      sink: String, rel: String,
      statsFields: Seq[org.apache.spark.sql.types.StructField])
      : ManifestEntry = {
    // ONE footer open per staged file serves every column's stats
    // AND the row count (the per-column shape paid N+1 opens per
    // file — on object storage each open is a round trip)
    val (byCol, rowCount) = Incremental.footerStatsOfFileAll(spark,
      new Path(s"$sink/$rel"),
      statsFields.filter(f => tagOf(f.dataType).nonEmpty))
    // a provably all-null column records the [[NullTag]] group: it
    // stays covered and aggregates exactly
    val stats = statsFields.flatMap(f =>
      for (tag <- tagOf(f.dataType); st <- byCol.get(f.name))
        yield ManifestStats.encode(f.name, tag, st))
    // the exact row count rides every staged line (see [[RowsCol]]);
    // an unreadable footer stages without it — the metadata count
    // degrades to the scan, never to a wrong number
    val rows = rowCount.map(n =>
      FileColumnStats(RowsCol, "long", n.toString, n.toString))
    ManifestEntry(rel, stats ++ rows)
  }

  /** Data-skipping read for the incremental-consumer predicate
    * `column > lower`: only files whose manifest-recorded max may
    * exceed `lower` are handed to the reader — over a 100 k-file
    * snapshot a consumer that wants the last hour's rows opens the
    * handful of recent batch files instead of the whole table, and no
    * footer is touched for the skipped ones. `lower` is given in the
    * stats' primitive domain (micros for timestamps, unix days for
    * dates, the raw value for the integral family; floating stats
    * compare as doubles). Files without usable stats are kept —
    * skipping is a MAY-CONTAIN superset, so
    * `readCommittedAbove(...).filter(col > ...)` ≡
    * `readCommitted(...).filter(col > ...)` always (spec-pinned), and
    * row-level filtering remains the caller's job.
    */
  def readCommittedAbove(spark: SparkSession, sink: String,
      column: String, lower: Long): DataFrame =
    // damaged or foreign stats (hand-edited manifests, a future tag)
    // do not decode and keep their file, like a string column (no
    // numeric order) or a line without stats: may contain
    readKept(spark, sink, e =>
      e.statsFor(column).flatMap(ManifestStats.decode) match {
        case Some(AllNullFile) => false // zero non-null values
        case Some(LongStats(_, mx)) => mx > lower
        case Some(DoubleStats(_, mx)) => mx > lower.toDouble
        case _ => true
      })

  /** [[readCommittedAbove]] for a STRING consumer predicate
    * `column > lower` — intervals compare in UTF-8 byte space (the
    * same binary order Spark's string `>` filters under), so an
    * ISO-date-string or UUID-prefixed log prunes files exactly like a
    * numeric watermark. Same may-contain contract: files without
    * matching string stats are kept, and
    * `readCommittedAboveStr(...).filter(col > lit(lower))` ≡
    * `readCommitted(...).filter(...)` always.
    */
  def readCommittedAboveStr(spark: SparkSession, sink: String,
      column: String, lower: String): DataFrame = {
    val gt = org.apache.spark.sql.sources.GreaterThan(column, lower)
    readKept(spark, sink, graft.sources.ManifestPruning.mayMatch(_, gt))
  }

  /** The latest snapshot's data files that `keep` admits. The schema
    * is the FULL snapshot's, not the kept subset's: the sink evolves
    * schemas across batches, and if every file carrying an evolved
    * column is pruned, a subset-merged schema would lack that column
    * — breaking the pinned equivalence with readCommitted(...).filter
    * via an AnalysisException instead of yielding the identical
    * (possibly empty) projection. The pruned read opens only the kept
    * files.
    */
  private def readKept(spark: SparkSession, sink: String,
      keep: ManifestEntry => Boolean): DataFrame = {
    val snap = latestSnapshot(spark, sink)
    require(snap.data.nonEmpty, s"no committed snapshot at $sink")
    readEffective(spark, sink, snap.data.filter(keep), snap.dvs, snap.schema)
  }

  /** The EXACT committed row count from metadata alone: Σ of the
    * lines' [[RowsCol]] groups — None under standing dvs (masked
    * counts are unknowable) or any pre-stamp line. The single source
    * of truth for [[statsAggregate]]'s `cnt` and [[describeSink]]'s
    * `rows`.
    */
  private def metadataRowCount(dataE: Seq[ManifestEntry],
      dvE: Seq[ManifestEntry]): Option[Long] = {
    if (dataE.isEmpty || dvE.nonEmpty) return None
    val counts = dataE.map(_.statsFor(RowsCol).flatMap(_.min.toLongOption))
    if (counts.contains(None)) None else Some(counts.flatten.sum)
  }

  /** METADATA-ONLY aggregate: one row of `count(*)` (`cnt`) and
    * min/max of each of `minMaxCols` (`min_<c>`, `max_<c>`), answered
    * from the MANIFEST ALONE — zero data-file opens, zero Spark jobs,
    * however many files the snapshot holds. The Iceberg
    * metadata-table / Delta stats-only-query move: at 100 TB,
    * `SELECT count(*), max(event_time) FROM t` is a dashboard's
    * heartbeat query, and a 10⁵-file table answers it here in one
    * manifest read instead of a 10⁵-split scan stage. Per-file row
    * counts ride the [[RowsCol]] group (stamped from each staged
    * file's footer), min/max are [[ManifestStats.exactBounds]], and
    * [[NullTag]] lines contribute nothing to min/max — exactly SQL's
    * null-ignoring aggregate semantics, so a column that is all-null
    * in SOME files still answers exactly. A column all-null in EVERY
    * file answers NULL min/max (typed string, the manifest having
    * erased the type — degenerate by construction).
    *
    * EXACT or ABSENT, never approximate: returns None — the caller
    * falls back to the ordinary scan — when no snapshot is committed,
    * when delete vectors stand (masked-row counts are not knowable
    * from metadata), when any data line predates the row-count group,
    * or when a requested column has no exact bounds (uncovered on some
    * line, disagreeing stats families, damaged bounds, or a string
    * bound parquet may have cut). Timestamps decode at micros, dates
    * at days — the stats' primitive domains.
    */
  def statsAggregate(spark: SparkSession, sink: String,
      minMaxCols: Seq[String] = Nil): Option[DataFrame] = {
    import org.apache.spark.sql.types._
    import org.apache.spark.sql.catalyst.util.DateTimeUtils.{toJavaDate,
      toJavaTimestamp}
    val (version, dataE, dvE) = snapshotSplit(spark, sink)
    if (version == 0L) return None
    val cnt = metadataRowCount(dataE, dvE).getOrElse(return None)
    val colVals: Seq[Option[(DataType, Any, Any)]] = minMaxCols.map(c =>
      ManifestStats.exactBounds(dataE.map(_.statsFor(c))).collect {
        case (_, AllNullFile) => (StringType, null, null)
        case ("long", LongStats(mn, mx)) => (LongType, mn, mx)
        case ("int", LongStats(mn, mx)) => (IntegerType, mn.toInt, mx.toInt)
        case ("short", LongStats(mn, mx)) =>
          (ShortType, mn.toShort, mx.toShort)
        case ("byte", LongStats(mn, mx)) => (ByteType, mn.toByte, mx.toByte)
        case ("ts", LongStats(mn, mx)) =>
          (TimestampType, toJavaTimestamp(mn), toJavaTimestamp(mx))
        case ("date", LongStats(mn, mx)) =>
          (DateType, toJavaDate(mn.toInt), toJavaDate(mx.toInt))
        case ("double", DoubleStats(mn, mx)) => (DoubleType, mn, mx)
        case ("float", DoubleStats(mn, mx)) =>
          (FloatType, mn.toFloat, mx.toFloat)
        case (_, BinaryStats(mn, mx)) => (StringType,
          ManifestStats.utf8(mn), ManifestStats.utf8(mx))
      })
    if (colVals.contains(None)) return None
    val fields = StructField("cnt", LongType, nullable = false) +:
      minMaxCols.zip(colVals.flatten).flatMap { case (c, (dt, _, _)) =>
        Seq(StructField(s"min_$c", dt), StructField(s"max_$c", dt)) }
    val row = org.apache.spark.sql.Row.fromSeq(
      cnt +: colVals.flatten.flatMap { case (_, mn, mx) => Seq(mn, mx) })
    Some(spark.createDataFrame(java.util.Arrays.asList(row),
      StructType(fields)))
  }

  /** All-nullable normalization for the embedded schema — what a
    * parquet footer sweep reports (Spark marks every parquet-read
    * field nullable). Embedding a writer-declared non-null field
    * would let codegen skip null checks over rows an evolving append
    * or outer join legitimately left null.
    */
  private def asNullableType(dt: org.apache.spark.sql.types.DataType)
      : org.apache.spark.sql.types.DataType = dt match {
    case s: org.apache.spark.sql.types.StructType =>
      org.apache.spark.sql.types.StructType(s.fields.map(f =>
        f.copy(dataType = asNullableType(f.dataType), nullable = true)))
    case a: org.apache.spark.sql.types.ArrayType =>
      a.copy(elementType = asNullableType(a.elementType),
        containsNull = true)
    case m: org.apache.spark.sql.types.MapType =>
      m.copy(valueType = asNullableType(m.valueType),
        valueContainsNull = true)
    case other => other
  }

  private[graft] def asNullableStruct(
      s: org.apache.spark.sql.types.StructType)
      : org.apache.spark.sql.types.StructType =
    asNullableType(s).asInstanceOf[org.apache.spark.sql.types.StructType]

  /** Conservative schema union matching parquet mergeSchema's happy
    * path: standing fields keep their position and name, unseen
    * fields append in arrival order, same-name fields must carry the
    * SAME type (nested structs merge recursively). Any conflict —
    * the case parquet mergeSchema itself would refuse — answers None
    * and the commit simply embeds no schema, leaving the legacy
    * footer sweep to adjudicate at read time. Name match is
    * case-insensitive (the engine's resolution convention), keeping
    * the standing spelling.
    */
  private[graft] def mergeStructs(
      a: org.apache.spark.sql.types.StructType,
      b: org.apache.spark.sql.types.StructType)
      : Option[org.apache.spark.sql.types.StructType] = {
    val out = scala.collection.mutable.ArrayBuffer(
      asNullableStruct(a).fields: _*)
    for (bf <- asNullableStruct(b).fields) {
      val i = out.indexWhere(_.name.equalsIgnoreCase(bf.name))
      if (i < 0) { out += bf; () }
      else (out(i).dataType, bf.dataType) match {
        case (x, y) if x == y => ()
        case (x: org.apache.spark.sql.types.StructType,
              y: org.apache.spark.sql.types.StructType) =>
          mergeStructs(x, y) match {
            case Some(m) => out(i) = out(i).copy(dataType = m)
            case None => return None
          }
        case _ => return None
      }
    }
    Some(org.apache.spark.sql.types.StructType(out.toSeq))
  }

  /** The exact max of one column's stats groups
    * ([[ManifestStats.exactBounds]]) as a floor-shaped group (min = max
    * = the max); None when there is no exact non-null max.
    */
  private def exactMaxGroup(column: String,
      groups: Seq[Option[FileColumnStats]]): Option[FileColumnStats] =
    ManifestStats.exactBounds(groups).collect {
      case (tag, LongStats(_, mx)) =>
        ManifestStats.encode(column, tag, LongStats(mx, mx))
      case (tag, DoubleStats(_, mx)) =>
        ManifestStats.encode(column, tag, DoubleStats(mx, mx))
      case (tag, BinaryStats(_, mx)) =>
        ManifestStats.encode(column, tag, BinaryStats(mx, mx))
    }

  /** `max(prior floor, this version's recorded per-column maxes)` —
    * the monotone fold [[FloorMetaPath]] documents. A version's max
    * folds only the lines that carry the column (conservative-LOW);
    * a column whose tags disagree (schema drift) or whose bounds are
    * not exact drops out of it, and then keeps its prior floor as-is.
    */
  private def foldFloors(prior: Seq[FileColumnStats],
      dataLines: Seq[ManifestEntry]): Seq[FileColumnStats] = {
    val byCol = scala.collection.mutable.LinkedHashMap[String,
      FileColumnStats]()
    for (f <- prior) byCol(f.column.toLowerCase) = f
    val cols = dataLines.flatMap(_.allStats.map(_.column))
      .filterNot(ReservedStatsCols.contains).distinctBy(_.toLowerCase)
    for (c <- cols; now <- exactMaxGroup(c,
        dataLines.flatMap(_.statsFor(c)).map(Some(_)))) {
      val p = byCol.get(c.toLowerCase)
      if (p.isEmpty) byCol(c.toLowerCase) = now
      else exactMaxGroup(p.get.column, Seq(p, Some(now)))
        .foreach(byCol(c.toLowerCase) = _)
    }
    byCol.values.toSeq
  }

  /** Phase 2: atomically publish a manifest listing `files` at
    * exactly `version` (the writer's snapshot version + 1 — ANY
    * interleaved commit since the snapshot read collides here and
    * loses). `snapshotSchema` becomes the `__graft_schema` line (None
    * writes none); the new floor line folds this version's maxes over
    * `baseFloors` — the writer's snapshot's floors, or Nil for a
    * deliberate reset. `batch` is the commit line's `__graft_batch`
    * id (None writes none). The temp file is fully written and closed
    * before the move, so no reader can observe a partial manifest.
    */
  private[graft] def publish(fs: FileSystem, sink: String,
      files: Seq[String], version: Long,
      snapshotSchema: Option[org.apache.spark.sql.types.StructType],
      baseFloors: Seq[FileColumnStats], batch: Option[Long]): Unit = {
    val dir = new Path(sink, ManifestDir)
    fs.mkdirs(dir)
    val tmp = new Path(dir, s".tmp-${java.util.UUID.randomUUID()}")
    val parsed = files.map(parseLine)
    val floors = foldFloors(baseFloors,
      parsed.filterNot(e => isMeta(e) || isDv(e)))
    val floorLine = if (floors.isEmpty) Nil
      else Seq(ManifestEntry(FloorMetaPath, floors).render)
    val metaLines = (commitMetaLine(System.currentTimeMillis(), batch) +:
      snapshotSchema.map(s => schemaMetaLine(asNullableStruct(s))).toSeq) ++
      floorLine
    val out = fs.create(tmp, false)
    try out.write((metaLines ++ files)
      .mkString("\n").getBytes("UTF-8")) finally out.close()
    if (!moveNoReplace(fs, tmp, manifestPath(sink, version)))
      throw new java.util.ConcurrentModificationException(
        s"manifest version $version already committed at $sink")
  }

  /** Move the fully written `tmp` to `target` in one atomic step that
    * refuses an existing `target`: a local rename would replace it, so
    * `file:` moves by hard link; elsewhere a no-overwrite rename
    * (atomic on HDFS). The temp file is deleted either way. False when
    * `target` already existed — the caller lost a race.
    */
  private def moveNoReplace(fs: FileSystem, tmp: Path,
      target: Path): Boolean =
    try {
      if (fs.getUri.getScheme == "file") {
        def local(p: Path) = java.nio.file.Paths.get(fs.makeQualified(p).toUri)
        java.nio.file.Files.createLink(local(target), local(tmp))
      } else
        org.apache.hadoop.fs.FileContext.getFileContext(fs.getUri, fs.getConf)
          .rename(tmp, target, org.apache.hadoop.fs.Options.Rename.NONE)
      true
    } catch {
      case _: java.nio.file.FileAlreadyExistsException |
          _: org.apache.hadoop.fs.FileAlreadyExistsException => false
    } finally { fs.delete(tmp, false); () }

  /** Maintenance compaction: rewrite the committed snapshot into
    * `numFiles` coalesced data files and publish THAT list as the next
    * manifest version. Incremental appends accrete one small batch dir
    * per run; at 100 TB the reader's cost is O(files), so periodic
    * compaction is what keeps the manifest (and the footer-stats
    * watermark sweep) from growing without bound.
    *
    * Row-preserving by construction (`readCommitted` before == after —
    * spec-pinned) and snapshot-isolated like any commit: pre-compaction
    * data files are never touched, so a reader pinned to an older
    * manifest version is unaffected; only [[vacuumUncommitted]]
    * (whose liveness root is the LATEST manifest) reclaims them, which
    * is exactly Delta's VACUUM retention trade. Contends with
    * appenders on the same optimistic-concurrency token: if anything
    * commits between the snapshot read and the publish, the compaction
    * loses, cleans its staged files, and throws — re-run.
    *
    * Returns (files before, files after).
    *
    * `bloomCols`: compaction writes NEW data files, which are
    * bloom-uncovered until the next [[BloomSkip.ensureSidecars]] —
    * correct (absent sidecar = may-contain) but un-pruned. Naming the
    * table's point-lookup columns here re-ensures their sidecars in
    * the same maintenance step, so lookups prune again immediately
    * after the rewrite.
    */
  def compact(spark: SparkSession, sink: String,
      numFiles: Int = 1, bloomCols: Seq[String] = Nil): (Int, Int) = {
    val base = latestSnapshot(spark, sink)
    val dataE = base.data
    require(dataE.nonEmpty, s"nothing committed to compact at $sink")
    // the read applies any delete vectors, so the rewrite FOLDS
    // merge-on-read tombstones away (the staged-only publish drops
    // their manifest lines) — compaction is where the read-side debt
    // of deferred merges is repaid
    val snap = readSnapshot(spark, sink, base)
    // preserve data skipping across compaction: recompute stats for
    // every column the prior manifest covers on ALL its data files (a
    // partially-covered column never pruned anyway)
    val statsFields = coveredStatsFields(dataE, snap.schema)
    // row-preserving maintenance must CARRY the watermark floor —
    // only a deliberate snapshot replace may reset it
    val staged = replaceGated(snap.repartition(numFiles),
      sink, base.version, base.lastBatch, statsFields,
      carriedFloors = base.floors)
    bloomCols.foreach(c => BloomSkip.ensureSidecars(spark, sink, c))
    (dataE.size, staged.size)
  }

  /** The columns the prior manifest's DATA lines fully cover, resolved
    * against `schema` — reserved metadata groups excluded. The stats
    * set every snapshot rewrite re-records.
    */
  private[graft] def coveredStatsFields(dataE: Seq[ManifestEntry],
      schema: org.apache.spark.sql.types.StructType)
      : Seq[org.apache.spark.sql.types.StructField] =
    dataE.flatMap(_.allStats.map(_.column)).distinct
      .filterNot(ReservedStatsCols.contains)
      .filter(c => dataE.forall(_.statsFor(c).nonEmpty))
      .flatMap(c => schema.fields.find(_.name.equalsIgnoreCase(c)))

  /** OPTIMIZE-style compaction: rewrite the snapshot CLUSTERED on
    * `byCols` — range-partitioned into `numFiles` files, sorted within
    * each — and record those columns' interval stats, so the
    * stats-pruned reads ([[readCommittedAbove]]) and merges
    * ([[mergeAtomic]]) engage again on a table whose appends
    * interleaved keys. Plain [[compact]] preserves whatever intervals
    * the data arrived with; this one RESTORES tight intervals — the
    * Delta `OPTIMIZE ZORDER`/cluster-by maintenance move, scheduled
    * exactly like compaction (every file interval spanning the whole
    * key domain is the trigger, and after enough random-key churn
    * that is where a merged table drifts). Same OCC/crash/pinned-
    * reader semantics as every snapshot replace. Returns (files
    * before, files after). `bloomCols` re-ensures point-lookup
    * sidecars over the rewritten files in the same step (see
    * [[compact]]).
    */
  def compactClustered(spark: SparkSession, sink: String,
      byCols: Seq[String], numFiles: Int = 8,
      bloomCols: Seq[String] = Nil): (Int, Int) = {
    require(byCols.nonEmpty, "cluster columns required")
    val base = latestSnapshot(spark, sink)
    val dataE = base.data
    require(dataE.nonEmpty, s"nothing committed to cluster at $sink")
    val snap = readSnapshot(spark, sink, base)
    val statsFields = (byCols
        .flatMap(c => snap.schema.fields.find(_.name.equalsIgnoreCase(c)))
      ++ coveredStatsFields(dataE, snap.schema)).distinct
    val clustered = snap
      .repartitionByRange(numFiles, byCols.map(col): _*)
      .sortWithinPartitions(byCols.map(col): _*)
    val staged = replaceGated(clustered, sink, base.version,
      base.lastBatch, statsFields, carriedFloors = base.floors)
    bloomCols.foreach(c => BloomSkip.ensureSidecars(spark, sink, c))
    (dataE.size, staged.size)
  }

  /** INCREMENTAL small-file compaction — OPTIMIZE priced by the
    * small-file DEBT, never the table (round 14): coalesce only the
    * committed data files whose on-disk size sits below `smallBytes`,
    * carrying every well-formed file's manifest line byte-identical.
    * The full-snapshot rewrites ([[compact]] / [[compactClustered]] /
    * [[compactZordered]]) move the whole table to fix what a handful
    * of small batch files caused; a steady append/merge cadence
    * accretes exactly that debt, and this pass repays it at its own
    * size — the Delta OPTIMIZE bin-packing semantics, which is what a
    * scheduled pass should run between the rare layout rewrites.
    *
    * When `keyCol` is given and every small file carries its stats,
    * the rewrite is CLUSTER-PRESERVING (rewritten rows range-partition
    * + sort on the key, so interval pruning over the packed region
    * survives); otherwise they coalesce as-is. Standing delete
    * vectors APPLY to the rewritten rows (staged files outrank the
    * dvs via the sequence stamp) and keep masking the untouched
    * files — folding them away stays [[foldDvsTargeted]]'s job. File
    * sizes come from one parallel driver-side listing (metadata round
    * trips over the bounded pool). Same OCC publish / crash /
    * pinned-reader semantics as every snapshot commit. Returns
    * (small files rewritten, files staged); (0, 0) with no publish
    * when fewer than two small files stand — nothing to bin.
    */
  def compactSmall(spark: SparkSession, sink: String, smallBytes: Long,
      targetFiles: Int = 1, keyCol: Option[String] = None,
      bloomCols: Seq[String] = Nil): (Int, Int) = {
    require(targetFiles >= 1, s"targetFiles must be >= 1: $targetFiles")
    val fs = fsOf(spark, sink)
    val txn = Txn.begin(spark, sink)
    val (dataE, dvE) = (txn.snap.data, txn.snap.dvs)
    require(dataE.nonEmpty, s"nothing committed to compact at $sink")
    val sizes = inParallel(dataE)(e =>
      e.path -> fs.getFileStatus(new Path(s"$sink/${e.path}")).getLen)
      .toMap
    val (small, large) = dataE.partition(e => sizes(e.path) < smallBytes)
    if (small.size < 2) return (0, 0)
    val fullSchema = txn.snap.schema
    val rowsDf = readEffective(spark, sink, small, dvE, fullSchema)
    val packed = keyCol match {
      case Some(k) if small.forall(_.statsFor(k).nonEmpty) =>
        rowsDf.repartitionByRange(targetFiles, col(k))
          .sortWithinPartitions(col(k))
      case _ => rowsDf.coalesce(targetFiles)
    }
    val statsFields = ((keyCol.toSeq ++ coveredStatsFields(dataE,
        fullSchema).map(_.name)).distinct)
      .flatMap(c => fullSchema.fields.find(_.name.equalsIgnoreCase(c)))
    val staged = txn.commit(carry = _ => large ++ dvE,
      schema = _ => Some(fullSchema))(txn.stage(packed, statsFields)).get._2
    bloomCols.foreach(c => BloomSkip.ensureSidecars(spark, sink, c))
    (small.size, staged.size)
  }

  /** OPTIMIZE ZORDER: rewrite the snapshot MULTI-DIMENSIONALLY
    * clustered — rows ordered along a Morton curve (bit-interleaved
    * `bits`-bit bucket grids) over N ≥ 2 columns — and record EVERY
    * z-column's interval stats, so stats-pruned reads and merges
    * engage on ANY dimension. [[compactClustered]]'s lexicographic
    * range layout gives perfect intervals on its leading column and
    * nearly none on the trailing ones (it only discriminates within
    * leading-column ties); the z-curve trades all of them down to
    * partial-but-real file pruning per dimension — the Delta
    * `OPTIMIZE ZORDER BY (a, b, …)` move, for tables whose hot
    * predicates come on independent keys (fact id + dimension fk,
    * tenant + time).
    *
    * Columns may be INTEGRAL (bucket grid over the value range —
    * width-divided, `(v − mn) div ceil(span/side)`, so the math can
    * never overflow however wide the span; the earlier
    * multiply-first form wrapped past ~2⁵⁵ spans) or STRING (round
    * 14 — the reference's hot keys are UUID strings,
    * create_yougile_dataset.ipynb cell 9): a string dimension maps to
    * an order-preserving integral image — the three characters AFTER
    * the table-wide common prefix of its min/max bound (every value
    * between two strings shares their common prefix, so the stripped
    * prefix discriminates maximally: a constant-prefixed key space
    * like `o-000000123456` grids on its varying digits, a bare UUID
    * on its leading hex), codepoints packed big-endian 16 bits each.
    * UTF-8 is codepoint-order-preserving, so the image's order agrees
    * with the manifest's byte-space string stats (supplementary
    * codepoints cap at 0xFFFF — monotone, so still order-consistent).
    * Bucket quality only ever affects PRUNING, never answers: stats
    * are recomputed from the rewritten files' footers at stage time,
    * so a pathological prefix distribution degrades skipping, not
    * correctness. Bucket bounds come from a min/max pass over the
    * integral images (one extra bounds pass resolves string prefixes
    * first); the interleave is shift/mask column math (codegen'd, no
    * UDF). Null z-keys sort together and stay in the table — stats
    * and pruning remain may-contain correct; an all-null dimension
    * drops out of the grid (degrading to fewer dims, then to
    * [[compactClustered]]/[[compact]]). Same OCC/crash/pinned-reader
    * semantics as every snapshot replace; `bloomCols` re-covers
    * point-lookup sidecars in the same step. Returns (files before,
    * files after).
    */
  def compactZordered(spark: SparkSession, sink: String,
      zCols: Seq[String], numFiles: Int, bloomCols: Seq[String],
      bits: Int): (Int, Int) = {
    require(zCols.size >= 2, s"z-order needs >= 2 columns, got $zCols")
    require(bits >= 1 && bits <= 16, s"bits out of range: $bits")
    require(bits * zCols.size <= 62,
      s"$bits bits x ${zCols.size} dims exceeds the 62-bit z-key")
    val base = latestSnapshot(spark, sink)
    val (dataE, dvE) = (base.data, base.dvs)
    require(dataE.nonEmpty, s"nothing committed to z-order at $sink")
    val snap = readSnapshot(spark, sink, base)
    def fieldOf(c: String) = snap.schema.fields
      .find(_.name.equalsIgnoreCase(c))
      .getOrElse(throw new IllegalArgumentException(
        s"z-order column '$c' not in ${snap.columns.mkString(",")}"))
    for (c <- zCols)
      require(tagOf(fieldOf(c).dataType)
          .exists(t => integralTags.contains(t) || t == "string"),
        s"z-order needs integral or string columns (bucket grid): " +
          s"'$c' is ${fieldOf(c).dataType.simpleString}")
    val stringCols = zCols.filter(c =>
      tagOf(fieldOf(c).dataType).contains("string"))
    // BOTH table-wide bounds passes (the string-prefix pass and the
    // ordKey pass below) answer from MANIFEST STATS when the snapshot
    // carries no delete vectors and every dimension is fully covered
    // (round 18, guide §1.2/§6): file stats are exact over live rows
    // on a dv-free snapshot (string bounds parquet may have cut are
    // refused by manifestMinMax), and ordKey is order-preserving per
    // dimension —
    // so min/max(ordKey(c)) = ordKey(min/max(c)), and evaluating the
    // SAME bounds expressions over a two-row local frame of the stats
    // bounds yields the identical grid with ZERO table scans. Any gap
    // (dvs standing, uncovered column, foreign tag) falls back to the
    // scans; the grid is byte-identical either way.
    val statsMinMax: Option[Map[String, Option[(Any, Any)]]] =
      if (dvE.nonEmpty) None
      else {
        val per = zCols.map(c => manifestMinMax(dataE, c,
          tagOf(fieldOf(c).dataType).get).map(c -> _))
        if (per.exists(_.isEmpty)) None else Some(per.flatten.toMap)
      }
    // string dims: each column's table-wide min/max, whose common
    // prefix is what the packed image strips
    val prefixLen: Map[String, Int] =
      if (stringCols.isEmpty) Map.empty
      else statsMinMax match {
        case Some(mm) => stringCols.map { c =>
          c -> (mm(c) match {
            case Some((a: String, b: String)) =>
              a.zip(b).takeWhile { case (x, y) => x == y }.length
            case _ => 0
          })
        }.toMap
        case None =>
          val row = snap.agg(
            min(col(stringCols.head)),
            (max(col(stringCols.head)) +:
              stringCols.tail.flatMap(c =>
                Seq(min(col(c)), max(col(c))))): _*).head()
          stringCols.zipWithIndex.map { case (c, i) =>
            val (mnV, mxV) = (row.get(2 * i), row.get(2 * i + 1))
            val L =
              if (mnV == null || mxV == null) 0
              else {
                val (a, b) = (mnV.toString, mxV.toString)
                a.zip(b).takeWhile { case (x, y) => x == y }.length
              }
            c -> L
          }.toMap
      }
    // order-preserving integral image of each dimension
    def ordKey(c: String): org.apache.spark.sql.Column =
      if (integralTags.contains(tagOf(fieldOf(c).dataType).get))
        col(c).cast("long")
      else {
        val from = prefixLen(c) + 1 // substring is 1-based
        (0 until 3).map { i =>
          least(ascii(substring(col(c), from + i, 1)).cast("long"),
            lit(65535L)) * lit(1L << (16 * (2 - i)))
        }.reduce(_ + _)
      }
    val boundAggs = zCols.flatMap(c =>
      Seq(min(ordKey(c)).cast("long"), max(ordKey(c)).cast("long")))
    val bounds = statsMinMax match {
      case Some(mm) =>
        import org.apache.spark.sql.types.{LongType, StringType,
          StructField, StructType}
        val fields = zCols.map(c => StructField(c,
          if (tagOf(fieldOf(c).dataType).contains("string")) StringType
          else LongType, nullable = true))
        val rows = Seq(
          org.apache.spark.sql.Row(
            zCols.map(c => mm(c).map(_._1).orNull): _*),
          org.apache.spark.sql.Row(
            zCols.map(c => mm(c).map(_._2).orNull): _*))
        spark.createDataFrame(java.util.Arrays.asList(rows: _*),
          StructType(fields))
          .agg(boundAggs.head, boundAggs.tail: _*).head()
      case None => snap.agg(boundAggs.head, boundAggs.tail: _*).head()
    }
    // an all-null dimension has no grid to interleave — drop it; with
    // fewer than two left, degrade to the clustered/plain rewrite
    val live = zCols.zipWithIndex.filterNot { case (_, i) =>
      bounds.isNullAt(2 * i) }
    if (live.isEmpty) return compact(spark, sink, numFiles, bloomCols)
    if (live.size == 1)
      return compactClustered(spark, sink, Seq(live.head._1), numFiles,
        bloomCols)
    val side = BigInt(1L << bits)
    def bucket(c: String, i: Int): org.apache.spark.sql.Column = {
      val mn = BigInt(bounds.getLong(2 * i))
      val span = BigInt(bounds.getLong(2 * i + 1)) - mn + 1
      // width-divided grid: w = ceil(span/side), bucket = (v−mn) div w
      // — provably in [0, side−1] and overflow-free at any span. The
      // subtraction runs in decimal and the division is the EXACT
      // IntegralDivide (`div`): a fractional decimal divide rounds at
      // its result scale, and 255.999999… rounding up to 256 would
      // set a bit above the grid and collapse the interleave (this is
      // a table rewrite — the decimal cost is noise against the
      // shuffle).
      val w = (span + side - 1) / side
      call_function("div",
        ordKey(c).cast("decimal(38,0)") -
          lit(new java.math.BigDecimal(mn.bigInteger)),
        lit(new java.math.BigDecimal(w.bigInteger)))
    }
    val d = live.size
    val z = (0 until bits).flatMap { i =>
      live.zipWithIndex.map { case (_, j) =>
        shiftleft(shiftright(col(s"__zb$j"), i).bitwiseAND(lit(1L)),
          i * d + (d - 1 - j))
      }
    }.reduce(_ + _)
    val clustered = live.zipWithIndex
      .foldLeft(snap) { case (df, ((c, ci), j)) =>
        df.withColumn(s"__zb$j", bucket(c, ci)) }
      .withColumn("__z", z)
      .repartitionByRange(numFiles, col("__z"))
      .sortWithinPartitions("__z")
      .drop((live.indices.map(j => s"__zb$j") :+ "__z"): _*)
    val statsFields = (zCols
        .flatMap(c => snap.schema.fields.find(_.name.equalsIgnoreCase(c)))
      ++ coveredStatsFields(dataE, snap.schema)).distinct
    val staged = replaceGated(clustered, sink, base.version,
      base.lastBatch, statsFields, carriedFloors = base.floors)
    bloomCols.foreach(c => BloomSkip.ensureSidecars(spark, sink, c))
    (dataE.size, staged.size)
  }

  /** [[compactZordered]] over a column list with the usual defaults. */
  def compactZordered(spark: SparkSession, sink: String,
      zCols: Seq[String], numFiles: Int): (Int, Int) =
    compactZordered(spark, sink, zCols, numFiles, Nil, 8)

  def compactZordered(spark: SparkSession, sink: String,
      zCols: Seq[String]): (Int, Int) =
    compactZordered(spark, sink, zCols, 16, Nil, 8)

  /** The two-column form earlier rounds shipped — delegates to the
    * N-dimensional rewrite. */
  def compactZordered(spark: SparkSession, sink: String,
      colA: String, colB: String, numFiles: Int = 16,
      bloomCols: Seq[String] = Nil, bits: Int = 8): (Int, Int) =
    compactZordered(spark, sink, Seq(colA, colB), numFiles, bloomCols,
      bits)

  /** Replace the committed snapshot with `df`'s contents as manifest
    * version `expectVersion + 1` — the OCC primitive behind [[compact]]
    * and `IncrementalAgg`'s state fold. Prior data files stay on disk
    * for pinned readers until [[vacuumUncommitted]]; any commit that
    * lands after the caller's snapshot read collides at publish and
    * this replacement loses (staged files cleaned, exception thrown —
    * re-run from a fresh snapshot). The sink's recorded batch id
    * carries over, so a rewritten fold state still refuses a replay.
    */
  def replaceSnapshot(df: DataFrame, sink: String,
      expectVersion: Long): Unit = {
    replaceGated(df, sink, expectVersion,
      latestSnapshot(df.sparkSession, sink).lastBatch); ()
  }

  /** BLIND append — SQL `INSERT INTO` semantics through the catalog
    * face: rows land as new staged files with NO watermark gate (ANSI
    * INSERT is a row add, not an increment delivery — the
    * watermark-idempotent contract stays on the view face's
    * `watermarkCol` option and the API). Stats record every column
    * the standing manifest fully covers, so pruning and the watermark
    * shortcut survive the insert; on a dv-carrying table the staged
    * lines outrank standing tombstones (an inserted key that was once
    * deleted must not be re-masked). Same OCC/crash contract as every
    * commit. `batch` is the id the commit line records (a maintained
    * index's batch id); without one the commit keeps the snapshot's.
    * Returns the appended row count.
    */
  def appendBlindAtomic(df: DataFrame, sink: String,
      batch: Option[Long] = None): Long = {
    val txn = Txn.begin(df.sparkSession, sink)
    val dataE = txn.snap.data
    val statsFields =
      if (dataE.isEmpty)
        df.schema.fields.filter(f => tagOf(f.dataType).nonEmpty).toSeq
      else coveredStatsFields(dataE, df.schema)
    def counts(staged: Seq[ManifestEntry]) =
      staged.map(_.statsFor(RowsCol).flatMap(_.min.toLongOption))
    // INSERT of an empty SELECT publishes nothing — a zero-row version
    // helps no reader. Only when every part's row count is KNOWN zero:
    // an unreadable footer stages without the count, and treating
    // that as empty would silently drop real rows
    txn.commit(
      gate = st => dataE.isEmpty || !counts(st).forall(_.contains(0L)),
      schema = appendSchema(_, df.schema), batch = batch)(
      txn.stage(df, statsFields))
      .fold(0L)(p => counts(p._2).flatten.sum)
  }

  /** SQL `CREATE TABLE` (no AS SELECT): publish a SCHEMA-ONLY
    * manifest as version 1 — zero data files, the declared schema in
    * the `__graft_schema` line — so the statement's success is
    * immediately observable: the table loads, SELECTs answer empty,
    * and a following INSERT INTO lands as the ordinary blind append
    * at version 2 (round 17; closes the r16 ADVICE surprise where
    * CREATE "succeeded" but loadTable refused until a commit).
    */
  def createEmptyTable(spark: SparkSession, sink: String,
      schema: org.apache.spark.sql.types.StructType): Unit = {
    val version = latestSnapshot(spark, sink).version
    require(version == 0L,
      s"table already committed at $sink (version $version)")
    publish(fsOf(spark, sink), sink, Seq.empty, 1L, Some(schema), Nil,
      None)
  }

  /** `ALTER TABLE … ADD COLUMN` as a DEGENERATE APPEND (round 17):
    * the evolution commit stages ONE zero-row parquet file carrying
    * the evolved schema and publishes `prior ++ that file` at
    * version+1 with the evolved schema embedded. Why a real file and
    * not just a rewritten `__graft_schema` line: the faces that
    * answer a schema from the FILES rather than the line — the legacy
    * footer sweep, a mergeSchema read of the data directory — see the
    * new column exactly as an evolving append would surface it, and
    * the version's file list differs from its predecessor's like any
    * commit's. The file's manifest line stamps [[NullTag]] stats for
    * every taggable column (zero rows = provably zero non-null
    * values), so stats coverage — the manifest
    * watermark shortcut and [[coveredStatsFields]] — survives the
    * evolution instead of degrading to the footer sweep, and no
    * pruning verdict can ever touch the file. Same OCC/crash contract
    * as every commit. Returns the published version.
    */
  def evolveSchemaAtomic(spark: SparkSession, sink: String,
      evolved: org.apache.spark.sql.types.StructType): Long = {
    val txn = Txn.begin(spark, sink)
    require(txn.snap.version > 0L, s"nothing committed at $sink")
    val norm = asNullableStruct(evolved)
    val bridge = org.apache.spark.sql.graftbridge.ParquetIoBridge
    val (factory, conf) = bridge.parquetWriterFactory(spark, norm)
    txn.commit(schema = _ => Some(norm)) {
      val rel = s"${txn.newDir()}/part-00000-${java.util.UUID.randomUUID()}" +
        bridge.fileExtension(factory, conf)
      // written in-process (a zero-row footer is a handful of KB — no job)
      bridge.openWriter(factory, conf, s"$sink/$rel", norm).close()
      Seq(ManifestEntry(rel, norm.fields.toSeq.flatMap(f =>
        tagOf(f.dataType).map(_ => FileColumnStats(f.name, NullTag, "", ""))) :+
        FileColumnStats(RowsCol, "long", "0", "0")))
    }.get._1
  }

  /** [[replaceSnapshot]] with a gate: `gate` runs after the staging
    * write and before any publish intent; false reclaims the staged
    * batch and publishes NOTHING (the snapshot is untouched; returns
    * Nil). It exists so a fold can read a metric OBSERVED during the
    * staging scan (e.g. "how many fresh rows did this batch
    * contribute") and turn a no-op replay into a skipped publish
    * without a dedicated counting action. A full replace's snapshot
    * schema IS the replacing frame's; floors RESET by default — a
    * replace is a deliberate new history (the Complete-mode sink
    * rewrites its rollup every batch), not a destructive edit the
    * replay shield must remember. A row-preserving rewrite passes its
    * snapshot's floors as `carriedFloors` instead. `batch` is the id
    * the commit line records: a fold's new one, or the replaced
    * snapshot's own.
    */
  private[graft] def replaceGated(df: DataFrame, sink: String,
      expectVersion: Long, batch: Option[Long],
      statsFields: Seq[org.apache.spark.sql.types.StructField] = Nil,
      carriedFloors: Seq[FileColumnStats] = Nil,
      gate: () => Boolean = () => true): Seq[ManifestEntry] = {
    val spark = df.sparkSession
    val txn = new Txn(spark, sink, Snapshot(expectVersion, Nil, Nil, None,
      carriedFloors, None)(spark, sink))
    txn.commit(gate = _ => gate(), carry = _ => Nil,
      schema = _ => Some(df.schema), batch = batch)(
      txn.stage(df, statsFields)).fold(Seq.empty[ManifestEntry])(_._2)
  }

  /** A merge batch's distinct, non-null churn keys, collected once and
    * held in the key family's native sort order so the manifest's
    * interval stats can be binary-searched against it. Two families:
    * integral surrogate keys (numeric order) and string/UUID keys
    * (UTF-8 bytes, unsigned — the SAME order parquet's UTF8 comparator
    * ranked the footer bounds in, so the interval test and the stats
    * always agree; Java String order differs on supplementary
    * characters, which is why the bytes are the comparison domain
    * everywhere). Driver-resident by contract: churn-sized, fenced by
    * `maxChurnKeys`, like the tombstone masks.
    */
  private[graft] sealed trait ChurnKeys {
    def size: Int
    /** The churn as a broadcastable one-column frame named `name`,
      * typed in the key's own family so the join coerces exactly. */
    def toDf(spark: SparkSession, name: String): DataFrame
  }
  /** Slices for a churn-keys frame: SIZE-ADAPTIVE, not
    * defaultParallelism — `spark.createDataset(seq)` slices a local
    * collection into one partition PER CORE, so a 3-key churn staged
    * as a delete vector wrote 32 near-empty files per merge-on-read
    * commit (each with its own manifest line, footer-stats read, scan
    * task, and a share of a 64-path listing job on every later read).
    * ~2 M keys per slice matches the merges' rowsPerStagedFile.
    */
  private def churnSlices(n: Int): Int =
    math.max(1, n / 2000000)
  private[graft] final case class LongChurn(sorted: Array[Long])
      extends ChurnKeys {
    def size: Int = sorted.length
    def toDf(spark: SparkSession, name: String): DataFrame =
      spark.createDataset(spark.sparkContext.parallelize(
        sorted.toSeq, churnSlices(sorted.length)))(
        org.apache.spark.sql.Encoders.scalaLong).toDF(name)
  }
  private[graft] final case class StringChurn(sorted: Array[String])
      extends ChurnKeys {
    private[graft] val sortedBytes: Array[Array[Byte]] = sorted.map(
      _.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    def size: Int = sorted.length
    def toDf(spark: SparkSession, name: String): DataFrame =
      spark.createDataset(spark.sparkContext.parallelize(
        sorted.toSeq, churnSlices(sorted.length)))(
        org.apache.spark.sql.Encoders.STRING).toDF(name)
  }

  /** Sort strings by their UTF-8 bytes, unsigned — [[StringChurn]]'s
    * required order. */
  private def sortUtf8(values: Array[String]): Array[String] = {
    val utf8 = java.nio.charset.StandardCharsets.UTF_8
    values.map(v => (v.getBytes(utf8), v))
      .sortWith((a, b) => java.util.Arrays.compareUnsigned(a._1, b._1) < 0)
      .map(_._2)
  }

  private[graft] object ChurnKeys {
    /** The distinct keys in column `index` of collected `rows`, in the
      * family `dataType` names: string keys by their UTF-8 bytes,
      * integral ones as longs. None for a type with no interval family.
      */
    def of(rows: Array[org.apache.spark.sql.Row], index: Int,
        dataType: org.apache.spark.sql.types.DataType): Option[ChurnKeys] =
      tagOf(dataType) match {
        case Some("string") =>
          Some(StringChurn(sortUtf8(rows.map(_.getString(index)).distinct)))
        case Some(t) if integralTags.contains(t) =>
          Some(LongChurn(rows.map(
            _.get(index).asInstanceOf[Number].longValue()).distinct.sorted))
        case _ => None
      }
  }

  /** How many churn key sets merge paths have collected — a test
    * probe pinning the one-collect-per-micro-batch contract (the
    * streaming CDC apply collects once and threads the set through
    * [[mergeAtomic]]'s precollected overload instead of re-collecting
    * inside the merge).
    */
  private[graft] val churnCollects =
    new java.util.concurrent.atomic.AtomicLong

  /** Test probes for [[changesBetween]]'s guarded dv-key collect:
    * how many times the collect RAN (the bootstrap/no-mask guard
    * skips it entirely — a feed pull that cannot newly-mask anything
    * must cost zero dv-key jobs) and how many times the churn fence
    * tripped into the keep-all-common-files fallback.
    */
  private[graft] val pruneChurnCollects =
    new java.util.concurrent.atomic.AtomicLong
  private[graft] val pruneFenceFallbacks =
    new java.util.concurrent.atomic.AtomicLong
  private[graft] val groupFenceFallbacks =
    new java.util.concurrent.atomic.AtomicLong

  /** Collect `changes`' distinct churn keys, enforcing the merge-key
    * contract LOUDLY up front: the key column exists, its type is
    * integral or string (the two families the manifest records
    * intervals for — a float/timestamp "key" has no row identity
    * here), no key is null, and the set is churn-sized. Shared with
    * [[graft.streaming.MergeStream]], which validates BEFORE its
    * rollup fold consumes the batch — a merge-side rejection after the
    * fold committed its batch id would strand a state the table never
    * applied.
    */
  private[graft] def collectChurn(changes: DataFrame, keyCol: String,
      maxChurnKeys: Int): ChurnKeys = {
    churnCollects.incrementAndGet()
    val keyField = changes.schema.fields
      .find(_.name.equalsIgnoreCase(keyCol))
      .getOrElse(throw new IllegalArgumentException(
        s"merge key '$keyCol' not in ${changes.columns.mkString(",")}"))
    val tag = tagOf(keyField.dataType)
    require(tag.exists(t => integralTags.contains(t) || t == "string"),
      s"merge keys must be integral or string (row-identity contract): " +
        s"'$keyCol' is ${keyField.dataType.simpleString}")
    def validated(rows: Array[org.apache.spark.sql.Row])
        : Array[org.apache.spark.sql.Row] = {
      require(!rows.exists(_.isNullAt(0)),
        s"merge batch carries a NULL '$keyCol' — a null key has no row " +
          "identity to upsert or delete")
      require(rows.length <= maxChurnKeys,
        s"merge batch carries ${rows.length} distinct keys " +
          s"(> $maxChurnKeys): that is a reload, not a churn batch — " +
          "raise maxChurnKeys deliberately or rebuild the table")
      rows
    }
    ChurnKeys.of(validated(changes.select(col(keyCol)).distinct().collect()),
      0, keyField.dataType).get
  }

  /** What a [[mergeAtomic]] did, plus the change-derived frames a
    * downstream incremental consumer (e.g. a maintained rollup) folds:
    * `upserts` are the after-images the merge wrote, `beforeImages`
    * the pre-merge rows of every churned key — both lazy reads over
    * IMMUTABLE pre-merge data files, so they stay valid after the
    * commit (until [[vacuumUncommitted]] reclaims superseded batches).
    */
  final case class MergeResult(version: Long, carried: Int,
      rewritten: Int, staged: Int, upserts: DataFrame,
      beforeImages: DataFrame)

  /** Copy-on-write MERGE — the keyed upsert/delete a CDC feed applies
    * to a 100 TB table, priced by the CHURN, not the table: `changes`
    * carries full-width rows plus a boolean `deleteCol`, every
    * incoming key replaces (or removes) its current row, and ONLY the
    * data files whose manifest-recorded `[min, max]` interval on
    * `keyCol` can contain a churned key are rewritten. Every other
    * file rides into the new manifest verbatim — zero bytes moved.
    * On a key-clustered table (range-partitioned load, or the z-order
    * layout) a churn batch touching one key region rewrites that
    * region's files and carries the rest, which is exactly how a
    * lakehouse MERGE stays affordable when the table is 10⁵ files.
    *
    * Contract: ≤1 row per key in `changes` (a CDC log resolves its
    * own within-batch order first — [[Cdc.latestView]] is that
    * resolve); the committed table holds ≤1 row per key (it was
    * loaded or previously merged that way); `keyCol` is integral or
    * string — the surrogate-key and UUID/natural-key cases; string
    * intervals prune in UTF-8 byte space against the manifest's
    * base64 bounds. Files without usable `keyCol` stats are
    * rewritten — a MAY-CONTAIN superset, conservative like every
    * skipping decision here. The churned key set is collected to the
    * driver to test file intervals (churn-sized by contract, like the
    * tombstone masks — `maxChurnKeys` fences the contract violation
    * loudly).
    *
    * Publication, concurrency, and crash behavior are [[publish]]'s:
    * the new manifest (carried + rewritten lists) lands at
    * `version + 1` or the merge loses the OCC race, cleans its staged
    * files, and throws; a crash before the rename leaves readers on
    * the pre-merge snapshot; pre-merge files stay readable for pinned
    * readers and time travel until vacuum.
    */
  def mergeAtomic(changes: DataFrame, sink: String, keyCol: String,
      deleteCol: String, maxChurnKeys: Int = 10000000): MergeResult =
    mergeAtomic(changes, sink, keyCol, deleteCol, maxChurnKeys,
      collectChurn(changes, keyCol, maxChurnKeys))

  /** [[mergeAtomic]] with the churn key set already collected — the
    * streaming CDC apply computes it once per micro-batch (its rollup
    * fold reads the same set) and threads it through, so each batch
    * costs ONE distinct+collect of the resolved changes, not two.
    */
  private[graft] def mergeAtomic(changes: DataFrame, sink: String,
      keyCol: String, deleteCol: String, maxChurnKeys: Int,
      churn: ChurnKeys): MergeResult = {
    val spark = changes.sparkSession
    val txn = Txn.begin(spark, sink)
    val (dataE, dvE) = (txn.snap.data, txn.snap.dvs)
    require(dataE.nonEmpty, s"nothing committed to merge into at $sink")
    // key-contract enforcement (type family, nulls, churn fence) lives
    // in collectChurn — LOUD, because a silently nulled cast would
    // read as "no file intersects" and old rows would survive beside
    // their upserts: a wrong table, not a missed optimization
    require(churn.size <= maxChurnKeys,
      s"precollected churn carries ${churn.size} keys (> $maxChurnKeys)")
    val (carried, touched) = splitByKeyIntervals(dataE, keyCol, churn)
    // full-snapshot schema (the readCommittedAbove evolution guard):
    // a touched subset must not lose columns only carried files have
    val fullSchema = txn.snap.schema
    requireKeyFamily(fullSchema, keyCol, churn, changes)
    // EFFECTIVE old rows: standing delete vectors apply, so a
    // dv-masked row can never be resurrected into the rewrite
    val oldTouched = readEffective(spark, sink, touched, dvE, fullSchema)
    val churnDf = broadcast(churn.toDf(spark, keyCol))
    val survivors = oldTouched.join(churnDf, Seq(keyCol), "left_anti")
    val upserts = changes.filter(!col(deleteCol)).drop(deleteCol)
    val merged0 = survivors.unionByName(upserts, allowMissingColumns = true)
    // CLUSTER-PRESERVING rewrite (round 14): the staged files
    // range-partition on the merge key, so each rewrite leaves tight
    // disjoint key intervals behind instead of interleaving survivors
    // with upserts across write partitions — without this every merge
    // WIDENED the touched region's intervals (an un-shaped union
    // writes one file per input split — a one-file rewrite fanned
    // into one staged file per upsert partition, each spanning the
    // whole churn range), and after enough batches the next merge's
    // prune decayed toward rewrite-everything until an OPTIMIZE
    // repaired it. The shuffle is churn-locality-sized. Output file
    // count: at least the touched files (layout-stable), and for a
    // BULK batch (insert-heavy loads where touched is 0 or 1 but the
    // churn is millions of keys) enough partitions that one task
    // never serializes the whole write — the churn size is already
    // exact on the driver, so the sizing costs nothing.
    val rowsPerStagedFile = 2000000L
    val nOut = math.max(math.max(1, touched.size),
      ((churn.size + rowsPerStagedFile - 1) / rowsPerStagedFile).toInt)
    val merged = merged0
      .repartitionByRange(nOut, col(keyCol))
      .sortWithinPartitions(keyCol)
    // rewritten files re-record the merge key AND every column the
    // prior manifest fully covers (so the watermark shortcut and any
    // other pruning survive the merge)
    val statsFields = ((keyCol +: coveredStatsFields(dataE,
        merged.schema).map(_.name)).distinct)
      .flatMap(c => merged.schema.fields.find(_.name.equalsIgnoreCase(c)))
    // merged already unions any change-batch-only columns over the
    // carried schema (allowMissingColumns), so this IS the new
    // snapshot's merge-schema. A lost OCC race retries WITHOUT
    // recomputation when the winner provably stayed outside this
    // merge's scope: added files disjoint from the churn's key
    // intervals (round 17).
    val touchedPaths = touched.map(_.path).toSet
    val (published, staged) = txn.commit(
      carry = Txn.carryUntouched(touchedPaths),
      schema = _ => mergeStructs(fullSchema, merged.schema),
      retry = Some(Txn.confined(touchedPaths, fullSchema,
        added => splitByKeyIntervals(added, keyCol, churn)._2.isEmpty)))(
      txn.stage(merged, statsFields)).get
    MergeResult(published, carried.size, touched.size,
      staged.size, upserts,
      oldTouched.join(churnDf, Seq(keyCol), "left_semi"))
  }

  final case class DeleteResult(version: Long, carried: Int,
      rewritten: Int, staged: Int)

  /** Copy-on-write predicate DELETE — `DELETE FROM t WHERE cond` for a
    * table with NO key contract, priced by the files the predicate can
    * touch: `mayMatch` (the manifest-stats verdict the SQL face
    * computes from the WHERE clause) splits the snapshot into files
    * that provably hold no matching row — carried into the new
    * manifest VERBATIM, zero bytes moved — and files that might; only
    * the latter are read (delete vectors applied through
    * [[readEffective]], so a dv-masked row cannot be resurrected) and
    * their surviving rows re-staged. On a predicate aligned with the
    * table's clustering (the common case: a time-range purge on a
    * watermark-ordered table, a key-range GDPR erase on a z-ordered
    * one) a 10⁵-file table rewrites the touched region only.
    *
    * SQL NULL semantics: a row deletes iff `cond` is TRUE — survivors
    * keep rows where it is false OR NULL.
    *
    * The survivor write is SHUFFLE-FREE: `coalesce` back to the
    * touched file count keeps rows approximately file-local (the scan
    * partitions follow the input files), so existing clustering
    * erodes no faster than the deletion itself requires. A no-match
    * delete (nothing touched) publishes NO new version — idempotent
    * and free. Publication/OCC/crash behavior are [[publish]]'s, as
    * in [[mergeAtomic]].
    */
  def deleteWhereAtomic(spark: SparkSession, sink: String,
      cond: org.apache.spark.sql.Column,
      mayMatch: ManifestEntry => Boolean = _ => true): DeleteResult = {
    val txn = Txn.begin(spark, sink)
    val (version, dataE, dvE) = (txn.snap.version, txn.snap.data, txn.snap.dvs)
    require(dataE.nonEmpty, s"nothing committed to delete from at $sink")
    val (touched, carried) = dataE.partition(mayMatch)
    if (touched.isEmpty) return DeleteResult(version, carried.size, 0, 0)
    val fullSchema = txn.snap.schema
    val oldTouched = readEffective(spark, sink, touched, dvE, fullSchema)
    // delete iff cond IS TRUE: null-cond rows survive
    val survivors = oldTouched
      .filter(!org.apache.spark.sql.functions.coalesce(cond,
        org.apache.spark.sql.functions.lit(false)))
      .coalesce(math.max(1, touched.size))
    // DELETE never moves schema
    rewriteConfined(txn, survivors, touched, carried.size, fullSchema,
      mayMatch)
  }

  /** Copy-on-write predicate UPDATE — `UPDATE t SET … WHERE cond` for
    * a table with no key contract, [[deleteWhereAtomic]]'s sibling:
    * the same manifest-stats file pruning (carried files verbatim),
    * the same dv-resolved rewrite of may-match files, but matching
    * rows get the SET expressions applied instead of dropped. SQL
    * semantics throughout: a row updates iff `cond` is TRUE (false OR
    * NULL rows carry unchanged), and EVERY set expression evaluates
    * against the OLD row (`SET a = b, b = a` swaps — the new values
    * compute into temporaries before any column is replaced). Each
    * assigned value casts to its column's existing type, so the
    * snapshot schema never drifts through an update. A dv-masked row
    * is absent from the rewrite's input and cannot be resurrected by
    * matching the predicate. No-match (nothing touched) publishes no
    * version. This is the exact rewrite contract SQL UPDATE's
    * group-based `SupportsRowLevelOperations` needs — the named next
    * step for the catalog face.
    */
  def updateWhereAtomic(spark: SparkSession, sink: String,
      cond: org.apache.spark.sql.Column,
      sets: Map[String, org.apache.spark.sql.Column],
      mayMatch: ManifestEntry => Boolean = _ => true): DeleteResult = {
    require(sets.nonEmpty, "UPDATE needs at least one SET assignment")
    val txn = Txn.begin(spark, sink)
    val (version, dataE, dvE) = (txn.snap.version, txn.snap.data, txn.snap.dvs)
    require(dataE.nonEmpty, s"nothing committed to update at $sink")
    val fullSchema = txn.snap.schema
    sets.keys.foreach(c => require(
      fullSchema.fields.exists(_.name.equalsIgnoreCase(c)),
      s"SET column '$c' not in the committed schema"))
    val (touched, carried) = dataE.partition(mayMatch)
    if (touched.isEmpty) return DeleteResult(version, carried.size, 0, 0)
    val oldTouched = readEffective(spark, sink, touched, dvE, fullSchema)
    import org.apache.spark.sql.functions.{coalesce, lit, when, col => c}
    val matchC = coalesce(cond, lit(false))
    // all new values compute against the OLD row first; the write-back
    // targets the RESOLVED field name, not the caller's spelling — a
    // case-mismatched SET key (`SET O_TOTALPRICE = …`) must replace
    // the existing column, not mint a case-variant twin that standing
    // files lack (mergeSchema readers would then surface duplicate
    // case-variant columns / nulls)
    val staged = sets.toSeq.zipWithIndex.map { case ((name, value), i) =>
      val field = fullSchema.fields
        .find(_.name.equalsIgnoreCase(name)).get
      (field, value, i)
    }
    var df = oldTouched
    for ((field, value, i) <- staged)
      df = df.withColumn(s"__set_$i",
        when(matchC, value.cast(field.dataType)).otherwise(c(field.name)))
    for ((field, _, i) <- staged)
      df = df.withColumn(field.name, c(s"__set_$i")).drop(s"__set_$i")
    // SET casts pin the types: the snapshot schema never moves
    rewriteConfined(txn, df.coalesce(math.max(1, touched.size)), touched,
      carried.size, fullSchema, mayMatch)
  }

  /** The predicate DELETE/UPDATE commit: stage the rewrite of the
    * may-match files (read dv-resolved, so the staged lines outrank
    * every standing tombstone) and publish it over the untouched
    * files. Lost OCC races retry recomputation-free when the winner's
    * added files provably hold no row the predicate could touch
    * (round 17).
    */
  private def rewriteConfined(txn: Txn, rewrite: DataFrame,
      touched: Seq[ManifestEntry], carried: Int,
      fullSchema: org.apache.spark.sql.types.StructType,
      mayMatch: ManifestEntry => Boolean): DeleteResult = {
    val touchedPaths = touched.map(_.path).toSet
    val (published, staged) = txn.commit(
      carry = Txn.carryUntouched(touchedPaths),
      schema = _ => Some(fullSchema),
      retry = Some(Txn.confined(touchedPaths, fullSchema,
        _.forall(e => !mayMatch(e)))))(
      txn.stage(rewrite, coveredStatsFields(txn.snap.data,
        rewrite.schema))).get
    DeleteResult(published, carried, touched.size, staged.size)
  }

  /** The table's own key column must sit in the churn's type family,
    * or the churn joins would coerce (long vs string casts) and
    * silently miss rows they should replace.
    */
  private def requireKeyFamily(
      fullSchema: org.apache.spark.sql.types.StructType, keyCol: String,
      churn: ChurnKeys, changes: DataFrame): Unit =
    fullSchema.fields.find(_.name.equalsIgnoreCase(keyCol)).foreach { tf =>
      val tTag = tagOf(tf.dataType)
      val sameFamily = churn match {
        case _: LongChurn => tTag.exists(integralTags.contains)
        case _: StringChurn => tTag.contains("string")
      }
      require(sameFamily,
        s"merge key family mismatch: table '$keyCol' is " +
          s"${tf.dataType.simpleString}, the change batch's is " +
          s"${changes.schema.fields.find(_.name.equalsIgnoreCase(keyCol))
            .map(_.dataType.simpleString).getOrElse("absent")}")
    }

  /** MERGE-ON-READ — the deferred twin of [[mergeAtomic]]'s
    * copy-on-write: the commit stages ONLY the after-images as new
    * data files plus one DELETE-VECTOR file holding the churned keys;
    * no existing data file is read or rewritten, so a change batch
    * costs its own size however the table is laid out — the
    * Iceberg-equality-delete / Delta-deletion-vector trade, write
    * amplification moved to the READ side. Every reader here applies
    * standing dvs through [[readEffective]]'s sequence rule (a dv
    * masks data files with a strictly smaller commit sequence, so
    * later re-upserts are never swallowed), which keeps the whole
    * composed surface — `readCommitted`, pruned range reads, point
    * lookups, keyed locality reads, rollup folds, even a later
    * copy-on-write merge — exactly equal to the copy-on-write result.
    * The read debt is one churn-sized anti-join per standing dv
    * window; any compaction ([[compact]] / [[compactClustered]] /
    * [[compactZordered]], i.e. the scheduled [[Maintenance]] pass)
    * FOLDS all dvs away — the steady state is "defer cheaply, repay
    * at the next maintenance window".
    *
    * Same churn contract as [[mergeAtomic]] ([[collectChurn]]:
    * integral-or-string key, no nulls, fenced; ≤1 row per key in
    * `changes`; the table holds ≤1 row per key), same OCC publish /
    * crash semantics. Replaying a delivered batch is semantically
    * idempotent: the replay's higher sequence re-masks exactly the
    * rows the original masked, and its after-images supersede the
    * original's — content converges, only file debt accrues until
    * compaction. Returns a [[MergeResult]] with `rewritten = 0` and
    * `carried` = every prior data file, by construction.
    */
  def mergeOnReadAtomic(changes: DataFrame, sink: String, keyCol: String,
      deleteCol: String, maxChurnKeys: Int = 10000000): MergeResult =
    mergeOnReadAtomic(changes, sink, keyCol, deleteCol, maxChurnKeys,
      collectChurn(changes, keyCol, maxChurnKeys), None)

  /** [[mergeOnReadAtomic]] with the churn already collected — the
    * streaming CDC apply's one-collect-per-micro-batch discipline.
    * `batch` is the id the commit line records (a maintained index's
    * batch id); without one the commit keeps the snapshot's.
    */
  private[graft] def mergeOnReadAtomic(changes: DataFrame, sink: String,
      keyCol: String, deleteCol: String, maxChurnKeys: Int,
      churn: ChurnKeys, batch: Option[Long]): MergeResult = {
    val spark = changes.sparkSession
    val txn = Txn.begin(spark, sink)
    val (dataE, dvE) = (txn.snap.data, txn.snap.dvs)
    require(dataE.nonEmpty, s"nothing committed to merge into at $sink")
    require(churn.size <= maxChurnKeys,
      s"precollected churn carries ${churn.size} keys (> $maxChurnKeys)")
    val fullSchema = txn.snap.schema
    requireKeyFamily(fullSchema, keyCol, churn, changes)
    dvE.headOption.foreach(d => require(
      dvKeyColOf(d).equalsIgnoreCase(keyCol),
      s"merge-on-read table at $sink already carries delete vectors " +
        s"keyed by '${dvKeyColOf(d)}' — one merge key per table"))
    val upserts = changes.filter(!col(deleteCol)).drop(deleteCol)
    // before-images (the rollup retraction input) resolve BEFORE the
    // commit from the effective pre-merge churn locality — lazy over
    // immutable files, so still valid after the publish
    val (_, touched) = splitByKeyIntervals(dataE, keyCol, churn)
    val beforeImages = readEffective(spark, sink, touched, dvE, fullSchema)
      .join(broadcast(churn.toDf(spark, keyCol)), Seq(keyCol), "left_semi")
    val statsFields = ((keyCol +: coveredStatsFields(dataE,
        fullSchema).map(_.name)).distinct)
      .flatMap(c => upserts.schema.fields.find(_.name.equalsIgnoreCase(c)))
    val dvMark = FileColumnStats(DvCol, "string",
      java.util.Base64.getEncoder.encodeToString(
        keyCol.getBytes(java.nio.charset.StandardCharsets.UTF_8)),
      java.util.Base64.getEncoder.encodeToString(
        keyCol.getBytes(java.nio.charset.StandardCharsets.UTF_8)))
    // the dv file stages WITH the churn's own keyCol interval stats
    // (round 14): readEffective's dv-locality split uses them to skip
    // the anti-join for data files provably outside the churn — the
    // read-debt pricing that keeps a localized deferred delete from
    // taxing every read of a 10⁵-file table. Its one-column schema is
    // the one [[dvSchema]] reads every dv file under
    val dvDf = churn.toDf(spark, keyCol)
    // two staged batch dirs (after-images, dv); the staged dv lines
    // make the commit stamp both at this commit's sequence
    val (published, staged) = txn.commit(
        schema = _ => mergeStructs(fullSchema, upserts.schema),
        batch = batch) {
      // an all-delete batch stages one 0-row after-image file: its line
      // would ride every later manifest, so the line goes, and with it
      // the file, or the whole staged dir when nothing in it is kept
      val (empty, afterImages) = txn.stage(upserts, statsFields)
        .partition(_.statsFor(RowsCol).flatMap(_.min.toLongOption)
          .contains(0L))
      empty.map(e => new Path(s"$sink/${e.path}")).foreach(p =>
        fsOf(spark, sink).delete(if (afterImages.isEmpty) p.getParent else p,
          true))
      afterImages ++
        txn.stage(dvDf, dvDf.schema.fields.toSeq)
          .map(e => e.copy(allStats = e.allStats :+ dvMark))
    }.get
    MergeResult(published, dataE.size, 0, staged.count(!isDv(_)), upserts,
      beforeImages)
  }

  /** TARGETED delete-vector fold — minor compaction (round 14): fold
    * standing delete vectors by rewriting ONLY the data files they
    * actually mask, then drop every dv line and carry all other data
    * files verbatim. A file is masked iff its commit sequence sits
    * STRICTLY below some dv's (the [[readEffective]] rule) AND its
    * `keyCol` interval intersects that dv window's keys — exactly the
    * [[splitByKeyIntervals]] test the merges prune their rewrite sets
    * with, so on a key-clustered table a 3-key deferred delete folds
    * its churn's file locality while 10⁵ − k files carry untouched.
    * The previous policy ([[Maintenance.maintainAtomic]] forcing the
    * FULL snapshot rewrite on any standing dv) repaid merge-on-read's
    * write savings with a table-sized rewrite; this fold is priced by
    * the MASKED files, and layout rewrites stay where they belong —
    * behind the fragmentation trigger.
    *
    * Files provably unmasked (sequence at or above every dv, or
    * key-interval disjoint from every dv above them) carry with their
    * manifest lines byte-identical; files without usable `keyCol`
    * stats below a dv's sequence rewrite, conservatively (may-
    * contain). After the fold no dv stands, so every read path drops
    * its anti-join debt; a dv that provably masks nothing (its files
    * were already rewritten by later commits) is dropped by a
    * metadata-only publish, zero bytes moved. The dv keys collect to
    * the driver under the same churn fence as the merges that wrote
    * them (each dv file is one merge batch's fenced churn;
    * `maxChurnKeys` bounds the pool loudly). Same OCC publish / crash
    * / pinned-reader semantics as every snapshot commit. Returns
    * (masked files rewritten, files staged); (0, 0) with no publish
    * when no dv stands.
    */
  def foldDvsTargeted(spark: SparkSession, sink: String,
      maxChurnKeys: Int = 10000000): (Int, Int) = {
    val txn = Txn.begin(spark, sink)
    val (dataE, dvE) = (txn.snap.data, txn.snap.dvs)
    if (dvE.isEmpty) return (0, 0)
    val keyCols = dvE.map(dvKeyColOf).distinct
    require(keyCols.size == 1,
      s"delete vectors disagree on the merge key at $sink: $keyCols")
    val keyCol = keyCols.head
    val fullSchema = txn.snap.schema
    val keyType = dvSchema(keyCol, fullSchema).head.dataType
    // per-sequence dv key sets (one bounded collect per distinct dv
    // sequence — dv commits since the last fold, small by the
    // maintenance cadence), pooled under the churn fence
    var pooled = 0
    val keysBySeq: Map[Long, Array[org.apache.spark.sql.Row]] =
      dvE.groupBy(seqOf).map { case (s, es) =>
        val r = readDvKeys(spark, sink, es, keyCol, fullSchema).distinct()
          .limit(maxChurnKeys + 1 - pooled).collect()
        pooled += r.length
        require(pooled <= maxChurnKeys,
          s"standing delete vectors at $sink pool more than " +
            s"$maxChurnKeys keys — that is reload-scale deletion, not " +
            "churn: run the full compaction instead or raise " +
            "maxChurnKeys deliberately")
        s -> r
      }
    def churnAbove(s: Long): Option[ChurnKeys] = {
      val rows = keysBySeq.filter(_._1 > s).values.flatten.toArray
      if (rows.isEmpty) None else ChurnKeys.of(rows, 0, keyType)
    }
    val parts = dataE.groupBy(seqOf).toSeq.map { case (s, group) =>
      churnAbove(s) match {
        case None => (group, Seq.empty[ManifestEntry])
        case Some(ch) => splitByKeyIntervals(group, keyCol, ch)
      }
    }
    val carried = parts.flatMap(_._1)
    val masked = parts.flatMap(_._2)
    // the masked files rewrite with the dvs APPLIED (readEffective
    // runs the per-sequence-group anti-joins); no dv survives the
    // fold, so the staged lines need no sequence stamp. When the dvs
    // provably mask nothing, dropping their lines alone repays the
    // read debt — a metadata-only commit. Data files never change
    // schema here, so the snapshot schema carries verbatim
    val statsFields = ((keyCol +: coveredStatsFields(dataE,
        fullSchema).map(_.name)).distinct)
      .flatMap(c => fullSchema.fields.find(_.name.equalsIgnoreCase(c)))
    val staged = txn.commit(carry = _ => carried,
        schema = _ => Some(fullSchema)) {
      if (masked.isEmpty) Nil
      else txn.stage(readEffective(spark, sink, masked, dvE, fullSchema),
        statsFields)
    }.get._2
    (masked.size, staged.size)
  }

  /** Copy-on-write SCD2 (type-2 history) MERGE — the MATERIALIZED twin
    * of [[Cdc.scd2History]]'s read-side view: the committed table
    * holds one row per (key, version interval) with `valid_from` /
    * `valid_to` columns (`valid_to` NULL while current), and a change
    * batch (full-width rows + `versionCol` + boolean `deleteCol`,
    * ≤1 row per key — CDC-resolved upstream) folds in as:
    *
    *  - each churned key's OPEN row closes (`valid_to` := the
    *    incoming version); its closed history rows ride unchanged;
    *  - each non-delete change appends a new open row
    *    (`valid_from` := version, `valid_to` := NULL);
    *  - a delete closes without appending — the key simply has no
    *    current row until a later change revives it;
    *  - a brand-new key appends its first open row.
    *
    * Priced exactly like [[mergeAtomic]]: only files whose `keyCol`
    * interval may contain a churned key rewrite; every other history
    * file (at 100 TB, almost all of them — history accretes but old
    * intervals never change) carries into the new manifest verbatim.
    * Same churn contract ([[collectChurn]]: integral-or-string key,
    * no nulls, fenced), same OCC publish / crash / time-travel
    * semantics. Version monotonicity is ENFORCED loudly: an incoming
    * version at or below a churned key's open `valid_from` would
    * write a corrupt interval (`valid_to <= valid_from`), so the
    * merge counts violations on the churn-sized frame and throws
    * before staging.
    *
    * Returns a [[MergeResult]] whose `upserts` are the new open rows
    * and `beforeImages` the previously-open rows that closed.
    *
    * REPLAY boundary: re-delivering an applied batch THROWS (its
    * versions now sit at the open rows' `valid_from`, which the
    * monotonicity guard rejects) — deliberately, because "stale
    * version" and "redelivery" are indistinguishable here and
    * silently skipping would swallow genuine out-of-order feeds. A
    * streaming driver therefore shields on its batch id BEFORE
    * calling this (the [[IncrementalAgg.mergeCdcBatch]] recorded-id
    * discipline), exactly once per micro-batch; scheduled batch jobs
    * replay-from-source instead.
    */
  def mergeScd2Atomic(changes: DataFrame, sink: String, keyCol: String,
      versionCol: String, deleteCol: String,
      maxChurnKeys: Int = 10000000): MergeResult = {
    val spark = changes.sparkSession
    val txn = Txn.begin(spark, sink)
    val (dataE, dvE) = (txn.snap.data, txn.snap.dvs)
    require(dataE.nonEmpty, s"nothing committed to merge into at $sink")
    val churn = collectChurn(changes, keyCol, maxChurnKeys)
    val (carried, touched) = splitByKeyIntervals(dataE, keyCol, churn)
    val fullSchema = txn.snap.schema
    requireKeyFamily(fullSchema, keyCol, churn, changes)
    require(fullSchema.fieldNames.exists(_.equalsIgnoreCase("valid_from")) &&
      fullSchema.fieldNames.exists(_.equalsIgnoreCase("valid_to")),
      s"SCD2 table at $sink must carry valid_from/valid_to columns")
    val oldTouched = readEffective(spark, sink, touched, dvE, fullSchema)
    val churnDf = broadcast(churn.toDf(spark, keyCol))
    val untouchedRows = oldTouched.join(churnDf, Seq(keyCol), "left_anti")
    val churnedRows = oldTouched.join(churnDf, Seq(keyCol), "left_semi")
    val newVersions = changes.select(col(keyCol),
      col(versionCol).as("__newv"))
    // close the open row; closed history rides through the when()
    val closed = churnedRows.join(broadcast(newVersions), Seq(keyCol))
      .withColumn("valid_to",
        when(col("valid_to").isNull, col("__newv"))
          .otherwise(col("valid_to")))
      .drop("__newv")
    // version monotonicity: churn-sized count, loud before staging
    val bad = closed.filter(col("valid_to") <= col("valid_from")).count()
    require(bad == 0,
      s"$bad churned row(s) would close with valid_to <= valid_from — " +
        "incoming versions must exceed the open row's valid_from " +
        "(per-key version monotonicity is the CDC log's contract)")
    val newRows = changes.filter(!col(deleteCol)).drop(deleteCol)
      .withColumnRenamed(versionCol, "valid_from")
      .withColumn("valid_to",
        lit(null).cast(fullSchema.apply(
          fullSchema.fieldIndex("valid_to")).dataType))
    val merged = untouchedRows
      .unionByName(closed, allowMissingColumns = true)
      .unionByName(newRows, allowMissingColumns = true)
    val statsFields = ((keyCol +: coveredStatsFields(dataE,
        merged.schema).map(_.name)).distinct)
      .flatMap(c => merged.schema.fields.find(_.name.equalsIgnoreCase(c)))
    val (published, staged) = txn.commit(carry = _ => carried ++ dvE,
      schema = _ => mergeStructs(fullSchema, merged.schema))(
      txn.stage(merged, statsFields)).get
    MergeResult(published, carried.size, touched.size, staged.size, newRows,
      churnedRows.filter(col("valid_to").isNull))
  }

  /** Split manifest entries into (provably churn-free, may-contain)
    * by their `keyCol` interval against the sorted churn — the
    * pruning core shared by [[mergeAtomic]] (its rewrite set) and
    * [[readKeyedMayContain]]. Integral intervals compare numerically;
    * string intervals compare in UTF-8 byte space (both sides of the
    * comparison — churn sort and footer bounds — use the same
    * unsigned order). Entries without usable same-family stats land
    * on the may-contain side, conservatively; so do damaged bounds
    * that fail to parse.
    */
  private def splitByKeyIntervals(entries: Seq[ManifestEntry],
      keyCol: String, churn: ChurnKeys)
      : (Seq[ManifestEntry], Seq[ManifestEntry]) = {
    def longHas(sorted: Array[Long], mn: Long, mx: Long): Boolean = {
      var lo = 0
      var hi = sorted.length
      while (lo < hi) {
        val mid = (lo + hi) >>> 1
        if (sorted(mid) < mn) lo = mid + 1 else hi = mid
      }
      lo < sorted.length && sorted(lo) <= mx
    }
    def bytesHas(sorted: Array[Array[Byte]], mn: Array[Byte],
        mx: Array[Byte]): Boolean = {
      var lo = 0
      var hi = sorted.length
      while (lo < hi) {
        val mid = (lo + hi) >>> 1
        if (ManifestStats.cmp(sorted(mid), mn) < 0)
          lo = mid + 1
        else hi = mid
      }
      lo < sorted.length &&
        ManifestStats.cmp(sorted(lo), mx) <= 0
    }
    entries.partition { e =>
      val key = e.statsFor(keyCol)
        .flatMap(fc => ManifestStats.decode(fc).map(fc.tag -> _))
      (churn, key) match {
        case (LongChurn(sorted), Some((t, LongStats(mn, mx))))
            if integralTags.contains(t) => !longHas(sorted, mn, mx)
        case (sc: StringChurn, Some((_, BinaryStats(mn, mx)))) =>
          !bytesHas(sc.sortedBytes, mn, mx)
        // all-null key file: churn keys are non-null by contract, so
        // the file provably contains none of them
        case (_, Some((_, AllNullFile))) => true
        // family mismatch, no or damaged key stats: may contain
        case _ => false
      }
    }
  }

  /** The committed snapshot restricted to files whose `keyCol`
    * interval MAY contain one of `keys` — how an incremental consumer
    * fetches a churn set's rows (e.g. before-images for a rollup
    * retraction) without scanning the table: on a key-clustered
    * snapshot this opens the churn's locality, not the 10⁵ files
    * around it. May-contain superset — the caller still applies the
    * exact key filter/join, and the composed read ≡ the full scan
    * under it whatever the stats coverage.
    */
  def readKeyedMayContain(spark: SparkSession, sink: String,
      keyCol: String, keys: Seq[Long]): DataFrame =
    readKeyedChurn(spark, sink, keyCol,
      LongChurn(keys.distinct.sorted.toArray))

  /** [[readKeyedMayContain]] for string/UUID keys — the same
    * may-contain superset, intervals tested in UTF-8 byte space. */
  def readKeyedMayContainStr(spark: SparkSession, sink: String,
      keyCol: String, keys: Seq[String]): DataFrame =
    readKeyedChurn(spark, sink, keyCol,
      StringChurn(sortUtf8(keys.distinct.toArray)))

  private[graft] def readKeyedChurn(spark: SparkSession, sink: String,
      keyCol: String, churn: ChurnKeys): DataFrame = {
    val snap = latestSnapshot(spark, sink)
    require(snap.data.nonEmpty, s"no committed snapshot at $sink")
    val (_, touched) = splitByKeyIntervals(snap.data, keyCol, churn)
    readEffective(spark, sink, touched, snap.dvs, snap.schema)
  }

  /** MULTI-COLUMN may-contain locality read (round 14): the committed
    * snapshot restricted to files that survive EVERY per-column
    * interval prune. A row whose composite key tuple is churned can
    * only live in a file whose interval on EACH column may contain
    * that column's churned values, so successive single-column prunes
    * INTERSECT into a tighter — still may-contain — superset: one
    * recorded-stats column already prunes; each further one only
    * removes files. Columns without usable same-family stats simply
    * keep everything on their pass (the [[splitByKeyIntervals]]
    * contract), so a partially-covered manifest degrades per column,
    * never per read.
    */
  private[graft] def readKeyedChurnMulti(spark: SparkSession,
      sink: String, churns: Seq[(String, ChurnKeys)]): DataFrame = {
    require(churns.nonEmpty, "at least one churn column required")
    val snap = latestSnapshot(spark, sink)
    require(snap.data.nonEmpty, s"no committed snapshot at $sink")
    val touched = churns.foldLeft(snap.data) { case (remaining, (c, ch)) =>
      splitByKeyIntervals(remaining, c, ch)._2 }
    readEffective(spark, sink, touched, snap.dvs, snap.schema)
  }

  /** The churned GROUPS' committed rows for an extremes rescan — the
    * shared locality resolver behind `IncrementalAgg.syncExtremes`
    * and the streaming fold's pre-rows view (round 14 closes the
    * composite-group gap: these paths previously degraded to a FULL
    * `readCommitted` — a table-sized scan per micro-batch for a
    * two-column-grouped rollup at 100 TB). ONE bounded collect of the
    * distinct churned group tuples across `sides`, then the
    * per-column interval prunes intersect via [[readKeyedChurnMulti]]
    * — each group-key column with manifest stats narrows the file
    * set independently.
    *
    * The collect is FENCED at `maxGroupKeys` (the file-grained feed
    * can churn every group — a compaction inside a sync window puts
    * the whole table in plus — so a high-cardinality group key must
    * degrade to the full-snapshot read, not an unbounded driver
    * collect; `groupFenceFallbacks` is the test probe). A column
    * declines to prune when its churned values include NULL (interval
    * stats never witness nulls, and a null-group row can live in any
    * file) or its type has no interval family — the OTHER columns
    * still prune. Always a may-contain SUPERSET of the churned
    * groups' rows; the caller's semi join restricts exactly, so every
    * fallback here is a performance trade, never a correctness one.
    */
  private[graft] def readGroupLocality(spark: SparkSession, sink: String,
      groupKeys: Seq[String], sides: Seq[DataFrame],
      maxGroupKeys: Int = 1000000): DataFrame = {
    import org.apache.spark.sql.types._
    def full = readCommitted(spark, sink)
    val kcols = groupKeys.map(col)
    val schema0 = sides.head.schema
    val dts = groupKeys.map(g => schema0.fields
      .find(_.name.equalsIgnoreCase(g)).map(_.dataType))
    val supported = dts.map {
      case Some(StringType | ByteType | ShortType | IntegerType |
                LongType) => true
      case _ => false
    }
    if (!supported.contains(true)) return full
    val tuples = sides.map(_.select(kcols: _*)).reduce(_ unionByName _)
      .distinct().limit(maxGroupKeys + 1).collect()
    if (tuples.length > maxGroupKeys) {
      groupFenceFallbacks.incrementAndGet()
      return full
    }
    val churns = groupKeys.indices.flatMap { i =>
      if (!supported(i) || tuples.exists(_.isNullAt(i))) None
      else ChurnKeys.of(tuples, i, dts(i).get).map(groupKeys(i) -> _)
    }
    if (churns.isEmpty) full
    else readKeyedChurnMulti(spark, sink, churns)
  }

  /** GC data files a MERGE superseded inside still-live batch
    * directories: [[vacuumUncommitted]] reclaims whole dirs no
    * manifest references, but a partial rewrite (some of a batch's
    * files carried, some replaced) leaves the replaced files in a dir
    * that stays live through its carried siblings — with ongoing CDC
    * merges those dead files accumulate without bound, since no other
    * path ever deletes an individual file. Deletes exactly the
    * `.parquet` files (and their Bloom sidecars) that the LATEST
    * manifest no longer lists, restricted to dirs with at least one
    * live file — a dir with none is either a staging orphan or fully
    * superseded, both [[vacuumUncommitted]]'s to reclaim whole, and
    * the restriction keeps this GC from racing an in-flight stage.
    * Same retention trade as every vacuum here: time travel to
    * versions that needed the removed files ends. Returns the number
    * of data files removed.
    */
  def vacuumSuperseded(spark: SparkSession, sink: String): Int = {
    val fs = fsOf(spark, sink)
    val dataRoot = new Path(sink, DataDir)
    if (!fs.exists(dataRoot)) return 0
    // liveness root = data files AND delete-vector files: reclaiming a
    // dv whose manifest line stands would resurrect its deleted rows
    val live = committedLivePaths(spark, sink).toSet
    val dirs = fs.listStatus(dataRoot).toSeq.map(_.getPath)
      .filter(_.getName.startsWith("batch-"))
    // one listing + the dead-file deletes per dir, fanned out — a
    // serial walk is O(dirs) FS round trips
    inParallel(dirs) { dir =>
      val files = fs.listStatus(dir).toSeq.map(_.getPath)
      val dataFiles = files.filter { p =>
        val n = p.getName
        n.endsWith(".parquet") && !n.startsWith("_") && !n.startsWith(".")
      }
      def rel(p: Path) = s"$DataDir/${dir.getName}/${p.getName}"
      if (!dataFiles.exists(p => live.contains(rel(p)))) 0
      else {
        var removed = 0
        for (p <- dataFiles if !live.contains(rel(p))) {
          fs.delete(p, false)
          // the dead file's Bloom sidecars go with it
          files.filter(_.getName.startsWith(s"${p.getName}.bloom-"))
            .foreach(fs.delete(_, false))
          removed += 1
        }
        removed
      }
    }.sum
  }

  /** Expire manifest versions older than the latest `keepLast` — the
    * metadata half of retention the vacuums don't touch: every
    * snapshot resolution lists the manifest directory, so a table
    * that has committed 10⁵ times pays an O(commits) listing per read
    * forever unless old versions are retired. Expiring a version ends
    * time travel and [[changesBetween]] windows that start below the
    * horizon (they throw their "no manifest version" contract error —
    * loud, never a silently different answer); the LATEST snapshot
    * and every version above the horizon are untouched. The vacuums'
    * liveness root is the latest manifest already, so expiry moves no
    * data-reclaim decision — it bounds the per-read manifest listing
    * and makes the time-travel horizon EXPLICIT instead of "whenever
    * vacuum happened to run". [[Maintenance.maintainAtomic]] runs it
    * before the vacuums when the target sets a retention. Returns how
    * many manifest files were removed.
    */
  def expireManifests(spark: SparkSession, sink: String,
      keepLast: Int): Int = {
    require(keepLast >= 1, "must keep at least the latest manifest")
    val fs = fsOf(spark, sink)
    val versions = manifestVersions(fs, sink)
    if (versions.isEmpty) return 0
    // a TAGGED version never expires (round 14): the tag pinned it,
    // and retiring its manifest would break readTag while the vacuums
    // still honor its file pins — the inconsistent half-state. Strict:
    // an unparseable ref aborts expiry rather than pinning nothing.
    val pinned = pinnedVersionsStrict(spark, sink).toSet
    val expired = versions.dropRight(keepLast)
      .filterNot(v => pinned.contains(v._1))
    inParallel(expired)(v => fs.delete(v._2.getPath, false))
    expired.size
  }

  /** GC staged-but-uncommitted batch directories (crashed or lost-race
    * writers). `minAgeMillis` is the retention-age guard (round 14 —
    * Delta's VACUUM discipline): a dir younger than it SURVIVES, so a
    * concurrent writer's seconds-old staged batch is never reclaimed
    * out from under its publish even when the scheduling contract
    * below is violated. The default 0 preserves the strict contract —
    * ONLY safe when no writer is actively staging, which the caller
    * owns exactly like Delta's VACUUM; production schedulers that
    * cannot prove quiescence should pass minutes here (the cost is
    * crash debris surviving one extra pass).
    */
  def vacuumUncommitted(spark: SparkSession, sink: String,
      minAgeMillis: Long = 0L): Int = {
    val fs = fsOf(spark, sink)
    val dataRoot = new Path(sink, DataDir)
    if (!fs.exists(dataRoot)) return 0
    val live = committedLivePaths(spark, sink)
      .map(f => f.split("/")(1)).toSet // batch dir component
    val cutoff = System.currentTimeMillis() - minAgeMillis
    val orphans = fs.listStatus(dataRoot).toSeq
      .filter { st =>
        val p = st.getPath
        p.getName.startsWith("batch-") && !live.contains(p.getName) &&
          (minAgeMillis <= 0L || st.getModificationTime <= cutoff)
      }
      .map(_.getPath)
    inParallel(orphans)(fs.delete(_, true))
    orphans.size
  }
}
