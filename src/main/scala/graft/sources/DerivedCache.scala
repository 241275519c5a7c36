package graft.sources

import org.apache.spark.sql.SparkSession

/** Content-keyed cache directories for artifacts derived from a source
  * file (persisted ANN indexes, memoized cluster assignments): the key
  * folds in the source's identity — path, modification time, length —
  * plus the derivation parameters, so a changed source or a changed
  * parameter always misses and a stale artifact can never answer for
  * new data. Build-once-reuse-many across queries, runs, and
  * processes; artifacts live under the JVM tmp dir like every other
  * scratch output of this harness.
  */
object DerivedCache {

  /** Every (source, kind, params) tuple this process has derived —
    * the live-derivation catalog [[vacuumStale]] re-keys to find what
    * is current. Content keys fold in mtime/length, so the TUPLE is
    * the stable identity of a derivation while the DIR changes with
    * the source; recording tuples (not dirs) is what lets a sweep
    * distinguish "this artifact's source was rewritten" from "this
    * artifact belongs to a derivation I know nothing about".
    */
  private val catalog =
    java.util.concurrent.ConcurrentHashMap.newKeySet[(String, String, String)]()

  def dirFor(spark: SparkSession, srcFile: String, kind: String,
      params: String = ""): String = {
    val p = new org.apache.hadoop.fs.Path(srcFile)
    val st = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .getFileStatus(p)
    catalog.add((srcFile, kind, params))
    val key = java.security.MessageDigest.getInstance("MD5")
      .digest(s"$srcFile:${st.getModificationTime}:${st.getLen}:$params"
        .getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    s"${sys.props("java.io.tmpdir")}/graft_cache/$kind-$key"
  }

  /** Completeness-probe telemetry: every [[isComplete]] call counts
    * as a hit (artifact present — the caller will probe, not build)
    * or a miss (absent — the caller pays the build). A timing harness
    * snapshots the counters around each measured query, so whether a
    * number was paid cold or warm is RECORDED, not guessed — a 3×
    * swing in an artifact-backed query is attributable from the bench
    * output alone (the r10 q_ann_pq_indexed ambiguity).
    */
  private val probeHits = new java.util.concurrent.atomic.AtomicLong
  private val probeMisses = new java.util.concurrent.atomic.AtomicLong

  /** (hits, misses) since process start — snapshot and diff. */
  def probeCounts: (Long, Long) = (probeHits.get, probeMisses.get)

  /** Read a COMPLETE artifact dir under its memoized schema. A bare
    * `spark.read.parquet` runs a schema-inference job on every call;
    * artifact dirs are content-keyed (the source's mtime/length is in
    * the path) and immutable once `_SUCCESS` lands, so their schema is
    * a pure function of the dir — pay the inference once, pin it
    * forever after (zero planning jobs on re-reads). A crashed build
    * rebuilt over the same dir derives the same schema by construction
    * (same source, same kind, same params).
    */
  def read(spark: SparkSession, dir: String)
      : org.apache.spark.sql.DataFrame = {
    val schema = schemaMemo.computeIfAbsent(dir,
      _ => spark.read.parquet(dir).schema)
    spark.read.schema(schema).parquet(dir)
  }

  private val schemaMemo = new java.util.concurrent.ConcurrentHashMap[
    String, org.apache.spark.sql.types.StructType]()

  /** Has a complete artifact been published at `dir`? Spark's
    * _SUCCESS marker is the completeness witness — a crashed build
    * leaves no marker and the next caller rebuilds over it.
    */
  def isComplete(spark: SparkSession, dir: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(s"$dir/_SUCCESS")
    val ok = p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
    (if (ok) probeHits else probeMisses).incrementAndGet()
    ok
  }

  /** Evict every cache directory whose key is no longer current — the
    * operational twin of `AtomicIncrement.vacuumUncommitted`. Content
    * keys fold in the source's mtime/length, so a rewritten source
    * STRANDS the old key's artifact forever unless someone sweeps;
    * `keepCurrent` is the set of dirs the caller still derives (the
    * result of re-calling `dirFor` for each live (source, kind,
    * params) tuple), and everything else under the cache root goes.
    * Returns the deleted dirs. Deleting a dir another process is
    * still BUILDING is safe (no _SUCCESS yet, the loser rebuilds) —
    * but deleting a COMPLETE artifact while another job is mid-read
    * fails that reader's tasks with FileNotFoundException (Spark has
    * already resolved the file listing). Vacuum therefore assumes no
    * concurrent readers: single-harness / maintenance-window use.
    */
  def vacuum(spark: SparkSession, keepCurrent: Set[String]): Seq[String] = {
    val root = new org.apache.hadoop.fs.Path(
      s"${sys.props("java.io.tmpdir")}/graft_cache")
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(root)) return Seq.empty
    val keep = keepCurrent.map(d =>
      fs.makeQualified(new org.apache.hadoop.fs.Path(d)).toString)
    fs.listStatus(root).toSeq
      .filter(st => st.isDirectory &&
        !keep.contains(fs.makeQualified(st.getPath).toString))
      .map { st => fs.delete(st.getPath, true); st.getPath.toString }
  }

  /** The OPERATIONAL sweep (run by PipelineMain's maintenance stage):
    * evict every artifact whose derivation this process knows
    * (same kind as a cataloged tuple) but whose key is no longer
    * current — i.e. its source was rewritten (new mtime/length → new
    * key) or deleted (no current key at all). The keep-set is derived
    * by re-calling [[dirFor]] for every cataloged tuple against the
    * source's CURRENT state; kinds absent from the catalog are not
    * touched, so a process that derived nothing deletes nothing and
    * other workloads' artifact families survive. Same no-concurrent-
    * readers assumption as [[vacuum]].
    */
  def vacuumStale(spark: SparkSession): Seq[String] = {
    import scala.jdk.CollectionConverters._
    val tuples = catalog.asScala.toSet
    if (tuples.isEmpty) return Seq.empty
    val keep = tuples.flatMap { case (src, kind, params) =>
      try Some(dirFor(spark, src, kind, params))
      catch { case _: java.io.IOException => None } // source gone → stranded
    }
    val root = new org.apache.hadoop.fs.Path(
      s"${sys.props("java.io.tmpdir")}/graft_cache")
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(root)) return Seq.empty
    val keepQ = keep.map(d =>
      fs.makeQualified(new org.apache.hadoop.fs.Path(d)).toString)
    val pats = tuples.map(_._2).map(k =>
      java.util.regex.Pattern.quote(k) + "-[0-9a-f]{32}")
    fs.listStatus(root).toSeq
      .filter(st => st.isDirectory &&
        pats.exists(st.getPath.getName.matches) &&
        !keepQ.contains(fs.makeQualified(st.getPath).toString))
      .map { st => fs.delete(st.getPath, true); st.getPath.toString }
  }

  /** Evict only the cache dirs of the given `kinds` (every key, all
    * sources) — the scoped eviction a cold rebuild needs: a caller
    * (MultimodalSpec, SimilaritySpec) deletes exactly the artifact
    * family it must rebuild WITHOUT wiping unrelated kinds that other
    * suites in the same JVM, or another process on the host, still
    * read (DerivedCacheSpec pins the scoping). Dir names are
    * `kind-<32-hex>`; the hex anchor keeps a kind from prefix-matching
    * a longer kind name (`trade-edges` vs a hypothetical `trade`).
    */
  def vacuumKinds(spark: SparkSession, kinds: Set[String]): Seq[String] = {
    val root = new org.apache.hadoop.fs.Path(
      s"${sys.props("java.io.tmpdir")}/graft_cache")
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(root)) return Seq.empty
    val pats = kinds.map(k =>
      java.util.regex.Pattern.quote(k) + "-[0-9a-f]{32}")
    fs.listStatus(root).toSeq
      .filter(st => st.isDirectory &&
        pats.exists(st.getPath.getName.matches))
      .map { st => fs.delete(st.getPath, true); st.getPath.toString }
  }
}
