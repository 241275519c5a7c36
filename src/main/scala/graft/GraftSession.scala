package graft

import org.apache.spark.sql.SparkSession

/** Session factory for the graft engine.
  *
  * The default master is `local[N]` with N from `SPARK_GRAFT_CPUS`
  * (4 when unset), but every setting is cluster-safe: shuffle
  * partitions follow parallelism, AQE handles runtime coalescing /
  * skew joins, and the session timezone is pinned to UTC so timestamp
  * semantics match the DuckDB oracle regardless of host TZ.
  */
object GraftSession {

  def builder(master: String = s"local[${defaultCpus}]"): SparkSession.Builder =
    SparkSession
      .builder()
      .master(master)
      .appName("graft")
      // engine extensions: native SQL functions + the HOF-dot-product
      // optimizer rewrite (graft.plans.RewriteHofDotProduct)
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.shuffle.partitions", defaultCpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // Parquet scans: pushdown + vectorized read are on by default; be
      // explicit since the whole correctness/bench harness rides on them.
      .config("spark.sql.parquet.filterPushdown", "true")
      .config("spark.sql.parquet.enableVectorizedReader", "true")
      // v2 file-output committer: task commits rename straight into the
      // output dir, job commit is O(1) instead of moving every task's
      // dir again. Visibility/atomicity of a graft sink NEVER rides the
      // committer — the manifest publish is the transaction boundary
      // and half-staged batch dirs are reclaimed on failure — so v2's
      // weaker job-failure cleanup is immaterial here while every
      // staged commit saves the double rename (109 → 95 ms per tiny
      // staged file, OPTIMIZATION_r18.md; scales with file count).
      // On an object store without atomic rename you would override
      // this with a store-native committer either way.
      .config("spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version", "2")
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries)

  /** Entries of Spark's generated-class cache (`CodeGenerator`'s LRU;
    * a static conf, read once when the first class is generated).
    *
    * Spark 4.1 keys the cache by (thread context classloader, source).
    * In local mode the driver threads and the executor task threads
    * carry different loaders, so every generated class is compiled and
    * held twice, under two keys. Guava also splits the bound over 4
    * segments, each with its own LRU, so eviction starts before the
    * total reaches it. Under the default of 100, `cdc_ingest` compiled
    * 261 classes per 6 timed rounds (seed 1) and `medallion_batch`,
    * whose 92 keys nominally fit, 50 per 2 runs.
    *
    * Working set, measured with an unbounded cache after warm-up plus
    * one cycle: 155 keys (96 sources) on `cdc_ingest`, 97 keys (67
    * sources) on `medallion_batch`. 512 is 3.3× the larger, 128 per
    * segment. Classes whose source inlines a per-call long literal are
    * never reused and age out through the LRU instead of pushing the
    * reused ones out.
    */
  val CodegenCacheEntries = 512L

  def defaultCpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")

  def getOrCreate(): SparkSession = {
    val spark = builder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // SQL-callable kit (scalar macros + native functions) ships with
    // every session; CREATE OR REPLACE makes this idempotent.
    functions.SqlMacros.install(spark)
    spark
  }
}
