package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.functions._

/** The session's generated-class cache holds a working set of many
  * distinct plans: a query seen earlier in the session runs again
  * without a Janino compile.
  */
class CodegenCacheSpec extends SparkSpec {

  test("the session carries the codegen cache bound, and a query re-run " +
      "after 80 distinct others compiles nothing") {
    assert(spark.conf.get("spark.sql.codegen.cache.maxEntries") ==
      GraftSession.CodegenCacheEntries.toString)
    // each query inlines its own long literal into a fresh generated
    // class, compiled once on the driver and once in a task (two
    // classloaders, two cache keys): 80 queries are ~160 keys, past
    // Spark's default of 100
    def query(k: Long): Long =
      spark.range(0, 4, 1, 1).select((col("id") + lit(k)).as("v"))
        .collect().map(_.getLong(0)).sum
    val ks = (0 until 80).map(i => 7000000000L + i)
    ks.foreach(query)
    val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    assert(query(ks.head) == 4 * ks.head + 6)
    val compiled = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
    assert(compiled == 0,
      s"the re-run compiled $compiled classes: the cache evicted them")
  }
}
