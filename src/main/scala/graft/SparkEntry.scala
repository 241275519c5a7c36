package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import scala.collection.immutable.ListMap

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt. */
object SparkEntry {

  /** All declared capabilities, each a Spark query + optional DuckDB
    * oracle. Area objects keep SURVEY.md §2's inventory navigable.
    */
  def registry: Map[String, QueryDef] =
    operators.Relational.defs ++ operators.Etl.defs ++
      operators.TextAnalysis.defs ++ operators.Dedup.defs ++
      operators.Similarity.defs ++ operators.Multimodal.defs ++
      operators.ArrayOps.defs ++ operators.Incremental.defs ++
      operators.AsOf.defs ++ operators.RangeJoin.defs ++
      operators.IncrementalAgg.defs ++ operators.Cdc.defs ++
      operators.BloomSkip.defs ++ operators.Maintenance.defs ++
      operators.BloomJoin.defs ++ operators.Funnel.defs ++
      operators.Sampling.defs ++ operators.Hygiene.defs ++
      operators.QualityModel.defs ++ operators.Packing.defs ++
      operators.Sketches.defs ++ operators.Skew.defs ++
      operators.Sharding.defs ++ operators.Bpe.defs ++
      operators.Audit.defs ++ operators.Selection.defs ++
      operators.Retrieval.defs ++ operators.Graph.defs ++
      operators.SparseRetrieval.defs ++ operators.Collocations.defs ++
      operators.Zorder.defs ++ operators.DedupIncremental.defs ++
      operators.TfidfDedup.defs ++ operators.WebCorpus.defs ++
      streaming.EventsStream.defs ++ pipelines.Corpus.defs

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * The projectsync-pipeline backbone (SURVEY.md §7.3): join + flag +
    * classification + aggregate in one plan.
    */
  def entry(spark: SparkSession): DataFrame =
    registry("q_join_snowflake").fn(spark, "/root/testdata/sf0.001")

  /** The registry in sorted key order: stable and diffable. */
  private def sorted: Seq[(String, QueryDef)] = registry.toSeq.sortBy(_._1)

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    ListMap(sorted.map { case (k, q) => k -> q.fn }: _*)

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    ListMap(sorted.flatMap { case (k, q) => q.oracle.map(k -> _) }: _*)
}
