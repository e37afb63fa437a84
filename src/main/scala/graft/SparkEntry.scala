package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.operators._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Aggregates every module's named queries and their DuckDB oracle SQL.
  * Invariant enforced by `SparkEntrySpec`: column names match between a
  * query's result and its oracle SQL (the driver sorts columns by name
  * before hashing), and every query declares an oracle unless genuinely
  * not SQL-expressible.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("wordcount")(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Registry.merge(
    WordCountQueries.queries, StarQueries.queries, StarQueries2.queries,
    EventQueries.queries, RangeJoin.queries,
    TextAnalysis.queries, Dedup.queries, DedupClusters.queries,
    Similarity.queries, RankQueries.queries, GraphQueries.queries,
    QualityQueries.queries, QuantileQueries.queries,
    SketchQueries.queries,
    Multimodal.queries, PipelineQueries.queries, SourceQueries.queries,
    PrefQueries.queries, ClassifyQueries.queries,
    graft.streaming.StreamingQueries.queries)

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops.
    */
  def oracleSql: Map[String, String] = Registry.merge(
    WordCountQueries.oracleSql, StarQueries.oracleSql, StarQueries2.oracleSql,
    EventQueries.oracleSql, RangeJoin.oracleSql,
    TextAnalysis.oracleSql, Dedup.oracleSql, DedupClusters.oracleSql,
    Similarity.oracleSql, RankQueries.oracleSql, GraphQueries.oracleSql,
    QualityQueries.oracleSql, QuantileQueries.oracleSql,
    SketchQueries.oracleSql,
    Multimodal.oracleSql, PipelineQueries.oracleSql, SourceQueries.oracleSql,
    PrefQueries.oracleSql, ClassifyQueries.oracleSql,
    graft.streaming.StreamingQueries.oracleSql)
}
