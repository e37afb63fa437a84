package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Registry, Tables}

/** Reference-parity named queries over `documents.text` (the WordCount
  * input table, FIXTURES.md §2), one per pipeline variant the course
  * grades (spec §8): default ASCII-ascending sum, descending sort,
  * group-by-first-character, explicit reducer bucketing, bounded read.
  * Each has matching DuckDB oracle SQL in [[oracleSql]].
  */
object WordCountQueries {

  private def docs(s: SparkSession, dir: String): DataFrame = Tables.documents(s, dir)

  val queries: Map[String, (SparkSession, String) => DataFrame] = Registry.of(
    // O1-O8 default pipeline: tokenize, count, ASCII asc (Worker.cc:212-214)
    "wordcount" -> ((s, dir) =>
      MapReducePipeline.run(docs(s, dir), MapReduceJob())),

    // spec §8 graded variant: sort key descending (Worker.cc:211 comment)
    "wordcount_desc" -> ((s, dir) =>
      MapReducePipeline.run(docs(s, dir), MapReduceJob(sortAscending = false))),

    // spec §8 graded variant: group by first character (Worker.cc:240)
    "wordcount_group_firstchar" -> ((s, dir) =>
      MapReducePipeline.run(docs(s, dir), MapReduceJob(groupKey = w => substring(w, 1, 1)))),

    // O3 partitioner surfaced as bucket column (Worker.cc:167, W2 pmod)
    "wordcount_bucketed" -> ((s, dir) =>
      MapReducePipeline.run(docs(s, dir), MapReduceJob(numReducers = Some(4)))),

    // W3 bounded read: only the first `num_chunks × chunk_size` records
    "wordcount_limited" -> ((s, dir) =>
      MapReducePipeline.run(docs(s, dir), MapReduceJob(maxRecords = Some(200L)))),

    // pre-Reduce view: per-record term frequency (O2 keyed by O1's key)
    "wordcount_tf_per_doc" -> ((s, dir) =>
      MapReducePipeline.termFrequency(docs(s, dir), MapReduceJob(maxRecords = Some(100L)))),

    // all three spec §8 mutations composed: first-char grouping,
    // descending sort, explicit bucketing — the demo-time regrade case
    "wordcount_all_variants" -> ((s, dir) =>
      MapReducePipeline.run(docs(s, dir), MapReduceJob(
        groupKey = w => substring(w, 1, 1),
        sortAscending = false,
        numReducers = Some(3))))
  )

  /** DuckDB mirror of [[MapReducePipeline.bucketOf]] (W2 pmod). */
  private def bucketSql(wordExpr: String, r: Int): String =
    s"((ascii(substr($wordExpr, 1, 1)) - 65) % $r + $r) % $r"

  val oracleSql: Map[String, String] = Registry.of(
    "wordcount" ->
      """SELECT w AS word, count(*) AS cnt
        |FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
        |WHERE w <> '' GROUP BY w ORDER BY word""".stripMargin,
    "wordcount_desc" ->
      """SELECT w AS word, count(*) AS cnt
        |FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
        |WHERE w <> '' GROUP BY w ORDER BY word DESC""".stripMargin,
    "wordcount_group_firstchar" ->
      """SELECT substr(w, 1, 1) AS word, count(*) AS cnt
        |FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
        |WHERE w <> '' GROUP BY 1 ORDER BY word""".stripMargin,
    "wordcount_bucketed" ->
      s"""SELECT w AS word, count(*) AS cnt,
         |       ${bucketSql("w", 4)} AS bucket
         |FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
         |WHERE w <> '' GROUP BY w ORDER BY bucket, word""".stripMargin,
    "wordcount_limited" ->
      """SELECT w AS word, count(*) AS cnt
        |FROM (SELECT unnest(string_split(text, ' ')) AS w
        |      FROM documents WHERE doc_id < 200)
        |WHERE w <> '' GROUP BY w ORDER BY word""".stripMargin,
    "wordcount_tf_per_doc" ->
      """SELECT doc_id, w AS word, count(*) AS tf
        |FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w
        |      FROM documents WHERE doc_id < 100)
        |WHERE w <> '' GROUP BY doc_id, w ORDER BY doc_id, word""".stripMargin,
    "wordcount_all_variants" ->
      s"""SELECT substr(w, 1, 1) AS word, count(*) AS cnt,
         |       ${bucketSql("substr(w, 1, 1)", 3)} AS bucket
         |FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
         |WHERE w <> '' GROUP BY 1 ORDER BY bucket, word DESC""".stripMargin
  )
}
