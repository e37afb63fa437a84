package graft

import org.apache.spark.sql.SparkSession

/** The one place a local [[SparkSession]] is built (pinned by
  * `SessionLintSpec`), so every driver, test and probe runs the
  * configuration Bench times: UTC session time zone, ANSI mode, no UI,
  * WARN logging, and [[GraftExtensions]] registered (the SQL functions
  * plus the `TokenCountRewrite` optimizer rule).
  *
  * Callers choose only what legitimately differs between them: the
  * `local[cores]` master, the shuffle-partition count, and
  * deployment-path settings such as a private warehouse dir (`conf`).
  */
object GraftSession {
  def build(cores: Int, shufflePartitions: Int,
      conf: (String, String)*): SparkSession = {
    val spark = conf.foldLeft(SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft")
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      // Typed-accumulator aggregates (simhash, top-k) run in
      // ObjectHashAggregate; the default 128-group fallback would
      // switch them to sort-based almost immediately. Buffers are
      // O(100 B)/group, so a millions-size hash map is the right trade.
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "10000000")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.ansi.enabled", "true")
      .config("spark.ui.enabled", "false")) { case (b, (k, v)) => b.config(k, v) }
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    GraftExtensions.register(spark)
    spark
  }
}
