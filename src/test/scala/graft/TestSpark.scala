package graft

import org.apache.spark.sql.SparkSession

/** One shared local SparkSession for the whole test run. */
object TestSpark {
  lazy val session: SparkSession = GraftSession.build(8, shufflePartitions = 8,
    "spark.sql.warehouse.dir" ->
      java.nio.file.Files.createTempDirectory("graft_wh").toString)
}
