package graft
/** Dev utility: warm + timed run of selected queries on a given sf dir
  * (`runMain graft.TimeQ <sfDir> <query>...`) — the per-query feedback
  * loop between full Bench runs.
  */
object TimeQ {
  def main(args: Array[String]): Unit = {
    val dir = args.head
    val spark = GraftSession.build(32, shufflePartitions = 8)
    args.drop(1).foreach { q =>
      SparkEntry.queries(q)(spark, dir).count() // warm
      val t0 = System.nanoTime()
      val n = SparkEntry.queries(q)(spark, dir).count()
      println(f"TIME $q rows=$n sec=${(System.nanoTime() - t0) / 1e9}%.2f")
    }
    spark.stop()
  }
}
