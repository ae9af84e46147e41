package graft

/** Dev-only: time named queries (median of 3, clearCache between
  * samples — the Bench protocol) at an sf dir.
  * Usage: runMain graft.TimeOne <query> [<query>...] [sfDir]
  */
object TimeOne {
  def main(args: Array[String]): Unit = {
    // query names never contain '/', sf dirs (absolute or relative) do
    val (dirArg, names) = args.partition(_.contains("/"))
    require(names.nonEmpty, "usage: TimeOne <query> [<query>...] [sfDir]")
    require(dirArg.length <= 1, s"more than one sf dir given: ${dirArg.mkString(", ")}")
    val dir = dirArg.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = GraftSession.build(GraftSession.defaultCores)
    spark.range(0, 1000000, 1, 8)
      .selectExpr("sum(id)", "count(distinct id % 100)").collect()
    def f3(d: Double) = String.format(java.util.Locale.ROOT, "%.3f", Double.box(d))
    names.foreach { name =>
      val fn = SparkEntry.queries(name)
      val ts = (1 to 3).map { _ =>
        spark.catalog.clearCache()
        val t0 = System.nanoTime()
        fn(spark, dir).write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }
      println(s"[timeone] $name ${f3(ts.sorted.apply(1))} s samples=${ts.map(f3).mkString(",")}")
    }
    spark.stop()
  }
}
