package graft

/** Dev-only: write `.explain("formatted")` of named queries to files —
  * the plans/r14 before/after evidence. Usage:
  *   runMain graft.PlanDump <outDir> <suffix> <query> [<query>...]
  * Writes <outDir>/<query>_<suffix>.txt. sfDir from SPARK_GRAFT_SF_DIR.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    require(args.length >= 3, "usage: PlanDump <outDir> <suffix> <query>...")
    val outDir = java.nio.file.Paths.get(args(0))
    java.nio.file.Files.createDirectories(outDir)
    val suffix = args(1)
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.build(GraftSession.defaultCores)
    args.drop(2).foreach { name =>
      val txt =
        try {
          spark.catalog.clearCache()
          val df = SparkEntry.queries(name)(spark, dir)
          df.queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode)
        } catch { case e: Throwable => s"<plan failed: $e>" }
      java.nio.file.Files.write(outDir.resolve(s"${name}_$suffix.txt"),
        txt.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      println(s"[plandump] $name -> ${name}_$suffix.txt (${txt.length} chars)")
    }
    spark.stop()
  }
}
