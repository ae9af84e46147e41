package graft

import org.apache.spark.sql.functions._

/** Dev-only: run the TrainingPipeline at an sf dir and print the
  * per-stage Report (spec coverage runs at sf0.001; this probes bigger
  * fixtures by hand).
  */
object PipelineProbe {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val spark = GraftSession.build(GraftSession.defaultCores)
    val evalSet = Tables(spark, dir, "documents")
      .filter(col("doc_id") % 97 === 0).select(col("doc_id"), col("text"))
    val landing = java.nio.file.Files
      .createTempDirectory("graft-probe").toString + "/shards"
    val t0 = System.nanoTime()
    val (packed, r) = jobs.TrainingPipeline.run(spark, dir,
      lang = "en", minTokens = 10, minQuality = Some(0.15),
      compRatioBounds = Some((0.05, 0.9)),
      maxRepetition = Some(0.12),
      rates = Map("src0" -> 2.0, "src1" -> 0.5),
      tokenBudgets = Map("src2" -> 100000L),
      evalDocs = Some(evalSet),
      embeddings = Some(Tables(spark, dir, "embeddings")
        .select(col("vec_id").as("doc_id"), col("embedding"))),
      normalize = true, scrubPii = true,
      shardsOut = Some(landing), outShards = 8)
    val dt = (System.nanoTime() - t0) / 1e9
    // filters that reject every document land only _SUCCESS (a
    // partitionBy write with zero rows emits no data files), which
    // parquet schema inference refuses — report 0, don't crash
    val landed =
      try spark.read.parquet(landing).count()
      catch { case _: org.apache.spark.sql.AnalysisException => 0L }
    println(f"[pipeline] $r in $dt%.1f s; landed $landed chunk rows; sample packs:")
    packed.orderBy(desc("tok_sum")).show(5, false)
    spark.stop()
  }
}
