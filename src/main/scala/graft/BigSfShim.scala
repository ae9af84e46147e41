package graft

import org.apache.spark.sql.functions._

/** Dev-only: materialize a k×-replicated sf-layout shim directory for
  * the two tables the ratio probe reads (documents, events), ids/types
  * shifted per replica so keys stay distinct — the r14 verdict's item 8
  * ("probe the ≈1.0-core-ratio lanes at a bigger SF once"). The shim is
  * NOT oracle data; it exists so `Bench`'s lane protocol can time
  * window_agg / substring_dedup at 8 vs 32 cores on a corpus big
  * enough that data-parallel work outweighs per-job floors.
  * Usage: runMain graft.BigSfShim <srcSfDir> <outDir> <k>
  */
object BigSfShim {
  def main(args: Array[String]): Unit = {
    require(args.length == 3, "usage: BigSfShim <srcSfDir> <outDir> <k>")
    val (src, out, k) = (args(0), args(1), args(2).toInt)
    val spark = GraftSession.build(GraftSession.defaultCores)
    val docs = spark.read.parquet(s"$src/documents.parquet")
    val dShift = docs.agg(max(col("doc_id"))).head().getLong(0) + 1L
    (0 until k).map(i => docs.withColumn("doc_id", col("doc_id") + lit(i * dShift)))
      .reduce(_ unionByName _)
      .repartition(32)
      .write.mode("overwrite").parquet(s"$out/documents.parquet")
    val ev = Tables(spark, src, "events")
    val Seq(eShift, uShift) = ev.agg(max(col("event_id")), max(col("user_id")))
      .head().toSeq.map(_.asInstanceOf[Long] + 1L)
    (0 until k).map(i => ev
        .withColumn("event_id", col("event_id") + lit(i * eShift))
        .withColumn("user_id", col("user_id") + lit(i * uShift)))
      .reduce(_ unionByName _)
      .repartition(32)
      .write.mode("overwrite").parquet(s"$out/events.parquet")
    println(s"[bigsfshim] wrote ${k}x documents+events under $out")
    spark.stop()
  }
}
