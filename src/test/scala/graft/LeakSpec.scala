package graft

import org.apache.spark.GraftCoreShim
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Dedup, Pins}

/** Every persist and pin a composition takes is released when it
  * returns and when it fails: `sc.getPersistentRDDs` gains nothing over
  * its pre-run set (the ContextCleaner may shrink it meanwhile), apart
  * from the pins backing the frame a call returns.
  * Failures are injected from here only: a UDF that throws, or a
  * fixture whose ids cannot be cast.
  */
class LeakSpec extends AnyFunSuite {

  lazy val spark: SparkSession = GraftSession.build("4")
  val dir = s"${sys.props("user.home")}/testdata/sf0.001" // TESTDATA.md

  private def registered: Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet

  /** The checkpoint RDDs a frame reads. */
  private def leaves(df: DataFrame): Set[Int] =
    df.queryExecution.analyzed.collectLeaves().collect { case l: LogicalRDD => l.rdd.id }.toSet

  private def dropLeaves(df: DataFrame): Unit =
    leaves(df).foreach(GraftCoreShim.unpersistRdd(spark.sparkContext, _))

  private val boom = udf((s: String) => {
    if (s != null) throw new IllegalStateException("injected failure")
    s
  })

  /** `dir`'s documents with string ids plus a verbatim copy of five
    * of them under non-numeric ids: the copies pair with their
    * originals, and connected components cannot cast them to long.
    */
  private lazy val badIds: String = {
    val out = java.nio.file.Files.createTempDirectory("graft-leak-spec").toString
    val docs = Tables(spark, dir, "documents").withColumn("doc_id", col("doc_id").cast("string"))
    docs.unionByName(docs.limit(5).withColumn("doc_id", concat(lit("x"), col("doc_id"))))
      .write.parquet(s"$out/documents.parquet")
    out
  }

  private def failsCleanly(run: => Any): Unit = {
    val before = registered
    intercept[Exception](run)
    assert((registered -- before).isEmpty, s"leaked after a failure: ${registered -- before}")
  }

  test("pipeline_full releases every pin but its output, on success and on failure") {
    val before = registered
    val out = SparkEntry.queries("pipeline_full")(spark, dir)
    assert(out.count() > 0)
    assert(leaves(out).nonEmpty && registered -- before == leaves(out),
      s"left ${registered -- before}, the output reads ${leaves(out)}")
    dropLeaves(out)

    // the pipeline_full composition with a DSIR target that fails to
    // score: the media elections, every connected-components call and
    // the stage pins through 4c are live when it throws
    import graft.multimodal.Multimodal
    val d = Tables(spark, dir, "documents")
    val wavs = Multimodal.fabricateAudio(d.filter(col("doc_id") % 10 === 0))
      .unionByName(Multimodal.fabricateAudio(
        d.filter(col("doc_id") % 40 === 0), idOffset = 3))
    val stills = Multimodal.fabricateStillImages(d.filter(col("doc_id") % 10 === 1))
      .unionByName(Multimodal.fabricateStillImages(
        d.filter(col("doc_id") % 40 === 1), idOffset = 7))
    failsCleanly(jobs.TrainingPipeline.run(spark, dir,
      input = Some(d.select(col("doc_id"), col("source"), col("text"))),
      templateMinDf = Some(5L), maxRepetition = Some(0.08),
      semanticThreshold = 0.38, semanticCells = 32,
      embeddings = Some(Tables(spark, dir, "embeddings")
        .select(col("vec_id").as("doc_id"), col("embedding"))),
      audioMedia = Some(wavs), imageMedia = Some(stills),
      evalDocs = Some(d.filter(col("doc_id") % 97 === 0).select(col("doc_id"), col("text"))),
      decontamSubstringW = Some(10),
      dsirTarget = Some(d.select(boom(col("text")).as("text"))),
      tokenBudgets = Map("src0" -> 400L), budgetShards = 2,
      normalize = true, report = false))
  }

  test("media_dedup_e2e in a scope releases everything, on success and on failure") {
    val before = registered
    val kept = Pins() { _ => SparkEntry.queries("media_dedup_e2e")(spark, dir).count() }
    assert(kept > 0)
    assert((registered -- before).isEmpty, s"leaked ${registered -- before}")
    // the election's pins and persists are live when consuming its
    // keeper set fails
    failsCleanly(Pins() { _ =>
      SparkEntry.queries("media_dedup_e2e")(spark, dir)
        .select(boom(col("doc_id").cast("string"))).collect()
    })
  }

  test("dedup_clusters keeps only its cluster map, and nothing on failure") {
    val before = registered
    val map = SparkEntry.queries("dedup_clusters")(spark, dir)
    assert(map.count() > 0)
    // the map stays: it is the session memo dedup_apply and cluster_split
    // reuse, released when the next dedup_clusters call replaces it
    assert(leaves(map).nonEmpty && registered -- before == leaves(map),
      s"left ${registered -- before}, the map reads ${leaves(map)}")
    failsCleanly(SparkEntry.queries("dedup_clusters")(spark, badIds))
  }

  test("connected components nest: labels live until the enclosing scope closes") {
    import spark.implicits._
    val pairs = Seq((1L, 2L), (2L, 3L), (7L, 8L)).toDF("a", "b")
    val before = registered
    val held = Pins() { _ =>
      val labels = Dedup.connectedComponents(pairs, "a", "b")
      spark.range(0, 1000).selectExpr("id % 7 as k").groupBy("k").count().collect()
      assert(labels.as[(Long, Long)].collect().toMap ==
        Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 7L -> 7L, 8L -> 7L))
      assert(leaves(labels).subsetOf(registered), "the labels' pin went early")
      leaves(labels)
    }
    assert(held.intersect(registered).isEmpty, "the scope kept the labels' pin")
    assert((registered -- before).isEmpty, s"leaked ${registered -- before}")
    // a round pin whose own job fails releases its half-made blocks
    failsCleanly(Dedup.connectedComponents(
      spark.range(0, 50).select(boom(col("id").cast("string")).as("a"),
        (col("id") + 1).as("b")), "a", "b"))
  }
}
