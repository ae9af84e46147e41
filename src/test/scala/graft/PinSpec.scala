package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Pins

/** The pin/checkpoint mechanics: exact (race-free, silent) release of
  * pin blocks, and the pipeline's reliable-checkpoint durability knob.
  */
class PinSpec extends AnyFunSuite {

  lazy val spark: SparkSession = GraftSession.build("4")

  test("Pins releases exactly its own registrations, silently") {
    val sc = spark.sparkContext
    // a concurrent persist from another consumer must survive the release
    val bystander = spark.range(0, 50).persist()
    bystander.count()
    val (pinId, persistIds) = Pins() { pins =>
      val pinned = pins.pin(spark.range(0, 100).select(col("id").as("doc_id")))
      val rdd = Pins.checkpointRdd(pinned)
      assert(rdd.isDefined, "pinned frame must expose its checkpoint RDD")
      val id = rdd.get.id
      assert(sc.getPersistentRDDs.contains(id), "pin must register its blocks")
      val before = sc.getPersistentRDDs.keySet.toSet
      val persisted = pins.persist(spark.range(0, 70).select((col("id") * 3).as("x")))
      persisted.count()
      val bystanderIds = sc.getPersistentRDDs.keySet.toSet - id
      pins.release(pinned)
      assert(!sc.getPersistentRDDs.contains(id), "release must drop the pin's own RDD")
      assert(bystanderIds.subsetOf(sc.getPersistentRDDs.keySet),
        "release must never touch another registration or consumer")
      (id, sc.getPersistentRDDs.keySet.toSet -- before)
    }
    assert(persistIds.nonEmpty, "the scope's persist must register its cache blocks")
    assert((persistIds + pinId).intersect(sc.getPersistentRDDs.keySet).isEmpty,
      "closing the scope must release what is still registered")
    assert(bystander.storageLevel.useMemory, "close must never touch a bystander")
    bystander.unpersist(true)
  }

  test("SPARK_GRAFT_PIPELINE_PIN=reliable (conf form) lands stage pins in the checkpoint dir and preserves output") {
    val dir = java.nio.file.Files.createTempDirectory("graft-pin-spec").toString
    val in = Tables(spark, "/root/testdata/sf0.001", "documents")
      .limit(120).select(col("doc_id"), col("source"), col("text"))
    def packs(): Long = {
      val (packed, _) = jobs.TrainingPipeline.run(spark, "/root/testdata/sf0.001",
        input = Some(in), normalize = true, report = false)
      packed.count()
    }
    val localPacks = packs()
    spark.conf.set("spark.graft.pipeline.pin", "reliable")
    spark.conf.set("spark.graft.pipeline.pinDir", dir)
    try {
      val reliablePacks = packs()
      assert(reliablePacks == localPacks,
        s"reliable pins changed the output: $reliablePacks vs $localPacks packs")
      val files = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
        .filter(java.nio.file.Files.isRegularFile(_)).count()
      assert(files > 0, "reliable mode must write checkpoint files under the pin dir")
      // one rdd-<id> directory per reliable pin: the default chain's
      // three stage pins (filtered, exactKept, nearKept), then the
      // near-dup connected components' edge frame, initial labels and at
      // least one round — so CC rounds checkpoint reliably too
      val pinDirs = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
        .filter(p => java.nio.file.Files.isDirectory(p) &&
          p.getFileName.toString.startsWith("rdd-")).count()
      assert(pinDirs >= 6,
        s"$pinDirs reliable checkpoints: the CC rounds did not land under the pin dir")
    } finally {
      spark.conf.unset("spark.graft.pipeline.pin")
      spark.conf.unset("spark.graft.pipeline.pinDir")
    }
  }
}
