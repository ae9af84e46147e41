package graft

import org.apache.spark.GraftCoreShim
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Dedup, Pins}

/** The pin/checkpoint mechanics: exact (race-free, silent) release of
  * pin blocks, persists built once when they return, and the pipeline's
  * reliable-checkpoint durability knob.
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

  test("persist builds its cache in one job before it returns, in a scope and outside one") {
    val sc = spark.sparkContext
    // the final RDD of every job: a cache-build job's is the cache RDD
    val finals = new java.util.concurrent.ConcurrentLinkedQueue[Int]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        e.stageInfos.maxByOption(_.stageId).flatMap(_.rddInfos.headOption)
          .foreach(r => finals.add(r.id))
    }
    def jobsBuilding(rdd: Int): Int = {
      GraftCoreShim.drainListenerBus(sc)
      finals.toArray.count(_ == rdd)
    }
    /** Persist a fresh frame with `persist` and check its one cache RDD
      * is fully built when that returns, by exactly one job, and that an
      * action reading it five times in one plan builds nothing more.
      */
    def buildsOnce(seed: Int)(persist: DataFrame => DataFrame): DataFrame = {
      val before = sc.getPersistentRDDs.keySet.toSet
      val p = persist(spark.range(0, 400, 1, 4).select((col("id") * seed).as("x")))
      val added = sc.getPersistentRDDs.keySet.toSet -- before
      assert(added.size == 1, s"persist registered $added, not one built cache RDD")
      val cache = added.head
      val info = sc.getRDDStorageInfo.find(_.id == cache)
      assert(info.exists(i => i.numCachedPartitions == i.numPartitions),
        s"the cache is not loaded when persist returns: $info")
      assert(jobsBuilding(cache) == 1, s"${jobsBuilding(cache)} jobs built the cache")
      assert(p.union(p).union(p).union(p).union(p).count() == 2000)
      assert(p.join(p.withColumnRenamed("x", "y"), col("x") === col("y")).count() == 400)
      assert(jobsBuilding(cache) == 1,
        s"${jobsBuilding(cache) - 1} more jobs built the cache for plans reading it")
      p
    }
    sc.addSparkListener(listener)
    try {
      Pins() { pins => buildsOnce(7)(pins.persist) }
      buildsOnce(11)(Pins.persist).unpersist(true)
    } finally sc.removeSparkListener(listener)
  }

  test("an observe on a pinned or persisted frame is filled by the next SQL action over it") {
    import scala.concurrent.Await
    import scala.concurrent.duration._
    // bounded: an observation nothing fills fails here instead of hanging
    def rows(o: Observation): Long = Await.result(o.future, 60.seconds).getLong(0)
    def counted(df: DataFrame): (DataFrame, Observation) = {
      val o = Observation()
      (df.observe(o, count(lit(1)).as("n")), o)
    }
    val base = spark.range(0, 100, 1, 4).select(col("id").as("doc_id"))
    Pins() { pins =>
      // the pin's own job
      val (a, oa) = counted(base)
      pins.pin(a.repartition(col("doc_id")))
      assert(rows(oa) == 100)
      // a frame the pin's self-join reads twice counts once
      val (b, ob) = counted(base)
      pins.pin(b.join(b.withColumnRenamed("doc_id", "x"), col("doc_id") === col("x")))
      assert(rows(ob) == 100)
      // the persist build, with the observed node below the persisted root
      val (c, oc) = counted(base)
      val kept = pins.persist(c.filter(col("doc_id") % 2 === 0).withColumn("y", col("doc_id") * 2))
      assert(rows(oc) == 100)
      // a persisted frame that comes out empty: a later pin over it
      // never scans the cache (AQE drops the join), so only the build
      // can count it
      val (d, od) = counted(base)
      val none = pins.persist(d.filter(col("doc_id") < 0))
      pins.pin(none.join(kept, Seq("doc_id"), "left_anti"))
      assert(rows(od) == 100)
    }
    // a persist outside any scope, read by a later pin
    val (e, oe) = counted(base)
    val p = Pins.persist(e.withColumn("z", col("doc_id") + 1))
    Pins() { pins => pins.pin(p.filter(col("z") > 10)) }
    assert(rows(oe) == 100)
    p.unpersist(true)
  }

  test("spark.graft.pipeline.pin=reliable lands stage pins in pinDir and preserves output") {
    val dir = java.nio.file.Files.createTempDirectory("graft-pin-spec").toString
    val in = Tables(spark, "/root/testdata/sf0.001", "documents")
      .limit(120).select(col("doc_id"), col("source"), col("text"))
    def packs(): (Long, jobs.TrainingPipeline.Report) = {
      val (packed, report) = jobs.TrainingPipeline.run(spark,
        s"${sys.props("user.home")}/testdata/sf0.001", input = Some(in), normalize = true)
      (packed.count(), report)
    }
    val localPacks = packs()
    spark.conf.set("spark.graft.pipeline.pin", "reliable")
    spark.conf.set("spark.graft.pipeline.pinDir", dir)
    try {
      val reliablePacks = packs()
      assert(reliablePacks == localPacks,
        s"reliable pins changed the output or its counts: $reliablePacks vs $localPacks")
      val files = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
        .filter(java.nio.file.Files.isRegularFile(_)).count()
      assert(files > 0, "reliable mode must write checkpoint files under the pin dir")
      // one rdd-<id> directory per reliable pin
      def pinDirs(): Long = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
        .filter(p => java.nio.file.Files.isDirectory(p) &&
          p.getFileName.toString.startsWith("rdd-")).count()
      // the default chain's three stage pins (filtered, exactKept,
      // nearKept) and the near-dup connected components' edge pin,
      // whose small graph then finishes on the driver
      val afterRun = pinDirs()
      assert(afterRun >= 4,
        s"$afterRun reliable checkpoints: the stage or CC edge pins did not land under the pin dir")
      // the distributed rounds (cap 0) pin the edges, the initial labels
      // and at least one round, all reliably
      import spark.implicits._
      Dedup.connectedComponents(Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("a", "b"),
        "a", "b", 20, Some(dir), 0L).collect()
      assert(pinDirs() - afterRun >= 3 && pinDirs() >= 6,
        s"${pinDirs() - afterRun} reliable CC checkpoints: the rounds did not land under the pin dir")
    } finally {
      spark.conf.unset("spark.graft.pipeline.pin")
      spark.conf.unset("spark.graft.pipeline.pinDir")
    }
  }
}
