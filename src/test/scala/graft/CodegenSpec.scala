package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}

import org.apache.spark.sql.{DataFrame, GraftCodegenShim, SparkSession}
import org.apache.spark.sql.execution.{SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.internal.SQLConf
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Pins

/** The session settings that let each distinct generated class compile
  * once per JVM: whole-stage class names without the per-query stage id
  * (Spark's codegen cache keys on the source text), and tasks that run
  * under the application class loader rather than a per-session
  * `ExecutorClassLoader` that turns every class lookup of a compile into
  * a fetch from the driver. And the one place generated code is off: an
  * eager pin whose measured input is at most `Pins.InterpretBytes` runs
  * interpreted, on its own thread only.
  */
class CodegenSpec extends AnyFunSuite {

  lazy val spark: SparkSession = GraftSession.build("4")

  // the pipeline tagged by its unique literals, generated alone and as
  // the second child of a union, where it gets the next stage id
  test("one pipeline generates the same class body at any codegen stage id") {
    def tagged: DataFrame = spark.range(0, 1000, 1, 2)
      .selectExpr("id * 7919 + 104729 AS x").filter("x % 15485863 <> 3")
    def stage(df: DataFrame): WholeStageCodegenExec = {
      val found = df.queryExecution.executedPlan.collect {
        case w: WholeStageCodegenExec if w.doCodeGen()._2.body.contains("15485863") => w
      }
      assert(found.size == 1, df.queryExecution.executedPlan.toString)
      found.head
    }
    val alone = stage(tagged)
    val second = stage(spark.range(0, 5).selectExpr("id AS x").union(tagged))
    assert(alone.codegenStageId != second.codegenStageId,
      "the two plans must number the pipeline's stage differently")
    Seq(alone, second).foreach { w =>
      assert(!w.generatedClassName().exists(_.isDigit),
        s"class name ${w.generatedClassName()} carries the stage id")
    }
    assert(alone.doCodeGen()._2.body == second.doCodeGen()._2.body,
      "the same pipeline must generate one body, so it compiles once")
  }

  test("tasks never run under a per-session ExecutorClassLoader") {
    import spark.implicits._
    val chains = spark.range(0, 4, 1, 4).mapPartitions { _ =>
      val loaders = Iterator.iterate(Thread.currentThread.getContextClassLoader)(_.getParent)
        .takeWhile(_ != null).map(_.getClass.getName)
      Iterator(loaders.mkString(" <- "))
    }.collect()
    assert(chains.length == 4)
    chains.foreach { c =>
      assert(!c.contains("org.apache.spark.executor.ExecutorClassLoader"), c)
    }
  }

  private val FactoryMode = SQLConf.CODEGEN_FACTORY_MODE.key

  private def actionPlans(body: => Unit): Seq[(String, Seq[SparkPlan])] =
    PlanSpec.actionPlans(spark)(body)

  private def fused(plan: Seq[SparkPlan]): Boolean = plan.exists(_.isInstanceOf[WholeStageCodegenExec])

  /** A 200-row local relation and a pin-shaped query over it: a shuffle
    * under a fusable aggregate.
    */
  private def small(seed: Int): DataFrame = {
    val s = spark
    import s.implicits._
    (0 until 200).map(i => (i.toLong * seed, i % 7)).toDF("id", "k")
  }
  private def grouped(df: DataFrame): DataFrame =
    df.groupBy("k").agg(sum("id").as("s"), count(lit(1)).as("n"))

  test("a pin at most the cap runs interpreted; the same pin at cap 0 keeps whole-stage codegen") {
    val in = small(3)
    val bytes = GraftCodegenShim.inputBytes(in)
    assert(bytes.exists(b => b > 0 && b <= Pins.InterpretBytes), s"measured input $bytes")
    Pins() { pins =>
      val below = actionPlans(pins.pin(grouped(in)))
      assert(below.map(_._1) == Seq("localCheckpoint"), below.map(_._1))
      assert(!fused(below.head._2), s"a pin below the cap fused a stage:\n${below.head._2.head}")
      val compiled = actionPlans(pins.pin(grouped(in), local = false, interpretBytes = 0L))
      assert(compiled.map(_._1) == Seq("localCheckpoint"), compiled.map(_._1))
      assert(fused(compiled.head._2), s"a pin above the cap lost whole-stage codegen:\n${compiled.head._2.head}")
    }
  }

  test("the calling thread's local property and SQLConf come back after a pin returns or throws") {
    val sc = spark.sparkContext
    val conf = SQLConf.get
    def unchanged(when: String): Unit = {
      assert(sc.getLocalProperty(FactoryMode) == null, s"$when: local property left set")
      assert(SQLConf.get eq conf, s"$when: the thread's SQLConf is not the session's")
      assert(!spark.conf.getOption(FactoryMode).contains("NO_CODEGEN"), s"$when: session conf changed")
    }
    unchanged("before")
    Pins() { pins =>
      pins.pin(grouped(small(7)))
      unchanged("after a pin returned")
      val boom = udf((k: Int) => if (k == 3) throw new IllegalStateException("boom") else k)
      val e = intercept[Exception](pins.pin(grouped(small(11).withColumn("k", boom(col("k"))))))
      assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .exists(_.getMessage.contains("boom")), e)
      unchanged("after a pin threw")
    }
  }

  test("an action on another thread keeps whole-stage codegen while an interpreted pin runs") {
    val dir = java.nio.file.Files.createTempDirectory("graft-codegen-spec").resolve("t").toString
    spark.range(0, 1000, 1, 2).selectExpr("id", "id % 5 AS k").write.parquet(dir)
    val file = spark.read.parquet(dir)
    CodegenSpec.reset()
    val other = new Thread(() => {
      try {
        // start once the pin's task is running, and let it finish after
        if (CodegenSpec.started.await(60, TimeUnit.SECONDS))
          CodegenSpec.otherPlans = actionPlans(file.groupBy("k").count().collect())
      } finally CodegenSpec.release.countDown()
    })
    other.start()
    // blocks the one task that holds id 0 until the other action is done
    val gate = udf { (id: Long) =>
      if (id == 0) { CodegenSpec.started.countDown(); CodegenSpec.release.await(60, TimeUnit.SECONDS) }
      id
    }
    val pinPlans = Pins() { pins =>
      actionPlans(pins.pin(grouped(small(13).withColumn("id", gate(col("id"))))))
    }
    other.join(60000)
    val collect = CodegenSpec.otherPlans.filter(_._1 == "collect")
    assert(collect.size == 1, s"the other thread's action did not run: ${CodegenSpec.otherPlans.map(_._1)}")
    assert(fused(collect.head._2), s"the file action lost whole-stage codegen:\n${collect.head._2.head}")
    val pin = pinPlans.filter(_._1 == "localCheckpoint")
    assert(pin.size == 1 && !fused(pin.head._2), s"the pin fused a stage:\n${pin.map(_._2.head)}")
  }
}

object CodegenSpec {
  // shared with the tasks of a local session by reference, not shipped
  @volatile var started = new CountDownLatch(1)
  @volatile var release = new CountDownLatch(1)
  @volatile var otherPlans: Seq[(String, Seq[SparkPlan])] = Nil
  def reset(): Unit = {
    started = new CountDownLatch(1); release = new CountDownLatch(1); otherPlans = Nil
  }
}
