package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.WholeStageCodegenExec
import org.scalatest.funsuite.AnyFunSuite

/** The session settings that let each distinct generated class compile
  * once per JVM: whole-stage class names without the per-query stage id
  * (Spark's codegen cache keys on the source text), and tasks that run
  * under the application class loader rather than a per-session
  * `ExecutorClassLoader` that turns every class lookup of a compile into
  * a fetch from the driver.
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
}
