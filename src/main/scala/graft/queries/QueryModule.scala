package graft.queries

import org.apache.spark.GraftCoreShim
import org.apache.spark.sql.{DataFrame, SparkSession}

/** A bundle of named queries plus their DuckDB oracle SQL (where the
  * semantics are SQL-expressible; others get the driver's rows-only check).
  */
trait QueryModule {
  def queries: Map[String, (SparkSession, String) => DataFrame]
  def oracleSql: Map[String, String]
}

object QueryModule {
  private val dirs =
    new java.util.concurrent.ConcurrentHashMap[(String, String), String]()

  /** One `graft-<kind>` temp dir per (sf dir, kind) for the JVM, filled
    * once by `init`: a long-lived Verify+Bench session re-running a lane
    * reuses it instead of leaking a temp dir per run. The dir and
    * everything in it are deleted when the JVM exits.
    */
  def tempDir(dir: String, kind: String, init: String => Unit = _ => ()): String =
    dirs.computeIfAbsent((dir, kind), { _ =>
      val p = java.nio.file.Files.createTempDirectory(s"graft-$kind").toFile
      GraftCoreShim.deleteOnExit(p)
      init(p.toString)
      p.toString
    })
}
