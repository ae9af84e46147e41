package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.sources.Jdbc

/** DBCountPageView end-to-end
  * (reference: hadoop-mapreduce-examples/src/main/java/org/apache/hadoop/examples/DBCountPageView.java:86-98):
  * an access log with schema (url, referrer, time) is stored in a SQL
  * database, read back through the partitioned JDBC scan, and reduced to
  * (url, pageview) counts written back to the DB.
  *
  * The reference embeds HSQLDB; here the embedded DB is Derby (ships in
  * /opt/spark/jars). Column/table identifiers are uppercase so quoted
  * DDL and unquoted driver-side SQL resolve to the same Derby objects.
  * The oracle aggregates the source parquet directly — it stays green
  * only if the DB write + partitioned read are lossless.
  */
object DbQueries extends QueryModule {

  // per-process DB root: Derby holds an exclusive lock per database while
  // a JVM has it open, so concurrent Verify/Bench JVMs must not share one.
  // At JVM exit Derby shuts down, closing its databases, and the root goes.
  private lazy val dbRoot: java.io.File = {
    val root = new java.io.File(sys.props.getOrElse("java.io.tmpdir", "/tmp"),
      s"graft-derby-${ProcessHandle.current().pid()}")
    sys.addShutdownHook {
      try Jdbc.shutdownDerby()
      finally org.apache.commons.io.FileUtils.deleteQuietly(root)
    }
    root
  }

  private def dbDir(sfDir: String): String =
    new java.io.File(dbRoot, sfDir.replaceAll("[^A-Za-z0-9.]", "_")).toString

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "db_count_pageview" -> ((s, dir) => {
      val access = Tables(s, dir, "events").select(
        concat(lit("/page/"), col("event_type")).as("URL"),
        concat(lit("/ref/"), (col("user_id") % 10).cast("string")).as("REFERRER"),
        unix_micros(col("ts")).as("TIME_US"))
      val url = Jdbc.derbyUrl(dbDir(dir))
      // DBOutputFormat path: store the access log in the DB
      Jdbc.write(access, url, "ACCESS_LOG",
        columnTypes = Some("URL VARCHAR(64), REFERRER VARCHAR(64)"))
      // DataDrivenDBInputFormat path: parallel scan split on TIME_US
      val counts = Jdbc.readPartitioned(s, url, "ACCESS_LOG", "TIME_US", numSplits = 8)
        .groupBy(col("URL"))
        .agg(count(lit(1)).as("PAGEVIEW"))
      // the reference reduces INTO the DB's pageview table
      // (DBCountPageView.java:95-98); read it back as the result, so the
      // oracle only matches if the second roundtrip is lossless too
      Jdbc.write(counts, url, "PAGEVIEW",
        columnTypes = Some("URL VARCHAR(64)"))
      Jdbc.readPartitioned(s, url, "PAGEVIEW", "PAGEVIEW", numSplits = 4)
        .select(col("URL").as("url"), col("PAGEVIEW").as("pageview"))
    })
  )

  def oracleSql: Map[String, String] = Map(
    "db_count_pageview" ->
      """SELECT '/page/' || event_type AS url,
        |  CAST(COUNT(*) AS BIGINT) AS pageview
        |FROM events GROUP BY 1""".stripMargin
  )
}
