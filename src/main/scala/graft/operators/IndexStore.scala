package graft.operators

import java.nio.charset.StandardCharsets.UTF_8
import java.util.UUID

import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.{DataType, StructType}
import org.json4s.{DefaultFormats, Formats, JValue}
import org.json4s.jackson.JsonMethods.{compact, parse}
import org.json4s.jackson.Serialization

/** The one on-disk format of every durable index, published the way
  * `FileOutputCommitter` publishes job output. An index path holds
  * `rows-<uuid>/` parquet dirs and `manifest-<version>.json` files; a
  * manifest holds the family's parameters and, per table, its schema,
  * the key [[load]] dedupes on and its row dirs. [[save]] and [[append]]
  * write new row dirs, then write the next manifest as
  * `manifest-<uuid>.tmp` and rename it to the next version, so a reader
  * sees the old index or the new one, rows and parameters together. A
  * failed write deletes what it staged; a commit then deletes superseded
  * manifests and unnamed row dirs — only entries with these names. One
  * writer per path: a commit whose manifest was superseded since it was
  * read is refused.
  */
object IndexStore {

  /** A committed index: the family's parameters and each table's rows. */
  final case class Index(params: Map[String, String], tables: Map[String, DataFrame])

  private case class Entry(schema: JValue, key: List[String], dirs: List[String]) {
    def struct: StructType = DataType.fromJson(compact(schema)).asInstanceOf[StructType]
  }
  private case class Manifest(version: Long, params: Map[String, String],
                              tables: Map[String, Entry])

  private implicit val formats: Formats = DefaultFormats
  private val log = org.slf4j.LoggerFactory.getLogger(getClass)
  private val Committed = """manifest-(\d{10})\.json""".r
  private val Uuid = "[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}"
  private val Staged = s"rows-$Uuid|manifest-$Uuid\\.tmp".r

  /** Replace whatever index `path` holds with `params` and `tables`,
    * each (name, rows, the columns [[load]] dedupes on).
    */
  def save(path: String, params: Map[String, String],
           tables: (String, DataFrame, Seq[String])*): Unit = {
    val at = new Loc(tables.head._2.sparkSession, path)
    commit(at, at.latest(), params, Map.empty, tables)
  }

  /** Add `rows(saved params)` to `table` of the index at `path`. The
    * batch must have the saved columns and types, no more and no fewer:
    * parquet takes mixed-schema part files, and readers null-fill them.
    */
  def append(spark: SparkSession, path: String, table: String)
            (rows: Map[String, String] => DataFrame): Unit = {
    val at = new Loc(spark, path)
    val m = at.newest()
    val (saved, batch) = (m.tables(table).struct, rows(m.params))
    def cols(s: StructType) = s.fields.map(f => f.name -> f.dataType).toSet
    require(cols(batch.schema) == cols(saved), s"append schema ${batch.schema.simpleString} " +
      s"differs from ${saved.simpleString} saved at $path; refusing a mixed-schema append")
    commit(at, Some(m.version), m.params, m.tables, Seq((table, batch, Nil)))
  }

  /** The newest committed index at `path`: each table read with its
    * saved schema from the dirs its manifest names, deduped on its key.
    */
  def load(spark: SparkSession, path: String): Index = {
    val at = new Loc(spark, path)
    val m = at.newest()
    Index(m.params, m.tables.map { case (n, e) =>
      val rows = spark.read.schema(e.struct).parquet(e.dirs.map(at(_).toString): _*)
      n -> (if (e.key.isEmpty) rows else rows.dropDuplicates(e.key))
    })
  }

  private final class Loc(spark: SparkSession, val path: String) {
    val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    private val root = fs.makeQualified(new Path(path))

    def apply(name: String): Path = new Path(root, name)

    def names(): Seq[String] =
      try fs.listStatus(root).toSeq.map(_.getPath.getName)
      catch { case _: java.io.FileNotFoundException => Nil }

    def latest(): Option[Long] = names().collect { case Committed(v) => v.toLong }.maxOption

    def newest(): Manifest = {
      val v = latest().getOrElse(
        throw new java.io.FileNotFoundException(s"no committed index at $path"))
      val in = fs.open(this(manifest(v)))
      try Serialization.read[Manifest](new String(in.readAllBytes(), UTF_8)) finally in.close()
    }
  }

  private def manifest(version: Long): String = f"manifest-$version%010d.json"

  /** Stage `writes` as new row dirs of their tables, then publish the
    * manifest that follows version `read`.
    */
  private def commit(at: Loc, read: Option[Long], params: Map[String, String],
                     tables: Map[String, Entry],
                     writes: Seq[(String, DataFrame, Seq[String])]): Unit = {
    val version = read.fold(1L)(_ + 1)
    val staged = ArrayBuffer.empty[Path]
    var committed = false
    try {
      val next = writes.foldLeft(tables) { case (acc, (table, rows, key)) =>
        val dir = s"rows-${UUID.randomUUID}"
        staged += at(dir)
        rows.write.parquet(at(dir).toString)
        acc + (table -> acc.get(table).fold(Entry(parse(rows.schema.json), key.toList,
          List(dir)))(e => e.copy(dirs = e.dirs :+ dir)))
      }
      val tmp = at(s"manifest-${UUID.randomUUID}.tmp")
      staged += tmp
      val out = at.fs.create(tmp, false)
      try out.write(Serialization.write(Manifest(version, params, next)).getBytes(UTF_8))
      finally out.close()
      if (at.latest() != read || !at.fs.rename(tmp, at(manifest(version))))
        throw new IllegalStateException(s"the index at ${at.path} moved past version " +
          s"${read.getOrElse(0L)} while this write ran; refusing to commit over it")
      committed = true
      val live = next.values.flatMap(_.dirs).toSet
      try at.names().foreach {
        case n @ Committed(v) if v.toLong < version => at.fs.delete(at(n), true)
        case n @ Staged() if !live(n)               => at.fs.delete(at(n), true)
        case _                                      =>
      } catch {
        case NonFatal(e) => log.warn(s"cleaning the index at ${at.path} failed: $e")
      }
    } finally if (!committed) staged.foreach(at.fs.delete(_, true))
  }
}
