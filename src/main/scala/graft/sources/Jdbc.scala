package graft.sources

import java.sql.{Connection, DriverManager}
import java.util.Properties

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

/** JDBC source/sink — the reference's db package re-expressed on Spark.
  *
  * - [[readPartitioned]] ≙ DataDrivenDBInputFormat
  *   (reference: hadoop-mapreduce-client-core/src/main/java/org/apache/hadoop/mapreduce/lib/db/DataDrivenDBInputFormat.java:167-225):
  *   run the bounding-values query `SELECT MIN(col), MAX(col) FROM t` on
  *   the driver, interpolate split points, and turn each interval into a
  *   WHERE-clause predicate. Spark's predicate-array `read.jdbc` creates
  *   exactly one InputPartition per predicate — the same parallel-scan
  *   shape as one map task per DataDrivenDBInputSplit. At cluster scale
  *   each executor opens its own connection to the (networked) DB; in
  *   tests the DB is embedded Derby, which is single-JVM but exercises
  *   the identical plan.
  * - [[integerSplitPoints]] ≙ IntegerSplitter.split
  *   (reference: .../lib/db/IntegerSplitter.java:86-131): open intervals
  *   `[lo, hi)` with a closed last interval `[lo, max]`; date/timestamp
  *   columns reduce to the same long arithmetic (DateSplitter.java:46-52).
  * - [[write]] ≙ DBOutputFormat (reference: .../lib/db/DBOutputFormat.java):
  *   batched prepared-statement INSERTs per partition with a commit on
  *   task close — Spark's JdbcUtils.savePartition is the same protocol.
  * - [[constructInsertQuery]] ≙ DBOutputFormat.constructQuery
  *   (DBOutputFormat.java:135-160), kept for API parity.
  * - Vendor dialect lane ≙ OracleDataDrivenDBInputFormat.java /
  *   OracleDateSplitter.java / OracleDBRecordReader.java /
  *   MySQLDataDrivenDBRecordReader.java: the SQL-text behaviors
  *   ([[oracleDateSplitPredicates]] TO_TIMESTAMP literals,
  *   [[oracleSplitPredicates]] type routing, [[oracleRowRangeQuery]]
  *   ROWNUM pagination) are reproduced; the connection-tier vendor
  *   behaviors (Oracle session-timezone reflection, MySQL unbuffered
  *   fetch) are out of scope — with Spark they are the
  *   `sessionInitStatement` / `fetchsize` reader options.
  */
object Jdbc {

  /** Embedded-Derby URL for a database directory (driver ships in
    * /opt/spark/jars; Spark uses it for the Hive metastore).
    */
  def derbyUrl(dbDir: String): String = {
    // keep Derby's lock/log chatter out of the repo working dir
    if (sys.props.get("derby.system.home").isEmpty)
      System.setProperty("derby.system.home",
        sys.props.getOrElse("java.io.tmpdir", "/tmp"))
    s"jdbc:derby:$dbDir;create=true"
  }

  val DerbyDriver = "org.apache.derby.iapi.jdbc.AutoloadedDriver"

  /** Shut the embedded Derby engine down, closing every database this
    * JVM holds open; Derby reports success as SQLState XJ015.
    */
  def shutdownDerby(): Unit =
    try DriverManager.getConnection("jdbc:derby:;shutdown=true").close()
    catch { case e: java.sql.SQLException if e.getSQLState == "XJ015" => () }

  def connect(url: String): Connection = DriverManager.getConnection(url)

  /** IntegerSplitter.split (IntegerSplitter.java:86-131): boundaries one
    * longer than the split count; numSplits is a hint (uneven division
    * may yield one more split).
    */
  def integerSplitPoints(numSplits: Int, minVal: Long, maxVal: Long): Seq[Long] = {
    val n = math.max(numSplits, 1)
    // an inverted range (defensive: no in-repo caller produces one)
    // degrades to one empty-interval split — the reference's documented
    // "poorly balanced splits" contract — instead of pts.last throwing
    // on an empty list
    if (minVal > maxVal) return Seq(minVal, maxVal)
    // a range wider than Long.MaxValue (possible only with sentinel
    // extrema) overflows the subtraction; degrade to one split rather
    // than letting splitSize clamp to 1 and the loop run ~2^63 times
    if (maxVal - minVal < 0) return Seq(minVal, maxVal)
    val splitSize = math.max((maxVal - minVal) / n, 1L)
    val b = Seq.newBuilder[Long]
    var cur = minVal
    var prev = minVal
    // `cur >= prev` stops the walk when `cur += splitSize` wraps past
    // Long.MaxValue (maxVal within splitSize of the top would otherwise
    // loop forever — every long satisfies cur <= Long.MaxValue)
    while (cur <= maxVal && cur >= prev) { b += cur; prev = cur; cur += splitSize }
    val pts = b.result()
    if (pts.last != maxVal || pts.size == 1) pts :+ maxVal else pts
  }

  /** Split points → WHERE-clause predicates, formatted exactly as
    * DataDrivenDBRecordReader.getSelectQuery composes the lower/upper
    * clauses (DataDrivenDBRecordReader.java:89-92): `( lo ) AND ( hi )`,
    * last interval closed (IntegerSplitter.java:97-110).
    */
  def integerSplitPredicates(col: String, numSplits: Int,
                             minVal: Long, maxVal: Long): Seq[String] = {
    val pts = integerSplitPoints(numSplits, minVal, maxVal)
    pts.sliding(2).toSeq.zipWithIndex.map { case (Seq(lo, hi), i) =>
      val last = i == pts.size - 2
      val upper = if (last) s"$col <= $hi" else s"$col < $hi"
      s"( $col >= $lo ) AND ( $upper )"
    }
  }

  /** Bounding-values query (DataDrivenDBInputFormat.getBoundingValsQuery,
    * DataDrivenDBInputFormat.java:238-262). Returns None when the table
    * is empty or the column all-NULL (the reference emits an IS NULL
    * split; we read unpartitioned in that case).
    */
  def boundingVals(url: String, table: String, splitCol: String,
                   conditions: Option[String] = None): Option[(Long, Long)] = {
    val conn = connect(url)
    try {
      val where = conditions.map(c => s" WHERE ( $c )").getOrElse("")
      val rs = conn.createStatement().executeQuery(
        s"SELECT MIN($splitCol), MAX($splitCol) FROM $table$where")
      rs.next()
      val lo = rs.getLong(1); val loNull = rs.wasNull()
      val hi = rs.getLong(2); val hiNull = rs.wasNull()
      if (loNull || hiNull) None else Some((lo, hi))
    } finally conn.close()
  }

  /** DataDrivenDBInputFormat analog: one Spark partition per generated
    * split predicate; each partition's task issues
    * `SELECT ... WHERE ( lo ) AND ( hi )` against the DB in parallel.
    */
  def readPartitioned(spark: SparkSession, url: String, table: String,
                      splitCol: String, numSplits: Int,
                      conditions: Option[String] = None): DataFrame = {
    val props = new Properties()
    val base = conditions.map(c => s"($c)")
    boundingVals(url, table, splitCol, conditions) match {
      case Some((lo, hi)) if numSplits > 1 =>
        val preds = integerSplitPredicates(splitCol, numSplits, lo, hi)
          .map(p => base.map(c => s"$c AND $p").getOrElse(p))
        spark.read.jdbc(url, table, preds.toArray, props)
      case _ =>
        // single split: the reference's "1=1 AND 1=1" degenerate split
        val df = spark.read.jdbc(url, table, props)
        base.map(df.where).getOrElse(df)
    }
  }

  /** DBOutputFormat analog: per-partition batched INSERTs, committed on
    * task close. `columnTypes` overrides Spark's Derby default of CLOB
    * for strings (CLOB columns reject GROUP BY/comparisons DB-side).
    */
  def write(df: DataFrame, url: String, table: String,
            numPartitions: Int = 4,
            columnTypes: Option[String] = None): Unit = {
    val w = df.repartition(numPartitions).write.mode(SaveMode.Overwrite)
    columnTypes.foreach(t => w.option("createTableColumnTypes", t))
    w.jdbc(url, table, new Properties())
  }

  // ---- typed splitters beyond integers ------------------------------

  private val OnePlace = new java.math.BigDecimal(65536)
  private val MaxChars = 8   // TextSplitter.MAX_CHARS (rounding guard)

  private def tryDivide(n: java.math.BigDecimal, d: java.math.BigDecimal): java.math.BigDecimal =
    try n.divide(d)
    catch { case _: ArithmeticException =>
      n.divide(d, 20, java.math.RoundingMode.HALF_UP) }

  /** BigDecimalSplitter.split (BigDecimalSplitter.java:110-160):
    * boundaries one longer than the split count, same tail rule as the
    * integer splitter, with a minimum increment guard.
    */
  def bigDecimalSplitPoints(numSplits: Int, minVal: java.math.BigDecimal,
                            maxVal: java.math.BigDecimal): Seq[java.math.BigDecimal] = {
    val n = new java.math.BigDecimal(math.max(numSplits, 1))
    val minIncrement = new java.math.BigDecimal(10000 * java.lang.Double.MIN_VALUE)
    var splitSize = tryDivide(maxVal.subtract(minVal), n)
    if (splitSize.compareTo(minIncrement) < 0) splitSize = minIncrement
    val b = Seq.newBuilder[java.math.BigDecimal]
    var cur = minVal
    while (cur.compareTo(maxVal) <= 0) { b += cur; cur = cur.add(splitSize) }
    val pts = b.result()
    if (pts.last.compareTo(maxVal) != 0 || pts.size == 1) pts :+ maxVal else pts
  }

  /** TextSplitter's order-preserving string↔decimal mapping
    * (TextSplitter.java:160-220): a string is the base-65536 fraction
    * 0.s₀s₁s₂…, truncated at 8 chars.
    */
  def stringToBigDecimal(s: String): java.math.BigDecimal = {
    var result = java.math.BigDecimal.ZERO
    var curPlace = OnePlace
    var i = 0
    val len = math.min(s.length, MaxChars)
    while (i < len) {
      result = result.add(tryDivide(new java.math.BigDecimal(s.codePointAt(i)), curPlace))
      curPlace = curPlace.multiply(OnePlace)
      i += 1
    }
    result
  }

  def bigDecimalToString(bd: java.math.BigDecimal): String = {
    var cur = bd.stripTrailingZeros()
    val sb = new StringBuilder
    var i = 0
    while (i < MaxChars && cur.compareTo(java.math.BigDecimal.ZERO) > 0) {
      cur = cur.multiply(OnePlace)
      val cp = cur.intValue()
      if (cp > 0) { sb.appendAll(Character.toChars(cp)) }
      cur = cur.subtract(new java.math.BigDecimal(cp))
      i += 1
    }
    sb.toString
  }

  /** TextSplitter.split (TextSplitter.java:63-170): pull out the common
    * prefix, interpolate split strings through the base-65536 mapping,
    * force the user bounds onto the ends, and emit quoted-interval
    * predicates (values must not contain quotes — same caveat as the
    * reference, which interpolates them raw).
    */
  def textSplitPredicates(col: String, numSplits: Int,
                          minString: String, maxString: String): Seq[String] = {
    val shared = minString.zip(maxString).takeWhile { case (a, b) => a == b }.size
    val prefix = minString.take(shared)
    val lo = minString.drop(shared)
    val hi = maxString.drop(shared)
    var pts = bigDecimalSplitPoints(numSplits, stringToBigDecimal(lo), stringToBigDecimal(hi))
      .map(bd => prefix + bigDecimalToString(bd))
    if (pts.headOption != Some(minString)) pts = minString +: pts
    if (pts.size == 1 || pts.last != maxString) pts = pts :+ maxString
    pts.sliding(2).toSeq.zipWithIndex.collect {
      case (Seq(a, b), i) if a != b || i == pts.size - 2 =>
        val last = i == pts.size - 2
        val upper = if (last) s"$col <= '$b'" else s"$col < '$b'"
        s"( $col >= '$a' ) AND ( $upper )"
    }
  }

  /** DataDrivenDBInputFormat with the TextSplitter: for tables whose
    * only usable split column is textual (the reference warns, then
    * splits anyway — TextSplitter.java:66-69).
    */
  def readPartitionedText(spark: SparkSession, url: String, table: String,
                          splitCol: String, numSplits: Int): DataFrame = {
    val conn = connect(url)
    val bounds =
      try {
        val rs = conn.createStatement().executeQuery(
          s"SELECT MIN($splitCol), MAX($splitCol) FROM $table")
        rs.next()
        (Option(rs.getString(1)), Option(rs.getString(2)))
      } finally conn.close()
    bounds match {
      case (Some(lo), Some(hi)) if numSplits > 1 =>
        val preds = textSplitPredicates(splitCol, numSplits, lo, hi)
        spark.read.jdbc(url, table, preds.toArray, new Properties())
      case _ => spark.read.jdbc(url, table, new Properties())
    }
  }

  /** FloatSplitter.split (FloatSplitter.java:44-100): double intervals
    * with Double.toString bounds, `[lo, hi)` except a closed last
    * interval; MIN_INCREMENT guard against zero-width steps; a NULL
    * split when an extremum is NULL (the reference's rs.getDouble
    * reads NULL as 0.0 for the non-null end — reproduced via getOrElse).
    */
  def floatSplitPredicates(col: String, numSplits: Int,
                           minVal: Option[Double], maxVal: Option[Double]): Seq[String] = {
    val nullSplit = s"( $col IS NULL ) AND ( $col IS NULL )"
    if (minVal.isEmpty && maxVal.isEmpty) return Seq(nullSplit)
    val lo = minVal.getOrElse(0.0)
    val hi = maxVal.getOrElse(0.0)
    val minIncrement = 10000 * java.lang.Double.MIN_VALUE
    var splitSize = (hi - lo) / math.max(numSplits, 1).toDouble
    if (splitSize < minIncrement) splitSize = minIncrement
    val b = Seq.newBuilder[String]
    var size = 0
    var curLower = lo
    var curUpper = curLower + splitSize
    while (curUpper < hi) {
      b += s"( $col >= $curLower ) AND ( $col < $curUpper )"
      size += 1
      curLower = curUpper
      curUpper += splitSize
    }
    if (curLower <= hi || size == 1)
      b += s"( $col >= $curLower ) AND ( $col <= $hi )"
    if (minVal.isEmpty || maxVal.isEmpty) b += nullSplit
    b.result()
  }

  /** BooleanSplitter.split (BooleanSplitter.java:37-70): at most one
    * split per truth value present in [min, max], plus a NULL split when
    * an extremum is NULL.
    */
  def booleanSplitPredicates(col: String, minVal: Option[Boolean],
                             maxVal: Option[Boolean]): Seq[String] = {
    val nullSplit = s"( $col IS NULL ) AND ( $col IS NULL )"
    if (minVal.isEmpty && maxVal.isEmpty) return Seq(nullSplit)
    val lo = minVal.getOrElse(false)
    val hi = maxVal.getOrElse(false)
    val b = Seq.newBuilder[String]
    if (!lo) b += s"( $col = FALSE ) AND ( $col = FALSE )"
    if (hi) b += s"( $col = TRUE ) AND ( $col = TRUE )"
    if (minVal.isEmpty || maxVal.isEmpty) b += nullSplit
    b.result()
  }

  /** DateSplitter.split (DateSplitter.java:51-135): date/time/timestamp
    * columns split through the INTEGER splitter on epoch millis, with
    * boundary longs rendered back as quoted JDBC literals (the
    * java.sql.Date/Time/Timestamp toString forms). The first boundary
    * carries the actual lower bound's nanos and the last the actual
    * upper bound's (DateSplitter.java:84-105); ONE NULL extremum yields
    * a single one-sided interval plus an IS NULL split (deviating from
    * the reference's Long.MIN_VALUE sentinel, which overflows the
    * splitter arithmetic and renders an unparseable literal);
    * NULL-to-NULL degrades to the single IS NULL split.
    */
  def dateSplitPredicates(col: String, numSplits: Int,
                          minVal: Option[java.sql.Timestamp],
                          maxVal: Option[java.sql.Timestamp],
                          sqlType: Int = java.sql.Types.TIMESTAMP): Seq[String] = {
    def lit(ms: Long, nanos: Option[Int]): String = sqlType match {
      case java.sql.Types.DATE => "'" + new java.sql.Date(ms).toString + "'"
      case java.sql.Types.TIME => "'" + new java.sql.Time(ms).toString + "'"
      case _ =>
        val ts = new java.sql.Timestamp(ms)
        nanos.foreach(ts.setNanos)
        "'" + ts.toString + "'"
    }
    dateSplitPredicatesWith(col, numSplits, minVal, maxVal, lit)
  }

  /** OracleDateSplitter.dateToString (OracleDateSplitter.java:35-41):
    * identical interval arithmetic to [[dateSplitPredicates]], but every
    * boundary renders as an Oracle `TO_TIMESTAMP(...)` literal — the
    * reference notes "Oracle Date objects are always actually
    * Timestamps", so DATE/TIME/TIMESTAMP all take the timestamp form.
    * OracleDataDrivenDBInputFormat.getSplitter routes DATE/TIME/
    * TIMESTAMP here and every other type to the portable splitters
    * unchanged (OracleDataDrivenDBInputFormat.java:63-74) —
    * [[oracleSplitPredicates]] reproduces that routing.
    */
  def oracleDateSplitPredicates(col: String, numSplits: Int,
                                minVal: Option[java.sql.Timestamp],
                                maxVal: Option[java.sql.Timestamp]): Seq[String] =
    dateSplitPredicatesWith(col, numSplits, minVal, maxVal, { (ms, nanos) =>
      val ts = new java.sql.Timestamp(ms)
      nanos.foreach(ts.setNanos)
      s"TO_TIMESTAMP('${ts.toString}', 'YYYY-MM-DD HH24:MI:SS.FF')"
    })

  private def dateSplitPredicatesWith(col: String, numSplits: Int,
                                      minVal: Option[java.sql.Timestamp],
                                      maxVal: Option[java.sql.Timestamp],
                                      lit: (Long, Option[Int]) => String): Seq[String] = {
    val nullSplit = s"( $col IS NULL ) AND ( $col IS NULL )"
    if (minVal.isEmpty && maxVal.isEmpty) return Seq(nullSplit)
    // exactly ONE bound present (unreachable from SQL MIN/MAX, which
    // are null together, but part of the API surface): a one-sided
    // interval — complete, no Long.MinValue sentinel arithmetic (which
    // both overflows the splitter and renders a year-292278994
    // timestamp literal no dialect can parse)
    (minVal, maxVal) match {
      case (Some(lo), None) =>
        val l = lit(lo.getTime, Some(lo.getNanos))
        return Seq(s"( $col >= $l ) AND ( $col >= $l )", nullSplit)
      case (None, Some(hi)) =>
        val h = lit(hi.getTime, Some(hi.getNanos))
        return Seq(s"( $col <= $h ) AND ( $col <= $h )", nullSplit)
      case _ => ()                            // both bounds present below
    }
    val (loTs, hiTs) = (minVal.get, maxVal.get)
    val pts = integerSplitPoints(numSplits, loTs.getTime, hiTs.getTime)
    val b = Seq.newBuilder[String]
    pts.sliding(2).toSeq.zipWithIndex.foreach { case (Seq(s, e), i) =>
      val last = i == pts.size - 2
      val loLit = lit(s, if (i == 0) Some(loTs.getNanos) else None)
      val hiLit = lit(e, if (last) Some(hiTs.getNanos) else None)
      b += (if (last) s"( $col >= $loLit ) AND ( $col <= $hiLit )"
            else s"( $col >= $loLit ) AND ( $col < $hiLit )")
    }
    b.result()
  }

  /** OracleDataDrivenDBInputFormat.getSplitter routing
    * (OracleDataDrivenDBInputFormat.java:63-74): DATE/TIME/TIMESTAMP →
    * the Oracle date splitter; everything else → the portable family.
    * Split predicates for the non-date types are dialect-independent,
    * so this only needs the timestamp bounds lane.
    */
  def oracleSplitPredicates(col: String, numSplits: Int, sqlType: Int,
                            minVal: Option[java.sql.Timestamp],
                            maxVal: Option[java.sql.Timestamp]): Seq[String] =
    sqlType match {
      case java.sql.Types.DATE | java.sql.Types.TIME | java.sql.Types.TIMESTAMP =>
        oracleDateSplitPredicates(col, numSplits, minVal, maxVal)
      case t => throw new IllegalArgumentException(
        s"non-date sqlType $t takes the portable splitter family (dialect-independent)")
    }

  /** OracleDBRecordReader.getSelectQuery's ROWNUM pagination wrapper
    * (OracleDBRecordReader.java:86-93): Oracle has no LIMIT/OFFSET, so a
    * row-range split wraps the inner query in the classic double-nested
    * ROWNUM form. Reproduced verbatim (including the literal
    * `start + length` arithmetic left to the database). The companion
    * connection-tier behaviors are intentionally NOT reproduced here:
    * session-timezone setup (OracleDBRecordReader.setSessionTimeZone
    * reflects into the vendor driver class) and MySQL's unbuffered
    * row-at-a-time streaming (MySQLDataDrivenDBRecordReader.java:44-49
    * sets fetchSize = Integer.MIN_VALUE on a TYPE_FORWARD_ONLY
    * statement) belong to the vendor JDBC driver session; with Spark the
    * equivalents are the `sessionInitStatement` and `fetchsize` reader
    * options.
    */
  def oracleRowRangeQuery(query: String, start: Long, length: Long): String =
    s"SELECT * FROM (SELECT a.*,ROWNUM dbif_rno FROM ( $query ) a " +
      s"WHERE rownum <= $start + $length ) WHERE dbif_rno >= $start"

  /** DataDrivenDBInputFormat over a date/timestamp split column. */
  def readPartitionedDate(spark: SparkSession, url: String, table: String,
                          splitCol: String, numSplits: Int): DataFrame = {
    val conn = connect(url)
    val bounds =
      try {
        val rs = conn.createStatement().executeQuery(
          s"SELECT MIN($splitCol), MAX($splitCol) FROM $table")
        rs.next()
        (Option(rs.getTimestamp(1)), Option(rs.getTimestamp(2)))
      } finally conn.close()
    bounds match {
      case (Some(_), Some(_)) if numSplits > 1 =>
        val preds = dateSplitPredicates(splitCol, numSplits, bounds._1, bounds._2)
        spark.read.jdbc(url, table, preds.toArray, new Properties())
      case _ => spark.read.jdbc(url, table, new Properties())
    }
  }

  /** DataDrivenDBInputFormat over a floating-point split column — the
    * FloatSplitter path (the reference warns about float imprecision
    * and splits anyway; same here).
    */
  def readPartitionedFloat(spark: SparkSession, url: String, table: String,
                           splitCol: String, numSplits: Int): DataFrame = {
    val conn = connect(url)
    val bounds =
      try {
        val rs = conn.createStatement().executeQuery(
          s"SELECT MIN($splitCol), MAX($splitCol) FROM $table")
        rs.next()
        val lo = rs.getDouble(1); val loN = rs.wasNull()
        val hi = rs.getDouble(2); val hiN = rs.wasNull()
        (if (loN) None else Some(lo), if (hiN) None else Some(hi))
      } finally conn.close()
    bounds match {
      case (Some(_), Some(_)) if numSplits > 1 =>
        val preds = floatSplitPredicates(splitCol, numSplits, bounds._1, bounds._2)
        spark.read.jdbc(url, table, preds.toArray, new Properties())
      case _ => spark.read.jdbc(url, table, new Properties())
    }
  }

  /** DBOutputFormat.constructQuery parity (DBOutputFormat.java:135-160). */
  def constructInsertQuery(table: String, fieldNames: Array[String]): String = {
    require(fieldNames != null, "Field names may not be null")
    val cols =
      if (fieldNames.nonEmpty && fieldNames(0) != null)
        fieldNames.mkString(" (", ",", ")")
      else ""
    fieldNames.map(_ => "?").mkString(s"INSERT INTO $table$cols VALUES (", ",", ");")
  }
}
