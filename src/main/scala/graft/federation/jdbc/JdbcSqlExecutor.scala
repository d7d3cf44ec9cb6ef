package graft.federation.jdbc

import java.sql.{Connection, DriverManager, ResultSet, ResultSetMetaData, Types}

import org.apache.spark.TaskContext
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.plans.logical.ColumnStat
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.DateTimeUtils
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.federation.sql.{RemoteTableRef, SqlDialect, SqlExecutor, UnparseUnsupported}

/** A real JDBC remote engine — the executor the reference's whole design
  * exists for (SQLExecutor over a foreign DBMS, src/sql/executor.rs:18-75).
  *
  * A split scan, or a scan under other operators, fetches its rows inside
  * `RDD.compute`, so on a cluster each task opens its own
  * connection/cursor (and split reads —
  * [[graft.federation.sql.SplitScan]] — fan out to one cursor per split).
  * A single-cursor scan at the root of a collected plan, the planning
  * probes and the metadata introspection run on the driver; every cursor,
  * task or driver, opens through [[JdbcSqlExecutor.openCursor]].
  * Row conversion is schema-directed (JDBC getters chosen from the target
  * Catalyst type), mirroring Spark's own JDBC source pattern.
  */
final class JdbcSqlExecutor(
    override val name: String,
    session: SparkSession,
    val url: String,
    override val dialect: SqlDialect,
    override val splitCount: Int = 1,
    connectionProps: Map[String, String] = Map.empty,
    override val statsRowCap: Long = 1000000L)
  extends SqlExecutor {

  // URL identifies the database instance — the mandatory compute context
  // the reference warns about (src/sql/executor.rs:25-29)
  override def computeContext: Option[String] = Some(url)

  private def connect(): Connection =
    JdbcSqlExecutor.connect(url, connectionProps)

  override def execute(sql: String, schema: StructType): RDD[InternalRow] = {
    executedSql.synchronized { executedSql += sql }
    val u = url
    val props = connectionProps
    val fields = schema.fields
    val execName = name
    session.sparkContext.parallelize(Seq(sql), 1).mapPartitions { sqls =>
      sqls.flatMap { q =>
        val (rows, cursor) =
          JdbcSqlExecutor.openCursor(u, props, q, fields, execName)
        Option(TaskContext.get()).foreach(_.addTaskCompletionListener[Unit] {
          _ => cursor.close()
        })
        rows
      }
    }
  }

  override def tableNames: Seq[String] = {
    val conn = connect()
    try {
      val rs = conn.getMetaData.getTables(null, null, "%", Array("TABLE"))
      val names = scala.collection.mutable.ArrayBuffer.empty[String]
      while (rs.next()) names += rs.getString("TABLE_NAME")
      // transient staging artifacts (bind/write staging) never enumerate:
      // they can be async-dropped between listing and the schema probe
      names.toSeq.filterNot(SqlExecutor.isStagingArtifact).sorted
    } finally conn.close()
  }

  /** Zero-row probe; metadata-only (the reference's `SELECT * LIMIT 1`
    * introspection, examples/shared/mod.rs:74-79, without moving a row). */
  override def tableSchema(ref: RemoteTableRef): StructType = {
    val conn = connect()
    try {
      val rs = conn.createStatement()
        .executeQuery(s"SELECT * FROM ${ref.sql(dialect)} WHERE 1=0")
      JdbcSqlExecutor.schemaOf(rs.getMetaData)
    } finally conn.close()
  }

  /** Named-schema listing through JDBC metadata — backs
    * `SHOW TABLES IN <catalog>.<schema>`. The schema argument of
    * `getTables` is a PATTERN ('_'/'%' are wildcards — MY_SCHEMA would
    * also match MYXSCHEMA): escape metacharacters with the driver's own
    * escape string, and belt-and-braces post-filter rows by exact
    * TABLE_SCHEM equality for drivers whose escape handling is spotty. */
  override def tableNames(schema: String): Seq[String] = {
    val conn = connect()
    try {
      val md = conn.getMetaData
      val esc = Option(md.getSearchStringEscape).filter(_.nonEmpty)
      val pattern = esc match {
        case Some(e) => schema
          .replace(e, e + e).replace("_", e + "_").replace("%", e + "%")
        case None => schema
      }
      val rs = md.getTables(null, pattern, "%", Array("TABLE"))
      val names = scala.collection.mutable.ArrayBuffer.empty[String]
      while (rs.next())
        if (rs.getString("TABLE_SCHEM") == schema)
          names += rs.getString("TABLE_NAME")
      names.toSeq.filterNot(SqlExecutor.isStagingArtifact).sorted
    } finally conn.close()
  }

  override def schemaNames: Seq[String] = {
    val conn = connect()
    try {
      val rs = conn.getMetaData.getSchemas()
      val names = scala.collection.mutable.ArrayBuffer.empty[String]
      while (rs.next()) names += rs.getString("TABLE_SCHEM")
      names.toSeq.sorted
    } finally conn.close()
  }

  override def queryRows[A](sql: String, schema: StructType)(
      consume: Iterator[InternalRow] => A): A = {
    val (rows, cursor) = JdbcSqlExecutor.openCursor(url, connectionProps,
      sql, schema.fields, name)
    try consume(rows) finally cursor.close()
  }

  /** SQLState class 08 is a connection exception: the connection died
    * under the read, not the statement. */
  override def lostCursor(e: Throwable): Boolean =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null).exists {
      case s: java.sql.SQLException =>
        Option(s.getSQLState).exists(_.startsWith("08"))
      case _ => false
    }

  /** Bounded per-column probes for CBO: one query per column (Derby
    * permits a single DISTINCT aggregate per query — probed), each over
    * the same [[statsRowCap]]-bounded sample as the row probe. Numeric /
    * temporal / decimal columns report ndv + nulls + min/max (read back
    * through the same schema-directed conversion as scan rows, so the
    * values land in Catalyst's internal representation); strings report
    * ndv + nulls + length stats (no cross-engine collation in min/max).
    * At the row cap only integral columns report, and only their sample
    * ndv. */
  override protected def probeColumnStatistics(ref: RemoteTableRef,
      rows: Option[BigInt]): Map[String, ColumnStat] = {
    val schema = tableSchema(ref)
    val sample = s"(SELECT * FROM ${ref.sql(dialect)}" +
      s"${dialect.limitClause(Some(statsRowCap), None)}) cs_sample"
    rows match {
      case None =>
        schema.fields.filter(f => f.dataType match {
          case ByteType | ShortType | IntegerType | LongType => true
          case _ => false
        }).map { f =>
          val ndv = queryRow(s"SELECT COUNT(DISTINCT " +
            s"${dialect.quoteIfNeeded(f.name)}) FROM $sample",
            SqlExecutor.longs(1)).getLong(0)
          f.name -> ColumnStat(distinctCount = Some(BigInt(ndv)))
        }.toMap
      case Some(n) =>
        schema.fields.flatMap(f => colStat(sample, f, n).map(f.name -> _))
          .toMap
    }
  }

  private def colStat(sample: String, f: StructField,
      rows: BigInt): Option[ColumnStat] = {
    val q = dialect.quoteIfNeeded(f.name)
    f.dataType match {
      case StringType =>
        val r = queryRow(
          s"SELECT COUNT(DISTINCT $q), COUNT($q), MAX(LENGTH($q)), " +
            s"SUM(LENGTH($q)) FROM $sample", SqlExecutor.longs(4))
        val nonNull = r.getLong(1)
        Some(ColumnStat(
          distinctCount = Some(BigInt(r.getLong(0))),
          nullCount = Some(rows - nonNull),
          avgLen = if (nonNull > 0) Some(r.getLong(3) / nonNull) else None,
          maxLen = Some(r.getLong(2))))
      case ByteType | ShortType | IntegerType | LongType | FloatType |
           DoubleType | DateType | TimestampNTZType | TimestampType |
           _: DecimalType =>
        val r = queryRow(
          s"SELECT COUNT(DISTINCT $q), COUNT($q), MIN($q), MAX($q) " +
            s"FROM $sample",
          StructType(SqlExecutor.longs(2).fields ++ Seq(f, f)))
        Some(ColumnStat(
          distinctCount = Some(BigInt(r.getLong(0))),
          min = Option(r.get(2, f.dataType)),
          max = Option(r.get(3, f.dataType)),
          nullCount = Some(rows - r.getLong(1)),
          avgLen = Some(f.dataType.defaultSize.toLong),
          maxLen = Some(f.dataType.defaultSize.toLong)))
      case _ => None
    }
  }

  /** Quantile boundaries for range splits: `n-1` ORDER BY/OFFSET point
    * reads over a BOUNDED prefix sample of the fragment ([[statsRowCap]]
    * rows — the same planning-cost contract as the stats probe; on an
    * indexed split column each read is an index walk). Exact quantiles
    * whenever the fragment fits the cap; a biased-but-bounded sample
    * beyond it — and a WRONG boundary only unbalances cursors, never
    * rows (the range filters stay disjoint + exhaustive regardless). */
  override protected def probeSplitBoundaries(fromSql: String, col: String,
      n: Int): Option[Seq[Long]] = {
    val sample = s"(SELECT $col AS sk FROM ($fromSql) bnd_src " +
      s"WHERE $col IS NOT NULL" +
      s"${dialect.limitClause(Some(statsRowCap), None)}) bnd_sample"
    val cnt = queryRow(s"SELECT COUNT(*) FROM $sample", SqlExecutor.longs(1))
      .getLong(0)
    if (cnt < n.toLong * 8) None // too small to be worth cursors
    else {
      val bounds = (1 until n).map { i =>
        queryRow(s"SELECT sk FROM $sample ORDER BY sk" +
          dialect.limitClause(Some(1L), Some(i * cnt / n)),
          SqlExecutor.longs(1)).getLong(0)
      }.distinct.sorted
      if (bounds.isEmpty) None else Some(bounds)
    }
  }

  /** Distributed append into an existing remote table (reference
    * `insert_into` fallback, src/table_provider.rs:110-139), made
    * RETRY-IDEMPOTENT for cluster execution: each partition task writes
    * its rows into a per-partition STAGING table (`t__stg_<writeId>_<pid>`,
    * drop-recreate on entry, ONE commit at the end), then the driver
    * publishes every staging table into the target in ONE transaction and
    * drops them. A Spark task retry — routine at 100 TB — re-creates its
    * own staging table from scratch, so a half-written or even fully
    * committed earlier attempt contributes nothing; rows reach the target
    * exactly once per partition. (The pre-r9 protocol committed batched
    * INSERTs straight into the target mid-task; a retry duplicated every
    * committed row of that partition.) N tasks still write in parallel —
    * the driver funnel is only the O(1)-per-partition publish statement. */
  override protected def ingest(ref: RemoteTableRef,
      df: org.apache.spark.sql.DataFrame, epoch: Option[Long]): Unit = {
    val schema = targetSchema(ref, df)
    val stgPrefix = JdbcSqlExecutor.stagePrefix(ref.parts.last)
    val u = url
    val props = connectionProps
    val fields = schema.fields
    df.foreachPartition { (rows: Iterator[org.apache.spark.sql.Row]) =>
      if (rows.hasNext) {
        val pid = org.apache.spark.TaskContext.getPartitionId()
        JdbcSqlExecutor.stagePartition(u, props, s"$stgPrefix$pid",
          fields, rows)
      }
    }
    publishStaged(ref, stgPrefix, epoch)
  }

  /** Driver-side atomic publish: every staging table of this write lands
    * in the target (and the epoch fence, when present) in ONE
    * transaction, then the staging tables drop. A crash mid-publish
    * rolls back — the target never sees a partial write. */
  private def publishStaged(ref: RemoteTableRef, stgPrefix: String,
      epoch: Option[Long]): Unit = {
    val conn = connect()
    try {
      conn.setAutoCommit(false)
      // '_' is a single-char wildcard in JDBC metadata patterns; unescaped,
      // a write whose counter is a decimal prefix of another's (…_stg_<t>1_
      // vs …_stg_<t>15_) could match — and publish/drop — the other write's
      // staging tables mid-flight. Escape every metacharacter in the prefix.
      val esc = conn.getMetaData.getSearchStringEscape
      val escaped = stgPrefix
        .replace(esc, esc + esc)
        .replace("_", esc + "_")
        .replace("%", esc + "%")
      val rs = conn.getMetaData.getTables(null, null, s"$escaped%",
        Array("TABLE"))
      val stgs = scala.collection.mutable.ArrayBuffer.empty[String]
      while (rs.next()) stgs += rs.getString("TABLE_NAME")
      val st = conn.createStatement()
      stgs.sorted.foreach { s =>
        val publish =
          s"INSERT INTO ${ref.sql(dialect)} SELECT * FROM ${dialect.quote(s)}"
        dmlLog.synchronized { dmlLog += publish }
        st.executeUpdate(publish)
        st.executeUpdate(s"DROP TABLE ${dialect.quote(s)}")
      }
      epoch.foreach { id =>
        val fenceSql = s"INSERT INTO ${epochTableRef(ref).sql(dialect)} " +
          s"VALUES ($id)"
        dmlLog.synchronized { dmlLog += fenceSql }
        st.executeUpdate(fenceSql)
      }
      st.close()
      conn.commit()
    } catch {
      case e: Throwable =>
        try conn.rollback() catch { case _: java.sql.SQLException => () }
        throw e
    } finally conn.close()
  }

  /** Same-engine INSERT INTO … (SELECT …): one statement, executed where
    * the data lives. The remote engine both produces and consumes the
    * rows — the wire carries only the statement text and an update count,
    * while [[insertInto]] would stream every row out of the engine and
    * batch it straight back in. */
  override def insertFromQuery(ref: RemoteTableRef,
      selectSql: String): Boolean = {
    val sql = s"INSERT INTO ${ref.sql(dialect)} $selectSql"
    dmlLog.synchronized { dmlLog += sql }
    val conn = connect()
    try {
      val st = conn.createStatement()
      st.executeUpdate(sql)
      st.close()
    } finally conn.close()
    true
  }

  /** Predicate DELETE, executed where the data lives: one statement, an
    * update count back — no row ever crosses the wire. The statement is
    * recorded in [[dmlLog]] so tests can assert no row stream was built. */
  override def deleteWhere(ref: RemoteTableRef, whereSql: String): Long =
    runDml(s"DELETE FROM ${ref.sql(dialect)} WHERE $whereSql")

  /** Predicate UPDATE — same one-statement contract as [[deleteWhere]]. */
  override def updateWhere(ref: RemoteTableRef, setSql: String,
      whereSql: String): Long =
    runDml(s"UPDATE ${ref.sql(dialect)} SET $setSql WHERE $whereSql")

  override def supportsBindStaging: Boolean = true

  override def vacuumStaging(olderThanMillis: Long,
      includeBindTables: Boolean): Seq[String] = {
    val all = {
      val conn = connect()
      try {
        val rs = conn.getMetaData.getTables(null, null, "%", Array("TABLE"))
        val names = scala.collection.mutable.ArrayBuffer.empty[String]
        while (rs.next()) names += rs.getString("TABLE_NAME")
        names.toSeq
      } finally conn.close()
    }
    val victims = SqlExecutor.vacuumCandidates(all,
      System.currentTimeMillis(), olderThanMillis, includeBindTables)
    victims.foreach(v => dropTable(RemoteTableRef(Seq(v))))
    victims
  }

  override def dropTable(ref: RemoteTableRef): Unit = {
    val conn = connect()
    try {
      val st = conn.createStatement()
      val sql = s"DROP TABLE ${ref.sql(dialect)}"
      dmlLog.synchronized { dmlLog += sql }
      try st.executeUpdate(sql)
      catch { case e: java.sql.SQLException
        if e.getSQLState == "42Y55" => () } // already gone: idempotent
      st.close()
    } finally conn.close()
    forget(ref)
  }

  /** DDL: create the table, replacing any prior incarnation (DROP is
    * attempted first and its table-not-found failure ignored — Derby has
    * no IF EXISTS). Types map Spark → Derby; strings get a generous
    * VARCHAR since the source frame carries no length bound. */
  override def createTable(ref: RemoteTableRef,
      schema: StructType): Unit = {
    def ddl(dt: DataType): String = dt match {
      case ByteType | ShortType => "SMALLINT"
      case IntegerType => "INTEGER"
      case LongType => "BIGINT"
      case FloatType => "REAL"
      case DoubleType => "DOUBLE"
      case BooleanType => "BOOLEAN"
      case DateType => "DATE"
      case TimestampNTZType | TimestampType => "TIMESTAMP"
      case d: DecimalType => s"DECIMAL(${d.precision},${d.scale})"
      case StringType => "VARCHAR(4000)"
      case other => throw new UnparseUnsupported(
        s"no Derby DDL type for $other")
    }
    val cols = schema.fields
      .map(f => s"${dialect.quoteIfNeeded(f.name)} ${ddl(f.dataType)}")
      .mkString(", ")
    val conn = connect()
    try {
      val st = conn.createStatement()
      try st.executeUpdate(s"DROP TABLE ${ref.sql(dialect)}")
      catch { case e: java.sql.SQLException
        if e.getSQLState == "42Y55" => () } // table did not exist
      val sql = s"CREATE TABLE ${ref.sql(dialect)} ($cols)"
      dmlLog.synchronized { dmlLog += sql }
      st.executeUpdate(sql)
      st.close()
    } finally conn.close()
    forget(ref)
  }

  private def runDml(sql: String): Long = {
    dmlLog.synchronized { dmlLog += sql }
    val conn = connect()
    try {
      val st = conn.createStatement()
      val n = st.executeUpdate(sql).toLong
      st.close()
      n
    } finally conn.close()
  }
}

object JdbcSqlExecutor {

  private val writeCounter = new java.util.concurrent.atomic.AtomicLong()

  /** Unique-per-write staging-table prefix: time + a JVM-wide counter —
    * two concurrent writes to one target never share staging tables. */
  def stagePrefix(table: String): String =
    s"${table}__stg_${java.lang.Long.toHexString(System.currentTimeMillis())}" +
      s"${writeCounter.incrementAndGet()}_"

  /** Derby DDL type for a staging column (mirror of the executor's
    * createTable mapping; strings get the engine-max VARCHAR since a
    * staging table never outlives the write). */
  private def stageDdlType(dt: DataType): String = dt match {
    case ByteType | ShortType => "SMALLINT"
    case IntegerType => "INTEGER"
    case LongType => "BIGINT"
    case FloatType => "REAL"
    case DoubleType => "DOUBLE"
    case BooleanType => "BOOLEAN"
    case DateType => "DATE"
    case TimestampNTZType | TimestampType => "TIMESTAMP"
    case d: DecimalType => s"DECIMAL(${d.precision},${d.scale})"
    case StringType => "VARCHAR(32672)"
    case other =>
      throw new UnsupportedOperationException(s"no staging DDL for $other")
  }

  /** One task attempt's staging write: DROP any previous attempt's table,
    * CREATE fresh, batched INSERTs, ONE commit at the very end — so this
    * attempt's rows become visible all-or-nothing, and a retry (this
    * method running again for the same staging name) replaces rather than
    * appends. Runs inside the task (`foreachPartition`); also invoked
    * directly by the retry-simulation spec. */
  def stagePartition(url: String, props: Map[String, String], stg: String,
      fields: Array[StructField],
      rows: Iterator[org.apache.spark.sql.Row]): Unit = {
    val conn = connect(url, props)
    try {
      conn.setAutoCommit(false)
      val st = conn.createStatement()
      try st.executeUpdate(s"""DROP TABLE "$stg"""")
      catch { case e: java.sql.SQLException
        if e.getSQLState == "42Y55" => () } // no previous attempt
      val cols = fields
        .map(f => s""""${f.name}" ${stageDdlType(f.dataType)}""")
        .mkString(", ")
      st.executeUpdate(s"""CREATE TABLE "$stg" ($cols)""")
      st.close()
      val ps = conn.prepareStatement(
        s"""INSERT INTO "$stg" VALUES (${fields.map(_ => "?").mkString(", ")})""")
      var pending = 0
      rows.foreach { row =>
        bindRow(ps, row, fields)
        ps.addBatch()
        pending += 1
        if (pending >= 1000) { ps.executeBatch(); pending = 0 }
      }
      if (pending > 0) ps.executeBatch()
      ps.close()
      conn.commit() // the ONLY commit: DDL + rows land atomically
    } catch {
      case e: Throwable =>
        try conn.rollback() catch { case _: java.sql.SQLException => () }
        throw e
    } finally conn.close()
  }

  def schemaOf(md: ResultSetMetaData): StructType =
    StructType((1 to md.getColumnCount).map { i =>
      val dt = md.getColumnType(i) match {
        case Types.TINYINT => ByteType
        case Types.SMALLINT => ShortType
        case Types.INTEGER => IntegerType
        case Types.BIGINT => LongType
        case Types.REAL => FloatType
        case Types.FLOAT | Types.DOUBLE => DoubleType
        case Types.DECIMAL | Types.NUMERIC =>
          DecimalType(md.getPrecision(i), md.getScale(i))
        case Types.BOOLEAN | Types.BIT => BooleanType
        case Types.DATE => DateType
        case Types.TIMESTAMP => TimestampNTZType
        case Types.CHAR | Types.VARCHAR | Types.LONGVARCHAR | Types.CLOB =>
          StringType
        case other =>
          throw new UnsupportedOperationException(s"JDBC type $other")
      }
      StructField(md.getColumnName(i), dt,
        md.isNullable(i) != ResultSetMetaData.columnNoNulls)
    })

  /** Schema-directed parameter binding — the write-side mirror of
    * [[convertRow]]. */
  def bindRow(ps: java.sql.PreparedStatement, row: org.apache.spark.sql.Row,
      fields: Array[StructField]): Unit = {
    var i = 0
    while (i < fields.length) {
      val j = i + 1
      if (row.isNullAt(i)) ps.setNull(j, jdbcTypeOf(fields(i).dataType))
      else fields(i).dataType match {
        case ByteType => ps.setByte(j, row.getAs[Byte](i))
        case ShortType => ps.setShort(j, row.getAs[Short](i))
        case IntegerType => ps.setInt(j, row.getAs[Int](i))
        case LongType => ps.setLong(j, row.getAs[Long](i))
        case FloatType => ps.setFloat(j, row.getAs[Float](i))
        case DoubleType => ps.setDouble(j, row.getAs[Double](i))
        case BooleanType => ps.setBoolean(j, row.getAs[Boolean](i))
        case StringType => ps.setString(j, row.getAs[Any](i).toString)
        case _: DecimalType =>
          ps.setBigDecimal(j, row.getAs[java.math.BigDecimal](i))
        // external datetime types depend on spark.sql.datetime.java8API —
        // accept both representations
        case DateType => row.get(i) match {
          case d: java.time.LocalDate => ps.setDate(j, java.sql.Date.valueOf(d))
          case d: java.sql.Date => ps.setDate(j, d)
          case other => throw new UnsupportedOperationException(
            s"date value ${other.getClass}")
        }
        case TimestampNTZType => ps.setTimestamp(j,
          java.sql.Timestamp.valueOf(row.getAs[java.time.LocalDateTime](i)))
        case TimestampType => row.get(i) match {
          case t: java.time.Instant => ps.setTimestamp(j, java.sql.Timestamp.from(t))
          case t: java.sql.Timestamp => ps.setTimestamp(j, t)
          case other => throw new UnsupportedOperationException(
            s"timestamp value ${other.getClass}")
        }
        case other =>
          throw new UnsupportedOperationException(s"JDBC write of $other")
      }
      i += 1
    }
  }

  private def jdbcTypeOf(dt: DataType): Int = dt match {
    case ByteType => Types.TINYINT
    case ShortType => Types.SMALLINT
    case IntegerType => Types.INTEGER
    case LongType => Types.BIGINT
    case FloatType => Types.REAL
    case DoubleType => Types.DOUBLE
    case BooleanType => Types.BOOLEAN
    case StringType => Types.VARCHAR
    case _: DecimalType => Types.DECIMAL
    case DateType => Types.DATE
    case TimestampType | TimestampNTZType => Types.TIMESTAMP
    case other =>
      throw new UnsupportedOperationException(s"JDBC null type for $other")
  }

  /** A connection to `url` with `props` as its connection properties. */
  def connect(url: String, props: Map[String, String]): Connection = {
    val p = new java.util.Properties()
    props.foreach { case (k, v) => p.setProperty(k, v) }
    DriverManager.getConnection(url, p)
  }

  /** One remote cursor: `sql` on a fresh connection, its rows decoded
    * with [[convertRow]] after the drift check, and the handle that closes
    * statement and connection. The task read and the driver read share
    * it. The registered schema directs the decode, so a remote retype to
    * text would otherwise corrupt silently (getInt-on-VARCHAR semantics
    * vary by driver): the live result metadata is checked first. A killed
    * task, or an interrupted caller off a task, interrupts the thread
    * running the statement: the ONLY prompt cancel embedded Derby
    * supports (probed live: Statement.cancel unimplemented, cross-thread
    * conn.close() lets the query run to completion, a thread interrupt
    * aborts it in milliseconds). A failure while opening closes
    * everything before it propagates. */
  def openCursor(url: String, props: Map[String, String], sql: String,
      fields: Array[StructField],
      execName: String): (Iterator[InternalRow], AutoCloseable) = {
    val conn = connect(url, props)
    val stmt =
      try conn.createStatement()
      catch { case e: Throwable => conn.close(); throw e }
    val thread = Thread.currentThread()
    val watch = graft.federation.sql.RemoteCancel.watch(() => thread.interrupt())
    val cursor: AutoCloseable = () =>
      try watch.close() finally try stmt.close() finally conn.close()
    try {
      val rs = stmt.executeQuery(sql)
      val md = rs.getMetaData
      graft.federation.sql.SchemaDrift.check(fields.toIndexedSeq,
        (1 to md.getColumnCount).map(i => (md.getColumnTypeName(i),
          graft.federation.sql.SchemaDrift.jdbcFamily(md.getColumnType(i)))),
        execName, sql)
      val rows = new Iterator[InternalRow] {
        private var ready = false
        private var done = false
        override def hasNext: Boolean = {
          if (!ready && !done) { done = !rs.next(); ready = !done }
          ready
        }
        override def next(): InternalRow = {
          if (!hasNext) throw new NoSuchElementException
          ready = false
          convertRow(rs, fields)
        }
      }
      (rows, cursor)
    } catch { case e: Throwable => cursor.close(); throw e }
  }

  def convertRow(rs: ResultSet, fields: Array[StructField]): InternalRow = {
    val row = new GenericInternalRow(fields.length)
    var i = 0
    while (i < fields.length) {
      val j = i + 1
      val v: Any = fields(i).dataType match {
        case ByteType => rs.getByte(j)
        case ShortType => rs.getShort(j)
        case IntegerType => rs.getInt(j)
        case LongType => rs.getLong(j)
        case FloatType => rs.getFloat(j)
        case DoubleType => rs.getDouble(j)
        case BooleanType => rs.getBoolean(j)
        case StringType => UTF8String.fromString(rs.getString(j))
        case d: DecimalType =>
          val bd = rs.getBigDecimal(j)
          if (bd == null) null else Decimal(bd, d.precision, d.scale)
        case DateType =>
          val d = rs.getDate(j)
          if (d == null) null else DateTimeUtils.fromJavaDate(d)
        case TimestampNTZType =>
          // NTZ keeps the remote wall clock — no JVM-zone reinterpretation
          val t = rs.getTimestamp(j)
          if (t == null) null
          else DateTimeUtils.localDateTimeToMicros(t.toLocalDateTime)
        case TimestampType =>
          val t = rs.getTimestamp(j)
          if (t == null) null else DateTimeUtils.fromJavaTimestamp(t)
        case other =>
          throw new UnsupportedOperationException(s"JDBC read of $other")
      }
      row(i) = if (rs.wasNull()) null else v
      i += 1
    }
    row
  }
}

/** Apache Derby dialect: FETCH-style limits, no aggregate FILTER clause,
  * no regexp predicate; unquoted identifiers fold to upper case, so
  * metadata-derived (upper-case) names round-trip quoted. */
object DerbyDialect extends SqlDialect {
  override val name = "derby"
  override def quote(ident: String): String =
    "\"" + ident.replace("\"", "\"\"") + "\""
  // unquoted identifiers fold to upper case on lookup, so an unquoted
  // emission of a metadata-derived name only matches by accident — quote
  // everything
  override def quoteIfNeeded(ident: String): String = quote(ident)
  override def supportsFilterClause: Boolean = false
  override def regexpMatch(input: String, pattern: String): String =
    throw new UnparseUnsupported("derby has no regexp predicate")
  // no % operator — SQL-standard MOD function only. A zero divisor of
  // `/` or MOD raises 22012 on DOUBLE, DECIMAL, BIGINT and INTEGER
  // (probed on Derby 10.16), so the default divisionByZeroRaises holds
  override def modulo(left: String, right: String): String =
    s"MOD($left, $right)"
  // probed against embedded Derby 10.16 (see UnparserSpec drift test):
  // SUBSTR not SUBSTRING; no ROUND/POWER/GREATEST/LEAST/QUARTER at all —
  // refusal keeps those expressions local instead of shipping SQL Derby
  // rejects at runtime
  override def functionName(sparkName: String): String = sparkName match {
    case "substring" => "SUBSTR" // (reached via substringSql's emulation)
    case "round" | "power" | "greatest" | "least" | "quarter" =>
      throw new UnparseUnsupported(s"derby has no $sparkName function")
    case other => other
  }
  // CONCAT is not a Derby function; only the || operator exists
  override def concat(args: Seq[String]): String =
    args.mkString("(", " || ", ")")
  // Derby AVG keeps the input type: AVG(INT) is integer division,
  // AVG(DECIMAL(p,s)) truncates the mean at scale s (probed live on
  // embedded Derby 10.16) — Spark widens both, so only float/double
  // averages may push down
  override def avgSafe(dt: DataType): Boolean = dt match {
    case DoubleType | FloatType => true
    case _ => false
  }
  // SUM(INT) stays INTEGER on Derby and overflows where Spark widens
  override def sumIntegralNeedsWidening: Boolean = true
  // Derby CAST truncates toward zero when narrowing to a decimal scale
  // (probed: 1.9999995→1.999999, 2.5→2); Spark rounds HALF_UP (away from
  // zero). Emulation: truncate with ONE guard digit — the round-up
  // decision depends only on the digit at scale s+1 of the (identical
  // IEEE) source value — nudge by ±5·10^-(s+1), truncate to s. Matches
  // Spark bit-for-bit for every double, both signs.
  // Derby SUBSTR raises "out of range" where Spark clamps: start past the
  // end (including any start on ''), or length past the remainder. The
  // emulation only calls SUBSTR with arguments proven in range; NULL input
  // passes through SUBSTR(x, 1), the one always-legal form on NULL.
  override def substringStrictRange: Boolean = true
  override def substringSql(str: String, pos: Int, len: Int): String =
    if (len == 0)
      s"(CASE WHEN $str IS NULL THEN SUBSTR($str, 1) ELSE '' END)"
    else
      s"(CASE WHEN $str IS NULL THEN SUBSTR($str, 1) " +
        s"WHEN LENGTH($str) >= $pos THEN SUBSTR($str, $pos, " +
        s"CASE WHEN LENGTH($str) - $pos + 1 < $len " +
        s"THEN LENGTH($str) - $pos + 1 ELSE $len END) " +
        s"ELSE '' END)"
  // no IS NOT DISTINCT FROM (probed); CASE form is exact in all contexts
  // (WHERE and projection). NOT COALESCE(bool, FALSE): Derby 10.16's
  // generated expression code hits NoSuchMethodError
  // DataValueDescriptor.equals(boolean) evaluating that shape inside
  // (NOT) EXISTS under a join — probed live, fuzz seed 777 query #16.
  // operand parens match the base dialect's: a predicate-typed operand
  // must not chain with `=` / `IS NULL` (r13 fuzz, seed 4242)
  override def nullSafeEq(l: String, r: String): String =
    s"(CASE WHEN (($l) = ($r)) OR (($l) IS NULL AND ($r) IS NULL) " +
      "THEN TRUE ELSE FALSE END)"
  // Derby only parses ROW_NUMBER() OVER () — no PARTITION BY/ORDER BY
  override def supportsWindowFunctions: Boolean = false
  // no grouping analytics at all: GROUP BY GROUPING SETS raises
  // 'Encountered "SETS"' (caught live by the ROLLUP fuzz case)
  override def supportsGroupingSets: Boolean = false
  // CAST to DECIMAL truncates on Derby (probed live) for DECIMAL and
  // DOUBLE sources alike; 31 is its max decimal precision
  override def lossyDecimalCast(x: String, from: DataType, to: DecimalType,
      nullOnOverflow: Boolean): String =
    nudgeThenTruncate(x, to, 31, nullOnOverflow)
  // Derby has no ANSI keyword literals TIMESTAMP '...' / DATE '...' —
  // only the function forms TIMESTAMP('...') / DATE('...'). And its
  // parser rejects a bare NULL in almost every expression position
  // (probed live: `x IS NOT NULL OR NULL`, `1 < NULL`, `COALESCE(NULL,
  // 5)`, `1 + NULL` are all syntax errors; only CASE ... THEN NULL
  // parses) — found by fuzz seed 31337 when Catalyst folded
  // `int_col <> 0.05` into `IsNotNull(col) OR null`. Every typed null
  // literal renders as CAST(NULL AS <type>), which parses in all probed
  // positions with standard three-valued semantics.
  override def literal(value: Any, dataType: DataType): String =
    if (value == null) s"CAST(NULL AS ${typeName(dataType)})"
    else {
      val ansi = super.literal(value, dataType)
      dataType match {
        case TimestampType | TimestampNTZType =>
          s"TIMESTAMP(${ansi.stripPrefix("TIMESTAMP ")})"
        case DateType => s"DATE(${ansi.stripPrefix("DATE ")})"
        case _ => ansi
      }
    }
  override def limitClause(limit: Option[Long], offset: Option[Long]): String =
    (limit, offset) match {
      case (Some(l), Some(o)) => s" OFFSET $o ROWS FETCH NEXT $l ROWS ONLY"
      case (Some(l), None) => s" FETCH FIRST $l ROWS ONLY"
      case (None, Some(o)) => s" OFFSET $o ROWS"
      case (None, None) => ""
    }
  // Derby VARCHAR requires an explicit length in CAST targets (bare
  // `CAST(x AS VARCHAR)` is a syntax error); 32672 is the engine maximum
  override def typeName(dt: DataType): String = dt match {
    case StringType => "VARCHAR(32672)"
    case other => super.typeName(other)
  }
  // bare string literals in a VALUES row are typed CHAR (fixed-width,
  // blank-padded — probed live: GROUP BY over a VALUES dim returned
  // 'ENG  '); force a varying type sized to the value
  override def valuesCell(v: Any, dt: DataType): String = dt match {
    case StringType if v != null =>
      s"CAST(${literal(v, dt)} AS VARCHAR(${math.max(1, v.toString.length)}))"
    case _ => super.valuesCell(v, dt)
  }
  override def dateDiffDays(end: String, start: String): String =
    s"{fn TIMESTAMPDIFF(SQL_TSI_DAY, $start, $end)}"
  // recursive-descent VALUES parsing: 500 rows parse, 1000 rows
  // StackOverflowError that kills the connection (probed live on embedded
  // 10.16) — chunk at 400
  override def maxInlineValuesRows: Int = 400
  // EXECUTION cost probe (r10, 200k-row fact): an inline VALUES join is
  // a nested loop over a per-probe-re-evaluated UnionResultSet chain —
  // 25 keys 2.3s, 100 keys 15s, 400 keys 219s, 800 keys 336s. Past 64
  // rows the build ships as a staged table instead (CREATE + batched
  // INSERT + real join: 20k keys in 0.5s total), which also lifts the
  // old 2000-row planning refusal — the staged path scales, so the
  // planner may admit builds up to the byte cap.
  override def bindStageRows: Int = 64
  override def maxBindRows: Int = 65536
}
