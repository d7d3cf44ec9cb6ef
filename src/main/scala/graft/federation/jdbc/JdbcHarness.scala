package graft.federation.jdbc

import java.sql.DriverManager

import scala.collection.concurrent.TrieMap

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types._

import graft.federation.FederationHarness

/** Gate/test harness for the REAL JDBC path: loads TPC-H tables from the
  * driver's parquet testdata into an embedded in-memory Derby database and
  * registers them as `jdbc_*` remote views. The federation pipeline then
  * ships actual Derby SQL over an actual JDBC connection — the production
  * analog of the mock [[graft.federation.sql.SparkSqlExecutor]].
  *
  * The executor is split-capable (`splitCount` = 4): scan-shaped fragments
  * fan out to four parallel Derby cursors via
  * [[graft.federation.sql.SplitScan]] modulo predicates, the shape a
  * production executor uses against a sharded/partition-indexed remote.
  *
  * Tables are created with quoted lower-case identifiers so names
  * round-trip Derby's unquoted-to-uppercase folding unchanged. VARCHAR
  * widths are derived from the data being loaded (widest value, with
  * headroom), not a fixed guess a longer column would overflow.
  */
object JdbcHarness {

  /** Full-schema gate set: the q1/q3 fact tables included. Loading happens
    * once per (session, dir) and counts as catalog bootstrap, not query
    * cost (rows transit the driver — fine for a test harness; production
    * would bulk-load out of band). */
  val GateTables: Seq[String] =
    Seq("supplier", "nation", "customer", "orders", "lineitem")

  val Splits = 4

  private val loaded = TrieMap.empty[(Int, String), JdbcSqlExecutor]

  /** Load `tables` for `dir` into a per-(session, dir) Derby database;
    * idempotent. */
  def executor(spark: SparkSession, dir: String,
      tables: Seq[String] = GateTables): JdbcSqlExecutor =
    load(spark, dir, tables, suffix = "")

  /** A SECOND embedded Derby instance (different `jdbc:derby:` URL, same
    * dialect) — the distinct-compute-context case the reference warns
    * about (src/sql/executor.rs:25-29): same engine KIND is not same
    * engine INSTANCE, and fragments of the two must never merge. Loads a
    * small dimension subset; registered as `jdbc2_*`. */
  def executorB(spark: SparkSession, dir: String,
      tables: Seq[String] = Seq("nation", "region")): JdbcSqlExecutor =
    load(spark, dir, tables, suffix = "_b")

  private def load(spark: SparkSession, dir: String,
      tables: Seq[String], suffix: String): JdbcSqlExecutor =
    loaded.getOrElseUpdate((graft.SessionCache.id(spark), dir + suffix), {
      val db = s"graft_${Math.abs(dir.hashCode)}_${graft.SessionCache.id(spark)}$suffix"
      val url = s"jdbc:derby:memory:$db;create=true"
      val conn = DriverManager.getConnection(url)
      try {
        conn.setAutoCommit(false) // one commit per batch, not per row
        tables.foreach { t =>
          val df = spark.read.parquet(s"$dir/$t.parquet")
          // measured VARCHAR widths (widest actual value + headroom) via a
          // distributed aggregate — don't collect() a fact table onto the
          // driver just to measure it
          val strFields = df.schema.fields.filter(_.dataType == StringType)
          val widthByName: Map[String, Int] =
            if (strFields.isEmpty) Map.empty
            else {
              import org.apache.spark.sql.functions.{coalesce, length, lit, max}
              val row = df.agg(
                max(coalesce(length(df.col(strFields.head.name)), lit(0))),
                strFields.tail.map(f =>
                  max(coalesce(length(df.col(f.name)), lit(0)))): _*).head()
              strFields.zipWithIndex.map { case (f, i) =>
                f.name -> math.max(32, (if (row.isNullAt(i)) 0
                  else row.getInt(i)) * 2)
              }.toMap
            }
          val widths = df.schema.fields.map(f =>
            widthByName.getOrElse(f.name, 0))
          val cols = df.schema.fields.zipWithIndex.map { case (f, i) =>
            s""""${f.name}" ${derbyType(f.dataType, widths(i))}"""
          }.mkString(", ")
          val st = conn.createStatement()
          st.executeUpdate(s"""CREATE TABLE "$t" ($cols)""")
          st.close()
          val ps = conn.prepareStatement(
            s"""INSERT INTO "$t" VALUES (${df.schema.map(_ => "?").mkString(",")})""")
          var pending = 0
          // stream partitions through the driver instead of collect():
          // peak driver memory is one partition, not the whole fact table
          df.toLocalIterator().forEachRemaining { row =>
            df.schema.fields.zipWithIndex.foreach { case (f, i) =>
              // Derby rejects setNull(Types.NULL) — pass the column's type
              if (row.isNullAt(i)) ps.setNull(i + 1, jdbcType(f.dataType))
              else f.dataType match {
                case LongType => ps.setLong(i + 1, row.getLong(i))
                case IntegerType => ps.setInt(i + 1, row.getInt(i))
                case DoubleType => ps.setDouble(i + 1, row.getDouble(i))
                case StringType => ps.setString(i + 1, row.getString(i))
                case TimestampNTZType =>
                  // NTZ external type is LocalDateTime; Timestamp.valueOf
                  // keeps the wall clock — no JVM-zone reinterpretation
                  ps.setTimestamp(i + 1, java.sql.Timestamp.valueOf(
                    row.getAs[java.time.LocalDateTime](i)))
                case DateType =>
                  ps.setDate(i + 1, java.sql.Date.valueOf(
                    row.getAs[java.time.LocalDate](i)))
                case other => throw new UnsupportedOperationException(
                  s"harness load of $other")
              }
            }
            ps.addBatch()
            pending += 1
            if (pending >= 5000) { ps.executeBatch(); conn.commit(); pending = 0 }
          }
          if (pending > 0) { ps.executeBatch(); conn.commit() }
          ps.close()
          // join-key indexes (after the bulk load — cheaper than
          // maintaining them per insert): without them Derby nested-loop
          // joins the full cartesian product and a 3-table q3 takes
          // minutes at sf0.01
          df.schema.fieldNames.filter(_.endsWith("key")).foreach { k =>
            val ist = conn.createStatement()
            ist.executeUpdate(
              s"""CREATE INDEX "ix_${t}_$k" ON "$t" ("$k")""")
            ist.close()
          }
        }
        conn.commit()
      } finally conn.close()
      new JdbcSqlExecutor("derby", spark, s"jdbc:derby:memory:$db",
        DerbyDialect, splitCount = Splits)
    })

  /** Prepare an empty write-target table on the harness database (create
    * if missing, clear otherwise) — the DDL half a remote engine owns;
    * the federation write path only appends ([[JdbcSqlExecutor.insertInto]]). */
  def resetWriteTarget(spark: SparkSession, dir: String, table: String,
      columnsDdl: String): Unit = {
    val conn = DriverManager.getConnection(executor(spark, dir).url)
    try {
      val st = conn.createStatement()
      try st.executeUpdate(s"""CREATE TABLE "$table" ($columnsDdl)""")
      catch { case e: java.sql.SQLException if e.getSQLState == "X0Y32" => () }
      st.executeUpdate(s"""DELETE FROM "$table"""")
      st.close()
    } finally conn.close()
  }

  private def jdbcType(dt: DataType): Int = dt match {
    case LongType => java.sql.Types.BIGINT
    case IntegerType => java.sql.Types.INTEGER
    case DoubleType => java.sql.Types.DOUBLE
    case StringType => java.sql.Types.VARCHAR
    case TimestampNTZType => java.sql.Types.TIMESTAMP
    case DateType => java.sql.Types.DATE
    case other => throw new UnsupportedOperationException(s"jdbc type for $other")
  }

  private def derbyType(dt: DataType, width: Int): String = dt match {
    case LongType => "BIGINT"
    case IntegerType => "INTEGER"
    case DoubleType => "DOUBLE"
    case StringType => s"VARCHAR($width)"
    case TimestampNTZType => "TIMESTAMP"
    case DateType => "DATE"
    case other => throw new UnsupportedOperationException(s"derby type for $other")
  }

  /** Register `jdbc_<table>` remote views over the Derby database
    * (idempotent). */
  def registerViews(spark: SparkSession, dir: String): Unit =
    FederationHarness.registerOnce(spark, dir, "jdbc_")(executor(spark, dir))

  /** Register `jdbc2_<table>` views over the SECOND Derby instance. */
  def registerViewsB(spark: SparkSession, dir: String): Unit =
    FederationHarness.registerOnce(spark, dir, "jdbc2_")(executorB(spark, dir))

  /** Register `jdbc_<table>` remote views over the Derby database and run
    * a SQL query against them. */
  def sql(spark: SparkSession, dir: String, query: String): DataFrame = {
    registerViews(spark, dir)
    spark.sql(query)
  }
}
