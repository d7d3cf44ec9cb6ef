package graft.federation.duckdb

import java.nio.charset.StandardCharsets
import java.util.concurrent.{ConcurrentHashMap, Semaphore, TimeUnit}
import java.util.concurrent.atomic.AtomicReference

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.arrow.memory.RootAllocator
import org.apache.arrow.vector.ipc.ArrowStreamReader

import org.apache.spark.{SparkEnv, TaskContext}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.{BoundReference, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.ColumnStat
import org.apache.spark.sql.types._
import org.apache.spark.sql.vectorized.{ArrowColumnVector, ColumnVector, ColumnarBatch}

import graft.federation.sql.{RemoteCancel, RemoteTableRef, SchemaCoercion, SchemaDrift, SqlDialect, SqlExecutor, UnparseUnsupported}

/** A live DuckDB remote engine, driven through a pooled python subprocess
  * (the container has the python `duckdb` module but no DuckDB JDBC
  * driver — the same engine the DuckDB oracle runs on, now on the OTHER
  * side of the federation boundary).
  *
  * Execution model mirrors [[graft.federation.jdbc.JdbcSqlExecutor]]:
  * a split scan, or a scan under other operators, fetches its rows inside
  * `RDD.compute`, where each task borrows its own pooled subprocess. In
  * the driver JVM (and so in local mode) each subprocess keeps a
  * READ-ONLY connection to the last database file it read open between
  * requests, so a read pays for its query, not for opening the database
  * and warming its buffer pool.
  * DuckDB permits any number of concurrent read-only processes on one
  * file, so split scans fan out to n parallel engine cursors exactly like
  * n JDBC connections. A single-cursor scan at the root of a collected
  * plan, and every planning probe, reads on the calling driver thread
  * through [[queryRows]] instead: one round trip with no Spark job around
  * it.
  * On a cluster this requires the database file's directory on shared
  * storage and python+duckdb+pyarrow on executors, the same deployment
  * contract as a JDBC driver jar. Writes (DDL/DML/bulk ingest) take the
  * single-writer lock and therefore run driver-side, one statement batch
  * per request, behind the file's write fence in [[DuckDbProcess]]; a bulk
  * ingest's rows reach that request as Arrow IPC files its Spark tasks
  * wrote beside the database file ([[ingest]]). A write waits for
  * the driver's reads in flight and has its idle warm connections to the
  * file closed first, so every later read reopens the file and sees it.
  * An executor JVM's subprocesses are out of the fence's sight, so they
  * open the file per request and close it before the request ends; a
  * write that meets one of their reads in flight retries its connect
  * until the read is done (30 s bound). A process outside Spark that
  * writes the file meets the driver's held read locks and fails.
  *
  * Results cross the boundary as ONE Arrow IPC stream per query (see
  * [[DuckDbProcess]] for the framing), and ingested rows as Arrow IPC
  * streams the other way, so Arrow is this engine's one wire format. Read
  * results go into Spark's
  * `ArrowColumnVector`s — the reference's executor contract streams Arrow
  * record batches the same way (src/sql/executor.rs:51-56) and coerces
  * them to the declared schema in one place
  * (src/schema_cast/record_convert.rs:51-130), here one
  * `UnsafeProjection` built by [[SchemaCoercion.strict]]. Its
  * compute-context warning (src/sql/executor.rs:25-29) maps to the
  * database file path.
  */
final class DuckDbSqlExecutor(
    override val name: String,
    session: SparkSession,
    val dbPath: String,
    override val splitCount: Int = 1,
    override val statsRowCap: Long = 1000000L)
  extends SqlExecutor {

  /** Rows per Arrow record batch on the result wire: results up to this
    * size cross as one batch, larger ones as several. */
  val fetchStageRows: Int = DuckDbProcess.BatchRows

  override def computeContext: Option[String] = Some(s"duckdb:$dbPath")
  override def dialect: SqlDialect = graft.federation.sql.DuckDbDialect

  override def execute(sql: String, schema: StructType): RDD[InternalRow] =
    executeWith(sql, schema, threads = 0)

  /** Split cursors cap the embedded engine to a fair thread share: n
    * subprocess instances each defaulting to every core OVERSUBSCRIBE
    * n×cores-fold — measured on the 50M window-split stress, 16
    * all-core cursors ran 4× SLOWER than one cursor, while 16 × (cores
    * ÷ 16) beat it 1.7×. */
  override def executeSplit(sql: String, schema: StructType,
      siblings: Int): RDD[InternalRow] =
    executeWith(sql, schema,
      if (siblings <= 1) 0
      else math.max(1, Runtime.getRuntime.availableProcessors() / siblings))

  private def executeWith(sql: String, schema: StructType,
      threads: Int): RDD[InternalRow] = {
    executedSql.synchronized { executedSql += sql }
    val db = dbPath
    val execName = name
    session.sparkContext.parallelize(Seq(sql), 1).mapPartitions { sqls =>
      sqls.flatMap { q =>
        val res = DuckDbProcess.query(db, q, threads)
        // the task owns the result's allocator: reader, then allocator,
        // close on the task thread however the task ends
        Option(TaskContext.get()).foreach(_.addTaskCompletionListener[Unit] {
          _ => res.close()
        })
        res.rowsAs(schema, execName, q)
      }
    }
  }

  // Catalog metadata caches: every remote-view registration resolves the
  // table's schema, and the gate harness re-registers views per query —
  // without a cache each gate invocation pays one subprocess DESCRIBE
  // round-trip PER TABLE (~100 ms each; the r9 bench sweep showed every
  // fed_duckdb_* gate inflate ~150 ms when a 7th table joined the
  // harness). Schemas and the listings are stable between DDL, so
  // [[forget]] (DDL, REFRESH) is the only invalidation point.
  private val schemaCache =
    scala.collection.concurrent.TrieMap.empty[String, StructType]
  @volatile private var tableNamesCache: Option[Seq[String]] = None

  override def tableNames: Seq[String] = {
    val cached = tableNamesCache
    cached.getOrElse {
      // transient staging artifacts (bind/write staging) never enumerate:
      // they can be async-dropped between listing and the schema probe
      val names = DuckDbProcess.tables(dbPath)
        .filterNot(SqlExecutor.isStagingArtifact)
      tableNamesCache = Some(names)
      names
    }
  }

  private val schemaTableNamesCache =
    scala.collection.concurrent.TrieMap.empty[String, Seq[String]]

  /** Named-schema listing (`SHOW TABLES IN duck.analytics`) — one
    * driver-side information_schema read, cached like [[tableNames]]. */
  override def tableNames(schema: String): Seq[String] =
    schemaTableNamesCache.getOrElseUpdate(schema,
      runQuery(
        "SELECT table_name FROM information_schema.tables " +
          s"WHERE table_catalog = current_database() AND table_schema = " +
          s"'${dialect.escapeString(schema)}' ORDER BY table_name")
        .map(_.getString(0))
        .filterNot(SqlExecutor.isStagingArtifact))

  @volatile private var schemaNamesCache: Option[Seq[String]] = None

  /** Engine schemas beyond the default `main` (internal catalogs and
    * pg-compat schemas excluded). */
  override def schemaNames: Seq[String] = {
    val cached = schemaNamesCache
    cached.getOrElse {
      val names = runQuery(
        "SELECT schema_name FROM information_schema.schemata " +
          "WHERE catalog_name = current_database() AND schema_name NOT IN " +
          "('information_schema', 'pg_catalog') ORDER BY schema_name")
        .map(_.getString(0))
      schemaNamesCache = Some(names)
      names
    }
  }

  override def tableSchema(ref: RemoteTableRef): StructType =
    schemaCache.getOrElseUpdate(ref.toString,
      DuckDbProcess.describe(dbPath, s"SELECT * FROM ${ref.sql(dialect)}"))

  /** Every probe is a wire statement: [[executedSql]] records it. */
  override protected def queryRow(sql: String,
      schema: StructType): InternalRow = {
    executedSql.synchronized { executedSql += sql }
    super.queryRow(sql, schema)
  }

  override def queryRows[A](sql: String, schema: StructType)(
      consume: Iterator[InternalRow] => A): A =
    read(sql, Some(schema))((_, rows) => consume(rows))

  /** Per-column CBO probes — ONE engine-side aggregate for every column
    * (DuckDB has no single-DISTINCT restriction), over the same bounded
    * sample as the row probe. Same type policy as the JDBC executor:
    * numeric/temporal min+max, strings ndv+lengths only. At the row cap
    * only integral columns report, and only their sample ndv — a 3-value
    * key vs a dense one keeps its order under any sampling, which is all
    * the split-key chooser needs. */
  override protected def probeColumnStatistics(ref: RemoteTableRef,
      rows: Option[BigInt]): Map[String, ColumnStat] = {
    val schema = tableSchema(ref)
    val eligible = schema.fields.filter(f => (rows, f.dataType) match {
      case (_, ByteType | ShortType | IntegerType | LongType) => true
      case (Some(_), StringType | FloatType | DoubleType | DateType |
           TimestampNTZType | _: DecimalType) => true
      case _ => false
    })
    // one typed slot per aggregate: ndv, non-null count, then either
    // max/sum of lengths (strings) or min/max in the column's own type
    val items = eligible.toSeq.flatMap { f =>
      val q = dialect.quoteIfNeeded(f.name)
      if (rows.isEmpty) Seq((s"COUNT(DISTINCT $q)", LongType))
      else f.dataType match {
        case StringType => Seq(s"COUNT(DISTINCT $q)", s"COUNT($q)",
          s"MAX(LENGTH($q))", s"SUM(LENGTH($q))").map((_, LongType))
        case dt => Seq((s"COUNT(DISTINCT $q)", LongType),
          (s"COUNT($q)", LongType), (s"MIN($q)", dt), (s"MAX($q)", dt))
      }
    }
    if (items.isEmpty) Map.empty
    else {
      val row = queryRow(s"SELECT ${items.map(_._1).mkString(", ")} FROM " +
        s"(SELECT * FROM ${ref.sql(dialect)} LIMIT $statsRowCap) cs",
        StructType(items.zipWithIndex.map { case ((_, dt), i) =>
          StructField(s"c$i", dt) }))
      val width = if (rows.isEmpty) 1 else 4
      eligible.zipWithIndex.map { case (f, i) =>
        val b = i * width
        val ndv = Some(BigInt(row.getLong(b)))
        f.name -> (rows match {
          case None => ColumnStat(distinctCount = ndv)
          case Some(n) =>
            val nonNull = row.getLong(b + 1)
            f.dataType match {
              case StringType => ColumnStat(
                distinctCount = ndv,
                nullCount = Some(n - nonNull),
                avgLen = if (nonNull > 0)
                  Some(row.getLong(b + 3) / nonNull) else None,
                maxLen = Some(row.getLong(b + 2)))
              case dt => ColumnStat(
                distinctCount = ndv,
                min = Option(row.get(b + 2, dt)),
                max = Option(row.get(b + 3, dt)),
                nullCount = Some(n - nonNull),
                avgLen = Some(dt.defaultSize.toLong),
                maxLen = Some(dt.defaultSize.toLong))
            }
        })
      }.toMap
    }
  }

  /** Quantile boundaries for range splits — ONE engine-side
    * `quantile_disc` aggregate over a bounded sample (DuckDB computes
    * all n-1 cuts in a single scan, where the JDBC executor pays n-1
    * OFFSET point reads).
    *
    * Sampling is two-tier. The first pass is the bounded `LIMIT` prefix:
    * when the fragment fits `statsRowCap` the sample IS the whole
    * fragment and the cuts are exact. When the prefix HITS the cap the
    * sample is biased by physical order — the r10 federation stress
    * measured it on a 15M-row table whose layout follows the split key
    * (the normal case for an ingested surrogate key): every cut landed in
    * the first 1M rows, leaving 15 of 16 cursors near-empty and one
    * cursor with 14M rows. At-cap fragments therefore re-probe through
    * engine reservoir row sampling (`USING SAMPLE reservoir(200000 ROWS)
    * REPEATABLE (42)` — probed live: uniform rows regardless of layout,
    * ~0.5s on the 15M-row stress table vs 31% quantile error from 1%
    * block sampling, whose granularity collapses to a handful of row
    * groups exactly when the table is big; the one-time cost is a
    * planning probe cached per fragment). Still LIMIT-capped so the
    * aggregate input stays bounded. A wrong boundary only unbalances
    * cursors, never rows. Too-small samples fall back tier-by-tier. */
  override protected def probeSplitBoundaries(fromSql: String, col: String,
      n: Int): Option[Seq[Long]] = {
    val qs = (1 until n)
      .map(i => s"CAST(quantile_disc(sk, ${i.toDouble / n}) AS BIGINT)")
      .mkString(", ")
    def probe(src: String): (Long, Seq[Long]) = {
      val row = queryRow(
        s"SELECT $qs, COUNT(*) FROM (SELECT $col AS sk FROM $src " +
          s"WHERE $col IS NOT NULL LIMIT $statsRowCap) bnd_sample",
        SqlExecutor.longs(n))
      (row.getLong(n - 1),
        (0 until n - 1).filterNot(row.isNullAt)
          .map(row.getLong).distinct.sorted)
    }
    val (prefixCnt, prefixBounds) = probe(s"($fromSql) bnd_src")
    val (cnt, bounds) =
      if (prefixCnt < statsRowCap) (prefixCnt, prefixBounds)
      else {
        val (sCnt, sBounds) = probe(
          s"(SELECT * FROM ($fromSql) raw_src " +
            "USING SAMPLE reservoir(200000 ROWS) REPEATABLE (42)) " +
            "bnd_src")
        // a failed/short draw keeps the prefix answer rather than
        // refusing splits outright
        if (sCnt >= n.toLong * 8) (sCnt, sBounds)
        else (prefixCnt, prefixBounds)
      }
    if (cnt < n.toLong * 8) None
    else if (bounds.isEmpty) None
    else Some(bounds)
  }

  /** Driver-side one-shot read query (tests, catalog listings), in the
    * types the stream carries. */
  def runQuery(sql: String): Seq[Row] = {
    executedSql.synchronized { executedSql += sql }
    read(sql, None) { (schema, rows) =>
      // through an UnsafeRow: a batch view cannot `get` every type
      val proj = UnsafeProjection.create(schema)
      val toRow = CatalystTypeConverters.createToScalaConverter(schema)
      rows.map(r => toRow(proj(r)).asInstanceOf[Row]).toVector
    }
  }

  /** The rows of `sql` on the calling thread, under `declared` when given
    * (the same drift check and coercion as a task's read), else under the
    * stream's own schema. Each row is a view valid until the next one is
    * pulled. */
  private def read[A](sql: String, declared: Option[StructType])(
      consume: (StructType, Iterator[InternalRow]) => A): A = {
    val res = DuckDbProcess.query(dbPath, sql)
    try {
      val schema = declared.getOrElse(res.schema)
      consume(schema, res.rowsAs(schema, name, sql))
    } finally res.close()
  }

  override def lostCursor(e: Throwable): Boolean =
    e.isInstanceOf[DuckDbProcess.WorkerLost]

  /** Driver-side write batch: the statements run on ONE connection holding
    * the single-writer lock, in order. With `arrow` (Arrow IPC stream
    * files of one schema), the statements can read those files' rows, in
    * the order given, as the relation `__ingest`. Returns per-statement
    * change counts (-1 where the engine reports none, e.g. DDL). */
  def runWrite(sqls: Seq[String], arrow: Seq[String] = Nil): Seq[Long] = {
    dmlLog.synchronized { dmlLog ++= sqls }
    DuckDbProcess.exec(dbPath, sqls, arrow)
  }

  /** Distributed-write path, over the same Arrow wire reads use. ONE
    * Spark job encodes the frame with Spark's own Arrow encoder, and each
    * task writes its partition as one Arrow IPC stream file into a
    * staging directory beside the database file (so the file's directory
    * on shared storage is the whole cluster contract), under a temporary
    * name, renamed when complete. The driver takes exactly the paths the
    * job returned, one per partition from the attempt the scheduler
    * accepted, so a failed or duplicate attempt's file is never read.
    * Rows never pass through the driver. Only after that job (so a frame
    * that reads this file holds no read of it) does ONE `exec` request
    * insert the rows from those files under the write fence — DuckDB is a
    * single-writer engine, so a per-task INSERT fan-in like the JDBC
    * path's is impossible by design. With an epoch, the fence row rides
    * the SAME engine transaction as the bulk ingest (`BEGIN … COMMIT`
    * through the one write connection of an `exec` request; a failure
    * mid-list surfaces as the request error and the open transaction
    * rolls back when that connection closes). */
  override protected def ingest(ref: RemoteTableRef,
      df: org.apache.spark.sql.DataFrame, epoch: Option[Long]): Unit = {
    val schema = targetSchema(ref, df)
    val db = java.nio.file.Paths.get(dbPath).toAbsolutePath
    val stage = java.nio.file.Files.createTempDirectory(db.getParent,
      s"${db.getFileName}.ingest-")
    try {
      val dir = stage.toString
      // positional alignment: rename to the target's column names, which
      // the INSERT reads the stream's columns by
      val renamed = df.toDF(schema.fieldNames.toIndexedSeq: _*)
      val files = org.apache.spark.sql.GraftShims.arrowPartitions(renamed) {
        p => DuckDbSqlExecutor.stagePartition(dir, p)
      }
      val cols = schema.fieldNames
        .map(dialect.quoteIfNeeded).mkString(", ")
      val insert = s"INSERT INTO ${ref.sql(dialect)} ($cols) " +
        s"SELECT $cols FROM ${DuckDbProcess.IngestRelation}"
      runWrite(epoch match {
        case None => Seq(insert)
        case Some(id) => Seq("BEGIN", insert,
          s"INSERT INTO ${epochTableRef(ref).sql(dialect)} VALUES ($id)",
          "COMMIT")
      }, files.toIndexedSeq)
    } finally DuckDbSqlExecutor.removeStage(stage)
  }

  override def insertFromQuery(ref: RemoteTableRef,
      selectSql: String): Boolean = {
    runWrite(Seq(s"INSERT INTO ${ref.sql(dialect)} $selectSql"))
    true
  }

  override def deleteWhere(ref: RemoteTableRef, whereSql: String): Long =
    runWrite(Seq(s"DELETE FROM ${ref.sql(dialect)} WHERE $whereSql")).head

  override def updateWhere(ref: RemoteTableRef, setSql: String,
      whereSql: String): Long =
    runWrite(Seq(
      s"UPDATE ${ref.sql(dialect)} SET $setSql WHERE $whereSql")).head

  override def createTable(ref: RemoteTableRef,
      schema: StructType): Unit = {
    def ddl(dt: DataType): String = dt match {
      case ByteType => "TINYINT"
      case ShortType => "SMALLINT"
      case IntegerType => "INTEGER"
      case LongType => "BIGINT"
      case FloatType => "FLOAT"
      case DoubleType => "DOUBLE"
      case BooleanType => "BOOLEAN"
      case DateType => "DATE"
      case TimestampNTZType | TimestampType => "TIMESTAMP"
      case d: DecimalType => s"DECIMAL(${d.precision},${d.scale})"
      case StringType => "VARCHAR"
      case BinaryType => "BLOB"
      case ArrayType(e, _) => s"${ddl(e)}[]"
      case MapType(k, v, _) => s"MAP(${ddl(k)}, ${ddl(v)})"
      case st: StructType => st.fields
        .map(f => s"${dialect.quoteIfNeeded(f.name)} ${ddl(f.dataType)}")
        .mkString("STRUCT(", ", ", ")")
      case other => throw new UnparseUnsupported(
        s"no DuckDB DDL type for $other")
    }
    val cols = schema.fields
      .map(f => s"${dialect.quoteIfNeeded(f.name)} ${ddl(f.dataType)}")
      .mkString(", ")
    runWrite(Seq(
      s"DROP TABLE IF EXISTS ${ref.sql(dialect)}",
      s"CREATE TABLE ${ref.sql(dialect)} ($cols)"))
    forget(ref)
  }

  override def vacuumStaging(olderThanMillis: Long,
      includeBindTables: Boolean): Seq[String] = {
    val victims = graft.federation.sql.SqlExecutor.vacuumCandidates(
      DuckDbProcess.tables(dbPath), System.currentTimeMillis(),
      olderThanMillis, includeBindTables)
    if (victims.nonEmpty)
      runWrite(victims.map(v =>
        s"DROP TABLE IF EXISTS ${dialect.quoteIfNeeded(v)}"))
    victims
  }

  override def dropTable(ref: RemoteTableRef): Unit = {
    runWrite(Seq(s"DROP TABLE IF EXISTS ${ref.sql(dialect)}"))
    forget(ref)
  }

  /** Beyond the stat probes, DDL and REFRESH drop this ref's schema and
    * the LISTINGS — the table may have appeared or disappeared remotely;
    * sibling tables' caches stay warm. */
  override protected def forget(ref: RemoteTableRef): Unit = {
    super.forget(ref)
    schemaCache.remove(ref.toString)
    tableNamesCache = None
    if (ref.parts.size > 1) schemaTableNamesCache.remove(ref.parts.head)
    ()
  }

  override def invalidateCaches(): Unit = {
    super.invalidateCaches()
    schemaCache.clear()
    tableNamesCache = None
    schemaTableNamesCache.clear()
    schemaNamesCache = None
  }

  /** Driver-side DDL batch that (re)defines `ref` through arbitrary
    * engine SQL (CTAS and friends — shapes [[createTable]]'s DDL mapping
    * can't express, e.g. STRUCT-typed columns), with the same catalog
    * cache invalidation. */
  def runDdl(ref: RemoteTableRef, sqls: Seq[String]): Unit = {
    runWrite(sqls)
    forget(ref)
  }
}

object DuckDbSqlExecutor {

  /** Task side of an ingest: write the task's partition to
    * `part-<partition>-<attempt>.arrow` in `dir`, under a temporary name
    * renamed when the stream is complete, and return the file's path. A
    * failed or killed attempt deletes its temporary file; one that starts
    * after the driver removed `dir` fails to create it. */
  private[duckdb] def stagePartition(dir: String,
      p: org.apache.spark.sql.GraftShims.ArrowPartition): String = {
    import java.nio.file.{Files, Paths, StandardCopyOption, StandardOpenOption}
    val tc = TaskContext.get()
    val name = s"part-${tc.partitionId()}-${tc.attemptNumber()}.arrow"
    val done = Paths.get(dir, name)
    val tmp = Paths.get(dir, s".$name.tmp")
    try {
      val out = new java.io.BufferedOutputStream(Files.newOutputStream(tmp,
        StandardOpenOption.CREATE_NEW, StandardOpenOption.WRITE), 1 << 16)
      try p.writeTo(out) finally out.close()
      Files.move(tmp, done, StandardCopyOption.ATOMIC_MOVE)
    } catch {
      case e: Throwable => Files.deleteIfExists(tmp); throw e
    }
    done.toString
  }

  /** Delete an ingest's staging directory with what is in it. A task of a
    * failed job can still be running when the job returns, so this goes
    * on until the directory itself is gone: after that, no task can put a
    * file there. */
  private[duckdb] def removeStage(dir: java.nio.file.Path): Unit = {
    var tries = 0
    while (java.nio.file.Files.exists(dir) && tries < 100) {
      Option(dir.toFile.listFiles()).foreach(_.foreach(_.delete()))
      if (!dir.toFile.delete()) Thread.sleep(10)
      tries += 1
    }
  }
}

/** The subprocess protocol. A request is one JSON line on stdin. The
  * response on stdout is binary, and its first byte names its form:
  *
  *  - `{` — JSON control lines: the metadata line of `describe`
  *    (`{"cols":…}`), `tables` (`{"tables":…}`) or `exec`
  *    (`{"counts":…}`), then the terminator `{"ok":n}`. An `exec` request
  *    may carry `"arrow": [paths]`, Arrow IPC stream files of one schema:
  *    its statements then read their rows, file after file, as the
  *    relation [[IngestRelation]] on the write connection; `release`
  *    (close the warm read connection) answers with the terminator alone;
  *    a failed request is the single line `{"err":…}`.
  *  - `0xFF` — the `query` body: one Arrow IPC stream (schema, record
  *    batches of [[BatchRows]] rows, end-of-stream marker; every IPC
  *    message opens with the `0xFFFFFFFF` continuation marker), then the
  *    terminator line. `{"ok":n}` carries the row count the client checks
  *    against what it read; a failure after the stream started closes
  *    the stream first and then sends `{"err":…}`.
  *
  * The worker normalises the Arrow types Spark's `ArrowColumnVector`
  * cannot read with a pyarrow cast on each batch (recursing into list,
  * struct and map):
  *
  * | Arrow type from DuckDB | sent as |
  * |---|---|
  * | `uint8` / `uint16` / `uint32` | `int16` / `int32` / `int64` |
  * | `uint64` | `decimal128(20,0)` |
  * | dictionary (ENUM) | its value type |
  * | `time64` | string, `datetime.time.isoformat()` form |
  * | `timestamp[s/ms/ns]` | `timestamp[us]` |
  *
  * `TIME WITH TIME ZONE`, at any depth, is refused before the stream
  * starts: DuckDB exports it as a bare `time64` without its UTC offset,
  * and a lossy value must not reach a row.
  *
  * UUID and JSON already arrive as strings, INTERVAL as
  * `month_day_nano_interval` (Spark's `CalendarInterval`), HUGEINT as
  * `decimal128(38,0)`. pyarrow is imported once, when a pooled server
  * starts: measured on a 4-vCPU box, `import duckdb` takes 0.19–0.21 s
  * and `import duckdb, pyarrow, pyarrow.ipc` 0.34–0.42 s. A request pays
  * none of it; `pyarrow.compute` (about 0.1 s more) loads at the first
  * cast a server makes.
  */
object DuckDbProcess {

  /** Rows per Arrow record batch (`fetch_arrow_reader`'s batch size). */
  val BatchRows: Int = 65536

  /** The relation an `exec` request's statements read its Arrow files'
    * rows from. */
  val IngestRelation: String = "__ingest"

  /** The worker process ended mid-response (killed, crashed): the request
    * may be re-run on a fresh worker, unlike an engine error. */
  final class WorkerLost(msg: String) extends IllegalStateException(msg)

  /** The entire engine adapter, shipped as `python3 -c <script>` — a
    * PERSISTENT request loop (one JSON request line in → one response
    * out, flushed per request), so the python + duckdb + pyarrow import
    * is paid once per pooled server, not once per query. Reads keep ONE
    * read-only connection open across requests, to the last file read,
    * so a pushed query meets a warm buffer pool and pays no connect; a
    * read marked `"warm":false` (see [[warm]]) closes it before its
    * terminator instead. Per-connection settings are made at the
    * connect; a request's own `threads` cap is set, or reset, on each
    * request. That open connection holds DuckDB's shared file lock
    * between requests, so writes go through the JVM's per-file [[Fence]]:
    * the `release` op closes the warm connection, and `exec` closes it
    * too before it opens the file read-write, then closes its write
    * connection before its terminator. An `exec` with an `arrow` list
    * registers ONE `RecordBatchReader` over those files, each memory
    * mapped when the scan reaches it, as `__ingest` on its write
    * connection before its statements run. A connect that meets a lock held
    * outside the fence retries for up to 30 s. A request-level failure
    * emits an `err` terminator, drops the warm connection and the loop
    * keeps serving; only EOF on stdin (or a crash) ends the process. */
  private val Script =
    s"BATCH_ROWS = $BatchRows\nINGEST = \"$IngestRelation\"\n" +
    """import sys, json, time
      |import duckdb
      |import pyarrow as pa
      |import pyarrow.ipc
      |out = sys.stdout.buffer
      |def line(obj):
      |    out.write(json.dumps(obj).encode() + b"\n")
      |WIDEN = {pa.uint8(): pa.int16(), pa.uint16(): pa.int32(),
      |         pa.uint32(): pa.int64(), pa.uint64(): pa.decimal128(20, 0)}
      |def needs(t):
      |    # an Arrow type Spark's ArrowColumnVector cannot read, at any depth
      |    if t in WIDEN or pa.types.is_dictionary(t) or pa.types.is_time(t):
      |        return True
      |    if pa.types.is_timestamp(t): return t.unit != "us"
      |    if pa.types.is_list(t): return needs(t.value_type)
      |    if pa.types.is_struct(t): return any(needs(f.type) for f in t)
      |    if pa.types.is_map(t): return needs(t.key_type) or needs(t.item_type)
      |    return False
      |def norm(a):
      |    t = a.type
      |    if not needs(t): return a
      |    if t in WIDEN: return a.cast(WIDEN[t])
      |    if pa.types.is_dictionary(t): return norm(a.dictionary_decode())
      |    if pa.types.is_timestamp(t):
      |        return a.cast(pa.timestamp("us", t.tz), safe=False)
      |    if pa.types.is_time(t):
      |        # datetime.time.isoformat(): no fraction when it is zero
      |        import pyarrow.compute as pc
      |        return pc.replace_substring_regex(a.cast(pa.string()),
      |                                          r"\.0+$", "")
      |    if pa.types.is_struct(t):
      |        return pa.StructArray.from_arrays(
      |            [norm(a.field(i)) for i in range(t.num_fields)],
      |            names=[f.name for f in t], mask=a.is_null())
      |    # lists and maps keep their validity and offset buffers; only the
      |    # child is rebuilt. A cast that changes a map's key type aborts
      |    # the process, so map entries go through MapArray.from_arrays.
      |    if pa.types.is_map(t):
      |        k, v = norm(a.keys), norm(a.items)
      |        nt = pa.map_(k.type, v.type)
      |        child = pa.MapArray.from_arrays([0, len(k)], k, v).values
      |    else:
      |        child = norm(a.values)
      |        nt = pa.list_(child.type)
      |    return pa.Array.from_buffers(nt, len(a), a.buffers()[:2],
      |                                 a.null_count, a.offset, [child])
      |def zoned_time(t):
      |    # DuckDB exports TIME WITH TIME ZONE as a bare time64: the UTC
      |    # offset is dropped, so such a value must not reach a row
      |    if t.id == "time with time zone": return True
      |    return t.id in ("list", "array", "struct", "map", "union") and any(
      |        zoned_time(c) for _, c in t.children)
      |def ingest_reader(paths):
      |    # the files' batches in the order given, as one reader; a file is
      |    # mapped when the scan reaches it, and a batch keeps its mapping
      |    def batches():
      |        for p in paths:
      |            yield from pa.ipc.open_stream(pa.memory_map(p))
      |    schema = pa.ipc.open_stream(pa.memory_map(paths[0])).schema
      |    return pa.RecordBatchReader.from_batches(schema, batches())
      |def norm_batch(b):
      |    if not any(needs(c.type) for c in b.columns): return b
      |    return pa.RecordBatch.from_arrays([norm(c) for c in b.columns],
      |                                      names=b.schema.names)
      |def connect(db, read_only):
      |    # the JVM's fence orders its own workers on a file; a lock held
      |    # outside it (a cluster executor's read in flight, another
      |    # process) is transient, so the connect retries within a bound
      |    deadline = time.monotonic() + 30.0
      |    while True:
      |        try:
      |            c = duckdb.connect(db, read_only=read_only)
      |            break
      |        except Exception as ce:
      |            if ("lock" not in str(ce).lower()
      |                    or time.monotonic() > deadline):
      |                raise
      |            time.sleep(0.05)
      |    # the progress bar writes "nnn%..." lines to STDOUT once a query
      |    # runs past its trigger (~2s — first seen on a 15M-row quantile
      |    # probe in the r10 boundary stress), corrupting the framing;
      |    # stdout belongs to the protocol
      |    try: c.execute("SET enable_progress_bar = false")
      |    except Exception: pass
      |    return c
      |# the warm read-only connection: kept open across requests, so its
      |# buffer pool stays warm; its file, and the threads cap the last
      |# request left on it (0: the engine default)
      |con = con_db = None
      |con_threads = 0
      |def drop():
      |    global con, con_db
      |    if con is not None:
      |        try: con.close()
      |        except Exception: pass
      |    con = con_db = None
      |while True:
      |    req_line = sys.stdin.readline()
      |    if not req_line: break
      |    term = None
      |    try:
      |        req = json.loads(req_line)
      |        op = req["op"]
      |        if op == "release":
      |            # a write of con_db is about to run: DuckDB locks a file
      |            # single-writer XOR multi-reader across processes
      |            drop()
      |            term = {"ok": 0}
      |        elif op == "exec":
      |            drop()
      |            w = connect(req["db"], False)
      |            try:
      |                if "arrow" in req:
      |                    w.register(INGEST, ingest_reader(req["arrow"]))
      |                counts = []
      |                for s in req["sqls"]:
      |                    cur = w.execute(s)
      |                    try:
      |                        rows = cur.fetchall()
      |                        counts.append(rows[0][0] if rows and
      |                            isinstance(rows[0][0], int) else -1)
      |                    except Exception:
      |                        counts.append(-1)
      |                w.commit()
      |            finally:
      |                # close BEFORE the terminator: the client takes it as
      |                # "write done" and lets the reads of the file in
      |                w.close()
      |            line({"counts": counts})
      |            term = {"ok": len(counts)}
      |        else:
      |            if con_db != req["db"]:
      |                drop()
      |                con = connect(req["db"], True)
      |                con_db = req["db"]
      |                con_threads = 0
      |            # split cursors ask for a fair thread share (see
      |            # executeSplit) so n concurrent instances parallelize
      |            # instead of oversubscribing n*cores threads; the cap is
      |            # the request's, so a request without one resets it
      |            th = int(req.get("threads", 0))
      |            if th != con_threads:
      |                con.execute("SET threads TO %d" % th if th
      |                            else "RESET threads")
      |                con_threads = th
      |            if op == "query":
      |                rel = con.sql(req["sql"])
      |                if rel is None:
      |                    rdr = pa.RecordBatchReader.from_batches(pa.schema([]), [])
      |                else:
      |                    for c, t in zip(rel.columns, rel.types):
      |                        if zoned_time(t):
      |                            raise ValueError(
      |                                "TIME WITH TIME ZONE cannot cross the Arrow "
      |                                "wire without losing its UTC offset (column "
      |                                "%r of type %s); cast it to VARCHAR in the "
      |                                "query" % (c, t))
      |                    rdr = rel.fetch_arrow_reader(BATCH_ROWS)
      |                # the stream's schema is the normalised form of an
      |                # empty batch, so a zero-row result carries it too
      |                schema = norm_batch(pa.RecordBatch.from_arrays(
      |                    [pa.array([], f.type) for f in rdr.schema],
      |                    schema=rdr.schema)).schema
      |                w = pa.ipc.new_stream(out, schema)
      |                n = 0
      |                try:
      |                    for b in rdr:
      |                        w.write_batch(norm_batch(b))
      |                        n += b.num_rows
      |                finally:
      |                    w.close()
      |                term = {"ok": n}
      |            elif op == "describe":
      |                rows = con.execute("DESCRIBE " + req["sql"]).fetchall()
      |                line({"cols": [[r[0], r[1]] for r in rows]})
      |                term = {"ok": len(rows)}
      |            elif op == "tables":
      |                rows = con.execute(
      |                    "SELECT table_name FROM information_schema.tables "
      |                    "WHERE table_schema = 'main' ORDER BY table_name"
      |                ).fetchall()
      |                line({"tables": [r[0] for r in rows]})
      |                term = {"ok": len(rows)}
      |            else:
      |                raise ValueError("unknown op: " + op)
      |            if not req.get("warm", True):
      |                # a worker the writer's fence cannot see: it holds
      |                # the file only while a read runs
      |                drop()
      |    except Exception as e:
      |        # the next read after a failure starts on a clean connection
      |        drop()
      |        term = {"err": "%s: %s" % (type(e).__name__, e)}
      |    line(term)
      |    out.flush()
      |""".stripMargin

  private val mapper = new ObjectMapper()

  private def jstr(s: String): String = mapper.writeValueAsString(s)

  /** One pooled server process: persistent writer, ONE buffered binary
    * reader over stdout (control lines and IPC streams share it), and a
    * stderr drain thread for its whole lifetime (a blocked stderr pipe
    * would deadlock the engine; the captured text feeds error
    * messages). */
  private final class Server(val proc: Process) {
    /** Set when the server goes back to the pool: it has waited idle. */
    @volatile var idled = false
    /** The file whose read-only connection the server keeps open between
      * requests (set when a read is sent to it), or null. */
    @volatile var held: String = null
    /** The fence permits the current request holds. They go back at the
      * request's terminator, or when the process exits, whichever comes
      * first: a dead worker's file lock dies with it. */
    private val holds = new AtomicReference[List[Fence]](Nil)
    private val exited = proc.onExit()
    exited.thenRun(() => endRequest())

    val writer = new java.io.OutputStreamWriter(proc.getOutputStream,
      StandardCharsets.UTF_8)
    val in = new java.io.BufferedInputStream(proc.getInputStream, 1 << 16)
    val errBuf = new java.lang.StringBuilder
    private val errThread = new Thread(() => {
      val r = new java.io.BufferedReader(
        new java.io.InputStreamReader(proc.getErrorStream,
          StandardCharsets.UTF_8))
      var line = r.readLine()
      while (line != null) {
        errBuf.synchronized {
          if (errBuf.length < 8192) errBuf.append(line).append('\n')
        }
        line = r.readLine()
      }
    })
    errThread.setDaemon(true)
    errThread.start()
    def errText(): String = errBuf.synchronized { errBuf.toString.trim }
    def destroy(): Unit = { proc.destroyForcibly(); () }

    /** The current request holds `fences` until it ends. */
    def begin(fences: List[Fence]): Unit = {
      holds.set(fences)
      // an exit already seen has run its endRequest before the set
      if (exited.isDone) endRequest()
    }

    /** Take the current request's permits off the server (it is about to
      * go back to the pool, where another request may borrow it). */
    def takeHolds(): List[Fence] = holds.getAndSet(Nil)

    /** Give back the current request's permits (at most once). */
    def endRequest(): Unit = takeHolds().foreach(_.unread())

    /** Wait, within the fence bound, until the process is gone. */
    def awaitExit(): Unit =
      try { exited.get(FenceWaitSeconds, TimeUnit.SECONDS); () }
      catch {
        case _: java.util.concurrent.TimeoutException => ()
        case _: InterruptedException => Thread.currentThread().interrupt()
      }

    def send(line: String): Unit = {
      writer.write(line); writer.write("\n"); writer.flush()
    }

    /** Have the idle server close the file it holds warm, before it
      * serves a request on another file: the caller holds a read permit
      * of that file, and gives it back once this returns. A server that
      * fails here is gone, and so is its lock once it has exited. */
    def dropHeld(): Unit = {
      try {
        send("""{"op":"release"}""")
        val t = readJson()
        if (!t.has("ok"))
          throw new IllegalStateException(
            s"duckdb wire framing violated — expected a terminator, got $t")
      } catch {
        case e: Exception => destroy(); awaitExit(); throw e
      }
      held = null
    }

    /** The process ended mid-response: never reusable. */
    def died(): Nothing = {
      destroy()
      val exit =
        try proc.waitFor().toString
        catch {
          case _: InterruptedException =>
            // a cancelled caller: keep its interrupt visible
            Thread.currentThread().interrupt()
            "unknown, caller interrupted"
        }
      throw new WorkerLost(
        s"duckdb subprocess died without terminator (exit $exit): ${errText()}")
    }

    /** The next byte without consuming it; -1 at EOF. */
    def peek(): Int = { in.mark(1); val b = in.read(); in.reset(); b }

    /** One UTF-8 JSON control line. */
    def readJson(): JsonNode = {
      val buf = new java.io.ByteArrayOutputStream(256)
      var b = in.read()
      while (b >= 0 && b != '\n') { buf.write(b); b = in.read() }
      if (b < 0) died()
      val line = buf.toString(StandardCharsets.UTF_8)
      try mapper.readTree(line)
      catch {
        case e: com.fasterxml.jackson.core.JacksonException =>
          destroy() // framing is gone; the server can't be reused
          throw new IllegalStateException(
            s"duckdb wire framing violated — non-JSON stdout line " +
              s"'${line.take(200)}': $e ${errText()}")
      }
    }

    /** Consume a terminator: the server goes back to the pool at the
      * request boundary; `{"err":…}` becomes the request's exception. */
    def terminate(node: JsonNode): JsonNode = {
      if (node.has("err")) {
        release(this)
        throw new IllegalStateException(
          s"duckdb error: ${node.get("err").asText()} ${errText()}")
      }
      if (!node.has("ok")) {
        destroy()
        throw new IllegalStateException(
          s"duckdb wire framing violated — expected a terminator, got $node")
      }
      release(this)
      node
    }
  }

  /** How long a request waits at its file's [[Fence]], in seconds. */
  private val FenceWaitSeconds = 30L

  /** Permits per fence: a read takes one, a write all of them. */
  private val FencePermits = 1 << 20

  /** The read/write fence of one database file. A pooled server keeps a
    * read-only connection open between requests, and DuckDB locks a file
    * single-writer XOR multi-reader across processes, so every request of
    * this JVM orders itself here. A read holds one permit from its request
    * to its terminator (or its worker's exit). A write takes all of them,
    * so it waits for the reads in flight, then has every idle server that
    * holds the file close it ([[releaseIdle]]) before it runs; the next
    * read reopens the file and sees the write. The fence is keyed on the
    * path, not on an executor, because the pool serves every executor.
    * Non-fair, like the file lock: a read never queues behind a waiting
    * write, so a thread's second read of a file cannot wait on a write
    * that waits for its first. A wait that cannot finish (a thread writing
    * a file it still streams) fails after [[FenceWaitSeconds]]. */
  private final class Fence(path: String) {
    private val permits = new Semaphore(FencePermits)
    def read(): Unit = take(1, "read", "the write in progress")
    def tryRead(): Boolean = permits.tryAcquire()
    def unread(): Unit = permits.release()
    def write(): Unit = take(FencePermits, "write", "the reads in flight " +
      "(a thread that writes a file while it still reads it never gets in)")
    def unwrite(): Unit = permits.release(FencePermits)
    private def take(n: Int, what: String, waitedFor: String): Unit = {
      val got =
        try permits.tryAcquire(n, FenceWaitSeconds, TimeUnit.SECONDS)
        catch {
          case _: InterruptedException =>
            // a cancelled caller: keep its interrupt visible
            Thread.currentThread().interrupt()
            throw new IllegalStateException(
              s"duckdb file fence on $path: a $what was interrupted")
        }
      if (!got)
        throw new IllegalStateException(
          s"duckdb file fence on $path: a $what waited $FenceWaitSeconds s " +
            s"for $waitedFor")
    }
  }

  private val fences = new ConcurrentHashMap[String, Fence]

  /** The file's fence; `db` is already a [[key]]. */
  private def fence(db: String): Fence = fences.computeIfAbsent(db, new Fence(_))

  /** One name per file: the fence and the servers' `held` compare it. */
  private def key(db: String): String =
    java.nio.file.Paths.get(db).toAbsolutePath.normalize.toString

  /** Idle-server pool, the most recently returned last (the `db` rides in
    * each request, so one pool serves every executor/harness). A read
    * borrows a server that holds its file when there is one, so it finds
    * the connection warm. Borrowing skips dead servers; returning past the
    * cap destroys. A server goes back to the pool ONLY at a request
    * boundary (terminator consumed) — an early close mid-stream (task
    * cancellation) kills the process instead, because an undrained stream
    * would corrupt the next request. */
  private val PoolCap = 8
  private val idle = new java.util.ArrayDeque[Server](PoolCap)
  Runtime.getRuntime.addShutdownHook(new Thread(() =>
    idle.synchronized(idle.asScala.foreach(_.destroy()))))

  /** An idle server for a request on `db`. A read prefers a server
    * holding `db`, then one holding nothing; a write takes one holding
    * nothing (every holder of `db` has just been released). A server
    * holding another file comes with a read permit of that file, so no
    * write of it runs while the server still has it open: the caller has
    * the server drop the file ([[Server.dropHeld]]), then gives the
    * permit back. */
  private def borrow(db: String, read: Boolean): Option[(Server, Option[Fence])] =
    idle.synchronized {
      idle.removeIf { s => val dead = !s.proc.isAlive; if (dead) s.destroy(); dead }
      val recent = idle.asScala.toList.reverse
      val pick = recent.find(s => read && s.held == db)
        .orElse(recent.find(_.held == null))
        .map((_, Option.empty[Fence]))
        .orElse(recent.iterator.map(s => (s, fence(s.held)))
          .collectFirst { case (s, f) if f.tryRead() => (s, Some(f)) })
      pick.foreach(p => idle.remove(p._1))
      pick
    }

  /** Whether a read may leave its connection open after the request. Only
    * where the fence sees every holder of a file: in the driver JVM, which
    * runs every write (local mode included, where tasks run in it too),
    * or with no Spark at all. An executor JVM of a cluster reads with a
    * connection of one request, so it holds a file's lock only while a
    * read runs, and a driver write that meets that lock waits it out in
    * the worker's connect retry. */
  private def warm: Boolean =
    Option(SparkEnv.get).forall(_.executorId == "driver")

  private def spawn(): Server =
    new Server(new ProcessBuilder("python3", "-c", Script).start())

  private def release(s: Server): Unit = {
    s.idled = true
    val h = s.takeHolds()
    val pooled = s.proc.isAlive && idle.synchronized {
      idle.size < PoolCap && { idle.addLast(s); true }
    }
    // pooled first, then the permits: a write that gets them finds the
    // server in the pool and releases its file
    if (pooled) h.foreach(_.unread())
    else { s.begin(h); s.destroy() }
  }

  /** Send a request on `db` (a [[key]]) to a pooled server (a `fresh`
    * one: a new process); a read holds a read permit of the file's fence
    * until the request ends. */
  private def request(db: String, op: String, extra: String, read: Boolean,
      keep: Boolean = warm, fresh: Boolean = false): Server = {
    val own = if (read) { val f = fence(db); f.read(); List(f) } else Nil
    val srv =
      try (if (fresh) None else borrow(db, read)) match {
        case Some((s, other)) =>
          other.foreach(f => try s.dropHeld() finally f.unread())
          s
        case None => spawn()
      } catch { case e: Throwable => own.foreach(_.unread()); throw e }
    srv.begin(own)
    srv.held = if (read && keep) db else null
    val cold = if (read && !keep) ""","warm":false""" else ""
    try srv.send(s"""{"db":${jstr(db)},"op":"$op"$extra$cold}""")
    catch { case e: java.io.IOException => srv.destroy(); throw e }
    srv
  }

  /** A control op: its metadata line's `key` field. */
  private def control(db: String, op: String, extra: String, key: String,
      read: Boolean): JsonNode = {
    val srv = request(db, op, extra, read)
    val meta = srv.readJson()
    if (!meta.has(key)) {
      srv.terminate(meta) // throws on an err line
      throw new IllegalStateException(s"no $key in the $op response")
    }
    srv.terminate(srv.readJson())
    meta.get(key)
  }

  /** Have every idle server that holds `db` close it. The caller holds the
    * write side of the file's fence, so no read of `db` is in flight and
    * none can start. A server that is gone is waited out instead: its file
    * lock ends with its process. */
  private def releaseIdle(db: String): Unit = {
    val holders = idle.synchronized {
      val hs = idle.asScala.filter(_.held == db).toList
      hs.foreach(idle.remove)
      hs
    }
    holders.foreach { s =>
      try { s.dropHeld(); release(s) }
      catch { case _: Exception => () } // gone, and its lock with it
    }
  }

  /** Run `body` on the write side of `db`'s fence (`db` as given; `body`
    * gets its [[key]]), after every idle holder of the file has closed
    * it. */
  private def writing[A](db: String)(body: String => A): A = {
    val k = key(db)
    val f = fence(k)
    f.write()
    try { releaseIdle(k); body(k) }
    finally f.unwrite()
  }

  /** A streaming query response. The request is sent here; the stream is
    * opened lazily, at the first [[schema]] or row, after the result has
    * registered its cancellation: a killed task, or an interrupted caller
    * off a task, destroys the worker ([[RemoteCancel]]). Owns one
    * `RootAllocator`: [[close]] releases the reader, then the allocator
    * (which throws on leaked buffers); [[cancel]] only kills the worker.
    * The request holds a read permit of its file's [[Fence]] until the
    * terminator; a result cancelled or closed before it kills the worker,
    * whose exit gives the permit back. */
  final class ArrowResult private[DuckDbProcess] (first: Server,
      resend: () => Server) extends AutoCloseable {

    @volatile private var srv = first

    /** The process id of the worker serving the request. */
    def workerPid: Long = srv.proc.pid()
    @volatile private var cancelled = false
    private val watch = RemoteCancel.watch(() => cancel())
    private val allocator = new RootAllocator()
    private var reader: ArrowStreamReader = _
    private var batch: ColumnarBatch = _
    private var rowId = 0
    private var rowsRead = 0L
    // request boundary reached, srv released; volatile because the
    // cancellation watchdog reads it from its own thread
    @volatile private var finished = false

    private def open(): ColumnarBatch = {
      if (batch == null) {
        // a pooled worker killed while idle can still be exiting when it
        // is borrowed: it takes the request and ends before the first
        // byte. The request is a read, so it goes once more, to a fresh
        // worker
        if (srv.idled && !cancelled && srv.peek() == -1) {
          srv.destroy()
          srv = resend()
          if (cancelled) srv.destroy()
        }
        srv.peek() match {
          case -1 => srv.died()
          case '{' =>
            finished = true
            srv.terminate(srv.readJson())
            throw new IllegalStateException(
              "duckdb wire framing violated — a query answered without " +
                "an Arrow stream")
          case 0xFF =>
          case b =>
            srv.destroy()
            throw new IllegalStateException(
              f"duckdb wire framing violated — response starts with 0x$b%02x")
        }
        reader = new ArrowStreamReader(srv.in, allocator)
        val root = wire(reader.getVectorSchemaRoot)
        batch = new ColumnarBatch(root.getFieldVectors.asScala
          .map(v => new ArrowColumnVector(v): ColumnVector).toArray, 0)
      }
      batch
    }

    /** The stream's schema in Spark types (read before any row). */
    lazy val schema: StructType = {
      val b = open()
      StructType(reader.getVectorSchemaRoot.getSchema.getFields.asScala
        .zipWithIndex.map { case (f, i) =>
          StructField(f.getName, b.column(i).dataType) }.toSeq)
    }

    /** An I/O failure mid-stream means the worker is gone. */
    private def wire[A](body: => A): A =
      try body catch { case _: java.io.IOException => srv.died() }

    /** The rows as the stream carries them. Each row is a view into the
      * current batch, valid until the next `hasNext`. */
    val rows: Iterator[InternalRow] = new Iterator[InternalRow] {
      override def hasNext: Boolean = {
        val b = open()
        while (rowId >= b.numRows && !finished) {
          if (wire(reader.loadNextBatch())) {
            b.setNumRows(reader.getVectorSchemaRoot.getRowCount)
            rowId = 0
            rowsRead += b.numRows
          } else {
            finished = true
            val n = srv.terminate(srv.readJson()).get("ok").asLong()
            if (n != rowsRead)
              throw new IllegalStateException(
                s"duckdb wire: the stream carried $rowsRead rows, the " +
                  s"terminator counts $n")
          }
        }
        rowId < b.numRows
      }
      override def next(): InternalRow = {
        if (!hasNext) throw new NoSuchElementException
        rowId += 1
        batch.getRow(rowId - 1)
      }
    }

    /** The rows under the `declared` schema. The drift check runs over
      * the stream's schema before the first row (also for zero-row
      * results); columns whose Arrow type differs from the declared one
      * go through ONE `UnsafeProjection` of [[SchemaCoercion.strict]]
      * expressions, so an impossible value fails the read. Rows that
      * need no coercion pass through as batch views. */
    def rowsAs(declared: StructType, execName: String,
        sql: String): Iterator[InternalRow] = {
      SchemaDrift.check(declared.fields.toIndexedSeq,
        schema.fields.toIndexedSeq.map(f =>
          (f.dataType.sql, Some(SchemaDrift.family(f.dataType)))),
        execName, sql)
      val exprs = declared.fields.indices.map(i => SchemaCoercion.strict(
        BoundReference(i, schema(i).dataType, nullable = true),
        declared(i).dataType))
      if (declared.length == schema.length &&
          exprs.forall(_.isInstanceOf[BoundReference])) rows
      else rows.map(UnsafeProjection.create(exprs))
    }

    /** Task kill: destroy the worker so a blocked read EOFs. The buffers
      * stay with the reading thread, which [[close]]s them. */
    def cancel(): Unit = {
      cancelled = true
      if (!finished) srv.destroy()
    }

    override def close(): Unit = {
      watch.close()
      cancel()
      finished = true
      if (reader != null) reader.close(false)
      allocator.close()
    }
  }

  def query(db: String, sql: String, threads: Int = 0): ArrowResult =
    query(db, sql, threads, warm)

  /** A query whose worker keeps its connection open after it (`keep`,
    * see [[warm]]) or closes it before the terminator. */
  private[graft] def query(db: String, sql: String, threads: Int,
      keep: Boolean): ArrowResult = {
    val k = key(db)
    val extra = s""","sql":${jstr(sql)}""" +
      (if (threads > 0) s""","threads":$threads""" else "")
    new ArrowResult(request(k, "query", extra, read = true, keep),
      () => request(k, "query", extra, read = true, keep, fresh = true))
  }

  def describe(db: String, sql: String): StructType = {
    val cols = control(key(db), "describe", s""","sql":${jstr(sql)}""",
      "cols", read = true)
    StructType((0 until cols.size()).map { i =>
      val pair = cols.get(i)
      StructField(pair.get(0).asText(), catalystType(pair.get(1).asText()))
    })
  }

  def tables(db: String): Seq[String] = {
    val names = control(key(db), "tables", "", "tables", read = true)
    (0 until names.size()).map(names.get(_).asText())
  }

  /** Run `sqls` on one read-write connection, in order, and commit; with
    * `arrow` (paths of Arrow IPC stream files of one schema), the
    * statements read those files' rows, in order, as [[IngestRelation]].
    * Every write to a DuckDB file goes through here (or [[recreate]]): it
    * takes the file's [[Fence]]. */
  def exec(db: String, sqls: Seq[String],
      arrow: Seq[String] = Nil): Seq[Long] =
    writing(db)(runExec(_, sqls, arrow))

  /** Delete the file at `db` and build it anew with `sqls`, on the write
    * side of its fence: no read sees the old file after this starts. */
  def recreate(db: String, sqls: Seq[String]): Seq[Long] =
    writing(db) { k =>
      Seq(k, s"$k.wal").foreach(f =>
        java.nio.file.Files.deleteIfExists(java.nio.file.Paths.get(f)))
      runExec(k, sqls, Nil)
    }

  private def runExec(db: String, sqls: Seq[String],
      arrow: Seq[String]): Seq[Long] = {
    def list(xs: Seq[String]) = xs.map(jstr).mkString("[", ",", "]")
    val files = if (arrow.isEmpty) "" else s""","arrow":${list(arrow)}"""
    val counts = control(db, "exec", s""","sqls":${list(sqls)}$files""",
      "counts", read = false)
    (0 until counts.size()).map(counts.get(_).asLong())
  }

  /** DuckDB type string (DESCRIBE output) → Catalyst type. */
  def catalystType(t: String): DataType = {
    val u = t.toUpperCase
    u match {
      case "TINYINT" => ByteType
      case "SMALLINT" => ShortType
      case "INTEGER" => IntegerType
      case "BIGINT" => LongType
      case "HUGEINT" => DecimalType(38, 0)
      case "FLOAT" | "REAL" => FloatType
      case "DOUBLE" => DoubleType
      case "VARCHAR" => StringType
      case "BOOLEAN" => BooleanType
      case "DATE" => DateType
      case "TIMESTAMP" => TimestampNTZType
      // TIMESTAMPTZ arrives as a zoned Arrow timestamp: an instant
      case "TIMESTAMP WITH TIME ZONE" => TimestampType
      // engine types with no Spark analog surface as their ISO/canonical
      // text form (UUID is already text on the Arrow wire; the worker
      // formats TIME values and refuses TIME WITH TIME ZONE ones, whose
      // offset the Arrow export drops)
      case "UUID" | "TIME" | "TIME WITH TIME ZONE" => StringType
      // month-day-time intervals surface as Spark's CalendarIntervalType
      // and narrow to the ANSI YearMonth/DayTime types through the
      // boundary's strict IntervalCast kernels (the reference's
      // intervals_cast.rs:11-75). The Arrow wire carries them as
      // month_day_nano intervals, lossless at any nesting depth
      case "INTERVAL" => CalendarIntervalType
      // unsigned widths step up one Spark integral size; UBIGINT has no
      // signed 64-bit home and rides as DECIMAL(20,0) (exact)
      case "UTINYINT" => ShortType
      case "USMALLINT" => IntegerType
      case "UINTEGER" => LongType
      case "UBIGINT" => DecimalType(20, 0)
      case "BLOB" => BinaryType
      // JSON reads as text; a declared-schema read
      // (Federation.remoteDataFrameAs) decodes it at the boundary
      case "JSON" => StringType
      // LIST types render as ELEM[]. MUST precede the parameterized-type
      // cases:
      // DECIMAL(2,1)[] starts with "DECIMAL(" too (a latent bug the
      // struct-wire spec's decimal-list leg caught)
      // recurse on the ORIGINAL string, not the uppercased match key —
      // a STRUCT element type carries case-significant field names
      case l if l.endsWith("[]") =>
        ArrayType(catalystType(t.dropRight(2)), containsNull = true)
      case dec if dec.startsWith("DECIMAL(") =>
        val ps = dec.stripPrefix("DECIMAL(").stripSuffix(")").split(",")
        DecimalType(ps(0).trim.toInt, ps(1).trim.toInt)
      // STRUCT(name TYPE, …): field names quote with doubled-"" escaping
      // when non-identifier (probed live, v1.0)
      case s if s.startsWith("STRUCT(") && s.endsWith(")") =>
        StructType(parseStructFields(t.substring(7, t.length - 1)))
      // MAP(K, V): exactly one depth-0 comma separates the two types (K/V
      // may carry parens, commas, and quoted names of their own)
      case m if m.startsWith("MAP(") && m.endsWith(")") =>
        val body = t.substring(4, t.length - 1)
        var depth = 0
        var inQuote = false   // "…"-quoted identifier ("" escapes)
        var inSingle = false  // '…'-quoted literal ('' escapes), e.g. ENUM
        var cut = -1
        var i = 0
        while (i < body.length && cut < 0) {
          val c = body.charAt(i)
          if (inQuote) { if (c == '"') inQuote = false }
          else if (inSingle) { if (c == '\'') inSingle = false }
          else c match {
            case '"' => inQuote = true
            case '\'' => inSingle = true
            case '(' => depth += 1
            case ')' => depth -= 1
            case ',' if depth == 0 => cut = i
            case _ =>
          }
          i += 1
        }
        require(cut > 0, s"malformed MAP type: $t")
        MapType(catalystType(body.substring(0, cut).trim),
          catalystType(body.substring(cut + 1).trim),
          valueContainsNull = true)
      // ENUM('a', 'b', …): a closed string domain — Spark-side it is text
      case e if e.startsWith("ENUM(") && e.endsWith(")") => StringType
      case other =>
        throw new UnsupportedOperationException(s"duckdb type $other")
    }
  }

  /** Parse the body of a DESCRIBE-rendered `STRUCT(…)`: `name TYPE`
    * pairs, comma-separated at paren depth 0; names either bare
    * identifiers or `"…"`-quoted with `""` escapes; TYPE recurses through
    * [[catalystType]] (nested structs/lists/decimals all reappear here). */
  private def parseStructFields(body: String): Seq[StructField] = {
    val out = Seq.newBuilder[StructField]
    val n = body.length
    var i = 0
    while (i < n) {
      while (i < n && body.charAt(i) == ' ') i += 1
      val name = new StringBuilder
      if (body.charAt(i) == '"') {
        i += 1
        var closed = false
        while (!closed) {
          val c = body.charAt(i)
          if (c == '"') {
            if (i + 1 < n && body.charAt(i + 1) == '"') {
              name += '"'; i += 2
            } else { i += 1; closed = true }
          } else { name += c; i += 1 }
        }
      } else
        while (i < n && body.charAt(i) != ' ') { name += body.charAt(i); i += 1 }
      require(i < n && body.charAt(i) == ' ',
        s"malformed STRUCT field at $i in: $body")
      i += 1
      val start = i
      var depth = 0
      var inQuote = false
      var inSingle = false // ENUM value literals are single-quoted
      var stop = false
      while (i < n && !stop) {
        val c = body.charAt(i)
        if (inQuote) { if (c == '"') inQuote = false; i += 1 }
        else if (inSingle) { if (c == '\'') inSingle = false; i += 1 }
        else c match {
          case '"' => inQuote = true; i += 1
          case '\'' => inSingle = true; i += 1
          case '(' => depth += 1; i += 1
          case ')' => depth -= 1; i += 1
          case ',' if depth == 0 => stop = true
          case _ => i += 1
        }
      }
      out += StructField(name.toString,
        catalystType(body.substring(start, i).trim))
      if (i < n) i += 1 // the separating comma
    }
    out.result()
  }
}
