package graft.federation.duckdb

import java.nio.charset.StandardCharsets

import com.fasterxml.jackson.core.JsonParser
import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}

import org.apache.spark.TaskContext
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.plans.logical.ColumnStat
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.federation.sql.{RemoteTableRef, SqlDialect, SqlExecutor, UnparseUnsupported}

/** A live DuckDB remote engine, driven through a subprocess speaking
  * line-JSON over stdin/stdout (the container has the python `duckdb`
  * module but no DuckDB JDBC driver — the same engine the DuckDB oracle
  * runs on, now on the OTHER side of the federation boundary).
  *
  * Execution model mirrors [[graft.federation.jdbc.JdbcSqlExecutor]]:
  * row fetching happens inside `RDD.compute`, where each task spawns its
  * own subprocess opening the database file READ-ONLY — DuckDB permits any
  * number of concurrent read-only processes on one file, so split scans
  * fan out to n parallel engine cursors exactly like n JDBC connections.
  * On a cluster this requires the database file on shared storage and
  * python+duckdb on executors, the same deployment contract as a JDBC
  * driver jar. Writes (DDL/DML/bulk ingest) take the single-writer lock
  * and therefore run driver-side, one statement batch per subprocess.
  *
  * Rows cross the boundary as JSON arrays (one line per row; dates and
  * timestamps in ISO form, decimals as exact strings) and conversion to
  * `InternalRow` is schema-directed, like the JDBC getter dispatch. The
  * reference's executor contract is the same trait this implements
  * (src/sql/executor.rs:18-75); its compute-context warning
  * (src/sql/executor.rs:25-29) maps to the database file path.
  */
final class DuckDbSqlExecutor(
    override val name: String,
    session: SparkSession,
    val dbPath: String,
    override val splitCount: Int = 1,
    override val statsRowCap: Long = 1000000L,
    // Boundary-fetch format switch: results up to this many rows stream
    // as line-JSON (zero file overhead for the common small fragment);
    // rows PAST it spill engine-side to a parquet file the task reads
    // through Spark's vectorized reader — a text pipe caps a cursor at
    // tens of MB/s where the columnar file runs at hundreds (the
    // reference executor contract streams Arrow for the same reason,
    // src/sql/executor.rs:51-56). 0 disables staging. Applies only to
    // fragments whose declared schema is parquet-exact (see
    // [[parquetStageable]]); everything else keeps the lossless JSON
    // wire with its type-faithful conversions.
    val fetchStageRows: Int = 65536)
  extends SqlExecutor {

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

  /** Declared schemas a staged parquet fetch reproduces EXACTLY (probed
    * against the engine's arrow/parquet writers): plain primitives plus
    * decimals — EXCEPT DECIMAL(38,0)/(20,0), which are indistinguishable
    * from HUGEINT/UBIGINT declarations, and those the engine writes to
    * parquet as lossy DOUBLE (probed live). Everything else (intervals,
    * nested types, UUID-as-text, JSON) keeps the type-faithful JSON wire. */
  private def parquetStageable(schema: StructType): Boolean =
    schema.fields.nonEmpty && schema.fields.forall { f =>
      f.dataType match {
        case BooleanType | ByteType | ShortType | IntegerType | LongType |
             FloatType | DoubleType | StringType | BinaryType | DateType |
             TimestampType | TimestampNTZType => true
        case d: DecimalType =>
          !(d.precision == 38 && d.scale == 0) &&
            !(d.precision == 20 && d.scale == 0)
        case _ => false
      }
    }

  private def executeWith(sql: String, schema: StructType,
      threads: Int): RDD[InternalRow] = {
    executedSql.synchronized { executedSql += sql }
    val db = dbPath
    val fields = schema.fields
    val execName = name
    val stageRows = if (parquetStageable(schema)) fetchStageRows else 0
    session.sparkContext.parallelize(Seq(sql), 1).mapPartitions { sqls =>
      sqls.flatMap { q =>
        // the stage dir is task-local: the wire worker runs on this host
        // and writes the spill file here; deleted at task completion
        val stageDir =
          if (stageRows <= 0) None
          else Some(java.nio.file.Files
            .createTempDirectory("graft_fetch_").toString)
        val it = DuckDbProcess.query(db, q, threads,
          stageDir.map((_, stageRows)))
        // the staged tail opens lazily AFTER the JSON prefix drains (the
        // {"staged": …} marker precedes the terminator); cleanup must
        // reach it wherever the task stops
        var stagedTailReader: StagedParquetRows = null
        def cleanup(): Unit = {
          it.close()
          if (stagedTailReader != null) stagedTailReader.close()
          stageDir.foreach { d =>
            org.apache.commons.io.FileUtils
              .deleteQuietly(new java.io.File(d)); ()
          }
        }
        Option(TaskContext.get()).foreach(_.addTaskCompletionListener[Unit] {
          _ => cleanup()
        })
        // task kill → destroy the in-flight subprocess: the blocked pipe
        // read EOFs immediately and the server is never returned to the
        // pool (an undrained stream would corrupt the next request)
        graft.federation.sql.RemoteCancel.watch(() => cleanup())
        // the leading {"desc":…} wire line carries the plan's live output
        // types; the FIRST hasNext consumes it into `it.meta` whether or
        // not any row follows, so the guard anchors there — a zero-row
        // response still gets the column-count protocol check and the
        // text-in-numeric-slot check (the JDBC leg validates
        // ResultSetMetaData before any row for the same reason)
        val jsonPrefix = new Iterator[InternalRow] {
          private var checked = false
          override def hasNext: Boolean = {
            val h = it.hasNext
            if (!checked) {
              checked = true
              DuckDbProcess.driftCheck(it.meta, fields, execName, q)
            }
            h
          }
          override def next(): InternalRow =
            DuckDbProcess.convertRow(it.next(), fields)
        }
        if (stageRows <= 0) jsonPrefix
        else jsonPrefix ++ new Iterator[InternalRow] {
          // evaluated only once the prefix (and so the full wire
          // response) is drained; it.staged is final by then
          private lazy val tail: Iterator[InternalRow] =
            if (it.staged == null) Iterator.empty
            else {
              stagedTailReader = new StagedParquetRows(
                it.staged.get("staged").asText(),
                org.apache.spark.sql.types.StructType(fields))
              stagedTailReader
            }
          override def hasNext: Boolean = tail.hasNext
          override def next(): InternalRow = tail.next()
        }
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
        .map(_.get(0).asText())
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
        .map(_.get(0).asText())
      schemaNamesCache = Some(names)
      names
    }
  }

  override def tableSchema(ref: RemoteTableRef): StructType =
    schemaCache.getOrElseUpdate(ref.toString,
      DuckDbProcess.describe(dbPath, s"SELECT * FROM ${ref.sql(dialect)}"))

  override protected def queryRow(sql: String,
      schema: StructType): InternalRow =
    DuckDbProcess.convertRow(runQuery(sql).head, schema.fields)

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

  /** Driver-side one-shot read query (planning probes, tests). */
  def runQuery(sql: String): Vector[JsonNode] = {
    executedSql.synchronized { executedSql += sql }
    val it = DuckDbProcess.query(dbPath, sql)
    try it.toVector finally it.close()
  }

  /** Driver-side write batch: the statements run on ONE connection holding
    * the single-writer lock, in order. Returns per-statement change counts
    * (-1 where the engine reports none, e.g. DDL). */
  def runWrite(sqls: Seq[String]): Seq[Long] = {
    dmlLog.synchronized { dmlLog ++= sqls }
    DuckDbProcess.exec(dbPath, sqls)
  }

  /** Distributed-write path: at cluster scale rows land as a parquet
    * staging directory written by N parallel Spark tasks (Spark's commit
    * protocol makes that half retry-idempotent), then ONE driver-side
    * `INSERT INTO t SELECT … FROM read_parquet(…)` bulk-ingests it —
    * DuckDB is a single-writer engine, so a per-task INSERT fan-in like
    * the JDBC path's is impossible by design, and parquet staging is the
    * engine's own recommended bulk path. With an epoch, the fence row
    * rides the SAME engine transaction as the bulk ingest (`BEGIN …
    * COMMIT` through one connection of the request loop; a failure
    * mid-list surfaces as the request error and the open transaction
    * rolls back on the per-request connection close). */
  override protected def ingest(ref: RemoteTableRef,
      df: org.apache.spark.sql.DataFrame, epoch: Option[Long]): Unit = {
    val schema = targetSchema(ref, df)
    val stage = java.nio.file.Files
      .createTempDirectory(stagingRoot, "ingest_").toString
    // positional alignment: rename to the target's column names so the
    // by-name parquet read cannot mispair
    try {
      val renamed = df.toDF(schema.fieldNames.toIndexedSeq: _*)
      renamed.write.mode("overwrite").parquet(stage)
      val cols = schema.fieldNames
        .map(dialect.quoteIfNeeded).mkString(", ")
      val insert = s"INSERT INTO ${ref.sql(dialect)} ($cols) " +
        s"SELECT $cols FROM read_parquet('$stage/*.parquet')"
      runWrite(epoch match {
        case None => Seq(insert)
        case Some(id) => Seq("BEGIN", insert,
          s"INSERT INTO ${epochTableRef(ref).sql(dialect)} VALUES ($id)",
          "COMMIT")
      })
    } finally deleteRecursively(new java.io.File(stage))
  }

  private def deleteRecursively(f: java.io.File): Unit = {
    val children = f.listFiles()
    if (children != null) children.foreach(deleteRecursively)
    f.delete()
    ()
  }

  private lazy val stagingRoot = {
    val p = java.nio.file.Paths.get("target", "duckdb-staging")
    java.nio.file.Files.createDirectories(p)
    p
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

/** The subprocess protocol: one python process per request, request as a
  * single JSON line on stdin, response as JSON lines on stdout — row lines
  * are ARRAYS, control lines are OBJECTS (`{"ok":n}` terminator,
  * `{"err":…}` failure, `{"cols":…}`/`{"tables":…}` metadata), so framing
  * needs no length prefixes. Startup (python + import duckdb + file open)
  * measures ~0.15s — the per-cursor cost a production engine would pay as
  * connection setup, amortized over the fetch.
  */
object DuckDbProcess {

  /** The entire engine adapter, shipped as `python3 -c <script>` — a
    * PERSISTENT request loop (one JSON request line in → row lines + one
    * terminator line out, flushed per request), so the ~130 ms
    * python+duckdb import is paid once per pooled server, not once per
    * query. Each request opens and CLOSES its own connection — no file
    * lock survives between requests, so a pooled server never blocks a
    * writer. A request-level failure emits an `err` terminator and the
    * loop keeps serving; only EOF on stdin (or a crash) ends the
    * process. Values are JSON-encoded with dates/timestamps in ISO
    * text, decimals as exact strings, binary as base64; NaN/Infinity
    * ride as bare JSON tokens (Jackson parses them with
    * ALLOW_NON_NUMERIC_NUMBERS). */
  private val Script =
    """import sys, json, datetime, decimal, base64, uuid, time
      |import duckdb
      |out = sys.stdout
      |def conv(v):
      |    if isinstance(v, datetime.datetime): return v.isoformat(sep=' ')
      |    if isinstance(v, datetime.date): return v.isoformat()
      |    if isinstance(v, datetime.time): return v.isoformat()
      |    if isinstance(v, datetime.timedelta):
      |        raise ValueError("INTERVAL nested inside list/struct/map is "
      |            "unsupported on the wire: the client API collapses the "
      |            "month component into days (lossy)")
      |    if isinstance(v, decimal.Decimal): return str(v)
      |    if isinstance(v, uuid.UUID): return str(v)
      |    if isinstance(v, (bytes, bytearray)):
      |        return base64.b64encode(v).decode()
      |    if isinstance(v, list): return [conv(x) for x in v]
      |    if isinstance(v, dict): return {k: conv(x) for k, x in v.items()}
      |    return v
      |def skip_quoted(t, i):
      |    # t[i] is ' or '"'; returns the index just past the closing
      |    # quote; doubled quotes escape
      |    qc = t[i]; i += 1; n = len(t)
      |    while i < n:
      |        if t[i] == qc:
      |            if i + 1 < n and t[i + 1] == qc: i += 2; continue
      |            return i + 1
      |        i += 1
      |    return n
      |def split_order_tail(q):
      |    # (head, tail) at the LAST top-level ORDER BY: depth 0, outside
      |    # string/identifier quotes. The tail includes any trailing
      |    # LIMIT/OFFSET (the client unparser emits them after ORDER BY);
      |    # they hoist with it -- projection is 1:1 per row, so
      |    # wrap(order+limit(core)) == order+limit(wrap(core)).
      |    i = 0; depth = 0; idx = -1; n = len(q)
      |    while i < n:
      |        c = q[i]
      |        if c in "'\"": i = skip_quoted(q, i); continue
      |        if c == '(': depth += 1
      |        elif c == ')': depth -= 1
      |        elif depth == 0 and q[i:i+8].upper() == 'ORDER BY': idx = i
      |        i += 1
      |    if idx < 0: return q, ''
      |    return q[:idx], q[idx:]
      |def tail_idents(tail):
      |    # identifier tokens in the tail: bare words case-folded (DuckDB
      |    # folds unquoted identifiers), '"'-quoted exact ('""' unescaped);
      |    # '...'-quoted string literals are skipped (values, not refs)
      |    bare = set(); quoted = set()
      |    i = 0; n = len(tail)
      |    while i < n:
      |        c = tail[i]
      |        if c == "'": i = skip_quoted(tail, i); continue
      |        if c == '"':
      |            j = skip_quoted(tail, i)
      |            quoted.add(tail[i+1:j-1].replace('""', '"'))
      |            i = j; continue
      |        if c.isalpha() or c == '_':
      |            j = i
      |            while j < n and (tail[j].isalnum() or tail[j] == '_'):
      |                j += 1
      |            bare.add(tail[i:j].lower())
      |            i = j; continue
      |        i += 1
      |    return bare, quoted
      |def hoistable(tail, ivnames):
      |    # True when the tail references only output-name columns: the
      |    # client unparser renders select-list sort keys as bare output
      |    # aliases, so they bind above the wrap too. A dot followed by
      |    # an identifier start or a quote is an inner-alias-qualified
      |    # ref (numeric literals have a digit after the dot) -- those
      |    # bind only INSIDE the query, so the tail must stay put.
      |    i = 0; n = len(tail)
      |    while i < n:
      |        c = tail[i]
      |        if c in "'\"": i = skip_quoted(tail, i); continue
      |        if c == '.' and i + 1 < n and (tail[i+1].isalpha()
      |                or tail[i+1] in '_"'):
      |            return False
      |        i += 1
      |    # a tail that references any REPLACEd interval column must NOT
      |    # hoist: outside the wrap the name binds to the VARCHAR cast, so
      |    # the engine would sort the interval's TEXT rendering ('9 days' >
      |    # '15 days') -- wrong rows under LIMIT, wrong order without it.
      |    # Keep-inside sorts the native interval, which DuckDB compares by
      |    # normalized duration (probed: 25h > 1 day, 1 month = 30 days) --
      |    # for DECLARED ANSI intervals the excluded components are zero by
      |    # the strict narrowing contract, so engine order == Spark order.
      |    bare, quoted = tail_idents(tail)
      |    return not any(nm.lower() in bare or nm in quoted
      |                   for nm in ivnames)
      |while True:
      |    line = sys.stdin.readline()
      |    if not line: break
      |    con = None
      |    term = None
      |    try:
      |        req = json.loads(line)
      |        # cross-process locking is single-writer XOR multi-reader;
      |        # a live workload overlaps them (a streaming source polls
      |        # the table while a writer ingests), so lock conflicts are
      |        # TRANSIENT — connections live only for one request. Retry
      |        # the connect with a bound instead of failing the request.
      |        deadline = time.monotonic() + 30.0
      |        while True:
      |            try:
      |                con = duckdb.connect(req["db"],
      |                                     read_only=req.get("ro", True))
      |                break
      |            except Exception as ce:
      |                if ("lock" not in str(ce).lower()
      |                        or time.monotonic() > deadline):
      |                    raise
      |                time.sleep(0.05)
      |        # the progress bar writes "nnn%..." lines to STDOUT once a
      |        # query runs past its trigger (~2s — first seen on a 15M-row
      |        # quantile probe in the r10 boundary stress), corrupting the
      |        # line-JSON framing; stdout belongs to the protocol
      |        try: con.execute("SET enable_progress_bar = false")
      |        except Exception: pass
      |        op = req["op"]
      |        # split cursors ask for a fair thread share (see
      |        # executeSplit) so n concurrent instances parallelize
      |        # instead of oversubscribing n*cores threads
      |        th = req.get("threads")
      |        if th:
      |            try: con.execute("SET threads TO %d" % int(th))
      |            except Exception: pass
      |        if op == "query":
      |            q = req["sql"]
      |            # lazy-bind: the plan's output names/types feed the
      |            # leading {"desc":…} metadata line (the client's remote
      |            # schema-drift guard) and decide the INTERVAL text wrap;
      |            # execution starts at the first fetchmany, so the common
      |            # path binds exactly once
      |            cur = con.sql(q)
      |            names = cur.columns if cur is not None else []
      |            ts = [str(t) for t in cur.types] if cur is not None else []
      |            out.write(json.dumps({"desc":
      |                [[names[i], ts[i]] for i in range(len(ts))]}) + "\n")
      |            sd = req.get("stage_dir")
      |            if sd and cur is not None \
      |                    and not any(t == "INTERVAL" for t in ts):
      |                # Adaptive staged fetch: stream the first stage_rows
      |                # rows as JSON lines (small results pay no file), and
      |                # spill everything PAST the threshold to a parquet
      |                # file the client reads natively — line-JSON text
      |                # caps a cursor at tens of MB/s, the columnar file
      |                # runs at engine speed. One pass over one cursor:
      |                # arrow record batches, never a re-execution (a
      |                # re-run COPY could return different rows for
      |                # non-deterministic fragments, e.g. unordered LIMIT).
      |                import os, uuid as uuid_mod
      |                import pyarrow.parquet as pq_mod
      |                rdr = cur.fetch_arrow_reader(int(req["stage_rows"]))
      |                first = next(rdr, None)
      |                n = 0
      |                if first is not None:
      |                    cols = [c.to_pylist() for c in first.columns]
      |                    for i in range(first.num_rows):
      |                        out.write(json.dumps(
      |                            [conv(cols[j][i])
      |                             for j in range(len(cols))]))
      |                        out.write("\n")
      |                        n += 1
      |                second = next(rdr, None)
      |                if second is not None:
      |                    path = os.path.join(sd,
      |                        "staged-%s.parquet" % uuid_mod.uuid4().hex)
      |                    w = pq_mod.ParquetWriter(path, rdr.schema)
      |                    staged = 0
      |                    try:
      |                        w.write_batch(second)
      |                        staged += second.num_rows
      |                        for b in rdr:
      |                            w.write_batch(b)
      |                            staged += b.num_rows
      |                    finally:
      |                        w.close()
      |                    out.write(json.dumps(
      |                        {"staged": path, "rows": staged}) + "\n")
      |                    n += staged
      |                term = {"ok": n}
      |            elif any(t == "INTERVAL" for t in ts):
      |                # fetchall() collapses INTERVAL months into timedelta
      |                # days (1 month -> 30 days, probed live) -- lossy, so
      |                # ship the engine's exact text rendering instead and
      |                # let the client parse it back to a calendar interval
      |                if len(set(names)) != len(names):
      |                    raise ValueError(
      |                        "INTERVAL columns need unique names: %s" % names)
      |                rep = ", ".join(
      |                    'CAST("%s" AS VARCHAR) AS "%s"'
      |                    % ((n.replace('"', '""'),) * 2)
      |                    for n, t in zip(names, ts) if t == "INTERVAL")
      |                # a pushed top-level ORDER BY must keep its SQL-level
      |                # guarantee through the wrap (the client may report
      |                # outputOrdering): hoist the tail outside when it
      |                # binds there; otherwise (dropped-column sort keys)
      |                # keep it inside and pin the engine's order
      |                # preservation explicitly instead of relying on the
      |                # session default
      |                ivnames = [n2 for n2, t2 in zip(names, ts)
      |                           if t2 == "INTERVAL"]
      |                head, tail = split_order_tail(q)
      |                if tail and hoistable(tail, ivnames):
      |                    cur = con.sql(
      |                        "SELECT * REPLACE (%s) FROM (%s) __graft_iv %s"
      |                        % (rep, head, tail))
      |                else:
      |                    if tail:
      |                        # the tail stays inside the wrap; the wrap's
      |                        # outer projection must not reorder it. The
      |                        # session flag alone is not a contractual
      |                        # guarantee under parallel execution, so pin
      |                        # single-threaded too -- this shape (interval
      |                        # outputs + non-hoistable ORDER BY) is rare
      |                        # and correctness beats cursor parallelism
      |                        con.execute(
      |                            "SET preserve_insertion_order = true")
      |                        con.execute("SET threads TO 1")
      |                    cur = con.sql(
      |                        "SELECT * REPLACE (%s) FROM (%s) __graft_iv"
      |                        % (rep, q))
      |            if term is None:  # staged fetch already terminated
      |                n = 0
      |                while cur is not None:
      |                    rows = cur.fetchmany(8192)
      |                    if not rows: break
      |                    for r in rows:
      |                        out.write(json.dumps([conv(v) for v in r]))
      |                        out.write("\n")
      |                        n += 1
      |                term = {"ok": n}
      |        elif op == "describe":
      |            rows = con.execute("DESCRIBE " + req["sql"]).fetchall()
      |            out.write(json.dumps(
      |                {"cols": [[r[0], r[1]] for r in rows]}) + "\n")
      |            term = {"ok": len(rows)}
      |        elif op == "tables":
      |            rows = con.execute(
      |                "SELECT table_name FROM information_schema.tables "
      |                "WHERE table_schema = 'main' ORDER BY table_name"
      |            ).fetchall()
      |            out.write(json.dumps(
      |                {"tables": [r[0] for r in rows]}) + "\n")
      |            term = {"ok": len(rows)}
      |        elif op == "exec":
      |            counts = []
      |            for s in req["sqls"]:
      |                cur = con.execute(s)
      |                try:
      |                    rows = cur.fetchall()
      |                    counts.append(rows[0][0] if rows and
      |                        isinstance(rows[0][0], int) else -1)
      |                except Exception:
      |                    counts.append(-1)
      |            con.commit()
      |            out.write(json.dumps({"counts": counts}) + "\n")
      |            term = {"ok": len(counts)}
      |        else:
      |            raise ValueError("unknown op: " + op)
      |    except Exception as e:
      |        term = {"err": "%s: %s" % (type(e).__name__, e)}
      |    finally:
      |        # close BEFORE the terminator: the client takes the
      |        # terminator as "request done" and may immediately send a
      |        # conflicting (e.g. exclusive-write) request to ANOTHER
      |        # pooled server — the file lock must already be gone
      |        try:
      |            if con is not None: con.close()
      |        except Exception: pass
      |        out.write(json.dumps(term) + "\n")
      |        out.flush()
      |""".stripMargin

  private val mapper = {
    val m = new ObjectMapper()
    m.configure(JsonParser.Feature.ALLOW_NON_NUMERIC_NUMBERS, true)
    m
  }

  private def jstr(s: String): String = mapper.writeValueAsString(s)

  /** One pooled server process: persistent writer/reader + a stderr
    * drain thread for its whole lifetime (a blocked stderr pipe would
    * deadlock the engine; the captured text feeds error messages). */
  private final class Server(val proc: Process) {
    val writer = new java.io.OutputStreamWriter(proc.getOutputStream,
      StandardCharsets.UTF_8)
    val reader = new java.io.BufferedReader(
      new java.io.InputStreamReader(proc.getInputStream,
        StandardCharsets.UTF_8), 1 << 16)
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
  }

  /** Idle-server pool (the `db` rides in each request, so servers are
    * database-agnostic and one pool serves every executor/harness).
    * Borrowing skips dead servers; returning past the cap destroys. A
    * server goes back to the pool ONLY at a request boundary (terminator
    * or request-level `err` consumed) — an early close mid-stream (task
    * cancellation) kills the process instead, because undrained rows
    * would corrupt the next request. */
  private val PoolCap = 8
  private val pool =
    new java.util.concurrent.ArrayBlockingQueue[Server](PoolCap)
  Runtime.getRuntime.addShutdownHook(new Thread(() => {
    var s = pool.poll()
    while (s != null) { s.destroy(); s = pool.poll() }
  }))

  private def borrow(): Server = {
    var s = pool.poll()
    while (s != null && !s.proc.isAlive) { s.destroy(); s = pool.poll() }
    if (s == null) new Server(new ProcessBuilder("python3", "-c", Script).start())
    else s
  }

  private def release(s: Server): Unit =
    if (!s.proc.isAlive || !pool.offer(s)) s.destroy()

  /** A streaming response: JSON row lines pulled lazily off the pooled
    * server's stdout; the terminator/err line is consumed by `hasNext`,
    * which returns the server to the pool. `close()` before the
    * terminator kills the server (task cancellation mid-stream). */
  final class ResponseIterator private[DuckDbProcess] (srv: Server)
    extends Iterator[JsonNode] with AutoCloseable {

    private var nextNode: JsonNode = _
    @volatile private var done = false
    // request boundary reached, srv released; volatile because the
    // cancellation watchdog reads it from its own thread
    @volatile private var finished = false

    /** Control metadata (cols/tables) when the first line was an object. */
    var meta: JsonNode = _

    /** Staged-fetch marker (`{"staged": path, "rows": n}`): the server
      * spilled rows past the stage threshold to a parquet file. Set only
      * once the stream is fully drained (the marker follows the JSON
      * row prefix). */
    var staged: JsonNode = _

    override def hasNext: Boolean = {
      while (nextNode == null && !done) {
        val line = srv.reader.readLine()
        if (line == null) {
          done = true
          srv.proc.waitFor()
          val exit = srv.proc.exitValue()
          srv.destroy()
          throw new IllegalStateException(
            s"duckdb subprocess died without terminator " +
              s"(exit $exit): ${srv.errText()}")
        } else {
          val node =
            try mapper.readTree(line)
            catch {
              case e: com.fasterxml.jackson.core.JacksonException =>
                srv.destroy() // framing is gone; the server can't be reused
                done = true
                throw new IllegalStateException(
                  s"duckdb wire framing violated — non-JSON stdout line " +
                    s"'${line.take(200)}': $e ${srv.errText()}")
            }
          if (node.isArray) nextNode = node
          else if (node.has("err")) {
            done = true; finished = true
            release(srv) // request-level failure: the loop keeps serving
            throw new IllegalStateException(
              s"duckdb error: ${node.get("err").asText()} ${srv.errText()}")
          } else if (node.has("ok")) {
            done = true; finished = true
            release(srv)
          } else if (node.has("staged")) staged = node
          else meta = node // cols / tables / counts metadata line
        }
      }
      nextNode != null
    }

    override def next(): JsonNode = {
      if (!hasNext) throw new NoSuchElementException
      val n = nextNode
      nextNode = null
      n
    }

    override def close(): Unit = {
      if (!finished) srv.destroy()
      done = true
    }

    /** Drain to the terminator and return the metadata line. */
    def drainMeta(): JsonNode = {
      while (hasNext) next()
      close()
      meta
    }
  }

  private def request(db: String, ro: Boolean, op: String,
      extra: String): ResponseIterator = {
    val srv = borrow()
    val req = s"""{"db":${jstr(db)},"ro":$ro,"op":"$op"$extra}"""
    try {
      srv.writer.write(req); srv.writer.write("\n"); srv.writer.flush()
    } catch {
      case e: java.io.IOException => srv.destroy(); throw e
    }
    new ResponseIterator(srv)
  }

  /** `stage` = Some((dir, rows)): ask the server to spill rows past the
    * threshold to a parquet file under `dir` (adaptive staged fetch). */
  def query(db: String, sql: String, threads: Int = 0,
      stage: Option[(String, Int)] = None): ResponseIterator =
    request(db, ro = true, "query", s""","sql":${jstr(sql)}""" +
      (if (threads > 0) s""","threads":$threads""" else "") +
      stage.map { case (dir, rows) =>
        s""","stage_dir":${jstr(dir)},"stage_rows":$rows"""
      }.getOrElse(""))

  /** Staged parquet files opened by fetch tasks, JVM-wide — observability
    * for specs and the stress harness (local mode shares the JVM). */
  val stagedFetches = new java.util.concurrent.atomic.AtomicLong

  def describe(db: String, sql: String): StructType = {
    val meta = request(db, ro = true, "describe",
      s""","sql":${jstr(sql)}""").drainMeta()
    require(meta != null && meta.has("cols"), s"no cols in describe response")
    val fields = (0 until meta.get("cols").size()).map { i =>
      val pair = meta.get("cols").get(i)
      StructField(pair.get(0).asText(), catalystType(pair.get(1).asText()))
    }
    StructType(fields)
  }

  def tables(db: String): Seq[String] = {
    val meta = request(db, ro = true, "tables", "").drainMeta()
    require(meta != null && meta.has("tables"), "no tables in response")
    (0 until meta.get("tables").size()).map(meta.get("tables").get(_).asText())
  }

  def exec(db: String, sqls: Seq[String]): Seq[Long] = {
    val arr = sqls.map(jstr).mkString("[", ",", "]")
    val meta = request(db, ro = false, "exec", s""","sqls":$arr""")
      .drainMeta()
    require(meta != null && meta.has("counts"), "no counts in exec response")
    (0 until meta.get("counts").size())
      .map(meta.get("counts").get(_).asLong())
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
      // TIMESTAMPTZ values ride the wire with an explicit UTC offset
      // (python isoformat keeps tzinfo); convertValue parses it
      case "TIMESTAMP WITH TIME ZONE" => TimestampType
      // engine types with no Spark analog surface as their ISO/canonical
      // text form (probed live: the python client yields uuid.UUID and
      // datetime.time objects, which the wire script renders as str —
      // without the conv branches json.dumps raised TypeError and the
      // whole request failed)
      case "UUID" | "TIME" | "TIME WITH TIME ZONE" => StringType
      // month-day-time intervals surface as Spark's CalendarIntervalType
      // and narrow to the ANSI YearMonth/DayTime types through the
      // boundary's strict IntervalCast kernels (the reference's
      // intervals_cast.rs:11-75). The wire ships the engine's exact text
      // rendering — the python client's native timedelta is LOSSY (months
      // collapse to 30-day blocks, probed live), so the subprocess wraps
      // interval columns in CAST(… AS VARCHAR) before fetching
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
      // LIST types render as ELEM[]; elements ride the row line as a
      // nested JSON array. MUST precede the parameterized-type cases:
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
      // when non-identifier (probed live, v1.0); values ride the row line
      // as a nested JSON object keyed by field name
      case s if s.startsWith("STRUCT(") && s.endsWith(")") =>
        StructType(parseStructFields(t.substring(7, t.length - 1)))
      // MAP(K, V): exactly one depth-0 comma separates the two types (K/V
      // may carry parens, commas, and quoted names of their own); values
      // ride the row line as {"key":[…],"value":[…]} parallel lists — the
      // python client's map form, probed live on v1.0
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

  /** Execution-time drift guard over the wire's leading `{"desc":…}`
    * metadata line (the bound plan's output names + DuckDB type strings).
    * Types the parser doesn't know are skipped — best-effort by design
    * (see [[graft.federation.sql.SchemaDrift]]). */
  def driftCheck(meta: JsonNode, fields: Array[StructField],
      execName: String, sql: String): Unit = {
    if (meta == null || !meta.has("desc")) return
    val desc = meta.get("desc")
    val live = (0 until desc.size()).map { i =>
      val t = desc.get(i).get(1).asText()
      (t, scala.util.Try(
        graft.federation.sql.SchemaDrift.family(catalystType(t))).toOption)
    }
    graft.federation.sql.SchemaDrift.check(
      fields.toIndexedSeq, live, execName, sql)
  }

  /** Schema-directed JSON → InternalRow conversion (the duckdb analog of
    * the JDBC getter dispatch). */
  def convertRow(node: JsonNode, fields: Array[StructField]): InternalRow = {
    val row = new GenericInternalRow(fields.length)
    var i = 0
    while (i < fields.length) {
      row(i) = convertValue(node.get(i), fields(i).dataType)
      i += 1
    }
    row
  }

  /** DuckDB's canonical interval text (`CAST(iv AS VARCHAR)`) → Spark
    * [[org.apache.spark.unsafe.types.CalendarInterval]]. Probed live:
    * `[-]N year[s]` / `[-]N month[s]` / `[-]N day[s]` components in that
    * order, then an optional `[-]HH:MM:SS[.ffffff]` tail whose leading
    * sign applies to the whole time part (hours may exceed 23, e.g.
    * `26:00:00`); a pure-zero interval renders as `00:00:00`. */
  def parseIntervalText(s: String): org.apache.spark.unsafe.types.CalendarInterval = {
    var months = 0L
    var days = 0L
    var micros = 0L
    val toks = s.trim.split("\\s+")
    var i = 0
    while (i < toks.length) {
      val t = toks(i)
      if (t.indexOf(':') >= 0) {
        val neg = t.startsWith("-")
        val parts = (if (neg) t.substring(1) else t).split(":")
        require(parts.length == 3, s"malformed interval time in '$s'")
        val secDot = parts(2).indexOf('.')
        val sec = (if (secDot < 0) parts(2) else parts(2).take(secDot)).toLong
        val frac =
          if (secDot < 0) 0L
          else (parts(2).drop(secDot + 1) + "000000").take(6).toLong
        val tus = ((parts(0).toLong * 60 + parts(1).toLong) * 60 + sec) *
          1000000L + frac
        micros += (if (neg) -tus else tus)
        i += 1
      } else {
        require(i + 1 < toks.length, s"malformed interval '$s'")
        val n = t.toLong
        toks(i + 1).stripSuffix("s") match {
          case "year" => months += n * 12
          case "month" => months += n
          case "day" => days += n
          case u =>
            throw new IllegalArgumentException(
              s"unknown interval unit '$u' in '$s'")
        }
        i += 2
      }
    }
    new org.apache.spark.unsafe.types.CalendarInterval(
      math.toIntExact(months), math.toIntExact(days), micros)
  }

  /** `jsonWorld` tracks which serialization produced `v`'s subtree:
    * `false` = the python client's native value forms (maps as
    * {"key":[…],"value":[…]} parallel lists), `true` = a `to_json`-style
    * JSON text column decoded under a DECLARED schema (maps as plain
    * objects). It flips to true exactly where a textual value is parsed,
    * and propagates down — so a map nested inside a declared-JSON struct
    * decodes as a plain object even when its shape happens to look like
    * the parallel-list wire form (was: silent mis-decode of a legitimate
    * 2-entry {"key":[…],"value":[…]} user object). */
  private def convertValue(v: JsonNode, dt: DataType,
      jsonWorld: Boolean = false): Any =
    if (v == null || v.isNull) null
    else dt match {
      case ByteType => v.asInt().toByte
      case ShortType => v.asInt().toShort
      case IntegerType => v.asInt()
      case LongType => v.asLong()
      case FloatType => v.asDouble().toFloat
      case DoubleType => v.asDouble()
      case BooleanType => v.asBoolean()
      case StringType => UTF8String.fromString(v.asText())
      case d: DecimalType =>
        Decimal(new java.math.BigDecimal(v.asText()), d.precision, d.scale)
      case DateType =>
        java.time.LocalDate.parse(v.asText()).toEpochDay.toInt
      case TimestampNTZType =>
        val t = v.asText()
        val ldt =
          if (t.indexOf(' ') >= 0)
            java.time.LocalDateTime.parse(t.replace(' ', 'T'))
          else java.time.LocalDate.parse(t).atStartOfDay()
        ldt.toEpochSecond(java.time.ZoneOffset.UTC) * 1000000L +
          ldt.getNano / 1000L
      case TimestampType =>
        // TIMESTAMPTZ rides with an explicit offset (python isoformat
        // keeps tzinfo — probed: '2024-01-01 08:00:00+00:00'); an
        // offset-less value (engine session already UTC) falls back to
        // the NTZ parse, interpreted as UTC
        val t = v.asText().replace(' ', 'T')
        val instant =
          try java.time.OffsetDateTime.parse(t).toInstant
          catch {
            case _: java.time.format.DateTimeParseException =>
              val ldt =
                if (t.indexOf('T') >= 0) java.time.LocalDateTime.parse(t)
                else java.time.LocalDate.parse(t).atStartOfDay()
              ldt.toInstant(java.time.ZoneOffset.UTC)
          }
        instant.getEpochSecond * 1000000L + instant.getNano / 1000L
      case BinaryType =>
        java.util.Base64.getDecoder.decode(v.asText())
      case CalendarIntervalType => parseIntervalText(v.asText())
      // DECLARED ANSI interval over an engine INTERVAL column: the strict
      // narrowing of IntervalCast applied as the value lands (reference
      // intervals_cast.rs:11-75 — discarded components must be zero)
      case _: YearMonthIntervalType =>
        val ci = parseIntervalText(v.asText())
        if (ci.days != 0 || ci.microseconds != 0)
          throw new IllegalArgumentException(
            s"cannot cast interval '$ci' to YEAR TO MONTH: " +
              "day/time components present")
        java.lang.Integer.valueOf(ci.months)
      case _: DayTimeIntervalType =>
        val ci = parseIntervalText(v.asText())
        if (ci.months != 0)
          throw new IllegalArgumentException(
            s"cannot cast interval '$ci' to DAY TO SECOND: " +
              "month component present")
        java.lang.Long.valueOf(
          ci.days * (24L * 60 * 60 * 1000 * 1000) +
            (ci.microseconds / 1000L) * 1000L)
      case ArrayType(et, _) =>
        // textual wire value + declared array = JSON-encoded column
        // (engine VARCHAR, declared ARRAY): decode, then convert — the
        // same boundary coercion as the struct case below
        val arr = if (v.isTextual) mapper.readTree(v.asText()) else v
        val world = jsonWorld || v.isTextual
        val out = new Array[Any](arr.size())
        var j = 0
        while (j < out.length) {
          out(j) = convertValue(arr.get(j), et, world); j += 1
        }
        new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
      case st: StructType =>
        // a native engine STRUCT rides as a JSON object; a VARCHAR column
        // under a DECLARED struct schema rides as JSON text and decodes
        // here — the wire-side analog of the reference's string→struct
        // schema-cast kernel (schema_cast/struct_cast.rs:12-55; the local
        // path is SchemaCoercion's from_json)
        val obj = if (v.isTextual) mapper.readTree(v.asText()) else v
        val world = jsonWorld || v.isTextual
        val row = new GenericInternalRow(st.fields.length)
        var j = 0
        while (j < st.fields.length) {
          row(j) = convertValue(obj.get(st.fields(j).name),
            st.fields(j).dataType, world)
          j += 1
        }
        row
      case MapType(kt, vt, _) =>
        // a native engine MAP rides as {"key":[…],"value":[…]} parallel
        // lists (the python client's map form — keys keep their wire
        // type, so non-VARCHAR keys survive); a VARCHAR/JSON column
        // under a DECLARED map schema rides as JSON text in plain
        // object form {"k": v, …} (to_json output) and decodes here,
        // keys re-typed from their text. The two forms are told apart by
        // PROVENANCE, not shape: to_json never emits the parallel-list
        // form, the native client never emits the plain-object form — so
        // once a subtree entered through JSON text (`jsonWorld`), a
        // 2-entry {"key":[…],"value":[…]} user object decodes as the
        // plain map it is
        val obj = if (v.isTextual) mapper.readTree(v.asText()) else v
        val world = jsonWorld || v.isTextual
        val kArr = obj.get("key")
        val vArr = obj.get("value")
        val (ks, vs) =
          if (!world && obj.size() == 2 && kArr != null && vArr != null &&
              kArr.isArray && vArr.isArray && kArr.size() == vArr.size()) {
            val n = kArr.size()
            val k = new Array[Any](n)
            val w = new Array[Any](n)
            var j = 0
            while (j < n) {
              k(j) = convertValue(kArr.get(j), kt, world)
              w(j) = convertValue(vArr.get(j), vt, world)
              j += 1
            }
            (k, w)
          } else {
            val n = obj.size()
            val k = new Array[Any](n)
            val w = new Array[Any](n)
            val it = obj.fields()
            var j = 0
            while (it.hasNext) {
              val e = it.next()
              k(j) = convertValue(
                com.fasterxml.jackson.databind.node.TextNode
                  .valueOf(e.getKey), kt, world)
              w(j) = convertValue(e.getValue, vt, world)
              j += 1
            }
            (k, w)
          }
        new org.apache.spark.sql.catalyst.util.ArrayBasedMapData(
          new org.apache.spark.sql.catalyst.util.GenericArrayData(ks),
          new org.apache.spark.sql.catalyst.util.GenericArrayData(vs))
      case other =>
        throw new UnsupportedOperationException(s"duckdb read of $other")
    }
}

