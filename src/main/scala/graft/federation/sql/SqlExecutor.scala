package graft.federation.sql

import scala.collection.concurrent.TrieMap
import scala.util.control.NonFatal

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.UnsafeProjection
import org.apache.spark.sql.catalyst.plans.logical.{ColumnStat, Statistics}
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

/** The remote-engine driver interface — Spark analog of the reference's
  * `SQLExecutor` trait (src/sql/executor.rs:18-75): identity + dialect +
  * query execution + catalog introspection + optional hooks.
  *
  * An engine implements:
  *  - [[execute]]: the fragment read. It returns an `RDD[InternalRow]`
  *    (not an iterator) so each engine chooses where the remote I/O
  *    happens: the JDBC executor opens connections inside `RDD.compute`
  *    on executor tasks (N partitions = N parallel remote cursors); the
  *    in-process mock returns the inner session's RDD directly;
  *  - [[queryRows]]: the driver-side read on the calling thread, with the
  *    same drift check, coercion and cancellation as a task's read. Every
  *    planning probe and the epoch-fence check go through its head,
  *    [[queryRow]], and a fully pushed collect through [[collectRows]];
  *  - catalog listing: [[tableNames]], [[tableSchema]] (and optionally the
  *    named-schema listings);
  *  - for a write path, [[ingest]]: the atomic publish of a frame's rows
  *    plus an optional epoch-fence row in ONE engine transaction, and the
  *    DDL of [[createTable]] / [[dropTable]];
  *  - optionally, the engine-specific SQL of [[probeColumnStatistics]] and
  *    [[probeSplitBoundaries]].
  *
  * It inherits, written once here: the bounded row-count probe behind
  * [[statistics]] and [[fragmentStatistics]] and its cache, the memo
  * caches around [[columnStatistics]] and [[splitBoundaries]], their
  * invalidation ([[forget]]), the epoch fence of [[insertIntoEpoch]], the
  * column-count check of [[insertInto]], the [[executedSql]] / [[dmlLog]]
  * buffers, and the executor's [[provider]].
  */
trait SqlExecutor {
  def name: String

  /** Instance discriminator (URL + user for JDBC). See
    * [[graft.federation.FederationProvider.computeContext]]. */
  def computeContext: Option[String]

  def dialect: SqlDialect

  /** Run `sql` remotely; rows must match `schema` positionally. */
  def execute(sql: String, schema: StructType): RDD[InternalRow]

  /** [[execute]] for one of `siblings` concurrently-opened split cursors
    * of the same fragment. Engines that spin up their own compute per
    * cursor should cap it to a fair share — n embedded engine instances
    * each grabbing every core thrash instead of parallelize (measured on
    * the 50M window-split stress: 16 cursors × all-cores quadrupled the
    * single-cursor wall; 16 × cores/16 beat it 1.7×). A remote SERVER
    * engine does its own admission control — the default just delegates. */
  def executeSplit(sql: String, schema: StructType,
      siblings: Int): RDD[InternalRow] = execute(sql, schema)

  /** Driver-side read: run `sql` on the engine and hand its rows, decoded
    * positionally to `schema` under the same drift check and coercion as
    * [[execute]]'s, to `consume` on the calling thread. A row is valid
    * until the next one is pulled. The cursor closes when `consume`
    * returns or throws; interrupting the calling thread cancels the remote
    * statement ([[RemoteCancel]]). */
  def queryRows[A](sql: String, schema: StructType)(
      consume: Iterator[InternalRow] => A): A

  /** The first row of [[queryRows]], for planning probes and the epoch
    * fence. The rest of the result is drained, so a pooled cursor goes
    * back to its pool. */
  protected def queryRow(sql: String, schema: StructType): InternalRow =
    queryRows(sql, schema) { it =>
      if (!it.hasNext) throw new NoSuchElementException(s"no row from: $sql")
      val row = UnsafeProjection.create(schema)(it.next()).copy()
      it.foreach(_ => ())
      row
    }

  /** A whole fragment read on the driver: [[queryRows]], recorded in
    * [[executedSql]] as [[execute]] records its SQL. */
  final def collectRows[A](sql: String, schema: StructType)(
      consume: Iterator[InternalRow] => A): A = {
    executedSql.synchronized { executedSql += sql }
    queryRows(sql, schema)(consume)
  }

  /** Whether `e`, thrown by [[queryRows]], means the engine's worker or
    * connection was lost mid-read, so a re-run on a fresh cursor may
    * succeed. An error the engine reported for the statement is not. */
  def lostCursor(e: Throwable): Boolean = false

  /** Remote catalog listing (the engine's default schema). */
  def tableNames: Seq[String]

  /** Listing of one NAMED engine schema — the reference's
    * `SQLSchemaProvider` enumerates per schema (src/sql/schema.rs:16-46);
    * this backs `SHOW TABLES IN <catalog>.<schema>`. Default: nothing
    * known (executors without schema introspection). */
  def tableNames(schema: String): Seq[String] = Nil

  /** The engine's schema (namespace) names, for catalog namespace
    * enumeration. Default: none beyond the implicit default namespace. */
  def schemaNames: Seq[String] = Nil

  /** Eager one-shot schema inference at registration time (reference
    * `get_table_schema`, src/sql/table.rs:126-133). */
  def tableSchema(ref: RemoteTableRef): StructType

  /** The provider that federates this executor's fragments. One per
    * executor, so the lattice's provider equality checks are cheap and
    * stable, and it lives exactly as long as the executor. */
  lazy val provider: SqlFederationProvider = new SqlFederationProvider(this)

  /** Every query SQL shipped, oldest first — lets tests assert the exact
    * wire SQL (e.g. runtime-filter predicates, the bind-join VALUES form). */
  val executedSql = new scala.collection.mutable.ArrayBuffer[String]

  /** Driver-side DML/DDL statements run, oldest first — lets tests assert
    * that a remote-to-remote copy never built a row stream. */
  val dmlLog = new scala.collection.mutable.ArrayBuffer[String]

  /** Rows a stats probe is willing to scan remotely before declaring the
    * relation "not small" (unknown stats → Spark will not broadcast). */
  def statsRowCap: Long = 1000000L

  // Option-valued: `Some(None)` caches the at-cap "not small" outcome, so
  // a big table/fragment (the common production case) is probed once per
  // executor lifetime instead of on every plan. Transient failures are
  // never cached, so a flaky remote doesn't disable broadcasts forever.
  private val statsCache = TrieMap.empty[String, Option[Statistics]]
  private val colStatsCache = TrieMap.empty[String, Map[String, ColumnStat]]
  private val boundsCache =
    TrieMap.empty[(String, String, Int), Option[Seq[Long]]]

  /** Bounded statistics probe — the reference's executor `statistics` hook
    * (src/sql/executor.rs:61-63); without it Spark assumes every remote
    * table is huge and never broadcasts a federated fragment.
    *
    * One capped remote aggregate: row count and total string bytes over at
    * most [[statsRowCap]] rows, so (a) planning never stalls on a
    * full-table COUNT(*) of a 10B-row remote, and (b) string columns are
    * measured, not guessed — Catalyst's 20-byte default would classify a
    * wide-text table as broadcastable and pull gigabytes through the
    * driver. Relations at the cap report no stats (only relations small
    * enough to be broadcast candidates need them). */
  def statistics(ref: RemoteTableRef): Option[Statistics] =
    probeCached(ref.toString, ref.sql(dialect), tableSchema(ref))

  /** Fragment-level statistics: the same bounded probe over a generated
    * fragment SQL. The reference's `statistics` hook takes the *plan*
    * (src/sql/executor.rs:61-63), not a table ref, precisely so a heavily
    * filtered fragment can report far smaller stats than its base table
    * and win a broadcast the whole-table numbers would forfeit. Called by
    * [[graft.federation.plans.FederatedPlan.computeStats]] only when the
    * answer could flip a broadcast decision; cached per SQL text. */
  def fragmentStatistics(sql: String, schema: StructType): Option[Statistics] =
    probeCached(sql, s"($sql) frag_src", schema)

  // schema is by-name: on a cache hit the (remote round-trip) schema
  // introspection must not run at all
  private def probeCached(key: String, fromSql: String,
      schema: => StructType): Option[Statistics] =
    statsCache.get(key).getOrElse {
      try {
        val result = probeStats(fromSql, schema)
        statsCache.put(key, result)
        result
      } catch { case NonFatal(_) => None }
    }

  private def probeStats(fromSql: String,
      schema: StructType): Option[Statistics] = {
    val strCols = schema.fields.filter(_.dataType == StringType)
    val items = "COUNT(*)" +: strCols.map(f =>
      s"SUM(LENGTH(${dialect.quoteIfNeeded(f.name)}))")
    val row = queryRow(s"SELECT ${items.mkString(", ")} FROM " +
      s"(SELECT * FROM $fromSql" +
      s"${dialect.limitClause(Some(statsRowCap), None)}) stats_probe",
      SqlExecutor.longs(items.length))
    val rows = row.getLong(0)
    if (rows >= statsRowCap) None
    else {
      val strBytes = strCols.indices
        .map(i => if (row.isNullAt(i + 1)) 0L else row.getLong(i + 1)).sum
      val fixed = schema.fields.filterNot(_.dataType == StringType)
        .map(_.dataType.defaultSize).sum
      val size = BigInt(rows) * fixed + BigInt(strBytes) +
        BigInt(rows) * strCols.length * 8 // per-string overhead
      Some(Statistics(sizeInBytes = size.max(1),
        rowCount = Some(BigInt(rows))))
    }
  }

  /** PER-COLUMN statistics (ndv / min / max / null count / lengths),
    * keyed by remote column name — what Catalyst's cost-based join
    * reorder needs beyond row counts: with ndv on the join keys a
    * stitched multi-fragment join reorders onto the selective dimension
    * first. Called by [[graft.federation.plans.RemoteRelation]] only when
    * CBO is enabled. Cached per table for the executor lifetime, failures
    * included (as the empty map). */
  def columnStatistics(ref: RemoteTableRef): Map[String, ColumnStat] =
    colStatsCache.getOrElseUpdate(ref.toString,
      try probeColumnStatistics(ref, statistics(ref).flatMap(_.rowCount))
      catch { case NonFatal(_) => Map.empty })

  /** The engine's column probes behind [[columnStatistics]]. `rows` is the
    * table's row count, or None when the table is at [[statsRowCap]]:
    * totals are then unknown, but sample ndv still RANKS columns by
    * cardinality for the split-key chooser. */
  protected def probeColumnStatistics(ref: RemoteTableRef,
      rows: Option[BigInt]): Map[String, ColumnStat] = Map.empty

  /** Number of parallel remote cursors to open for a splittable fragment
    * (see [[SplitScan]]). 1 = a single remote query. A JDBC executor would
    * size this from the remote table's row count and the cluster's task
    * slots, like Spark JDBC's `numPartitions`. */
  def splitCount: Int = 1

  /** Split-range boundaries for `col` over the fragment `fromSql`:
    * `n - 1` ascending values cutting the column's observed distribution
    * into near-equal slices ([[SplitScan.withRangeFilter]]). None = the
    * engine can't probe (or the probe isn't worth it) — the caller falls
    * back to modulo splits, which are exact but skew-blind: a split
    * column whose values share a residue class puts the whole table on
    * one cursor. Cached per (fragment, column, n); a failed probe caches
    * None. */
  def splitBoundaries(fromSql: String, col: String,
      n: Int): Option[Seq[Long]] =
    boundsCache.getOrElseUpdate((fromSql, col, n),
      try probeSplitBoundaries(fromSql, col, n)
      catch { case NonFatal(_) => None })

  /** The engine's boundary probe behind [[splitBoundaries]]. */
  protected def probeSplitBoundaries(fromSql: String, col: String,
      n: Int): Option[Seq[Long]] = None

  /** True when [[execute]] yields exactly ONE RDD partition per SQL (the
    * remote-cursor executors: JDBC, DuckDB subprocess) — lets a sorted
    * single-SQL scan claim `SinglePartition` + `outputOrdering`, so a
    * window/merge-join above it needs neither exchange nor re-sort. The
    * mock executor returns the inner session's own partitioning and must
    * say false. */
  def singlePartitionPerCursor: Boolean = true

  /** Append `df`'s rows to an existing remote table — the reference's
    * `insert_into` fallback delegation (src/table_provider.rs:110-139;
    * providers without an inner write path refuse there too). Rows align
    * to the table's columns by position. */
  def insertInto(ref: RemoteTableRef, df: DataFrame): Unit =
    ingest(ref, df, epoch = None)

  /** Epoch-fenced [[insertInto]] for streaming `foreachBatch` sinks:
    * re-delivery of microbatch `epochId` (routine on recovery) is a no-op.
    * The fence row rides in the SAME engine transaction as the rows
    * ([[ingest]]) — committed epochs imply committed rows and vice versa.
    * Returns false when the epoch was already committed. The epochs table
    * (`<target>__epochs`) must exist (see [[ensureEpochTable]]). */
  def insertIntoEpoch(ref: RemoteTableRef, df: DataFrame,
      epochId: Long): Boolean = {
    val seen = queryRow(
      s"SELECT COUNT(*) FROM ${epochTableRef(ref).sql(dialect)} " +
        s"WHERE ${dialect.quoteIfNeeded("batch_id")} = $epochId",
      SqlExecutor.longs(1)).getLong(0) > 0
    if (!seen) ingest(ref, df, Some(epochId))
    !seen
  }

  /** Create (or reset) the epoch-fence table for `ref`. */
  def ensureEpochTable(ref: RemoteTableRef): Unit =
    createTable(epochTableRef(ref),
      StructType(Seq(StructField("batch_id", LongType))))

  protected def epochTableRef(ref: RemoteTableRef): RemoteTableRef =
    RemoteTableRef.parse(ref.parts.last + "__epochs")

  /** The target table's schema, checked against `df`'s column count —
    * the first step of every [[ingest]]. */
  protected def targetSchema(ref: RemoteTableRef, df: DataFrame): StructType = {
    val schema = tableSchema(ref)
    require(df.schema.length == schema.length,
      s"insertInto $ref: ${df.schema.length} columns for " +
        s"${schema.length}-column table")
    schema
  }

  /** The engine's atomic publish: `df`'s rows land in `ref` (positionally,
    * per [[targetSchema]]), and with them, when `epoch` is set, one row in
    * the epochs table ([[epochTableRef]]) — all in ONE engine transaction,
    * so a crash never leaves rows without their fence or a fence without
    * its rows. */
  protected def ingest(ref: RemoteTableRef, df: DataFrame,
      epoch: Option[Long]): Unit =
    throw new UnsupportedOperationException(
      s"remote [$name] has no write path")

  /** Same-engine `INSERT INTO target (SELECT …)`: when the rows to append
    * are themselves a query against THIS engine, the copy should execute
    * entirely remotely — zero rows cross the wire in either direction.
    * Returns false when the engine has no such path (caller falls back to
    * streaming the rows through [[insertInto]]). */
  def insertFromQuery(ref: RemoteTableRef, selectSql: String): Boolean = false

  /** Optional DML path: delete the remote table's rows matching an
    * already-rendered predicate — ships as ONE `DELETE FROM t WHERE …`
    * executed where the data lives (the DML sibling of
    * [[insertFromQuery]]; beyond the read-mostly reference). Returns the
    * engine-reported affected-row count. There is no local fallback for
    * remote DML, so executors without a delete path throw. */
  def deleteWhere(ref: RemoteTableRef, whereSql: String): Long =
    throw new UnsupportedOperationException(
      s"remote [$name] has no delete path")

  /** Optional DML path: `UPDATE t SET <setSql> WHERE <whereSql>` executed
    * where the data lives (the third DML leg next to [[insertFromQuery]]
    * and [[deleteWhere]]). Both clauses arrive pre-rendered in this
    * engine's dialect. Returns the affected-row count. */
  def updateWhere(ref: RemoteTableRef, setSql: String,
      whereSql: String): Long =
    throw new UnsupportedOperationException(
      s"remote [$name] has no update path")

  /** Optional DDL path: create (replacing any existing) a remote table
    * shaped like `schema`, using the engine's own type names — the
    * prerequisite of a true CREATE TABLE AS
    * ([[graft.federation.Federation.createRemoteTableAs]]).
    * Implementations [[forget]] `ref`'s cached probes. */
  def createTable(ref: RemoteTableRef,
      schema: org.apache.spark.sql.types.StructType): Unit =
    throw new UnsupportedOperationException(
      s"remote [$name] has no create path")

  /** Optional DDL path: drop a remote table (bind-staging cleanup; a
    * missing table is not an error — cleanup must be idempotent).
    * Implementations [[forget]] `ref`'s cached probes. */
  def dropTable(ref: RemoteTableRef): Unit =
    throw new UnsupportedOperationException(
      s"remote [$name] has no drop path")

  /** Whether bind-join builds past the dialect's
    * [[SqlDialect.bindStageRows]] may be MATERIALIZED into a staging
    * table on this engine (needs [[createTable]], [[insertInto]] and
    * [[dropTable]]). Engines whose inline-VALUES execution degrades
    * super-linearly (embedded Derby: O(build × fact) nested loop over a
    * re-evaluated union chain, probed r10) get a real remote join this
    * way at the cost of one CREATE + bulk INSERT + DROP per bind. */
  def supportsBindStaging: Boolean = false

  /** Best-effort GC of staging leftovers from CRASHED writes: a died
    * `insertInto` leaves `<t>__stg_…` tables behind, and the enumeration
    * filter hides them forever. Staging names embed their creation
    * millis, so `olderThanMillis` (default 1 h) protects the staging
    * tables of writes still in flight in OTHER processes. Bind-staging
    * tables (`graft_bind_…`) carry no timestamp and are dropped only
    * under `includeBindTables = true` — an explicit "nothing is running"
    * assertion by the caller. Returns the dropped names. Default no-op
    * for executors that never stage. */
  def vacuumStaging(olderThanMillis: Long = 3600000L,
      includeBindTables: Boolean = false): Seq[String] = Nil

  /** Drop the cached probes of ONE table: its statistics and column
    * statistics (fragment-keyed probes age out with their SQL text).
    * [[createTable]], [[dropTable]] and [[invalidateTable]] call it;
    * engines that cache more per table (schemas, listings) extend it. */
  protected def forget(ref: RemoteTableRef): Unit = {
    statsCache.remove(ref.toString)
    colStatsCache.remove(ref.toString)
    ()
  }

  /** Drop every cached catalog probe (table list, schemas, statistics) so
    * the next ask re-reads the live remote catalog. */
  def invalidateCaches(): Unit = {
    statsCache.clear()
    colStatsCache.clear()
  }

  /** Drop the cached probes of ONE table — the hook behind
    * `REFRESH TABLE` / `TableCatalog.invalidateTable` on catalog-resolved
    * remote tables; other tables' caches stay warm. */
  def invalidateTable(ref: RemoteTableRef): Unit = forget(ref)

  /** Optional hook: rewrite the generated SQL string just before execution
    * (reference `sql_query_rewriter`, src/sql/table.rs:33-45). */
  def sqlRewriter: String => String = identity

  /** Optional hook: engine-specific logical-plan rewrite applied to the
    * frozen fragment before unparsing (reference `logical_optimizer`,
    * src/sql/executor.rs:36-43). The rewrite must preserve the fragment's
    * output schema — enforced at the call site, mirroring the reference's
    * schema check (src/sql/mod.rs:268-284). */
  def planRewriter: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan =>
    org.apache.spark.sql.catalyst.plans.logical.LogicalPlan = identity
}

/** Per-TABLE rewrite hooks — the reference attaches these to each
  * `SQLTableSource` (`logical_optimizer` / `sql_query_rewriter`,
  * src/sql/table.rs:22-46) and gathers the hooks of every table referenced
  * by a fragment at SQL-generation time (src/sql/mod.rs:234-266). Executor
  * hooks are the per-ENGINE layer; these let one table of an engine be a
  * view needing an argument rewrite or a compatibility shim while its
  * siblings are untouched.
  *
  * Deliberately NOT a case class: identity equality is the dedup key — a
  * fragment referencing the same table twice (self-join; `newInstance`
  * copies share the hooks reference) applies its hooks once.
  *
  * `planRewriter` must preserve the fragment's output schema (same
  * contract, and the same loud failure, as the executor-level hook).
  * Note that the fragment handed in is COLUMN-PRUNED: a hook whose
  * rewrite needs a column the query didn't read (e.g. a row screen on a
  * flag column under a COUNT(*)) must re-derive it from a fresh
  * full-schema `RemoteRelation(ref, executor)` and project back to the
  * pruned output attributes (keeping their exprIds). Hooks apply to
  * STREAMING reads of the table too — microbatch fragments and the
  * cursor MIN/MAX probes both see the rewritten plan. */
final class TableHooks(
    val planRewriter: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan =>
      org.apache.spark.sql.catalyst.plans.logical.LogicalPlan = identity,
    val sqlRewriter: String => String = identity,
    val name: String = "table-hooks")

/** Mock executor backed by a second (isolated-catalog) SparkSession over
  * parquet files — mirrors the reference's `MockSqliteExecutor` /
  * `MockPostgresExecutor` over an inner DataFusion context
  * (examples/shared/mod.rs:30-146). Used by tests and the `fed_*` driver
  * queries; the "network boundary" is a session boundary.
  */
final class SparkSqlExecutor(
    override val name: String,
    val inner: SparkSession,
    tables: Map[String, String], // remote table name -> parquet path
    context: String,
    hookPlan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan =>
      org.apache.spark.sql.catalyst.plans.logical.LogicalPlan = identity,
    hookSql: String => String = identity,
    numSplits: Int = 1)
  extends SqlExecutor {

  override def splitCount: Int = numSplits

  // execute() returns the inner session's RDD with ITS partitioning
  override def singlePartitionPerCursor: Boolean = false

  override def planRewriter: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan =>
    org.apache.spark.sql.catalyst.plans.logical.LogicalPlan = hookPlan
  override def sqlRewriter: String => String = hookSql

  // register the remote catalog eagerly (schema inferred once per table)
  tables.foreach { case (tbl, path) =>
    inner.read.parquet(path).createOrReplaceTempView(tbl)
  }

  override def computeContext: Option[String] = Some(context)
  override def dialect: SqlDialect = SparkDialect

  /** Rows the fragment probe scans remotely before giving up ("not small
    * enough to matter for a broadcast"). */
  override def statsRowCap: Long = 1L << 20

  override def execute(sql: String, schema: StructType): RDD[InternalRow] = {
    executedSql.synchronized { executedSql += sql }
    coerced(sql, schema).queryExecution.toRdd
  }

  override def queryRows[A](sql: String, schema: StructType)(
      consume: Iterator[InternalRow] => A): A =
    consume(coerced(sql, schema).queryExecution.executedPlan
      .executeCollect().iterator)

  private def coerced(sql: String,
      schema: StructType): org.apache.spark.sql.classic.Dataset[_] = {
    // sqlRewriter was already applied at SQL-generation time
    // (SqlFederationProvider.unparse/unparseSplits) — applying it here too
    // would run non-idempotent hooks twice
    val df =
      try inner.sql(sql)
      catch {
        case e: Exception => throw new IllegalStateException(
          s"remote [$name] rejected generated SQL: $sql", e)
      }
    SchemaCoercion.coerce(df, schema)
      .asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]
  }

  override def tableNames: Seq[String] = tables.keys.toSeq.sorted

  override def tableSchema(ref: RemoteTableRef): StructType =
    inner.table(ref.parts.map(p => s"`$p`").mkString(".")).schema

  /** The inner session's own plan statistics: the mock's tables are local
    * parquet, so no probe is needed. */
  override def statistics(ref: RemoteTableRef): Option[Statistics] = {
    val plan = inner.table(ref.parts.map(p => s"`$p`").mkString("."))
      .queryExecution.optimizedPlan
    Some(plan.stats)
  }
}

object SqlExecutor {
  /** An all-BIGINT row schema of `n` columns (`c0`…), for decoding probe
    * aggregates through [[SqlExecutor.queryRow]]. */
  def longs(n: Int): StructType =
    StructType((0 until n).map(i => StructField(s"c$i", LongType)))

  /** Internal staging artifacts — bind-join staging tables
    * (`graft_bind_<hex>`) and per-partition write staging tables
    * (`<t>__stg_<writeId>_<pid>`) — must never surface in catalog
    * enumeration: they are transient (dropped asynchronously at
    * SQL-execution / publish end), so a `tableNames` caller that
    * enumerates one can lose it before its schema probe runs — a real
    * race the r10 test suite hit (registerViews enumerated a live
    * bind table; the async DROP landed; the registration's DESCRIBE
    * then failed). Epoch-fence tables (`__epochs`) are durable state,
    * not staging, and stay listed. */
  private val StagingName =
    java.util.regex.Pattern.compile(".*__stg_[0-9a-f]+_[0-9]+$")

  def isStagingArtifact(name: String): Boolean = {
    val n = name.toLowerCase
    // anchored to the exact generated shape (<t>__stg_<hexmillis+ctr>_<pid>,
    // JdbcSqlExecutor.stagePrefix) — a legitimate user table that merely
    // CONTAINS "__stg_" must keep enumerating
    n.startsWith("graft_bind_") || StagingName.matcher(n).matches()
  }

  private val StagingStamp =
    java.util.regex.Pattern.compile(".*__stg_([0-9a-f]+)_[0-9]+$")

  /** Creation millis embedded in a write-staging name. The hex group is
    * `<hexmillis><counter>` with no separator, but epoch millis render as
    * exactly 11 hex digits from 2004 through 2527 — the leading 11 are
    * the timestamp. */
  def stagingTimestamp(name: String): Option[Long] = {
    val m = StagingStamp.matcher(name.toLowerCase)
    if (!m.matches()) None
    else {
      val g = m.group(1)
      if (g.length < 11) None
      else try Some(java.lang.Long.parseLong(g.substring(0, 11), 16))
      catch { case _: NumberFormatException => None }
    }
  }

  /** The staging artifacts in `all` that [[SqlExecutor.vacuumStaging]]
    * should drop at `nowMs`: write-staging tables older than the guard
    * window, plus (opt-in) untimestamped bind tables. */
  def vacuumCandidates(all: Seq[String], nowMs: Long,
      olderThanMs: Long, includeBind: Boolean): Seq[String] =
    all.filter { n =>
      val ln = n.toLowerCase
      if (!isStagingArtifact(ln)) false
      else if (ln.startsWith("graft_bind_")) includeBind
      else stagingTimestamp(ln).exists(ts => nowMs - ts > olderThanMs)
    }
}
