package graft.federation.exec

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{GraftShims, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute}
import org.apache.spark.sql.catalyst.expressions.aggregate.{Max, Min}
import org.apache.spark.sql.catalyst.plans.logical.{Distinct, Limit, LogicalPlan, Project}
import org.apache.spark.sql.execution.LeafExecNode
import org.apache.spark.sql.execution.metric.{SQLMetric, SQLMetrics}

import graft.federation.plans.RemoteRuntimeFilter
import graft.federation.sql.SqlExecutor

/** Physical leaf that ships SQL to a remote engine and streams rows back
  * — the Spark analog of the reference's `VirtualExecutionPlan` (+ its
  * `SchemaCastScanExec` wrapper; coercion happens inside the executor's
  * `execute`, see [[graft.federation.sql.SchemaCoercion]]).
  *
  * `sqls` holds one query per remote cursor: a single fragment SQL in the
  * common case, or n disjoint split queries for a splittable fragment on a
  * split-capable executor ([[graft.federation.sql.SplitScan]]) — the
  * resulting RDD is the union, so downstream operators consume n-way
  * parallel input (n tasks each holding one remote cursor on a cluster).
  *
  * `runtimeFilters` are join-derived dynamic filters
  * ([[graft.federation.RuntimeFilterRule]]): at execution time each build
  * side runs as one bounded local job and its key set is appended to the
  * remote SQL — the reference's physical filter acceptance
  * (src/sql/mod.rs:416-444, filters handed to `executor.execute`,
  * src/sql/executor.rs:45-56). The build side executes twice (once here,
  * once in the join proper) — inherent to IN-list runtime filtering and
  * bounded by the broadcast threshold.
  *
  * A single-cursor, non-streaming scan at the ROOT of a collected plan (a
  * fully pushed query) skips Spark's scheduler: [[executeCollect]] reads
  * the rows on the calling driver thread through the executor's
  * `queryRows`, as the reference's `VirtualExecutionPlan` streams
  * `SQLExecutor::execute`'s batches straight to its consumer — one remote
  * round trip and no job, task or result serialization around it. It
  * keeps what the task path guarantees: runtime filters and bind joins,
  * the drift check and coercion, the boundary metrics (posted to the SQL
  * UI once), `spark.driver.maxResultSize`, cancellation by interrupting
  * the calling thread, and a re-run of a fetch whose worker died, up to
  * the scheduler's task-failure limit. Split scans, scans under other
  * operators and streaming scans run as tasks ([[doExecute]]).
  *
  * The generated SQL appears in EXPLAIN (the reference displays it the
  * same way, src/sql/mod.rs:348-369).
  */
final case class RemoteScanExec(
    override val output: Seq[Attribute],
    sqls: Seq[String],
    @transient executor: SqlExecutor,
    @transient runtimeFilters: Seq[RemoteRuntimeFilter] = Nil,
    @transient bindJoins: Seq[graft.federation.plans.RemoteBindJoin] = Nil,
    outputOrder: Seq[org.apache.spark.sql.catalyst.expressions.SortOrder] = Nil,
    rangeSplitCol: Option[Attribute] = None,
    @transient stream: Option[
      org.apache.spark.sql.connector.read.streaming.SparkDataStream] = None)
  extends LeafExecNode
    with org.apache.spark.sql.execution.StreamSourceAwareSparkPlan {

  /** Streaming-progress metering: when this scan executes a microbatch of
    * a [[graft.streaming.FedMicroBatchStream]] (FedStreamScanRule swaps the
    * v2 scan relation away, so no MicroBatchScanExec exists to meter),
    * declaring the stream here lets ProgressContext read this node's
    * `numOutputRows` as the source's `numInputRows`. */
  override def getStream: Option[
      org.apache.spark.sql.connector.read.streaming.SparkDataStream] = stream
  // @transient: physical plans are captured in task closures (whole-stage
  // codegen, broadcast); the executor is only dereferenced driver-side in
  // doExecute, and remote engines aren't java-serializable.

  require(sqls.nonEmpty, "RemoteScanExec needs at least one query")

  /** Remote ORDER BY becomes local ordering knowledge: a single-cursor
    * fragment whose SQL ends in ORDER BY (strategy-verified, key types
    * dialect-portable) delivers rows already sorted, so a window or
    * merge-join above it must not pay a re-sort — and since the one
    * cursor is one partition, no exchange either. */
  override def outputOrdering
      : Seq[org.apache.spark.sql.catalyst.expressions.SortOrder] = outputOrder

  override def outputPartitioning
      : org.apache.spark.sql.catalyst.plans.physical.Partitioning =
    if (outputOrder.nonEmpty && sqls.size == 1 &&
        executor.singlePartitionPerCursor)
      org.apache.spark.sql.catalyst.plans.physical.SinglePartition
    else rangeSplitCol match {
      // Quantile RANGE splits deliver cursor i = range i (ascending,
      // NULLs riding cursor 0 — exactly ASC NULLS FIRST): with one
      // partition per cursor that IS RangePartitioning, so an exchange
      // above a window / merge-join / global sort keyed on the split
      // column disappears (Spark plans only the cheap per-partition
      // sort). Claim it whenever true; consumers that don't care still
      // shuffle as before.
      case Some(c) if sqls.size > 1 && executor.singlePartitionPerCursor &&
          bindJoins.isEmpty =>
        org.apache.spark.sql.catalyst.plans.physical.RangePartitioning(
          Seq(org.apache.spark.sql.catalyst.expressions.SortOrder(c,
            org.apache.spark.sql.catalyst.expressions.Ascending)),
          sqls.size)
      case _ => super.outputPartitioning
    }

  // The executor-metrics surface of the reference (src/sql/executor.rs:71-75,
  // displayed via the scan node src/sql/mod.rs:412-414) plus the coercion
  // counters (src/schema_cast/mod.rs:110-123): fetch time and bytes measure
  // the remote boundary itself; coerced rows counts wire-format rows that
  // needed conversion to Spark's internal row (JDBC path — the mock's
  // UnsafeRows pass through uncounted).
  override lazy val metrics: Map[String, SQLMetric] = Map(
    "numOutputRows" -> SQLMetrics.createMetric(sparkContext, "number of output rows"),
    "numRuntimeFilters" -> SQLMetrics.createMetric(sparkContext, "runtime filters pushed"),
    "numBindRows" -> SQLMetrics.createMetric(sparkContext, "bind join rows inlined"),
    "numSplits" -> SQLMetrics.createMetric(sparkContext, "remote cursors (splits)"),
    "remoteFetchTime" -> SQLMetrics.createNanoTimingMetric(sparkContext, "remote fetch time"),
    "remoteBytes" -> SQLMetrics.createSizeMetric(sparkContext, "bytes from remote"),
    "numCoercedRows" -> SQLMetrics.createMetric(sparkContext, "rows coerced from wire format"),
    "numFragmentReuses" -> SQLMetrics.createMetric(sparkContext, "identical fragments reused"),
    "numStagedBinds" -> SQLMetrics.createMetric(sparkContext, "bind builds staged as remote tables"))

  /** The SQLs actually sent: base split SQLs, each wrapped with the
    * runtime-filter predicates resolved at this call, then with the bind
    * join (filters apply to the fragment alone, so they nest inside). */
  private[graft] def effectiveSqls(): Seq[String] = {
    val preds = runtimeFilters.flatMap(renderFilter)
    metrics.get("numRuntimeFilters").foreach(_.add(preds.size))
    val filtered =
      if (preds.isEmpty) sqls
      else {
        val where = preds.mkString(" AND ")
        sqls.map(s => s"SELECT * FROM ($s) AS rf_sub WHERE $where")
      }
    if (bindJoins.isEmpty) filtered
    else {
      // Fold binds in wrap order (bind 0 innermost). Each layer's key and
      // residual references resolve through `names`: fragment columns keep
      // their own SQL names through `bj_sub.*`, while an earlier INNER
      // bind's build columns are visible only under their `__bj…` aliases
      // — a star join's second dim may key on the first dim's output.
      var names: Map[org.apache.spark.sql.catalyst.expressions.ExprId, String] =
        baseOutput.map(a =>
          a.exprId -> executor.dialect.quoteIfNeeded(a.name)).toMap
      var sqlsAcc = filtered
      bindJoins.zipWithIndex.foreach { case (bj, idx) =>
        val wrap = renderBind(bj, idx, names) // evaluated once per bind
        sqlsAcc = sqlsAcc.map(wrap)
        if (bj.joinType == org.apache.spark.sql.catalyst.plans.Inner)
          names ++= bj.buildOutput.zipWithIndex.map { case (a, i) =>
            a.exprId -> executor.dialect.quoteIfNeeded(bindAlias(idx, i))
          }
      }
      sqlsAcc
    }
  }

  /** Build-column alias for bind layer `idx`: layer 0 keeps the historic
    * `__bj_i` spelling; later layers prefix the index so nested wraps
    * never collide (`bj_sub.*` re-exposes every inner alias). */
  private def bindAlias(idx: Int, i: Int): String =
    if (idx == 0) s"__bj_$i" else s"__bj${idx}_$i"

  /** The fragment's own output (before bind widening): peel each bind's
    * build columns off `output` in reverse wrap order. */
  private def baseOutput: Seq[Attribute] =
    bindJoins.reverse.foldLeft(output) { (acc, bj) =>
      bj.joinType match {
        case org.apache.spark.sql.catalyst.plans.Inner =>
          val n = bj.buildOutput.size
          if (bj.buildLeft) acc.drop(n) else acc.dropRight(n)
        case _ => acc
      }
    }

  /** Evaluate the bind join's build side and produce the SQL wrapper:
    * `SELECT frag cols, build cols FROM (frag) JOIN (VALUES ...) ON keys`.
    * Build columns are aliased `__bj_i` — collision-proof against
    * fragment names, and the stream is read positionally. An empty build
    * side degenerates to `WHERE 1=0` with NULL-cast build columns: the
    * inner join can emit nothing, but the remote engine must still answer
    * with the widened shape. No graceful-skip path exists (the local join
    * is gone), which is why [[graft.federation.BindJoinRule]] admits only
    * types whose literal rendering is total. */
  private def renderBind(bj: graft.federation.plans.RemoteBindJoin,
      idx: Int,
      names: Map[org.apache.spark.sql.catalyst.expressions.ExprId, String])
      : String => String = {
    val d = executor.dialect
    val session = SparkSession.active
    val rows = internalRows(session, bj.buildPlan)
    metrics.get("numBindRows").foreach(_.add(rows.length))
    val types = bj.buildOutput.map(_.dataType)
    val bjNames =
      bj.buildOutput.indices.map(i => d.quoteIfNeeded(bindAlias(idx, i)))
    val buildCols = bjNames.map(n => s"bj_b.$n")
    val fragCols = "bj_sub.*"
    val selectList =
      if (bj.buildLeft) (buildCols :+ fragCols).mkString(", ")
      else (fragCols +: buildCols).mkString(", ")
    def renderRows(rs: Seq[InternalRow]): String = rs.map { r =>
      types.zipWithIndex.map { case (dt, i) =>
        d.valuesCell(r.get(i, dt), dt)
      }.mkString("(", ", ", ")")
    }.mkString(", ")
    // engines with recursive VALUES parsing cap the rows one literal may
    // carry (Derby probed: 1000 rows = StackOverflowError that kills the
    // connection) — chunk into a UNION ALL of bounded VALUES derived
    // tables, exact for every join type since only the TABLE is assembled
    // differently. BindJoinRule's maxBindRows planning bound keeps the
    // chunk count small.
    lazy val valuesTable: String = stagedTable() match {
      // past the dialect's execution-cost bound the build ships as a
      // real staging table (engines like Derby execute an inline VALUES
      // join as an O(build × fact) nested loop over a re-evaluated union
      // chain — probed r10: 800 keys = 336s inline vs 0.5s staged) and
      // the engine plans an ordinary join against it
      case Some(name) => s"$name AS bj_b"
      case None =>
        val colList = bjNames.mkString(", ")
        if (rows.length <= d.maxInlineValuesRows)
          s"(VALUES ${renderRows(rows.toSeq)}) AS bj_b($colList)"
        else rows.grouped(d.maxInlineValuesRows).zipWithIndex.map {
          case (g, ci) =>
            s"SELECT * FROM (VALUES ${renderRows(g.toSeq)}) AS bj_c$ci($colList)"
        }.mkString("(", " UNION ALL ", ") AS bj_b")
    }

    /** Materialize the build rows as a remote staging table and return
      * its quoted name — or None to keep the inline form (small build,
      * unsupported executor, no SQL execution to scope cleanup to, or a
      * staging failure, which degrades gracefully since the inline form
      * is always still correct). The table registers for DROP at
      * SQL-execution end BEFORE the insert, so a failed load still gets
      * cleaned up. */
    def stagedTable(): Option[String] = {
      if (rows.length <= d.bindStageRows || !executor.supportsBindStaging)
        return None
      if (!session.conf.get(RemoteScanExec.StagingEnabledKey, "true")
          .toBoolean) return None
      val execId = sparkContext.getLocalProperty("spark.sql.execution.id")
      if (execId == null) return None
      try {
        val tname = "graft_bind_" + java.util.UUID.randomUUID().toString
          .replace("-", "").take(16)
        val ref = graft.federation.sql.RemoteTableRef.parse(tname)
        val schema = org.apache.spark.sql.types.StructType(
          bj.buildOutput.zipWithIndex.map { case (a, i) =>
            org.apache.spark.sql.types.StructField(
              bindAlias(idx, i), a.dataType, nullable = true)
          })
        executor.createTable(ref, schema)
        RemoteScanExec.registerStagedBind(sparkContext, execId, executor, ref)
        val conv = org.apache.spark.sql.catalyst.CatalystTypeConverters
          .createToScalaConverter(schema)
        val ext = rows.toSeq
          .map(r => conv(r).asInstanceOf[org.apache.spark.sql.Row])
        executor.insertInto(ref,
          session.createDataFrame(session.sparkContext
            .parallelize(ext, 1), schema))
        metrics.get("numStagedBinds").foreach(_.add(1))
        Some(ref.sql(d))
      } catch { case scala.util.control.NonFatal(_) => None }
    }
    def onClause: String = bj.keys.map { case (fragCol, buildCol) =>
      val i = bj.buildOutput.indexWhere(_.exprId == buildCol.exprId)
      val left = names.getOrElse(fragCol.exprId, d.quoteIfNeeded(fragCol.name))
      s"bj_sub.$left = bj_b.${bjNames(i)}"
    }.mkString(" AND ")
    // fragment-side residual conjuncts, proven renderable at planning
    // time (BindJoinRule.residualRenders — same dialect, same scope).
    // Semi/anti render them INSIDE the (NOT) EXISTS so a NULL-valued
    // residual behaves as Spark's condition-not-TRUE (anti keeps the
    // row); Inner appends a WHERE, where NULL likewise drops the row.
    def residualSql: Seq[String] = {
      if (bj.residual.isEmpty) Nil
      else {
        val scope = bj.residual.flatMap(_.references)
          .map(a => a.exprId -> ("bj_sub." +
            names.getOrElse(a.exprId, d.quoteIfNeeded(a.name)))).toMap
        val u = new graft.federation.sql.SqlUnparser(d)
        bj.residual.map(e => "(" + u.render(e, scope) + ")")
      }
    }
    def existsCond: String =
      (onClause +: residualSql).mkString(" AND ")
    bj.joinType match {
      case org.apache.spark.sql.catalyst.plans.LeftSemi =>
        if (rows.isEmpty)
          return sql => s"SELECT * FROM ($sql) AS bj_sub WHERE 1=0"
        val cond = existsCond
        val vt = valuesTable
        return sql => s"SELECT * FROM ($sql) AS bj_sub WHERE EXISTS " +
          s"(SELECT 1 FROM $vt WHERE $cond)"
      case org.apache.spark.sql.catalyst.plans.LeftAnti =>
        if (rows.isEmpty) return identity // nothing to reject: all rows pass
        val cond = existsCond
        val vt = valuesTable
        return sql => s"SELECT * FROM ($sql) AS bj_sub WHERE NOT EXISTS " +
          s"(SELECT 1 FROM $vt WHERE $cond)"
      case _ => // Inner falls through to the widening VALUES join below
    }
    if (rows.isEmpty) {
      val nulls = types.zip(bjNames).map { case (dt, n) =>
        s"CAST(NULL AS ${d.typeName(dt)}) AS $n"
      }
      val sel =
        if (bj.buildLeft) (nulls :+ fragCols).mkString(", ")
        else (fragCols +: nulls).mkString(", ")
      sql => s"SELECT $sel FROM ($sql) AS bj_sub WHERE 1=0"
    } else {
      val vt = valuesTable
      val on = onClause
      val where = residualSql match {
        case Nil => ""
        case rs => rs.mkString(" WHERE ", " AND ", "")
      }
      sql => s"SELECT $selectList FROM ($sql) AS bj_sub " +
        s"JOIN $vt ON $on$where"
    }
  }

  override protected def doExecute(): RDD[InternalRow] = {
    val rows = metrics("numOutputRows")
    val fetchTime = metrics("remoteFetchTime")
    val bytes = metrics("remoteBytes")
    val coerced = metrics("numCoercedRows")
    val schema =
      org.apache.spark.sql.catalyst.types.DataTypeUtils.fromAttributes(output)
    val sqls2 = effectiveSqls()
    metrics("numSplits").add(sqls2.size)
    val types = output.map(_.dataType)
    // deferred: a reused fragment must not even BUILD its executor RDD
    // (executors may plan/prepare remote work at build time)
    def build(): RDD[InternalRow] = {
    val rdd = sqls2 match {
      case Seq(one) => executor.execute(one, schema)
      case many => sparkContext.union(
        many.map(executor.executeSplit(_, schema, many.size)))
    }
    // executors may emit generic rows (e.g. JDBC conversion); downstream
    // operators require UnsafeRow. Rows that already are unsafe (the mock
    // executor's toRdd) pass through without a copy.
    rdd.mapPartitions { it =>
      val proj = org.apache.spark.sql.catalyst.expressions.UnsafeProjection
        .create(types.toArray)
      new Iterator[InternalRow] {
        // time only the pull from the remote iterator — downstream
        // operator time must not pollute the boundary metric
        override def hasNext: Boolean = {
          val t0 = System.nanoTime()
          val h = it.hasNext
          fetchTime += System.nanoTime() - t0
          h
        }
        override def next(): InternalRow = {
          val t0 = System.nanoTime()
          val r = it.next()
          fetchTime += System.nanoTime() - t0
          rows += 1
          val u = r match {
            case u: org.apache.spark.sql.catalyst.expressions.UnsafeRow => u
            case other => coerced += 1; proj(other)
          }
          bytes += u.getSizeInBytes
          u
        }
      }
    }
    }
    // Identical-fragment reuse: when THE SAME effective SQL on THE SAME
    // executor appears more than once in one SQL execution (a self-join
    // or self-union of a federated frame — Spark's ReuseExchange never
    // sees it because this is a leaf, not an exchange), every occurrence
    // past the first receives the FIRST occurrence's RDD, persisted at
    // that moment so downstream stages read Spark's block manager instead
    // of re-running the remote query. Keyed on the rendered SQLs, so
    // fragments whose runtime filters/binds rendered differently never
    // unify. Best-effort by design: a first-consumer task that started
    // before the persist flag landed streams uncached (its serialized
    // snapshot has storageLevel NONE and skips caching consistently),
    // costing at worst today's behavior — one extra remote execution —
    // and never correctness. Entries unpersist at SQL-execution end.
    val execId = sparkContext.getLocalProperty("spark.sql.execution.id")
    if (execId == null) build()
    else RemoteScanExec.sharedFragment(sparkContext,
      // same name+compute_context = same engine instance, the reference's
      // own provider-equality contract (src/sql/executor.rs:25-29)
      (execId, executor.name + "@" + executor.computeContext, sqls2, types),
      build _, metrics("numFragmentReuses"))
  }

  override def executeCollect(): Array[InternalRow] =
    if (sqls.size > 1 || stream.isDefined) super.executeCollect()
    else executeQuery(collectOnDriver())

  /** The driver read of [[executeCollect]]: the effective SQL once, then
    * fetches until one completes. A fetch whose engine worker or
    * connection was lost mid-read ([[SqlExecutor.lostCursor]]) re-runs on
    * a fresh cursor up to the scheduler's task-failure limit, as a failed
    * task would; a dead attempt's rows and counts are dropped. Engine
    * errors, the size guard and an interrupted caller end the read. */
  private def collectOnDriver(): Array[InternalRow] = {
    val sql = effectiveSqls().head
    val maxBytes = GraftShims.maxResultSize(sparkContext)
    val attempts = GraftShims.maxTaskFailures(sparkContext)
    var attempt = 1
    var got: Option[RemoteScanExec.DriverFetch] = None
    while (got.isEmpty) {
      try got = Some(fetchOnDriver(sql, maxBytes))
      catch {
        case scala.util.control.NonFatal(e)
            if Thread.currentThread().isInterrupted =>
          throw new org.apache.spark.SparkException(
            s"remote fetch on [${executor.name}] cancelled: the calling " +
              "thread was interrupted", e)
        case scala.util.control.NonFatal(e)
            if attempt < attempts && executor.lostCursor(e) =>
          logWarning(s"remote fetch on [${executor.name}] lost its cursor " +
            s"(attempt $attempt of $attempts), re-running: ${e.getMessage}")
          attempt += 1
      }
    }
    val f = got.get
    metrics("numSplits").add(1)
    metrics("numOutputRows").add(f.rows.length)
    metrics("remoteFetchTime").add(f.fetchNs)
    metrics("remoteBytes").add(f.bytes)
    metrics("numCoercedRows").add(f.coerced)
    // no task carries these values to the SQL UI: post them from here
    SQLMetrics.postDriverMetricUpdates(sparkContext,
      sparkContext.getLocalProperty("spark.sql.execution.id"),
      metrics.values.toSeq)
    f.rows
  }

  /** One driver fetch of `sql`, with the task path's boundary: rows that
    * are not yet `UnsafeRow`s are projected (and counted as coerced),
    * every row is copied out of the engine's reused buffers, and the
    * read aborts once the rows outgrow `maxBytes` (0 = no limit). The
    * fetch time is the call's wall time less this boundary work. */
  private def fetchOnDriver(sql: String,
      maxBytes: Long): RemoteScanExec.DriverFetch = {
    val proj = org.apache.spark.sql.catalyst.expressions.UnsafeProjection
      .create(output.map(_.dataType).toArray)
    val rows = scala.collection.mutable.ArrayBuffer.empty[InternalRow]
    var bytes, coerced, ownNs = 0L
    val t0 = System.nanoTime()
    executor.collectRows(sql, schema) { it =>
      it.foreach { r =>
        val t1 = System.nanoTime()
        val u = r match {
          case u: org.apache.spark.sql.catalyst.expressions.UnsafeRow =>
            u.copy()
          case other => coerced += 1; proj(other).copy()
        }
        rows += u
        bytes += u.getSizeInBytes
        if (maxBytes > 0 && bytes > maxBytes)
          throw new org.apache.spark.SparkException(
            s"Total size of the ${rows.length} rows collected on the " +
              s"driver ($bytes bytes) is bigger than " +
              s"spark.driver.maxResultSize ($maxBytes bytes)")
        ownNs += System.nanoTime() - t1
      }
    }
    RemoteScanExec.DriverFetch(rows.toArray,
      System.nanoTime() - t0 - ownNs, bytes, coerced)
  }

  /** Evaluate one runtime filter's build side and render its predicate:
    * distinct keys bounded by the cap become an IN-list; beyond the cap a
    * min/max range; an empty (or all-null) build side short-circuits to
    * `1=0` — the remote engine then answers without scanning. `None` only
    * on a render failure, which degrades to the unfiltered scan. */
  private def renderFilter(rf: RemoteRuntimeFilter): Option[String] =
    try {
      val session = SparkSession.active
      // cap = session override when set, else the ENGINE's probed IN-list
      // capacity — a one-size cap degraded dense-keyed filters to a
      // min/max range that filtered nothing (r14 audit: the full 600k-row
      // fact crossed the wire for a 5,951-key build on an engine probed
      // fine at 100k-element IN lists)
      val maxKeys = session.conf
        .getOption(graft.federation.RuntimeFilterRule.MaxKeysKey)
        .map(_.toInt)
        .getOrElse(executor.dialect.maxRuntimeFilterKeys)
      val d = executor.dialect
      val colSql = d.quoteIfNeeded(rf.column.name)
      val dt = rf.buildKey.dataType
      val keyPlan = Limit(
        org.apache.spark.sql.catalyst.expressions.Literal(maxKeys + 1),
        Distinct(Project(Seq(Alias(rf.buildKey, "k")()), rf.buildPlan)))
      val collected = internalRows(session, keyPlan)
      val keys = collected.iterator.map(_.get(0, dt)).filter(_ != null).toArray
      // NaN/Infinity have no portable SQL literal, and Spark's join
      // semantics treat NaN as equal to itself — dropping such keys from
      // the IN-list would wrongly filter matching remote rows. Skip the
      // whole filter instead (superset semantics: no filter is safe).
      def finite(v: Any): Boolean = v match {
        case d: java.lang.Double => !d.isNaN && !d.isInfinite
        case f: java.lang.Float => !f.isNaN && !f.isInfinite
        case _ => true
      }
      if (keys.isEmpty) Some("1=0")
      else if (!keys.forall(finite)) None
      else if (collected.length <= maxKeys)
        Some(s"$colSql IN (${keys.map(d.literal(_, dt)).distinct.sorted.mkString(", ")})")
      else {
        // more distinct keys than the cap: fall back to the key range
        val agg = org.apache.spark.sql.catalyst.plans.logical.Aggregate(
          Nil, Seq(
            Alias(Min(rf.buildKey).toAggregateExpression(), "lo")(),
            Alias(Max(rf.buildKey).toAggregateExpression(), "hi")()),
          rf.buildPlan)
        val row = internalRows(session, agg).head
        val lo = row.get(0, dt)
        val hi = row.get(1, dt)
        if (lo == null || hi == null) Some("1=0")
        else if (!finite(lo) || !finite(hi)) None
        else Some(s"$colSql >= ${d.literal(lo, dt)} AND $colSql <= ${d.literal(hi, dt)}")
      }
    } catch {
      case e: Exception =>
        logWarning(s"runtime filter on ${rf.column.name} skipped: ${e.getMessage}")
        None
    }

  private def internalRows(session: SparkSession,
      plan: LogicalPlan): Array[InternalRow] =
    GraftShims.ofRows(session, plan)
      .asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]
      .queryExecution.executedPlan.executeCollect()

  override def simpleString(maxFields: Int): String = {
    val split = if (sqls.size > 1) s" splits=${sqls.size}" else ""
    val rf = if (runtimeFilters.isEmpty) ""
      else s" rfilters=[${runtimeFilters.map(_.column.name).mkString(",")}]"
    s"RemoteScan [${executor.name}]$split$rf sql=${sqls.head}"
  }
}

object RemoteScanExec {
  /** The rows and boundary counts of one completed driver fetch. */
  private final case class DriverFetch(rows: Array[InternalRow],
      fetchNs: Long, bytes: Long, coerced: Long)

  def apply(output: Seq[Attribute], sql: String,
      executor: SqlExecutor): RemoteScanExec =
    RemoteScanExec(output, Seq(sql), executor)

  /** The remote boundary of a fragment that MAY be cached: while the RDD
    * is unpersisted (the only-consumer case) rows stream through with zero
    * copies; once persisted, compute defensively copies each UnsafeRow
    * before it reaches the block manager (executors hand out
    * buffer-reusing iterators — caching aliased rows would corrupt the
    * stored blocks). The branch reads this RDD's own storage level, which
    * ships inside each task's serialized snapshot, so a task either caches
    * copies or streams raw — never a mix. */
  private final class SharedBoundaryRDD(prev: RDD[InternalRow])
    extends RDD[InternalRow](prev) {
    override protected def getPartitions: Array[org.apache.spark.Partition] =
      firstParent[InternalRow].partitions
    override def compute(split: org.apache.spark.Partition,
        context: org.apache.spark.TaskContext): Iterator[InternalRow] = {
      val it = firstParent[InternalRow].iterator(split, context)
      if (getStorageLevel == org.apache.spark.storage.StorageLevel.NONE) it
      else it.map(_.copy())
    }
  }

  private type FragmentKey =
    (String, String, Seq[String], Seq[org.apache.spark.sql.types.DataType])

  /** At-most-once construction under concurrent stage materialization:
    * AQE materializes leaf stages from a thread pool, so two occurrences
    * can race into the registry — TrieMap's getOrElseUpdate may evaluate
    * and DISCARD a loser's thunk, which would still have built (and for
    * the mock executor, logged) a second remote RDD. The holder defers
    * construction into a lazy val, so whichever holder wins the insert
    * builds exactly once and the loser's holder never evaluates. */
  private final class Holder(build: () => RDD[InternalRow]) {
    val consumers = new java.util.concurrent.atomic.AtomicInteger(0)
    lazy val rdd: RDD[InternalRow] = new SharedBoundaryRDD(build())
  }

  private val sharedRdds =
    scala.collection.concurrent.TrieMap.empty[FragmentKey, Holder]
  private val cleanupInstalled =
    scala.collection.concurrent.TrieMap.empty[String, Boolean]

  /** Ops switch for bind-build staging (default on; the inline/chunked
    * VALUES form is always a correct fallback). */
  val StagingEnabledKey = "spark.graft.federation.bindStaging.enabled"

  /** Staging tables created for bind builds, keyed (executionId, table@
    * engine) — dropped on the same SQL-execution-end event that releases
    * shared fragments. Registration happens right after CREATE, before
    * the bulk INSERT, so a failed load is still cleaned up. */
  private val stagedBinds = scala.collection.concurrent.TrieMap
    .empty[(String, String), (SqlExecutor, graft.federation.sql.RemoteTableRef)]

  private[exec] def registerStagedBind(sc: org.apache.spark.SparkContext,
      execId: String, executor: SqlExecutor,
      ref: graft.federation.sql.RemoteTableRef): Unit = {
    ensureCleanup(sc)
    stagedBinds.put((execId, ref.toString + "@" + executor.name +
      executor.computeContext), (executor, ref))
  }

  /** First occurrence of `key` registers (and returns) the boundary RDD;
    * every later occurrence inside the same SQL execution returns that
    * SAME RDD, persisting it (idempotently) so the remote query body runs
    * once and later consumers read cached blocks. */
  private[exec] def sharedFragment(sc: org.apache.spark.SparkContext,
      key: FragmentKey, build: () => RDD[InternalRow],
      reuses: SQLMetric): RDD[InternalRow] = {
    ensureCleanup(sc)
    val holder = sharedRdds.getOrElseUpdate(key, new Holder(build))
    val rdd = holder.rdd
    if (holder.consumers.incrementAndGet() > 1) {
      reuses.add(1)
      if (rdd.getStorageLevel ==
          org.apache.spark.storage.StorageLevel.NONE)
        rdd.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    }
    rdd
  }

  /** Drop (and unpersist) an execution's shared fragments when Spark
    * reports the SQL execution finished — installed once per context. */
  private def ensureCleanup(sc: org.apache.spark.SparkContext): Unit =
    if (cleanupInstalled.putIfAbsent(sc.applicationId, true).isEmpty)
      sc.addSparkListener(new org.apache.spark.scheduler.SparkListener {
        override def onOtherEvent(
            event: org.apache.spark.scheduler.SparkListenerEvent): Unit =
          event match {
            case e: org.apache.spark.sql.execution.ui
                .SparkListenerSQLExecutionEnd =>
              val id = e.executionId.toString
              sharedRdds.keys.filter(_._1 == id).foreach { k =>
                sharedRdds.remove(k).foreach { h =>
                  // unpersist only what was built (touching h.rdd here
                  // would otherwise CONSTRUCT an unbuilt loser)
                  if (h.consumers.get() > 0)
                    try h.rdd.unpersist(blocking = false)
                    catch { case _: Exception => () }
                }
              }
              stagedBinds.keys.filter(_._1 == id).foreach { k =>
                stagedBinds.remove(k).foreach { case (ex, ref) =>
                  try ex.dropTable(ref)
                  catch { case _: Exception => () }
                }
              }
            case _ => ()
          }
      })
}
