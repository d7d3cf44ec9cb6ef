package perfbench

import java.lang.ref.WeakReference

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.{col, size, split}
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener}

import graft.federation.Federation
import graft.federation.duckdb.{DuckDbHarness, DuckDbSqlExecutor}
import graft.federation.exec.RemoteScanExec
import graft.federation.jdbc.{JdbcHarness, JdbcSqlExecutor}
import graft.federation.plans.FederatedPlan
import graft.federation.sql.{RemoteTableRef, SqlExecutor, SqlFederationProvider}

/** Closed-loop benchmark of one workload.
  *
  * Reads the op file written by `gen.py` (SQL texts, generated frames and
  * each op's expected result), sets the workload up once, then
  * runs ops one at a time for the given number of seconds: one client
  * thread, each op waits for its result, and each result is checked
  * against its expectation. Only public entry points are called:
  * `Federation`, the two harnesses, the `SqlExecutor`s and the gate
  * builders of `graft.SparkEntry`.
  *
  * With tracing on, half the ops are traced (spans and per-layer
  * counters, taken around calls into each layer from this file) and the
  * others run exactly as in an untraced run, so the two halves give the
  * tracing overhead under the same load and cache state.
  *
  * Usage: PerfBench <ops.json> <data dir> <seconds> <trace 0|1>
  *          <result.json> <spans.jsonl>
  */
object PerfBench {

  private val mapper = new ObjectMapper()

  def main(args: Array[String]): Unit = {
    val mainStart = System.nanoTime()
    val Array(opsPath, dataDir, secondsArg, traceArg, resultPath,
      spansPath) = args
    val spec = mapper.readTree(new java.io.File(opsPath))
    val workload = spec.get("workload").asText()
    val traced = traceArg == "1"
    // half the cores: the remote engines (DuckDB worker processes, Derby)
    // run on the same machine and need their own; measured on 4 cores,
    // local[4] doubled the run-to-run spread of ops_per_s against local[2]
    val cores = math.max(1, Runtime.getRuntime.availableProcessors() / 2)
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-$workload")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val contextS = (System.nanoTime() - mainStart) / 1e9

    val bench = new Bench(spark, spec, dataDir, traced)
    bench.setup()
    // main to the first timed op: session, engine loads, views, warm-up
    val setupS = (System.nanoTime() - mainStart) / 1e9
    val out = bench.run(secondsArg.toDouble)
    out("setup_s") = setupS
    out("context_s") = contextS
    bench.tracer.write(spansPath)
    bench.close()
    val json = mapper.createObjectNode()
    out.foreach { case (k, v) => json.put(k, v) }
    json.put("workload", workload)
    val phases = mapper.createObjectNode()
    bench.setupPhases.foreach { case (k, v) => phases.put(k, v) }
    json.set[JsonNode]("setup_phases_s", phases)
    json.set[JsonNode]("op_ms", mapper.valueToTree[JsonNode](
      bench.lat.map(x => math.round(x * 10) / 10.0).toArray))
    json.set[JsonNode]("failures",
      mapper.valueToTree[JsonNode](bench.failures.take(5).toArray))
    mapper.writeValue(new java.io.File(resultPath), json)
    spark.stop()
    stopDescendants()
  }

  def median(xs: Seq[Double]): Double = percentile(xs, 50)

  /** The p-th percentile, interpolated between the two nearest ranks. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else {
      val r = p / 100 * (s.size - 1)
      val lo = r.toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (r - lo)
    }
  }

  /** The DuckDB executor keeps a pool of `python3` servers; end them and
    * wait, so the run leaves no process behind. */
  def stopDescendants(): Unit = {
    val kids = ProcessHandle.current().descendants().iterator().asScala.toList
    kids.foreach(_.destroy())
    kids.foreach { p =>
      try p.onExit().get(5, java.util.concurrent.TimeUnit.SECONDS)
      catch { case _: Exception => p.destroyForcibly() }
    }
  }

  def pythonPids(): Set[Long] =
    ProcessHandle.current().descendants().iterator().asScala
      .filter(_.info().command().orElse("").contains("python"))
      .map(_.pid()).toSet
}

/** Spans kept in memory and written once at the end: name, start, end,
  * parent span and op id. Self time of a span is its duration minus the
  * part its children cover (children never overlap: one client thread). */
final class Tracer {
  final case class Span(name: String, start: Long, var end: Long,
      parent: Int, op: Int, children: mutable.ArrayBuffer[Int])
  val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  var enabled = false

  def apply[T](name: String, op: Int)(body: => T): T =
    if (!enabled) body
    else {
      val idx = spans.size
      val parent = stack.headOption.getOrElse(-1)
      spans += Span(name, System.nanoTime(), 0L, parent, op,
        mutable.ArrayBuffer.empty)
      if (parent >= 0) spans(parent).children += idx
      stack = idx :: stack
      try body
      finally { spans(idx).end = System.nanoTime(); stack = stack.tail }
    }

  /** Summed self time per span name, in ms. */
  def selfMs: Map[String, Double] = spans.groupBy(_.name).map {
    case (n, ss) => n -> ss.map { s =>
      (s.end - s.start) - s.children.map(c => spans(c).end - spans(c).start).sum
    }.sum / 1e6
  }

  def write(path: String): Unit = {
    val w = new java.io.PrintWriter(path)
    try spans.zipWithIndex.foreach { case (s, i) =>
      w.println(s"""{"id":$i,"name":"${s.name}","start_ns":${s.start},""" +
        s""""end_ns":${s.end},"parent":${s.parent},"op":${s.op}}""")
    } finally w.close()
  }
}

final class Bench(base: SparkSession, spec: JsonNode, dataDir: String,
    traced: Boolean) {
  import PerfBench.median

  private val workload = spec.get("workload").asText()
  private val mainDir = s"$dataDir/main"
  private val derbyDir = s"$dataDir/derby"
  private val ops = spec.get("ops").asScala.toIndexedSeq
  private val warmups = spec.get("warmup").asScala.toIndexedSeq
  val tracer = new Tracer
  val failures = mutable.ArrayBuffer.empty[String]

  private def names(key: String) = spec.get(key).asScala.map(_.asText()).toSeq
  // only the tables the ops read: Derby rows are inserted from Spark
  private val derbyTables = names("derby_tables")
  private val localTables = names("local_tables")

  private var spark: SparkSession = _
  private var duck: DuckDbSqlExecutor = _
  private var derby: JdbcSqlExecutor = _
  private var stream: MemoryStream[(Long, String)] = _
  private var streamQuery: StreamingQuery = _

  // per-layer sums over traced ops
  private val sum = mutable.Map.empty[String, Double].withDefaultValue(0.0)
  private val seenProbeSql = mutable.Set.empty[String]
  private val replaySql = mutable.LinkedHashMap.empty[String,
    (SqlExecutor, org.apache.spark.sql.types.StructType)]
  private val sessionRefs = mutable.ArrayBuffer.empty[WeakReference[SparkSession]]

  /** Seconds per set-up phase (run context). */
  val setupPhases = mutable.LinkedHashMap.empty[String, Double]
    .withDefaultValue(0.0)

  private def phase[T](name: String)(body: => T): T = {
    val t0 = System.nanoTime()
    try body
    finally setupPhases(name) += (System.nanoTime() - t0) / 1e9
  }

  def setup(): Unit = {
    spark = base.newSession()
    phase("local_views") {
      Federation.install(spark)
      localTables.foreach { t =>
        graft.sources.Tables.table(spark, mainDir, t)
          .createOrReplaceTempView(t)
      }
    }
    phase("duckdb_load") {
      DuckDbHarness.registerViews(spark, mainDir)
      duck = DuckDbHarness.executor(spark, mainDir)
    }
    phase("derby_load") {
      derby = JdbcHarness.executor(spark, derbyDir, derbyTables)
      derbyTables.foreach { t =>
        Federation.registerRemoteTable(spark, s"jdbc_$t", t, derby)
      }
    }
    if (workload == "fed_ingest") phase("sinks") { setupSinks() }
    warmups.zipWithIndex.foreach { case (op, i) =>
      phase("warmup." + op.get("family").asText()) { runOp(op, -1 - i) }
    }
  }

  private val kvSchema = org.apache.spark.sql.types.StructType.fromDDL(
    "k BIGINT, v DOUBLE")
  private val docSchema = org.apache.spark.sql.types.StructType.fromDDL(
    "doc_id BIGINT, text STRING, n_words INT")

  private def engines: Seq[(String, SqlExecutor)] =
    Seq("duck" -> duck, "jdbc" -> derby)

  private def setupSinks(): Unit = {
    for ((prefix, ex) <- engines) {
      ex.createTable(RemoteTableRef.parse("sink_kv"), kvSchema)
      ex.createTable(RemoteTableRef.parse("sink_docs"), docSchema)
      ex.createTable(RemoteTableRef.parse("ctas_orders"),
        org.apache.spark.sql.types.StructType.fromDDL(
          "o_orderkey BIGINT, o_custkey BIGINT, o_totalprice DOUBLE"))
      Seq("sink_kv", "sink_docs", "ctas_orders").foreach { t =>
        Federation.registerRemoteTable(spark, s"${prefix}_$t", t, ex)
      }
    }
    duck.ensureEpochTable(RemoteTableRef.parse("sink_docs"))
    derby.ensureEpochTable(RemoteTableRef.parse("sink_docs"))
    val s = spark
    import s.implicits._
    stream = MemoryStream[(Long, String)](spark)
    val d = duck
    val j = derby
    val ref = RemoteTableRef.parse("sink_docs")
    val screened = stream.toDF().toDF("doc_id", "text")
      .withColumn("n_words", size(split(col("text"), " ")))
      .filter(col("n_words") >= spec.get("stream_min_words").asInt())
    val ckpt = java.nio.file.Files.createTempDirectory("perfbench_ckpt")
    streamQuery = screened.writeStream
      .option("checkpointLocation", ckpt.toString)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        batch.persist()
        try {
          d.insertIntoEpoch(ref, batch, batchId)
          j.insertIntoEpoch(ref, batch, batchId)
        } finally batch.unpersist()
        ()
      }
      .start()
  }

  // ----------------------------------------------------------- the loop

  private var tracing = false

  /** Each timed op's latency in ms, in run order (run context). */
  val lat = mutable.ArrayBuffer.empty[Double]

  def run(seconds: Double): mutable.Map[String, Double] = {
    var failed = 0
    var tracedN = 0
    val taskSums = new TaskSums
    val streamSums = new StreamSums
    if (traced) {
      base.sparkContext.addSparkListener(taskSums)
      spark.streams.addListener(streamSums)
    }
    val pythonAtStart = PerfBench.pythonPids()
    val pythonSeen = mutable.Set.empty[Long] ++ pythonAtStart
    // only the traced run reports heap growth; skip its collections otherwise
    val heapStart = if (traced) liveMb() else 0.0
    val sessionsBefore = sessionRefs.size
    // latency and whether the op was traced, per op family
    val byFamily = mutable.Map.empty[String, mutable.ArrayBuffer[(Double, Boolean)]]
    val start = System.nanoTime()
    val deadline = start + (seconds * 1e9).toLong
    // whole cycles of the op mix, so every run measures the same mix; the
    // op list holds whole cycles and is never replayed
    val cycle = spec.get("cycle").asInt()
    // wall seconds and rows across the engine boundary of each whole cycle
    val cycles = mutable.ArrayBuffer.empty[(Double, Double)]
    var cycleStart = start
    var cycleRows = 0.0
    var i = 0
    while (i < ops.size && (System.nanoTime() < deadline || i % cycle != 0)) {
      if (i > 0 && i % cycle == 0) {
        val now = System.nanoTime()
        cycles += ((now - cycleStart) / 1e9) -> cycleRows
        cycleStart = now
        cycleRows = 0.0
      }
      val op = ops(i)
      // every other op of a cycle is traced, the other half in the next
      // cycle: each op kind is traced in one cycle of two, interleaved in
      // time with its untraced runs
      tracing = traced && (i % cycle + i / cycle) % 2 == 0
      tracer.enabled = tracing
      val t0 = System.nanoTime()
      val (ok, n) = tracer("op", i) { runOp(op, i) }
      val ms = (System.nanoTime() - t0) / 1e6
      tracer.enabled = false
      lat += ms
      byFamily.getOrElseUpdate(op.get("family").asText(),
        mutable.ArrayBuffer.empty) += ms -> tracing
      cycleRows += n
      if (!ok) failed += 1
      if (tracing) {
        tracedN += 1
        pythonSeen ++= PerfBench.pythonPids()
      }
      i += 1
    }
    val end = System.nanoTime()
    if (i % cycle == 0) cycles += ((end - cycleStart) / 1e9) -> cycleRows
    val wall = (end - start) / 1e9
    tracing = false
    val heapEnd = liveMb()
    val n = lat.size
    val tailPct = spec.get("tail_pct").asDouble()
    // throughputs of the median cycle: every cycle holds the same mix, so
    // a burst of load on the shared machine moves one cycle, not the figure
    val out = mutable.LinkedHashMap[String, Double](
      "attempted" -> n.toDouble,
      "failed" -> failed.toDouble,
      "op_p50_ms" -> median(lat.toSeq),
      "op_tail_ms" -> PerfBench.percentile(lat.toSeq, tailPct),
      "op_tail_pct" -> tailPct,
      "op_tail_beyond" -> n * (1 - tailPct / 100),
      "ops_per_s" -> median(cycles.map(c => cycle / c._1).toSeq),
      "rows_per_s" -> median(cycles.map(c => c._2 / c._1).toSeq),
      "cycles" -> cycles.size.toDouble,
      "error_rate" -> failed.toDouble / n,
      "heap_live_mb" -> heapEnd,
      "timed_wall_s" -> wall)
    byFamily.foreach { case (f, xs) =>
      out(s"family_p50_ms.$f") = median(xs.map(_._1).toSeq)
    }
    if (traced) {
      replay()
      val tn = math.max(1, tracedN).toDouble
      def per(k: String) = sum(k) / tn
      def ratio(a: String, b: String) =
        if (sum(b) == 0) 0.0 else sum(a) / sum(b)
      val self = tracer.selfMs
      val sessionsLeft = sessionRefs.count(_.get() != null).toDouble
      val m = mutable.LinkedHashMap[String, Double](
        "plan.analysis_ms" -> per("plan.analysis_ms"),
        "plan.optimization_ms" -> per("plan.optimization_ms"),
        "plan.physical_ms" -> per("plan.physical_ms"),
        "plan.tracker_ms" -> per("plan.tracker_ms"),
        "plan.graft_rule_ms" -> per("plan.graft_rule_ms"),
        "plan.graft_rule_effective_ratio" ->
          ratio("plan.graft_rule_effective", "plan.graft_rule_invocations"),
        "plan.fragments_per_op" -> per("plan.fragments"),
        "probe.round_trips_per_op" -> per("probe.round_trips"),
        "probe.repeat_ratio" -> ratio("probe.repeats", "probe.round_trips"),
        "probe.plan_ms_on_miss" -> ratio("probe.miss_plan_ms", "probe.miss_ops"),
        "unparse.ms_per_fragment" -> ratio("unparse.ms", "unparse.fragments"),
        "unparse.sql_bytes_per_fragment" ->
          ratio("unparse.sql_bytes", "unparse.fragments"),
        "scan.remote_fetch_ms" -> per("scan.remoteFetchTime") / 1e6,
        "scan.remote_bytes" -> per("scan.remoteBytes"),
        "scan.rows" -> per("scan.numOutputRows"),
        "scan.coerced_rows" -> per("scan.numCoercedRows"),
        "scan.splits_per_fragment" -> ratio("scan.numSplits", "plan.fragments"),
        "scan.runtime_filters" -> per("scan.numRuntimeFilters"),
        "scan.bind_rows" -> per("scan.numBindRows"),
        "scan.staged_binds" -> per("scan.numStagedBinds"),
        "scan.fragment_reuses" -> per("scan.numFragmentReuses"),
        "wire.duckdb.statements_per_op" -> per("wire.duckdb.statements"),
        "wire.derby.statements_per_op" -> per("wire.derby.statements"),
        "wire.duckdb.json_rows_per_s" ->
          ratio("replay.duck_json.rows", "replay.duck_json.s"),
        "wire.duckdb.staged_rows_per_s" ->
          ratio("replay.duck_staged.rows", "replay.duck_staged.s"),
        "wire.derby.rows_per_s" -> ratio("replay.derby.rows", "replay.derby.s"),
        "wire.bytes_per_row" -> ratio("scan.remoteBytes", "scan.numOutputRows"),
        "wire.duckdb.server_spawns" -> (pythonSeen -- pythonAtStart).size.toDouble,
        "write.insert_ms" -> ratio("write.insert_ms", "write.inserts"),
        "write.insert_rows_per_s" ->
          ratio("write.insert_rows", "write.insert_ms") * 1000,
        "write.dml_ms" -> ratio("write.dml_ms", "write.dmls"),
        "write.dml_statements" -> per("write.dml_statements"),
        "stream.query_planning_ms" -> streamSums.per("queryPlanning"),
        "stream.add_batch_ms" -> streamSums.per("addBatch"),
        "stream.get_batch_ms" -> streamSums.per("getBatch"),
        "stream.trigger_ms" -> streamSums.per("triggerExecution"),
        "stream.batches" -> streamSums.batches.toDouble,
        "exec.task_cpu_ms" -> taskSums.cpuNs.get() / 1e6 / n,
        "exec.task_run_ms" -> taskSums.runMs.get().toDouble / n,
        "exec.gc_ms" -> taskSums.gcMs.get().toDouble / n,
        "exec.shuffle_bytes" -> taskSums.shuffleBytes.get().toDouble / n,
        "exec.tasks" -> taskSums.tasks.get().toDouble / n,
        "exec.local_residual_ms" -> per("exec.local_residual_ms"),
        "operator.dedup.ms" -> ratio("operator.dedup.ms", "operator.dedup.n"),
        "operator.text.ms" -> ratio("operator.text.ms", "operator.text.n"),
        "operator.similarity.ms" ->
          ratio("operator.similarity.ms", "operator.similarity.n"),
        "operator.events.ms" -> ratio("operator.events.ms", "operator.events.n"),
        "operator.build_ms" -> ratio("operator.build_ms", "operator.calls"),
        "session.reachable_after_release" -> sessionsLeft,
        "session.heap_growth_mb_per_session" ->
          (if (sessionRefs.size == sessionsBefore) 0.0
           else (heapEnd - heapStart) / (sessionRefs.size - sessionsBefore)),
        "trace.overhead_ratio" ->
          overheadRatio(byFamily.values.map(_.toSeq).toSeq),
        "trace.traced_ops" -> tracedN.toDouble)
      Seq("op", "plan.analysis", "plan.optimization", "plan.physical",
        "unparse", "exec", "verify", "write", "stream", "operator.build",
        "operator.exec").foreach { s =>
        m(s"self.$s.ms_per_op") = self.getOrElse(s, 0.0) / tn
      }
      out ++= m
    }
    out
  }

  /** The run's wall time with every op traced over its wall time with none
    * traced: each op family's traced and untraced mean latencies, weighted
    * by the family's op count, so the two halves need not hold the same
    * mix. Families without both kinds of op are left out. */
  private def overheadRatio(families: Seq[Seq[(Double, Boolean)]]): Double = {
    def mean(xs: Seq[Double]) = xs.sum / xs.size
    val both = families.map(_.partition(_._2)).collect {
      case (t, p) if t.nonEmpty && p.nonEmpty =>
        (t.size + p.size) -> (mean(t.map(_._1)), mean(p.map(_._1)))
    }
    val plain = both.map { case (n, (_, p)) => n * p }.sum
    if (plain == 0) 0.0 else both.map { case (n, (t, _)) => n * t }.sum / plain
  }

  def close(): Unit = if (streamQuery != null) streamQuery.stop()

  /** The live heap: used heap after two full collections. The pause
    * between them lets Spark's ContextCleaner drop the blocks that the
    * first collection freed. */
  private def liveMb(): Double = {
    val r = Runtime.getRuntime
    System.gc()
    Thread.sleep(200)
    System.gc()
    (r.totalMemory() - r.freeMemory()) / 1048576.0
  }

  // ------------------------------------------------------------ one op

  /** Run one op; returns (result correct, rows across the boundary). */
  private def runOp(op: JsonNode, id: Int): (Boolean, Double) = {
    val family = op.get("family").asText()
    try {
      if (op.has("sql")) runSql(op, id)
      else if (op.has("chain")) runChain(op, id)
      else if (family == "stream") runStream(op, id)
      else runWrite(op, family, id)
    } catch {
      case e: Exception =>
        fail(id, s"$family: ${e.getClass.getSimpleName}: " +
          s"${String.valueOf(e.getMessage).take(300)}")
        (false, 0.0)
    }
  }

  private def fail(id: Int, msg: String): Unit =
    if (id >= 0 && failures.size < 50) failures += s"op $id $msg"

  private def statementCounts(): (Int, Int) = (
    if (duck == null) 0
    else duck.executedSql.synchronized(duck.executedSql.size) +
      duck.dmlLog.synchronized(duck.dmlLog.size),
    if (derby == null) 0
    else derby.executedSql.synchronized(derby.executedSql.size) +
      derby.dmlLog.synchronized(derby.dmlLog.size))

  private def newSql(from: (Int, Int)): Seq[String] =
    (if (duck == null) Nil else duck.executedSql.synchronized(
      duck.executedSql.drop(from._1).toList)) ++
    (if (derby == null) Nil else derby.executedSql.synchronized(
      derby.executedSql.drop(from._2).toList))

  private def sqlCounts(): (Int, Int) = (
    if (duck == null) 0 else duck.executedSql.synchronized(duck.executedSql.size),
    if (derby == null) 0 else derby.executedSql.synchronized(derby.executedSql.size))

  private def runSql(op: JsonNode, id: Int): (Boolean, Double) = {
    val sql = op.get("sql").asText()
    val stmts0 = statementCounts()
    val (rows, scans) =
      if (!tracing) {
        val df = spark.sql(sql)
        val r = df.collect()
        (r, remoteScans(df.queryExecution.executedPlan))
      } else {
        val t0 = System.nanoTime()
        val df = tracer("plan.analysis", id) { spark.sql(sql) }
        val t1 = System.nanoTime()
        val qe = df.queryExecution
        val optimized = tracer("plan.optimization", id) { qe.optimizedPlan }
        val t2 = System.nanoTime()
        val probe0 = sqlCounts()
        tracer("plan.physical", id) { qe.executedPlan }
        val t3 = System.nanoTime()
        val probes = newSql(probe0)
        val planMs = (t3 - t0) / 1e6
        sum("plan.analysis_ms") += (t1 - t0) / 1e6
        sum("plan.optimization_ms") += (t2 - t1) / 1e6
        sum("plan.physical_ms") += (t3 - t2) / 1e6
        sum("plan.tracker_ms") += qe.tracker.phases.values
          .map(p => p.durationMs.toDouble).sum
        qe.tracker.rules.foreach { case (name, r) =>
          if (name.startsWith("graft.")) {
            sum("plan.graft_rule_ms") += r.totalTimeNs / 1e6
            sum("plan.graft_rule_invocations") += r.numInvocations
            sum("plan.graft_rule_effective") += r.numEffectiveInvocations
          }
        }
        sum("probe.round_trips") += probes.size
        sum("probe.repeats") += probes.count(seenProbeSql.contains)
        seenProbeSql ++= probes
        if (probes.nonEmpty) {
          sum("probe.miss_ops") += 1
          sum("probe.miss_plan_ms") += (t3 - t2) / 1e6
        }
        // the re-unparse is the benchmark's own work: keep it out of wall
        val u0 = System.nanoTime()
        tracer("unparse", id) { unparseFragments(optimized) }
        val unparseNs = System.nanoTime() - u0
        val r = tracer("exec", id) { df.collect() }
        val wall = (System.nanoTime() - t0 - unparseNs) / 1e6
        val scans = remoteScans(qe.executedPlan)
        sum("plan.fragments") += scans.size
        scans.foreach { s =>
          s.metrics.foreach { case (k, m) => sum(s"scan.$k") += m.value }
          if (replaySql.size < 64 && s.runtimeFilters.isEmpty &&
              s.bindJoins.isEmpty)
            s.sqls.foreach(q => replaySql.getOrElseUpdate(q,
              (s.executor, s.schema)))
        }
        // fetch time is summed over a fragment's split cursors, which run
        // in parallel: charge the op the mean cursor's share
        val fetchMs = scans.map(s => s.metrics("remoteFetchTime").value /
          math.max(1L, s.sqls.size)).sum / 1e6
        sum("exec.local_residual_ms") += wall - planMs - fetchMs
        (r, scans)
      }
    countStatements(stmts0)
    val boundary = scans.map(_.metrics("numOutputRows").value).sum.toDouble
    val ok = tracer("verify", id) {
      Check.rows(rows, op.get("expect_rows")) match {
        case None => true
        case Some(why) => fail(id, s"${op.get("family").asText()}: $why"); false
      }
    }
    (ok, boundary)
  }

  private def countStatements(from: (Int, Int)): Unit = if (tracing) {
    val (d, j) = statementCounts()
    sum("wire.duckdb.statements") += d - from._1
    sum("wire.derby.statements") += j - from._2
  }

  private def unparseFragments(
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): Unit =
    plan.foreach {
      case f: FederatedPlan =>
        f.provider match {
          case p: SqlFederationProvider =>
            val t0 = System.nanoTime()
            val sqls = p.unparseSplitsInfo(f.inner)._1
            sum("unparse.ms") += (System.nanoTime() - t0) / 1e6
            sum("unparse.fragments") += 1
            sum("unparse.sql_bytes") += sqls.map(_.length).sum.toDouble / sqls.size
          case _ => ()
        }
      case _ => ()
    }

  private def remoteScans(p: SparkPlan): Seq[RemoteScanExec] = p match {
    case a: AdaptiveSparkPlanExec => remoteScans(a.executedPlan)
    case q: QueryStageExec => remoteScans(q.plan)
    case r: RemoteScanExec => Seq(r)
    case other => (other.children ++ other.subqueries).flatMap(remoteScans)
  }

  /** Replay each distinct fragment SQL seen by traced ops through the
    * executor's own `execute` and drain it: the wire layer alone, without
    * planning or the local residual. DuckDB replays are split by result
    * size at the executor's staged-fetch threshold. */
  private def replay(): Unit = {
    val budgetEnd = System.nanoTime() + 3000000000L
    replaySql.foreach { case (q, (ex, schema)) =>
      if (System.nanoTime() < budgetEnd) {
        val t0 = System.nanoTime()
        val n = ex.execute(q, schema).count()
        val s = (System.nanoTime() - t0) / 1e9
        val key = ex match {
          case d: DuckDbSqlExecutor =>
            if (n > d.fetchStageRows) "duck_staged" else "duck_json"
          case _: JdbcSqlExecutor => "derby"
          case _ => "other"
        }
        sum(s"replay.$key.rows") += n
        sum(s"replay.$key.s") += s
      }
    }
  }

  // ------------------------------------------------------------ writes

  private def readBack(sql: String, expect: JsonNode, id: Int,
      what: String): Boolean = {
    val r = tracer("verify", id) { spark.sql(sql).collect() }
    Check.tuple(r.head, expect) match {
      case None => true
      case Some(why) => fail(id, s"$what: $why"); false
    }
  }

  private def timedWrite[T](kind: String, id: Int)(body: => T): T = {
    val t0 = System.nanoTime()
    val r = tracer("write", id) { body }
    if (tracing) {
      sum(s"write.${kind}_ms") += (System.nanoTime() - t0) / 1e6
      sum(s"write.${kind}s") += 1
    }
    r
  }

  private def dmlStatements(): Int =
    (if (duck == null) 0 else duck.dmlLog.synchronized(duck.dmlLog.size)) +
    (if (derby == null) 0 else derby.dmlLog.synchronized(derby.dmlLog.size))

  /** One write step on each engine in turn, each checked by a read-back. */
  private def runWrite(op: JsonNode, family: String,
      id: Int): (Boolean, Double) = {
    val lo = op.get("lo").asLong()
    val hi = op.get("hi").asLong()
    val stmts0 = statementCounts()
    val dml0 = dmlStatements()
    val ok = engines.map { case (prefix, ex) =>
      if (family == "ctas") {
        val df = spark.sql("SELECT o_orderkey, o_custkey, o_totalprice " +
          s"FROM duck_orders WHERE o_orderkey >= $lo AND o_orderkey < $hi")
        timedWrite("insert", id) {
          Federation.createRemoteTableAs(df, "ctas_orders", ex)
        }
      } else {
        val df = spark.range(lo, hi)
          .selectExpr("id AS k", "CAST(id % 97 AS DOUBLE) / 4 AS v")
        val ref = RemoteTableRef.parse("sink_kv")
        timedWrite("insert", id) { ex.insertInto(ref, df) }
        if (family == "dml") {
          val inRange = col("k") >= lo && col("k") < hi
          timedWrite("dml", id) {
            Federation.deleteFromRemote(spark, "sink_kv", ex,
              inRange && col("k") % 3 === 0)
            Federation.updateRemote(spark, "sink_kv", ex,
              Seq("v" -> (col("v") + 1)), inRange && col("k") % 2 === 0)
          }
        }
      }
      if (tracing) sum("write.insert_rows") += hi - lo
      if (family == "ctas")
        readBack("SELECT COUNT(*), 0, CAST(SUM(CAST(o_totalprice AS " +
          s"DECIMAL(18,2))) AS DOUBLE) FROM ${prefix}_ctas_orders",
          op.get("expect"), id, s"$family->$prefix")
      else
        readBack("SELECT COUNT(*), COALESCE(SUM(k), 0), COALESCE(SUM(v), 0) " +
          s"FROM ${prefix}_sink_kv WHERE k >= $lo AND k < $hi",
          op.get("expect"), id, s"$family->$prefix")
    }.forall(identity)
    if (tracing) sum("write.dml_statements") += dmlStatements() - dml0
    countStatements(stmts0)
    (ok, 2.0 * (hi - lo))
  }

  private def runStream(op: JsonNode, id: Int): (Boolean, Double) = {
    val docs = op.get("docs").asScala.map(d =>
      (d.get(0).asLong(), d.get(1).asText())).toSeq
    val stmts0 = statementCounts()
    val dml0 = dmlStatements()
    tracer("stream", id) {
      stream.addData(docs)
      streamQuery.processAllAvailable()
    }
    if (tracing) sum("write.dml_statements") += dmlStatements() - dml0
    val lo = op.get("lo").asLong()
    val hi = op.get("hi").asLong()
    val ok = engines.forall { case (prefix, _) =>
      readBack("SELECT COUNT(*), COALESCE(SUM(n_words), 0) " +
        s"FROM ${prefix}_sink_docs WHERE doc_id >= $lo AND doc_id < $hi",
        op.get("expect"), id, s"stream->$prefix")
    }
    countStatements(stmts0)
    (ok, 2.0 * op.get("expect").get(0).asLong())
  }

  // --------------------------------------------------------- operators

  /** Run the op's chain of operator gates in one fresh session, then drop
    * the session; the local work moves no rows across the engine
    * boundary. */
  private def runChain(op: JsonNode, id: Int): (Boolean, Double) = {
    val s = base.newSession()
    sessionRefs += new WeakReference(s)
    val ok = op.get("chain").asScala.map(_.asText()).map { g =>
      val gate = spec.get("gates").get(g)
      val family = gate.get("family").asText()
      val g0 = System.nanoTime()
      val df = tracer("operator.build", id) {
        graft.SparkEntry.queries(g)(s, mainDir)
      }
      val g1 = System.nanoTime()
      val rows = tracer("operator.exec", id) { df.collect() }
      val g2 = System.nanoTime()
      if (tracing) {
        sum(s"operator.$family.ms") += (g2 - g0) / 1e6
        sum(s"operator.$family.n") += 1
        sum("operator.build_ms") += (g1 - g0) / 1e6
        sum("operator.calls") += 1
        sum("exec.local_residual_ms") += (g2 - g1) / 1e6
      }
      tracer("verify", id) {
        Check.rows(rows, gate.get("expect")) match {
          case None => true
          case Some(why) => fail(id, s"$g: $why"); false
        }
      }
    }.forall(identity)
    (ok, 0.0)
  }
}

/** Task totals from the listener bus (traced runs only). */
final class TaskSums extends SparkListener {
  import java.util.concurrent.atomic.AtomicLong
  val cpuNs, runMs, gcMs, shuffleBytes, tasks = new AtomicLong()
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    tasks.incrementAndGet()
    if (m != null) {
      cpuNs.addAndGet(m.executorCpuTime)
      runMs.addAndGet(m.executorRunTime)
      gcMs.addAndGet(m.jvmGCTime)
      shuffleBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
    }
  }
}

/** Micro-batch durations from streaming progress (traced runs only). */
final class StreamSums extends StreamingQueryListener {
  private val totals = mutable.Map.empty[String, Double].withDefaultValue(0.0)
  @volatile var batches = 0
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(
      e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(
      e: StreamingQueryListener.QueryProgressEvent): Unit = synchronized {
    if (e.progress.numInputRows > 0) {
      batches += 1
      e.progress.durationMs.asScala.foreach { case (k, v) =>
        totals(k) += v.doubleValue()
      }
    }
  }
  def per(k: String): Double = synchronized {
    if (batches == 0) 0.0 else totals(k) / batches
  }
}

/** Result checks: a multiset of rows against the oracle's rows, numbers
  * within a relative 1e-6 (sums are order-dependent in floating point). */
object Check {

  private def canon(v: Any): Any = v match {
    case null => null
    case b: java.lang.Boolean => b
    case n: java.math.BigDecimal => n.doubleValue()
    case n: scala.math.BigDecimal => n.toDouble
    case n: Number => n.doubleValue()
    case t: java.time.LocalDateTime => ts(t)
    case t: java.sql.Timestamp => ts(t.toLocalDateTime)
    case t: java.time.Instant => ts(java.time.LocalDateTime.ofInstant(
      t, java.time.ZoneOffset.UTC))
    case d: java.time.LocalDate => d.toString
    case d: java.sql.Date => d.toLocalDate.toString
    case s: scala.collection.Seq[_] => s.map(canon).toList
    case a: Array[_] => a.toList.map(canon)
    case r: Row => r.schema.fieldNames.zip(r.toSeq.map(canon)).toMap
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => String.valueOf(k) -> canon(x) }.toMap
    case other => other.toString
  }

  private val secondsFormat =
    java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss")

  /** Python's `isoformat(sep=" ")`: microseconds only when nonzero. */
  private def ts(t: java.time.LocalDateTime): String = {
    val base = t.format(secondsFormat)
    if (t.getNano == 0) base else f"$base.${t.getNano / 1000}%06d"
  }

  private def fromJson(j: JsonNode): Any =
    if (j == null || j.isNull) null
    else if (j.isNumber) j.asDouble()
    else if (j.isBoolean) j.asBoolean()
    else if (j.isArray) j.asScala.map(fromJson).toList
    else if (j.isObject) j.fields().asScala.map(e =>
      e.getKey -> fromJson(e.getValue)).toMap
    else j.asText()

  private def key(v: Any): String = v match {
    case null => "~"
    case d: Double => f"$d%.6g"
    case l: List[_] => l.map(key).mkString("[", ",", "]")
    case m: Map[_, _] => m.toSeq.map { case (k, x) => s"$k=${key(x)}" }
      .sorted.mkString("{", ",", "}")
    case other => other.toString
  }

  private def same(a: Any, b: Any): Boolean = (a, b) match {
    case (x: Double, y: Double) =>
      x == y || math.abs(x - y) <= 1e-6 * math.max(1.0, math.max(
        math.abs(x), math.abs(y)))
    case (x: List[_], y: List[_]) =>
      x.size == y.size && x.zip(y).forall { case (p, q) => same(p, q) }
    case (x: Map[String, Any] @unchecked, y: Map[String, Any] @unchecked) =>
      x.keySet == y.keySet && x.keys.forall(k => same(x(k), y(k)))
    case _ => a == b
  }

  /** None when `rows` equal the expected {cols, rows}, else the reason. */
  def rows(rows: Array[Row], expect: JsonNode): Option[String] = {
    val cols = expect.get("cols").asScala.map(_.asText().toLowerCase).toIndexedSeq
    val want = expect.get("rows").asScala.map(r =>
      r.asScala.map(fromJson).toList).toIndexedSeq
    if (rows.length != want.size)
      return Some(s"${rows.length} rows, expected ${want.size}")
    if (rows.isEmpty) return None
    val names = rows.head.schema.fieldNames.map(_.toLowerCase)
    val idx = cols.map(c => names.indexOf(c))
    val got = rows.toIndexedSeq.map { r =>
      if (idx.forall(_ >= 0) && names.length == cols.size)
        idx.map(i => canon(r.get(i))).toList
      else r.toSeq.map(canon).toList
    }
    if (got.head.size != cols.size)
      return Some(s"${got.head.size} columns, expected ${cols.size}")
    val g = got.sortBy(key)
    val w = want.sortBy(key)
    g.zip(w).find { case (a, b) => !same(a, b) }
      .map { case (a, b) => s"row ${key(a)} != expected ${key(b)}" }
  }

  /** None when the single row `r` equals the expected tuple. */
  def tuple(r: Row, expect: JsonNode): Option[String] = {
    val got = r.toSeq.map(canon).toList
    val want = expect.asScala.map(fromJson).toList
    if (same(got, want)) None else Some(s"${key(got)} != expected ${key(want)}")
  }
}

/** Writes the oracle SQL of the named gates as a JSON object. */
object GateOracles {
  def main(args: Array[String]): Unit = {
    val all = graft.SparkEntry.oracleSql
    val m = new ObjectMapper().createObjectNode()
    args.drop(1).foreach(g => m.put(g, all(g)))
    new ObjectMapper().writeValue(new java.io.File(args(0)), m)
  }
}
