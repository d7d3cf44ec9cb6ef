package graft

import java.sql.DriverManager

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd, SparkListenerTaskStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{col, count, lit, monotonically_increasing_id, sum}
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

import graft.federation.Federation
import graft.federation.duckdb.{DuckDbHarness, DuckDbSqlExecutor}
import graft.federation.jdbc.{DerbyDialect, JdbcSqlExecutor}
import graft.federation.sql.RemoteTableRef

/** Read-path chaos: RetryStress proves WRITE idempotence; these kill a
  * remote READ mid-stream and assert Spark's task retry re-runs the
  * cursor cleanly — fresh server/connection (no poisoned pool reuse),
  * exact final answer, and boundary metrics counted once (SQLMetrics
  * exclude failed attempts). `local[4, 4]` gives local tasks the
  * cluster-default retry budget (`spark.task.maxFailures` = 4); nothing
  * is raised beyond defaults. A fully pushed collect runs no task: its
  * driver fetch re-runs under the same limit.
  */
class ReadChaosSpec extends AnyFunSuite with BeforeAndAfterAll {

  private val dir = "/root/testdata/sf0.001"

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4, 4]")
    .appName("graft-read-chaos-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  /** `spark.task.maxFailures` under `local[4, 4]`: the 4th failure of one
    * task fails its job. */
  private val TaskBudget = 4

  private val failedTasks = new java.util.concurrent.atomic.AtomicInteger
  /** Running task attempts: task id → (stage, partition). */
  private val runningTasks =
    new java.util.concurrent.ConcurrentHashMap[Long, (Int, Int)]
  /** Failures so far per task, keyed (stage, partition). */
  private val taskFailures =
    new java.util.concurrent.ConcurrentHashMap[(Int, Int), Integer]
  private val chaosListener = new SparkListener {
    override def onTaskStart(t: SparkListenerTaskStart): Unit = {
      runningTasks.put(t.taskInfo.taskId, (t.stageId, t.taskInfo.index))
      ()
    }
    override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
      runningTasks.remove(t.taskInfo.taskId)
      if (t.reason != org.apache.spark.Success) {
        failedTasks.incrementAndGet()
        taskFailures.merge((t.stageId, t.taskInfo.index), 1,
          (a, b) => Integer.valueOf(a.intValue() + b.intValue()))
      }
      ()
    }
  }

  /** Every live python descendant of this JVM is a DuckDB wire worker —
    * destroy them all, EOF-ing any in-flight fetch. */
  private def killDuckWorkers(): Int = {
    val workers = ProcessHandle.current().descendants().iterator().asScala
      .filter(p => p.isAlive &&
        p.info().command().map[Boolean](_.contains("python"))
          .orElse(java.lang.Boolean.FALSE))
      .toList
    workers.foreach(_.destroyForcibly())
    workers.size
  }

  /** Interrupt every Spark executor task thread — embedded Derby
    * invalidates the whole connection on interrupt (SQLState 08000),
    * the probed analog of a remote connection dying mid-fetch. */
  private def interruptTaskThreads(): Int = {
    val ts = Thread.getAllStackTraces.keySet().asScala
      .filter(_.getName.startsWith("Executor task launch worker")).toList
    ts.foreach(_.interrupt())
    ts.size
  }

  /** Run `mkAnswer` while `chaos()` fires mid-flight; retry the scenario
    * until the chaos provably landed (a task failed) AND the job still
    * answered. The chaos VOLLEYS up to 3 times per attempt, `delayMs`
    * apart, while the job runs — a single timed shot misses whenever
    * driver-side planning (stats probes) outlasts the delay, which it
    * does under full-suite load. Three volleys stay under the 4-failure
    * task budget. Returns the answer of the landing attempt. */
  private def untilChaosLands[A](chaos: () => Int, delayMs: Long,
      maxAttempts: Int = 12)(mkAnswer: () => A): A = {
    var landed: Option[A] = None
    var lastErr: Throwable = null
    var attempt = 0
    while (landed.isEmpty && attempt < maxAttempts) {
      attempt += 1
      val failuresBefore = failedTasks.get()
      @volatile var res: Option[A] = None
      @volatile var err: Throwable = null
      val t = new Thread(() => {
        try res = Some(mkAnswer()) catch { case e: Throwable => err = e }
      })
      t.start()
      var volleys = 0
      while (t.isAlive && volleys < 3 &&
          failedTasks.get() == failuresBefore) {
        Thread.sleep(delayMs)
        if (t.isAlive) { chaos(); volleys += 1 }
      }
      t.join(180000)
      assert(!t.isAlive, "chaos attempt hung")
      if (err != null) lastErr = err
      else if (failedTasks.get() > failuresBefore) landed = res
      // else: the job finished before the chaos hit — run again
    }
    assert(landed.isDefined,
      s"chaos never landed on a surviving job after $maxAttempts attempts" +
        (if (lastErr != null) s"; last error: $lastErr" else ""))
    landed.get
  }

  test("DuckDB worker killed mid-fetch: task retry re-opens the cursor, " +
      "answer exact, metrics counted once, pool unpoisoned") {
    val e = DuckDbHarness.executor(spark, dir)
    Federation.install(spark)
    spark.sparkContext.addSparkListener(chaosListener)
    val N = 2000000L
    e.runDdl(RemoteTableRef.parse("chaos_big"), Seq(
      "DROP TABLE IF EXISTS chaos_big",
      s"CREATE TABLE chaos_big AS SELECT range AS id, " +
        s"md5(CAST(range AS VARCHAR)) AS v FROM range($N)"))
    try {
      // local nondeterministic projection keeps the aggregate OUT of the
      // fragment: the wire streams all N rows through the split cursors
      def frame = Federation.remoteDataFrame(spark, "chaos_big", e)
        .withColumn("rid", monotonically_increasing_id())
        .where(col("rid") >= 0)
        .agg(count(lit(1)).as("n"), sum(col("id")).as("s"))
      val (row, plan) = untilChaosLands(() => killDuckWorkers(), 600L) { () =>
        val df = frame
        val r = df.collect().head
        (r, df.queryExecution.executedPlan)
      }
      assert(row.getLong(0) == N)
      assert(row.getLong(1) == N * (N - 1) / 2)
      // boundary metrics count rows ONCE: SQLMetrics drop failed-attempt
      // updates, so the retried cursor's partial read never double-counts
      def scans(p: org.apache.spark.sql.execution.SparkPlan):
          Seq[graft.federation.exec.RemoteScanExec] = p match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          scans(a.executedPlan)
        case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
          scans(q.plan)
        case r: graft.federation.exec.RemoteScanExec => Seq(r)
        case other => (other.children ++ other.subqueries).flatMap(scans)
      }
      val scan = scans(plan)
      assert(scan.nonEmpty, s"no remote scan in:\n$plan")
      assert(scan.head.metrics("numOutputRows").value == N,
        s"rows metric must count the fetch once, got " +
          s"${scan.head.metrics("numOutputRows").value}")
      assert(scan.head.sqls.size > 1, "the fetch must be multi-split")
      // pool hygiene: dead workers never rejoin; the next queries are clean
      assert(e.runQuery("SELECT COUNT(*) FROM chaos_big")
        .head.getLong(0) == N)
      assert(Federation.remoteDataFrame(spark, "chaos_big", e).count() == N)
    } finally {
      spark.sparkContext.removeSparkListener(chaosListener)
      e.runWrite(Seq("DROP TABLE IF EXISTS chaos_big"))
    }
  }

  test("DuckDB worker killed mid-fetch of a fully pushed collect: the " +
      "driver re-runs the fetch, answer exact, rows counted once") {
    // one cursor, so the scan is collected on the driver with no task to
    // retry: the driver's own re-run (up to the same 4-failure limit)
    // must take over
    val e = new DuckDbSqlExecutor("duck1", spark,
      DuckDbHarness.executor(spark, dir).dbPath)
    Federation.install(spark)
    val N = 1000000L
    // a streaming per-row cost keeps the 1M-row fetch in flight ~1 s
    e.runDdl(RemoteTableRef.parse("chaos_drv"), Seq(
      "CREATE OR REPLACE VIEW chaos_drv AS SELECT range AS id FROM " +
        s"range($N) WHERE md5(md5(md5(CAST(range AS VARCHAR)))) <> 'x'"))
    try {
      var landed = false
      var attempt = 0
      while (!landed && attempt < 12) {
        attempt += 1
        val df = Federation.remoteDataFrame(spark, "chaos_drv", e)
        // plan (and probe) before the chaos window opens
        val scan = df.queryExecution.executedPlan match {
          case r: graft.federation.exec.RemoteScanExec => r
          case other => fail(s"not a root remote scan:\n$other")
        }
        def shipped: Int = e.executedSql.synchronized(
          e.executedSql.count(_ == scan.sqls.head))
        val shipped0 = shipped
        @volatile var res: Array[org.apache.spark.sql.Row] = null
        @volatile var err: Throwable = null
        val t = new Thread(() => {
          try res = df.collect() catch { case x: Throwable => err = x }
        })
        t.start()
        // three volleys stay under the 4-failure limit
        var volleys = 0
        while (t.isAlive && volleys < 3 && shipped - shipped0 < 2) {
          Thread.sleep(300)
          if (t.isAlive) { killDuckWorkers(); volleys += 1 }
        }
        t.join(180000)
        assert(!t.isAlive, "chaos attempt hung")
        assert(err == null, s"the driver fetch failed: $err")
        // landed: the fetch SQL shipped again after a lost worker
        if (shipped - shipped0 >= 2) {
          landed = true
          assert(res.length == N)
          assert(res.map(_.getLong(0)).sum == N * (N - 1) / 2)
          assert(scan.metrics("numOutputRows").value == N,
            s"rows metric must count the fetch once, got " +
              s"${scan.metrics("numOutputRows").value}")
          assert(scan.metrics("numSplits").value == 1)
        }
      }
      assert(landed, "chaos never landed on a driver fetch in 12 attempts")
      assert(e.runQuery("SELECT COUNT(*) FROM chaos_drv").head.getLong(0) == N)
    } finally e.runWrite(Seq("DROP VIEW IF EXISTS chaos_drv"))
  }

  test("DuckDB worker killed mid-MICROBATCH: the streaming source's task " +
      "retry re-ships the identical cursor range, rows delivered exactly " +
      "once (the offset-WAL claim under task failure)") {
    val e = DuckDbHarness.executor(spark, dir)
    Federation.registerCatalog(spark, "chaoscat", Seq(e))
    // attempts an earlier test left unended once it removed the listener
    runningTasks.clear()
    spark.sparkContext.addSparkListener(chaosListener)
    val N = 1500000L
    e.runDdl(RemoteTableRef.parse("chaos_stream"), Seq(
      "DROP TABLE IF EXISTS chaos_stream",
      s"CREATE TABLE chaos_stream AS SELECT range AS id, " +
        s"md5(CAST(range AS VARCHAR)) AS v FROM range(1, ${N + 1})"))
    try {
      var attempt = 0
      var landed = false
      while (!landed && attempt < 4) {
        attempt += 1
        val failuresBefore = failedTasks.get()
        val seen = new java.util.concurrent.ConcurrentHashMap[Long, Integer]
        val ckpt = java.nio.file.Files
          .createTempDirectory("fed_chaos_ck").toString
        val sqlBefore = e.executedSql.size
        val q = spark.readStream.format("graft-fed")
          .option("catalog", "chaoscat").option("table", "chaos_stream")
          .option("cursor", "id").option("cursorStep", "250000")
          .load()
          .writeStream
          .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
            df.select("id").collect().foreach(r =>
              seen.merge(r.getLong(0), Integer.valueOf(1), (a, b) =>
                Integer.valueOf(a.intValue() + b.intValue())))
            ()
          }
          .option("checkpointLocation", ckpt).start()
        try {
          // volley kills while the paced backfill streams, at most 3,
          // 500 ms apart at the least. A volley fires only once the
          // listener shows a running attempt no earlier volley met, and
          // never while a running attempt's task is one failure from its
          // budget: the volleys cannot spend one task's 4 failures
          val met = scala.collection.mutable.Set.empty[Long]
          var volleys = 0
          var last = System.nanoTime()
          while (q.isActive && volleys < 3 && seen.size() < N) {
            Thread.sleep(20)
            val running = runningTasks.asScala.toMap
            val aimed = running.keys.exists(!met.contains(_)) &&
              running.values.forall(k =>
                taskFailures.getOrDefault(k, 0) + 1 < TaskBudget)
            if (aimed && System.nanoTime() - last >= 500000000L &&
                q.isActive) {
              met ++= running.keys
              killDuckWorkers()
              volleys += 1
              last = System.nanoTime()
            }
          }
          q.processAllAvailable()
        } finally {
          q.stop()
          org.apache.commons.io.FileUtils
            .deleteQuietly(new java.io.File(ckpt))
        }
        if (failedTasks.get() > failuresBefore) {
          landed = true
          // exactly-once across the retries: every id once, none lost
          assert(seen.size() == N,
            s"expected $N distinct ids, got ${seen.size()}")
          val dupes = seen.asScala.filter(_._2.intValue() > 1)
          assert(dupes.isEmpty,
            s"${dupes.size} duplicated ids, e.g. ${dupes.take(5)}")
          // the retried task re-runs its captured SQL by construction
          // (the RDD closure holds the text; executedSql records once at
          // plan time) — the OBSERVABLE offset-WAL claim is that the
          // planned cursor ranges stayed exactly the committed ones:
          // parse every range fetch and assert the (lo, hi] ranges
          // partition (0, N] with no overlap and no gap, failures or not
          val fetches = e.executedSql.synchronized {
            e.executedSql.drop(sqlBefore).filter(s =>
              s.contains("chaos_stream") && s.contains("WHERE") &&
                s.contains("<=") && !s.toLowerCase.contains("max(") &&
                !s.toLowerCase.contains("quantile_disc")).toList }
          val loRe = """id > (\d+)\b""".r
          val hiRe = """id <= (\d+)\b""".r
          val ranges = fetches.flatMap { s =>
            for {
              lo <- loRe.findFirstMatchIn(s).map(_.group(1).toLong)
              hi <- hiRe.findFirstMatchIn(s).map(_.group(1).toLong)
            } yield (lo, hi)
          }.distinct.sortBy(_._1)
          assert(ranges.nonEmpty, s"no parsable ranges in:\n$fetches")
          assert(ranges.head._1 == 0L && ranges.last._2 == N &&
            ranges.sliding(2).forall {
              case Seq((_, h), (l, _)) => h == l
              case _ => true
            },
            s"cursor ranges must partition (0, $N] exactly: $ranges")
        }
        // else: the backfill outran the volleys — run the scenario again
      }
      assert(landed, "chaos never landed on a surviving stream in 4 attempts")
      // pool hygiene: the engine still serves after the kills
      assert(e.runQuery("SELECT COUNT(*) FROM chaos_stream")
        .head.getLong(0) == N)
    } finally {
      spark.sparkContext.removeSparkListener(chaosListener)
      e.runWrite(Seq("DROP TABLE IF EXISTS chaos_stream"))
    }
  }

  test("Derby task threads interrupted mid-fetch: the connection dies, " +
      "the retried task opens a fresh one, answer exact") {
    val url = "jdbc:derby:memory:readchaos;create=true"
    val conn = DriverManager.getConnection(url)
    val st = conn.createStatement()
    st.executeUpdate("CREATE TABLE chaos_rows (id BIGINT, v VARCHAR(32))")
    // bulk rows via doubling self-inserts: 1M rows keeps the JDBC fetch
    // in flight for seconds, a window the interrupt volley can hit
    st.executeUpdate("INSERT INTO chaos_rows VALUES (0, 'seed')")
    var have = 1L
    val want = 1000000L
    while (have < want) {
      val add = math.min(have, want - have)
      st.executeUpdate(
        s"""INSERT INTO chaos_rows
           |SELECT id + $have, v FROM chaos_rows
           |WHERE id < $add""".stripMargin.replace("\n", " "))
      have += add
    }
    st.close(); conn.close()
    val e = new JdbcSqlExecutor("derby", spark, url, DerbyDialect,
      splitCount = 4)
    Federation.install(spark)
    spark.sparkContext.addSparkListener(chaosListener)
    try {
      def frame = Federation.remoteDataFrame(spark, "CHAOS_ROWS", e)
        .withColumn("rid", monotonically_increasing_id())
        .where(col("rid") >= 0)
        .agg(count(lit(1)).as("n"), sum(col("ID")).as("s"))
      val row = untilChaosLands(() => interruptTaskThreads(), 400L) { () =>
        frame.collect().head
      }
      assert(row.getLong(0) == want)
      assert(row.getLong(1) == want * (want - 1) / 2)
      // fresh-connection hygiene: the engine still serves
      assert(Federation.remoteDataFrame(spark, "CHAOS_ROWS", e)
        .count() == want)
    } finally {
      spark.sparkContext.removeSparkListener(chaosListener)
      try DriverManager.getConnection("jdbc:derby:memory:readchaos;drop=true")
      catch { case _: java.sql.SQLException => () }
    }
  }
}
