package graft

import java.sql.DriverManager

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.functions.{col, monotonically_increasing_id}
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

import graft.federation.Federation
import graft.federation.duckdb.{DuckDbHarness, DuckDbSqlExecutor}
import graft.federation.exec.RemoteScanExec
import graft.federation.jdbc.{DerbyDialect, JdbcSqlExecutor}
import graft.federation.sql.SqlExecutor

/** A fully pushed query — a single-cursor `RemoteScanExec` at the root of
  * the executed plan — is collected on the driver thread with no Spark
  * job. These pin, on live DuckDB and embedded Derby, that the driver
  * read keeps what the task read guarantees: the same rows, the drift
  * check, the boundary metrics (once, and in the SQL status store) and
  * `spark.driver.maxResultSize`; and that split scans and scans under
  * other operators still run as tasks. Cancellation lives in
  * [[RemoteCancelSpec]], the lost-worker re-run in [[ReadChaosSpec]].
  */
class DriverCollectSpec extends AnyFunSuite with BeforeAndAfterAll {

  private val dir = "/root/testdata/sf0.001"
  private val MaxResult = 1L << 20

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-driver-collect-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .config("spark.driver.maxResultSize", MaxResult.toString)
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  /** A one-cursor executor over the harness's DuckDB file (the harness's
    * own executor splits splittable fragments four ways). */
  private lazy val duck: DuckDbSqlExecutor = new DuckDbSqlExecutor(
    "duck1", spark, DuckDbHarness.executor(spark, dir).dbPath)

  private val derbyUrl = "jdbc:derby:memory:drivercollect;create=true"

  private lazy val derby: JdbcSqlExecutor = {
    val conn = DriverManager.getConnection(derbyUrl)
    val st = conn.createStatement()
    st.executeUpdate("CREATE TABLE dc_t (id BIGINT, v VARCHAR(40))")
    st.executeUpdate("INSERT INTO dc_t VALUES (0, 'v0')")
    var have = 1L
    while (have < 2048) {
      st.executeUpdate(s"INSERT INTO dc_t SELECT id + $have, " +
        s"'v' || TRIM(CAST(id + $have AS CHAR(20))) FROM dc_t")
      have *= 2
    }
    st.close(); conn.close()
    new JdbcSqlExecutor("derby1", spark, derbyUrl, DerbyDialect)
  }

  // by job group: the jobs started and the root SQL execution; and the
  // ids of ended SQL executions
  private val jobs = new java.util.concurrent.ConcurrentHashMap[String,
    java.util.concurrent.atomic.AtomicInteger]
  private val executions =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]
  private val ended = java.util.concurrent.ConcurrentHashMap.newKeySet[Long]()
  private lazy val listener = {
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        Option(e.properties).flatMap(p => Option(
          p.getProperty("spark.jobGroup.id"))).foreach { g =>
          jobs.computeIfAbsent(g,
            _ => new java.util.concurrent.atomic.AtomicInteger)
            .incrementAndGet()
        }
      }
      override def onOtherEvent(
          e: org.apache.spark.scheduler.SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart =>
          s.jobGroupId.foreach(executions.putIfAbsent(_, s.executionId)); ()
        case end: SparkListenerSQLExecutionEnd => ended.add(end.executionId); ()
        case _ => ()
      }
    }
    spark.sparkContext.addSparkListener(l)
    l
  }

  /** Within `deadlineMs`, `cond` holds. */
  private def eventually(what: String, deadlineMs: Long = 30000)(
      cond: => Boolean): Unit = {
    val until = System.currentTimeMillis() + deadlineMs
    while (!cond && System.currentTimeMillis() < until) Thread.sleep(20)
    assert(cond, what)
  }

  /** `df.collect()` under a fresh job group, the number of jobs it started
    * and its SQL execution id. The listener bus is asynchronous: the
    * execution's end event, posted after its jobs' starts, marks when all
    * of them have been delivered. */
  private def collectCountingJobs(df: DataFrame): (Array[Row], Int, Long) = {
    listener
    val group = java.util.UUID.randomUUID().toString
    spark.sparkContext.setJobGroup(group, "driver collect spec")
    val rows = try df.collect() finally spark.sparkContext.clearJobGroup()
    eventually(s"no SQL execution ended for job group $group") {
      Option(executions.get(group)).exists(id => ended.contains(id))
    }
    (rows, Option(jobs.get(group)).map(_.get).getOrElse(0),
      executions.get(group))
  }

  private def rootScan(df: DataFrame): RemoteScanExec =
    df.queryExecution.executedPlan match {
      case r: RemoteScanExec => r
      case other => fail(s"not a root remote scan:\n$other")
    }

  private def scansIn(p: SparkPlan): Seq[RemoteScanExec] = p.collect {
    case r: RemoteScanExec => r
  }

  /** The task read of the scan's SQL, as external rows. */
  private def taskRows(e: SqlExecutor, scan: RemoteScanExec): Seq[Row] = {
    val types = scan.output.map(_.dataType).toArray
    val toRow = CatalystTypeConverters.createToScalaConverter(scan.schema)
    e.execute(scan.sqls.head, scan.schema).mapPartitions { it =>
      val proj = org.apache.spark.sql.catalyst.expressions.UnsafeProjection
        .create(types)
      it.map(proj(_).copy())
    }.collect().toSeq.map(toRow(_).asInstanceOf[Row])
  }

  private def rootCause(t: Throwable): Throwable =
    Iterator.iterate(t)(_.getCause).takeWhile(_ != null).toSeq.last

  test("DuckDB: a fully pushed collect runs no job and answers as the " +
      "task read does") {
    Federation.install(spark)
    val df = Federation.remoteDataFrame(spark, "orders", duck)
      .where(col("o_orderkey") < 400)
      .select("o_orderkey", "o_totalprice", "o_orderdate", "o_orderstatus")
    val (got, n, _) = collectCountingJobs(df)
    assert(n == 0, s"$n jobs started for a fully pushed collect")
    val scan = rootScan(df)
    assert(scan.sqls.size == 1)
    val want = taskRows(duck, scan)
    assert(want.nonEmpty)
    assert(got.map(_.toString).sorted.toSeq == want.map(_.toString).sorted)
  }

  test("Derby: a fully pushed collect runs no job and answers as the " +
      "task read does") {
    Federation.install(spark)
    val df = Federation.remoteDataFrame(spark, "DC_T", derby)
      .where(col("ID") % 7 === 3)
    val (got, n, _) = collectCountingJobs(df)
    assert(n == 0, s"$n jobs started for a fully pushed collect")
    val want = taskRows(derby, rootScan(df))
    assert(want.size == 293)
    assert(got.map(_.toString).sorted.toSeq == want.map(_.toString).sorted)
  }

  test("a split scan and a scan under a local operator still run tasks") {
    Federation.install(spark)
    val split = Federation.remoteDataFrame(spark, "orders",
      DuckDbHarness.executor(spark, dir))
    val (rows, n, _) = collectCountingJobs(split)
    assert(scansIn(split.queryExecution.executedPlan).exists(_.sqls.size > 1),
      split.queryExecution.executedPlan)
    assert(n > 0, "a split scan must run its cursors as tasks")
    assert(rows.length == spark.read.parquet(s"$dir/orders.parquet").count())
    val under = Federation.remoteDataFrame(spark, "DC_T", derby)
      .withColumn("rid", monotonically_increasing_id())
    val (rows2, n2, _) = collectCountingJobs(under)
    assert(!under.queryExecution.executedPlan.isInstanceOf[RemoteScanExec])
    assert(n2 > 0, "a scan under a local operator must run as a task")
    assert(rows2.length == 2048)
  }

  test("a retyped remote column fails the driver read with the task " +
      "read's drift error") {
    Federation.install(spark)
    duck.runWrite(Seq("CREATE OR REPLACE TABLE dc_drift AS " +
      "SELECT range AS a FROM range(5)"))
    val conn = DriverManager.getConnection(derbyUrl)
    val st = conn.createStatement()
    st.executeUpdate("CREATE TABLE dc_drift (a INT)")
    st.executeUpdate("INSERT INTO dc_drift VALUES (1)")
    try {
      val duckDf = Federation.remoteDataFrame(spark, "dc_drift", duck)
      val derbyDf = Federation.remoteDataFrame(spark, "DC_DRIFT", derby)
      duck.runWrite(Seq("CREATE OR REPLACE TABLE dc_drift AS " +
        "SELECT 'x' || range AS a FROM range(5)"))
      st.executeUpdate("DROP TABLE dc_drift")
      st.executeUpdate("CREATE TABLE dc_drift (a VARCHAR(8))")
      st.executeUpdate("INSERT INTO dc_drift VALUES ('x')")
      Seq((duckDf, duck: SqlExecutor), (derbyDf, derby: SqlExecutor))
        .foreach { case (df, e) =>
          val onDriver = intercept[Exception](df.collect())
          val scan = rootScan(df)
          val inTask = intercept[Exception](taskRows(e, scan))
          val msg = rootCause(onDriver).getMessage
          assert(msg.contains("remote schema drift"), msg)
          assert(rootCause(inTask).getMessage == msg)
        }
    } finally {
      st.executeUpdate("DROP TABLE dc_drift")
      st.close(); conn.close()
      duck.runWrite(Seq("DROP TABLE IF EXISTS dc_drift"))
    }
  }

  test("boundary metrics are counted once and reach the SQL status store") {
    Federation.install(spark)
    Seq(
      Federation.remoteDataFrame(spark, "orders", duck)
        .where(col("o_orderkey") < 400),
      Federation.remoteDataFrame(spark, "DC_T", derby)
        .where(col("ID") < 300)).foreach { df =>
      val (rows, _, execId) = collectCountingJobs(df)
      val n = rows.length
      val m = rootScan(df).metrics
      assert(n > 0)
      assert(m("numOutputRows").value == n)
      assert(m("numSplits").value == 1)
      assert(m("remoteBytes").value > 0)
      assert(m("remoteFetchTime").value > 0)
      val store = spark.sharedState.statusStore
      def shown(k: String): Option[String] =
        store.executionMetrics(execId).get(m(k).id)
      eventually(s"rows metric not in the SQL status store") {
        shown("numOutputRows").map(_.replace(",", "")).contains(n.toString)
      }
      assert(shown("numSplits").contains("1"))
      assert(shown("remoteBytes").exists(_.nonEmpty))
      assert(shown("remoteFetchTime").exists(_.nonEmpty))
    }
    // every Derby row arrives in wire format and is coerced exactly once
    val d = Federation.remoteDataFrame(spark, "DC_T", derby)
      .where(col("ID") < 10)
    assert(d.collect().length == 10)
    assert(rootScan(d).metrics("numCoercedRows").value == 10)
  }

  test("a DuckDB insertInto of rows past spark.driver.maxResultSize " +
      "succeeds") {
    Federation.install(spark)
    val ref = graft.federation.sql.RemoteTableRef.parse("dc_ingest")
    val src = spark.range(0, 50000, 1, 4)
      .selectExpr("id", "md5(CAST(id AS STRING)) AS v")
    duck.createTable(ref, src.schema)
    try {
      // the same rows as a driver result are over the 1 MiB limit
      val e = intercept[org.apache.spark.SparkException](src.collect())
      assert(e.getMessage.contains("spark.driver.maxResultSize"),
        e.getMessage)
      duck.insertInto(ref, src)
      val r = duck.runQuery("SELECT COUNT(*), CAST(SUM(id) AS BIGINT), " +
        "COUNT(DISTINCT v) FROM dc_ingest").head
      assert(r == Row(50000L, 50000L * 49999L / 2, 50000L))
    } finally duck.dropTable(ref)
  }

  test("an ingest of a split scan of the same DuckDB file does not wait " +
      "on the file's fence") {
    Federation.install(spark)
    val h = DuckDbHarness.executor(spark, dir)
    val src = Federation.remoteDataFrame(spark, "orders", h)
      .select("o_orderkey", "o_totalprice")
    assert(scansIn(src.queryExecution.executedPlan).exists(_.sqls.size > 1),
      src.queryExecution.executedPlan)
    val ref = graft.federation.sql.RemoteTableRef.parse("dc_orders_copy")
    h.createTable(ref, src.schema)
    try {
      // a read of the file still open at the write fails after 30 s
      h.insertInto(ref, src)
      assert(h.runQuery("SELECT COUNT(*) FROM dc_orders_copy").head
        .getLong(0) == spark.read.parquet(s"$dir/orders.parquet").count())
    } finally h.dropTable(ref)
  }

  test("a driver collect past spark.driver.maxResultSize fails") {
    Federation.install(spark)
    // 50k md5 rows on DuckDB, 2048 rows of 1000 chars on Derby: each over
    // the 1 MiB limit this session runs with
    duck.runWrite(Seq("CREATE OR REPLACE TABLE dc_big AS SELECT range AS " +
      "id, md5(CAST(range AS VARCHAR)) AS v FROM range(50000)"))
    val conn = DriverManager.getConnection(derbyUrl)
    val st = conn.createStatement()
    st.executeUpdate("CREATE TABLE dc_wide (id BIGINT, v VARCHAR(1000))")
    st.executeUpdate(s"INSERT INTO dc_wide VALUES (0, '${"w" * 1000}')")
    (0 until 11).foreach(i => st.executeUpdate(
      s"INSERT INTO dc_wide SELECT id + ${1 << i}, v FROM dc_wide"))
    try {
      Seq(Federation.remoteDataFrame(spark, "dc_big", duck),
        Federation.remoteDataFrame(spark, "DC_WIDE", derby)).foreach { df =>
        val e = intercept[org.apache.spark.SparkException](df.collect())
        assert(e.getMessage.contains("spark.driver.maxResultSize"),
          e.getMessage)
        assert(df.queryExecution.executedPlan.isInstanceOf[RemoteScanExec])
      }
      // below the limit the same tables collect
      assert(Federation.remoteDataFrame(spark, "dc_big", duck)
        .where(col("id") < 1000).collect().length == 1000)
      assert(Federation.remoteDataFrame(spark, "DC_WIDE", derby)
        .where(col("ID") < 100).collect().length == 100)
    } finally {
      st.executeUpdate("DROP TABLE dc_wide")
      st.close(); conn.close()
      duck.runWrite(Seq("DROP TABLE IF EXISTS dc_big"))
    }
  }
}
