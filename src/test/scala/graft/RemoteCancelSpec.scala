package graft

import java.sql.DriverManager

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

import graft.federation.Federation
import graft.federation.duckdb.DuckDbHarness
import graft.federation.exec.RemoteScanExec
import graft.federation.jdbc.{DerbyDialect, JdbcSqlExecutor}
import graft.federation.sql.RemoteTableRef

/** Remote cancellation: a killed Spark job must cancel the in-flight
  * remote statement promptly instead of holding the executor thread until
  * the engine finishes — minutes-long remote scans are normal at scale,
  * and a cancel that waits for them strands cluster capacity.
  *
  * Probed live before building ([[graft.federation.sql.RemoteCancel]]):
  * embedded Derby's `Statement.cancel` throws SQLFeatureNotSupported and
  * a cross-thread `Connection.close()` lets the query RUN TO COMPLETION;
  * only a thread interrupt aborts it. The DuckDB subprocess dies by
  * process kill, which also guarantees it never rejoins the pool.
  *
  * The job tests cancel WITHOUT `interruptOnCancel` — proving the
  * watchdog path, not Spark's own optional interrupt. A fully pushed
  * collect runs no job at all (the root scan reads on the driver); Spark
  * Connect and the Thrift server cancel it by interrupting the calling
  * thread, which the interrupt tests do.
  */
class RemoteCancelSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-cancel-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  /** Submit `body` under a job group on its own thread, cancel after
    * `cancelAfterMs`, return (diedWithinMs, error). */
  private def runAndCancel(group: String, cancelAfterMs: Long,
      deadlineMs: Long)(body: => Unit): (Boolean, Throwable) = {
    @volatile var err: Throwable = null
    val t = new Thread(() => {
      spark.sparkContext.setJobGroup(group, "slow remote fetch",
        interruptOnCancel = false)
      try body catch { case e: Throwable => err = e }
    })
    t.start()
    Thread.sleep(cancelAfterMs)
    val t0 = System.nanoTime()
    spark.sparkContext.cancelJobGroup(group)
    t.join(deadlineMs)
    val died = !t.isAlive && (System.nanoTime() - t0) / 1e6 < deadlineMs
    if (t.isAlive) t.interrupt()
    (died, err)
  }

  /** Run `body` on its own thread, interrupt that thread after
    * `interruptAfterMs`, return (diedWithinMs, error). */
  private def runAndInterrupt(interruptAfterMs: Long, deadlineMs: Long)(
      body: => Unit): (Boolean, Throwable) = {
    @volatile var err: Throwable = null
    val t = new Thread(() => try body catch { case e: Throwable => err = e })
    t.start()
    Thread.sleep(interruptAfterMs)
    val t0 = System.nanoTime()
    t.interrupt()
    t.join(deadlineMs)
    val died = !t.isAlive && (System.nanoTime() - t0) / 1e6 < deadlineMs
    (died, err)
  }

  private def derbyT10(url: String): Unit = {
    val conn = DriverManager.getConnection(url)
    val st = conn.createStatement()
    st.executeUpdate("CREATE TABLE t10 (i INT)")
    (0 until 10).foreach(i => st.executeUpdate(s"INSERT INTO t10 VALUES ($i)"))
    st.close(); conn.close()
  }

  test("killed job interrupts an in-flight Derby statement promptly") {
    val url = "jdbc:derby:memory:cancelspec;create=true"
    derbyT10(url)
    val ex = new JdbcSqlExecutor("derby", spark, url, DerbyDialect)
    // 10^9-row cartesian: minutes of engine compute if not cancelled
    val slow = "SELECT COUNT(*) FROM t10 a, t10 b, t10 c, t10 d, t10 e," +
      " t10 f, t10 g, t10 h, t10 i"
    val rdd = ex.execute(slow, StructType(Seq(StructField("c", LongType))))
    val (died, err) = runAndCancel("derby-cancel", 2000, 10000) {
      rdd.collect(); ()
    }
    assert(died, "Derby fetch task did not die promptly after job cancel")
    assert(err != null)
    // the connection is dead, not leaked: a fresh statement still works
    assert(ex.execute("SELECT COUNT(*) FROM t10",
      StructType(Seq(StructField("c", LongType)))).collect().length == 1)
  }

  test("killed job destroys the in-flight DuckDB subprocess; the pool " +
      "serves correct results afterwards") {
    val dir = "/root/testdata/sf0.001"
    val ex = DuckDbHarness.executor(spark, dir)
    // ~2.5e11 candidate pairs: minutes of engine compute if not cancelled
    val slow = "SELECT COUNT(*) FROM range(500000) a, range(500000) b " +
      "WHERE (a.range + b.range) % 97 = 13"
    val rdd = ex.execute(slow, StructType(Seq(StructField("c", LongType))))
    val (died, err) = runAndCancel("duck-cancel", 2000, 10000) {
      rdd.collect(); ()
    }
    assert(died, "DuckDB fetch task did not die promptly after job cancel")
    assert(err != null)
    // pool hygiene: the killed server was destroyed, never returned — the
    // next requests (fresh or pooled servers) answer exactly
    (1 to 3).foreach { i =>
      val got = ex.runQuery(s"SELECT $i * 7").head.getInt(0)
      assert(got == i * 7, s"poisoned pooled server reuse: got $got")
    }
  }

  test("interrupting the caller stops a slow fully pushed Derby collect " +
      "promptly") {
    val url = "jdbc:derby:memory:cancelspec2;create=true"
    derbyT10(url)
    val conn = DriverManager.getConnection(url)
    val st = conn.createStatement()
    // 10^9-row cartesian: minutes of engine compute if not cancelled
    st.executeUpdate("CREATE VIEW slow_v AS SELECT COUNT(*) AS c FROM t10 a," +
      " t10 b, t10 c, t10 d, t10 e, t10 f, t10 g, t10 h, t10 i")
    st.close(); conn.close()
    val ex = new JdbcSqlExecutor("derby", spark, url, DerbyDialect)
    Federation.install(spark)
    val df = Federation.remoteDataFrame(spark, "SLOW_V", ex)
    val (died, err) = runAndInterrupt(2000, 10000) { df.collect(); () }
    assert(died, "Derby driver fetch did not stop promptly after interrupt")
    assert(err != null && String.valueOf(err.getMessage).contains("cancelled"),
      String.valueOf(err))
    assert(df.queryExecution.executedPlan.isInstanceOf[RemoteScanExec])
    // a fresh statement still works
    assert(Federation.remoteDataFrame(spark, "T10", ex).collect().length == 10)
  }

  test("interrupting the caller stops a slow fully pushed DuckDB collect; " +
      "the pool serves correct results afterwards") {
    val dir = "/root/testdata/sf0.001"
    // one cursor: the harness executor would split the view's scan
    val ex = new graft.federation.duckdb.DuckDbSqlExecutor("duck1", spark,
      DuckDbHarness.executor(spark, dir).dbPath)
    // ~2.5e11 candidate pairs: minutes of engine compute if not cancelled
    ex.runDdl(RemoteTableRef.parse("slow_v"), Seq("CREATE OR REPLACE VIEW " +
      "slow_v AS SELECT COUNT(*) AS c FROM range(500000) a, range(500000) b " +
      "WHERE (a.range + b.range) % 97 = 13"))
    try {
      Federation.install(spark)
      val df = Federation.remoteDataFrame(spark, "slow_v", ex)
      val (died, err) = runAndInterrupt(2000, 10000) { df.collect(); () }
      assert(died, "DuckDB driver fetch did not stop promptly after interrupt")
      assert(err != null &&
        String.valueOf(err.getMessage).contains("cancelled"), String.valueOf(err))
      assert(df.queryExecution.executedPlan.isInstanceOf[RemoteScanExec])
      (1 to 3).foreach { i =>
        val got = ex.runQuery(s"SELECT $i * 7").head.getInt(0)
        assert(got == i * 7, s"poisoned pooled server reuse: got $got")
      }
      assert(Federation.remoteDataFrame(spark, "region", ex).collect()
        .length == 5)
    } finally ex.runWrite(Seq("DROP VIEW IF EXISTS slow_v"))
  }
}
