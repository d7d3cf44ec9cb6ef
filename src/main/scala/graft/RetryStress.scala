package graft

import org.apache.spark.TaskContext
import org.apache.spark.sql.SparkSession

/** One-off REAL-task-retry proof for the staged remote write path
  * (SURVEY §8.4): the JdbcFederationSpec retry test simulates attempts by
  * calling `stagePartition` twice; this main runs the genuine article —
  * a `local[4,2]` master (maxFailures=2, the one thing the shared test
  * session can't provide), a failure injected INSIDE one partition's
  * staging write on attempt 0 (after rows have already flowed), and
  * Spark's own scheduler retrying the task. Exact-once lands iff the
  * retry's drop-recreate replaces the failed attempt's staging table and
  * the driver publish sees each partition exactly once.
  *
  * Run: `sbt "runMain graft.RetryStress"` — prints one JSON line; exits
  * nonzero on any duplicate/lost row.
  */
object RetryStress {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder()
      .master("local[4,2]") // maxFailures=2: task retries are REAL here
      .appName("graft-retry-stress")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    graft.federation.Federation.install(spark)
    val url = "jdbc:derby:memory:retrystress;create=true"
    val ex = new graft.federation.jdbc.JdbcSqlExecutor(
      "derby", spark, url, graft.federation.jdbc.DerbyDialect)
    val ref = graft.federation.sql.RemoteTableRef.parse("retry_live")
    ex.createTable(ref, org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("k",
        org.apache.spark.sql.types.LongType))))

    import spark.implicits._
    val n = 100000L
    // the failure fires INSIDE insertInto's staging task: the row
    // iterator is consumed by the batched INSERT loop, so attempt 0 of
    // partition 2 dies after ~3000 rows are already addBatch'ed (and at
    // least two 1000-row executeBatch flushes have hit the staging
    // table's transaction); the retry must start the partition OVER
    val df = spark.range(0, n, 1, 4).map { i =>
      val tc = TaskContext.get()
      if (tc != null && tc.partitionId() == 2 && tc.attemptNumber() == 0 &&
          i % 25000L == 3000L)
        throw new RuntimeException("injected staging failure (attempt 0)")
      i
    }.toDF("k")

    ex.insertInto(ref, df)

    val back = graft.federation.Federation
      .remoteDataFrame(spark, "retry_live", ex)
    val total = back.count()
    val distinct = back.select("k").distinct().count()

    // ---- READ leg: fail the (single-split) remote read mid-cursor on
    // attempt 0. The retry must re-execute the remote query from the
    // start — reads are idempotent, so exact results after a REAL task
    // retry prove the cursor replay is safe. A listener counts the task
    // failure so a silently-never-failing run can't pass vacuously.
    val failedTasks = new java.util.concurrent.atomic.AtomicInteger
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onTaskEnd(
            e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
          if (e.reason != org.apache.spark.Success)
            failedTasks.incrementAndGet()
      })
    val reread = graft.federation.Federation
      .remoteDataFrame(spark, "retry_live", ex)
      .select("k").map { r =>
        val tc = TaskContext.get()
        val v = r.getLong(0)
        if (tc != null && tc.attemptNumber() == 0 && v == 40000L)
          throw new RuntimeException("injected read failure (attempt 0)")
        v
      }
    val readTotal = reread.count()
    val readDistinct = reread.distinct().count()
    Thread.sleep(500) // let the listener bus drain the failed-task event
    val readFailures = failedTasks.get()

    // ==== DuckDB legs (r10): the pooled-subprocess engine is the newer,
    // riskier path — a mid-stream close must DESTROY its server (undrained
    // rows would corrupt the next request on a pooled connection), and the
    // epoch fence rides the bulk-load transaction. Same discipline: REAL
    // scheduler retries under local[4,2], 100k rows, exact-once asserted.
    val duckDb = java.nio.file.Files
      .createTempFile("retrystress", ".duckdb")
    java.nio.file.Files.delete(duckDb)
    val dex = new graft.federation.duckdb.DuckDbSqlExecutor(
      "duck", spark, duckDb.toAbsolutePath.toString, splitCount = 4)
    val dref = graft.federation.sql.RemoteTableRef.parse("retry_duck")
    dex.createTable(dref, org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("k",
        org.apache.spark.sql.types.LongType))))

    // the bulk ingest under a real task retry is DuckDbIngestSpec's
    dex.insertInto(dref, spark.range(0, n, 1, 4).toDF("k"))

    // READ leg: 4 range-split cursors, each a POOLED subprocess server;
    // attempt 0 dies mid-stream (after rows have flowed), which must
    // destroy that server rather than return it undrained — the retry
    // and every later request must still see exact rows
    val beforeDuckRead = failedTasks.get()
    val dread = graft.federation.Federation
      .remoteDataFrame(spark, "retry_duck", dex)
      .select("k").map { r =>
        val tc = TaskContext.get()
        val v = r.getLong(0)
        if (tc != null && tc.attemptNumber() == 0 && v == 60000L)
          throw new RuntimeException("injected duckdb read failure")
        v
      }
    val duckTotal = dread.count()
    val duckDistinct = dread.distinct().count()
    // pool-integrity probe: the next pooled request must be unpoisoned
    // (a destroyed-not-released server would only show up as stale rows
    // or a protocol desync here)
    val poolProbe = dex.runQuery(
      "SELECT COUNT(*), SUM(\"k\") FROM \"retry_duck\"").head
    val probeOk = poolProbe.getLong(0) == n &&
      poolProbe.getDecimal(1).longValueExact() == n * (n - 1) / 2

    // WRITE leg: epoch-fenced streaming sink replay — re-delivery of a
    // committed microbatch (routine on recovery) must be a no-op, and the
    // fence must ride the SAME transaction as the rows
    val eref = graft.federation.sql.RemoteTableRef.parse("retry_duck_epoch")
    dex.createTable(eref, org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("k",
        org.apache.spark.sql.types.LongType))))
    dex.ensureEpochTable(eref)
    val edf = spark.range(0, n, 1, 4).toDF("k")
    val firstDelivery = dex.insertIntoEpoch(eref, edf, epochId = 7L)
    val replayDelivery = dex.insertIntoEpoch(eref, edf, epochId = 7L)
    val epochRows = dex.runQuery(
      "SELECT COUNT(*), COUNT(DISTINCT \"k\") FROM \"retry_duck_epoch\"").head
    val epochTotal = epochRows.getLong(0)
    val epochDistinct = epochRows.getLong(1)

    Thread.sleep(500)
    val duckReadFailures = failedTasks.get() - beforeDuckRead

    val ok = total == n && distinct == n &&
      readTotal == n && readDistinct == n && readFailures >= 1 &&
      duckTotal == n && duckDistinct == n && duckReadFailures >= 1 &&
      probeOk && firstDelivery && !replayDelivery &&
      epochTotal == n && epochDistinct == n
    println(s"""{"rows":$total,"distinct":$distinct,"expected":$n,""" +
      s""""read_rows":$readTotal,"read_distinct":$readDistinct,""" +
      s""""read_task_failures":$readFailures,""" +
      s""""duck_rows":$duckTotal,"duck_distinct":$duckDistinct,""" +
      s""""duck_read_failures":$duckReadFailures,"duck_pool_ok":$probeOk,""" +
      s""""duck_epoch_first":$firstDelivery,"duck_epoch_replay":$replayDelivery,""" +
      s""""duck_epoch_rows":$epochTotal,"duck_epoch_distinct":$epochDistinct,""" +
      s""""exact_once":$ok}""")
    spark.stop()
    if (!ok) sys.exit(1)
  }
}
