package graft

import java.time.{Instant, LocalDate, LocalDateTime, ZoneOffset}

import org.apache.spark.TaskContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

import graft.federation.Federation
import graft.federation.duckdb.DuckDbSqlExecutor
import graft.federation.sql.RemoteTableRef

/** DuckDB bulk ingest on live DuckDB under REAL task retries: a
  * `local[4, 2]` master gives each task a second attempt. An attempt that
  * dies partway through its partition's Arrow file leaves no row behind,
  * a job that fails outright leaves the target as it was, and neither
  * leaves a staging file beside the database. The type round-trip pins
  * the values every type `createTable` maps is stored as, read back
  * through Spark under a session time zone other than UTC.
  */
class DuckDbIngestSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4, 2]")
    .appName("graft-duckdb-ingest-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private lazy val dbDir = java.nio.file.Files.createTempDirectory("ingestspec")

  private lazy val duck: DuckDbSqlExecutor = new DuckDbSqlExecutor(
    "duck_ingest", spark, dbDir.resolve("ingest.duckdb").toString)

  override def afterAll(): Unit = {
    spark.stop()
    Option(dbDir.toFile.listFiles()).foreach(_.foreach(_.delete()))
    dbDir.toFile.delete()
    ()
  }

  private val failedTasks = new java.util.concurrent.atomic.AtomicInteger
  private lazy val listener = {
    val l = new SparkListener {
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (e.reason != org.apache.spark.Success) failedTasks.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(l)
    l
  }

  /** Entries beside the database file other than DuckDB's own. */
  private def strays(): Seq[String] =
    Option(dbDir.toFile.list()).toSeq.flatten
      .filterNot(n => n == "ingest.duckdb" || n == "ingest.duckdb.wal")

  private def longTable(name: String): RemoteTableRef = {
    val ref = RemoteTableRef.parse(name)
    duck.createTable(ref, StructType(Seq(StructField("k", LongType))))
    ref
  }

  private def countAndSum(table: String): (Long, Long) = {
    val r = duck.runQuery(
      s"SELECT COUNT(*), CAST(COALESCE(SUM(k), 0) AS BIGINT) FROM $table").head
    (r.getLong(0), r.getLong(1))
  }

  test("a task retry mid-partition lands every row exactly once") {
    listener
    val ref = longTable("retry_rows")
    val n = 100000L
    val before = failedTasks.get()
    import spark.implicits._
    // attempt 0 of partition 1 dies after 4000 of its rows are encoded
    val df = spark.range(0, n, 1, 4).map { i =>
      val tc = TaskContext.get()
      if (tc.partitionId() == 1 && tc.attemptNumber() == 0 &&
          i % 25000L == 4000L)
        throw new RuntimeException("injected ingest failure (attempt 0)")
      i
    }.toDF("k")
    duck.insertInto(ref, df)
    assert(countAndSum("retry_rows") == ((n, n * (n - 1) / 2)))
    assert(duck.runQuery("SELECT COUNT(DISTINCT k) FROM retry_rows")
      .head.getLong(0) == n)
    val deadline = System.currentTimeMillis() + 10000
    while (failedTasks.get() == before &&
        System.currentTimeMillis() < deadline) Thread.sleep(20)
    assert(failedTasks.get() > before, "no task attempt failed")
    assert(strays().isEmpty, strays())
  }

  test("a job that fails outright leaves the target unchanged") {
    val ref = longTable("failed_rows")
    import spark.implicits._
    duck.insertInto(ref, spark.range(0, 10).toDF("k"))
    // every attempt of partition 2 dies partway; the others complete
    val df = spark.range(0, 40000, 1, 4).map { i =>
      if (TaskContext.get().partitionId() == 2 && i == 25000L)
        throw new RuntimeException("injected ingest failure (every attempt)")
      i
    }.toDF("k")
    val e = intercept[org.apache.spark.SparkException](duck.insertInto(ref, df))
    assert(e.getMessage.contains("injected ingest failure"), e.getMessage)
    assert(countAndSum("failed_rows") == ((10L, 45L)))
    assert(strays().isEmpty, strays())
  }

  test("every type createTable maps round-trips, nulls included, under " +
      "a non-UTC session time zone") {
    Federation.install(spark)
    val schema = StructType(Seq(
      StructField("id", IntegerType),
      StructField("i8", ByteType), StructField("i16", ShortType),
      StructField("i32", IntegerType), StructField("i64", LongType),
      StructField("f32", FloatType), StructField("f64", DoubleType),
      StructField("flag", BooleanType),
      StructField("dec", DecimalType(38, 10)),
      StructField("str", StringType), StructField("bin", BinaryType),
      StructField("day", DateType),
      StructField("ts", TimestampType), StructField("ntz", TimestampNTZType),
      StructField("xs", ArrayType(IntegerType)),
      StructField("kv", MapType(StringType, LongType)),
      StructField("st", StructType(Seq(
        StructField("a", StringType), StructField("t", TimestampType))))))
    val ref = RemoteTableRef.parse("type_rt")
    duck.createTable(ref, schema)
    val instant = Instant.parse("2024-03-10T10:30:00.123456Z")
    val early = Instant.parse("1969-07-20T20:17:40Z")
    val dec = new java.math.BigDecimal("1234567890123456789012345678.0123456789")
    val rows = Seq(
      Row(1, 7.toByte, 300.toShort, 70000, 1L << 40, 1.5f, -2.25e300, true,
        dec, "héllo", Array[Byte](0, 1, -1), LocalDate.of(2024, 2, 29),
        instant, LocalDateTime.parse("2024-03-10T02:30:00.5"),
        Seq(1, null, 3), Map("a" -> 1L, "b" -> null), Row("x", early)),
      Row(2, Byte.MinValue, Short.MinValue, Int.MinValue, Long.MinValue,
        -0.25f, 0.0, false, dec.negate(), "", Array.emptyByteArray,
        LocalDate.of(1900, 1, 1), early,
        LocalDateTime.parse("1900-01-01T00:00:00"),
        Seq.empty[Int], Map.empty[String, Long], Row(null, null)),
      Row(Seq.fill(schema.length - 1)(null).+:(3): _*))
    val zone = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "America/Los_Angeles")
    spark.conf.set("spark.sql.datetime.java8API.enabled", "true")
    try {
      duck.insertInto(ref, spark.createDataFrame(
        spark.sparkContext.parallelize(rows, 2), schema))
      // a zoned timestamp is stored as its UTC wall clock, whatever the
      // session's zone; a naive one as given
      assert(duck.runQuery("SELECT CAST(ts AS VARCHAR), " +
        "CAST(ntz AS VARCHAR), CAST(st.t AS VARCHAR) FROM type_rt " +
        "WHERE id = 1").head == Row("2024-03-10 10:30:00.123456",
        "2024-03-10 02:30:00.5", "1969-07-20 20:17:40"))
      val got = Federation.remoteDataFrame(spark, "type_rt", duck)
        .orderBy("id").collect()
      assert(got.length == 3)
      def utc(i: Instant) = LocalDateTime.ofInstant(i, ZoneOffset.UTC)
      rows.take(2).zip(got).foreach { case (want, have) =>
        (0 until schema.length).foreach { c =>
          val name = schema(c).name
          (schema(c).dataType, want.get(c), have.get(c)) match {
            case (BinaryType, w: Array[Byte], h: Array[Byte]) =>
              assert(w.sameElements(h), name)
            case (TimestampType, w: Instant, h) =>
              assert(h == utc(w), name)
            case (_: StructType, w: Row, h: Row) =>
              assert(h.get(0) == w.get(0), name)
              assert(h.get(1) == Option(w.get(1)).map {
                case i: Instant => utc(i) }.orNull, name)
            case (_, w, h) => assert(h == w, name)
          }
        }
      }
      assert((1 until schema.length).forall(got(2).isNullAt), got(2))
    } finally {
      spark.conf.set("spark.sql.session.timeZone", zone)
      spark.conf.unset("spark.sql.datetime.java8API.enabled")
    }
  }
}
