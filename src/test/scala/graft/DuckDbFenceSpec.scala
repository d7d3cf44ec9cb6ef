package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}

import scala.sys.process._

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.federation.duckdb.{DuckDbHarness, DuckDbProcess}

/** Warm DuckDB read connections against writes, on live DuckDB. A pooled
  * worker keeps its read-only connection open between requests, and
  * DuckDB locks a file single-writer XOR multi-reader across processes,
  * so every write goes through the file's fence in [[DuckDbProcess]]:
  * it waits for the reads in flight and has the idle workers that hold
  * the file close it (`release`). Each case fails without the part of
  * the fence it names. */
class DuckDbFenceSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[2]")
    .appName("graft-duckdb-fence-test")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private val root = java.nio.file.Paths.get("target", "duckdb")

  /** A database file of its own holding `t(id)` = 0, 1, 2. */
  private def fresh(name: String): String = {
    java.nio.file.Files.createDirectories(root)
    val db = root.resolve(
      s"fence_${name}_${ProcessHandle.current().pid()}.duckdb")
    db.toFile.deleteOnExit()
    val path = db.toAbsolutePath.toString
    DuckDbProcess.recreate(path,
      Seq("CREATE TABLE t AS SELECT range AS id FROM range(3)"))
    path
  }

  /** The worker that served the read, and the ids of `t` in order. */
  private def ids(db: String): (Long, Seq[Long]) = {
    val r = DuckDbProcess.query(db, "SELECT id FROM t ORDER BY id")
    try (r.workerPid, r.rows.map(_.getLong(0)).toVector)
    finally r.close()
  }

  /** A read of 3M rows, opened and its first batch read: the worker is
    * blocked writing the rest, and holds the file's read side. */
  private def halfRead(db: String): DuckDbProcess.ArrowResult = {
    val r = DuckDbProcess.query(db, "SELECT range AS id FROM range(3000000)")
    assert(r.rows.hasNext)
    r.rows.next()
    r
  }

  private def msSince(t0: Long): Double = (System.nanoTime() - t0) / 1e6

  /** A python process outside the JVM that runs `code` with `c`, a
    * connection to `db` (read-only when `ro`), prints `held`, then runs
    * `after` and exits. Returns once `held` is printed (or the process
    * ended), with the process and the line it printed. */
  private def outside(db: String, ro: Boolean, code: String,
      after: String = ""): (java.lang.Process, String) = {
    val readOnly = if (ro) "True" else "False"
    val p = new java.lang.ProcessBuilder("python3", "-c",
      s"""import duckdb, time
         |try:
         |    c = duckdb.connect('$db', read_only=$readOnly)
         |    $code
         |    print("held", flush=True)
         |    $after
         |    c.close()
         |except Exception as e:
         |    print("error: %s" % e, flush=True)
         |""".stripMargin).redirectErrorStream(true).start()
    val line = new java.io.BufferedReader(new java.io.InputStreamReader(
      p.getInputStream)).readLine()
    (p, String.valueOf(line))
  }

  test("a threads-capped request leaves no cap on the worker's warm " +
      "connection") {
    val db = fresh("threads")
    val engineDefault = Seq("python3", "-c",
      "import duckdb; print(duckdb.connect().execute(" +
        "\"SELECT current_setting('threads')\").fetchone()[0])").!!.trim.toLong
    val cap = if (engineDefault == 1) 2 else 1
    def threads(capped: Int): (Long, Long) = {
      val r = DuckDbProcess.query(db,
        "SELECT CAST(current_setting('threads') AS BIGINT)", capped)
      // drained to the terminator, so the worker goes back to the pool
      try (r.workerPid, r.rows.map(_.getLong(0)).toVector.head)
      finally r.close()
    }
    val (p1, t1) = threads(cap)
    assert(t1 == cap)
    val (p2, t2) = threads(0)
    assert(p2 == p1, "the second request must reuse the warm worker")
    assert(t2 == engineDefault,
      s"the cap of $cap stayed on the connection: threads = $t2")
  }

  test("(a) a write into a file a worker holds warm: that worker's next " +
      "read sees the row") {
    val db = fresh("a")
    val (p1, before) = ids(db)
    assert(before == Seq(0L, 1L, 2L))
    DuckDbProcess.exec(db, Seq("INSERT INTO t VALUES (42)"))
    val (p2, after) = ids(db)
    assert(p2 == p1, "the read must run on the worker that was warm")
    assert(after == Seq(0L, 1L, 2L, 42L))
  }

  test("(b) a write issued while a streamed read is half consumed waits, " +
      "then runs once the read closes") {
    val db = fresh("b")
    val r = halfRead(db)
    val done = new CountDownLatch(1)
    @volatile var err: Throwable = null
    val writer = new Thread(() =>
      try DuckDbProcess.exec(db, Seq("INSERT INTO t VALUES (7)"))
      catch { case e: Throwable => err = e }
      finally done.countDown())
    writer.start()
    try {
      assert(!done.await(1, TimeUnit.SECONDS),
        s"the write did not wait for the open read (error: $err)")
      // at the fence, not in the worker's connect retry
      assert(writer.getStackTrace.exists(
        _.getClassName.endsWith("DuckDbProcess$Fence")),
        "the write is not waiting at the file's fence: " +
          writer.getStackTrace.take(8).mkString(" <- "))
    } finally r.close()
    val t0 = System.nanoTime()
    assert(done.await(10, TimeUnit.SECONDS), "the write never ran")
    assert(err == null, s"the write failed: $err")
    assert(msSince(t0) < 5000, s"the write took ${msSince(t0)} ms after " +
      "the read closed")
    assert(ids(db)._2 == Seq(0L, 1L, 2L, 7L))
  }

  test("(c) a worker killed while it holds the read side leaves the " +
      "fence free") {
    val db = fresh("c")
    val r = halfRead(db)
    try {
      ProcessHandle.of(r.workerPid).ifPresent(p => { p.destroyForcibly(); () })
      val t0 = System.nanoTime()
      DuckDbProcess.exec(db, Seq("INSERT INTO t VALUES (9)"))
      assert(msSince(t0) < 10000,
        s"the write waited ${msSince(t0)} ms on a dead reader")
    } finally r.close()
    assert(ids(db)._2 == Seq(0L, 1L, 2L, 9L))
  }

  test("(d) DuckDbHarness rebuilding one path for a new session never " +
      "serves rows of the old file") {
    val dir = java.nio.file.Files.createTempDirectory("fence_harness")
    dir.toFile.deleteOnExit()
    val scratch = fresh("d_src")
    DuckDbProcess.exec(scratch, Seq(
      s"COPY (SELECT range AS k FROM range(3)) TO '$dir/nation.parquet' " +
        "(FORMAT PARQUET)"))
    new java.io.File(s"$dir/nation.parquet").deleteOnExit()
    val e1 = DuckDbHarness.executor(spark, dir.toString, Seq("nation"))
    // the old file gets a fourth row, and three workers hold it warm
    e1.runWrite(Seq("INSERT INTO nation VALUES (99)"))
    def counts(db: String): Seq[Long] = {
      val rs = (1 to 3).map(_ =>
        DuckDbProcess.query(db, "SELECT COUNT(*) FROM nation"))
      try rs.map(_.rows.map(_.getLong(0)).toVector.head)
      finally rs.foreach(_.close())
    }
    assert(counts(e1.dbPath) == Seq(4L, 4L, 4L))
    val e2 = DuckDbHarness.executor(spark.newSession(), dir.toString,
      Seq("nation"))
    assert(e2.dbPath == e1.dbPath, "the new session must rebuild the path")
    assert(counts(e2.dbPath) == Seq(3L, 3L, 3L))
    assert(e2.runQuery("SELECT COUNT(*) FROM nation").head.getLong(0) == 3L)
  }

  test("(e) a thread that writes a file it still reads gets the fence's " +
      "error within the bound") {
    val db = fresh("e")
    val r = halfRead(db)
    val t0 = System.nanoTime()
    val ex =
      try intercept[IllegalStateException](
        DuckDbProcess.exec(db, Seq("INSERT INTO t VALUES (5)")))
      finally r.close()
    assert(ex.getMessage.contains(s"duckdb file fence on $db"), ex.getMessage)
    assert(msSince(t0) < 40000, s"the write waited ${msSince(t0)} ms")
    // the read closed: the fence is free again
    DuckDbProcess.exec(db, Seq("INSERT INTO t VALUES (5)"))
    assert(ids(db)._2 == Seq(0L, 1L, 2L, 5L))
  }

  test("a read on a worker warm on another file gives that file's fence " +
      "back before it runs") {
    val f = fresh("cross_f")
    val g = fresh("cross_g")
    // one read of f more than there are workers, all open at once: every
    // idle worker is borrowed, so once drained every idle worker holds f
    val n = ProcessHandle.current().children().count().toInt + 1
    val rs = (1 to n).map(_ => DuckDbProcess.query(f, "SELECT id FROM t"))
    val warmOnF = rs.map(_.workerPid).toSet
    rs.foreach(r => try r.rows.foreach(_ => ()) finally r.close())
    val r = halfRead(g)
    try {
      assert(warmOnF.contains(r.workerPid),
        "the read of g must run on a worker that was warm on f")
      val t0 = System.nanoTime()
      DuckDbProcess.exec(f, Seq("INSERT INTO t VALUES (8)"))
      assert(msSince(t0) < 10000,
        s"the write of f waited ${msSince(t0)} ms on a read of g")
    } finally r.close()
    assert(ids(f)._2 == Seq(0L, 1L, 2L, 8L))
  }

  test("a read that must not keep its connection leaves no lock behind; " +
      "a warm read keeps one") {
    val db = fresh("cold")
    val r = DuckDbProcess.query(db, "SELECT id FROM t ORDER BY id", 0,
      keep = false)
    try assert(r.rows.map(_.getLong(0)).toVector == Seq(0L, 1L, 2L))
    finally r.close()
    val (p1, l1) = outside(db, ro = false, "c.execute('INSERT INTO t VALUES (3)')")
    p1.waitFor()
    assert(l1 == "held", s"a writer outside the JVM met a lock: $l1")
    // a warm read holds the shared lock between requests
    assert(ids(db)._2 == Seq(0L, 1L, 2L, 3L))
    val (p2, l2) = outside(db, ro = false, "pass")
    p2.waitFor()
    assert(l2.contains("lock"), s"no lock held after a warm read: $l2")
  }

  test("a write that meets a lock held outside the fence waits it out") {
    val db = fresh("retry")
    // a reader the fence cannot see, as a cluster executor's read is
    val (p, l) = outside(db, ro = true, "c.execute('SELECT 1')",
      after = "time.sleep(1.5)")
    try {
      assert(l == "held", l)
      val t0 = System.nanoTime()
      DuckDbProcess.exec(db, Seq("INSERT INTO t VALUES (6)"))
      assert(msSince(t0) > 500,
        s"the write ran in ${msSince(t0)} ms while the lock was held")
    } finally { p.waitFor(); () }
    assert(ids(db)._2 == Seq(0L, 1L, 2L, 6L))
  }
}
