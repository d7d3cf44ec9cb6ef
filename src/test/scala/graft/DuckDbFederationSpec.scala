package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

import graft.federation.Federation
import graft.federation.duckdb.{DuckDbHarness, DuckDbProcess, DuckDbSqlExecutor}
import graft.federation.plans.FederatedPlan
import graft.federation.sql.{DuckDbDialect, RemoteTableRef}

/** End-to-end federation against the LIVE DuckDB engine (python duckdb
  * subprocess answering queries with Arrow IPC streams; reads happen
  * inside tasks as read-only file opens). This is the second real engine
  * next to Derby — and the load-bearing one: the DuckDb dialect backs
  * every unparser golden and the correctness oracle itself runs DuckDB. The
  * capability probes below pin the dialect's claims against the engine,
  * the same discipline that hardened DerbyDialect (CHAR padding, FETCH
  * forms, AVG typing) in rounds 6-8.
  */
class DuckDbFederationSpec extends AnyFunSuite with BeforeAndAfterAll {

  private val dir = "/root/testdata/sf0.001"

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-duckdb-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private def ex: DuckDbSqlExecutor = DuckDbHarness.executor(spark, dir)

  private def remoteScans(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.queryExecution.executedPlan.toString()
      .linesIterator.filter(_.contains("RemoteScan")).toSeq

  private def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  test("catalog lists tables and infers schemas through the subprocess") {
    assert(ex.tableNames.toSet ==
      DuckDbHarness.GateTables.toSet)
    val schema = ex.tableSchema(RemoteTableRef.parse("lineitem"))
    assert(schema("l_orderkey").dataType ==
      org.apache.spark.sql.types.LongType)
    assert(schema("l_returnflag").dataType ==
      org.apache.spark.sql.types.StringType)
    assert(schema("l_shipdate").dataType ==
      org.apache.spark.sql.types.TimestampNTZType)
  }

  test("FILTER-clause aggregate federates into ONE DuckDB SQL") {
    DuckDbHarness.registerViews(spark, dir)
    val df = spark.sql(
      """SELECT l_returnflag,
        |  COUNT(*) FILTER (WHERE l_quantity > 25.0) AS big,
        |  COUNT(*) AS n
        |FROM duck_lineitem GROUP BY l_returnflag ORDER BY l_returnflag"""
        .stripMargin)
    val scans = remoteScans(df)
    assert(scans.size == 1, s"expected one remote scan: $scans")
    assert(scans.head.contains("FILTER (WHERE"), scans.head)
    val want = rows(spark.sql(
      """SELECT l_returnflag,
        |  COUNT(*) FILTER (WHERE l_quantity > 25.0) AS big,
        |  COUNT(*) AS n
        |FROM parquet.`/root/testdata/sf0.001/lineitem.parquet`
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin))
    assert(rows(df) == want)
  }

  test("live: div pushes as DuckDB's `//` and gives Spark's integral " +
      "quotient; a LEGACY decimal narrowing pushes as TRY_CAST") {
    ex.runWrite(Seq("CREATE OR REPLACE TABLE div_t AS SELECT " +
      "CAST(a AS BIGINT) AS a, CAST(b AS BIGINT) AS b, " +
      "CAST(m AS DECIMAL(20,8)) AS m FROM (VALUES (7, 2, 123456.5), " +
      "(-7, 2, 12.5), (7, -2, -3.25), (9, 0, 0.5)) v(a, b, m)"))
    try {
      Federation.install(spark)
      Federation.registerRemoteTable(spark, "duck_div_t", "div_t", ex)
      spark.sql("SELECT * FROM VALUES (7L, 2L, CAST(123456.5 AS " +
        "DECIMAL(20,8))), (-7L, 2L, CAST(12.5 AS DECIMAL(20,8))), " +
        "(7L, -2L, CAST(-3.25 AS DECIMAL(20,8))), " +
        "(9L, 0L, CAST(0.5 AS DECIMAL(20,8))) AS t(a, b, m)")
        .createOrReplaceTempView("div_local")
      def check(q: String, pushed: Option[String]): Unit = {
        val df = spark.sql(q.replace("FROM t", "FROM duck_div_t"))
        val scans = remoteScans(df)
        assert(scans.size == 1, s"expected one remote scan: $scans")
        pushed.foreach(p => assert(scans.head.contains(p), scans.head))
        assert(rows(df) == rows(spark.sql(q.replace("FROM t",
          "FROM div_local"))), q)
      }
      // DuckDB's `/` is fractional: (7 / 2) * 2 came back as 7
      check("SELECT a, (a div 2) * 2 AS q FROM t", Some("// 2)"))
      // under ANSI a column divisor may be zero, where Spark raises and
      // `//` gives NULL: the divisor ships wrapped to raise
      check("SELECT a, (a div b) * 2 AS q FROM t WHERE b <> 0",
        Some("error('[DIVIDE_BY_ZERO]"))
      val key = "spark.sql.ansi.enabled"
      spark.conf.set(key, "false")
      try {
        check("SELECT a, b, a div b AS q FROM t", Some("// t1.b)"))
        // 123456.5 overflows DECIMAL(10,8): NULL without ANSI, where a
        // plain CAST raises on DuckDB
        check("SELECT a, CAST(m AS DECIMAL(10,8)) AS c FROM t",
          Some("TRY_CAST("))
      } finally spark.conf.unset(key)
    } finally ex.runWrite(Seq("DROP TABLE IF EXISTS div_t"))
  }

  test("live: `/` and `%` by zero raise under ANSI and give NULL without " +
      "it, as in Spark, on DOUBLE, DECIMAL and BIGINT") {
    // DuckDB gives NULL for every zero divisor, so under ANSI a divisor
    // that may be zero ships wrapped to raise
    ex.runWrite(Seq("CREATE OR REPLACE TABLE zdiv_t AS SELECT " +
      "CAST(d AS DOUBLE) AS d, CAST(m AS DECIMAL(10,2)) AS m, " +
      "CAST(b AS BIGINT) AS b FROM (VALUES (7.5, 7.5, 7), (0.0, 0.0, 0)) " +
      "v(d, m, b)"))
    try {
      Federation.install(spark)
      Federation.registerRemoteTable(spark, "duck_zdiv_t", "zdiv_t", ex)
      spark.sql("SELECT * FROM VALUES (7.5D, CAST(7.5 AS DECIMAL(10,2)), " +
        "7L), (0.0D, CAST(0.0 AS DECIMAL(10,2)), 0L) AS t(d, m, b)")
        .createOrReplaceTempView("zdiv_local")
      def run(q: String, table: String): Either[String, Seq[String]] =
        try Right(rows(spark.sql(q.replace("FROM t", s"FROM $table"))))
        catch { case e: Exception => Left(e.toString) }
      val ops = for {
        c <- Seq("d", "m", "b"); op <- Seq("/", "%")
      } yield s"SELECT 7 $op $c AS q FROM t"
      val key = "spark.sql.ansi.enabled"
      for (ansi <- Seq("true", "false")) {
        spark.conf.set(key, ansi)
        try ops.foreach { q =>
          val got = run(q, "duck_zdiv_t")
          val want = run(q, "zdiv_local")
          if (ansi == "true") {
            assert(got.left.exists(_.contains("_BY_ZERO")), s"$q: $got")
            assert(want.isLeft, s"$q: $want")
          } else assert(got == want, q)
        } finally spark.conf.unset(key)
      }
    } finally ex.runWrite(Seq("DROP TABLE IF EXISTS zdiv_t"))
  }

  test("live probe: DECIMAL cast rounds like Spark (HALF_UP emulation)") {
    // DuckDB CAST of a DECIMAL truncates toward zero (probed: 2.5→2,
    // -2.5→-2); the dialect's nudge-then-truncate emulation must restore
    // Spark's HALF_UP for positives, negatives and the carry case —
    // compare the FEDERATED projection against local Spark on
    // engineered halves
    DuckDbHarness.registerViews(spark, dir)
    val proj =
      """CAST((n_nationkey - 12) * 0.25 AS DECIMAL(4,1)) AS q,
        |  CAST((n_nationkey - 12) * 1.95 AS DECIMAL(4,0)) AS w,
        |  CAST(n_nationkey * 0.9999995 AS DECIMAL(9,6)) AS c""".stripMargin
    val fed = spark.sql(
      s"SELECT n_nationkey, $proj FROM duck_nation ORDER BY n_nationkey")
    assert(remoteScans(fed).nonEmpty)
    val local = spark.sql(
      s"SELECT n_nationkey, $proj FROM " +
        s"parquet.`$dir/nation.parquet` ORDER BY n_nationkey")
    assert(rows(fed) == rows(local))
    // DOUBLE sources, which Spark rounds by their shortest decimal text
    // HALF_UP. Rounding twice gives 7424.4649 → 7424.465 → 7424.47, and
    // DuckDB's own cast rounds the binary value (0.004999999995 → 0.01)
    val doubles = Seq(7424.4649, 614.114999999, 0.0049, 0.004999999995,
      2.675, 1.005, -2.675, 1.9087301168133925e14)
    ex.runDdl(RemoteTableRef.parse("double_round_probe"), Seq(
      "DROP TABLE IF EXISTS double_round_probe",
      "CREATE TABLE double_round_probe AS SELECT * FROM (VALUES " +
        doubles.zipWithIndex.map { case (d, i) =>
          s"($i, CAST('$d' AS DOUBLE))" }.mkString(", ") + ") AS v(id, d)"))
    val pushed = Federation.remoteDataFrame(spark, "double_round_probe", ex)
      .selectExpr("id", "CAST(d AS DECIMAL(18,2)) AS v")
    assert(remoteScans(pushed).exists(_.contains("DECIMAL(18,2)")),
      remoteScans(pushed))
    val got = pushed.collect().map(r => r.getInt(0) -> r.getDecimal(1)).toMap
    val want = Seq("7424.46", "614.11", "0.00", "0.00", "2.68", "1.01",
      "-2.68", "190873011681339.25")
    doubles.indices.foreach { i =>
      val local = org.apache.spark.sql.catalyst.expressions.Cast(
        org.apache.spark.sql.catalyst.expressions.Literal(doubles(i)),
        org.apache.spark.sql.types.DecimalType(18, 2)).eval()
        .asInstanceOf[org.apache.spark.sql.types.Decimal].toJavaBigDecimal
      assert(local.compareTo(new java.math.BigDecimal(want(i))) == 0,
        s"Spark casts ${doubles(i)} to $local")
      assert(got(i).compareTo(new java.math.BigDecimal(want(i))) == 0,
        s"${doubles(i)} → ${got(i)}, Spark gives ${want(i)}")
    }
  }

  test("live probe: CONCAT propagates NULL (|| chain, not CONCAT())") {
    DuckDbHarness.registerViews(spark, dir)
    val proj =
      """CONCAT(CASE WHEN n_nationkey % 2 = 0 THEN NULL
        |  ELSE n_name END, '_x') AS c""".stripMargin
    val fed = spark.sql(
      s"SELECT n_nationkey, $proj FROM duck_nation ORDER BY n_nationkey")
    assert(remoteScans(fed).nonEmpty)
    // even keys must be NULL, not '_x' (DuckDB's CONCAT skips NULLs)
    val vals = fed.collect().map(r =>
      (r.getInt(0), if (r.isNullAt(1)) null else r.getString(1)))
    assert(vals.filter(_._1 % 2 == 0).forall(_._2 == null),
      vals.mkString(", "))
    assert(vals.filter(_._1 % 2 == 1).forall(_._2 != null))
  }

  test("live probe: date_add stays a DATE through DuckDB") {
    DuckDbHarness.registerViews(spark, dir)
    val proj = "date_add(CAST(o_orderdate AS DATE), 31) AS d"
    val fed = spark.sql(
      s"SELECT o_orderkey, $proj FROM duck_orders " +
        "WHERE o_orderkey < 100 ORDER BY o_orderkey")
    assert(remoteScans(fed).nonEmpty,
      fed.queryExecution.optimizedPlan.toString)
    val local = spark.sql(
      s"SELECT o_orderkey, $proj FROM parquet.`$dir/orders.parquet` " +
        "WHERE o_orderkey < 100 ORDER BY o_orderkey")
    assert(fed.schema("d").dataType == org.apache.spark.sql.types.DateType)
    assert(rows(fed) == rows(local))
  }

  /** Every compute context a (sub)plan touches; descends through opaque
    * FederatedPlan leaves and their bind-join build sides. */
  private def contextsIn(
      p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : Set[String] =
    p.collect {
      case r: graft.federation.plans.RemoteRelation =>
        Set(r.executor.computeContext.get)
      case f: FederatedPlan =>
        contextsIn(f.inner) ++
          f.bindJoins.flatMap(b => contextsIn(b.buildPlan))
    }.flatten.toSet

  test("cross-engine join: both engines participate, no fragment mixes them") {
    graft.federation.jdbc.JdbcHarness.registerViews(spark, dir)
    DuckDbHarness.registerViews(spark, dir)
    val df = spark.sql(
      """SELECT c_mktsegment, COUNT(*) AS n
        |FROM jdbc_customer JOIN duck_orders ON c_custkey = o_custkey
        |WHERE o_totalprice > 100000
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin)
    val plan = df.queryExecution.optimizedPlan
    val frags = plan.collect { case f: FederatedPlan => f }
    assert(frags.nonEmpty)
    // the compute-context invariant the reference warns about
    // (src/sql/executor.rs:25-29): a single fragment's SQL must never
    // reference tables of two engine instances — contexts may meet only
    // ABOVE the boundary (a local join, or a bind join whose build side
    // was EXECUTED on its own engine and inlined as literal VALUES)
    frags.foreach { f =>
      assert(contextsIn(f.inner).size == 1,
        s"fragment mixes engines: ${contextsIn(f.inner)}\n$plan")
    }
    // and BOTH engines contribute to the plan (the DuckDB side may ride
    // as the bind build — still its own engine's execution)
    val all = frags.flatMap(f => contextsIn(f)).toSet
    assert(all.size == 2,
      s"expected both engines in the plan, got $all\n$plan")
    val want = rows(spark.sql(
      s"""SELECT c_mktsegment, COUNT(*) AS n
         |FROM parquet.`$dir/customer.parquet`
         |JOIN parquet.`$dir/orders.parquet` ON c_custkey = o_custkey
         |WHERE o_totalprice > 100000
         |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin))
    assert(rows(df) == want)
  }

  test("cross-engine partial agg: both real engines ship grouped partials") {
    graft.federation.jdbc.JdbcHarness.registerViews(spark, dir)
    DuckDbHarness.registerViews(spark, dir)
    val duckEx = ex
    val derbyEx = graft.federation.jdbc.JdbcHarness.executor(spark, dir)
    val duckBefore = duckEx.executedSql.size
    val derbyBefore = derbyEx.executedSql.size
    val df = graft.operators.Federated.duckXenginePartialAgg(spark, dir)
    val got = rows(df)
    def partialized(sqls: Iterable[String]): Boolean = sqls.exists(s =>
      s.contains("__gp_") && s.toUpperCase.contains("GROUP BY"))
    val duckSqls = duckEx.executedSql.synchronized(
      duckEx.executedSql.drop(duckBefore))
    val derbySqls = derbyEx.executedSql.synchronized(
      derbyEx.executedSql.drop(derbyBefore))
    assert(partialized(duckSqls),
      s"DuckDB arm shipped no partial aggregate:\n${duckSqls.mkString("\n")}")
    assert(partialized(derbySqls),
      s"Derby arm shipped no partial aggregate:\n${derbySqls.mkString("\n")}")
    val want = rows(spark.sql(
      s"""SELECT l_returnflag,
         |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
         |  COUNT(*) AS n_rows,
         |  MAX(l_extendedprice) AS max_price
         |FROM parquet.`$dir/lineitem.parquet`
         |GROUP BY l_returnflag
         |ORDER BY l_returnflag""".stripMargin))
    assert(got == want, "cross-engine partial agg differs from local")
  }

  test("cross-engine AVG decomposes: SUM+COUNT on both wires, never AVG") {
    graft.federation.jdbc.JdbcHarness.registerViews(spark, dir)
    DuckDbHarness.registerViews(spark, dir)
    val duckEx = ex
    val derbyEx = graft.federation.jdbc.JdbcHarness.executor(spark, dir)
    val duckBefore = duckEx.executedSql.size
    val derbyBefore = derbyEx.executedSql.size
    val df = graft.operators.Federated.duckXenginePartialAvg(spark, dir)
    val got = rows(df)
    val duckSqls = duckEx.executedSql.synchronized(
      duckEx.executedSql.drop(duckBefore))
    val derbySqls = derbyEx.executedSql.synchronized(
      derbyEx.executedSql.drop(derbyBefore))
    for ((name, sqls) <- Seq("duck" -> duckSqls, "derby" -> derbySqls)) {
      assert(sqls.exists(s => s.contains("__gp_") &&
        s.toUpperCase.contains("SUM(") &&
        s.toUpperCase.contains("COUNT(")),
        s"$name arm shipped no SUM/COUNT partials:\n${sqls.mkString("\n")}")
      assert(!sqls.exists(_.toUpperCase.contains("AVG(")),
        s"$name arm must not ship AVG (avg of avgs):\n${sqls.mkString("\n")}")
    }
    val want = rows(spark.sql(
      s"""SELECT l_returnflag,
         |  AVG(CAST(FLOOR(l_quantity) AS BIGINT)) AS avg_qty,
         |  COUNT(*) AS n_rows
         |FROM parquet.`$dir/lineitem.parquet`
         |GROUP BY l_returnflag
         |ORDER BY l_returnflag""".stripMargin))
    assert(got == want, "cross-engine AVG differs from local")
  }

  test("cross-engine COUNT(DISTINCT): per-arm dedup on both wires") {
    graft.federation.jdbc.JdbcHarness.registerViews(spark, dir)
    DuckDbHarness.registerViews(spark, dir)
    val duckEx = ex
    val derbyEx = graft.federation.jdbc.JdbcHarness.executor(spark, dir)
    val duckBefore = duckEx.executedSql.size
    val derbyBefore = derbyEx.executedSql.size
    val df = graft.operators.Federated.duckXenginePartialDistinct(spark, dir)
    val got = rows(df)
    val duckSqls = duckEx.executedSql.synchronized(
      duckEx.executedSql.drop(duckBefore))
    val derbySqls = derbyEx.executedSql.synchronized(
      derbyEx.executedSql.drop(derbyBefore))
    for ((name, sqls) <- Seq("duck" -> duckSqls, "derby" -> derbySqls)) {
      assert(sqls.exists(_.contains("__gd_")),
        s"$name arm shipped no grouped dedup:\n${sqls.mkString("\n")}")
      assert(!sqls.exists(_.toUpperCase.replace(" ", "")
          .contains("COUNT(DISTINCT")),
        s"$name arm must not ship COUNT(DISTINCT:\n${sqls.mkString("\n")}")
    }
    val want = rows(spark.sql(
      s"""SELECT o_orderpriority, COUNT(DISTINCT o_custkey) AS n_custs
         |FROM parquet.`$dir/orders.parquet`
         |GROUP BY o_orderpriority
         |ORDER BY o_orderpriority""".stripMargin))
    assert(got == want, "cross-engine distinct differs from local")
  }

  test("INTERSECT/EXCEPT ALL: one live SQL ships grouped counts, not rows") {
    val e = ex
    val before = e.executedSql.size
    val ia = operators.Federated.duckIntersectAll(spark, dir)
    assert(remoteScans(ia).size == 1, remoteScans(ia))
    val gotIa = ia.collect()
    val wire = e.executedSql.synchronized(e.executedSql.drop(before))
    // the fragment carries the union + per-key signed/min counts; the
    // only local operator is replicaterows
    assert(wire.exists(s => s.toUpperCase.contains("UNION ALL") &&
      s.toUpperCase.contains("GROUP BY")), wire.mkString("\n"))
    val want = spark.sql(
      s"""SELECT o_custkey AS k FROM parquet.`$dir/orders.parquet`
         |WHERE o_orderstatus = 'F'
         |INTERSECT ALL
         |SELECT o_custkey AS k FROM parquet.`$dir/orders.parquet`
         |WHERE o_totalprice > 1000
         |ORDER BY k LIMIT 60""".stripMargin).collect()
    assert(gotIa.map(_.getLong(0)).toSeq == want.map(_.getLong(0)).toSeq)
    val ea = operators.Federated.duckExceptAll(spark, dir)
    assert(remoteScans(ea).size == 1, remoteScans(ea))
    assert(ea.collect().nonEmpty)
  }

  test("splittable fragment fans out to 4 read-only subprocess cursors") {
    DuckDbHarness.registerViews(spark, dir)
    // approx_count_distinct has no remote spelling, so the aggregate
    // stays local and the scan-shaped fragment under it fans out to
    // [[DuckDbHarness.Splits]] parallel read-only subprocesses
    val df = spark.sql(
      """SELECT approx_count_distinct(l_orderkey) AS ad,
        |  SUM(CAST(l_quantity AS DECIMAL(18,2))) AS s, COUNT(*) AS n
        |FROM duck_lineitem WHERE l_quantity < 10.0""".stripMargin)
    val scans = remoteScans(df)
    assert(scans.exists(_.contains("splits=4")),
      s"no 4-way split scan in:\n${scans.mkString("\n")}")
    val want = spark.sql(
      s"""SELECT SUM(CAST(l_quantity AS DECIMAL(18,2))) AS s, COUNT(*) AS n
         |FROM parquet.`$dir/lineitem.parquet` WHERE l_quantity < 10.0"""
        .stripMargin).collect().head
    val got = df.collect().head
    assert(got.getLong(0) > 0)
    assert(got.getDecimal(1) == want.getDecimal(0) &&
      got.getLong(2) == want.getLong(1))
  }

  test("cross-engine ETL: one DuckDB extract SQL, one Derby read-back fragment") {
    val df = graft.operators.Federated.duckToDerbyEtl(spark, dir)
    // read-back leg: join + rollup land in ONE Derby fragment whose wire
    // SQL carries the JOIN — Spark never re-joins what Derby already did
    val frags = Federation.explainFederated(df).collect()
    assert(frags.length == 1, frags.mkString("\n"))
    assert(frags.head.getAs[String]("provider") == "derby")
    val sql = frags.head.getAs[String]("sql").toUpperCase
    assert(sql.contains("JOIN") && sql.contains("GROUP BY"), sql)
    // extract leg: the same derivation federates into ONE DuckDB SQL
    // with the filter + aggregate inside it
    import org.apache.spark.sql.functions.{col, count, lit, round, sum}
    val derived = Federation.remoteDataFrame(spark, "orders", ex)
      .filter(col("o_orderpriority") === "1-URGENT")
      .groupBy(col("o_custkey").cast("long").as("custkey"))
      .agg(count(lit(1)).as("n_urgent"),
        sum(round(col("o_totalprice") * 100, 0).cast("long"))
          .as("urgent_cents"))
    val efrags = Federation.explainFederated(derived).collect()
    assert(efrags.length == 1, efrags.mkString("\n"))
    assert(efrags.head.getAs[String]("provider") == "duck")
    val esql = efrags.head.getAs[String]("sql").toUpperCase
    assert(esql.contains("1-URGENT") && esql.contains("GROUP BY"), esql)
    // and the full round trip equals the local recompute
    val want = rows(spark.sql(
      s"""SELECT c_mktsegment, COUNT(*) AS n_cust,
         |  SUM(n_urgent) AS total_urgent, SUM(urgent_cents) AS total_cents
         |FROM (
         |  SELECT o_custkey AS custkey, COUNT(*) AS n_urgent,
         |    SUM(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT))
         |      AS urgent_cents
         |  FROM parquet.`$dir/orders.parquet`
         |  WHERE o_orderpriority = '1-URGENT' GROUP BY 1
         |) u JOIN parquet.`$dir/customer.parquet` ON c_custkey = custkey
         |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin))
    assert(rows(df) == want)
  }

  test("remote-to-remote INSERT..SELECT ships one statement, no row stream") {
    Federation.install(spark)
    val e = ex
    val derived = Federation.remoteDataFrame(spark, "region", e)
      .selectExpr("r_regionkey AS k", "r_name AS name")
    val before = e.dmlLog.size
    Federation.createRemoteTableAs(derived, "region_copy", e)
    val dml = e.dmlLog.drop(before)
    assert(dml.exists(s => s.startsWith("INSERT INTO") &&
      s.contains("SELECT")), dml.mkString("\n"))
    // and the round-trip is the identity
    val back = Federation.remoteDataFrame(spark, "region_copy", e)
    assert(back.count() ==
      spark.read.parquet(s"$dir/region.parquet").count())
  }

  test("Arrow-staged ingest + DELETE/UPDATE pushdown round-trip") {
    Federation.install(spark)
    val e = ex
    val ref = RemoteTableRef.parse("nation_rt")
    e.createTable(ref, org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("k",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("name",
        org.apache.spark.sql.types.StringType))))
    val src = spark.read.parquet(s"$dir/nation.parquet")
      .selectExpr("CAST(n_nationkey AS BIGINT) AS k", "n_name AS name")
    e.insertInto(ref, src)
    import org.apache.spark.sql.functions.col
    val deleted = Federation.deleteFromRemote(spark, "nation_rt", e,
      col("k") >= 20L)
    assert(deleted == 5, s"deleted $deleted")
    val updated = Federation.updateRemote(spark, "nation_rt", e,
      Seq("name" -> org.apache.spark.sql.functions.concat(
        col("name"), org.apache.spark.sql.functions.lit("!"))),
      col("k") < 2L)
    assert(updated == 2, s"updated $updated")
    val got = Federation.remoteDataFrame(spark, "nation_rt", e)
      .orderBy(col("k")).collect()
    assert(got.length == 20)
    assert(got.take(2).forall(_.getString(1).endsWith("!")))
    assert(!got(2).getString(1).endsWith("!"))
  }

  test("epoch-fenced ingest: re-delivered microbatch is a no-op") {
    import spark.implicits._
    Federation.install(spark)
    val e = ex
    val ref = RemoteTableRef.parse("epoch_target")
    e.createTable(ref, org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("k",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("v",
        org.apache.spark.sql.types.StringType))))
    e.ensureEpochTable(ref)
    val batch = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "v")
    assert(e.insertIntoEpoch(ref, batch, epochId = 7L))
    // recovery replay of the SAME epoch: no-op, no duplicate rows
    assert(!e.insertIntoEpoch(ref, batch, epochId = 7L))
    assert(e.runQuery("SELECT COUNT(*) FROM \"epoch_target\"")
      .head.getLong(0) == 3L)
    // a NEW epoch appends
    assert(e.insertIntoEpoch(ref,
      Seq((4L, "d")).toDF("k", "v"), epochId = 8L))
    assert(e.runQuery("SELECT COUNT(*) FROM \"epoch_target\"")
      .head.getLong(0) == 4L)
    // the fence rode the SAME transaction as the rows
    val log = e.dmlLog.synchronized(e.dmlLog.toVector)
    val begin = log.lastIndexOf("BEGIN")
    assert(begin >= 0 && log(begin + 1) ==
        "INSERT INTO epoch_target (k, v) SELECT k, v FROM __ingest" &&
      log(begin + 2).contains("__epochs") && log(begin + 3) == "COMMIT",
      log.takeRight(6).mkString("\n"))
  }

  test("epoch-fenced ingest of a zero-row microbatch commits its epoch") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    Federation.install(spark)
    val e = ex
    val ref = RemoteTableRef.parse("epoch_empty")
    val schema = StructType(Seq(
      StructField("k", LongType), StructField("v", StringType)))
    e.createTable(ref, schema)
    e.ensureEpochTable(ref)
    // no partitions at all: the ingest still runs one empty stream
    val empty = spark.createDataFrame(
      spark.sparkContext.emptyRDD[Row], schema)
    assert(e.insertIntoEpoch(ref, empty, epochId = 3L))
    def epochs = e.runQuery("SELECT COUNT(*) FROM \"epoch_empty__epochs\" " +
      "WHERE batch_id = 3").head.getLong(0)
    assert(epochs == 1L)
    // re-delivery of the committed epoch is a no-op
    assert(!e.insertIntoEpoch(ref, empty, epochId = 3L))
    assert(epochs == 1L)
    assert(e.runQuery("SELECT COUNT(*) FROM \"epoch_empty\"")
      .head.getLong(0) == 0L)
  }

  test("DML gates ship ONE DELETE / ONE UPDATE with the unparsed predicate") {
    val e = ex
    val before = e.dmlLog.synchronized(e.dmlLog.size)
    val del = operators.Federated.duckDelete(spark, dir).collect()
    val upd = operators.Federated.duckUpdate(spark, dir).collect()
    val log = e.dmlLog.synchronized(e.dmlLog.drop(before).toVector)
    val deletes = log.filter(_.startsWith("DELETE FROM"))
    assert(deletes.size == 1, log.mkString("\n"))
    assert(deletes.head.contains("nation_trim_duck") &&
      deletes.head.contains("LIKE '%IA'"), deletes.head)
    val updates = log.filter(_.startsWith("UPDATE"))
    assert(updates.size == 1, log.mkString("\n"))
    assert(updates.head.contains("nation_adj_duck") &&
      updates.head.contains("+ 100") &&
      updates.head.contains("|| '_X'"), updates.head)
    // survivors/adjustments visible on read-back
    assert(del.nonEmpty && del.forall(r =>
      r.getLong(2) < 3 && !r.getString(1).endsWith("IA")))
    // the predicate matched: NATION_1/11/21 got the SET applied
    assert(upd.count(r => r.getString(1).endsWith("_X") &&
      r.getLong(2) >= 100) == 3, upd.map(_.toString).mkString(", "))
  }

  test("UNNEST federates whole onto the live engine; posexplode uses the probed form") {
    val inner = operators.Federated.duckUnnest(spark, dir)
    assert(remoteScans(inner).size == 1, remoteScans(inner))
    assert(!inner.queryExecution.executedPlan.toString.contains("Generate"),
      "explode must run remotely, not as a local Generate")
    assert(inner.collect().nonEmpty)
    val wire = ex.executedSql.synchronized(ex.executedSql.toVector)
    assert(wire.exists(s => s.contains("CROSS JOIN UNNEST(")), wire.lastOption)
    val pos = operators.Federated.duckUnnestPos(spark, dir)
    assert(remoteScans(pos).size == 1, remoteScans(pos))
    // and the rows are right (0-based first element per label present)
    val rowsPos = pos.collect()
    assert(rowsPos.nonEmpty && rowsPos.forall(r => !r.isNullAt(2)))
    val wire2 = ex.executedSql.synchronized(ex.executedSql.toVector)
    // DuckDB 1.0 has no WITH ORDINALITY (probed live: "Not implemented");
    // the dialect's working positional form must be on the wire
    assert(wire2.exists(s => s.contains("GENERATE_SUBSCRIPTS(") &&
      !s.contains("WITH ORDINALITY")), wire2.lastOption)
  }

  test("sorted fragment on a STRING key: window runs without re-sort") {
    DuckDbHarness.registerViews(spark, dir)
    // DuckDB's VARCHAR ordering is probed byte-identical to Spark's
    // (UTF-8 memcmp), so even a string sort key carries the ordering
    // claim through — Derby's UCS-2 collation must refuse the same shape.
    // approx_count_distinct has no remote spelling, so THIS window stays
    // local (a plain ROW_NUMBER would federate whole — also right, but
    // then nothing exercises the ordering claim).
    val df = spark.sql(
      """SELECT name, bal,
        |  approx_count_distinct(bal) OVER (ORDER BY name) AS ad
        |FROM (SELECT s_name AS name, s_acctbal AS bal FROM duck_supplier
        |      ORDER BY s_name LIMIT 50) t""".stripMargin)
    val planStr = df.queryExecution.executedPlan.toString()
    assert(planStr.contains("Window") && planStr.contains("RemoteScan"),
      planStr)
    assert(!planStr.contains("Sort "),
      s"local re-sort above a remotely-sorted fragment:\n$planStr")
    val want = spark.sql(
      s"""SELECT name, bal,
         |  approx_count_distinct(bal) OVER (ORDER BY name) AS ad
         |FROM (SELECT s_name AS name, s_acctbal AS bal
         |      FROM parquet.`$dir/supplier.parquet`
         |      ORDER BY s_name LIMIT 50) t""".stripMargin)
      .collect().map(_.toString).toSeq
    assert(df.collect().map(_.toString).toSeq == want)
  }

  test("window functions federate whole: OVER executes on the live engine") {
    DuckDbHarness.registerViews(spark, dir)
    val e = ex
    val before = e.executedSql.size
    val df = graft.operators.Federated.duckWindow(spark, dir)
    assert(remoteScans(df).size == 1,
      s"expected one remote scan:\n${df.queryExecution.executedPlan}")
    val planStr = df.queryExecution.executedPlan.toString()
    assert(!planStr.contains("Window"),
      s"window ran locally instead of on the engine:\n$planStr")
    val got = rows(df)
    val executed = e.executedSql.synchronized(e.executedSql.drop(before))
    assert(executed.exists(s =>
        s.toUpperCase.contains("OVER (PARTITION BY")), executed.mkString("\n"))
    val want = rows(spark.sql(
      s"""SELECT st, k, price,
         |  CAST(SUM(CAST(price AS DECIMAL(18,2)))
         |    OVER (PARTITION BY st ORDER BY k) AS DOUBLE) AS run,
         |  LAG(k) OVER (PARTITION BY st ORDER BY k) AS prev_k
         |FROM (
         |  SELECT o_orderstatus AS st, o_orderkey AS k,
         |    CAST(o_totalprice AS DOUBLE) AS price
         |  FROM parquet.`$dir/orders.parquet` WHERE o_totalprice > 200000
         |) t
         |ORDER BY st, k""".stripMargin))
    assert(got == want)
  }

  test("per-group top-k truncation executes on the live engine (mixed arms)") {
    graft.federation.FederationHarness.setup(spark, dir)
    DuckDbHarness.registerViews(spark, dir)
    val e = ex
    val before = e.executedSql.size
    val df = graft.operators.Federated.duckGroupTopK(spark, dir)
    val got = rows(df)
    // the DuckDB arm's wire SQL carries the windowed rank + truncation —
    // the GroupTopKPushdownRule wrap, previously golden-only, run live
    val executed = e.executedSql.synchronized(e.executedSql.drop(before))
    assert(executed.exists(s => s.toLowerCase.contains("row_number() over") &&
        s.contains("__gtk_rn") && s.contains("<= 3")),
      s"DuckDB remote SQL carries no per-group truncation:\n" +
        executed.mkString("\n"))
    val want = rows(spark.sql(
      s"""SELECT st, rnk, k, price FROM (
         |  SELECT o_orderstatus AS st, o_orderkey AS k,
         |    CAST(o_totalprice AS DOUBLE) AS price,
         |    ROW_NUMBER() OVER (PARTITION BY o_orderstatus
         |      ORDER BY o_totalprice DESC, o_orderkey) AS rnk
         |  FROM (
         |    SELECT o_orderkey, o_totalprice, o_orderstatus
         |    FROM parquet.`$dir/orders.parquet`
         |    WHERE o_orderpriority = '1-URGENT'
         |    UNION ALL
         |    SELECT o_orderkey, o_totalprice, o_orderstatus
         |    FROM parquet.`$dir/orders.parquet`
         |    WHERE o_orderpriority = '2-HIGH'
         |  ) t
         |) r WHERE rnk <= 3
         |ORDER BY st, rnk""".stripMargin))
    assert(got == want, "mixed-arm per-group top-k differs from local")
  }

  test("ROLLUP federates whole: GROUPING SETS executes on the live engine") {
    DuckDbHarness.registerViews(spark, dir)
    val e = ex
    val before = e.executedSql.size
    val df = graft.operators.Federated.duckRollup(spark, dir)
    assert(remoteScans(df).size == 1,
      s"expected one remote scan:\n${df.queryExecution.executedPlan}")
    val planStr = df.queryExecution.executedPlan.toString()
    assert(!planStr.contains("Expand"),
      s"rollup expanded locally instead of on the engine:\n$planStr")
    val got = rows(df)
    val executed = e.executedSql.synchronized(e.executedSql.drop(before))
    assert(executed.exists(_.toUpperCase.contains("GROUP BY GROUPING SETS")),
      executed.mkString("\n"))
    val want = rows(spark.sql(
      s"""SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n,
         |  MAX(o_totalprice) AS max_price
         |FROM parquet.`$dir/orders.parquet`
         |GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
         |ORDER BY o_orderstatus ASC NULLS FIRST,
         |  o_orderpriority ASC NULLS FIRST""".stripMargin))
    assert(got == want)
  }

  test("ROLLUP over EMPTY input returns no rows (SQL emits the () " +
      "grand-total row there; Spark's Expand lowering does not — the " +
      "HAVING COUNT(*) > 0 guard reproduces Spark exactly)") {
    DuckDbHarness.registerViews(spark, dir)
    val df = spark.sql(
      """SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n
        |FROM duck_orders WHERE o_totalprice < -1
        |GROUP BY ROLLUP (o_orderstatus, o_orderpriority)""".stripMargin)
    assert(remoteScans(df).size == 1,
      s"expected the rollup remote:\n${df.queryExecution.executedPlan}")
    assert(df.collect().isEmpty,
      "empty-input rollup must emit NO rows (Spark semantics)")
    // and the non-empty grand total still appears exactly once
    val full = spark.sql(
      """SELECT o_orderstatus, COUNT(*) AS n
        |FROM duck_orders GROUP BY ROLLUP (o_orderstatus)""".stripMargin)
    val nulls = full.collect().filter(_.isNullAt(0))
    assert(nulls.length == 1 && nulls.head.getLong(1) > 0)
  }

  test("runtime filter reaches the live engine's wire SQL") {
    DuckDbHarness.registerViews(spark, dir)
    val e = ex
    val before = e.executedSql.size
    val df = graft.operators.Federated.duckRuntimeFilter(spark, dir)
    df.collect()
    val executed = e.executedSql.synchronized(e.executedSql.drop(before))
    // the FP build payload refuses the bind path, so the wire reduction
    // must be the execution-time runtime filter on the join key
    assert(executed.exists(s => s.contains("l_orderkey") &&
      (s.contains(" IN (") || s.contains(">="))),
      executed.mkString("\n"))
  }

  test("statistics probe sees fragment-level cardinality") {
    val e = ex
    val st = e.statistics(RemoteTableRef.parse("nation"))
    assert(st.exists(_.rowCount.contains(BigInt(25))), st.toString)
    val frag = e.fragmentStatistics(
      """SELECT "n_nationkey" FROM "nation" WHERE "n_regionkey" = 0""",
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("n_nationkey",
          org.apache.spark.sql.types.IntegerType))))
    assert(frag.exists(_.rowCount.exists(_ < 25)), frag.toString)
    // a probe of a missing table answers None and is NOT cached: once
    // another executor creates the table, this one reports its stats
    val late = RemoteTableRef.parse("late_stats_duck")
    val kSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("k",
        org.apache.spark.sql.types.LongType)))
    val other = new DuckDbSqlExecutor("duck_other", spark, e.dbPath)
    other.dropTable(late)
    assert(e.statistics(late).isEmpty)
    other.createTable(late, kSchema)
    other.insertInto(late, spark.range(0, 4).selectExpr("id AS k"))
    assert(e.statistics(late).flatMap(_.rowCount).contains(BigInt(4)))
    other.dropTable(late)
    // an at-cap answer is served again without a new statement
    val capped = new DuckDbSqlExecutor("duck_cap", spark, e.dbPath,
      statsRowCap = 5L)
    assert(capped.statistics(RemoteTableRef.parse("nation")).isEmpty)
    val sent = capped.executedSql.size
    assert(capped.statistics(RemoteTableRef.parse("nation")).isEmpty)
    assert(capped.executedSql.size == sent, capped.executedSql)
  }

  test("subprocess surfaces engine errors with the message") {
    val e = ex
    val err = intercept[IllegalStateException] {
      e.runQuery("SELECT * FROM no_such_table_xyz")
    }
    assert(err.getMessage.contains("no_such_table_xyz"), err.getMessage)
  }

  test("dialect VALUES derived table works live (bind-join wire format)") {
    // the exact shape RemoteScanExec renders for a bind join
    val e = ex
    val got = e.runQuery(
      """SELECT t."a", t."b" FROM (VALUES (1, 'x'), (2, 'y')) AS t("a", "b")
        |ORDER BY t."a"""".stripMargin)
    assert(got.map(_.getString(1)) == Seq("x", "y"))
  }

  test("nulls ordering: dialect default matches the engine") {
    // DuckDbDialect says ASC → NULLS LAST is the engine default; pin it
    val e = ex
    val got = e.runQuery(
      "SELECT x FROM (VALUES (1), (NULL), (2)) AS t(x) ORDER BY x")
    assert(got.last.isNullAt(0), got.toString)
  }

  test("range-split scan claims RangePartitioning: window on the split " +
      "column pays NO exchange, and no re-sort is ever wrong") {
    DuckDbHarness.registerViews(spark, dir)
    // approx_count_distinct has no remote spelling → the window stays
    // local; the fragment below it is scan-shaped → 4 quantile RANGE
    // splits. Cursor i = range i (ascending, NULLs in 0) IS
    // RangePartitioning(o_orderkey ASC, 4), so EnsureRequirements keeps
    // the window exchange-free: only the cheap per-partition sort runs.
    val df = spark.sql(
      """SELECT o_orderkey,
        |  approx_count_distinct(o_totalprice)
        |    OVER (PARTITION BY o_orderkey) AS ad
        |FROM duck_orders""".stripMargin)
    val got = rows(df)
    val planStr = df.queryExecution.executedPlan.toString()
    assert(planStr.contains("Window") && planStr.contains("RemoteScan"),
      planStr)
    assert(!planStr.contains("Exchange"),
      s"window on the range-split column must not shuffle:\n$planStr")
    val want = rows(spark.sql(
      s"""SELECT o_orderkey,
         |  approx_count_distinct(o_totalprice)
         |    OVER (PARTITION BY o_orderkey) AS ad
         |FROM parquet.`$dir/orders.parquet`""".stripMargin))
    assert(got == want)

    // the refusal side stays pinned: when the split column (o_orderkey —
    // the first "key"-suffixed integral in the output) differs from the
    // window key, the claim must NOT suppress the needed shuffle
    val other = spark.sql(
      """SELECT o_orderkey, o_custkey,
        |  approx_count_distinct(o_totalprice)
        |    OVER (PARTITION BY o_custkey) AS ad
        |FROM duck_orders""".stripMargin)
    val got2 = rows(other)
    val planStr2 = other.queryExecution.executedPlan.toString()
    assert(planStr2.contains("o_orderkey <") ||
      planStr2.contains("o_orderkey\" <"),
      s"expected a range split on o_orderkey:\n$planStr2")
    assert(planStr2.contains("Exchange"),
      s"window on a non-split column still needs its shuffle:\n$planStr2")
    val want2 = rows(spark.sql(
      s"""SELECT o_orderkey, o_custkey,
         |  approx_count_distinct(o_totalprice)
         |    OVER (PARTITION BY o_custkey) AS ad
         |FROM parquet.`$dir/orders.parquet`""".stripMargin))
    assert(got2 == want2)
  }

  test("STRUCT type strings parse: nesting, lists, quoted names") {
    import org.apache.spark.sql.types._
    assert(DuckDbProcess.catalystType("STRUCT(a INTEGER, b VARCHAR)") ==
      StructType(Seq(StructField("a", IntegerType),
        StructField("b", StringType))))
    // nested struct + decimal list + struct list, as DESCRIBE renders them
    assert(DuckDbProcess.catalystType(
      "STRUCT(a INTEGER, nested STRUCT(c DATE, d DECIMAL(2,1)[]))") ==
      StructType(Seq(StructField("a", IntegerType),
        StructField("nested", StructType(Seq(
          StructField("c", DateType),
          StructField("d", ArrayType(DecimalType(2, 1),
            containsNull = true))))))))
    assert(DuckDbProcess.catalystType("STRUCT(a INTEGER)[]") ==
      ArrayType(StructType(Seq(StructField("a", IntegerType))),
        containsNull = true))
    // quoted field names with the doubled-"" escape (probed live, v1.0)
    assert(DuckDbProcess.catalystType(
      """STRUCT("weird name" INTEGER, "q""q" VARCHAR)""") ==
      StructType(Seq(StructField("weird name", IntegerType),
        StructField("""q"q""", StringType))))
  }

  test("native STRUCT values cross the wire: nested objects, null fields") {
    Federation.install(spark)
    val e = ex
    val ref = RemoteTableRef.parse("struct_wire_probe")
    e.runDdl(ref, Seq(
      "DROP TABLE IF EXISTS struct_wire_probe",
      """CREATE TABLE struct_wire_probe AS SELECT * FROM (VALUES
        |  (1, {'seg': 'A', 'm': {'d': DATE '2020-03-04', 'xs': [1, 2]}}),
        |  (2, {'seg': NULL, 'm': {'d': NULL, 'xs': []}}),
        |  (3, NULL)) AS t(id, p)""".stripMargin))
    val df = Federation.remoteDataFrame(spark, "struct_wire_probe", e)
    // schema came from DESCRIBE's STRUCT string through the parser
    assert(df.schema("p").dataType.isInstanceOf[
      org.apache.spark.sql.types.StructType])
    val got = df.orderBy("id").collect()
    assert(got(0).getStruct(1).getString(0) == "A")
    assert(got(0).getStruct(1).getStruct(1).getDate(0).toString ==
      "2020-03-04")
    assert(got(0).getStruct(1).getStruct(1).getSeq[Int](1) == Seq(1, 2))
    assert(got(1).getStruct(1).isNullAt(0))
    assert(got(1).getStruct(1).getStruct(1).isNullAt(0))
    assert(got(1).getStruct(1).getStruct(1).getSeq[Int](1).isEmpty)
    assert(got(2).isNullAt(1))
    // a declared struct whose field names differ from the engine's (here
    // swapped, over the same positional types) is refused by name; it is
    // never matched by position
    import org.apache.spark.sql.types._
    val pType = df.schema("p").dataType.asInstanceOf[StructType]
    val swapped = StructType(Seq(df.schema("id"), StructField("p",
      StructType(Seq(pType(0).copy(name = "m"), pType(1).copy(name = "seg"))))))
    var err: Throwable = intercept[Throwable](Federation
      .remoteDataFrameAs(spark, "struct_wire_probe", e, swapped).collect())
    val msg = new StringBuilder
    while (err != null) { msg.append(err.getMessage).append(' '); err = err.getCause }
    assert(msg.toString.contains("struct fields differ by name"), msg)
  }

  test("declared struct schema over a JSON text column decodes at the " +
      "boundary (string→struct cast, live wire)") {
    import org.apache.spark.sql.types._
    Federation.install(spark)
    val e = ex
    val ref = RemoteTableRef.parse("json_wire_probe")
    e.runDdl(ref, Seq(
      "DROP TABLE IF EXISTS json_wire_probe",
      """CREATE TABLE json_wire_probe AS SELECT * FROM (VALUES
        |  (1, to_json({'seg': 'B', 'bal': 1.5, 'tags': [7, 8]})),
        |  (2, NULL)) AS t(id, payload)""".stripMargin))
    // engine catalog reports JSON text…
    assert(e.tableSchema(ref)("payload").dataType == StringType)
    // …but the DECLARED schema asserts a struct, and the wire coerces
    val declared = StructType(Seq(
      StructField("id", IntegerType),
      StructField("payload", StructType(Seq(
        StructField("seg", StringType),
        StructField("bal", DoubleType),
        StructField("tags", ArrayType(LongType)))))))
    val got = Federation
      .remoteDataFrameAs(spark, "json_wire_probe", e, declared)
      .orderBy("id").collect()
    assert(got(0).getStruct(1).getString(0) == "B")
    assert(got(0).getStruct(1).getDouble(1) == 1.5)
    assert(got(0).getStruct(1).getSeq[Long](2) == Seq(7L, 8L))
    assert(got(1).isNullAt(1))
    // an impossible value fails the read and names the problem; it never
    // decodes as null
    def failure(table: String, text: String, declared: StructType) = {
      e.runDdl(RemoteTableRef.parse(table), Seq(
        s"DROP TABLE IF EXISTS $table",
        s"CREATE TABLE $table AS SELECT 1 AS id, '$text' AS payload"))
      val err = intercept[Throwable] {
        Federation.remoteDataFrameAs(spark, table, e, declared).collect()
      }
      var c: Throwable = err
      val sb = new StringBuilder
      while (c != null) { sb.append(c.getMessage).append(' '); c = c.getCause }
      sb.toString
    }
    val malformed = failure("json_malformed_probe",
      """{"seg": "C", "bal": 2.5""", declared)
    assert(malformed.contains("end-of-input"), malformed)
    val overflow = failure("json_overflow_probe", """{"amt": 123456.789}""",
      StructType(Seq(StructField("id", IntegerType),
        StructField("payload", StructType(Seq(
          StructField("amt", DecimalType(5, 2))))))))
    assert(overflow.contains("cannot be represented as Decimal(5, 2)"),
      overflow)
  }

  test("MAP / ENUM / unsigned / UUID / TIME / TIMESTAMPTZ type strings " +
      "parse") {
    import org.apache.spark.sql.types._
    assert(DuckDbProcess.catalystType("MAP(VARCHAR, INTEGER)") ==
      MapType(StringType, IntegerType, valueContainsNull = true))
    // the key/value types may themselves carry commas and parens
    assert(DuckDbProcess.catalystType("MAP(INTEGER, DECIMAL(2,1)[])") ==
      MapType(IntegerType, ArrayType(DecimalType(2, 1),
        containsNull = true), valueContainsNull = true))
    assert(DuckDbProcess.catalystType(
      "MAP(VARCHAR, STRUCT(k INTEGER, v VARCHAR))") ==
      MapType(StringType, StructType(Seq(StructField("k", IntegerType),
        StructField("v", StringType))), valueContainsNull = true))
    // a map nested INSIDE a struct rides the struct-field parser
    assert(DuckDbProcess.catalystType(
      "STRUCT(m MAP(VARCHAR, BIGINT), n INTEGER)") ==
      StructType(Seq(
        StructField("m", MapType(StringType, LongType,
          valueContainsNull = true)),
        StructField("n", IntegerType))))
    assert(DuckDbProcess.catalystType("ENUM('sad', 'ok', 'happy')") ==
      StringType)
    assert(DuckDbProcess.catalystType("UTINYINT") == ShortType)
    assert(DuckDbProcess.catalystType("USMALLINT") == IntegerType)
    assert(DuckDbProcess.catalystType("UINTEGER") == LongType)
    assert(DuckDbProcess.catalystType("UBIGINT") == DecimalType(20, 0))
    assert(DuckDbProcess.catalystType("UUID") == StringType)
    assert(DuckDbProcess.catalystType("TIME") == StringType)
    assert(DuckDbProcess.catalystType("TIMESTAMP WITH TIME ZONE") ==
      TimestampType)
  }

  test("native MAP values cross the wire: typed keys, null values, " +
      "empty and NULL maps") {
    Federation.install(spark)
    val e = ex
    val ref = RemoteTableRef.parse("map_wire_probe")
    e.runDdl(ref, Seq(
      "DROP TABLE IF EXISTS map_wire_probe",
      """CREATE TABLE map_wire_probe AS SELECT * FROM (VALUES
        |  (1, MAP {'a': 10, 'b': 20}, MAP {7: 'x'}),
        |  (2, MAP {'only': NULL}, MAP(CAST([] AS INT[]),
        |      CAST([] AS VARCHAR[]))),
        |  (3, NULL, NULL)) AS t(id, m, ik)""".stripMargin))
    val df = Federation.remoteDataFrame(spark, "map_wire_probe", e)
    assert(df.schema("m").dataType ==
      org.apache.spark.sql.types.MapType(
        org.apache.spark.sql.types.StringType,
        org.apache.spark.sql.types.IntegerType, valueContainsNull = true))
    val got = df.orderBy("id").collect()
    assert(got(0).getMap[String, Int](1) == Map("a" -> 10, "b" -> 20))
    // non-VARCHAR keys keep their wire type through the parallel-list form
    assert(got(0).getMap[Int, String](2) == Map(7 -> "x"))
    val withNull = got(1).getMap[String, Any](1)
    assert(withNull.keySet == Set("only") && withNull("only") == null)
    assert(got(1).getMap[Int, String](2).isEmpty)
    assert(got(2).isNullAt(1) && got(2).isNullAt(2))
  }

  test("declared map schema over a JSON text column decodes at the " +
      "boundary (string→map cast, live wire)") {
    import org.apache.spark.sql.types._
    Federation.install(spark)
    val e = ex
    val ref = RemoteTableRef.parse("json_map_probe")
    e.runDdl(ref, Seq(
      "DROP TABLE IF EXISTS json_map_probe",
      """CREATE TABLE json_map_probe AS SELECT * FROM (VALUES
        |  (1, to_json(MAP {'x': 100, 'y': 200})),
        |  (2, NULL)) AS t(id, kv)""".stripMargin))
    assert(e.tableSchema(ref)("kv").dataType == StringType)
    val declared = StructType(Seq(
      StructField("id", IntegerType),
      StructField("kv", MapType(StringType, LongType))))
    val got = Federation
      .remoteDataFrameAs(spark, "json_map_probe", e, declared)
      .orderBy("id").collect()
    assert(got(0).getMap[String, Long](1) == Map("x" -> 100L, "y" -> 200L))
    assert(got(1).isNullAt(1))
  }

  test("insertInto round-trips array / struct / map through Arrow") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    Federation.install(spark)
    val e = ex
    val ref = RemoteTableRef.parse("nested_write_probe")
    val schema = StructType(Seq(
      StructField("id", IntegerType),
      StructField("xs", ArrayType(IntegerType)),
      StructField("st", StructType(Seq(
        StructField("a", StringType), StructField("b", LongType)))),
      StructField("kv", MapType(StringType, LongType))))
    e.createTable(ref, schema)
    // the DDL mapping must have produced native nested engine types
    assert(e.tableSchema(ref)("xs").dataType ==
      ArrayType(IntegerType, containsNull = true))
    assert(e.tableSchema(ref)("kv").dataType ==
      MapType(StringType, LongType, valueContainsNull = true))
    val rows = Seq(
      Row(1, Seq(1, 2, 3), Row("x", 10L), Map("k1" -> 1L, "k2" -> 2L)),
      Row(2, Seq.empty[Int], Row(null, 0L), Map.empty[String, Long]),
      Row(3, null, null, null))
    e.insertInto(ref, spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 2), schema))
    val got = Federation.remoteDataFrame(spark, "nested_write_probe", e)
      .orderBy("id").collect()
    assert(got(0).getSeq[Int](1) == Seq(1, 2, 3))
    assert(got(0).getStruct(2).getString(0) == "x")
    assert(got(0).getStruct(2).getLong(1) == 10L)
    assert(got(0).getMap[String, Long](3) == Map("k1" -> 1L, "k2" -> 2L))
    assert(got(1).getSeq[Int](1).isEmpty)
    assert(got(1).getStruct(2).isNullAt(0))
    assert(got(1).getMap[String, Long](3).isEmpty)
    assert(got(2).isNullAt(1) && got(2).isNullAt(2) && got(2).isNullAt(3))
  }

  test("two DuckDB instances: fragments never mix, both participate") {
    def contextsIn(
        p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
        : Set[String] =
      p.collect {
        case r: graft.federation.plans.RemoteRelation =>
          Set(r.executor.computeContext.get)
        case f: graft.federation.plans.FederatedPlan =>
          contextsIn(f.inner) ++
            f.bindJoins.flatMap(b => contextsIn(b.buildPlan))
      }.flatten.toSet
    graft.federation.duckdb.DuckDbHarness.registerViews(spark, dir)
    graft.federation.duckdb.DuckDbHarness.registerViewsB(spark, dir)
    val df = spark.sql(
      """SELECT n_name, COUNT(*) AS n
        |FROM duck_supplier JOIN duck2_nation ON s_nationkey = n_nationkey
        |GROUP BY n_name ORDER BY n_name""".stripMargin)
    val plan = df.queryExecution.optimizedPlan
    val frags = plan.collect {
      case f: graft.federation.plans.FederatedPlan => f
    }
    assert(frags.nonEmpty)
    // the compute-context invariant: a fragment's SCAN side is one
    // instance only — a merge would send instance-B names to instance A
    frags.foreach { f =>
      assert(contextsIn(f.inner).size == 1,
        s"fragment mixes DuckDB instances: ${contextsIn(f.inner)}\n$plan")
    }
    // both instances participate — B as its own fragment or as a bind
    // build executed on B and inlined into A's SQL
    assert(frags.flatMap(f => contextsIn(f)).toSet.size == 2,
      s"expected both instances:\n$plan")
    val want = spark.sql(
      s"""SELECT n_name, COUNT(*) AS n
         |FROM parquet.`$dir/supplier.parquet`
         |JOIN parquet.`$dir/nation.parquet` ON s_nationkey = n_nationkey
         |GROUP BY n_name ORDER BY n_name""".stripMargin).collect().toSeq
    assert(df.collect().toSeq == want)
  }

  test("nested-value wire fuzz: random struct/list/map compositions " +
      "cross the boundary bit-exactly") {
    // Differential oracle for the nested wire: a random TYPE TREE is
    // rendered as a DuckDB literal (crosses the subprocess wire) AND as
    // the equivalent Spark SQL literal (never leaves the JVM); the
    // collected rows must be identical. Exercises the type parser and
    // the Arrow wire's nested vectors on shapes no hand-written spec
    // enumerates. FP kept out (textual round-trip is a separate
    // concern); DECIMAL/DATE/BOOL/VARCHAR/INT/BIGINT in.
    import scala.util.Random
    Federation.install(spark)
    val e = ex
    val r = new Random(sys.env.get("GRAFT_FUZZ_SEED").map(_.toLong)
      .getOrElse(20260815L) + 505L)

    sealed trait Ty
    case object TInt extends Ty
    case object TLong extends Ty
    case object TBool extends Ty
    case object TStr extends Ty
    case object TDate extends Ty
    case class TDec(p: Int, s: Int) extends Ty
    case class TList(e: Ty) extends Ty
    case class TStruct(fs: Seq[(String, Ty)]) extends Ty
    case class TMap(v: Ty) extends Ty // VARCHAR keys

    def genTy(depth: Int): Ty = {
      val scalar = r.nextInt(6) match {
        case 0 => TInt
        case 1 => TLong
        case 2 => TBool
        case 3 => TStr
        case 4 => TDate
        case 5 => TDec(2 + r.nextInt(8), r.nextInt(3))
      }
      if (depth == 0 || r.nextInt(3) == 0) scalar
      else r.nextInt(3) match {
        case 0 => TList(genTy(depth - 1))
        case 1 => TStruct((0 until 1 + r.nextInt(3)).map(i =>
          s"f$i" -> genTy(depth - 1)))
        case 2 => TMap(genTy(depth - 1))
      }
    }
    def duckTy(t: Ty): String = t match {
      case TInt => "INTEGER"
      case TLong => "BIGINT"
      case TBool => "BOOLEAN"
      case TStr => "VARCHAR"
      case TDate => "DATE"
      case TDec(p, s) => s"DECIMAL($p,$s)"
      case TList(el) => s"${duckTy(el)}[]"
      case TStruct(fs) =>
        fs.map { case (n, f) => s"$n ${duckTy(f)}" }
          .mkString("STRUCT(", ", ", ")")
      case TMap(v) => s"MAP(VARCHAR, ${duckTy(v)})"
    }
    def sparkTy(t: Ty): String = t match {
      case TInt => "INT"
      case TLong => "BIGINT"
      case TBool => "BOOLEAN"
      case TStr => "STRING"
      case TDate => "DATE"
      case TDec(p, s) => s"DECIMAL($p,$s)"
      case TList(el) => s"ARRAY<${sparkTy(el)}>"
      case TStruct(fs) =>
        fs.map { case (n, f) => s"$n: ${sparkTy(f)}" }
          .mkString("STRUCT<", ", ", ">")
      case TMap(v) => s"MAP<STRING, ${sparkTy(v)}>"
    }
    // one random value of type t, rendered for both engines
    def genVal(t: Ty, depth: Int): (String, String) = {
      if (r.nextInt(6) == 0)
        return (s"CAST(NULL AS ${duckTy(t)})", s"CAST(NULL AS ${sparkTy(t)})")
      t match {
        case TInt =>
          val v = r.nextInt(2000) - 1000
          (s"CAST($v AS INTEGER)", s"CAST($v AS INT)")
        case TLong =>
          val v = r.nextLong() % 1000000000000L
          (s"CAST($v AS BIGINT)", s"CAST($v AS BIGINT)")
        case TBool =>
          val v = r.nextBoolean()
          (v.toString, v.toString)
        case TStr =>
          val alphabet = "abXY 7Ωé'_%"
          val s0 = (0 until r.nextInt(8))
            .map(_ => alphabet(r.nextInt(alphabet.length))).mkString
          val esc = s0.replace("'", "''")
          (s"'$esc'", s"'$esc'")
        case TDate =>
          val d = java.time.LocalDate.of(1990 + r.nextInt(60),
            1 + r.nextInt(12), 1 + r.nextInt(28))
          (s"DATE '$d'", s"DATE '$d'")
        case TDec(p, s) =>
          // keep one digit short of the integral-digit cap; p == s means
          // NO integral digits (0.xx only)
          val intDigits = p - s - 1
          val ip = if (intDigits <= 0) 0L
            else math.abs(r.nextLong()) % math.pow(10, intDigits).toLong
          val fp = (math.abs(r.nextLong()) % math.pow(10, s).toLong)
          val lit = if (s == 0) s"$ip"
            else s"$ip.${fp.toString.reverse.padTo(s, '0').reverse}"
          (s"CAST($lit AS DECIMAL($p,$s))", s"CAST($lit AS DECIMAL($p,$s))")
        case TList(el) =>
          val n = r.nextInt(4)
          if (n == 0)
            (s"CAST([] AS ${duckTy(t)})", s"CAST(array() AS ${sparkTy(t)})")
          else {
            val vs = (0 until n).map(_ => genVal(el, depth - 1))
            (vs.map(_._1).mkString("[", ", ", "]"),
              vs.map(_._2).mkString("array(", ", ", ")"))
          }
        case TStruct(fs) =>
          val vs = fs.map { case (n, f) => n -> genVal(f, depth - 1) }
          (vs.map { case (n, v) => s"'$n': ${v._1}" }
            .mkString("{", ", ", "}"),
            vs.map { case (n, v) => s"'$n', ${v._2}" }
              .mkString("named_struct(", ", ", ")"))
        case TMap(v) =>
          val n = r.nextInt(4)
          if (n == 0)
            (s"MAP(CAST([] AS VARCHAR[]), CAST([] AS ${duckTy(v)}[]))",
              s"CAST(map() AS ${sparkTy(t)})")
          else {
            val ks = (0 until n).map(i => s"k$i${r.nextInt(10)}").distinct
            val vs = ks.map(_ => genVal(v, depth - 1))
            (ks.zip(vs).map { case (k, w) => s"'$k': ${w._1}" }
              .mkString("MAP {", ", ", "}"),
              ks.zip(vs).flatMap { case (k, w) => Seq(s"'$k'", w._2) }
                .mkString("map(", ", ", ")"))
          }
      }
    }

    val total = 40
    (1 to total).foreach { i =>
      val ty = genTy(2 + r.nextInt(2))
      val rows = (0 until 1 + r.nextInt(3)).map(j => (j, genVal(ty, 3)))
      val ref = RemoteTableRef.parse("nested_fuzz_probe")
      e.runDdl(ref, Seq(
        "DROP TABLE IF EXISTS nested_fuzz_probe",
        s"""CREATE TABLE nested_fuzz_probe AS ${rows.map { case (j, v) =>
          s"SELECT $j AS id, ${v._1} AS v" }.mkString(" UNION ALL ")}"""))
      val got = Federation
        .remoteDataFrame(spark, "nested_fuzz_probe", e)
        .orderBy("id").collect().map(_.toString).toSeq
      val want = spark.sql(rows.map { case (j, v) =>
        s"SELECT $j AS id, ${v._2} AS v" }.mkString(" UNION ALL "))
        .orderBy("id").collect().map(_.toString).toSeq
      assert(got == want,
        s"nested wire #$i type=${duckTy(ty)}\nduck: ${rows.map(_._2._1)}\n" +
          s"spark: ${rows.map(_._2._2)}\ngot  $got\nwant $want")
    }
  }

  test("UUID / TIME / TIMESTAMPTZ / unsigned / ENUM values cross the " +
      "wire (before the conv fix, uuid and time crashed the JSON " +
      "encoder)") {
    Federation.install(spark)
    val e = ex
    val ref = RemoteTableRef.parse("wide_wire_probe")
    e.runDdl(ref, Seq(
      "DROP TABLE IF EXISTS wide_wire_probe",
      "DROP TYPE IF EXISTS wire_probe_enum",
      "CREATE TYPE wire_probe_enum AS ENUM ('lo', 'hi')",
      """CREATE TABLE wide_wire_probe AS SELECT
        |  1 AS id,
        |  CAST(md5('k') AS UUID) AS uid,
        |  TIMESTAMPTZ '2024-06-01 10:30:00+02' AS tz,
        |  TIME '23:59:58' AS tm,
        |  CAST(250 AS UTINYINT) AS u8,
        |  CAST(65000 AS USMALLINT) AS u16,
        |  CAST(4000000000 AS UINTEGER) AS u32,
        |  CAST(9223372036854775807 AS UBIGINT)
        |    + CAST(5 AS UBIGINT) AS u64,
        |  CAST('hi' AS wire_probe_enum) AS mood""".stripMargin))
    val got = Federation.remoteDataFrame(spark, "wide_wire_probe", e)
      .collect().head
    // deterministic md5-derived UUID, canonical lowercase text form
    assert(got.getString(1).length == 36 && got.getString(1).count(_ == '-') == 4)
    // +02 offset normalizes to the 08:30 UTC instant
    assert(got.getTimestamp(2).toInstant ==
      java.time.Instant.parse("2024-06-01T08:30:00Z"))
    assert(got.getString(3) == "23:59:58")
    assert(got.getShort(4) == 250.toShort)
    assert(got.getInt(5) == 65000)
    assert(got.getLong(6) == 4000000000L)
    assert(got.getDecimal(7).compareTo(
      new java.math.BigDecimal("9223372036854775812")) == 0)
    assert(got.getString(8) == "hi")
    // TIME WITH TIME ZONE, top-level or nested: DuckDB exports it without
    // its UTC offset, so the read fails and names the type; '12:34:56'
    // never reaches a row. Columns beside it still read.
    e.runDdl(RemoteTableRef.parse("timetz_wire_probe"), Seq(
      "DROP TABLE IF EXISTS timetz_wire_probe",
      "CREATE TABLE timetz_wire_probe AS SELECT 1 AS id, " +
        "TIMETZ '12:34:56+02' AS ttz, [TIMETZ '01:00:00+01'] AS ttzs"))
    val ttz = Federation.remoteDataFrame(spark, "timetz_wire_probe", e)
    for (c <- Seq("ttz", "ttzs")) {
      var err: Throwable = intercept[Throwable](ttz.select(c).collect())
      val msg = new StringBuilder
      while (err != null) { msg.append(err.getMessage).append(' '); err = err.getCause }
      assert(msg.toString.contains("TIME WITH TIME ZONE cannot cross"), msg)
    }
    assert(ttz.select("id").collect().head.getInt(0) == 1)
  }

  test("INTERVAL columns cross the live wire losslessly (the client's " +
      "native timedelta collapses months to 30-day blocks)") {
    Federation.install(spark)
    val e = ex
    e.runDdl(RemoteTableRef.parse("iv_wire_probe"), Seq(
      "DROP TABLE IF EXISTS iv_wire_probe",
      """CREATE TABLE iv_wire_probe AS SELECT * FROM (VALUES
        |  (1, INTERVAL '1' MONTH),
        |  (2, INTERVAL '2 years 3 months'),
        |  (3, INTERVAL '30' DAY),
        |  (4, NULL)) t(id, iv)""".stripMargin))
    val got = Federation.remoteDataFrame(spark, "iv_wire_probe", e)
      .orderBy("id").collect()
    import org.apache.spark.unsafe.types.CalendarInterval
    // 1 month vs 30 days MUST stay distinct — the timedelta path equated them
    assert(got(0).get(1) == new CalendarInterval(1, 0, 0L))
    assert(got(1).get(1) == new CalendarInterval(27, 0, 0L))
    assert(got(2).get(1) == new CalendarInterval(0, 30, 0L))
    assert(got(3).isNullAt(1))
  }

  test("pushed ORDER BY survives the INTERVAL text wrap: hoistable tails " +
      "move outside the wrap, alias-qualified tails keep engine order") {
    val e = ex
    e.runDdl(RemoteTableRef.parse("iv_order_probe"), Seq(
      "DROP TABLE IF EXISTS iv_order_probe",
      "CREATE TABLE iv_order_probe AS SELECT range AS id, " +
        "to_days(CAST(range AS INT)) AS iv FROM range(1, 1001)"))
    // output-name sort key over a result with an INTERVAL column
    val rows = e.runQuery(
      "SELECT id, iv FROM iv_order_probe ORDER BY id DESC")
    assert(rows.map(_.getLong(0)) == (1000L to 1L by -1L))
    // alias-qualified sort key DROPPED from the output — every one of the
    // 1000 rows must arrive in order
    val rows2 = e.runQuery(
      "SELECT t1.iv AS iv FROM iv_order_probe t1 ORDER BY t1.id DESC")
    val expect = (1000 to 1 by -1).map(d =>
      new org.apache.spark.unsafe.types.CalendarInterval(0, d, 0L))
    assert(rows2.map(_.get(0)) == expect)
  }

  test("ORDER BY a declared interval column sorts the INTERVAL, not its " +
      "text rendering (r12 hoist rebind defect: ids 9,8,7 instead of " +
      "15,14,13)") {
    import org.apache.spark.sql.types._
    import org.apache.spark.sql.functions.col
    Federation.install(spark)
    val e = ex
    e.runDdl(RemoteTableRef.parse("iv_sort_probe"), Seq(
      "DROP TABLE IF EXISTS iv_sort_probe",
      "CREATE TABLE iv_sort_probe AS SELECT range AS id, " +
        "to_days(CAST(range AS INT)) AS dt FROM range(1, 16)"))
    val declared = StructType(Seq(
      StructField("id", LongType),
      StructField("dt", DayTimeIntervalType())))
    def table = Federation
      .remoteDataFrameAs(spark, "iv_sort_probe", e, declared)
    // aliased interval sort key + remote LIMIT: sorting the interval's
    // text instead of the interval would return text-ordered rows
    // ('9 days' > '15 days')
    val top3 = table.select(col("id"), col("dt").as("dt2"))
      .orderBy(col("dt2").desc).limit(3).collect().map(_.getLong(0)).toSeq
    assert(top3 == Seq(15L, 14L, 13L), s"text-ordered rows leaked: $top3")
    // ascending + no limit: the FULL stream must arrive interval-ordered
    val asc = table.select(col("id"), col("dt").as("dt2"))
      .orderBy(col("dt2")).collect().map(_.getLong(0)).toSeq
    assert(asc == (1L to 15L), s"wrong full ordering: $asc")
    // non-interval sort key with an interval column in the output still
    // hoists (the fast path): correct rows AND correct order
    val byId = table.select(col("id"), col("dt").as("dt2"))
      .orderBy(col("id").desc).limit(2).collect().map(_.getLong(0)).toSeq
    assert(byId == Seq(15L, 14L))
  }

  test("declared-interval ORDER BY/LIMIT fuzz: 40 shapes over both ANSI " +
      "interval types keep engine order == Spark order") {
    import org.apache.spark.sql.types._
    import org.apache.spark.sql.functions.col
    Federation.install(spark)
    val e = ex
    e.runDdl(RemoteTableRef.parse("iv_fuzz_probe"), Seq(
      "DROP TABLE IF EXISTS iv_fuzz_probe",
      // dt mixes day and sub-day parts so text order diverges hard from
      // duration order; ym is months-only (the YearMonth contract)
      "CREATE TABLE iv_fuzz_probe AS SELECT range AS id, " +
        "to_days(CAST(range % 20 AS INT)) + " +
        "to_hours(CAST((range * 7) % 24 AS INT)) AS dt, " +
        "to_months(CAST((range * 13) % 37 AS INT)) AS ym " +
        "FROM range(1, 101)"))
    val declared = StructType(Seq(
      StructField("id", LongType),
      StructField("dt", DayTimeIntervalType()),
      StructField("ym", YearMonthIntervalType())))
    // local oracle: the duration each row's interval denotes
    def dtDur(id: Long): Long = (id % 20) * 24 + (id * 7) % 24 // hours
    def ymDur(id: Long): Long = (id * 13) % 37                 // months
    val r = new scala.util.Random(20260816L)
    (1 to 40).foreach { i =>
      val (key, dur) =
        if (r.nextBoolean()) ("dt", dtDur _) else ("ym", ymDur _)
      val desc = r.nextBoolean()
      val alias = r.nextBoolean()
      val limit = if (r.nextBoolean()) Some(1 + r.nextInt(10)) else None
      val base = Federation
        .remoteDataFrameAs(spark, "iv_fuzz_probe", e, declared)
      val projected =
        if (alias) base.select(col("id"), col(key).as("k"))
        else base.select(col("id"), col(key))
      val sortCol = if (alias) col("k") else col(key)
      val sorted = projected.orderBy(if (desc) sortCol.desc else sortCol,
        col("id")) // id tiebreak: duration keys collide across rows
      val df = limit.fold(sorted)(sorted.limit)
      val got = df.collect().map(_.getLong(0)).toSeq
      val full = (1L to 100L).sortBy(id =>
        (if (desc) -dur(id) else dur(id), id))
      val want = limit.fold(full)(full.take)
      assert(got == want,
        s"shape #$i key=$key desc=$desc alias=$alias limit=$limit\n" +
          s"got $got\nwant $want")
    }
  }

  test("declared ANSI interval schema narrows strictly at the wire " +
      "(reference intervals_cast.rs:11-75)") {
    import org.apache.spark.sql.types._
    Federation.install(spark)
    val e = ex
    e.runDdl(RemoteTableRef.parse("iv_declared_probe"), Seq(
      "DROP TABLE IF EXISTS iv_declared_probe",
      """CREATE TABLE iv_declared_probe AS SELECT * FROM (VALUES
        |  (1, to_months(5), to_days(2) + to_hours(3)),
        |  (2, to_years(1) + to_months(1), to_seconds(90))) t(id, ym, dt)""".stripMargin))
    val declared = StructType(Seq(
      StructField("id", IntegerType),
      StructField("ym", YearMonthIntervalType()),
      StructField("dt", DayTimeIntervalType())))
    val rows = Federation
      .remoteDataFrameAs(spark, "iv_declared_probe", e, declared)
      .selectExpr("id",
        "CAST(extract(YEAR FROM ym) * 12 + extract(MONTH FROM ym) AS INT) AS m",
        "CAST(extract(DAY FROM dt) * 86400 + extract(HOUR FROM dt) * 3600 " +
          "+ extract(MINUTE FROM dt) * 60 " +
          "+ CAST(extract(SECOND FROM dt) AS BIGINT) AS BIGINT) AS secs")
      .orderBy("id").collect()
    assert(rows(0).getInt(1) == 5 && rows(0).getLong(2) == 2 * 86400L + 3 * 3600L)
    assert(rows(1).getInt(1) == 13 && rows(1).getLong(2) == 90L)
  }

  test("impossible interval narrowing fails LOUD, never silently drops " +
      "components (live error-path probe)") {
    import org.apache.spark.sql.types._
    Federation.install(spark)
    val e = ex
    e.runDdl(RemoteTableRef.parse("iv_mixed_probe"), Seq(
      "DROP TABLE IF EXISTS iv_mixed_probe",
      """CREATE TABLE iv_mixed_probe AS
        |SELECT 1 AS id, to_months(1) + to_days(2) AS mixed""".stripMargin))
    def messageOf(t: Throwable): String = {
      var c: Throwable = t
      val sb = new StringBuilder
      while (c != null) { sb.append(c.getMessage).append(' '); c = c.getCause }
      sb.toString
    }
    val asYm = intercept[Throwable] {
      Federation.remoteDataFrameAs(spark, "iv_mixed_probe", e,
        StructType(Seq(StructField("id", IntegerType),
          StructField("mixed", YearMonthIntervalType())))).collect()
    }
    assert(messageOf(asYm).contains("YEAR TO MONTH"))
    val asDt = intercept[Throwable] {
      Federation.remoteDataFrameAs(spark, "iv_mixed_probe", e,
        StructType(Seq(StructField("id", IntegerType),
          StructField("mixed", DayTimeIntervalType())))).collect()
    }
    assert(messageOf(asDt).contains("DAY TO SECOND"))
  }

  test("empty insertInto is a clean no-op: zero rows staged, target " +
      "unchanged, no staging leftovers") {
    import org.apache.spark.sql.types._
    Federation.install(spark)
    val e = ex
    val ref = RemoteTableRef.parse("empty_write_probe")
    val schema = StructType(Seq(
      StructField("id", IntegerType), StructField("v", StringType)))
    e.createTable(ref, schema)
    e.insertInto(ref, spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema))
    assert(e.runQuery("SELECT COUNT(*) FROM empty_write_probe")
      .head.getLong(0) == 0L)
    // a second, non-empty insert still lands (the empty pass poisoned
    // nothing)
    import spark.implicits._
    e.insertInto(ref, Seq((1, "a")).toDF("id", "v"))
    assert(e.runQuery("SELECT COUNT(*) FROM empty_write_probe")
      .head.getLong(0) == 1L)
    assert(!e.tableNames.exists(_.contains("__stg_")), "staging leftovers")
  }

  test("vacuum drops orphaned staging tables of crashed writes, sparing " +
      "in-flight staging, bind tables (unless asserted idle) and user " +
      "tables") {
    val e = ex
    val oldStamp = java.lang.Long.toHexString(
      System.currentTimeMillis() - 7200000L) // a write that died 2h ago
    val newStamp = java.lang.Long.toHexString(System.currentTimeMillis())
    val orphan = s"emp__stg_${oldStamp}7_0"
    val fresh = s"emp__stg_${newStamp}8_0" // another process, in flight
    e.runWrite(Seq(
      s"CREATE TABLE $orphan AS SELECT 1 AS x",
      s"CREATE TABLE $fresh AS SELECT 1 AS x",
      "CREATE TABLE graft_bind_dead AS SELECT 1 AS x",
      "CREATE TABLE audit__stg_history AS SELECT 1 AS x"))
    try {
      val dropped = Federation.vacuum(e)
      assert(dropped.toSet == Set(orphan), s"dropped $dropped")
      // bind tables carry no timestamp: only the explicit idle assertion
      // may take them
      val dropped2 = Federation.vacuum(e, includeBindTables = true)
      assert(dropped2.toSet == Set("graft_bind_dead"), s"dropped $dropped2")
      val all = DuckDbProcess.tables(e.dbPath)
      assert(all.contains(fresh), "in-flight staging table must survive")
      assert(all.contains("audit__stg_history"), "user table must survive")
    } finally e.runWrite(Seq(
      s"DROP TABLE IF EXISTS $fresh",
      "DROP TABLE IF EXISTS audit__stg_history"))
  }

  test("staging-artifact filter is anchored: a user table merely " +
      "containing __stg_ still enumerates") {
    import graft.federation.sql.SqlExecutor
    assert(SqlExecutor.isStagingArtifact("emp__stg_18f3a2b4c127_0"))
    assert(SqlExecutor.isStagingArtifact("graft_bind_0a1b"))
    assert(!SqlExecutor.isStagingArtifact("audit__stg_history"))
    assert(!SqlExecutor.isStagingArtifact("my__stg_2024_notes"))
    val e = ex
    e.runDdl(RemoteTableRef.parse("user__stg_keeper"), Seq(
      "DROP TABLE IF EXISTS user__stg_keeper",
      "CREATE TABLE user__stg_keeper AS SELECT 1 AS id"))
    assert(e.tableNames.contains("user__stg_keeper"))
    e.runDdl(RemoteTableRef.parse("user__stg_keeper"),
      Seq("DROP TABLE user__stg_keeper"))
  }

  test("large NOT IN build side ships ONCE as a subquery CTE, not inlined " +
      "into each of the three decomposed NOT EXISTS probes") {
    Federation.install(spark)
    DuckDbHarness.registerViews(spark, dir)
    import spark.implicits._
    // nullable build column keeps Catalyst's anti join null-aware; a
    // ~100-row inline VALUES makes the build text large enough that
    // triple inlining would blow up the statement
    (1L to 100L).map(i => Some(i * 3)).toDF("k")
      .createOrReplaceTempView("big_notin_dim")
    val e = ex
    val before = e.executedSql.size
    val df = spark.sql(
      """SELECT c_custkey FROM duck_customer
        |WHERE c_custkey NOT IN (SELECT k FROM big_notin_dim)
        |ORDER BY c_custkey""".stripMargin)
    val got = df.collect().map(_.getLong(0)).toSeq
    val expect = spark.sql(
      "SELECT c_custkey FROM parquet.`" + dir + "/customer.parquet` " +
        "WHERE c_custkey NOT IN (SELECT k FROM big_notin_dim) " +
        "ORDER BY c_custkey").collect().map(_.getLong(0)).toSeq
    assert(got == expect)
    val shipped = e.executedSql.drop(before).filter(_.contains("NOT EXISTS"))
    assert(shipped.nonEmpty, "no decomposed anti join shipped")
    val sql = shipped.head
    assert(sql.contains("WITH "), s"expected a CTE build:\n$sql")
    // the VALUES literal appears exactly once (in the CTE body)
    assert("VALUES".r.findAllIn(sql).size == 1,
      s"build side inlined more than once:\n$sql")
  }

  test("interval arithmetic federates whole: ts ± INTERVAL executes on " +
      "the live engine as native interval addition") {
    Federation.install(spark)
    DuckDbHarness.registerViews(spark, dir)
    val df = spark.sql(
      """SELECT o_orderkey, o_orderdate + INTERVAL '2' MONTH AS m2,
        |  o_orderdate - INTERVAL '36' HOUR AS h36
        |FROM duck_orders WHERE o_orderkey <= 100
        |ORDER BY o_orderkey""".stripMargin)
    val scans = remoteScans(df)
    assert(scans.size == 1, s"expected one remote scan: $scans")
    assert(scans.head.contains("INTERVAL '2' MONTH") &&
      scans.head.contains("INTERVAL '-129600.000000' SECOND"), scans.head)
    val local = spark.sql(
      """SELECT o_orderkey, o_orderdate + INTERVAL '2' MONTH AS m2,
        |  o_orderdate - INTERVAL '36' HOUR AS h36
        |FROM parquet.`""".stripMargin + dir + """/orders.parquet`
        |WHERE o_orderkey <= 100 ORDER BY o_orderkey""".stripMargin)
    assert(df.collect().toSeq == local.collect().toSeq)
  }

  test("RANGE frame with interval offsets federates: value-based frame " +
      "over a timestamp key executes on the live engine") {
    Federation.install(spark)
    DuckDbHarness.registerViews(spark, dir)
    val sql =
      """SELECT o_orderkey,
        |  COUNT(*) OVER (ORDER BY o_orderdate
        |    RANGE BETWEEN INTERVAL '30' DAY PRECEDING AND CURRENT ROW) AS c
        |FROM %s WHERE o_orderkey <= 200
        |ORDER BY o_orderkey""".stripMargin
    val df = spark.sql(sql.format("duck_orders"))
    val scans = remoteScans(df)
    assert(scans.size == 1, s"expected one remote scan: $scans")
    assert(scans.head.contains("RANGE BETWEEN INTERVAL"), scans.head)
    val local = spark.sql(
      sql.format("parquet.`" + dir + "/orders.parquet`"))
    assert(df.collect().toSeq == local.collect().toSeq)
  }

  test("schema drift, retype: column ALTERed to text after registration " +
      "fails LOUD (was: silent zeros)") {
    Federation.install(spark)
    val e = ex
    e.runDdl(RemoteTableRef.parse("drift_retype_duck"), Seq(
      "DROP TABLE IF EXISTS drift_retype_duck",
      "CREATE TABLE drift_retype_duck AS SELECT 1 AS id, 10 AS v"))
    val df = Federation.remoteDataFrame(spark, "drift_retype_duck", e)
    assert(df.collect().head.getInt(1) == 10)
    // live ALTER between registration and execution — the real user
    // failure mode; bypasses runDdl so the registered schema stays stale
    e.runWrite(Seq("ALTER TABLE drift_retype_duck ALTER v TYPE VARCHAR"))
    val err = intercept[Throwable] { df.collect() }
    def msgs(t: Throwable): String = {
      var c: Throwable = t; val sb = new StringBuilder
      while (c != null) { sb.append(c.getMessage).append(' '); c = c.getCause }
      sb.toString
    }
    assert(msgs(err).contains("remote schema drift"))
    assert(msgs(err).contains("'v'"))
  }

  test("schema drift, retype: a ZERO-ROW response still fails loud — the " +
      "guard anchors on the desc line, not the first row") {
    Federation.install(spark)
    val e = ex
    e.runDdl(RemoteTableRef.parse("drift_zero_duck"), Seq(
      "DROP TABLE IF EXISTS drift_zero_duck",
      "CREATE TABLE drift_zero_duck AS SELECT 1 AS id, 10 AS v"))
    val df = Federation.remoteDataFrame(spark, "drift_zero_duck", e)
      .where("id > 1000") // remote predicate: the fragment returns 0 rows
    assert(df.collect().isEmpty)
    e.runWrite(Seq("ALTER TABLE drift_zero_duck ALTER v TYPE VARCHAR"))
    val err = intercept[Throwable] { df.collect() }
    def msgs(t: Throwable): String = {
      var c: Throwable = t; val sb = new StringBuilder
      while (c != null) { sb.append(c.getMessage).append(' '); c = c.getCause }
      sb.toString
    }
    assert(msgs(err).contains("remote schema drift"), msgs(err))
    assert(msgs(err).contains("'v'"), msgs(err))
  }

  test("schema drift, column added: invisible (fragments select explicit " +
      "columns, never *)") {
    Federation.install(spark)
    val e = ex
    e.runDdl(RemoteTableRef.parse("drift_add_duck"), Seq(
      "DROP TABLE IF EXISTS drift_add_duck",
      "CREATE TABLE drift_add_duck AS SELECT 1 AS id, 10 AS v"))
    val df = Federation.remoteDataFrame(spark, "drift_add_duck", e)
    e.runWrite(Seq("ALTER TABLE drift_add_duck ADD COLUMN extra VARCHAR"))
    val got = df.collect()
    assert(got.length == 1 && got.head.getInt(1) == 10)
  }

  test("schema drift, column dropped: the engine's own binder fails the " +
      "fragment loudly") {
    Federation.install(spark)
    val e = ex
    e.runDdl(RemoteTableRef.parse("drift_drop_duck"), Seq(
      "DROP TABLE IF EXISTS drift_drop_duck",
      "CREATE TABLE drift_drop_duck AS SELECT 1 AS id, 10 AS v"))
    val df = Federation.remoteDataFrame(spark, "drift_drop_duck", e)
    e.runWrite(Seq("ALTER TABLE drift_drop_duck DROP COLUMN v"))
    val err = intercept[Throwable] { df.collect() }
    def msgs(t: Throwable): String = {
      var c: Throwable = t; val sb = new StringBuilder
      while (c != null) { sb.append(c.getMessage).append(' '); c = c.getCause }
      sb.toString
    }
    assert(msgs(err).toLowerCase.contains("duckdb error"))
  }

  test("nested INTERVAL (inside list/struct) crosses the wire " +
      "losslessly — months stay months") {
    import org.apache.spark.unsafe.types.CalendarInterval
    val row = ex.runQuery(
      "SELECT [to_months(3)] AS ivs, {'iv': to_months(3)} AS st").head
    assert(row.getSeq[CalendarInterval](0) ==
      Seq(new CalendarInterval(3, 0, 0L)))
    assert(row.getStruct(1).get(0) == new CalendarInterval(3, 0, 0L))
  }

  // ---------------------------------------------- DSv2 TableCatalog

  test("DSv2 catalog: 3-part names resolve with no registration and " +
      "federate as ONE remote fragment") {
    Federation.registerCatalog(spark, "duckcat", Seq(ex))
    val df = spark.sql(
      """SELECT n.n_name, COUNT(*) AS n_cust
        |FROM duckcat.main.customer c
        |JOIN duckcat.main.nation n ON c.c_nationkey = n.n_nationkey
        |GROUP BY n.n_name ORDER BY n.n_name""".stripMargin)
    val scans = remoteScans(df)
    assert(scans.size == 1, s"expected one remote scan:\n$scans")
    val want = rows(spark.sql(
      s"""SELECT n.n_name, COUNT(*) AS n_cust
         |FROM parquet.`$dir/customer.parquet` c
         |JOIN parquet.`$dir/nation.parquet` n
         |  ON c.c_nationkey = n.n_nationkey
         |GROUP BY n.n_name ORDER BY n.n_name""".stripMargin))
    assert(rows(df) == want)
  }

  test("DSv2 catalog: SHOW TABLES lists the remote catalog; USE works") {
    Federation.registerCatalog(spark, "duckcat", Seq(ex))
    val names = spark.sql("SHOW TABLES IN duckcat")
      .collect().map(_.getString(1)).toSet
    // superset: sibling tests plant probe tables in the shared engine
    assert(DuckDbHarness.GateTables.toSet.subsetOf(names), names)
    assert(!names.exists(graft.federation.sql.SqlExecutor.isStagingArtifact),
      s"staging artifacts must never enumerate: $names")
    try {
      spark.sql("USE duckcat")
      val n = spark.sql("SELECT COUNT(*) AS n FROM region")
        .collect().head.getLong(0)
      assert(n == 5L)
    } finally spark.sql("USE spark_catalog.default")
  }

  test("DSv2 catalog: identifiers resolve case-insensitively under " +
      "Spark's default analysis (honoring spark.sql.caseSensitive)") {
    Federation.registerCatalog(spark, "duckcat", Seq(ex))
    // the remote lists lowercase 'region'; default analysis must match
    val n = spark.sql("SELECT COUNT(*) AS n FROM duckcat.main.REGION")
      .collect().head.getLong(0)
    assert(n == 5L)
    assert(spark.sql("SELECT r_name FROM duckcat.main.Region LIMIT 1")
      .collect().nonEmpty)
    // the wire SQL must address the engine's ACTUAL spelling, and the
    // fragment still federates (same path as the exact-case name)
    val df = spark.sql(
      "SELECT COUNT(*) AS n FROM duckcat.main.NATION WHERE n_regionkey = 0")
    assert(df.collect().head.getLong(0) == 5L)
    assert(remoteScans(df).size == 1)
    // with case-sensitive analysis ON, the wrong-case name must refuse
    spark.conf.set("spark.sql.caseSensitive", "true")
    try intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql("SELECT COUNT(*) FROM duckcat.main.REGION").collect()
    } finally spark.conf.set("spark.sql.caseSensitive", "false")
  }

  test("DSv2 catalog: engine schemas list and resolve as namespaces " +
      "(SHOW TABLES IN duckcat.analytics; reference schema.rs:16-46)") {
    val e = ex
    Federation.registerCatalog(spark, "duckcat", Seq(e))
    e.runWrite(Seq(
      "CREATE SCHEMA IF NOT EXISTS analytics",
      "DROP TABLE IF EXISTS analytics.daily_rollup",
      "CREATE TABLE analytics.daily_rollup AS " +
        "SELECT range AS day_id, range * 10 AS clicks FROM range(0, 7)"))
    e.invalidateCaches() // the schema was planted behind the listings
    val namespaces = spark.sql("SHOW NAMESPACES IN duckcat")
      .collect().map(_.getString(0)).toSet
    assert(namespaces.contains("main") && namespaces.contains("analytics"),
      namespaces)
    val listed = spark.sql("SHOW TABLES IN duckcat.analytics")
      .collect().map(_.getString(1)).toSet
    assert(listed == Set("daily_rollup"), listed)
    // asked-case spelling: the LISTING must fold to the engine's actual
    // schema spelling too (tableNames is an exact information_schema
    // match — the r13 ADVICE defect returned an empty listing here)
    val listedUpper = spark.sql("SHOW TABLES IN duckcat.ANALYTICS")
      .collect().map(_.getString(1)).toSet
    assert(listedUpper == Set("daily_rollup"), s"asked-case listing: $listedUpper")
    assert(spark.sql("SELECT COUNT(*) AS n FROM duckcat.ANALYTICS.daily_rollup")
      .collect().head.getLong(0) == 7L)
    // resolution + federation through the explicit schema, case-folded
    val df = spark.sql(
      "SELECT SUM(clicks) AS s FROM duckcat.analytics.DAILY_ROLLUP " +
        "WHERE day_id < 5")
    assert(df.collect().head.getLong(0) == 100L)
    assert(remoteScans(df).size == 1)
    // an unknown schema still refuses loudly
    intercept[Exception] {
      spark.sql("SHOW TABLES IN duckcat.no_such_schema").collect()
    }
  }

  test("DSv2 catalog: table-FUNCTION identifiers resolve and federate " +
      "(reference table_reference.rs:47-92 through the catalog)") {
    Federation.registerCatalog(spark, "duckcat", Seq(ex))
    // schema probes through DESCRIBE of the table-function select; the
    // ref's args survive into the wire SQL and the filter pushes down
    val df = spark.sql(
      "SELECT range AS r FROM duckcat.main.`range(6)` WHERE range >= 2")
    assert(df.collect().map(_.getLong(0)).sorted.toSeq == Seq(2L, 3L, 4L, 5L))
    val scans = remoteScans(df)
    assert(scans.size == 1 && scans.head.contains("range(6)"),
      s"table args lost through the catalog:\n$scans")
    // generate_series with two args, joined against a plain catalog table
    val joined = spark.sql(
      """SELECT COUNT(*) AS n FROM duckcat.main.`generate_series(0, 4)` g
        |JOIN duckcat.main.region r ON g.generate_series = r.r_regionkey"""
        .stripMargin)
    assert(joined.collect().head.getLong(0) == 5L)
    assert(remoteScans(joined).size == 1,
      "fn ref + plain table of one engine must share a fragment")
    // unknown function still refuses loudly
    intercept[Exception] {
      spark.sql("SELECT * FROM duckcat.main.`no_such_fn(1)`").collect()
    }
  }

  test("DSv2 catalog: REFRESH TABLE re-probes ONE table; sibling caches " +
      "stay warm (r12 nuked every executor cache)") {
    val e = ex
    Federation.registerCatalog(spark, "duckcat", Seq(e))
    e.runDdl(RemoteTableRef.parse("refresh_t1"), Seq(
      "DROP TABLE IF EXISTS refresh_t1",
      "CREATE TABLE refresh_t1 AS SELECT 1 AS a"))
    e.runDdl(RemoteTableRef.parse("refresh_t2"), Seq(
      "DROP TABLE IF EXISTS refresh_t2",
      "CREATE TABLE refresh_t2 AS SELECT 2 AS b"))
    // warm both schema caches through the catalog
    assert(spark.table("duckcat.main.refresh_t1").schema.fieldNames
      .toSeq == Seq("a"))
    assert(spark.table("duckcat.main.refresh_t2").schema.fieldNames
      .toSeq == Seq("b"))
    // mutate BOTH tables behind the caches (raw wire, no invalidation)
    DuckDbProcess.exec(e.dbPath, Seq(
      "ALTER TABLE refresh_t1 ADD COLUMN extra1 INTEGER",
      "ALTER TABLE refresh_t2 ADD COLUMN extra2 INTEGER"))
    spark.sql("REFRESH TABLE duckcat.main.refresh_t1")
    // t1 re-probed fresh; t2's cache must still be warm (stale by design)
    assert(spark.table("duckcat.main.refresh_t1").schema.fieldNames
      .toSeq == Seq("a", "extra1"))
    assert(spark.table("duckcat.main.refresh_t2").schema.fieldNames
      .toSeq == Seq("b"),
      "REFRESH of t1 must not flush t2's schema cache")
    spark.sql("REFRESH TABLE duckcat.main.refresh_t2")
    assert(spark.table("duckcat.main.refresh_t2").schema.fieldNames
      .toSeq == Seq("b", "extra2"))
    e.runWrite(Seq("DROP TABLE IF EXISTS refresh_t1",
      "DROP TABLE IF EXISTS refresh_t2"))
    e.invalidateCaches()
  }

  test("DSv2 catalog: schema inference is lazy and touches only the " +
      "queried table") {
    val probes = scala.collection.mutable.ArrayBuffer.empty[String]
    val e = ex
    val counting = new graft.federation.sql.SqlExecutor {
      override def name = e.name
      override def computeContext = e.computeContext
      override def dialect = e.dialect
      override def execute(sql: String,
          schema: org.apache.spark.sql.types.StructType) =
        e.execute(sql, schema)
      override def queryRows[A](sql: String,
          schema: org.apache.spark.sql.types.StructType)(
          consume: Iterator[org.apache.spark.sql.catalyst.InternalRow] => A) =
        e.queryRows(sql, schema)(consume)
      override def tableNames = e.tableNames
      override def tableSchema(ref: RemoteTableRef) = {
        probes.synchronized { probes += ref.toString }
        e.tableSchema(ref)
      }
    }
    Federation.registerCatalog(spark, "lazycat", Seq(counting))
    assert(probes.isEmpty, s"registration must not probe schemas: $probes")
    val n = spark.sql("SELECT COUNT(*) AS n FROM lazycat.main.region")
      .collect().head.getLong(0)
    assert(n == 5L)
    assert(probes.toSet == Set("region"),
      s"only the queried table may be probed: $probes")
  }

  test("DSv2 catalog: executors chain first-match-wins, later executors " +
      "fill tables the first lacks") {
    import org.apache.spark.sql.connector.catalog.{Identifier, TableCatalog}
    val mock = graft.federation.FederationHarness.executor(spark, dir, "gamma")
    Federation.registerCatalog(spark, "chaincat", Seq(ex, mock))
    val cat = spark.sessionState.catalogManager.catalog("chaincat")
      .asInstanceOf[TableCatalog]
    // customer exists in both engines: the FIRST executor owns it
    val c = cat.loadTable(Identifier.of(Array("main"), "customer"))
      .asInstanceOf[graft.federation.RemoteCatalogTable]
    assert(c.executor eq ex)
    // part exists only in the mock: the chain falls through to it
    val p = cat.loadTable(Identifier.of(Array.empty[String], "part"))
      .asInstanceOf[graft.federation.RemoteCatalogTable]
    assert(p.executor eq mock)
    val n = spark.sql("SELECT COUNT(*) AS n FROM chaincat.part")
      .collect().head.getLong(0)
    val want = spark.read.parquet(s"$dir/part.parquet").count()
    assert(n == want)
  }

  test("DSv2 catalog: reads prune columns and push predicates into the " +
      "wire SQL (same federation path as registered views)") {
    Federation.registerCatalog(spark, "duckcat", Seq(ex))
    val e = ex
    val before = e.executedSql.size
    val df = spark.sql(
      """SELECT o_orderkey FROM duckcat.main.orders
        |WHERE o_orderkey <= 50 ORDER BY o_orderkey""".stripMargin)
    val got = df.collect().map(_.getLong(0)).toSeq
    val want = spark.read.parquet(s"$dir/orders.parquet")
      .where("o_orderkey <= 50").select("o_orderkey")
      .collect().map(_.getLong(0)).toSeq.sorted
    assert(got == want)
    val shipped = e.executedSql.synchronized {
      e.executedSql.drop(before).filter(_.contains("orders")) }
    assert(shipped.nonEmpty, "no wire SQL recorded")
    val s = shipped.head
    assert(s.contains("o_orderkey") && s.contains("<= 50"), s)
    assert(!s.contains("o_comment") && !s.contains("o_totalprice"),
      s"column pruning must reach the remote SELECT list:\n$s")
  }

  test("DSv2 catalog: catalog tables and registered views of the same " +
      "executor federate into one fragment together") {
    Federation.registerCatalog(spark, "duckcat", Seq(ex))
    DuckDbHarness.registerViews(spark, dir)
    val df = spark.sql(
      """SELECT o.o_orderstatus, COUNT(*) AS n
        |FROM duckcat.main.orders o
        |JOIN duck_customer c ON o.o_custkey = c.c_custkey
        |GROUP BY o.o_orderstatus ORDER BY o.o_orderstatus""".stripMargin)
    val scans = remoteScans(df)
    assert(scans.size == 1,
      s"catalog table + view must share a fragment:\n$scans")
    val want = rows(spark.sql(
      s"""SELECT o.o_orderstatus, COUNT(*) AS n
         |FROM parquet.`$dir/orders.parquet` o
         |JOIN parquet.`$dir/customer.parquet` c
         |  ON o.o_custkey = c.c_custkey
         |GROUP BY o.o_orderstatus ORDER BY o.o_orderstatus""".stripMargin))
    assert(rows(df) == want)
  }

  test("unsorted LIMIT over a splittable fragment truncates per cursor " +
      "and the local GlobalLimit takes the exact k") {
    Federation.install(spark)
    DuckDbHarness.registerViews(spark, dir)
    val e = ex
    val before = e.executedSql.size
    // the non-deterministic projection above the limit is local-only, so
    // the fragment boundary sits exactly at the LIMIT; the filter keeps
    // the projection from being pruned away
    val df = spark.table("duck_orders").select("o_orderkey").limit(250)
      .withColumn("rid",
        org.apache.spark.sql.functions.monotonically_increasing_id())
      .where("rid >= 0")
    val got = df.collect()
    assert(got.length == 250, s"exact k locally, got ${got.length}")
    val shipped = e.executedSql.synchronized {
      e.executedSql.drop(before)
        .filter(s => s.startsWith("SELECT") && s.contains("LIMIT 250")) }
    assert(shipped.size == DuckDbHarness.Splits,
      s"expected ${DuckDbHarness.Splits} per-cursor-limited splits:\n" +
        shipped.mkString("\n"))
    // every cursor carries BOTH a split predicate and its own truncation
    shipped.foreach { s =>
      assert(s.contains("WHERE") && s.contains("LIMIT 250"), s)
    }
    assert(df.queryExecution.executedPlan.toString.contains("GlobalLimit"),
      "the exact cut must be a local GlobalLimit")
    // sorted limits must NOT take this path: per-cursor truncation of an
    // ordered stream would need a local merge the plan doesn't do
    val sortedBefore = e.executedSql.size
    val sorted = spark.table("duck_orders").select("o_orderkey")
      .orderBy("o_orderkey").limit(7)
    assert(sorted.collect().map(_.getLong(0)).toSeq == (0L to 6L))
    val sortedShipped = e.executedSql.synchronized {
      e.executedSql.drop(sortedBefore).filter(_.contains("LIMIT 7")) }
    assert(sortedShipped.size == 1,
      s"ordered limit stays single-cursor:\n$sortedShipped")
    // a fully-pruned fragment rides the zero-column `SELECT 1` convention
    // — its single constant column must not trip the drift guard (found
    // by the fed_limit_split gate: count() over the limited fragment)
    val cnt = spark.table("duck_orders").limit(250).count()
    assert(cnt == 250)
    graft.federation.sql.SchemaDrift.check(Nil,
      Seq(("INTEGER", Some("numeric"))), "duck", "SELECT 1 FROM t")
  }

  test("ordered limit under a Project stays single-cursor exact top-k " +
      "(the SplitLimit invariant is owned, not borrowed from Catalyst " +
      "normalization)") {
    Federation.install(spark)
    DuckDbHarness.registerViews(spark, dir)
    val e = ex
    // kept sort key: orderBy().select(keeps key).limit(k)
    val b1 = e.executedSql.size
    val kept = spark.table("duck_orders")
      .orderBy("o_orderkey").select("o_orderkey", "o_orderstatus").limit(5)
    assert(kept.collect().map(_.getLong(0)).toSeq == (0L to 4L))
    val s1 = e.executedSql.synchronized {
      e.executedSql.drop(b1).filter(_.contains("LIMIT 5")) }
    assert(s1.size == 1, s"ordered limit split into cursors:\n$s1")
    // dropped sort key: orderBy(totalprice).select(other cols).limit(k) —
    // the Project prunes the key; the answer is still the global top-k
    val b2 = e.executedSql.size
    val dropped = spark.table("duck_orders")
      .orderBy(org.apache.spark.sql.functions.col("o_totalprice").desc,
        org.apache.spark.sql.functions.col("o_orderkey"))
      .select("o_orderkey").limit(6)
    val want = rows(spark.read.parquet(s"$dir/orders.parquet")
      .orderBy(org.apache.spark.sql.functions.col("o_totalprice").desc,
        org.apache.spark.sql.functions.col("o_orderkey"))
      .select("o_orderkey").limit(6))
    assert(rows(dropped) == want)
    val s2 = e.executedSql.synchronized {
      e.executedSql.drop(b2).filter(_.contains("LIMIT 6")) }
    assert(s2.size == 1, s"ordered limit split into cursors:\n$s2")
    // the invariant itself, on the EXACT dangerous shape the strategy
    // could see if Catalyst ever stops normalizing Project above limits:
    // GlobalLimit(LocalLimit(Project(Sort))) must NOT match SplitLimit —
    // pinned via the planner on a hand-built plan
    import org.apache.spark.sql.catalyst.expressions.{Literal, SortOrder, Ascending}
    import org.apache.spark.sql.catalyst.plans.logical._
    val rel = graft.federation.plans.RemoteRelation(
      graft.federation.sql.RemoteTableRef(Seq("orders")), e, None)
    val okey = rel.output.head
    val hidden = GlobalLimit(Literal(3), LocalLimit(Literal(3),
      Project(Seq(okey),
        Sort(Seq(SortOrder(okey, Ascending)), global = true, rel))))
    val planned = graft.federation.FederationStrategy(
      graft.federation.plans.FederatedPlan(hidden,
        graft.federation.sql.SqlFederationProvider.forExecutor(e)))
    val scan = planned.head.collect {
      case r: graft.federation.exec.RemoteScanExec => r }
    assert(scan.nonEmpty && scan.head.sqls.size == 1,
      s"hidden Sort under Project split into cursors:\n${planned.head}")
  }

  test("windowed fragment splits on its PARTITION key with the filter " +
      "injected BELOW the window: groups stay whole per cursor") {
    Federation.install(spark)
    DuckDbHarness.registerViews(spark, dir)
    val e = ex
    val before = e.executedSql.size
    val df = spark.sql(
      """SELECT o_custkey, o_orderkey FROM (
        |  SELECT o_custkey, o_orderkey,
        |    ROW_NUMBER() OVER (PARTITION BY o_custkey
        |      ORDER BY o_totalprice DESC, o_orderkey) AS rn
        |  FROM duck_orders) t WHERE rn <= 2""".stripMargin)
    val got = df.collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    val want = spark.sql(
      s"""SELECT o_custkey, o_orderkey FROM (
         |  SELECT o_custkey, o_orderkey,
         |    ROW_NUMBER() OVER (PARTITION BY o_custkey
         |      ORDER BY o_totalprice DESC, o_orderkey) AS rn
         |  FROM parquet.`$dir/orders.parquet`) t WHERE rn <= 2"""
        .stripMargin).collect().map(r => (r.getLong(0), r.getLong(1)))
      .sorted.toSeq
    assert(got == want)
    val shipped = e.executedSql.synchronized {
      e.executedSql.drop(before)
        .filter(s => s.contains("row_number") && s.startsWith("SELECT")) }
    assert(shipped.size == DuckDbHarness.Splits,
      s"windowed fragment must fan out ${DuckDbHarness.Splits} cursors:\n" +
        shipped.mkString("\n"))
    // the split predicate sits INSIDE the windowed derived table — the
    // injected-below proof: `FROM orders AS t1 WHERE …` within the inner
    // block (probed: the engine would NOT push an outer wrap through the
    // window, so each cursor would otherwise recompute the full window)
    shipped.foreach { s =>
      assert(s.contains("FROM orders AS t1 WHERE"), s)
    }
    // order-sensitive shapes refuse: a sorted windowed fragment stays ONE
    // cursor so the SQL-level ORDER BY guarantee survives
    val before2 = e.executedSql.size
    val sorted = spark.sql(
      """SELECT o_custkey, o_orderkey FROM (
        |  SELECT o_custkey, o_orderkey,
        |    ROW_NUMBER() OVER (PARTITION BY o_custkey
        |      ORDER BY o_totalprice DESC, o_orderkey) AS rn
        |  FROM duck_orders) t WHERE rn = 1
        |ORDER BY o_custkey LIMIT 20""".stripMargin).collect()
    assert(sorted.length == 20)
    val shipped2 = e.executedSql.synchronized {
      e.executedSql.drop(before2).filter(_.contains("row_number")) }
    assert(shipped2.size == 1,
      s"sorted windowed fragment must stay single-cursor:\n$shipped2")
  }

  test("window split chooses its PARTITION key stats-informed and the " +
      "cursors balance (r12 picked the first integral key blind)") {
    Federation.install(spark)
    val e = ex
    val N = 120000L
    // grp_few: 3 values (a modulo-4 split leaves a cursor empty and the
    // rest 30x skewed); grp_many: dense — the right split key. Column
    // order puts grp_few first so the old first-candidate pick is wrong.
    e.runDdl(RemoteTableRef.parse("win_skew"), Seq(
      "DROP TABLE IF EXISTS win_skew",
      s"CREATE TABLE win_skew AS SELECT range AS id, " +
        s"CAST(range % 3 AS INT) AS grp_few, " +
        s"CAST(range % 24001 AS INT) AS grp_many, " +
        s"CAST(range % 7 AS INT) AS v FROM range($N)"))
    Federation.registerRemoteTable(spark, "duck_win_skew", "win_skew", e)
    spark.conf.set("spark.sql.cbo.enabled", "true")
    try {
      val before = e.executedSql.size
      val df = spark.sql(
        """SELECT id, SUM(v) OVER (PARTITION BY grp_few, grp_many) AS w
          |FROM duck_win_skew""".stripMargin)
      val got = df.collect().map(r => (r.getLong(0), r.getLong(1))).sorted
      // local oracle from the same formulas
      val local = spark.range(N).selectExpr("id",
          "CAST(id % 3 AS INT) AS grp_few",
          "CAST(id % 24001 AS INT) AS grp_many", "CAST(id % 7 AS INT) AS v")
        .selectExpr("id",
          "SUM(v) OVER (PARTITION BY grp_few, grp_many) AS w")
        .collect().map(r => (r.getLong(0), r.getLong(1))).sorted
      assert(got.toSeq == local.toSeq)
      val splits = e.executedSql.synchronized {
        e.executedSql.drop(before).filter(s =>
          s.contains("win_skew") && s.contains("sum") && s.contains("WHERE")) }
      assert(splits.size == DuckDbHarness.Splits,
        s"windowed fragment must fan out:\n${splits.mkString("\n")}")
      // the split filter keys on the DENSE partition column
      assert(splits.forall(_.contains("grp_many")),
        s"stats-informed choice must pick grp_many:\n${splits.head}")
      assert(!splits.head.substring(splits.head.indexOf("WHERE"))
        .contains("grp_few"),
        s"split filter must not key on the 3-value column:\n${splits.head}")
      // balance: run each shipped split SQL as a remote COUNT
      val counts = splits.map(s =>
        e.runQuery(s"SELECT COUNT(*) FROM ($s) c").head.getLong(0))
      assert(counts.sum == N, counts.toString)
      val mean = counts.sum.toDouble / counts.size
      assert(counts.forall(_ <= 2 * mean),
        s"unbalanced window-split cursors $counts (mean $mean)")
      // CBO OFF (the default gate configuration): plan.stats carries no
      // column stats, so the chooser must fall back to the executor's
      // own bounded ndv probes through the RemoteRelation leaf — at
      // 100 TB this is the path that actually runs
      spark.conf.set("spark.sql.cbo.enabled", "false")
      val before2 = e.executedSql.size
      spark.sql(
        """SELECT id, SUM(v) OVER (PARTITION BY grp_few, grp_many) AS w
          |FROM duck_win_skew""".stripMargin).collect()
      val splits2 = e.executedSql.synchronized {
        e.executedSql.drop(before2).filter(s =>
          s.contains("win_skew") && s.contains("sum") && s.contains("WHERE")) }
      assert(splits2.nonEmpty &&
        splits2.forall(_.contains("grp_many")) &&
        !splits2.head.substring(splits2.head.indexOf("WHERE"))
          .contains("grp_few"),
        s"CBO-off chooser must use executor ndv:\n${splits2.headOption}")
    } finally {
      spark.conf.set("spark.sql.cbo.enabled", "false")
      e.runWrite(Seq("DROP TABLE IF EXISTS win_skew"))
      e.invalidateCaches()
    }
  }

  // ------------------------------------------- streaming federated source

  private def fedSourceStream(catalog: String, table: String,
      cursor: String, step: Option[Int] = None) = {
    val rd = spark.readStream
      .format("graft-fed")
      .option("catalog", catalog)
      .option("table", table)
      .option("cursor", cursor)
    step.fold(rd)(s => rd.option("cursorStep", s.toString)).load()
  }

  test("streaming fed source: incremental cursor ingestion from the live " +
      "engine, exactly-once across a checkpoint restart") {
    val e = ex
    Federation.registerCatalog(spark, "srccat", Seq(e))
    e.runDdl(RemoteTableRef.parse("stream_src_probe"), Seq(
      "DROP TABLE IF EXISTS stream_src_probe",
      "CREATE TABLE stream_src_probe (id BIGINT, v VARCHAR)"))
    def insert(lo: Int, hi: Int): Unit = e.runWrite(Seq(
      s"INSERT INTO stream_src_probe SELECT range, 'v' || range " +
        s"FROM range($lo, ${hi + 1})"))
    val ckpt = java.nio.file.Files.createTempDirectory("fed_src_ck").toString
    // foreachBatch: the memory sink refuses checkpoint RECOVERY, and the
    // restart leg is the point of this test
    def start(into: scala.collection.mutable.ArrayBuffer[Long]) =
      fedSourceStream("srccat", "stream_src_probe", "id")
        .writeStream
        .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
          val ids = df.select("id").collect().map(_.getLong(0))
          into.synchronized { into ++= ids }
          ()
        }
        // a breathing trigger: with the default 0ms trigger the offset
        // probe polls the engine back-to-back and a concurrent writer
        // only wins the file lock through the connect-retry loop
        .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime(100))
        .option("checkpointLocation", ckpt).start()
    try {
      val got1 = scala.collection.mutable.ArrayBuffer.empty[Long]
      val q1 = start(got1)
      try {
        q1.processAllAvailable() // empty remote table: no batch, no rows
        assert(got1.isEmpty)
        insert(1, 100)
        q1.processAllAvailable()
        assert(got1.synchronized(got1.size) == 100)
        insert(101, 150) // live inserts while the query runs
        q1.processAllAvailable()
        val run1 = got1.synchronized(got1.sorted.toSeq)
        assert(run1 == (1L to 150L), s"run1 got ${run1.size} rows")
      } finally q1.stop()
      insert(151, 160) // arrives while the stream is DOWN
      val got2 = scala.collection.mutable.ArrayBuffer.empty[Long]
      val q2 = start(got2)
      try {
        q2.processAllAvailable()
        val run2 = got2.synchronized(got2.sorted.toSeq)
        assert(run2 == (151L to 160L),
          s"restart must deliver ONLY the delta, got $run2")
      } finally q2.stop()
    } finally
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(ckpt))
  }

  test("streaming fed source: a replayed batch ships the IDENTICAL cursor " +
      "range (re-delivery mirror of the sink's epoch fence)") {
    val e = ex
    Federation.registerCatalog(spark, "srccat", Seq(e))
    e.runDdl(RemoteTableRef.parse("redelivery_probe"), Seq(
      "DROP TABLE IF EXISTS redelivery_probe",
      "CREATE TABLE redelivery_probe AS " +
        "SELECT range AS id, 'x' AS v FROM range(1, 41)"))
    Federation.install(spark)
    import org.apache.spark.sql.connector.read.streaming.ReadLimit
    val src = new graft.streaming.FedMicroBatchStream(spark, e,
      RemoteTableRef.parse("redelivery_probe"), "id", None)
    val init = src.initialOffset()
    assert(init.json == "0", "initial offset = remote MIN - 1")
    val o1 = src.latestOffset(init, ReadLimit.allAvailable())
    assert(o1.json == "40")
    // fragment FETCHES only — the first batch also fires one-time
    // (cached) stats and split-boundary probes
    def shippedAfter(n: Int) = e.executedSql.synchronized {
      e.executedSql.drop(n).filter(s => s.contains("redelivery_probe") &&
        s.startsWith("SELECT t1.")) }
    val output = graft.federation.plans.RemoteRelation(
      RemoteTableRef.parse("redelivery_probe"), e, None).output
    def runBatch(lo: Option[Long], hi: Long): Unit =
      org.apache.spark.sql.GraftShims.ofRows(spark,
        src.rangePlan(output.map(_.newInstance()), lo, hi).transform {
          // batch-execute the microbatch's plan shape outside a streaming
          // query: drop the leaf's streaming flag for the harness
          case r: graft.federation.plans.RemoteRelation =>
            r.copy(isStreaming = false)
        }).collect()
    // crash between offset WAL and sink commit → the engine replans the
    // batch with the SAME offsets: the wire range must be identical
    val b0 = e.executedSql.size
    runBatch(Some(0L), 40L)
    val first = shippedAfter(b0)
    val b1 = e.executedSql.size
    runBatch(Some(0L), 40L)
    val replay = shippedAfter(b1)
    assert(first.nonEmpty && first == replay,
      s"replayed batch must ship identical SQL:\n$first\nvs\n$replay")
    assert(first.head.contains("<= 40"), first.head)
    // new remote rows move the offset; the next batch reads ONLY (40, 55]
    e.runWrite(Seq("INSERT INTO redelivery_probe " +
      "SELECT range, 'y' FROM range(41, 56)"))
    val o2 = src.latestOffset(o1, ReadLimit.allAvailable())
    assert(o2.json == "55")
    val b2 = e.executedSql.size
    runBatch(Some(40L), 55L)
    val delta = shippedAfter(b2)
    assert(delta.exists(s => s.contains("> 40") && s.contains("<= 55")),
      s"delta batch must carry the half-open range:\n$delta")
    // the ADVICE r12 restart defect, structurally impossible now: pacing
    // bases off the ENGINE-RESTORED offset — a fresh stream instance
    // (post-restart) given the committed offset must not move backward
    val restarted = new graft.streaming.FedMicroBatchStream(spark, e,
      RemoteTableRef.parse("redelivery_probe"), "id", Some(10L))
    val resumed = restarted.latestOffset(
      graft.streaming.FedOffset(55L), ReadLimit.allAvailable())
    assert(resumed.json == "55",
      s"paced restart at committed 55 must hold 55, got ${resumed.json}")
    val advance = restarted.latestOffset(
      graft.streaming.FedOffset(30L), ReadLimit.allAvailable())
    assert(advance.json == "40",
      s"paced advance from 30 by 10 caps at 40, got ${advance.json}")
  }

  test("streaming fed source: cursorStep paces the backfill into bounded " +
      "microbatches") {
    val e = ex
    Federation.registerCatalog(spark, "srccat", Seq(e))
    e.runDdl(RemoteTableRef.parse("paced_probe"), Seq(
      "DROP TABLE IF EXISTS paced_probe",
      "CREATE TABLE paced_probe AS " +
        "SELECT range AS id, 'x' AS v FROM range(1, 101)"))
    val ckpt = java.nio.file.Files.createTempDirectory("fed_pace_ck").toString
    val q = fedSourceStream("srccat", "paced_probe", "id", step = Some(30))
      .writeStream.outputMode("append").format("memory")
      .queryName("fed_src_paced").option("checkpointLocation", ckpt).start()
    try {
      q.processAllAvailable()
      assert(spark.table("fed_src_paced").count() == 100)
      // pacing proof from the offset log itself: batches whose source
      // offset ADVANCED (numInputRows does not flow through the
      // substituted federation plan — no MicroBatchScanExec to meter)
      val dataBatches = q.recentProgress.count(p =>
        p.sources.nonEmpty && p.sources.head.startOffset !=
          p.sources.head.endOffset)
      assert(dataBatches >= 3,
        s"a 100-row backfill at step 30 needs >= 3 data batches, " +
          s"saw $dataBatches")
    } finally {
      q.stop()
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(ckpt))
    }
  }

  test("streaming fed source: readStream.table through the DSv2 catalog " +
      "(no registry indirection) ingests incrementally") {
    val e = ex
    Federation.registerCatalog(spark, "duckcat", Seq(e))
    e.runDdl(RemoteTableRef.parse("cat_stream_probe"), Seq(
      "DROP TABLE IF EXISTS cat_stream_probe",
      "CREATE TABLE cat_stream_probe AS " +
        "SELECT range AS id, 'a' AS v FROM range(1, 21)"))
    val ckpt = java.nio.file.Files.createTempDirectory("fed_cat_ck").toString
    val q = spark.readStream
      .option("cursor", "id")
      .table("duckcat.main.cat_stream_probe")
      .writeStream.outputMode("append").format("memory")
      .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime(100))
      .queryName("fed_src_cat").option("checkpointLocation", ckpt).start()
    try {
      q.processAllAvailable()
      assert(spark.table("fed_src_cat").count() == 20)
      e.runWrite(Seq("INSERT INTO cat_stream_probe " +
        "SELECT range, 'b' FROM range(21, 26)"))
      q.processAllAvailable()
      val got = spark.table("fed_src_cat")
        .select("id").collect().map(_.getLong(0)).sorted.toSeq
      assert(got == (1L to 25L), s"got ${got.size} rows")
    } finally {
      q.stop()
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(ckpt))
    }
    // a streaming read without the cursor option refuses LOUDLY at start
    val err = intercept[Exception] {
      val q2 = spark.readStream.table("duckcat.main.cat_stream_probe")
        .writeStream.format("memory").queryName("fed_src_nocursor").start()
      try q2.processAllAvailable() finally q2.stop()
    }
    def messages(t: Throwable): String = {
      var c: Throwable = t; val sb = new StringBuilder
      while (c != null) { sb.append(c.getMessage).append(' '); c = c.getCause }
      sb.toString
    }
    assert(messages(err).contains("cursor"), messages(err))
  }

  test("streaming fed source: paced restart never re-reads committed " +
      "ranges (the r12 ADVICE offset-regression defect, end-to-end)") {
    val e = ex
    Federation.registerCatalog(spark, "srccat", Seq(e))
    e.runDdl(RemoteTableRef.parse("paced_restart_probe"), Seq(
      "DROP TABLE IF EXISTS paced_restart_probe",
      "CREATE TABLE paced_restart_probe AS " +
        "SELECT range AS id, 'x' AS v FROM range(1, 101)"))
    val ckpt = java.nio.file.Files.createTempDirectory("fed_prs_ck").toString
    // one buffer across BOTH runs: any offset regression after restart
    // shows up as a duplicate id
    val got = scala.collection.mutable.ArrayBuffer.empty[Long]
    def start() =
      fedSourceStream("srccat", "paced_restart_probe", "id", step = Some(30))
        .writeStream
        .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
          val ids = df.select("id").collect().map(_.getLong(0))
          got.synchronized { got ++= ids }
          ()
        }
        .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime(100))
        .option("checkpointLocation", ckpt).start()
    val q1 = start()
    try {
      q1.processAllAvailable() // full paced backfill commits through 100
    } finally q1.stop()
    assert(got.synchronized(got.sorted.toSeq) == (1L to 100L))
    e.runWrite(Seq("INSERT INTO paced_restart_probe " +
      "SELECT range, 'y' FROM range(101, 131)"))
    val q2 = start() // restart with cursorStep set: the V1 source's
    try {            // in-memory floor reset here and re-read (1, 100]
      q2.processAllAvailable()
      val all = got.synchronized(got.sorted.toSeq)
      assert(all == (1L to 130L),
        s"restart re-read committed ranges: ${all.size} rows, " +
          s"dupes=${all.groupBy(identity).filter(_._2.size > 1).keys.toSeq.sorted}")
    } finally {
      q2.stop()
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(ckpt))
    }
  }

  test("streaming fed source: cursorStep is validated up front (zero, " +
      "negative, non-numeric all refuse with the option named)") {
    val e = ex
    Federation.registerCatalog(spark, "srccat", Seq(e))
    Seq("0", "-5", "abc").foreach { bad =>
      val err = intercept[Exception] {
        spark.readStream.format("graft-fed")
          .option("catalog", "srccat").option("table", "orders")
          .option("cursor", "o_orderkey").option("cursorStep", bad)
          .load()
      }
      def messages(t: Throwable): String = {
        var c: Throwable = t; val sb = new StringBuilder
        while (c != null) { sb.append(c.getMessage).append(' '); c = c.getCause }
        sb.toString
      }
      assert(messages(err).contains("cursorStep"),
        s"'$bad' must refuse naming the option: ${messages(err)}")
    }
  }

  test("streaming fed source: a projected stream PRUNES the wire SELECT " +
      "list (the microbatch fragment is a normal federated fragment)") {
    val e = ex
    Federation.registerCatalog(spark, "srccat", Seq(e))
    e.runDdl(RemoteTableRef.parse("prune_stream_probe"), Seq(
      "DROP TABLE IF EXISTS prune_stream_probe",
      "CREATE TABLE prune_stream_probe AS SELECT range AS id, " +
        "'fat' || range AS fat_a, 'fat' || range AS fat_b FROM range(1, 31)"))
    val ckpt = java.nio.file.Files.createTempDirectory("fed_pr_ck").toString
    val before = e.executedSql.size
    val q = fedSourceStream("srccat", "prune_stream_probe", "id")
      .select("id") // the fat columns must never cross the wire
      .writeStream.outputMode("append").format("memory")
      .queryName("fed_src_prune").option("checkpointLocation", ckpt).start()
    try {
      q.processAllAvailable()
      assert(spark.table("fed_src_prune").count() == 30)
      val fetches = e.executedSql.synchronized {
        e.executedSql.drop(before).filter(s =>
          s.contains("prune_stream_probe") && s.contains("WHERE")) }
      assert(fetches.nonEmpty)
      fetches.foreach { s =>
        assert(!s.contains("fat_a") && !s.contains("fat_b"),
          s"unprojected columns crossed the wire:\n$s")
      }
    } finally {
      q.stop()
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(ckpt))
    }
  }

  test("streaming fed source: Trigger.AvailableNow drains a paced " +
      "backfill in bounded batches and terminates on its own") {
    val e = ex
    Federation.registerCatalog(spark, "srccat", Seq(e))
    e.runDdl(RemoteTableRef.parse("avail_now_probe"), Seq(
      "DROP TABLE IF EXISTS avail_now_probe",
      "CREATE TABLE avail_now_probe AS " +
        "SELECT range AS id, 'x' AS v FROM range(1, 101)"))
    val ckpt = java.nio.file.Files.createTempDirectory("fed_an_ck").toString
    val q = fedSourceStream("srccat", "avail_now_probe", "id",
        step = Some(30))
      .writeStream.outputMode("append").format("memory")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .queryName("fed_src_an").option("checkpointLocation", ckpt).start()
    try {
      // AvailableNow must terminate BY ITSELF once the frozen bound is
      // reached — a paced source without SupportsTriggerAvailableNow
      // would stop after ONE 30-unit batch (70 rows lost) or never stop
      assert(q.awaitTermination(120000), "AvailableNow did not terminate")
      val got = spark.table("fed_src_an")
        .select("id").collect().map(_.getLong(0)).sorted.toSeq
      assert(got == (1L to 100L), s"partial drain: ${got.size} rows")
      val advancing = q.recentProgress.count(p =>
        p.sources.nonEmpty && p.sources.head.startOffset !=
          p.sources.head.endOffset)
      assert(advancing >= 3,
        s"the drain must stay PACED (>= 3 advancing batches), saw $advancing")
    } finally {
      q.stop()
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(ckpt))
    }
  }

  test("streaming fed source: timestamp cursor columns work (offset = " +
      "epoch micros)") {
    val e = ex
    Federation.registerCatalog(spark, "srccat", Seq(e))
    e.runDdl(RemoteTableRef.parse("ts_src_probe"), Seq(
      "DROP TABLE IF EXISTS ts_src_probe",
      """CREATE TABLE ts_src_probe AS SELECT * FROM (VALUES
        |  (TIMESTAMP '2024-01-01 00:00:00', 1),
        |  (TIMESTAMP '2024-01-01 06:30:00', 2)) t(ts, v)""".stripMargin))
    val ckpt = java.nio.file.Files.createTempDirectory("fed_ts_ck").toString
    val q = fedSourceStream("srccat", "ts_src_probe", "ts")
      .writeStream.outputMode("append").format("memory")
      .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime(100))
      .queryName("fed_src_ts").option("checkpointLocation", ckpt).start()
    try {
      q.processAllAvailable()
      assert(spark.table("fed_src_ts").count() == 2)
      e.runWrite(Seq("INSERT INTO ts_src_probe VALUES " +
        "(TIMESTAMP '2024-01-02 12:00:00', 3)"))
      q.processAllAvailable()
      val got = spark.table("fed_src_ts")
        .select("v").collect().map(_.getInt(0)).sorted.toSeq
      assert(got == Seq(1, 2, 3))
    } finally {
      q.stop()
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(ckpt))
    }
  }

  test("streaming fed source: progress meters numInputRows (the scan is " +
      "StreamSourceAware — no MicroBatchScanExec survives federation)") {
    val e = ex
    Federation.registerCatalog(spark, "srccat", Seq(e))
    e.runDdl(RemoteTableRef.parse("meter_probe"), Seq(
      "DROP TABLE IF EXISTS meter_probe",
      "CREATE TABLE meter_probe AS " +
        "SELECT range AS id, 'x' AS v FROM range(1, 21)"))
    val ckpt = java.nio.file.Files.createTempDirectory("fed_mt_ck").toString
    val q = fedSourceStream("srccat", "meter_probe", "id")
      .writeStream.outputMode("append").format("memory")
      .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime(100))
      .queryName("fed_src_meter").option("checkpointLocation", ckpt).start()
    try {
      q.processAllAvailable()
      assert(spark.table("fed_src_meter").count() == 20)
      val metered = q.recentProgress.map(_.numInputRows).sum
      assert(metered == 20,
        s"numInputRows must meter the federated wire rows, got $metered " +
          s"(progress: ${q.recentProgress.map(_.numInputRows).toSeq})")
      e.runWrite(Seq("INSERT INTO meter_probe " +
        "SELECT range, 'y' FROM range(21, 31)"))
      q.processAllAvailable()
      val total = q.recentProgress.map(_.numInputRows).sum
      assert(total == 30, s"delta batch unmetered: $total")
    } finally {
      q.stop()
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(ckpt))
    }
  }

  test("streaming fed source: cursorHorizon reads to MAX - h, so equal-" +
      "cursor rows committed around a trigger boundary are never lost") {
    val e = ex
    Federation.registerCatalog(spark, "srccat", Seq(e))
    e.runDdl(RemoteTableRef.parse("tie_probe"), Seq(
      "DROP TABLE IF EXISTS tie_probe",
      "CREATE TABLE tie_probe (ts BIGINT, v VARCHAR)"))
    e.runWrite(Seq("INSERT INTO tie_probe " +
      "SELECT range, 'w' || range FROM range(1, 11)")) // ts 1..10
    val ckpt = java.nio.file.Files.createTempDirectory("fed_tie_ck").toString
    val q = spark.readStream.format("graft-fed")
      .option("catalog", "srccat").option("table", "tie_probe")
      .option("cursor", "ts").option("cursorHorizon", "3")
      .load()
      .writeStream.outputMode("append").format("memory")
      .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime(100))
      .queryName("fed_src_tie").option("checkpointLocation", ckpt).start()
    try {
      q.processAllAvailable()
      // the horizon holds back the head: only ts <= 10-3 committed
      val first = spark.table("fed_src_tie")
        .select("ts").collect().map(_.getLong(0)).sorted.toSeq
      assert(first == (1L to 7L), s"horizon must hold back the head: $first")
      // the tie-unsafe write: a second row AT the already-observed max —
      // without the horizon the first trigger would have committed
      // through 10 and this row would be silently lost forever
      e.runWrite(Seq("INSERT INTO tie_probe VALUES (10, 'late-tie')"))
      e.runWrite(Seq("INSERT INTO tie_probe " +
        "SELECT range, 'n' || range FROM range(11, 16)")) // head -> 15
      q.processAllAvailable()
      val rows = spark.table("fed_src_tie").collect()
        .map(r => (r.getLong(0), r.getString(1))).toSeq
      val ts = rows.map(_._1).sorted
      assert(ts == ((1L to 10L) ++ Seq(10L) ++ (11L to 12L)),
        s"readable is ts <= 15-3 with BOTH ts=10 rows exactly once: $ts")
      assert(rows.count(_._2 == "late-tie") == 1, rows.mkString(","))
      assert(rows.distinct.size == rows.size, s"duplicates: $rows")
    } finally {
      q.stop()
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(ckpt))
    }
  }

  test("streaming reads of a hooked catalog table apply its TableHooks — " +
      "microbatches AND cursor probes see the rewritten plan") {
    val e = ex
    // schema-preserving per-table rewrite: screen rows at the LEAF (the
    // hook receives the whole fragment plan, whose output may be an
    // aggregate's — wrap the table's relation, not the fragment). A
    // fragment may have PRUNED the screen column away (COUNT(*) reads
    // zero columns; the cursor probes read only the cursor): re-derive
    // it from a fresh full-schema leaf and project back to the pruned
    // attributes, keeping the fragment's output ids intact.
    val hooks = new graft.federation.sql.TableHooks(
      planRewriter = { p =>
        import org.apache.spark.sql.catalyst.expressions.{Alias, EqualTo, Literal}
        import org.apache.spark.sql.catalyst.plans.logical.{Filter, Project}
        p.transformUp {
          case r: graft.federation.plans.RemoteRelation
              if r.ref.parts.last == "hooked_stream_probe" =>
            r.output.find(_.name == "v") match {
              case Some(v) => Filter(EqualTo(v, Literal("keep")), r)
              case None =>
                val full = graft.federation.plans.RemoteRelation(
                  r.ref, r.executor)
                def fullCol(n: String) = full.output.find(_.name == n).get
                Project(r.output.map(a =>
                    Alias(fullCol(a.name), a.name)(exprId = a.exprId)),
                  Filter(EqualTo(fullCol("v"), Literal("keep")), full))
            }
        }
      }, name = "rowscreen")
    Federation.registerCatalog(spark, "hookcat", Seq(e),
      hooks = Map("hooked_stream_probe" -> hooks))
    e.runDdl(RemoteTableRef.parse("hooked_stream_probe"), Seq(
      "DROP TABLE IF EXISTS hooked_stream_probe",
      "CREATE TABLE hooked_stream_probe AS SELECT range AS id, " +
        "CASE WHEN range % 5 = 0 THEN 'drop' ELSE 'keep' END AS v " +
        "FROM range(1, 21)"))
    // batch read screens: 1..20 minus {5,10,15,20}
    assert(spark.table("hookcat.main.hooked_stream_probe").count() == 16)
    val ckpt = java.nio.file.Files.createTempDirectory("fed_hk_ck").toString
    val q = spark.readStream
      .option("cursor", "id")
      .table("hookcat.main.hooked_stream_probe")
      .writeStream.outputMode("append").format("memory")
      .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime(100))
      .queryName("fed_src_hooked").option("checkpointLocation", ckpt).start()
    try {
      q.processAllAvailable()
      val got1 = spark.table("fed_src_hooked")
        .select("id").collect().map(_.getLong(0)).sorted.toSeq
      assert(got1 == (1L to 20L).filterNot(_ % 5 == 0),
        s"streaming read must apply the same hook as batch: $got1")
      // probes see the HOOKED table too: a screened head row must not
      // advance the offset (id 21 is invisible; 22 arrives and is read)
      e.runWrite(Seq("INSERT INTO hooked_stream_probe VALUES (21, 'drop')"))
      q.processAllAvailable()
      assert(spark.table("fed_src_hooked").count() == 16,
        "a screened-out head row must not surface")
      e.runWrite(Seq("INSERT INTO hooked_stream_probe VALUES (22, 'keep')"))
      q.processAllAvailable()
      val got2 = spark.table("fed_src_hooked")
        .select("id").collect().map(_.getLong(0)).sorted.toSeq
      assert(got2 == ((1L to 20L).filterNot(_ % 5 == 0) :+ 22L),
        s"hook must screen the wire range as well: $got2")
    } finally {
      q.stop()
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(ckpt))
    }
  }

  test("streaming fed source: AvailableNow on a table EMPTY at prepare " +
      "freezes an explicit bound — a concurrent writer cannot unbound it") {
    val e = ex
    Federation.registerCatalog(spark, "srccat", Seq(e))
    e.runDdl(RemoteTableRef.parse("an_empty_probe"), Seq(
      "DROP TABLE IF EXISTS an_empty_probe",
      "CREATE TABLE an_empty_probe (id BIGINT, v VARCHAR)"))
    import org.apache.spark.sql.connector.read.streaming.ReadLimit
    val src = new graft.streaming.FedMicroBatchStream(spark, e,
      RemoteTableRef.parse("an_empty_probe"), "id", Some(10L))
    src.prepareForTriggerAvailableNow() // frozen while EMPTY
    e.runWrite(Seq("INSERT INTO an_empty_probe " +
      "SELECT range, 'x' FROM range(1, 101)")) // concurrent writer
    val init = src.initialOffset()
    val o = src.latestOffset(init, ReadLimit.allAvailable())
    assert(o.json == init.json,
      s"the frozen empty bound must not advance: ${init.json} -> ${o.json}")
    // end-to-end: AvailableNow over a STAYING-empty table terminates clean
    e.runDdl(RemoteTableRef.parse("an_empty2"), Seq(
      "DROP TABLE IF EXISTS an_empty2",
      "CREATE TABLE an_empty2 (id BIGINT, v VARCHAR)"))
    val ckpt = java.nio.file.Files.createTempDirectory("fed_ae_ck").toString
    val q = fedSourceStream("srccat", "an_empty2", "id", step = Some(10))
      .writeStream.outputMode("append").format("memory")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .queryName("fed_src_an_empty")
      .option("checkpointLocation", ckpt).start()
    try {
      assert(q.awaitTermination(120000),
        "AvailableNow on an empty table did not terminate")
      assert(spark.table("fed_src_an_empty").count() == 0)
    } finally {
      q.stop()
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(ckpt))
    }
  }

  test("streaming fed source: a cursor min at the BIGINT floor cannot " +
      "underflow the base offset — floor rows are read, not skipped") {
    val e = ex
    Federation.registerCatalog(spark, "srccat", Seq(e))
    e.runDdl(RemoteTableRef.parse("floor_probe"), Seq(
      "DROP TABLE IF EXISTS floor_probe",
      "CREATE TABLE floor_probe AS SELECT * FROM (VALUES " +
        "(CAST(-9223372036854775807 AS BIGINT) - 1, 'min'), " +
        "(CAST(-9223372036854775807 AS BIGINT), 'min+1'), " +
        "(CAST(0 AS BIGINT), 'zero')) t(id, v)"))
    import org.apache.spark.sql.connector.read.streaming.ReadLimit
    val src = new graft.streaming.FedMicroBatchStream(spark, e,
      RemoteTableRef.parse("floor_probe"), "id", None)
    val init = src.initialOffset()
    // MIN - 1 would wrap to Long.MaxValue (stream reads nothing, ever);
    // the base collapses to the no-lower-bound sentinel instead
    assert(init.json.toLong == Long.MinValue, init.json)
    assert(src.latestOffset(init, ReadLimit.allAvailable()).json == "0")
    val ckpt = java.nio.file.Files.createTempDirectory("fed_fl_ck").toString
    val q = fedSourceStream("srccat", "floor_probe", "id")
      .writeStream.outputMode("append").format("memory")
      .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime(100))
      .queryName("fed_src_floor").option("checkpointLocation", ckpt).start()
    try {
      q.processAllAvailable()
      val got = spark.table("fed_src_floor")
        .select("v").collect().map(_.getString(0)).sorted.toSeq
      assert(got == Seq("min", "min+1", "zero"), s"floor rows lost: $got")
    } finally {
      q.stop()
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(ckpt))
    }
  }

  test("pipe_web_corpus_fed: the portable screens execute INSIDE the " +
      "engine — wire SQL carries the length pre-screen + md5 dedup " +
      "window; the custom kernels stay local") {
    val e = ex
    val before = e.executedSql.synchronized(e.executedSql.size)
    val out = graft.operators.Federated.duckWebCorpusFed(spark, dir)
    val rows = out.collect()
    assert(rows.nonEmpty && rows.forall(_.getLong(1) <= rows.map(_.getLong(1)).max))
    val shipped = e.executedSql.synchronized(
      e.executedSql.drop(before).toList)
    val frag = shipped.filter(s =>
      s.contains("documents") && s.toLowerCase.contains("row_number"))
    assert(frag.size == 1,
      s"the dedup window must ship as ONE fragment:\n${shipped.mkString("\n")}")
    val sql = frag.head.toLowerCase
    assert(sql.contains("md5") && sql.contains("length") &&
      sql.contains("150") && sql.contains("1200"),
      s"the screens must ride the wire: $sql")
    // the non-portable screen kernels never appear remotely
    shipped.foreach(s => assert(
      !s.toLowerCase.contains("gopher") && !s.toLowerCase.contains("c4"),
      s"kernel leaked to the wire: $s"))
  }

  test("fed_ann_quantized: int8 quantization, exact integer dot " +
      "(zip_with + aggregate lambdas), non-equi self-join, top-k window " +
      "and final sort ALL execute inside the engine as ONE fragment; " +
      "rows equal the local quantizedTopK bit-for-bit") {
    val e = ex
    val before = e.executedSql.synchronized(e.executedSql.size)
    val fed = graft.operators.Federated.duckAnnQuantized(spark, dir)
    val fedRows = fed.collect().map(_.toString).toSeq
    val local = graft.operators.Similarity.quantizedTopK(spark, dir)
      .collect().map(_.toString).toSeq
    assert(fedRows.nonEmpty, "empty ANN result")
    assert(fedRows == local,
      s"federated != local quantizedTopK\nfed:   ${fedRows.take(3)}\n" +
        s"local: ${local.take(3)}")
    val shipped = e.executedSql.synchronized(
      e.executedSql.drop(before).toList)
    val frags = shipped.filter(_.toLowerCase.contains("list_transform"))
    assert(frags.nonEmpty, s"no lambda-bearing fragment shipped:\n" +
      shipped.mkString("\n"))
    assert(frags.map(_.toLowerCase).distinct.size == 1,
      s"quantization must ship as ONE fragment shape:\n${frags.mkString("\n")}")
    val sql = frags.head.toLowerCase
    assert(sql.contains("list_reduce") && sql.contains("list_prepend"),
      s"the integer dot must fold remotely: $sql")
    assert(sql.contains("row_number"), s"the top-k window must ship: $sql")
    assert(sql.contains("greatest("),
      s"the zip padding guard must ship: $sql")
    // nothing evaluates locally: above the remote scan there is no local
    // Window and no local higher-order eval (CodegenFallback) — judge the
    // NON-RemoteScan plan lines (the scan line carries the remote SQL,
    // which legitimately contains the lambda spellings)
    val plan = fed.queryExecution.executedPlan.toString()
    assert(remoteScans(fed).nonEmpty, s"no remote scan in:\n$plan")
    val localLines = plan.linesIterator
      .filterNot(_.contains("RemoteScan")).mkString("\n")
    assert(!localLines.contains("Window"),
      s"the rank window leaked to a local operator:\n$plan")
    assert(!localLines.contains("transform("),
      s"a lambda leaked to local eval:\n$plan")
  }

  test("Arrow wire round-trip: every column matches its closed form " +
      "(NaN/Inf, pre-1582 dates, nulls, blobs), across record batches") {
    Federation.install(spark)
    val base = ex
    base.runDdl(RemoteTableRef.parse("staged_probe"), Seq(
      "DROP TABLE IF EXISTS staged_probe",
      """CREATE TABLE staged_probe AS SELECT
        |  range AS id,
        |  CASE WHEN range % 7 = 0 THEN NULL ELSE 'v' || range END AS s,
        |  (range % 2 = 0) AS b,
        |  CAST(range % 120 AS TINYINT) AS i8,
        |  CAST(range * 3 AS SMALLINT) AS i16,
        |  CAST(range * 7 AS INTEGER) AS i32,
        |  CASE WHEN range % 11 = 0 THEN 'NaN'::DOUBLE
        |       WHEN range % 13 = 0 THEN 'Infinity'::DOUBLE
        |       WHEN range % 17 = 0 THEN '-Infinity'::DOUBLE
        |       ELSE range / 7.0 END AS d,
        |  CAST(range AS FLOAT) / 3 AS f,
        |  CAST(range / 100.0 AS DECIMAL(12,3)) AS dec,
        |  DATE '1500-01-03' + CAST(range AS INTEGER) AS dt,
        |  TIMESTAMP '1500-01-03 04:05:06' + INTERVAL (range) SECOND AS tsn,
        |  TIMESTAMPTZ '2024-06-01 12:00:00+00' + INTERVAL (range) MINUTE AS tsz,
        |  CASE WHEN range % 5 = 0 THEN NULL ELSE encode('b' || range) END AS bin
        |FROM range(500)""".stripMargin))
    val got = Federation.remoteDataFrame(spark, "staged_probe", base)
      .orderBy("id").collect()
    assert(got.length == 500)
    got.zipWithIndex.foreach { case (row, i) =>
      val r = i.toLong
      // NaN != NaN under ==: compare doubles and floats bitwise
      val d =
        if (r % 11 == 0) Double.NaN
        else if (r % 13 == 0) Double.PositiveInfinity
        else if (r % 17 == 0) Double.NegativeInfinity
        else r / 7.0
      val want = Seq[Any](
        r,
        if (r % 7 == 0) null else s"v$r",
        r % 2 == 0,
        (r % 120).toByte,
        (r * 3).toShort,
        (r * 7).toInt,
        java.lang.Double.doubleToLongBits(d),
        java.lang.Float.floatToIntBits(r.toFloat / 3f),
        java.math.BigDecimal.valueOf(r, 2).setScale(3),
        java.time.LocalDate.of(1500, 1, 3).plusDays(r).toString,
        java.time.LocalDateTime.of(1500, 1, 3, 4, 5, 6).plusSeconds(r),
        java.time.Instant.parse("2024-06-01T12:00:00Z").plusSeconds(60 * r),
        if (r % 5 == 0) null else s"b$r".getBytes("UTF-8").toSeq)
      val seen = row.toSeq.map {
        case x: Double => java.lang.Double.doubleToLongBits(x)
        case x: Float => java.lang.Float.floatToIntBits(x)
        case x: java.sql.Date => x.toString
        case x: java.sql.Timestamp => x.toInstant
        case x: Array[Byte] => x.toSeq
        case x => x
      }
      assert(seen == want, s"row $i:\n got =$seen\n want=$want")
    }
    // one result past fetchStageRows crosses record-batch boundaries,
    // through a task's read and through the driver-side read
    val n = base.fetchStageRows * 2L + 1234L
    val big = s"SELECT range AS id FROM range($n)"
    val ids = base.execute(big, org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id",
        org.apache.spark.sql.types.LongType))))
      .map(_.getLong(0)).collect()
    assert(ids.length == n && ids.sum == n * (n - 1) / 2)
    val driverIds = base.runQuery(big).map(_.getLong(0))
    assert(driverIds.length == n && driverIds.sum == n * (n - 1) / 2)
    // nested values ride the same stream
    base.runDdl(RemoteTableRef.parse("staged_probe_list"), Seq(
      "DROP TABLE IF EXISTS staged_probe_list",
      "CREATE TABLE staged_probe_list AS " +
        "SELECT range AS id, [range, range + 1] AS lst FROM range(200)"))
    val lst = Federation.remoteDataFrame(spark, "staged_probe_list", base)
      .collect()
    assert(lst.length == 200 &&
      lst.map(_.getSeq[Long](1).sum).sum == (0L until 200L).map(2 * _ + 1).sum)
  }

  test("DSv2 catalog: CREATE TABLE and DROP TABLE reach the remote " +
      "engine; unknown tables raise NoSuchTableException") {
    import org.apache.spark.sql.catalyst.analysis.NoSuchTableException
    Federation.registerCatalog(spark, "duckcat", Seq(ex))
    val e = ex
    spark.sql("DROP TABLE IF EXISTS duckcat.main.cat_made")
    spark.sql("CREATE TABLE duckcat.main.cat_made (id INT, v STRING)")
    assert(e.tableNames.contains("cat_made"))
    e.runWrite(Seq("INSERT INTO cat_made VALUES (1, 'a'), (2, 'b')"))
    val n = spark.sql("SELECT COUNT(*) AS n FROM duckcat.main.cat_made")
      .collect().head.getLong(0)
    assert(n == 2L)
    spark.sql("DROP TABLE duckcat.main.cat_made")
    assert(!e.tableNames.contains("cat_made"))
    intercept[Exception] {
      spark.sql("SELECT * FROM duckcat.main.no_such_table_xyz").collect()
    }
  }

  test("DSv2 catalog: INSERT INTO appends through the staged write path; " +
      "a same-engine SELECT source copies entirely remotely") {
    Federation.registerCatalog(spark, "duckcat", Seq(ex))
    val e = ex
    spark.sql("DROP TABLE IF EXISTS duckcat.main.cat_sink")
    spark.sql("CREATE TABLE duckcat.main.cat_sink (id BIGINT, v STRING)")
    // local source: streams through the executor's idempotent append
    spark.sql("INSERT INTO duckcat.main.cat_sink " +
      "SELECT id, CAST(id AS STRING) FROM range(100)")
    assert(spark.sql("SELECT COUNT(*) AS n FROM duckcat.main.cat_sink")
      .collect().head.getLong(0) == 100L)
    // same-engine source: the whole copy must execute remotely — the
    // INSERT INTO … SELECT ships as one statement, no VALUES staging
    val dmlBefore = e.dmlLog.synchronized(e.dmlLog.size)
    spark.sql("INSERT INTO duckcat.main.cat_sink " +
      "SELECT o_orderkey, o_orderstatus FROM duckcat.main.orders " +
      "WHERE o_orderkey <= 50")
    val want = spark.read.parquet(s"$dir/orders.parquet")
      .where("o_orderkey <= 50").count()
    assert(spark.sql("SELECT COUNT(*) AS n FROM duckcat.main.cat_sink")
      .collect().head.getLong(0) == 100L + want)
    val dml = e.dmlLog.synchronized(e.dmlLog.drop(dmlBefore))
    assert(dml.exists(s => s.startsWith("INSERT INTO") &&
      s.contains("SELECT") && s.contains("orders")),
      s"same-engine copy must push INSERT INTO … SELECT:\n$dml")
    assert(!dml.exists(_.contains("__stg_")),
      s"no staging for the remote-to-remote copy:\n$dml")
    // INSERT OVERWRITE refuses loudly (append-only contract)
    val err = intercept[Exception] {
      spark.sql("INSERT OVERWRITE duckcat.main.cat_sink " +
        "SELECT id, CAST(id AS STRING) FROM range(5)")
    }
    def msgs(t: Throwable): String = {
      var c: Throwable = t; val sb = new StringBuilder
      while (c != null) { sb.append(c.getMessage).append(' '); c = c.getCause }
      sb.toString
    }
    assert(msgs(err).toLowerCase.contains("insert into") ||
      msgs(err).toLowerCase.contains("truncate") ||
      msgs(err).toLowerCase.contains("overwrite"), msgs(err))
    spark.sql("DROP TABLE duckcat.main.cat_sink")
  }
}
