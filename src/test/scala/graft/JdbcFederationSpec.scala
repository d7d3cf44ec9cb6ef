package graft

import java.sql.DriverManager

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

import graft.federation.Federation
import graft.federation.jdbc.{DerbyDialect, JdbcSqlExecutor}

/** End-to-end federation against a REAL JDBC engine (embedded Apache
  * Derby): schema inference via metadata, multi-table fragments shipped as
  * one Derby SQL, FETCH-style limit syntax, rows fetched inside tasks —
  * the production path the mock SparkSqlExecutor stands in for elsewhere.
  */
class JdbcFederationSpec extends AnyFunSuite with BeforeAndAfterAll {

  private val url = "jdbc:derby:memory:graftspec;create=true"

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-jdbc-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def beforeAll(): Unit = {
    val conn = DriverManager.getConnection(url)
    val st = conn.createStatement()
    st.executeUpdate(
      "CREATE TABLE dept (dept_id INT NOT NULL, dept_name VARCHAR(32))")
    st.executeUpdate(
      """CREATE TABLE emp (emp_id INT NOT NULL, dept_id INT,
        |  emp_name VARCHAR(32), salary DOUBLE, hired DATE)""".stripMargin
        .replace("\n", " "))
    st.executeUpdate("INSERT INTO dept VALUES (1, 'eng'), (2, 'sales'), (3, 'ops')")
    st.executeUpdate(
      """INSERT INTO emp VALUES
        |  (10, 1, 'ada', 120.5, DATE('2020-01-15')),
        |  (11, 1, 'bob', 95.0, DATE('2021-03-02')),
        |  (12, 2, 'cyd', 80.25, DATE('2019-07-09')),
        |  (13, 2, 'dee', 110.75, DATE('2022-11-30')),
        |  (14, 3, 'eli', 60.0, DATE('2023-05-21')),
        |  (15, NULL, 'fay', 50.0, NULL)""".stripMargin.replace("\n", " "))
    st.close(); conn.close()
  }

  override def afterAll(): Unit = {
    try DriverManager.getConnection("jdbc:derby:memory:graftspec;drop=true")
    catch { case _: java.sql.SQLException => () } // drop always "fails"
    spark.stop()
  }

  private def executor = new JdbcSqlExecutor("derby", spark, url, DerbyDialect)

  // string-match the plan: AQE wraps the real plan inside
  // AdaptiveSparkPlanExec, which `collect` does not traverse
  private def remoteScans(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.queryExecution.executedPlan.toString()
      .linesIterator.filter(_.contains("RemoteScan")).toSeq

  test("catalog lists tables and infers schemas via JDBC metadata") {
    val ex = executor
    assert(ex.tableNames == Seq("DEPT", "EMP"))
    val schema = ex.tableSchema(
      graft.federation.sql.RemoteTableRef.parse("EMP"))
    assert(schema.fieldNames.toSeq ==
      Seq("EMP_ID", "DEPT_ID", "EMP_NAME", "SALARY", "HIRED"))
    assert(schema("SALARY").dataType ==
      org.apache.spark.sql.types.DoubleType)
  }

  test("named-schema listing escapes JDBC pattern metacharacters: " +
      "MY_SCHEMA must not also list MYXSCHEMA's tables") {
    // an ISOLATED database: these schemas must not leak into the shared
    // db's bare-name listings (first-match-wins resolution would try a
    // schema-less reference to them)
    val nsUrl = "jdbc:derby:memory:graftns;create=true"
    val conn = DriverManager.getConnection(nsUrl)
    val st = conn.createStatement()
    def quietly(sql: String): Unit =
      try { st.executeUpdate(sql); () }
      catch { case _: java.sql.SQLException => () } // already exists
    // '_' is a single-char wildcard in getTables' schemaPattern: an
    // unescaped MY_SCHEMA matches both
    quietly("CREATE SCHEMA MY_SCHEMA")
    quietly("CREATE SCHEMA MYXSCHEMA")
    quietly("CREATE TABLE MY_SCHEMA.REAL_T (a INT)")
    quietly("CREATE TABLE MYXSCHEMA.IMPOSTOR_T (a INT)")
    st.close(); conn.close()
    try {
      val ex = new JdbcSqlExecutor("derbyns", spark, nsUrl, DerbyDialect)
      assert(ex.tableNames("MY_SCHEMA") == Seq("REAL_T"),
        s"wildcard leak: ${ex.tableNames("MY_SCHEMA")}")
      assert(ex.tableNames("MYXSCHEMA") == Seq("IMPOSTOR_T"))
      // and resolution through the catalog stays schema-exact
      Federation.registerCatalog(spark, "derbyns", Seq(ex),
        defaultNamespace = Nil)
      val listed = spark.sql("SHOW TABLES IN derbyns.MY_SCHEMA")
        .collect().map(_.getString(1)).toSet
      assert(listed == Set("REAL_T"), listed)
    } finally {
      try DriverManager.getConnection("jdbc:derby:memory:graftns;drop=true")
      catch { case _: java.sql.SQLException => () }
    }
  }

  test("filter + aggregate + join federate into ONE Derby SQL") {
    Federation.install(spark)
    Federation.registerAll(spark, executor, prefix = "db_")
    val df = spark.sql(
      """SELECT dept_name, COUNT(*) AS n, MAX(salary) AS top
        |FROM db_EMP e JOIN db_DEPT d ON e.dept_id = d.dept_id
        |WHERE salary > 55.0
        |GROUP BY dept_name
        |ORDER BY dept_name""".stripMargin)
    val scans = remoteScans(df)
    assert(scans.size == 1, s"expected one remote scan, got: $scans")
    assert(scans.head.contains("JOIN") && scans.head.contains("GROUP BY"),
      scans.head)
    val rows = df.collect().map(r =>
      (r.getString(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(rows == Seq(("eng", 2L, 120.5), ("ops", 1L, 60.0),
      ("sales", 2L, 110.75)))
  }

  test("bind join: a selective local dim inlines as VALUES into the Derby SQL") {
    Federation.install(spark)
    val ex = executor
    Federation.registerAll(spark, ex, prefix = "bj_")
    // parquet-backed so the selectivity filter survives optimization
    graft.sources.Tables.nation(spark, "/root/testdata/sf0.001")
      .selectExpr("n_nationkey + 1 AS dept_id", "n_name")
      .filter("dept_id <= 2")
      .createOrReplaceTempView("derby_dim")
    val df = spark.sql(
      """SELECT e.EMP_NAME, d.n_name
        |FROM bj_EMP e JOIN derby_dim d ON e.DEPT_ID = d.dept_id
        |ORDER BY e.EMP_NAME""".stripMargin)
    val bound = df.queryExecution.optimizedPlan.collect {
      case f: graft.federation.plans.FederatedPlan if f.bindJoins.nonEmpty => f
    }
    assert(bound.nonEmpty,
      s"derby join did not bind:\n${df.queryExecution.optimizedPlan}")
    val scans = remoteScans(df)
    assert(scans.size == 1, s"expected one remote scan, got: $scans")
    // four emps in depts 1-2 × the dim names; join ran ON Derby
    val got = df.collect().map(_.getString(0)).toSeq
    assert(got == Seq("ada", "bob", "cyd", "dee"), got.toString)
  }

  test("inline DataFrame dim ships as VALUES inside one Derby SQL with the aggregate") {
    Federation.install(spark)
    Federation.registerAll(spark, executor, prefix = "iv_")
    import spark.implicits._
    // the dept-3 row carries a NULL label: the typed-NULL VALUES cell
    // (CAST(NULL AS VARCHAR(32672))) must execute on real Derby
    Seq((1, Some("ENG")), (2, Some("SALES")), (3, None))
      .toDF("dept_id", "label")
      .createOrReplaceTempView("derby_inline_dim")
    val df = spark.sql(
      """SELECT label, COUNT(*) AS n, MAX(SALARY) AS top
        |FROM iv_EMP e JOIN derby_inline_dim d ON e.DEPT_ID = d.dept_id
        |GROUP BY label ORDER BY label""".stripMargin)
    val scans = remoteScans(df)
    assert(scans.size == 1, s"expected one remote scan, got: $scans")
    assert(scans.head.contains("VALUES") && scans.head.contains("GROUP BY"),
      scans.head)
    val rows = df.collect().map(r =>
      (Option(r.getString(0)), r.getLong(1), r.getDouble(2))).toSeq
    assert(rows == Seq((None, 1L, 60.0), (Some("ENG"), 2L, 120.5),
      (Some("SALES"), 2L, 110.75)), rows.toString)
  }

  test("union dim join distributes: the live Derby arm ships a VALUES-join SQL") {
    Federation.install(spark)
    Federation.registerAll(spark, executor, prefix = "ud_")
    // non-inline local arm (parquet-backed) keeps the union Ambiguous, so
    // wholesale federation refuses and JoinUnionDistributeRule must fire;
    // the inline dim then rides into the Derby arm as (VALUES …)
    graft.sources.Tables.nation(spark, "/root/testdata/sf0.001")
      .filter("n_nationkey < 4")
      .selectExpr("n_nationkey + 100 AS emp_id",
        "n_nationkey % 3 + 1 AS dept_id", "n_name AS emp_name")
      .createOrReplaceTempView("ud_local_emp")
    import spark.implicits._
    Seq((1L, "ENG"), (3L, "OPS")).toDF("dept_id", "label")
      .createOrReplaceTempView("ud_dim")
    val df = spark.sql(
      """SELECT u.emp_name, d.label FROM (
        |  SELECT EMP_ID AS emp_id, DEPT_ID AS dept_id, EMP_NAME AS emp_name
        |  FROM ud_EMP
        |  UNION ALL
        |  SELECT emp_id, dept_id, emp_name FROM ud_local_emp
        |) u JOIN ud_dim d ON u.dept_id = d.dept_id
        |ORDER BY u.emp_name""".stripMargin)
    val scans = remoteScans(df)
    assert(scans.size == 1, s"expected ONE Derby scan, got: $scans")
    assert(scans.head.contains("VALUES") && scans.head.toLowerCase.contains("emp"),
      s"derby arm did not absorb the VALUES dim join: ${scans.head}")
    val got = df.collect().map(r => (r.getString(0), r.getString(1))).toSeq
    assert(got == Seq(("NATION_0", "ENG"), ("NATION_2", "OPS"),
      ("NATION_3", "ENG"), ("ada", "ENG"), ("bob", "ENG"), ("eli", "OPS")),
      got.toString)
  }

  test("per-table sqlRewriter hook rewrites the executed Derby SQL exactly once") {
    Federation.install(spark)
    // a structural compatibility rewrite (derived-table wrap), not a
    // comment: Derby must PARSE the rewritten text, so a hook that emits
    // invalid SQL fails this test instead of passing vacuously
    val rewritten = scala.collection.mutable.ArrayBuffer.empty[String]
    val hooks = new graft.federation.sql.TableHooks(
      sqlRewriter = { s =>
        val out = s"SELECT * FROM ($s) AS hook_compat"
        rewritten.synchronized(rewritten += out)
        out
      }, name = "derby-compat")
    Federation.registerRemoteTable(spark, "hk_emp", "EMP", executor, Some(hooks))
    val df = spark.sql(
      """SELECT dept_id, COUNT(*) AS n, MAX(salary) AS top
        |FROM hk_emp WHERE salary > 55.0
        |GROUP BY dept_id""".stripMargin)
    val scans = remoteScans(df)
    assert(scans.size == 1, s"expected one remote scan, got: $scans")
    val marker = "hook_compat"
    assert(scans.head.sliding(marker.length).count(_ == marker) == 1,
      s"hook must rewrite the shipped SQL exactly once: ${scans.head}")
    assert(scans.head.contains("GROUP BY"),
      s"aggregate must stay inside the rewritten fragment: ${scans.head}")
    // and Derby executed the rewritten text to the right answer
    val rows = df.collect().map(r =>
      (r.getInt(0), r.getLong(1), r.getDouble(2))).toSeq.sortBy(_._1)
    assert(rows == Seq((1, 2L, 120.5), (2, 2L, 110.75), (3, 1L, 60.0)))
    assert(rewritten.synchronized(rewritten.nonEmpty),
      "sqlRewriter hook never invoked")
  }

  test("limit renders in Derby FETCH syntax and null dates survive") {
    Federation.install(spark)
    Federation.registerAll(spark, executor, prefix = "db2_")
    val df = spark.sql(
      """SELECT emp_name, hired FROM db2_EMP
        |ORDER BY salary DESC FETCH FIRST 3 ROWS ONLY""".stripMargin
        .replace("FETCH FIRST 3 ROWS ONLY", "LIMIT 3"))
    val scans = remoteScans(df)
    assert(scans.head.contains("FETCH FIRST 3 ROWS ONLY"), scans.head)
    assert(df.collect().map(_.getString(0)).toSeq == Seq("ada", "dee", "bob"))
    // null-handling: fay's NULL hired round-trips
    val nulls = spark.sql("SELECT emp_name FROM db2_EMP WHERE hired IS NULL")
    assert(nulls.collect().map(_.getString(0)).toSeq == Seq("fay"))
  }

  test("remote COUNT(*) statistics let a Derby fragment broadcast") {
    Federation.install(spark)
    val ex = executor
    val stats = ex.statistics(
      graft.federation.sql.RemoteTableRef.parse("DEPT")).get
    assert(stats.rowCount.contains(BigInt(3)), stats)
    Federation.registerAll(spark, ex, prefix = "st_")
    graft.sources.Tables.registerAll(spark, "/root/testdata/sf0.001")
    val df = spark.sql(
      """SELECT d.dept_name, COUNT(*) AS n
        |FROM orders o JOIN st_DEPT d ON o.o_orderkey % 3 + 1 = d.dept_id
        |GROUP BY d.dept_name ORDER BY d.dept_name""".stripMargin)
    df.count()
    assert(df.queryExecution.executedPlan.toString()
      .contains("BroadcastHashJoin"),
      "tiny Derby fragment should broadcast:\n" +
        df.queryExecution.executedPlan)
  }

  test("write path: insertInto a remote Derby table round-trips") {
    Federation.install(spark)
    val conn = DriverManager.getConnection(url)
    conn.createStatement().executeUpdate(
      "CREATE TABLE hires (emp_id INT NOT NULL, emp_name VARCHAR(32), bonus DOUBLE)")
    conn.close()
    val ex = executor
    import spark.implicits._
    val df = Seq(
      (20, Option("gil"), Option(12.5)),
      (21, Option("hal"), None),
      (22, None: Option[String], Option(7.25))
    ).toDF("emp_id", "emp_name", "bonus").repartition(2) // multi-task write
    ex.insertInto(graft.federation.sql.RemoteTableRef.parse("HIRES"), df)
    // read back through the federation pipeline
    Federation.registerRemoteTable(spark, "w_hires", "HIRES", ex)
    val back = spark.sql(
      "SELECT emp_id, emp_name, bonus FROM w_hires ORDER BY emp_id").collect()
    assert(back.map(_.toString).toSeq ==
      Seq("[20,gil,12.5]", "[21,hal,null]", "[22,null,7.25]"))
    // a read-only executor refuses (reference fallback behavior)
    val mock = new graft.federation.sql.SparkSqlExecutor(
      "rom", spark.newSession(), Map.empty, context = "ro")
    intercept[UnsupportedOperationException] {
      mock.insertInto(graft.federation.sql.RemoteTableRef.parse("x"), df)
    }
  }

  test("insert-from-query: same-engine copy ships as ONE INSERT..SELECT, no row stream") {
    Federation.install(spark)
    val ex = executor
    val conn = DriverManager.getConnection(url)
    conn.createStatement().executeUpdate(
      "CREATE TABLE dept_salaries (d_id INT, n_emp BIGINT, top_sal DOUBLE)")
    conn.close()
    Federation.registerRemoteTable(spark, "ctas_emp", "EMP", ex)
    import org.apache.spark.sql.functions._
    val derived = spark.table("ctas_emp")
      .filter(col("salary") > 55.0)
      .groupBy(col("dept_id"))
      .agg(count(lit(1)).as("n_emp"), max(col("salary")).as("top_sal"))
    val before = ex.dmlLog.size
    val pushed = Federation.insertIntoRemote(derived,
      graft.federation.sql.RemoteTableRef.parse("DEPT_SALARIES"), ex)
    assert(pushed, "same-provider source must push as INSERT..SELECT")
    val dml = ex.dmlLog.drop(before)
    assert(dml.size == 1 && dml.head.startsWith("INSERT INTO") &&
        dml.head.contains("SELECT") && dml.head.contains("GROUP BY"),
      s"unexpected DML:\n${dml.mkString("\n")}")
    // read back: matches a fully-local recompute
    Federation.registerRemoteTable(spark, "w_dept_salaries", "DEPT_SALARIES", ex)
    val back = spark.sql(
      "SELECT d_id, n_emp, top_sal FROM w_dept_salaries ORDER BY d_id").collect()
    val want = spark.table("ctas_emp").collect()
      .filter(r => !r.isNullAt(3) && r.getDouble(3) > 55.0)
      .groupBy(r => if (r.isNullAt(1)) null else r.getInt(1))
    back.foreach { r =>
      val k = if (r.isNullAt(0)) null else r.getInt(0)
      val grp = want(k.asInstanceOf[Any])
      assert(r.getLong(1) == grp.size, r.toString)
      assert(r.getDouble(2) == grp.map(_.getDouble(3)).max, r.toString)
    }
    assert(back.length == want.size)
    // a NON-fragment source (local data) falls back to the batched append
    val local = spark.range(2).selectExpr("CAST(id AS INT) AS d_id",
      "id AS n_emp", "CAST(id AS DOUBLE) AS top_sal")
    val before2 = ex.dmlLog.size
    val pushed2 = Federation.insertIntoRemote(local,
      graft.federation.sql.RemoteTableRef.parse("DEPT_SALARIES"), ex)
    // the fallback is the STAGED append: its log entries are staging
    // publishes, never a query-shipping INSERT..SELECT against EMP
    val dml2 = ex.dmlLog.drop(before2)
    assert(!pushed2 && dml2.forall(_.contains("__stg_")),
      s"local source must fall back to the staged insertInto path:\n" +
        dml2.mkString("\n"))
  }

  test("delete pushdown: ONE remote DELETE statement, count back, no row stream") {
    Federation.install(spark)
    val conn = DriverManager.getConnection(url)
    conn.createStatement().executeUpdate(
      """CREATE TABLE prune_emp (e_id INT NOT NULL, e_name VARCHAR(32),
        |  sal DOUBLE)""".stripMargin.replace("\n", " "))
    conn.createStatement().executeUpdate(
      """INSERT INTO prune_emp VALUES (1, 'ada', 120.5), (2, 'bob', 95.0),
        |  (3, 'cyd', 80.25), (4, 'dee', NULL), (5, 'eli', 60.0)"""
        .stripMargin.replace("\n", " "))
    conn.close()
    val ex = executor
    val before = ex.dmlLog.size
    import org.apache.spark.sql.functions.col
    val n = Federation.deleteFromRemote(spark, "PRUNE_EMP", ex,
      col("SAL") < 90.0 || col("E_NAME").like("%ob"))
    // rows 2 (like), 3 and 5 (< 90) deleted; NULL sal row 4 SURVIVES —
    // SQL DELETE removes only WHERE=TRUE rows, same as Spark's filter
    assert(n == 3, s"affected count $n")
    val dml = ex.dmlLog.drop(before)
    assert(dml.size == 1 && dml.head.startsWith("DELETE FROM") &&
      dml.head.contains("WHERE"), s"unexpected DML:\n${dml.mkString("\n")}")
    Federation.registerRemoteTable(spark, "w_prune_emp", "PRUNE_EMP", ex)
    val back = spark.sql(
      "SELECT e_id FROM w_prune_emp ORDER BY e_id").collect().map(_.getInt(0))
    assert(back.toSeq == Seq(1, 4), back.mkString(","))
    // refusals: non-deterministic and subquery predicates throw — remote
    // DML has no local fallback, a quiet wrong path would be a trap
    intercept[IllegalArgumentException] {
      Federation.deleteFromRemote(spark, "PRUNE_EMP", ex,
        org.apache.spark.sql.functions.rand() < 0.5)
    }
    intercept[IllegalArgumentException] {
      spark.range(3).createOrReplaceTempView("del_ids")
      Federation.deleteFromRemote(spark, "PRUNE_EMP", ex,
        org.apache.spark.sql.functions
          .expr("E_ID IN (SELECT id FROM del_ids)"))
    }
    // a read-only executor has no delete path
    intercept[UnsupportedOperationException] {
      new graft.federation.sql.SparkSqlExecutor(
        "rod", spark.newSession(), Map.empty, context = "ro")
        .deleteWhere(graft.federation.sql.RemoteTableRef.parse("x"), "1=0")
    }
  }

  test("create-table-as: DDL from the frame schema, push insert, replace on rerun") {
    Federation.install(spark)
    val ex = executor
    import org.apache.spark.sql.functions.{col, count, lit}
    Federation.registerRemoteTable(spark, "ctas2_emp", "EMP", ex)
    val derived = spark.table("ctas2_emp")
      .groupBy(col("DEPT_ID").cast("long").as("d_id"))
      .agg(count(lit(1)).as("n"),
        org.apache.spark.sql.functions.max(col("SALARY")).as("top"))
    val before = ex.dmlLog.size
    val pushed = Federation.createRemoteTableAs(derived, "EMP_ROLLUP", ex)
    assert(pushed, "same-engine source must push as INSERT..SELECT")
    val dml = ex.dmlLog.drop(before)
    assert(dml.exists(_.startsWith("CREATE TABLE")) &&
      dml.exists(s0 => s0.startsWith("INSERT INTO") && s0.contains("SELECT")),
      s"unexpected DDL/DML:\n${dml.mkString("\n")}")
    // introspected schema round-trips the mapped types
    val schema = ex.tableSchema(
      graft.federation.sql.RemoteTableRef.parse("EMP_ROLLUP"))
    assert(schema.fields.map(_.dataType).toSeq ==
      Seq(org.apache.spark.sql.types.LongType,
        org.apache.spark.sql.types.LongType,
        org.apache.spark.sql.types.DoubleType), schema.toString)
    // read-back equality with a local recompute
    Federation.registerRemoteTable(spark, "w_emp_rollup", "EMP_ROLLUP", ex)
    val want = derived.collect().map(_.toString).sorted.toSeq
    val got = spark.sql("SELECT * FROM w_emp_rollup").collect()
      .map(_.toString).sorted.toSeq
    assert(got == want, s"$got vs $want")
    // rerun REPLACES: same row count, no duplicate append
    Federation.createRemoteTableAs(derived, "EMP_ROLLUP", ex)
    assert(spark.sql("SELECT * FROM w_emp_rollup").count() == want.size)
  }

  test("update pushdown: SET expressions compute remotely, ONE statement") {
    Federation.install(spark)
    val conn = DriverManager.getConnection(url)
    conn.createStatement().executeUpdate(
      """CREATE TABLE adj_emp (a_id INT NOT NULL, a_name VARCHAR(40),
        |  sal DOUBLE)""".stripMargin.replace("\n", " "))
    conn.createStatement().executeUpdate(
      """INSERT INTO adj_emp VALUES (1, 'ada', 100.0), (2, 'bob', 90.0),
        |  (3, 'cyd', NULL)""".stripMargin.replace("\n", " "))
    conn.close()
    val ex = executor
    val before = ex.dmlLog.size
    import org.apache.spark.sql.functions.{col, concat, lit}
    // the new value is computed FROM the row's own columns, remotely
    val n = Federation.updateRemote(spark, "ADJ_EMP", ex,
      Seq("SAL" -> (col("SAL") * 2.0),
        "A_NAME" -> concat(col("A_NAME"), lit("!"))),
      col("A_ID") <= 2)
    assert(n == 2, s"affected count $n")
    val dml = ex.dmlLog.drop(before)
    assert(dml.size == 1 && dml.head.startsWith("UPDATE") &&
      dml.head.contains("SET") && dml.head.contains("WHERE"),
      s"unexpected DML:\n${dml.mkString("\n")}")
    Federation.registerRemoteTable(spark, "w_adj_emp", "ADJ_EMP", ex)
    val back = spark.sql(
      "SELECT a_id, a_name, sal FROM w_adj_emp ORDER BY a_id").collect()
    assert(back.map(_.toString).toSeq ==
      Seq("[1,ada!,200.0]", "[2,bob!,180.0]", "[3,cyd,null]"),
      back.mkString(","))
    // unknown target column and nondeterministic SET value both refuse
    intercept[IllegalArgumentException] {
      Federation.updateRemote(spark, "ADJ_EMP", ex,
        Seq("NOPE" -> lit(1)), col("A_ID") === 1)
    }
    intercept[IllegalArgumentException] {
      Federation.updateRemote(spark, "ADJ_EMP", ex,
        Seq("SAL" -> org.apache.spark.sql.functions.rand()),
        col("A_ID") === 1)
    }
  }

  test("scan metrics: fetch time, bytes, and wire-format coercion are measured") {
    Federation.install(spark)
    spark.conf.set("spark.sql.adaptive.enabled", "false") // keep the scan reachable via collect
    try {
      Federation.registerAll(spark, executor, prefix = "mx_")
      val df = spark.sql("SELECT emp_name, salary FROM mx_EMP WHERE salary > 0.0")
      df.collect()
      val scans = df.queryExecution.executedPlan.collect {
        case r: graft.federation.exec.RemoteScanExec => r
      }
      assert(scans.nonEmpty, df.queryExecution.executedPlan)
      val m = scans.head.metrics
      assert(m("numOutputRows").value == 6L, m("numOutputRows").value)
      // every JDBC row arrives in wire format and is coerced to UnsafeRow
      assert(m("numCoercedRows").value == 6L, m("numCoercedRows").value)
      assert(m("remoteBytes").value > 0L)
      assert(m("remoteFetchTime").value > 0L)
      assert(m("numSplits").value == 1L)
    } finally spark.conf.unset("spark.sql.adaptive.enabled")
  }

  test("fragment statistics probe fragment SQL; at-cap relations report none") {
    val ex = executor
    // fragment-level: the filtered fragment's cardinality, not the table's
    val frag = ex.fragmentStatistics(
      "SELECT emp_id FROM emp WHERE salary > 100.0",
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("emp_id",
          org.apache.spark.sql.types.IntegerType))))
    assert(frag.exists(_.rowCount.contains(BigInt(2))), frag)
    // a capped executor declares the 6-row emp table "not small": no stats
    val capped = new JdbcSqlExecutor("derbycap", spark, url, DerbyDialect,
      statsRowCap = 5L)
    assert(capped.statistics(
      graft.federation.sql.RemoteTableRef.parse("EMP")).isEmpty)
    // the at-cap outcome is served from cache (same answer, no re-probe)
    assert(capped.statistics(
      graft.federation.sql.RemoteTableRef.parse("EMP")).isEmpty)
    // a probe of a missing table answers None and is NOT cached: once
    // another executor creates the table, this one reports its stats
    val late = graft.federation.sql.RemoteTableRef.parse("late_stats")
    val other = executor
    assert(ex.statistics(late).isEmpty)
    other.createTable(late, org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("k",
        org.apache.spark.sql.types.LongType))))
    other.insertInto(late, spark.range(0, 4).selectExpr("id AS k"))
    assert(ex.statistics(late).flatMap(_.rowCount).contains(BigInt(4)))
    // an at-cap answer is served again without a new statement: after the
    // table shrinks below the cap behind its back, a re-probe would
    // report 2 rows, the cached answer still reports none
    val capped3 = new JdbcSqlExecutor("derbycap3", spark, url, DerbyDialect,
      statsRowCap = 3L)
    assert(capped3.statistics(late).isEmpty)
    assert(other.deleteWhere(late, "\"k\" >= 2") == 2L)
    assert(capped3.statistics(late).isEmpty)
    other.dropTable(late)
  }

  test("DDL forgets the replaced table's statistics: a re-created table " +
      "reports its new row count") {
    val ex = executor
    val ref = graft.federation.sql.RemoteTableRef.parse("ddl_stats")
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("k",
        org.apache.spark.sql.types.LongType)))
    ex.createTable(ref, schema)
    ex.insertInto(ref, spark.range(0, 3).selectExpr("id AS k"))
    assert(ex.statistics(ref).flatMap(_.rowCount).contains(BigInt(3)))
    ex.createTable(ref, schema)
    ex.insertInto(ref, spark.range(0, 7).selectExpr("id AS k"))
    assert(ex.statistics(ref).flatMap(_.rowCount).contains(BigInt(7)),
      ex.statistics(ref))
    ex.dropTable(ref)
  }

  test("split reads keep NULL split-column rows (null-arm on split 0)") {
    Federation.install(spark)
    val splitEx = new JdbcSqlExecutor("derbysplit", spark, url, DerbyDialect,
      splitCount = 2)
    Federation.registerRemoteTable(spark, "split_emp_dept", "EMP", splitEx)
    // project ONLY dept_id so the nullable column becomes the split column
    val df = spark.sql("SELECT dept_id FROM split_emp_dept")
    val scans = remoteScans(df)
    assert(scans.head.contains("splits=2"), scans.head)
    // fay's NULL dept_id must survive the split union
    assert(df.count() == 6, df.collect().mkString(","))
    assert(df.filter("dept_id IS NULL").count() == 1)
  }

  test("jdbc split reads balance: key column chosen, no split >2x the mean") {
    Federation.install(spark)
    val dir = "/root/testdata/sf0.001"
    val ex = graft.federation.jdbc.JdbcHarness.executor(spark, dir)
    Federation.registerRemoteTable(spark, "bal_jdbc_lineitem", "lineitem", ex)
    // l_linenumber (1..7) comes first: the key heuristic must route the
    // 4-way modulo onto l_orderkey or the splits are empty/skewed
    val df = spark.sql(
      """SELECT l_linenumber, l_orderkey, l_quantity
        |FROM bal_jdbc_lineitem WHERE l_quantity > 5.0""".stripMargin)
    val scans = df.queryExecution.executedPlan.collect {
      case r: graft.federation.exec.RemoteScanExec => r
    }
    assert(scans.nonEmpty &&
      scans.head.sqls.size == graft.federation.jdbc.JdbcHarness.Splits,
      s"expected ${graft.federation.jdbc.JdbcHarness.Splits} splits:\n" +
        df.queryExecution.executedPlan)
    assert(scans.head.sqls.forall(_.contains("l_orderkey")),
      s"splits must be on the key column: ${scans.head.sqls}")
    val counts = scans.head.sqls.map { s =>
      ex.fragmentStatistics(s, df.schema).flatMap(_.rowCount)
        .map(_.toLong).getOrElse(-1L)
    }
    assert(counts.forall(_ >= 0), s"split probe failed: $counts")
    val mean = counts.sum.toDouble / counts.size
    assert(counts.forall(_ <= 2 * mean),
      s"unbalanced jdbc splits $counts (mean $mean)")
  }

  test("aggregate FILTER degrades: remote scan, local filtered aggregate") {
    Federation.install(spark)
    Federation.registerAll(spark, executor, prefix = "db3_")
    // DerbyDialect.supportsFilterClause = false → the Aggregate cannot
    // unparse; the scan beneath it must still federate
    val df = spark.sql(
      """SELECT COUNT(*) FILTER (WHERE salary > 100.0) AS rich
        |FROM db3_EMP""".stripMargin)
    assert(remoteScans(df).nonEmpty,
      "scan under the aggregate must federate:\n" +
        df.queryExecution.executedPlan)
    assert(df.collect().head.getLong(0) == 2L)
  }

  /** Contexts a plan touches, descending through FederatedPlan leaves and
    * bind-join build sides. */
  private def contextsIn(
      p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : Set[String] =
    p.collect {
      case r: graft.federation.plans.RemoteRelation =>
        Set(r.executor.computeContext.get)
      case f: graft.federation.plans.FederatedPlan =>
        contextsIn(f.inner) ++
          f.bindJoins.flatMap(b => contextsIn(b.buildPlan))
    }.flatten.toSet

  test("two Derby INSTANCES: same dialect, fragments never merge, bind crosses") {
    val dataDir = "/root/testdata/sf0.001"
    graft.federation.jdbc.JdbcHarness.registerViews(spark, dataDir)
    graft.federation.jdbc.JdbcHarness.registerViewsB(spark, dataDir)
    val df = spark.sql(
      """SELECT n_name, COUNT(*) AS n_suppliers
        |FROM jdbc_supplier JOIN jdbc2_nation ON s_nationkey = n_nationkey
        |WHERE n_regionkey < 3
        |GROUP BY n_name ORDER BY n_name""".stripMargin)
    val plan = df.queryExecution.optimizedPlan
    val frags = plan.collect {
      case f: graft.federation.plans.FederatedPlan => f
    }
    assert(frags.nonEmpty)
    // the compute-context invariant: one fragment, one instance — a merge
    // would send instance-B table names to instance A
    frags.foreach { f =>
      assert(contextsIn(f.inner).size == 1,
        s"fragment mixes Derby instances: ${contextsIn(f.inner)}\n$plan")
    }
    // both instances participate — B either as its own fragment or as a
    // bind build side EXECUTED on B and inlined as literals into A's SQL
    val all = frags.flatMap(f => contextsIn(f)).toSet
    assert(all.size == 2, s"expected both instances, got $all\n$plan")
    val want = spark.sql(
      s"""SELECT n_name, COUNT(*) AS n_suppliers
         |FROM parquet.`$dataDir/supplier.parquet`
         |JOIN parquet.`$dataDir/nation.parquet`
         |  ON s_nationkey = n_nationkey
         |WHERE n_regionkey < 3
         |GROUP BY n_name ORDER BY n_name""".stripMargin)
      .collect().map(_.toString).toSeq
    assert(df.collect().map(_.toString).toSeq == want)
  }

  test("two instances, agg-shaped sides: TWO fragments, distinct contexts") {
    val dataDir = "/root/testdata/sf0.001"
    graft.federation.jdbc.JdbcHarness.registerViews(spark, dataDir)
    graft.federation.jdbc.JdbcHarness.registerViewsB(spark, dataDir)
    // with binds off (the bind rule would otherwise inline even an
    // aggregate-shaped build), the planner's ONLY correct shape is two
    // fragments — one per instance — stitched by a local join; a single
    // merged fragment would ship instance-B table names to instance A
    spark.conf.set(graft.federation.BindJoinRule.MaxBytesKey, "0")
    try {
      val df = spark.sql(
        """SELECT a.s_nationkey AS k, a.n_supp, b.n_name
          |FROM (SELECT s_nationkey, COUNT(*) AS n_supp
          |      FROM jdbc_supplier GROUP BY s_nationkey) a
          |JOIN (SELECT n_nationkey, MAX(n_name) AS n_name
          |      FROM jdbc2_nation GROUP BY n_nationkey) b
          |  ON a.s_nationkey = b.n_nationkey
          |ORDER BY k""".stripMargin)
      val frags = df.queryExecution.optimizedPlan.collect {
        case f: graft.federation.plans.FederatedPlan => f
      }
      assert(frags.size == 2, s"expected two fragments:\n" +
        df.queryExecution.optimizedPlan)
      val ctx = frags.map(f => contextsIn(f.inner))
      assert(ctx.forall(_.size == 1) && ctx.flatten.toSet.size == 2,
        s"contexts: $ctx")
      val want = spark.read.parquet(s"$dataDir/supplier.parquet")
        .select("s_nationkey").distinct().count()
      assert(df.count() == want)
    } finally spark.conf.unset(graft.federation.BindJoinRule.MaxBytesKey)
  }

  test("column statistics probe live Derby: ndv, min/max, nulls, lengths") {
    val ex = executor
    val stats = ex.columnStatistics(
      graft.federation.sql.RemoteTableRef.parse("EMP"))
    val dept = stats("DEPT_ID")
    assert(dept.distinctCount.contains(BigInt(3)), dept.toString)
    assert(dept.nullCount.contains(BigInt(1)), dept.toString)
    assert(dept.min.contains(1) && dept.max.contains(3), dept.toString)
    val sal = stats("SALARY")
    assert(sal.distinctCount.contains(BigInt(6)), sal.toString)
    assert(sal.min.contains(50.0) && sal.max.contains(120.5), sal.toString)
    val name = stats("EMP_NAME")
    assert(name.distinctCount.contains(BigInt(6)), name.toString)
    assert(name.maxLen.contains(3L) && name.avgLen.contains(3L),
      name.toString)
  }

  test("CBO join reorder flips on remote ndv column statistics") {
    // fact(2000 rows, fk1 with 400 distinct values, fk2 with 4) joining
    // dim_wide(400 rows) and dim_tiny(4 rows): written order joins
    // dim_wide first; with remote ndv stats + CBO, the cheaper join —
    // through dim_tiny — must come first (smaller intermediate only via
    // cardinality estimation, i.e. the probed ndv doing its job)
    // fact on instance A, dims on instance B: same-instance subtrees
    // would federate into ONE SQL (no local join order to observe), and
    // the two dims don't join each other, so B contributes two separate
    // fragments — three locally stitched join items total
    val urlB = "jdbc:derby:memory:graftspec_cbo;create=true"
    val conn = DriverManager.getConnection(url)
    val st = conn.createStatement()
    st.executeUpdate("CREATE TABLE cbo_fact (fk1 INT, fk2 INT, m DOUBLE)")
    val pf = conn.prepareStatement("INSERT INTO cbo_fact VALUES (?, ?, ?)")
    (0 until 2000).foreach { i =>
      pf.setInt(1, i % 400); pf.setInt(2, i % 4); pf.setDouble(3, i * 0.5)
      pf.addBatch()
    }
    pf.executeBatch(); pf.close(); st.close(); conn.close()
    val connB = DriverManager.getConnection(urlB)
    val stB = connB.createStatement()
    stB.executeUpdate("CREATE TABLE cbo_wide (w_id INT, w_name VARCHAR(20))")
    stB.executeUpdate("CREATE TABLE cbo_tiny (t_id INT, t_name VARCHAR(20))")
    val pw = connB.prepareStatement("INSERT INTO cbo_wide VALUES (?, ?)")
    (0 until 400).foreach { i =>
      pw.setInt(1, i); pw.setString(2, s"w$i"); pw.addBatch()
    }
    pw.executeBatch(); pw.close()
    // tiny dim is SELECTIVE: only 2 of the fact's 4 fk2 values match
    val pt = connB.prepareStatement("INSERT INTO cbo_tiny VALUES (?, ?)")
    Seq(0, 1).foreach { i =>
      pt.setInt(1, i); pt.setString(2, s"t$i"); pt.addBatch()
    }
    pt.executeBatch(); pt.close(); stB.close(); connB.close()
    Federation.install(spark)
    val ex = executor
    val exB = new JdbcSqlExecutor("derby", spark, urlB, DerbyDialect)
    Federation.registerRemoteTable(spark, "cb_CBO_FACT", "CBO_FACT", ex)
    Federation.registerRemoteTable(spark, "cb_CBO_WIDE", "CBO_WIDE", exB)
    Federation.registerRemoteTable(spark, "cb_CBO_TINY", "CBO_TINY", exB)
    val sql =
      """SELECT COUNT(*) AS n
        |FROM cb_CBO_FACT f
        |JOIN cb_CBO_WIDE w ON f.FK1 = w.W_ID
        |JOIN cb_CBO_TINY t ON f.FK2 = t.T_ID""".stripMargin
    def firstJoinTables(df: org.apache.spark.sql.DataFrame): Seq[String] = {
      // the innermost Join's leaves = the first-executed join pair; with
      // binds everything may collapse — disable binds so the ORDER is
      // observable as local joins over fragments
      val joins = df.queryExecution.optimizedPlan.collect {
        case j: org.apache.spark.sql.catalyst.plans.logical.Join => j
      }
      assert(joins.nonEmpty, df.queryExecution.optimizedPlan.toString)
      joins.last.collect {
        case f: graft.federation.plans.FederatedPlan => f.inner.collect {
          case r: graft.federation.plans.RemoteRelation => r.ref.toString
        }
      }.flatten
    }
    spark.conf.set(graft.federation.BindJoinRule.MaxBytesKey, "0")
    try {
      spark.conf.set("spark.sql.cbo.enabled", "false")
      val without = spark.sql(sql)
      val baseline = firstJoinTables(without)
      assert(baseline.exists(_.contains("CBO_WIDE")),
        s"expected written order (wide first) without CBO: $baseline\n" +
          without.queryExecution.optimizedPlan)
      spark.conf.set("spark.sql.cbo.enabled", "true")
      spark.conf.set("spark.sql.cbo.joinReorder.enabled", "true")
      val df = spark.sql(sql)
      val first = firstJoinTables(df)
      assert(first.exists(_.contains("CBO_TINY")) &&
        !first.exists(_.contains("CBO_WIDE")),
        s"CBO did not reorder onto the selective tiny dim: $first\n" +
          df.queryExecution.optimizedPlan)
      assert(df.collect().head.getLong(0) == 1000L)
    } finally {
      spark.conf.unset("spark.sql.cbo.enabled")
      spark.conf.unset("spark.sql.cbo.joinReorder.enabled")
      spark.conf.unset(graft.federation.BindJoinRule.MaxBytesKey)
    }
  }

  test("skewed split column: quantile ranges where modulo would serialize") {
    // every key ≡ 0 (mod 4): modulo-4 splits put 100% of rows on cursor 0
    // and leave three cursors empty — the quantile-probed RANGE splits
    // must cut the same table into near-equal slices
    val conn = DriverManager.getConnection(url)
    val st = conn.createStatement()
    st.executeUpdate("CREATE TABLE skew_t (k BIGINT, v INT)")
    val ps = conn.prepareStatement("INSERT INTO skew_t VALUES (?, ?)")
    (0 until 1000).foreach { i =>
      ps.setLong(1, 4L * i); ps.setInt(2, i); ps.addBatch()
    }
    ps.executeBatch(); ps.close(); st.close(); conn.close()
    Federation.install(spark)
    val ex = new JdbcSqlExecutor("derby", spark, url, DerbyDialect,
      splitCount = 4)
    Federation.registerAll(spark, ex, prefix = "sk_")
    // approx_count_distinct keeps the aggregate local → scan-shaped
    // fragment below it fans out to the split cursors
    val df = spark.sql(
      "SELECT approx_count_distinct(v) AS ad, COUNT(*) AS n FROM sk_SKEW_T")
    val before = ex.executedSql.size
    val row = df.collect().head
    assert(row.getLong(1) == 1000)
    val splits = ex.executedSql.drop(before).filter(_.contains("SKEW_T"))
    assert(splits.size == 4, s"expected 4 split SQLs:\n${splits.mkString("\n")}")
    assert(splits.forall(s => !s.contains("MOD(")),
      s"modulo splits on a skewed column:\n${splits.mkString("\n")}")
    // balance: run each shipped split SQL as a remote COUNT
    val conn2 = DriverManager.getConnection(url)
    val counts = try splits.map { s =>
      val rs = conn2.createStatement()
        .executeQuery(s"SELECT COUNT(*) FROM ($s) c")
      rs.next(); rs.getLong(1)
    } finally conn2.close()
    assert(counts.sum == 1000, counts.toString)
    val mean = counts.sum.toDouble / counts.size
    assert(counts.forall(_ <= 2 * mean),
      s"unbalanced range splits $counts (modulo would be [1000,0,0,0])")
  }

  test("sorted single-cursor fragment: local window re-uses the remote ORDER BY") {
    val dataDir = "/root/testdata/sf0.001"
    graft.federation.jdbc.JdbcHarness.registerViews(spark, dataDir)
    // Derby refuses window functions, so the window stays local — but the
    // fragment beneath it pushed ORDER BY + FETCH, one cursor, one
    // partition: the window must run WITHOUT an exchange or a re-sort
    val df = spark.sql(
      """SELECT k, price,
        |  SUM(CAST(price AS DECIMAL(18,2)))
        |    OVER (ORDER BY k ROWS UNBOUNDED PRECEDING) AS running
        |FROM (SELECT o_orderkey AS k, o_totalprice AS price
        |      FROM jdbc_orders ORDER BY o_orderkey LIMIT 200) t""".stripMargin)
    val planStr = df.queryExecution.executedPlan.toString()
    assert(planStr.contains("Window"), planStr)
    assert(planStr.contains("RemoteScan"), planStr)
    assert(!planStr.contains("Sort "),
      s"local re-sort above a remotely-sorted fragment:\n$planStr")
    assert(!planStr.contains("Exchange"),
      s"exchange above a single-cursor sorted fragment:\n$planStr")
    val want = spark.sql(
      s"""SELECT k, price,
         |  SUM(CAST(price AS DECIMAL(18,2)))
         |    OVER (ORDER BY k ROWS UNBOUNDED PRECEDING) AS running
         |FROM (SELECT o_orderkey AS k, o_totalprice AS price
         |      FROM parquet.`$dataDir/orders.parquet`
         |      ORDER BY o_orderkey LIMIT 200) t""".stripMargin)
      .collect().map(_.toString).toSeq
    assert(df.collect().map(_.toString).toSeq == want)
  }

  test("streaming fed source over the JDBC engine: the source is " +
      "executor-generic, not a DuckDB special") {
    val conn = DriverManager.getConnection(url)
    val st = conn.createStatement()
    try st.executeUpdate("DROP TABLE stream_src") catch { case _: Exception => () }
    st.executeUpdate("CREATE TABLE stream_src (id BIGINT, v VARCHAR(16))")
    st.executeUpdate(
      "INSERT INTO stream_src VALUES (1, 'a'), (2, 'b'), (3, 'c')")
    st.close(); conn.close()
    val e = new JdbcSqlExecutor("derby", spark, url, DerbyDialect)
    Federation.registerCatalog(spark, "jstreamcat", Seq(e))
    val ckpt = java.nio.file.Files.createTempDirectory("fed_jdbc_ck").toString
    val q = spark.readStream.format("graft-fed")
      .option("catalog", "jstreamcat")
      .option("table", "STREAM_SRC") // Derby metadata uppercases
      .option("cursor", "ID")
      .load()
      .writeStream.outputMode("append").format("memory")
      .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime(100))
      .queryName("fed_src_jdbc").option("checkpointLocation", ckpt).start()
    try {
      q.processAllAvailable()
      assert(spark.table("fed_src_jdbc").count() == 3)
      val c2 = DriverManager.getConnection(url)
      c2.createStatement().executeUpdate(
        "INSERT INTO stream_src VALUES (4, 'd'), (5, 'e')")
      c2.close()
      q.processAllAvailable()
      val got = spark.table("fed_src_jdbc")
        .select("ID").collect().map(_.getLong(0)).sorted.toSeq
      assert(got == (1L to 5L), s"incremental JDBC ingest broke: $got")
    } finally {
      q.stop()
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(ckpt))
    }
  }

  test("task retry cannot duplicate rows: staging replaces, publish is atomic") {
    // the 100 TB correctness trap the r8 verdict flagged: a task retry
    // (or speculative re-run) after partial committed INSERTs would
    // duplicate that partition's rows. The staged protocol drops and
    // re-creates the attempt's OWN staging table, so even a FULLY
    // COMMITTED earlier attempt contributes nothing.
    val ex = executor
    val ref = graft.federation.sql.RemoteTableRef.parse("retry_target")
    ex.createTable(ref, org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("k",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("v",
        org.apache.spark.sql.types.StringType))))
    val fields = ex.tableSchema(ref).fields
    val mk = (n: Int) => (0 until n).map(i =>
      org.apache.spark.sql.Row(i.toLong, s"v$i"))
    val stg = graft.federation.jdbc.JdbcSqlExecutor.stagePrefix("retry_target") + "0"
    // attempt 1: writes 60 of 100 rows and COMMITS (worst case — a crash
    // after commit, before task success was reported)
    graft.federation.jdbc.JdbcSqlExecutor.stagePartition(
      url, Map.empty, stg, fields, mk(60).iterator)
    // attempt 2 (the retry): same partition, full row set
    graft.federation.jdbc.JdbcSqlExecutor.stagePartition(
      url, Map.empty, stg, fields, mk(100).iterator)
    // driver publish: pull the staging table into the target atomically
    val conn = java.sql.DriverManager.getConnection(url)
    try {
      conn.setAutoCommit(false)
      val st = conn.createStatement()
      st.executeUpdate(s"""INSERT INTO "retry_target" SELECT * FROM "$stg"""")
      st.executeUpdate(s"""DROP TABLE "$stg"""")
      st.close()
      conn.commit()
    } finally conn.close()
    val got = graft.federation.Federation
      .remoteDataFrame(spark, "retry_target", ex)
    assert(got.count() == 100, "retry duplicated or lost rows")
    assert(got.select("k").distinct().count() == 100)
  }

  test("end-to-end staged insertInto: exact rows, staging protocol in the log") {
    val ex = executor
    val ref = graft.federation.sql.RemoteTableRef.parse("stage_e2e")
    ex.createTable(ref, org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("k",
        org.apache.spark.sql.types.LongType))))
    val df = spark.range(0, 1000, 1, 4).selectExpr("id AS k")
    val before = ex.dmlLog.size
    ex.insertInto(ref, df)
    val log = ex.dmlLog.drop(before)
    // publish statements reference the per-partition staging tables
    assert(log.count(s => s.contains("__stg_") &&
      s.startsWith("INSERT INTO")) == 4, log.mkString("\n"))
    val got = graft.federation.Federation.remoteDataFrame(spark, "stage_e2e", ex)
    assert(got.count() == 1000)
    // staging tables are gone after the publish
    assert(!ex.tableNames.exists(_.contains("__stg_")), ex.tableNames)
  }

  test("epoch fence: a replayed microbatch is a no-op, fence rides the publish") {
    val ex = executor
    val ref = graft.federation.sql.RemoteTableRef.parse("epoch_target")
    ex.createTable(ref, org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("k",
        org.apache.spark.sql.types.LongType))))
    ex.ensureEpochTable(ref)
    val batch = spark.range(0, 50).selectExpr("id AS k")
    assert(ex.insertIntoEpoch(ref, batch, epochId = 7L))
    // foreachBatch re-delivery after recovery: same epoch id again
    assert(!ex.insertIntoEpoch(ref, batch, epochId = 7L))
    val got = graft.federation.Federation
      .remoteDataFrame(spark, "epoch_target", ex)
    assert(got.count() == 50, "epoch replay duplicated rows")
    // a NEW epoch still appends
    assert(ex.insertIntoEpoch(ref,
      spark.range(100, 120).selectExpr("id AS k"), epochId = 8L))
    assert(got.count() == 70)
  }

  test("700-row bind build stages as a remote table; chunked VALUES is the fallback") {
    // Derby executes an inline VALUES join as an O(build × fact) nested
    // loop over a re-evaluated union chain (probed r10: 800 keys = 336s
    // against a 200k-row fact; the SAME 20k keys staged join in 0.5s) —
    // so past DerbyDialect.bindStageRows (64) the build must materialize
    // as a staging table the engine can plan a real join against, and
    // the table must be DROPPED once the SQL execution ends. With
    // staging disabled the historic chunked-UNION-ALL-VALUES form must
    // still ship (Derby's recursive VALUES parser dies past ~1000 flat
    // rows, probed r9), because it is the fallback when staging fails.
    Federation.install(spark)
    val dataDir = "/root/testdata/sf0.001"
    val ex = graft.federation.jdbc.JdbcHarness.executor(spark, dataDir)
    graft.federation.jdbc.JdbcHarness.registerViews(spark, dataDir)
    spark.range(700).selectExpr("CAST(id * 2 + 1 AS BIGINT) AS k")
      .createOrReplaceTempView("chunk_dim")
    def q = spark.sql(
      """SELECT COUNT(*) AS n FROM jdbc_orders
        |WHERE o_orderkey IN (SELECT k FROM chunk_dim)""".stripMargin)
    val want = spark.read.parquet(s"$dataDir/orders.parquet")
      .filter("o_orderkey % 2 = 1 AND o_orderkey <= 1399").count()

    // staged path (default)
    val before = ex.executedSql.size
    assert(q.collect().head.getLong(0) == want)
    val shipped = ex.executedSql.drop(before)
    assert(shipped.exists(s => s.contains("graft_bind_") &&
      s.contains("EXISTS")),
      s"no staged bind table in shipped SQL:\n${shipped.mkString("\n---\n")}")
    // cleanup: the execution-end listener fires asynchronously — the
    // staging table must disappear from the engine catalog
    val deadline = System.nanoTime() + 15L * 1000 * 1000 * 1000
    def staleTables() = ex.tableNames.filter(_.toLowerCase
      .startsWith("graft_bind_"))
    while (staleTables().nonEmpty && System.nanoTime() < deadline)
      Thread.sleep(100)
    assert(staleTables().isEmpty,
      s"staging tables leaked: ${staleTables().mkString(", ")}")

    // chunked fallback (staging off)
    spark.conf.set(
      graft.federation.exec.RemoteScanExec.StagingEnabledKey, "false")
    try {
      val b2 = ex.executedSql.size
      assert(q.collect().head.getLong(0) == want)
      val shipped2 = ex.executedSql.drop(b2)
      assert(shipped2.exists(s => s.contains("UNION ALL") &&
        s.contains("bj_c1") && s.contains("EXISTS")),
        s"no chunked VALUES in shipped SQL:\n${shipped2.mkString("\n---\n")}")
    } finally spark.conf.unset(
      graft.federation.exec.RemoteScanExec.StagingEnabledKey)
  }

  private def ddl(sqls: String*): Unit = {
    val conn = DriverManager.getConnection(url)
    val st = conn.createStatement()
    try sqls.foreach(st.executeUpdate) finally { st.close(); conn.close() }
  }

  private def msgs(t: Throwable): String = {
    var c: Throwable = t; val sb = new StringBuilder
    while (c != null) { sb.append(c.getMessage).append(' '); c = c.getCause }
    sb.toString
  }

  test("schema drift, retype: table recreated with a text column after " +
      "registration fails LOUD before any value decodes") {
    graft.federation.Federation.install(spark)
    ddl("CREATE TABLE drift_retype (id INT, v INT)",
      "INSERT INTO drift_retype VALUES (1, 10)")
    val df = graft.federation.Federation
      .remoteDataFrame(spark, "DRIFT_RETYPE", executor)
    assert(df.collect().head.getInt(1) == 10)
    // Derby can't ALTER a column's type across families; drop-and-recreate
    // is the equivalent live drift between registration and execution
    ddl("DROP TABLE drift_retype",
      "CREATE TABLE drift_retype (id INT, v VARCHAR(10))",
      "INSERT INTO drift_retype VALUES (1, 'ten')")
    val err = intercept[Throwable] { df.collect() }
    assert(msgs(err).contains("remote schema drift"))
    assert(msgs(err).contains("'V'"))
  }

  test("schema drift, column added: invisible to registered fragments") {
    graft.federation.Federation.install(spark)
    ddl("CREATE TABLE drift_add (id INT, v INT)",
      "INSERT INTO drift_add VALUES (1, 10)")
    val df = graft.federation.Federation
      .remoteDataFrame(spark, "DRIFT_ADD", executor)
    ddl("ALTER TABLE drift_add ADD COLUMN extra VARCHAR(8)")
    val got = df.collect()
    assert(got.length == 1 && got.head.getInt(1) == 10)
  }

  test("schema drift, column dropped: Derby's binder fails the fragment " +
      "loudly") {
    graft.federation.Federation.install(spark)
    ddl("CREATE TABLE drift_drop (id INT, v INT)",
      "INSERT INTO drift_drop VALUES (1, 10)")
    val df = graft.federation.Federation
      .remoteDataFrame(spark, "DRIFT_DROP", executor)
    ddl("ALTER TABLE drift_drop DROP COLUMN v")
    val err = intercept[Throwable] { df.collect() }
    // Derby 42X04: column not in any table in the FROM list
    assert(msgs(err).contains("42X04") || msgs(err).toLowerCase.contains("column"))
  }

  test("vacuum drops orphaned staging tables, sparing in-flight staging " +
      "and user tables (Derby leg)") {
    val e = executor
    val oldStamp = java.lang.Long.toHexString(
      System.currentTimeMillis() - 7200000L)
    val newStamp = java.lang.Long.toHexString(System.currentTimeMillis())
    val orphan = s"emp__stg_${oldStamp}7_0"
    val fresh = s"emp__stg_${newStamp}8_0"
    ddl(
      s"CREATE TABLE $orphan (x INT)",
      s"CREATE TABLE $fresh (x INT)",
      "CREATE TABLE graft_bind_dead (x INT)",
      "CREATE TABLE audit__stg_history (x INT)")
    try {
      val dropped = graft.federation.Federation.vacuum(e)
      assert(dropped.map(_.toLowerCase).toSet == Set(orphan),
        s"dropped $dropped")
      val dropped2 =
        graft.federation.Federation.vacuum(e, includeBindTables = true)
      assert(dropped2.map(_.toLowerCase).toSet == Set("graft_bind_dead"),
        s"dropped $dropped2")
      // the survivors: fresh staging (hidden from enumeration) + the
      // user table (enumerated)
      assert(e.tableNames.contains("AUDIT__STG_HISTORY"))
      val err = intercept[Throwable] { ddl(s"CREATE TABLE $fresh (x INT)") }
      assert(err.getMessage.toLowerCase.contains("exist"),
        s"fresh staging table must survive: ${err.getMessage}")
    } finally {
      try ddl(s"DROP TABLE $fresh") catch { case _: Throwable => () }
      try ddl("DROP TABLE audit__stg_history") catch { case _: Throwable => () }
    }
  }
}
