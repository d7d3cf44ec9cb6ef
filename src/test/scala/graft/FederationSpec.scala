package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

import graft.federation.FederationHarness
import graft.federation.plans.FederatedPlan
import graft.operators.Federated

/** Federation engine tests: every federated query must (a) actually cut a
  * [[FederatedPlan]] fragment, and (b) return exactly the rows the same
  * query over the plain parquet tables returns — the Spark analog of the
  * reference's end-to-end mock-executor tests (src/sql/mod.rs:578-767).
  * Plus golden-shape regressions for the unparser's LIMIT/ORDER BY peel.
  */
class FederationSpec extends AnyFunSuite with BeforeAndAfterAll {

  val dir = "/root/testdata/sf0.001"

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-federation-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private def setup(): Unit = {
    FederationHarness.setup(spark, dir)
    graft.sources.Tables.registerAll(spark, dir)
  }

  private def fedFragments(df: DataFrame): Seq[FederatedPlan] =
    df.queryExecution.optimizedPlan.collect { case f: FederatedPlan => f }

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq

  /** The plain-table equivalent of a fed_ / fedb_ query text. */
  private def localized(fedSql: String): String =
    fedSql.replaceAll("\\bfedb?_", "").replace("TIMESTAMP_NTZ", "TIMESTAMP")

  private def checkFederates(name: String, fedDf: => DataFrame,
      localSql: String, minFragments: Int = 1): Unit = test(name) {
    setup()
    val df = fedDf
    val frags = fedFragments(df)
    assert(frags.size >= minFragments,
      s"expected >= $minFragments federated fragment(s), got ${frags.size}:\n" +
        df.queryExecution.optimizedPlan)
    assert(rows(df) == rows(spark.sql(localSql)),
      "federated result differs from local execution")
  }

  checkFederates("fed q1 whole-query pushdown matches local",
    Federated.q1Pushdown(spark, dir),
    """SELECT l_returnflag, l_linestatus,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
      |  COUNT(*) AS n_lines
      |FROM lineitem
      |WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
      |GROUP BY l_returnflag, l_linestatus
      |ORDER BY l_returnflag, l_linestatus""".stripMargin)

  checkFederates("fed q3 multi-table join pushdown matches local",
    Federated.q3JoinPushdown(spark, dir),
    localized(
      """SELECT l_orderkey,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(12,2)))) AS DOUBLE) AS revenue
        |FROM fed_customer, fed_orders, fed_lineitem
        |WHERE c_mktsegment = 'BUILDING'
        |  AND c_custkey = o_custkey AND l_orderkey = o_orderkey
        |  AND o_orderdate < TIMESTAMP_NTZ '1998-03-15 00:00:00'
        |GROUP BY l_orderkey
        |ORDER BY revenue DESC, l_orderkey
        |LIMIT 10""".stripMargin))

  checkFederates("fed union-all pushdown matches local",
    Federated.unionPushdown(spark, dir),
    localized(
      """SELECT k, COUNT(*) AS n FROM (
        |  SELECT o_orderkey AS k FROM fed_orders WHERE o_orderstatus = 'F'
        |  UNION ALL
        |  SELECT l_orderkey AS k FROM fed_lineitem WHERE l_returnflag = 'R'
        |) t GROUP BY k
        |ORDER BY n DESC, k LIMIT 50""".stripMargin))

  checkFederates("fed two-provider join: two fragments, local join",
    Federated.twoProvidersJoin(spark, dir),
    localized(
      """SELECT n_name, COUNT(*) AS n_suppliers
        |FROM fed_supplier JOIN fedb_nation ON s_nationkey = n_nationkey
        |GROUP BY n_name
        |ORDER BY n_name""".stripMargin),
    minFragments = 2)

  checkFederates("fed mixed remote-local join matches local",
    Federated.mixedLocalRemote(spark, dir),
    localized(
      """SELECT o_orderpriority, COUNT(*) AS n,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS qty
        |FROM fed_lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin))

  checkFederates("fed limit/offset pushdown matches local",
    Federated.limitOffsetPushdown(spark, dir),
    localized(
      """SELECT o_orderkey, o_totalprice
        |FROM fed_orders
        |ORDER BY o_totalprice DESC, o_orderkey
        |LIMIT 20 OFFSET 5""".stripMargin))

  checkFederates("fed EXISTS pushdown matches local",
    Federated.existsPushdown(spark, dir),
    localized(
      """SELECT c_mktsegment, COUNT(*) AS n_customers
        |FROM fed_customer
        |WHERE EXISTS (SELECT 1 FROM fed_orders
        |              WHERE o_custkey = c_custkey
        |                AND o_orderpriority = '1-URGENT')
        |GROUP BY c_mktsegment
        |ORDER BY c_mktsegment""".stripMargin))

  checkFederates("fed DataFrame API pushdown matches local",
    Federated.dataframeApi(spark, dir),
    """SELECT l_linestatus, COUNT(*) AS n, MAX(l_quantity) AS max_qty
      |FROM lineitem
      |WHERE l_returnflag = 'R'
      |GROUP BY l_linestatus
      |ORDER BY l_linestatus""".stripMargin)

  // ---- LIMIT/ORDER BY clause-order regressions (ADVICE r1, high) ----

  test("sort above limit does NOT flatten into ORDER BY ... LIMIT") {
    setup()
    // inner block: deterministic first 7 orders by key; outer: re-sort by
    // price. Flattening to 'ORDER BY price LIMIT 7' would pick a different
    // row set (the old peel bug).
    val fedSql =
      """SELECT * FROM (
        |  SELECT o_orderkey, o_totalprice FROM fed_orders
        |  ORDER BY o_orderkey LIMIT 7
        |) t ORDER BY o_totalprice DESC, o_orderkey""".stripMargin
    val df = spark.sql(fedSql)
    assert(fedFragments(df).nonEmpty, "plan did not federate")
    assert(rows(df) == rows(spark.sql(localized(fedSql))),
      "sort-above-limit rows differ from local execution")
    // and the generated SQL keeps the limit inside a derived table
    val sql = df.queryExecution.executedPlan.toString()
    val scan = sql.linesIterator.find(_.contains("RemoteScan")).getOrElse("")
    assert(scan.contains("LIMIT 7"), s"limit lost: $scan")
    assert(scan.indexOf("LIMIT 7") < scan.lastIndexOf("ORDER BY"),
      s"limit must stay inside the subquery, before the outer ORDER BY: $scan")
  }

  test("order by + limit federates as trailing clauses in order") {
    setup()
    val df = spark.sql(
      "SELECT o_orderkey FROM fed_orders ORDER BY o_orderkey LIMIT 5")
    assert(fedFragments(df).nonEmpty)
    val scan = df.queryExecution.executedPlan.toString()
      .linesIterator.find(_.contains("RemoteScan")).getOrElse("")
    assert(scan.contains("ORDER BY") && scan.contains("LIMIT 5"))
    assert(scan.indexOf("ORDER BY") < scan.indexOf("LIMIT 5"))
    assert(rows(df) ==
      rows(spark.sql("SELECT o_orderkey FROM orders ORDER BY o_orderkey LIMIT 5")))
  }

  test("nullable sort key ordering matches local execution") {
    setup()
    val fedSql =
      """SELECT CASE WHEN o_orderstatus = 'F' THEN NULL ELSE o_custkey END AS k,
        |  o_orderkey
        |FROM fed_orders ORDER BY k ASC, o_orderkey LIMIT 50""".stripMargin
    val df = spark.sql(fedSql)
    assert(fedFragments(df).nonEmpty)
    assert(rows(df) == rows(spark.sql(localized(fedSql))))
  }

  // ---- grouping sets / subquery federation (SURVEY §2e) ----

  test("ROLLUP federates as GROUP BY GROUPING SETS and matches local") {
    setup()
    val fedSql =
      """SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n,
        |  MAX(o_totalprice) AS max_price
        |FROM fed_orders
        |GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
        |ORDER BY o_orderstatus ASC NULLS FIRST, o_orderpriority ASC NULLS FIRST""".stripMargin
    val df = spark.sql(fedSql)
    assert(fedFragments(df).nonEmpty, "rollup did not federate:\n" +
      df.queryExecution.optimizedPlan)
    val scan = df.queryExecution.executedPlan.toString()
      .linesIterator.find(_.contains("RemoteScan")).getOrElse("")
    assert(scan.contains("GROUPING SETS"), scan)
    assert(rows(df) == rows(spark.sql(localized(fedSql))))
  }

  test("CUBE federates and matches local") {
    setup()
    val fedSql =
      """SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n
        |FROM fed_orders
        |GROUP BY CUBE (o_orderstatus, o_orderpriority)
        |ORDER BY o_orderstatus ASC NULLS FIRST, o_orderpriority ASC NULLS FIRST, n""".stripMargin
    val df = spark.sql(fedSql)
    assert(fedFragments(df).nonEmpty)
    assert(rows(df) == rows(spark.sql(localized(fedSql))))
  }

  test("GROUPING() consumer keeps aggregate local but federates the scan") {
    setup()
    val fedSql =
      """SELECT o_orderstatus, GROUPING(o_orderstatus) AS g, COUNT(*) AS n
        |FROM fed_orders GROUP BY CUBE (o_orderstatus)
        |ORDER BY g, o_orderstatus""".stripMargin
    val df = spark.sql(fedSql)
    assert(fedFragments(df).nonEmpty, "scan under Expand should federate")
    assert(rows(df) == rows(spark.sql(localized(fedSql))))
  }

  test("uncorrelated scalar subquery federates inside the fragment") {
    setup()
    val fedSql =
      """SELECT o_orderkey FROM fed_orders
        |WHERE o_totalprice > (SELECT AVG(o_totalprice) FROM fed_orders)
        |ORDER BY o_orderkey LIMIT 20""".stripMargin
    val df = spark.sql(fedSql)
    val frags = fedFragments(df)
    assert(frags.size == 1,
      s"expected ONE fragment containing the subquery, got:\n" +
        df.queryExecution.optimizedPlan)
    val scan = df.queryExecution.executedPlan.toString()
      .linesIterator.find(_.contains("RemoteScan")).getOrElse("")
    assert(scan.toLowerCase.contains("avg"), s"subquery not in remote SQL: $scan")
    assert(rows(df) == rows(spark.sql(localized(fedSql))))
  }

  test("IN subquery federates as one fragment (semi-join rewrite)") {
    setup()
    val fedSql =
      """SELECT c_custkey FROM fed_customer
        |WHERE c_custkey IN (SELECT o_custkey FROM fed_orders
        |                    WHERE o_orderstatus = 'F')
        |ORDER BY c_custkey LIMIT 20""".stripMargin
    val df = spark.sql(fedSql)
    assert(fedFragments(df).size == 1,
      "IN-subquery should federate as one fragment:\n" +
        df.queryExecution.optimizedPlan)
    assert(rows(df) == rows(spark.sql(localized(fedSql))))
  }

  test("correlated scalar subquery stays local, scans federate") {
    setup()
    // per-customer max order price — correlation survives decorrelation in
    // some shapes; whatever Catalyst produces must still match local
    val fedSql =
      """SELECT c_custkey,
        |  (SELECT MAX(o_totalprice) FROM fed_orders WHERE o_custkey = c_custkey) AS max_price
        |FROM fed_customer
        |ORDER BY c_custkey LIMIT 20""".stripMargin
    val df = spark.sql(fedSql)
    assert(fedFragments(df).nonEmpty)
    assert(rows(df) == rows(spark.sql(localized(fedSql))))
  }

  test("wide scalar-function surface federates and matches local") {
    setup()
    val fedSql =
      """SELECT o_orderkey,
        |  UPPER(o_orderpriority) AS pri_u,
        |  REPLACE(o_orderstatus, 'F', 'X') AS st_x,
        |  LPAD(o_orderstatus, 12, '#') AS st_pad,
        |  INSTR(o_orderpriority, '-') AS dash_at,
        |  CONCAT_WS('/', o_orderstatus, o_orderpriority) AS tag,
        |  TRIM(BOTH '0' FROM CAST(o_orderkey AS STRING)) AS k_trim,
        |  NULLIF(o_orderstatus, 'O') AS st_null,
        |  POWER(o_totalprice, 0.5) AS sqrt_price,
        |  SIGN(o_totalprice - 100000) AS big,
        |  QUARTER(o_orderdate) AS qtr,
        |  DAYOFWEEK(o_orderdate) AS dow,
        |  DATEDIFF(TIMESTAMP '1998-12-31 00:00:00', o_orderdate) AS age_days
        |FROM fed_orders
        |WHERE o_orderpriority RLIKE '^[12]-'
        |ORDER BY o_orderkey LIMIT 25""".stripMargin
    val df = spark.sql(fedSql)
    assert(fedFragments(df).size == 1,
      "function-heavy query should federate as one fragment:\n" +
        df.queryExecution.optimizedPlan)
    assert(rows(df) == rows(spark.sql(localized(fedSql))))
  }

  test("window functions federate with PARTITION BY/ORDER BY intact") {
    setup()
    val df = Federated.windowPushdown(spark, dir)
    assert(fedFragments(df).nonEmpty, "window query did not federate:\n" +
      df.queryExecution.optimizedPlan)
    val scan = df.queryExecution.executedPlan.toString()
      .linesIterator.find(_.contains("RemoteScan")).getOrElse("")
    assert(scan.contains("OVER (PARTITION BY"),
      s"window not in remote SQL: $scan")
    val localSql =
      """SELECT o_orderpriority, o_orderkey, o_totalprice, rn, cnt_pri FROM (
        |  SELECT o_orderpriority, o_orderkey, o_totalprice,
        |    ROW_NUMBER() OVER (PARTITION BY o_orderpriority
        |      ORDER BY o_totalprice DESC, o_orderkey) AS rn,
        |    COUNT(*) OVER (PARTITION BY o_orderpriority) AS cnt_pri
        |  FROM orders
        |) t WHERE rn <= 3
        |ORDER BY o_orderpriority, rn""".stripMargin
    assert(rows(df) == rows(spark.sql(localSql)))
  }

  test("explicit ROWS frames federate: frame clause inside the remote SQL") {
    setup()
    val df = Federated.windowFramePushdown(spark, dir)
    assert(fedFragments(df).nonEmpty, "frame query did not federate:\n" +
      df.queryExecution.optimizedPlan)
    val scan = df.queryExecution.executedPlan.toString()
      .linesIterator.find(_.contains("RemoteScan")).getOrElse("")
    assert(scan.contains("ROWS BETWEEN 2 PRECEDING AND CURRENT ROW"),
      s"moving frame not in remote SQL: $scan")
    assert(scan.contains("ROWS BETWEEN 1 PRECEDING AND 1 FOLLOWING"),
      s"centered frame not in remote SQL: $scan")
    assert(rows(df) == rows(spark.sql(
      """SELECT o_custkey, o_orderkey,
        |  CAST(SUM(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)) OVER (
        |    PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |    ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS BIGINT) AS mv_cents,
        |  COUNT(*) OVER (
        |    PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |    ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS mv_n,
        |  MIN(o_totalprice) OVER (
        |    PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |    ROWS BETWEEN 1 PRECEDING AND 1 FOLLOWING) AS neigh_min
        |FROM orders WHERE o_custkey <= 200
        |ORDER BY o_custkey, o_orderkey""".stripMargin)))
  }

  test("window navigation functions federate; bare first()/last() stay refused") {
    setup()
    val df = Federated.windowNavPushdown(spark, dir)
    assert(fedFragments(df).nonEmpty, "nav query did not federate:\n" +
      df.queryExecution.optimizedPlan)
    val scan = df.queryExecution.executedPlan.toString()
      .linesIterator.find(_.contains("RemoteScan")).getOrElse("")
    for (f <- Seq("first_value(", "last_value(", "nth_value(",
        "percent_rank()", "cume_dist()"))
      assert(scan.contains(f), s"$f not in remote SQL: $scan")
    assert(rows(df) == rows(spark.sql(
      """SELECT o_orderpriority, o_orderkey,
        |  FIRST_VALUE(o_orderkey) OVER w AS best_key,
        |  LAST_VALUE(o_orderkey) OVER w AS run_key,
        |  NTH_VALUE(o_orderkey, 2) OVER w AS second_key,
        |  PERCENT_RANK() OVER w AS pr,
        |  CUME_DIST() OVER w AS cd
        |FROM orders WHERE o_orderkey <= 2000
        |WINDOW w AS (PARTITION BY o_orderpriority
        |  ORDER BY o_totalprice DESC, o_orderkey)
        |ORDER BY o_orderpriority, o_orderkey""".stripMargin)))
    // first() as a plain aggregate is non-deterministic SQL: the whole
    // aggregate must stay LOCAL (only the scan federates)
    val refused = spark.sql(
      "SELECT o_orderpriority, FIRST(o_orderkey) AS fk FROM fed_orders " +
        "GROUP BY o_orderpriority")
    val remote = refused.queryExecution.executedPlan.toString()
      .linesIterator.find(_.contains("RemoteScan")).getOrElse("")
    assert(!remote.toLowerCase.contains("first"),
      s"bare first() must not ship remotely: $remote")
  }

  test("NOT IN subquery federates as null-aware anti join") {
    setup()
    val df = Federated.notInPushdown(spark, dir)
    assert(fedFragments(df).nonEmpty)
    assert(rows(df) == rows(spark.sql(
      """SELECT c_custkey, c_mktsegment
        |FROM customer
        |WHERE c_custkey NOT IN (SELECT o_custkey FROM orders
        |                        WHERE o_orderpriority = '1-URGENT')
        |ORDER BY c_custkey
        |LIMIT 30""".stripMargin)))
  }

  // ---- executor hooks & multi-executor catalog (SURVEY §2d) ----

  test("sqlRewriter hook is applied to the generated SQL exactly once") {
    setup()
    // mirror of the reference's sql_query_rewriter invocation test
    // (sql/mod.rs:820-869): hook must run exactly once per remote execution
    var calls = 0
    val counting = new graft.federation.sql.SparkSqlExecutor(
      "counting", spark.newSession(),
      Map("orders" -> s"$dir/orders.parquet"),
      context = s"counting@$dir",
      hookSql = { s => calls += 1; s })
    graft.federation.Federation.registerRemoteTable(
      spark, "hook_orders", "orders", counting)
    val df = spark.sql(
      "SELECT COUNT(*) AS n FROM hook_orders WHERE o_orderstatus = 'F'")
    val n = df.collect().head.getLong(0)
    assert(calls >= 1, "sqlRewriter hook never invoked")
    val expected = spark.sql(
      "SELECT COUNT(*) AS n FROM orders WHERE o_orderstatus = 'F'")
      .collect().head.getLong(0)
    assert(n == expected)
  }

  test("planRewriter hook narrows the fragment remotely, schema preserved") {
    import org.apache.spark.sql.catalyst.dsl.expressions._
    import org.apache.spark.sql.catalyst.expressions.{AttributeReference, GreaterThan, Literal}
    import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan}
    setup()
    // engine-level row policy: only orders with key > 100 are visible
    val policy: LogicalPlan => LogicalPlan = { p =>
      p.output.find(_.name == "o_orderkey") match {
        case Some(k) => Filter(GreaterThan(k, Literal(100L)), p)
        case None => p
      }
    }
    val policed = new graft.federation.sql.SparkSqlExecutor(
      "policed", spark.newSession(),
      Map("orders" -> s"$dir/orders.parquet"),
      context = s"policed@$dir",
      hookPlan = policy)
    graft.federation.Federation.registerRemoteTable(
      spark, "policed_orders", "orders", policed)
    val df = spark.sql(
      "SELECT o_orderkey FROM policed_orders ORDER BY o_orderkey LIMIT 5")
    assert(fedFragments(df).nonEmpty)
    val scan = df.queryExecution.executedPlan.toString()
      .linesIterator.find(_.contains("RemoteScan")).getOrElse("")
    assert(scan.contains("> 100"), s"policy filter not in remote SQL: $scan")
    val keys = df.collect().map(_.getLong(0)).toSeq
    assert(keys.forall(_ > 100), s"policy not applied: $keys")
  }

  test("DataFrame .distinct() federates as SELECT DISTINCT") {
    setup()
    val alpha = FederationHarness.executor(spark, dir, "alpha")
    val before = alpha.executedSql.size
    val df = Federated.distinctPushdown(spark, dir)
    assert(fedFragments(df).nonEmpty, ".distinct() did not federate")
    val got = rows(df)
    // Catalyst lowers Deduplicate to Aggregate(group-by-all-cols) before
    // the rule runs, so the dedup ships as the equivalent GROUP BY form;
    // the direct Deduplicate→SELECT DISTINCT path is golden-pinned in
    // UnparserSpec. Either way the dedup must run REMOTELY.
    val executed = alpha.executedSql.drop(before)
    assert(executed.exists(s => s.contains("SELECT DISTINCT") ||
      (s.contains("GROUP BY") && s.contains("o_orderpriority"))),
      s"remote SQL does not deduplicate: $executed")
    val expected = rows(spark.sql(
      """SELECT DISTINCT o_orderstatus, o_orderpriority FROM orders
        |ORDER BY o_orderstatus, o_orderpriority""".stripMargin))
    assert(got == expected)
    // subset-key dropDuplicates with surviving non-key columns has no
    // deterministic SQL form (arbitrary-row-per-key): the DEDUP must stay
    // local. NOTE the action matters: under count() Catalyst prunes the
    // non-key columns and the dedup legitimately federates as a full-key
    // GROUP BY — collect() keeps the non-key columns and forces the
    // nondeterministic shape this guards against.
    val beforeSub = alpha.executedSql.size
    val sub = graft.federation.Federation.remoteDataFrame(spark, "orders",
      alpha).select("o_orderstatus", "o_orderpriority", "o_orderkey")
      .dropDuplicates("o_orderstatus")
    assert(sub.collect().length > 0)
    val subExecuted = alpha.executedSql.drop(beforeSub)
    assert(subExecuted.nonEmpty, "the underlying scan should still federate")
    assert(!subExecuted.exists(s => s.contains("SELECT DISTINCT") ||
        s.toUpperCase.contains("GROUP BY") ||
        s.toUpperCase.contains("FIRST(")),
      s"subset-key dedup leaked into remote SQL:\n${subExecuted.mkString("\n")}")
    // and the dedup sits locally ABOVE the federated fragment
    assert(fedFragments(sub).nonEmpty,
      s"scan below the local dedup did not federate:\n${sub.queryExecution.optimizedPlan}")
  }

  test("identical remote fragments in one plan execute once (leaf reuse)") {
    setup()
    import org.apache.spark.sql.functions._
    val alpha = FederationHarness.executor(spark, dir, "alpha")
    // spark_partition_id never unparses, so the fragment boundary sits
    // UNDER it — and the two consumers aggregate DIFFERENTLY, so Spark's
    // own ReuseExchange (which needs canonically-equal exchanges) cannot
    // collapse them: only leaf-level reuse can stop the second remote run.
    // (A single-provider self-union federates whole as one SQL — pinned
    // by the fed_union one-fragment test — hence the local barrier here.)
    def scan = graft.federation.Federation
      .remoteDataFrame(spark, "orders", alpha)
      .select(col("o_orderpriority"))
      .withColumn("pid", spark_partition_id())
    val a = scan.groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n"), max(col("pid")).as("mpa"))
    val b = scan.groupBy(col("o_orderpriority"))
      .agg(sum(col("pid")).as("sp"))
    // mpa/sp must survive into the output, else column pruning deletes
    // the nondeterministic barrier and the whole join federates as one
    // SQL (good — but not what THIS test exercises)
    val joined = a.join(b, "o_orderpriority")
      .orderBy(col("o_orderpriority"))
      .select(col("o_orderpriority"), col("n"), col("mpa"), col("sp"))
    val before = alpha.executedSql.size
    val got = joined.collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    val plan = joined.queryExecution.executedPlan.toString()
      .split("== Initial Plan ==").head
    assert(plan.sliding("RemoteScan".length).count(_ == "RemoteScan") == 2,
      s"expected two RemoteScan leaves:\n$plan")
    // ...but the remote engine ran the fragment ONCE — the second leaf
    // received the first's RDD, persisted so its stage reads cache
    val executed = alpha.executedSql.drop(before)
    assert(executed.size == 1,
      s"identical fragment executed ${executed.size}x:\n${executed.mkString("\n")}")
    // and the join produced the base aggregate exactly
    val want = spark.sql(
      """SELECT o_orderpriority, COUNT(*) FROM orders
        |GROUP BY 1 ORDER BY 1""".stripMargin)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(got == want)
    // fragments that render DIFFERENT SQL never unify
    val b2 = graft.federation.Federation
      .remoteDataFrame(spark, "orders", alpha)
      .filter(col("o_orderpriority") =!= "5-LOW")
      .select(col("o_orderpriority"))
      .withColumn("pid", spark_partition_id())
      .groupBy(col("o_orderpriority")).agg(sum(col("pid")).as("sp"))
    val mixed = a.join(b2, "o_orderpriority")
    val before2 = alpha.executedSql.size
    mixed.collect()
    val executed2 = alpha.executedSql.drop(before2)
    assert(executed2.distinct.size == 2,
      s"distinct fragments wrongly unified:\n${executed2.mkString("\n")}")
  }

  test("per-table hooks: two tables of one provider, each applied once") {
    setup()
    // reference: each SQLTableSource carries its own rewriters
    // (src/sql/table.rs:22-46), gathered per fragment (src/sql/mod.rs:234-266)
    var plansA = 0
    var plansB = 0
    val hooksA = new graft.federation.sql.TableHooks(
      planRewriter = { p => plansA += 1; p },
      sqlRewriter = s => s + " /* @hookA */", name = "hookA")
    val hooksB = new graft.federation.sql.TableHooks(
      planRewriter = { p => plansB += 1; p },
      sqlRewriter = s => s + " /* @hookB */", name = "hookB")
    val ex = new graft.federation.sql.SparkSqlExecutor(
      "tblhooks", spark.newSession(),
      Map("orders" -> s"$dir/orders.parquet",
        "lineitem" -> s"$dir/lineitem.parquet"),
      context = s"tblhooks@$dir")
    graft.federation.Federation.registerRemoteTable(
      spark, "th_orders", "orders", ex, Some(hooksA))
    graft.federation.Federation.registerRemoteTable(
      spark, "th_lineitem", "lineitem", ex, Some(hooksB))
    val df = spark.sql(
      """SELECT COUNT(*) AS n FROM th_orders JOIN th_lineitem
        |ON o_orderkey = l_orderkey WHERE o_orderstatus = 'F'""".stripMargin)
    assert(fedFragments(df).nonEmpty, "join did not federate")
    val n = df.collect().head.getLong(0)
    val sql = ex.executedSql.synchronized(ex.executedSql.last)
    def occurrences(marker: String): Int =
      sql.sliding(marker.length).count(_ == marker)
    assert(occurrences("@hookA") == 1,
      s"hookA applied ${occurrences("@hookA")} times in: $sql")
    assert(occurrences("@hookB") == 1,
      s"hookB applied ${occurrences("@hookB")} times in: $sql")
    assert(plansA >= 1 && plansB >= 1, "per-table plan hooks never invoked")
    val expected = spark.sql(
      """SELECT COUNT(*) AS n FROM orders JOIN lineitem
        |ON o_orderkey = l_orderkey WHERE o_orderstatus = 'F'""".stripMargin)
      .collect().head.getLong(0)
    assert(n == expected)
  }

  test("mock: div pushes as Spark's div, and a LEGACY decimal narrowing " +
      "as TRY_CAST — both give the local answer") {
    setup()
    // a column divisor stays local on the mock: zero raises or gives NULL
    // by the mock session's own ANSI setting
    val tmp = java.nio.file.Files.createTempDirectory("fed_div").toString
    try {
      spark.sql("SELECT * FROM VALUES (7L, 2L, CAST(123456.5 AS " +
        "DECIMAL(20,8))), (-7L, 2L, CAST(12.5 AS DECIMAL(20,8))), " +
        "(9L, 0L, CAST(-3.25 AS DECIMAL(20,8))) AS t(a, b, m)")
        .write.parquet(s"$tmp/div_t")
      spark.read.parquet(s"$tmp/div_t").createOrReplaceTempView("div_local")
      val ex = new graft.federation.sql.SparkSqlExecutor("mockdiv",
        spark.newSession(), Map("div_t" -> s"$tmp/div_t"),
        context = s"mockdiv@$tmp")
      graft.federation.Federation.registerRemoteTable(
        spark, "fed_div_t", "div_t", ex)
      def check(q: String, pushed: String): Unit = {
        val df = spark.sql(q.replace("FROM t", "FROM fed_div_t"))
        val got = df.collect().map(_.toString).sorted.toSeq
        assert(fedFragments(df).nonEmpty, q)
        val wire = ex.executedSql.synchronized(ex.executedSql.last)
        assert(wire.contains(pushed), wire)
        assert(got == spark.sql(q.replace("FROM t", "FROM div_local"))
          .collect().map(_.toString).sorted.toSeq, q)
      }
      // Spark's `/` is fractional: (7 / 2) * 2 would come back as 7
      check("SELECT a, (a div 2) * 2 AS q FROM t", " div 2)")
      val key = "spark.sql.ansi.enabled"
      spark.conf.set(key, "false")
      try {
        // 123456.5 overflows DECIMAL(10,8): NULL without ANSI
        check("SELECT CAST(m AS DECIMAL(10,8)) AS c FROM t", "TRY_CAST(")
      } finally spark.conf.unset(key)
    } finally org.apache.commons.io.FileUtils
      .deleteQuietly(new java.io.File(tmp))
  }

  test("mock: `/` and `%` by a column divisor stay local under ANSI and " +
      "LEGACY, and give the local answer") {
    setup()
    // the mock's inner session does not follow this session's runtime
    // ANSI setting, so a zero divisor is only exact where Spark decides
    val tmp = java.nio.file.Files.createTempDirectory("fed_zdiv").toString
    try {
      spark.sql("SELECT * FROM VALUES (7.5D, 7L, 2L), (1.0D, 9L, 0L) " +
        "AS t(d, a, b)").write.parquet(s"$tmp/zdiv_t")
      spark.read.parquet(s"$tmp/zdiv_t").createOrReplaceTempView("zdiv_local")
      val ex = new graft.federation.sql.SparkSqlExecutor("mockzdiv",
        spark.newSession(), Map("zdiv_t" -> s"$tmp/zdiv_t"),
        context = s"mockzdiv@$tmp")
      graft.federation.Federation.registerRemoteTable(
        spark, "fed_zdiv_t", "zdiv_t", ex)
      def run(q: String, table: String): Either[String, Seq[String]] =
        try Right(spark.sql(q.replace("FROM t", s"FROM $table"))
          .collect().map(_.toString).sorted.toSeq)
        catch { case e: Exception => Left(e.getClass.getName) }
      val key = "spark.sql.ansi.enabled"
      for (ansi <- Seq("true", "false"); op <- Seq("/", "%");
           lhs <- Seq("d", "a")) {
        val q = s"SELECT $lhs $op b AS q FROM t"
        spark.conf.set(key, ansi)
        try {
          val got = run(q, "fed_zdiv_t")
          val wire = ex.executedSql.synchronized(ex.executedSql.last)
          assert(!wire.contains(s" $op "), s"$q (ANSI $ansi): $wire")
          assert(got.isLeft == (ansi == "true"), s"$q (ANSI $ansi): $got")
          assert(got == run(q, "zdiv_local"), s"$q (ANSI $ansi)")
        } finally spark.conf.unset(key)
      }
    } finally org.apache.commons.io.FileUtils
      .deleteQuietly(new java.io.File(tmp))
  }

  test("per-table hooks: self-joined table contributes its hooks once") {
    setup()
    val hooks = new graft.federation.sql.TableHooks(
      sqlRewriter = s => s + " /* @selfhook */", name = "selfhook")
    val ex = new graft.federation.sql.SparkSqlExecutor(
      "selfhooks", spark.newSession(),
      Map("nation" -> s"$dir/nation.parquet"),
      context = s"selfhooks@$dir")
    graft.federation.Federation.registerRemoteTable(
      spark, "sh_nation", "nation", ex, Some(hooks))
    // self-join: the fragment holds two RemoteRelation instances (newInstance
    // copies) sharing one TableHooks reference -> applied once, not twice
    val df = spark.sql(
      """SELECT COUNT(*) AS n FROM sh_nation a JOIN sh_nation b
        |ON a.n_regionkey = b.n_regionkey""".stripMargin)
    assert(fedFragments(df).nonEmpty, "self-join did not federate")
    val n = df.collect().head.getLong(0)
    val sql = ex.executedSql.synchronized(ex.executedSql.last)
    val marker = "@selfhook"
    assert(sql.sliding(marker.length).count(_ == marker) == 1,
      s"self-join should apply the table hook exactly once: $sql")
    val expected = spark.sql(
      """SELECT COUNT(*) AS n FROM nation a JOIN nation b
        |ON a.n_regionkey = b.n_regionkey""".stripMargin)
      .collect().head.getLong(0)
    assert(n == expected)
  }

  test("registerAllChained: first executor listing a table wins") {
    setup()
    val a = FederationHarness.executor(spark, dir, "alpha")
    val b = FederationHarness.executor(spark, dir, "beta")
    graft.federation.Federation.registerAllChained(
      spark, Seq(a, b), prefix = "chain_")
    val df = spark.sql("SELECT COUNT(*) AS n FROM chain_orders")
    val rel = df.queryExecution.analyzed.collect {
      case r: graft.federation.plans.RemoteRelation => r
    }
    assert(rel.nonEmpty && (rel.head.executor eq a),
      "chained registration should bind to the FIRST executor")
    assert(df.collect().head.getLong(0) > 0)
  }

  // ---- scale: split reads & stats-driven planning (SURVEY §7.4 risk 7) ----

  test("splittable fragment fans out into n disjoint remote cursors") {
    setup()
    val split3 = new graft.federation.sql.SparkSqlExecutor(
      "split3", spark.newSession(),
      Map("orders" -> s"$dir/orders.parquet"),
      context = s"split3@$dir", numSplits = 3)
    graft.federation.Federation.registerRemoteTable(
      spark, "split_orders", "orders", split3)
    val df = spark.sql(
      "SELECT o_orderkey, o_totalprice FROM split_orders WHERE o_totalprice > 1000")
    assert(fedFragments(df).nonEmpty)
    val scans = df.queryExecution.executedPlan.collect {
      case r: graft.federation.exec.RemoteScanExec => r
    }
    assert(scans.nonEmpty && scans.head.sqls.size == 3,
      s"expected 3 split queries: ${scans.map(_.sqls)}")
    assert(scans.head.sqls.forall(_.contains("% 3")),
      s"split predicate missing: ${scans.head.sqls}")
    // union of the splits == the unsplit result
    val expected = spark.sql(
      "SELECT o_orderkey, o_totalprice FROM orders WHERE o_totalprice > 1000")
    assert(df.collect().map(_.getLong(0)).sorted.toSeq ==
      expected.collect().map(_.getLong(0)).sorted.toSeq)
  }

  test("split column prefers a *key attribute over a low-cardinality first int") {
    setup()
    val ex = FederationHarness.executor(spark, dir, "alpha")
    // l_linenumber (values 1..7) is the FIRST integral output attribute;
    // modulo-n over it would leave splits empty or skewed. The name
    // heuristic must pick l_orderkey instead.
    val df = graft.federation.Federation
      .remoteDataFrame(spark, "lineitem", ex)
      .select("l_linenumber", "l_quantity", "l_orderkey")
    val col = graft.federation.sql.SplitScan
      .splitColumn(df.queryExecution.analyzed)
    assert(col.map(_.name) == Some("l_orderkey"),
      s"expected l_orderkey as split column, got $col")
    // a fragment with NO key-named integral falls back to the first integral
    val df2 = graft.federation.Federation
      .remoteDataFrame(spark, "lineitem", ex)
      .select("l_linenumber", "l_quantity")
    val col2 = graft.federation.sql.SplitScan
      .splitColumn(df2.queryExecution.analyzed)
    assert(col2.map(_.name) == Some("l_linenumber"))
  }

  test("split queries are balanced: no split takes >2x the mean rows") {
    setup()
    val split4 = new graft.federation.sql.SparkSqlExecutor(
      "split4bal", spark.newSession(),
      Map("lineitem" -> s"$dir/lineitem.parquet"),
      context = s"split4bal@$dir", numSplits = 4)
    graft.federation.Federation.registerRemoteTable(
      spark, "bal_lineitem", "lineitem", split4)
    val df = spark.sql(
      "SELECT l_linenumber, l_orderkey, l_quantity FROM bal_lineitem WHERE l_quantity > 5")
    val scans = df.queryExecution.executedPlan.collect {
      case r: graft.federation.exec.RemoteScanExec => r
    }
    assert(scans.nonEmpty && scans.head.sqls.size == 4,
      s"expected 4 split queries: ${scans.map(_.sqls)}")
    assert(scans.head.sqls.forall(_.contains("l_orderkey")),
      s"splits must be on the key column: ${scans.head.sqls}")
    df.count() // materialize so the splits actually execute
    val counts = scans.head.sqls.map { s =>
      split4.inner.sql(s"SELECT COUNT(*) c FROM ($s) split_bal").head().getLong(0)
    }
    val mean = counts.sum.toDouble / counts.size
    assert(counts.forall(_ <= 2 * mean),
      s"unbalanced splits $counts (mean $mean)")
  }

  test("order-sensitive fragments are never split") {
    setup()
    val split3 = new graft.federation.sql.SparkSqlExecutor(
      "split3b", spark.newSession(),
      Map("orders" -> s"$dir/orders.parquet"),
      context = s"split3b@$dir", numSplits = 3)
    graft.federation.Federation.registerRemoteTable(
      spark, "split_orders_b", "orders", split3)
    val df = spark.sql(
      "SELECT o_orderkey FROM split_orders_b ORDER BY o_totalprice DESC LIMIT 5")
    val scans = df.queryExecution.executedPlan.collect {
      case r: graft.federation.exec.RemoteScanExec => r
    }
    assert(scans.nonEmpty && scans.head.sqls.size == 1,
      s"limit/sort fragment must stay a single cursor: ${scans.map(_.sqls)}")
    assert(rows(df) == rows(spark.sql(
      "SELECT o_orderkey FROM orders ORDER BY o_totalprice DESC LIMIT 5")))
  }

  test("remote statistics drive broadcast-join selection") {
    setup()
    // fed_nation is tiny; its stats flow RemoteRelation.computeStats →
    // FederatedPlan.computeStats → join planning, so the local join side
    // should broadcast the federated fragment
    val df = spark.sql(
      """SELECT n.n_name, COUNT(*) AS n_orders
        |FROM orders o JOIN fed_customer c ON o.o_custkey = c.c_custkey
        |JOIN fed_nation n ON c.c_nationkey = n.n_nationkey
        |GROUP BY n.n_name ORDER BY n.n_name""".stripMargin)
    val planStr = df.queryExecution.executedPlan.toString()
    assert(planStr.contains("BroadcastHashJoin"),
      s"small federated fragment should broadcast:\n$planStr")
    assert(df.collect().nonEmpty)
  }

  test("INTERSECT/EXCEPT lower to semi/anti joins and federate as one remote SQL") {
    setup()
    val alpha = FederationHarness.executor(spark, dir, "alpha")
    val cases = Seq(
      (Federated.intersectPushdown(spark, dir),
        """SELECT c_custkey AS k FROM customer WHERE c_acctbal > 100
          |INTERSECT
          |SELECT o_custkey AS k FROM orders WHERE o_orderstatus = 'F'
          |ORDER BY k LIMIT 40""".stripMargin, "EXISTS"),
      (Federated.exceptPushdown(spark, dir),
        """SELECT c_custkey AS k FROM customer WHERE c_acctbal > 100
          |EXCEPT
          |SELECT o_custkey AS k FROM orders WHERE o_orderstatus = 'F'
          |ORDER BY k LIMIT 40""".stripMargin, "NOT EXISTS"))
    for ((df, localSql, marker) <- cases) {
      assert(fedFragments(df).size == 1,
        s"set operation did not federate as one fragment:\n" +
          df.queryExecution.optimizedPlan)
      val before = alpha.executedSql.size
      assert(rows(df) == rows(spark.sql(localSql)),
        s"$marker set-op result differs from local execution")
      val executed = alpha.executedSql.drop(before)
      assert(executed.exists(s => s.contains("customer") &&
          s.contains("orders") && s.contains(marker)),
        s"no remote SQL carries the whole set-op as $marker:\n" +
          executed.mkString("\n"))
    }
  }

  test("explainFederated lists each fragment's provider and shipped SQL") {
    setup()
    val alpha = FederationHarness.executor(spark, dir, "alpha")
    val df = operators.Federated.partialAggUnion(spark, dir)
    val ex = graft.federation.Federation.explainFederated(df).collect()
    assert(ex.length == 2, ex.mkString("\n"))
    assert(ex.map(_.getString(1)).toSet.subsetOf(Set("alpha", "beta")),
      ex.mkString("\n"))
    // the surfaced SQL is the fragment's actual wire SQL: running the
    // query must execute exactly those statements (modulo split/filter
    // inlining, absent here)
    val before = alpha.executedSql.size
    df.collect()
    val ran = alpha.executedSql.drop(before)
    val shown = ex.filter(_.getString(1) == "alpha").map(_.getString(6))
    assert(shown.forall(sql => ran.contains(sql)),
      s"shown:\n${shown.mkString("\n")}\nran:\n${ran.mkString("\n")}")
    // every fragment row reports its cursor count
    assert(ex.forall(_.getInt(2) >= 1))
  }

  test("partial agg pushdown: multi-provider union aggregates remotely per provider") {
    setup()
    val alpha = FederationHarness.executor(spark, dir, "alpha")
    val beta = FederationHarness.executor(spark, dir, "beta")
    val beforeA = alpha.executedSql.size
    val beforeB = beta.executedSql.size
    val df = Federated.partialAggUnion(spark, dir)
    // one fragment per provider, each carrying a partial GROUP BY
    assert(fedFragments(df).size == 2,
      s"expected 2 per-provider fragments:\n${df.queryExecution.optimizedPlan}")
    val expected = rows(spark.sql(
      """SELECT st, COUNT(*) AS n,
        |  CAST(SUM(price) AS DOUBLE) AS total,
        |  MIN(price) AS lo, MAX(price) AS hi
        |FROM (
        |  SELECT o_orderstatus AS st,
        |    CAST(o_totalprice AS DECIMAL(18,2)) AS price
        |  FROM orders WHERE o_orderpriority = '1-URGENT'
        |  UNION ALL
        |  SELECT o_orderstatus,
        |    CAST(o_totalprice AS DECIMAL(18,2))
        |  FROM orders WHERE o_orderpriority = '2-HIGH'
        |) t GROUP BY st ORDER BY st""".stripMargin))
    assert(rows(df) == expected,
      "partial-agg result differs from local execution")
    // each provider executed its OWN partial aggregate remotely: the
    // __gp_ partial aliases and the GROUP BY are inside the remote SQL
    for ((ex, before, nm) <- Seq((alpha, beforeA, "alpha"),
        (beta, beforeB, "beta"))) {
      val executed = ex.executedSql.drop(before)
      assert(executed.exists(s => s.contains("__gp_") &&
          s.contains("GROUP BY") && s.toUpperCase.contains("COUNT(")),
        s"$nm remote SQL carries no partial aggregate:\n" +
          executed.mkString("\n"))
    }
  }

  test("partial agg does NOT split a single-provider union (whole-SQL wins)") {
    setup()
    val alpha = FederationHarness.executor(spark, dir, "alpha")
    val before = alpha.executedSql.size
    val df = Federated.unionPushdown(spark, dir)
    assert(fedFragments(df).size == 1,
      s"single-provider union+agg must stay one fragment:\n" +
        df.queryExecution.optimizedPlan)
    df.collect()
    val executed = alpha.executedSql.drop(before)
    assert(!executed.exists(_.contains("__gp_")),
      s"single-provider union was needlessly partialized:\n" +
        executed.mkString("\n"))
  }

  test("fed_union ships as ONE remote SQL, no per-arm derived-table regression") {
    // Bench-flag disposition guard (r7→r8): the r7 union unparser changes
    // (ORDER-BY scope, derived-table wrapping for arms with their own
    // ORDER BY/LIMIT) must not regress this query's shape — a GROUP BY
    // over a same-provider UNION ALL federates as ONE remote SQL whose
    // arms carry only their WHEREs, with the sort/limit once, outermost.
    setup()
    val alpha = FederationHarness.executor(spark, dir, "alpha")
    val before = alpha.executedSql.size
    val df = Federated.unionPushdown(spark, dir)
    assert(fedFragments(df).size == 1,
      s"union+agg must be one fragment:\n${df.queryExecution.optimizedPlan}")
    df.collect()
    val executed = alpha.executedSql.drop(before)
    assert(executed.size == 1,
      s"expected exactly ONE remote SQL, got:\n${executed.mkString("\n")}")
    val sql = executed.head
    assert(sql.contains("UNION ALL") && sql.contains("orders") &&
      sql.contains("lineitem"), s"union did not ship whole: $sql")
    assert("GROUP BY".r.findAllIn(sql).size == 1, s"agg not single: $sql")
    assert("ORDER BY".r.findAllIn(sql).size == 1 &&
      "LIMIT".r.findAllIn(sql).size == 1,
      s"per-arm ORDER BY/LIMIT wrap crept into the union arms: $sql")
  }

  test("count() over a federated GROUP BY reaches a rule fixpoint (no ping-pong)") {
    // Regression: Dataset.count() prunes a federated GROUP BY to a pure
    // dedup Aggregate (group keys only, no agg calls, so no __gp_ marker
    // survives). PartialAggRule used to re-split it every iteration after
    // FederationRule absorbed the per-arm dedup back into the fragments —
    // the batch ping-ponged to Catalyst's 100-iteration cap on EVERY
    // count() of this family. The optimized plan must now be a fixpoint
    // of the whole graft batch.
    setup()
    import graft.federation._
    val rules: Seq[org.apache.spark.sql.catalyst.rules.Rule[
      org.apache.spark.sql.catalyst.plans.logical.LogicalPlan]] =
      Seq(PartialAggRule, TopKPushdownRule, GroupTopKPushdownRule,
        JoinUnionDistributeRule, FederationRule, BindJoinRule,
        RuntimeFilterRule)
    for (q <- Seq("fed_partial_agg", "fed_union_join_agg",
        "fed_union_semi_agg", "fed_partial_distinct")) {
      val cnt = SparkEntry.queries(q)(spark, dir).groupBy().count()
      val opt = cnt.queryExecution.optimizedPlan
      var cur = opt
      rules.foreach(r => cur = r(cur))
      assert(cur.fastEquals(opt),
        s"$q: graft rules still rewrite the optimized count plan:\n$opt\n--->\n$cur")
    }
  }

  test("three providers: each engine ships exactly one partial GROUP BY") {
    setup()
    val df = Federated.threeProviderUnion(spark, dir)
    val execs = Seq("alpha", "beta", "gamma")
      .map(n => FederationHarness.executor(spark, dir, n))
    val before = execs.map(_.executedSql.size)
    val rows = df.collect()
    assert(rows.nonEmpty)
    execs.zip(before).zipWithIndex.foreach { case ((ex, b), i) =>
      val sqls = ex.executedSql.drop(b)
      assert(sqls.size == 1,
        s"${execs(i).name}: expected ONE SQL, got\n${sqls.mkString("\n")}")
      assert(sqls.head.contains("__gp_") && sqls.head.contains("GROUP BY"),
        s"${execs(i).name} did not ship a partial aggregate: ${sqls.head}")
    }
  }

  test("INTERSECT ALL / EXCEPT ALL: one fragment per query, replicaterows local") {
    // Catalyst lowers the ALL set-ops to UNION ALL + grouped counts +
    // Generate(replicaterows). The whole union+aggregate must federate as
    // ONE remote SQL — the wire carries (value, multiplicity) pairs — and
    // only the row replication runs locally (replicating remotely would
    // ship strictly more rows than it saves).
    setup()
    val alpha = FederationHarness.executor(spark, dir, "alpha")
    for ((df, what) <- Seq(
        Federated.intersectAllPushdown(spark, dir) -> "INTERSECT ALL",
        Federated.exceptAllPushdown(spark, dir) -> "EXCEPT ALL")) {
      val opt = df.queryExecution.optimizedPlan
      assert(fedFragments(df).size == 1,
        s"$what union+agg must be one fragment:\n$opt")
      assert(opt.toString.contains("replicaterows"),
        s"$what expected a local Generate(replicaterows):\n$opt")
      val before = alpha.executedSql.size
      df.collect()
      val executed = alpha.executedSql.drop(before)
      assert(executed.size == 1,
        s"$what: expected ONE remote SQL, got:\n${executed.mkString("\n")}")
      assert(executed.head.contains("UNION ALL") &&
        "GROUP BY".r.findAllIn(executed.head).size == 1,
        s"$what did not ship union+agg whole: ${executed.head}")
    }
  }

  test("partial agg pushdown: remote+local mixed union partializes the remote side") {
    setup()
    graft.sources.Tables.orders(spark, dir)
      .createOrReplaceTempView("pal_local_orders")
    val alpha = FederationHarness.executor(spark, dir, "alpha")
    val before = alpha.executedSql.size
    val df = spark.sql(
      """SELECT o_orderstatus, COUNT(*) AS n
        |FROM (
        |  SELECT o_orderstatus FROM fed_orders
        |  WHERE o_orderpriority = '1-URGENT'
        |  UNION ALL
        |  SELECT o_orderstatus FROM pal_local_orders
        |  WHERE o_orderpriority = '2-HIGH'
        |) t GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin)
    val expected = rows(spark.sql(
      """SELECT o_orderstatus, COUNT(*) AS n
        |FROM (
        |  SELECT o_orderstatus FROM orders
        |  WHERE o_orderpriority = '1-URGENT'
        |  UNION ALL
        |  SELECT o_orderstatus FROM orders
        |  WHERE o_orderpriority = '2-HIGH'
        |) t GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin))
    assert(rows(df) == expected,
      "mixed-union partial-agg result differs from local execution")
    val executed = alpha.executedSql.drop(before)
    assert(executed.exists(s => s.contains("__gp_") &&
        s.contains("GROUP BY")),
      s"remote branch of the mixed union was not partialized:\n" +
        executed.mkString("\n"))
  }

  test("partial agg v2: AVG decomposes to SUM+COUNT partials; expression group key ships remotely") {
    setup()
    val alpha = FederationHarness.executor(spark, dir, "alpha")
    val beta = FederationHarness.executor(spark, dir, "beta")
    val beforeA = alpha.executedSql.size
    val beforeB = beta.executedSql.size
    val df = Federated.partialAvgUnion(spark, dir)
    assert(fedFragments(df).size == 2,
      s"expected 2 per-provider fragments:\n${df.queryExecution.optimizedPlan}")
    val expected = rows(spark.sql(
      """SELECT UPPER(st) AS ust, COUNT(*) AS n, AVG(ck) AS avg_ck,
        |  SUM(ck) / COUNT(ck) AS ratio
        |FROM (
        |  SELECT o_orderstatus AS st, o_custkey AS ck
        |  FROM orders WHERE o_orderpriority = '1-URGENT'
        |  UNION ALL
        |  SELECT o_orderstatus, o_custkey
        |  FROM orders WHERE o_orderpriority = '2-HIGH'
        |) t GROUP BY UPPER(st) ORDER BY ust""".stripMargin))
    assert(rows(df) == expected,
      "partial-avg result differs from local execution")
    // each provider's remote SQL computes the expression key remotely
    // (Catalyst's PullOutGroupingExpressions pre-extracts UPPER(st) into a
    // projected column pushed into the union children, so the fragment
    // carries the UPPER inside a derived table), GROUPs BY it, and ships
    // the AVG as sum+count partials
    for ((ex, before, nm) <- Seq((alpha, beforeA, "alpha"),
        (beta, beforeB, "beta"))) {
      val executed = ex.executedSql.drop(before)
      assert(executed.exists { s =>
        val u = s.toUpperCase
        s.contains("__gp_") && u.contains("GROUP BY") &&
          u.contains("UPPER(") && u.contains("SUM(") && u.contains("COUNT(")
      }, s"$nm remote SQL carries no expression-key partial aggregate:\n" +
        executed.mkString("\n"))
    }
    // no AVG crosses the wire: only its sum/count decomposition does
    val all = (alpha.executedSql.drop(beforeA) ++ beta.executedSql.drop(beforeB))
    assert(!all.exists(_.toUpperCase.contains("AVG(")),
      s"AVG leaked into remote SQL instead of decomposing:\n${all.mkString("\n")}")
  }

  test("top-k pushdown: each provider ships ORDER BY + LIMIT k, merge is local") {
    setup()
    val alpha = FederationHarness.executor(spark, dir, "alpha")
    val beta = FederationHarness.executor(spark, dir, "beta")
    val beforeA = alpha.executedSql.size
    val beforeB = beta.executedSql.size
    val df = Federated.unionTopK(spark, dir)
    assert(fedFragments(df).size == 2,
      s"expected 2 per-provider fragments:\n${df.queryExecution.optimizedPlan}")
    val expected = rows(spark.sql(
      """SELECT o_orderkey AS k, CAST(o_totalprice AS DOUBLE) AS price,
        |  o_orderstatus AS st
        |FROM (
        |  SELECT o_orderkey, o_totalprice, o_orderstatus
        |  FROM orders WHERE o_orderpriority = '1-URGENT'
        |  UNION ALL
        |  SELECT o_orderkey, o_totalprice, o_orderstatus
        |  FROM orders WHERE o_orderpriority = '2-HIGH'
        |) t ORDER BY price DESC, k LIMIT 25""".stripMargin))
    assert(rows(df) == expected, "top-k result differs from local execution")
    // each provider's executed SQL carries its own ORDER BY ... LIMIT 25
    for ((ex, before, nm) <- Seq((alpha, beforeA, "alpha"),
        (beta, beforeB, "beta"))) {
      val executed = ex.executedSql.drop(before)
      assert(executed.exists(s => s.contains("ORDER BY") &&
          s.contains("LIMIT 25")),
        s"$nm remote SQL carries no per-provider top-k:\n" +
          executed.mkString("\n"))
    }
  }

  test("top-k with OFFSET: providers ship top-(k+o); OFFSET stays in the merge") {
    setup()
    val alpha = FederationHarness.executor(spark, dir, "alpha")
    val beta = FederationHarness.executor(spark, dir, "beta")
    val beforeA = alpha.executedSql.size
    val beforeB = beta.executedSql.size
    val df = Federated.unionTopKOffset(spark, dir)
    assert(fedFragments(df).size == 2,
      s"expected 2 per-provider fragments:\n${df.queryExecution.optimizedPlan}")
    assert(rows(df) == rows(spark.sql(
      """SELECT o_orderkey AS k, CAST(o_totalprice AS DOUBLE) AS price,
        |  o_orderstatus AS st
        |FROM (
        |  SELECT o_orderkey, o_totalprice, o_orderstatus
        |  FROM orders WHERE o_orderpriority = '1-URGENT'
        |  UNION ALL
        |  SELECT o_orderkey, o_totalprice, o_orderstatus
        |  FROM orders WHERE o_orderpriority = '2-HIGH'
        |) t ORDER BY price DESC, k LIMIT 15 OFFSET 10""".stripMargin)),
      "offset top-k differs from local execution")
    // per-provider SQL: LIMIT 25 (= k+o), and NO remote OFFSET
    for ((ex, before, nm) <- Seq((alpha, beforeA, "alpha"),
        (beta, beforeB, "beta"))) {
      val executed = ex.executedSql.drop(before)
      assert(executed.exists(s => s.contains("ORDER BY") &&
          s.contains("LIMIT 25") && !s.contains("OFFSET")),
        s"$nm remote SQL should carry LIMIT 25 and no OFFSET:\n" +
          executed.mkString("\n"))
    }
  }

  test("per-group top-k: providers ship windowed per-child SQL; merge re-ranks") {
    setup()
    val alpha = FederationHarness.executor(spark, dir, "alpha")
    val beta = FederationHarness.executor(spark, dir, "beta")
    val beforeA = alpha.executedSql.size
    val beforeB = beta.executedSql.size
    val df = Federated.unionGroupTopK(spark, dir)
    assert(fedFragments(df).size == 2,
      s"expected 2 per-provider fragments:\n${df.queryExecution.optimizedPlan}")
    assert(rows(df) == rows(spark.sql(
      """SELECT st, rnk, k, price FROM (
        |  SELECT o_orderstatus AS st, o_orderkey AS k,
        |    CAST(o_totalprice AS DOUBLE) AS price,
        |    ROW_NUMBER() OVER (PARTITION BY o_orderstatus
        |      ORDER BY o_totalprice DESC, o_orderkey) AS rnk
        |  FROM (
        |    SELECT o_orderkey, o_totalprice, o_orderstatus
        |    FROM orders WHERE o_orderpriority = '1-URGENT'
        |    UNION ALL
        |    SELECT o_orderkey, o_totalprice, o_orderstatus
        |    FROM orders WHERE o_orderpriority = '2-HIGH'
        |  ) t
        |) r WHERE rnk <= 3
        |ORDER BY st, rnk""".stripMargin)),
      "per-group top-k differs from local execution")
    // each provider's executed SQL carries its own windowed rank +
    // truncation (the __gtk_rn marker alias)
    for ((ex, before, nm) <- Seq((alpha, beforeA, "alpha"),
        (beta, beforeB, "beta"))) {
      val executed = ex.executedSql.drop(before)
      assert(executed.exists(s => s.toLowerCase.contains("row_number() over") &&
          s.contains("__gtk_rn") && s.contains("<= 3")),
        s"$nm remote SQL carries no per-group truncation:\n" +
          executed.mkString("\n"))
    }
  }

  test("per-group top-k does NOT split a single-provider union (whole-SQL wins)") {
    setup()
    val alpha = FederationHarness.executor(spark, dir, "alpha")
    val before = alpha.executedSql.size
    val df = FederationHarness.sql(spark, dir,
      """SELECT st, rnk FROM (
        |  SELECT o_orderstatus AS st,
        |    ROW_NUMBER() OVER (PARTITION BY o_orderstatus
        |      ORDER BY o_totalprice DESC, o_orderkey) AS rnk
        |  FROM (
        |    SELECT o_orderkey, o_totalprice, o_orderstatus
        |    FROM fed_orders WHERE o_orderpriority = '1-URGENT'
        |    UNION ALL
        |    SELECT o_orderkey, o_totalprice, o_orderstatus
        |    FROM fed_orders WHERE o_orderpriority = '2-HIGH'
        |  ) t
        |) r WHERE rnk <= 3
        |ORDER BY st, rnk""".stripMargin)
    assert(fedFragments(df).size == 1,
      s"single-provider windowed union must stay one fragment:\n" +
        df.queryExecution.optimizedPlan)
    df.collect()
    val executed = alpha.executedSql.drop(before)
    assert(!executed.exists(_.contains("__gtk_rn")),
      s"single-provider union was needlessly group-truncated:\n" +
        executed.mkString("\n"))
  }

  test("union dim join distributes: same-provider arm ships the JOIN remotely") {
    setup()
    val alpha = FederationHarness.executor(spark, dir, "alpha")
    val before = alpha.executedSql.size
    val df = Federated.unionDimJoin(spark, dir)
    assert(fedFragments(df).size >= 2,
      s"expected per-arm fragments:\n${df.queryExecution.optimizedPlan}")
    assert(rows(df) == rows(spark.sql(Federated.unionDimJoinOracle)),
      "distributed union-dim join differs from local execution")
    // the alpha arm's customer⋈nation must have federated as ONE SQL
    val executed = alpha.executedSql.drop(before)
    assert(executed.exists(s => s.contains("customer") && s.contains("nation")),
      s"alpha arm did not ship the join in one SQL:\n${executed.mkString("\n")}")
  }

  test("union dim join: rule off reproduces identical rows (differential)") {
    setup()
    val on = rows(Federated.unionDimJoin(spark, dir))
    spark.conf.set(
      graft.federation.JoinUnionDistributeRule.EnabledKey, "false")
    try {
      val off = Federated.unionDimJoin(spark, dir)
      // with the rule off, the local Join over the (per-arm federated)
      // Union remains — the undistributed baseline shape
      assert(off.queryExecution.optimizedPlan.exists {
        case org.apache.spark.sql.catalyst.plans.logical.Join(
            _: org.apache.spark.sql.catalyst.plans.logical.Union, _, _, _, _)
          => true
        case _ => false
      }, s"rule off should keep Join-over-Union:\n" +
        off.queryExecution.optimizedPlan)
      assert(rows(off) == on, "rule-off result differs from rule-on result")
    } finally spark.conf.set(
      graft.federation.JoinUnionDistributeRule.EnabledKey, "true")
  }

  test("union dim join refuses an oversize dim (keeps the local join)") {
    setup()
    spark.conf.set(graft.federation.JoinUnionDistributeRule.MaxBytesKey, "1")
    try {
      val df = Federated.unionDimJoin(spark, dir)
      val kept = df.queryExecution.optimizedPlan.exists {
        case org.apache.spark.sql.catalyst.plans.logical.Join(
            _: org.apache.spark.sql.catalyst.plans.logical.Union, _, _, _, _)
          => true
        case _ => false
      }
      assert(kept,
        s"oversize dim must refuse distribution:\n" +
          df.queryExecution.optimizedPlan)
      assert(rows(df) == rows(spark.sql(Federated.unionDimJoinOracle)),
        "refused plan must still be correct")
    } finally spark.conf.set(
      graft.federation.JoinUnionDistributeRule.MaxBytesKey,
      graft.federation.JoinUnionDistributeRule.DefaultMaxBytes.toString)
  }

  test("union on the RIGHT of an inner dim join distributes symmetrically") {
    setup()
    val alpha = FederationHarness.executor(spark, dir, "alpha")
    val before = alpha.executedSql.size
    val fedSql =
      """SELECT n.n_name AS nation, c.k FROM fed_nation n JOIN (
        |  SELECT c_custkey AS k, c_nationkey AS nk
        |  FROM fed_customer WHERE c_mktsegment = 'BUILDING'
        |  UNION ALL
        |  SELECT c_custkey, c_nationkey
        |  FROM fedb_customer WHERE c_mktsegment = 'MACHINERY'
        |) c ON n.n_nationkey = c.nk
        |ORDER BY c.k""".stripMargin
    val df = FederationHarness.sql(spark, dir, fedSql)
    assert(rows(df) == rows(spark.sql(localized(fedSql))),
      "right-side union distribution differs from local execution")
    val executed = alpha.executedSql.drop(before)
    assert(executed.exists(s => s.contains("customer") && s.contains("nation")),
      s"alpha arm did not ship the join in one SQL:\n${executed.mkString("\n")}")
  }

  test("union semi join (IN subquery) distributes per arm as EXISTS") {
    setup()
    val alpha = FederationHarness.executor(spark, dir, "alpha")
    val before = alpha.executedSql.size
    val fedSql =
      """SELECT c_custkey AS k FROM (
        |  SELECT c_custkey, c_nationkey
        |  FROM fed_customer WHERE c_mktsegment = 'BUILDING'
        |  UNION ALL
        |  SELECT c_custkey, c_nationkey
        |  FROM fedb_customer WHERE c_mktsegment = 'MACHINERY'
        |) c
        |WHERE c_nationkey IN
        |  (SELECT n_nationkey FROM fed_nation WHERE n_regionkey = 1)
        |ORDER BY k""".stripMargin
    val df = FederationHarness.sql(spark, dir, fedSql)
    assert(rows(df) == rows(spark.sql(localized(fedSql))),
      "distributed union semi join differs from local execution")
    val executed = alpha.executedSql.drop(before)
    assert(executed.exists(s => s.contains("customer") &&
        s.contains("nation") && s.toUpperCase.contains("EXISTS")),
      s"alpha arm did not ship the semi join as EXISTS:\n" +
        executed.mkString("\n"))
  }

  test("union semi join + partial agg compose: EXISTS and GROUP BY both remote") {
    setup()
    val alpha = FederationHarness.executor(spark, dir, "alpha")
    val beta = FederationHarness.executor(spark, dir, "beta")
    val beforeA = alpha.executedSql.size
    val beforeB = beta.executedSql.size
    val df = Federated.unionSemiAgg(spark, dir)
    assert(rows(df) == rows(spark.sql(
      Federated.unionSemiAggOracle.replace("CAST(COUNT(*) AS BIGINT)",
        "COUNT(*)"))),
      "composed semi+agg differs from local execution")
    // the same-provider arm (alpha customer, alpha nation subquery) must
    // ship EXISTS + the partial GROUP BY (__gp_ marker) in ONE SQL; the
    // cross-provider beta arm ships its EXISTS as a bind-join VALUES
    // table, with the partial aggregate sitting locally above the bound
    // scan (bind-final fragments are exempt from regrouping)
    val executedA = alpha.executedSql.drop(beforeA)
    assert(executedA.exists(s => s.toUpperCase.contains("EXISTS") &&
        s.contains("GROUP BY") && s.contains("__gp_")),
      s"alpha did not ship EXISTS + partial GROUP BY in one SQL:\n" +
        executedA.mkString("\n"))
    val executedB = beta.executedSql.drop(beforeB)
    assert(executedB.exists(s => s.toUpperCase.contains("EXISTS") &&
        s.contains("VALUES")),
      s"beta did not ship the semi join as a bound VALUES EXISTS:\n" +
        executedB.mkString("\n"))
  }

  test("union inner join + partial agg compose through the restore Project") {
    setup()
    val alpha = FederationHarness.executor(spark, dir, "alpha")
    val before = alpha.executedSql.size
    val df = Federated.unionJoinAgg(spark, dir)
    assert(rows(df) == rows(spark.sql(
      Federated.unionJoinAggOracle.replace("CAST(COUNT(*) AS BIGINT)",
        "COUNT(*)"))),
      "composed join+agg differs from local execution")
    // the distributed alpha arm must ship JOIN + partial GROUP BY in ONE
    // SQL — the partial-agg rule saw the union through the restore (and
    // column-pruning) Projects the distribution left behind
    val executed = alpha.executedSql.drop(before)
    assert(executed.exists(s => s.contains("customer") &&
        s.contains("nation") && s.contains("GROUP BY") &&
        s.contains("__gp_")),
      s"alpha did not ship join + partial GROUP BY in one SQL:\n" +
        executed.mkString("\n"))
  }

  test("top-k pushdown does NOT split a single-provider union (whole-SQL wins)") {
    setup()
    val alpha = FederationHarness.executor(spark, dir, "alpha")
    val before = alpha.executedSql.size
    val df = FederationHarness.sql(spark, dir,
      """SELECT o_orderkey AS k FROM (
        |  SELECT o_orderkey FROM fed_orders WHERE o_orderpriority = '1-URGENT'
        |  UNION ALL
        |  SELECT o_orderkey FROM fed_orders WHERE o_orderpriority = '2-HIGH'
        |) t ORDER BY k LIMIT 10""".stripMargin)
    assert(fedFragments(df).size == 1,
      s"single-provider union top-k must stay one fragment:\n" +
        df.queryExecution.optimizedPlan)
    df.collect()
    // exactly one remote ORDER BY/LIMIT (the whole query), not per-branch
    val withLimit = alpha.executedSql.drop(before)
      .filter(s => s.contains("LIMIT 10"))
    assert(withLimit.size == 1,
      s"expected ONE whole-query remote SQL with the limit:\n" +
        alpha.executedSql.drop(before).mkString("\n"))
  }

  test("distinct partial: each provider ships a (key, value) dedup, count stays local") {
    setup()
    val alpha = FederationHarness.executor(spark, dir, "alpha")
    val beta = FederationHarness.executor(spark, dir, "beta")
    val beforeA = alpha.executedSql.size
    val beforeB = beta.executedSql.size
    val df = Federated.partialDistinctUnion(spark, dir)
    assert(fedFragments(df).size == 2,
      s"expected 2 per-provider fragments:\n${df.queryExecution.optimizedPlan}")
    val expected = rows(spark.sql(
      """SELECT o_orderstatus AS st, COUNT(DISTINCT o_custkey) AS nd,
        |  CAST(SUM(DISTINCT o_custkey) AS BIGINT) AS sd
        |FROM (
        |  SELECT o_orderstatus, o_custkey
        |  FROM orders WHERE o_orderpriority = '1-URGENT'
        |  UNION ALL
        |  SELECT o_orderstatus, o_custkey
        |  FROM orders WHERE o_orderpriority = '2-HIGH'
        |) t GROUP BY o_orderstatus ORDER BY st""".stripMargin))
    assert(rows(df) == expected,
      "distinct-partial result differs from local execution")
    // each provider executed a dedup (GROUP BY both columns, __gd_ alias)
    // and NO aggregate call crossed the wire
    for ((ex, before, nm) <- Seq((alpha, beforeA, "alpha"),
        (beta, beforeB, "beta"))) {
      val executed = ex.executedSql.drop(before)
      assert(executed.exists(s => s.contains("__gd_") &&
          s.contains("GROUP BY")),
        s"$nm remote SQL carries no dedup partial:\n${executed.mkString("\n")}")
      assert(!executed.exists(s => s.toUpperCase.contains("COUNT(") ||
          s.toUpperCase.contains("SUM(")),
        s"$nm aggregate leaked remotely instead of the dedup:\n" +
          executed.mkString("\n"))
    }
  }

  test("mixed DISTINCT and plain aggregates over a union stay unpartialized but correct") {
    setup()
    val df = FederationHarness.sql(spark, dir,
      """SELECT o_orderstatus AS st, COUNT(DISTINCT o_custkey) AS nd,
        |  COUNT(*) AS n
        |FROM (
        |  SELECT o_orderstatus, o_custkey
        |  FROM fed_orders WHERE o_orderpriority = '1-URGENT'
        |  UNION ALL
        |  SELECT o_orderstatus, o_custkey
        |  FROM fedb_orders WHERE o_orderpriority = '2-HIGH'
        |) t GROUP BY o_orderstatus ORDER BY st""".stripMargin)
    assert(!df.queryExecution.optimizedPlan.toString.contains("__g"),
      s"mixed distinct/plain aggregates must not partialize:\n" +
        df.queryExecution.optimizedPlan)
    assert(rows(df) == rows(spark.sql(
      """SELECT o_orderstatus AS st, COUNT(DISTINCT o_custkey) AS nd,
        |  COUNT(*) AS n
        |FROM (
        |  SELECT o_orderstatus, o_custkey
        |  FROM orders WHERE o_orderpriority = '1-URGENT'
        |  UNION ALL
        |  SELECT o_orderstatus, o_custkey
        |  FROM orders WHERE o_orderpriority = '2-HIGH'
        |) t GROUP BY o_orderstatus ORDER BY st""".stripMargin)))
  }

  test("partial agg leaves decimal AVG un-partialized (precision path)") {
    setup()
    val df = FederationHarness.sql(spark, dir,
      """SELECT st, AVG(price) AS ap
        |FROM (
        |  SELECT o_orderstatus AS st,
        |    CAST(o_totalprice AS DECIMAL(18,2)) AS price
        |  FROM fed_orders WHERE o_orderpriority = '1-URGENT'
        |  UNION ALL
        |  SELECT o_orderstatus, CAST(o_totalprice AS DECIMAL(18,2))
        |  FROM fedb_orders WHERE o_orderpriority = '2-HIGH'
        |) t GROUP BY st ORDER BY st""".stripMargin)
    // no __gp_ partials in the plan: the rule must decline, and results
    // still match local execution through the row-shipping fallback
    assert(!df.queryExecution.optimizedPlan.toString.contains("__gp_"),
      s"decimal AVG was partialized:\n${df.queryExecution.optimizedPlan}")
    assert(rows(df) == rows(spark.sql(
      """SELECT st, AVG(price) AS ap
        |FROM (
        |  SELECT o_orderstatus AS st,
        |    CAST(o_totalprice AS DECIMAL(18,2)) AS price
        |  FROM orders WHERE o_orderpriority = '1-URGENT'
        |  UNION ALL
        |  SELECT o_orderstatus, CAST(o_totalprice AS DECIMAL(18,2))
        |  FROM orders WHERE o_orderpriority = '2-HIGH'
        |) t GROUP BY st ORDER BY st""".stripMargin)))
  }

  /** Pin the runtime-filter (or stats) subsystem with the bind join off —
    * with it on, these join shapes bind remotely and the path under test
    * never fires (BindJoinSpec covers that, better, behavior). */
  private def withoutBindJoin[A](body: => A): A = {
    spark.conf.set(graft.federation.BindJoinRule.EnabledKey, "false")
    try body
    finally spark.conf.unset(graft.federation.BindJoinRule.EnabledKey)
  }

  test("deterministic sample: the bucket predicate ships in the remote SQL") {
    setup()
    val alpha = FederationHarness.executor(spark, dir, "alpha")
    val before = alpha.executedSql.size
    val df = Federated.sampleFederated(spark, dir)
    assert(fedFragments(df).size == 1,
      s"sample should federate as ONE fragment:\n${df.queryExecution.optimizedPlan}")
    val n = df.count()
    assert(n > 0, "sample selected nothing at test SF")
    // the conv-bucket filter must reach the remote engine: the executed
    // SQL carries it, and the rows returned are already the sample
    val executed = alpha.executedSql.drop(before)
    val carried = executed.filter(s =>
      s.contains("documents") && s.contains("conv(") && s.contains("< 10"))
    assert(carried.nonEmpty,
      s"no executed remote SQL carries the sample predicate:\n${executed.mkString("\n")}")
  }

  test("federated incremental dedup: batch fps reach the remote index as an IN-list") {
    setup()
    val alpha = FederationHarness.executor(spark, dir, "alpha")
    val before = alpha.executedSql.size
    val df = Federated.fedIncremental(spark, dir)
    val frags = fedFragments(df)
    assert(frags.nonEmpty, s"corpus index did not federate:\n${df.queryExecution.optimizedPlan}")
    assert(frags.exists(_.runtimeFilters.nonEmpty),
      s"no runtime filter on the remote fp index:\n${df.queryExecution.optimizedPlan}")
    assert(rows(df) == rows(spark.sql(
      """WITH fps AS (SELECT source, md5(text) AS fp FROM documents),
        |corpus AS (SELECT DISTINCT fp FROM fps WHERE source <> 'src0')
        |SELECT DISTINCT fp FROM fps
        |WHERE source = 'src0' AND fp NOT IN (SELECT fp FROM corpus)
        |ORDER BY fp""".stripMargin)),
      "federated incremental dedup differs from local execution")
    // the SQL that reached the remote engine carries the batch's
    // fingerprint IN-list — the wire is O(batch), not the corpus index
    val executed = alpha.executedSql.drop(before)
    assert(executed.exists(s => s.contains("md5(") && s.contains(" IN (")),
      s"no executed remote SQL carries the fp IN-list:\n${executed.mkString("\n")}")
  }

  test("runtime filter: dim keys are inlined into the executed remote SQL") {
    setup()
    withoutBindJoin {
    val alpha = FederationHarness.executor(spark, dir, "alpha")
    val before = alpha.executedSql.size
    val df = Federated.runtimeFilterJoin(spark, dir)
    // the fragment must carry the runtime filter in the optimized plan
    val frags = fedFragments(df)
    assert(frags.exists(_.runtimeFilters.nonEmpty),
      s"no runtime filter attached:\n${df.queryExecution.optimizedPlan}")
    val rf = frags.flatMap(_.runtimeFilters).head
    assert(rf.column.name == "l_orderkey")
    // results match local execution
    assert(rows(df) == rows(spark.sql(
      """SELECT o_orderpriority, COUNT(*) AS n_lines,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        |FROM lineitem JOIN (SELECT * FROM orders WHERE o_totalprice > 480000) o
        |  ON l_orderkey = o_orderkey
        |GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin)))
    // and the SQL that actually reached the remote engine carries the
    // derived IN-list predicate (55 keys at sf0.001 → IN path)
    val executed = alpha.executedSql.drop(before)
    val filtered = executed.filter(s =>
      s.contains("lineitem") && s.contains("l_orderkey IN ("))
    assert(filtered.nonEmpty,
      s"no executed remote SQL carries the runtime filter:\n${executed.mkString("\n")}")
    }
  }

  test("runtime filter: non-finite build keys skip the filter, not the rows") {
    setup()
    val alpha = FederationHarness.executor(spark, dir, "alpha")
    val before = alpha.executedSql.size
    // a selective build side whose key set contains NaN: no portable SQL
    // literal exists, and Spark joins treat NaN = NaN as a match, so the
    // only safe rendering is no runtime filter at all
    val dimSql =
      """SELECT l_quantity AS k FROM lineitem WHERE l_quantity < 3
        |UNION ALL SELECT CAST('NaN' AS DOUBLE)""".stripMargin
    val df = spark.sql(
      s"""SELECT COUNT(*) AS n
        |FROM fed_lineitem JOIN ($dimSql) d ON l_quantity = d.k""".stripMargin)
    // non-vacuous: the rule must have attached the filter (the skip
    // happens later, at render time, once the NaN key is seen)
    assert(fedFragments(df).exists(_.runtimeFilters.nonEmpty),
      s"runtime filter never attached:\n${df.queryExecution.optimizedPlan}")
    val got = df.collect().map(_.getLong(0)).head
    val want = spark.sql(
      s"""SELECT COUNT(*) AS n
        |FROM lineitem JOIN ($dimSql) d ON l_quantity = d.k""".stripMargin)
      .collect().map(_.getLong(0)).head
    assert(got == want, s"NaN build side changed results: $got vs $want")
    val executed = alpha.executedSql.drop(before)
    // CAST('NaN' AS DOUBLE) is the legal spelling; a BARE NaN/Infinity
    // token is the bug (an unresolvable identifier at the remote)
    val bare = raw"(?<!['-])(NaN|Infinity)".r
    assert(!executed.exists(s => bare.findFirstIn(s).isDefined),
      s"bare non-finite literal leaked into remote SQL:\n${executed.mkString("\n")}")
    // and the runtime filter was skipped, not rendered with dropped keys
    assert(!executed.exists(_.contains(" IN (")),
      s"runtime filter rendered despite NaN key:\n${executed.mkString("\n")}")
  }

  test("runtime filter: attaches through a local Filter/Project wrapper") {
    setup()
    withoutBindJoin {
      import org.apache.spark.sql.functions._
      val alpha = FederationHarness.executor(spark, dir, "alpha")
      val before = alpha.executedSql.size
      // a UDF predicate can never unparse, so it stays as a LOCAL Filter
      // above the federated leaf (the r10 boundary stress hit the same
      // shape via InferFiltersFromConstraints deriving a pmod predicate)
      val localOnly = udf((k: Long) => k >= 0L)
      val frag = spark.table("fed_lineitem")
        .filter(localOnly(col("l_orderkey")))
      val dim = graft.sources.Tables.orders(spark, dir)
        .filter("o_totalprice > 480000")
        .select(col("o_orderkey").as("l_orderkey"))
      val df = frag.join(dim, "l_orderkey").agg(count(lit(1)).as("n"))
      assert(fedFragments(df).exists(_.runtimeFilters.nonEmpty),
        "runtime filter must reach the leaf under the local Filter:\n" +
          df.queryExecution.optimizedPlan)
      val got = df.collect()(0).getLong(0)
      val want = graft.sources.Tables.lineitem(spark, dir)
        .join(dim, "l_orderkey").count()
      assert(got == want, s"wrapped-fragment join wrong: $got vs $want")
      val executed = alpha.executedSql.drop(before)
      assert(executed.exists(s =>
        s.contains("lineitem") && s.contains("l_orderkey IN (")),
        s"IN-list never crossed the wire:\n${executed.mkString("\n")}")
    }
  }

  test("runtime filter + bind: an exact-rowCount build needs no Filter shape") {
    setup()
    import org.apache.spark.sql.functions._
    // build side is Project(Range) — no Filter/Limit/Aggregate anywhere,
    // but the row count is exactly known and small, which is strictly
    // better selectivity evidence than shape (stress finding: a 20k-key
    // generated frame streamed the whole 15M-row remote fact)
    def keys = spark.range(1L, 101L).select(col("id").as("l_orderkey"))
    def q = spark.table("fed_lineitem").join(keys, "l_orderkey")
      .agg(count(lit(1)).as("n"))
    val want = graft.sources.Tables.lineitem(spark, dir)
      .join(keys, "l_orderkey").count()
    withoutBindJoin {
      val alpha = FederationHarness.executor(spark, dir, "alpha")
      val before = alpha.executedSql.size
      val df = q
      assert(fedFragments(df).exists(_.runtimeFilters.nonEmpty),
        "runtime filter must admit the exact-rowCount build:\n" +
          df.queryExecution.optimizedPlan)
      assert(df.collect()(0).getLong(0) == want)
      val executed = alpha.executedSql.drop(before)
      assert(executed.exists(_.contains("l_orderkey IN (")),
        s"IN-list never crossed the wire:\n${executed.mkString("\n")}")
    }
    // with binds enabled the same build inlines as a VALUES join and the
    // local join disappears entirely
    val alpha = FederationHarness.executor(spark, dir, "alpha")
    val before = alpha.executedSql.size
    val df = q
    assert(df.collect()(0).getLong(0) == want)
    val executed = alpha.executedSql.drop(before)
    assert(executed.exists(_.contains("VALUES")),
      s"bind VALUES never crossed the wire:\n${executed.mkString("\n")}")
  }

  // ---- flattening semantics: hoisted filters must not cross an outer
  // ---- join's null-extension boundary (results compared against local)

  test("flattening: filter on the null-extended side stays inside a derived table") {
    setup()
    // without the materialize guard, hoisting `o_totalprice > 450000` into
    // the outer WHERE would silently turn the LEFT JOIN into an inner join
    val fedSql =
      """SELECT c_custkey, o_orderkey
        |FROM fed_customer LEFT JOIN
        |  (SELECT * FROM fed_orders WHERE o_totalprice > 450000) o
        |  ON c_custkey = o_custkey
        |ORDER BY c_custkey, o_orderkey""".stripMargin
    val df = spark.sql(fedSql)
    assert(fedFragments(df).nonEmpty, "plan did not federate")
    assert(rows(df) == rows(spark.sql(localized(fedSql))),
      "left-join null extension lost by filter hoisting")
    // customers without qualifying orders must still appear (null-extended)
    assert(df.filter("o_orderkey IS NULL").count() > 0,
      "null-extended rows disappeared — filter crossed the outer join")
  }

  test("flattening: preserved-side filter hoists, right-outer mirrored") {
    setup()
    val fedSql =
      """SELECT c_custkey, o_orderkey
        |FROM (SELECT * FROM fed_customer WHERE c_acctbal > 0) c
        |RIGHT JOIN fed_orders o ON c_custkey = o_custkey
        |ORDER BY o_orderkey, c_custkey""".stripMargin
    val df = spark.sql(fedSql)
    assert(fedFragments(df).nonEmpty)
    assert(rows(df) == rows(spark.sql(localized(fedSql))))
  }

  test("flattening: self-join with filters on both sides keeps aliases distinct") {
    setup()
    val fedSql =
      """SELECT a.o_orderkey AS k1, b.o_orderkey AS k2
        |FROM fed_orders a JOIN fed_orders b
        |  ON a.o_custkey = b.o_custkey AND a.o_orderkey < b.o_orderkey
        |WHERE a.o_orderpriority = '1-URGENT' AND b.o_orderpriority = '5-LOW'
        |ORDER BY k1, k2 LIMIT 50""".stripMargin
    val df = spark.sql(fedSql)
    assert(fedFragments(df).nonEmpty)
    assert(rows(df) == rows(spark.sql(localized(fedSql))))
  }

  test("flattening: filter above a semi-join lands on the semi output") {
    setup()
    val fedSql =
      """SELECT c_custkey, c_acctbal FROM fed_customer
        |WHERE c_custkey IN (SELECT o_custkey FROM fed_orders
        |                    WHERE o_orderpriority = '1-URGENT')
        |  AND c_acctbal > 1000
        |ORDER BY c_custkey""".stripMargin
    val df = spark.sql(fedSql)
    assert(fedFragments(df).nonEmpty)
    assert(rows(df) == rows(spark.sql(localized(fedSql))))
  }

  test("unnest federates: explode runs inside the remote SQL") {
    setup()
    val df = Federated.unnestPushdown(spark, dir)
    assert(fedFragments(df).nonEmpty, "unnest plan did not federate")
    val scan = df.queryExecution.executedPlan.toString()
      .linesIterator.find(_.contains("RemoteScan")).getOrElse("")
    assert(scan.contains("LATERAL VIEW EXPLODE"),
      s"explode must ship remotely: $scan")
    // the whole aggregate went with it — one remote SQL, grouped result back
    assert(scan.contains("GROUP BY"), scan)
    assert(rows(df) == rows(spark.sql(
      """SELECT label, COUNT(*) AS n_elems,
        |  CAST(MIN(e) AS DOUBLE) AS min_e, CAST(MAX(e) AS DOUBLE) AS max_e
        |FROM embeddings LATERAL VIEW EXPLODE(embedding) ex AS e
        |WHERE vec_id < 200
        |GROUP BY label
        |ORDER BY label""".stripMargin)))
  }

  test("outer unnest federates: OUTER EXPLODE inside the remote SQL, NULL rows kept") {
    setup()
    val df = Federated.unnestOuterPushdown(spark, dir)
    assert(fedFragments(df).nonEmpty, "outer unnest plan did not federate")
    val scan = df.queryExecution.executedPlan.toString()
      .linesIterator.find(_.contains("RemoteScan")).getOrElse("")
    assert(scan.contains("LATERAL VIEW OUTER EXPLODE"),
      s"outer explode must ship remotely: $scan")
    val got = df.collect()
    // outer semantics are load-bearing: every label has NULL-array rows
    // (vec_id % 7), so row count strictly exceeds element count
    assert(got.forall(r => r.getLong(1) > r.getLong(2)),
      got.mkString("\n"))
    assert(rows(df) == rows(spark.sql(
      """SELECT label, COUNT(*) AS n_rows, COUNT(e) AS n_elems,
        |  CAST(MIN(e) AS DOUBLE) AS min_e
        |FROM (SELECT label,
        |        CASE WHEN vec_id % 7 = 0 THEN NULL ELSE embedding END AS emb
        |      FROM embeddings WHERE vec_id < 150) t
        |LATERAL VIEW OUTER EXPLODE(emb) ex AS e
        |GROUP BY label
        |ORDER BY label""".stripMargin)))
  }

  test("posexplode federates: POSEXPLODE inside the remote SQL, position live") {
    setup()
    val df = Federated.unnestPosPushdown(spark, dir)
    assert(fedFragments(df).nonEmpty, "posexplode plan did not federate")
    val scan = df.queryExecution.executedPlan.toString()
      .linesIterator.find(_.contains("RemoteScan")).getOrElse("")
    assert(scan.contains("POSEXPLODE"),
      s"posexplode must ship remotely: $scan")
    val got = df.collect()
    // the position column is real: max position = 63 for 64-wide vectors
    assert(got.forall(_.getInt(3) == 63), got.mkString("\n"))
    assert(rows(df) == rows(spark.sql(
      """SELECT label, COUNT(*) AS n_elems,
        |  CAST(MIN(CASE WHEN p = 0 THEN e END) AS DOUBLE) AS min_first,
        |  CAST(MAX(p) AS INT) AS max_p
        |FROM embeddings LATERAL VIEW POSEXPLODE(embedding) ex AS p, e
        |WHERE vec_id < 200
        |GROUP BY label
        |ORDER BY label""".stripMargin)))
  }

  test("unnest renders as CROSS JOIN UNNEST for array-capable ANSI dialects") {
    setup()
    val rel = graft.federation.Federation
      .remoteDataFrame(spark, "embeddings",
        FederationHarness.executor(spark, dir, "alpha"))
    val exploded = rel.select(rel("vec_id"),
      org.apache.spark.sql.functions.explode(rel("embedding")).as("e"))
    val plan = exploded.queryExecution.optimizedPlan
      .transform { case f: FederatedPlan => f.inner }
    val sql = graft.federation.sql.SqlUnparser
      .tryUnparse(plan, graft.federation.sql.DuckDbDialect)
    assert(sql.isDefined, plan.toString)
    assert(sql.get.contains("CROSS JOIN UNNEST("), sql.get)
  }

  test("fragment statistics: a filtered fragment wins the broadcast its base table forfeits") {
    setup()
    withoutBindJoin {
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "8192") // 8 KB
    spark.conf.set("spark.sql.adaptive.enabled", "false") // deterministic join pick
    try {
      // MAX(o_orderpriority) keeps the local orders side wide (no pruning
      // to a tiny key column), so orders itself stays over the bar and
      // only the fed side can ever be the broadcast build.
      // Base-table fragment: estimate is the whole remote lineitem (way
      // over 10 KB) → sort-merge join.
      val whole = spark.sql(
        """SELECT COUNT(*) AS n, MAX(o.o_orderpriority) AS mx
          |FROM fed_lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey""".stripMargin)
      val wholePlan = whole.queryExecution.executedPlan.toString()
      assert(!wholePlan.contains("BroadcastHashJoin"), wholePlan)

      // filtered fragment over the same table: executor-probed cardinality
      // is tiny → fragment stats flip the decision to broadcast
      val filtered = spark.sql(
        """SELECT COUNT(*) AS n, MAX(o.o_orderpriority) AS mx
          |FROM (SELECT l_orderkey FROM fed_lineitem WHERE l_orderkey < 10) l
          |JOIN orders o ON l.l_orderkey = o.o_orderkey""".stripMargin)
      val filteredPlan = filtered.queryExecution.executedPlan.toString()
      assert(filteredPlan.contains("BroadcastHashJoin"), filteredPlan)
      // and the answers are right
      assert(rows(filtered) == rows(spark.sql(
        """SELECT COUNT(*) AS n, MAX(o.o_orderpriority) AS mx
          |FROM (SELECT l_orderkey FROM lineitem WHERE l_orderkey < 10) l
          |JOIN orders o ON l.l_orderkey = o.o_orderkey""".stripMargin)))
    } finally {
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      spark.conf.unset("spark.sql.adaptive.enabled")
    }
    }
  }

  test("runtime filter: key sets over the cap degrade to a min/max range") {
    setup()
    withoutBindJoin {
    val alpha = FederationHarness.executor(spark, dir, "alpha")
    spark.conf.set(graft.federation.RuntimeFilterRule.MaxKeysKey, "10")
    try {
      val before = alpha.executedSql.size
      val df = Federated.runtimeFilterJoin(spark, dir)
      assert(rows(df) == rows(spark.sql(
        """SELECT o_orderpriority, COUNT(*) AS n_lines,
          |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
          |FROM lineitem JOIN (SELECT * FROM orders WHERE o_totalprice > 480000) o
          |  ON l_orderkey = o_orderkey
          |GROUP BY o_orderpriority
          |ORDER BY o_orderpriority""".stripMargin)))
      val executed = alpha.executedSql.drop(before)
      assert(executed.exists(s => s.contains("lineitem") &&
          s.contains("l_orderkey >= ") && s.contains("l_orderkey <= ")),
        s"no range predicate reached the remote engine:\n${executed.mkString("\n")}")
    } finally spark.conf.unset(graft.federation.RuntimeFilterRule.MaxKeysKey)
    }
  }

  test("runtime filter: outer-preserved sides are never filtered") {
    setup()
    // left outer join with the fed fact on the LEFT: every lineitem row
    // must survive, so no runtime filter may attach to the fragment
    graft.sources.Tables.orders(spark, dir)
      .filter("o_totalprice > 480000")
      .createOrReplaceTempView("local_big_orders")
    val df = spark.sql(
      """SELECT COUNT(*) AS n
        |FROM fed_lineitem LEFT JOIN local_big_orders ON l_orderkey = o_orderkey""".stripMargin)
    val frags = fedFragments(df)
    assert(frags.nonEmpty)
    assert(frags.forall(_.runtimeFilters.isEmpty),
      s"left-outer preserved side got filtered:\n${df.queryExecution.optimizedPlan}")
    val localN = spark.sql("SELECT COUNT(*) AS n FROM lineitem").collect()
    assert(rows(df) == localN.map(_.toString).toSeq)
  }

  test("runtime filter: empty build side short-circuits to 1=0") {
    setup()
    withoutBindJoin {
    val alpha = FederationHarness.executor(spark, dir, "alpha")
    val before = alpha.executedSql.size
    graft.sources.Tables.orders(spark, dir)
      .filter("o_totalprice > 99999999")   // empty dim
      .createOrReplaceTempView("local_none")
    val df = spark.sql(
      """SELECT l_orderkey FROM fed_lineitem JOIN local_none
        |  ON l_orderkey = o_orderkey""".stripMargin)
    assert(df.collect().isEmpty)
    // two acceptable outcomes: AQE sees the empty broadcast side and never
    // runs the remote scan at all, or (no AQE) the scan runs with the
    // 1=0 short-circuit predicate — never an unfiltered fact scan
    val executed = alpha.executedSql.drop(before).filter(_.contains("lineitem"))
    assert(executed.isEmpty || executed.forall(_.contains("1=0")),
      s"remote fact ran unfiltered:\n${executed.mkString("\n")}")

    // non-AQE path: the exec node itself must render 1=0
    val frag = fedFragments(df).find(_.runtimeFilters.nonEmpty)
    assert(frag.isDefined, "runtime filter must attach to the fragment")
    val exec = graft.federation.exec.RemoteScanExec(frag.get.output,
      Seq("SELECT l_orderkey FROM lineitem"), alpha, frag.get.runtimeFilters)
    val sqls = exec.effectiveSqls()
    assert(sqls.forall(_.contains("1=0")), sqls.mkString("\n"))
    }
  }

  test("AnsiDialect emits explicit NULLS FIRST when Spark default differs") {
    import org.apache.spark.sql.catalyst.dsl.expressions._
    import org.apache.spark.sql.catalyst.dsl.plans._
    import org.apache.spark.sql.catalyst.expressions.{Ascending, NullsFirst, SortOrder}
    setup()
    val rel = graft.federation.Federation
      .remoteDataFrame(spark, "orders", FederationHarness.executor(spark, dir, "alpha"))
      .queryExecution.analyzed
    val key = rel.output.find(_.name == "o_custkey").get
    val plan = rel.orderBy(SortOrder(key, Ascending, NullsFirst, Nil))
    val sql = graft.federation.sql.SqlUnparser
      .tryUnparse(plan, graft.federation.sql.AnsiDialect)
    assert(sql.isDefined)
    assert(sql.get.contains("NULLS FIRST"), sql.get)
    // the Spark dialect's default already is ASC→NULLS FIRST: no clause
    val sparkSql = graft.federation.sql.SqlUnparser
      .tryUnparse(plan, graft.federation.sql.SparkDialect)
    assert(sparkSql.isDefined && !sparkSql.get.contains("NULLS"), sparkSql.get)
  }

  test("boundary metric names are a stable operator-facing contract " +
      "(SURVEY documents how to read them)") {
    FederationHarness.setup(spark, dir)
    val df = spark.sql(
      "SELECT o_orderpriority, COUNT(*) AS n FROM fed_orders " +
        "GROUP BY o_orderpriority ORDER BY o_orderpriority")
    assert(df.collect().nonEmpty)
    val scans = df.queryExecution.executedPlan.collect {
      case r: graft.federation.exec.RemoteScanExec => r
    }
    assert(scans.nonEmpty)
    // renaming/removing any of these breaks dashboards built on the Spark
    // UI's SQL metrics — additions are fine, these nine are the contract
    val contract = Set("numOutputRows", "numRuntimeFilters", "numBindRows",
      "numSplits", "remoteFetchTime", "remoteBytes", "numCoercedRows",
      "numFragmentReuses", "numStagedBinds")
    assert(contract.subsetOf(scans.head.metrics.keySet),
      s"missing metrics: ${contract -- scans.head.metrics.keySet}")
    assert(scans.head.metrics("numOutputRows").value > 0)
    // explainFederated: the one-row-per-fragment operator surface
    val ex = graft.federation.Federation.explainFederated(df)
    assert(ex.columns.toSeq == Seq("fragment", "provider", "n_splits",
      "n_binds", "n_runtime_filters", "sorted", "sql"))
    assert(ex.collect().length == 1)
  }
}
