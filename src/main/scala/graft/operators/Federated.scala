package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, count, filter, lit, lower, md5, monotonically_increasing_id, size, split, sum, when}

import graft.federation.FederationHarness

/** Driver-facing federated queries: each runs through the full federation
  * pipeline — optimizer rule cuts the largest single-provider fragment,
  * the unparser turns it into SQL, the mock remote engine (a second
  * SparkSession) executes it, and only the stitched-back part runs
  * locally. The DuckDB oracles in [[graft.SparkEntry.oracleSql]] are the
  * same queries over the plain tables.
  */
object Federated {

  /** Whole-query pushdown: scan+filter+aggregate+sort federate as one
    * remote SQL (root-is-Distinct case, reference optimizer/mod.rs:188-209).
    */
  def q1Pushdown(s: SparkSession, dir: String): DataFrame =
    FederationHarness.sql(s, dir,
      """SELECT l_returnflag, l_linestatus,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  COUNT(*) AS n_lines
        |FROM fed_lineitem
        |WHERE l_shipdate <= TIMESTAMP_NTZ '1998-09-02 00:00:00'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin)

  val q1Oracle: String =
    """SELECT l_returnflag, l_linestatus,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
      |  COUNT(*) AS n_lines
      |FROM lineitem
      |WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
      |GROUP BY l_returnflag, l_linestatus
      |ORDER BY l_returnflag, l_linestatus""".stripMargin

  /** Multi-table join + aggregate federated to ONE remote query — the
    * capability Spark's own JDBC pushdown lacks (single-relation only). */
  def q3JoinPushdown(s: SparkSession, dir: String): DataFrame =
    FederationHarness.sql(s, dir,
      """SELECT l_orderkey,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(12,2)))) AS DOUBLE) AS revenue
        |FROM fed_customer, fed_orders, fed_lineitem
        |WHERE c_mktsegment = 'BUILDING'
        |  AND c_custkey = o_custkey AND l_orderkey = o_orderkey
        |  AND o_orderdate < TIMESTAMP_NTZ '1998-03-15 00:00:00'
        |GROUP BY l_orderkey
        |ORDER BY revenue DESC, l_orderkey
        |LIMIT 10""".stripMargin)

  val q3Oracle: String =
    """SELECT l_orderkey,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(12,2)))) AS DOUBLE) AS revenue
      |FROM customer, orders, lineitem
      |WHERE c_mktsegment = 'BUILDING'
      |  AND c_custkey = o_custkey AND l_orderkey = o_orderkey
      |  AND o_orderdate < TIMESTAMP '1998-03-15 00:00:00'
      |GROUP BY l_orderkey
      |ORDER BY revenue DESC, l_orderkey
      |LIMIT 10""".stripMargin

  /** UNION ALL of two fragments on the same provider — federates as one
    * remote SQL (reference same-provider union, src/sql/mod.rs:757-759). */
  def unionPushdown(s: SparkSession, dir: String): DataFrame =
    FederationHarness.sql(s, dir,
      """SELECT k, COUNT(*) AS n FROM (
        |  SELECT o_orderkey AS k FROM fed_orders WHERE o_orderstatus = 'F'
        |  UNION ALL
        |  SELECT l_orderkey AS k FROM fed_lineitem WHERE l_returnflag = 'R'
        |) t GROUP BY k
        |ORDER BY n DESC, k LIMIT 50""".stripMargin)

  val unionOracle: String =
    """SELECT k, COUNT(*) AS n FROM (
      |  SELECT o_orderkey AS k FROM orders WHERE o_orderstatus = 'F'
      |  UNION ALL
      |  SELECT l_orderkey AS k FROM lineitem WHERE l_returnflag = 'R'
      |) t GROUP BY k
      |ORDER BY n DESC, k LIMIT 50""".stripMargin

  /** Join across two DIFFERENT providers: each side federates into its own
    * remote scan, the join itself runs locally (the reference's
    * two-engine advanced example, examples/df-csv-advanced.rs:29-54). */
  def twoProvidersJoin(s: SparkSession, dir: String): DataFrame =
    FederationHarness.sql(s, dir,
      """SELECT n_name, COUNT(*) AS n_suppliers
        |FROM fed_supplier JOIN fedb_nation ON s_nationkey = n_nationkey
        |GROUP BY n_name
        |ORDER BY n_name""".stripMargin)

  val twoProvidersOracle: String =
    """SELECT n_name, COUNT(*) AS n_suppliers
      |FROM supplier JOIN nation ON s_nationkey = n_nationkey
      |GROUP BY n_name
      |ORDER BY n_name""".stripMargin

  /** Remote ⋈ local-parquet: the remote side federates (wrapped fragment),
    * the local side scans parquet directly — Ambiguous-node child wrapping
    * (reference optimizer/mod.rs:217-250). */
  def mixedLocalRemote(s: SparkSession, dir: String): DataFrame = {
    FederationHarness.setup(s, dir)
    graft.sources.Tables.orders(s, dir).createOrReplaceTempView("local_orders")
    s.sql(
      """SELECT o_orderpriority, COUNT(*) AS n,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS qty
        |FROM fed_lineitem JOIN local_orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin)
  }

  val mixedOracle: String =
    """SELECT o_orderpriority, COUNT(*) AS n,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS qty
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |GROUP BY o_orderpriority
      |ORDER BY o_orderpriority""".stripMargin

  /** Runtime-filtered remote fact scan: the remote lineitem is joined to a
    * small, selectively-filtered LOCAL dimension, so the federation cut is
    * at the join — without [[graft.federation.RuntimeFilterRule]] the
    * remote side would stream every lineitem row. With it, the dim's
    * order keys are evaluated first and inlined into the remote SQL as an
    * IN-list (reference `handle_child_pushdown_result`,
    * src/sql/mod.rs:416-444), so only matching remote rows cross the wire.
    */
  def runtimeFilterJoin(s: SparkSession, dir: String): DataFrame = {
    FederationHarness.setup(s, dir)
    graft.sources.Tables.orders(s, dir)
      .filter("o_totalprice > 480000")
      .createOrReplaceTempView("local_big_orders")
    s.sql(
      """SELECT o_orderpriority, COUNT(*) AS n_lines,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        |FROM fed_lineitem JOIN local_big_orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin)
  }

  val runtimeFilterOracle: String =
    """SELECT o_orderpriority, COUNT(*) AS n_lines,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
      |FROM lineitem JOIN (SELECT * FROM orders WHERE o_totalprice > 480000) o
      |  ON l_orderkey = o_orderkey
      |GROUP BY o_orderpriority
      |ORDER BY o_orderpriority""".stripMargin

  /** Cross-provider bind join ([[graft.federation.BindJoinRule]], beyond
    * the reference): the selective beta-side nation fragment is evaluated
    * first and inlined into alpha's supplier query as a VALUES derived
    * table, so the join itself runs on alpha — wire cost O(build rows out
    * + result back) instead of streaming every supplier row. */
  def bindJoin(s: SparkSession, dir: String): DataFrame =
    FederationHarness.sql(s, dir,
      """SELECT n_name, COUNT(*) AS n_suppliers,
        |  CAST(SUM(CAST(s_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_bal
        |FROM fed_supplier JOIN
        |  (SELECT n_nationkey, n_name FROM fedb_nation WHERE n_regionkey < 2) n
        |  ON s_nationkey = n_nationkey
        |GROUP BY n_name
        |ORDER BY n_name""".stripMargin)

  val bindJoinOracle: String =
    """SELECT n_name, COUNT(*) AS n_suppliers,
      |  CAST(SUM(CAST(s_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_bal
      |FROM supplier JOIN
      |  (SELECT n_nationkey, n_name FROM nation WHERE n_regionkey < 2) n
      |  ON s_nationkey = n_nationkey
      |GROUP BY n_name
      |ORDER BY n_name""".stripMargin

  /** Star bind join ([[graft.federation.BindJoinRule]] multi-bind): TWO
    * selective beta dims chain into alpha's supplier SQL as nested
    * `(VALUES …)` derived tables — the snowflake twist being that the
    * region join keys on the NATION build's column, so the second bind's
    * ON clause references the first bind's `__bj…` alias, not a fragment
    * column. The whole 3-table star executes on alpha; the wire carries
    * two small dim extractions out and the joined result back. */
  def bindJoinStar(s: SparkSession, dir: String): DataFrame =
    FederationHarness.sql(s, dir,
      """SELECT r_name, COUNT(*) AS n_suppliers,
        |  CAST(SUM(CAST(s_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_bal
        |FROM fed_supplier JOIN
        |  (SELECT n_nationkey, n_regionkey FROM fedb_nation
        |   WHERE n_nationkey < 20) n
        |  ON s_nationkey = n_nationkey
        |JOIN
        |  (SELECT r_regionkey, r_name FROM fedb_region WHERE r_regionkey < 3) r
        |  ON n_regionkey = r_regionkey
        |GROUP BY r_name
        |ORDER BY r_name""".stripMargin)

  val bindJoinStarOracle: String =
    """SELECT r_name, COUNT(*) AS n_suppliers,
      |  CAST(SUM(CAST(s_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_bal
      |FROM supplier JOIN
      |  (SELECT n_nationkey, n_regionkey FROM nation WHERE n_nationkey < 20) n
      |  ON s_nationkey = n_nationkey
      |JOIN
      |  (SELECT r_regionkey, r_name FROM region WHERE r_regionkey < 3) r
      |  ON n_regionkey = r_regionkey
      |GROUP BY r_name
      |ORDER BY r_name""".stripMargin

  /** Bind join through the REAL JDBC path: the selective local nation dim
    * is inlined as a VALUES table into the supplier SQL that ships to
    * embedded Derby — the live-engine proof of the bind-join wire
    * format (incl. the Derby VARCHAR-cast VALUES cells). */
  def jdbcBindJoin(s: SparkSession, dir: String): DataFrame = {
    graft.federation.jdbc.JdbcHarness.registerViews(s, dir)
    graft.sources.Tables.nation(s, dir)
      .filter("n_regionkey < 2")
      .selectExpr("n_nationkey", "n_name")
      .createOrReplaceTempView("local_nations")
    s.sql(
      """SELECT n_name, COUNT(*) AS n_suppliers,
        |  CAST(SUM(CAST(s_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_bal
        |FROM jdbc_supplier JOIN local_nations ON s_nationkey = n_nationkey
        |GROUP BY n_name
        |ORDER BY n_name""".stripMargin)
  }

  /** Federated incremental ingestion dedup: the corpus fingerprint index
    * lives in a REMOTE engine while the arriving batch is local — the
    * cross-system variant of [[graft.operators.Dedup.incrementalOf]].
    * The corpus DISTINCT-fp index federates as one remote SQL and the
    * batch's fingerprints ship into it as a runtime IN-list filter
    * ([[graft.federation.RuntimeFilterRule]] — LeftAnti's right side is
    * safely filterable), so the wire carries only the fingerprints the
    * batch actually collides with — O(batch), never O(corpus index).
    * The anti join itself completes locally; its output is the admitted
    * fingerprint set. */
  def fedIncremental(s: SparkSession, dir: String): DataFrame = {
    FederationHarness.setup(s, dir)
    val batch = graft.sources.Tables.documents(s, dir)
      .filter(col("source") === "src0")
      .select(md5(col("text")).as("fp")).distinct()
    val corpusIdx = s.table("fed_documents")
      .filter(col("source") =!= "src0")
      .select(md5(col("text")).as("fp")).distinct()
    batch.join(corpusIdx, Seq("fp"), "left_anti")
      .orderBy(col("fp"))
  }

  val fedIncrementalOracle: String =
    """WITH fps AS (
      |  SELECT source, md5(text) AS fp FROM documents
      |), corpus AS (
      |  SELECT DISTINCT fp FROM fps WHERE source <> 'src0'
      |)
      |SELECT DISTINCT fp FROM fps
      |WHERE source = 'src0' AND fp NOT IN (SELECT fp FROM corpus)
      |ORDER BY fp""".stripMargin

  /** Deterministic MD5-bucket sampling pushed into the remote engine —
    * [[graft.operators.Sampling]]'s portable bucket rule riding
    * federation: the sample predicate is pure SQL over the row key
    * (md5 → hex-to-dec → mod), so the remote engine evaluates it and the
    * wire carries only the ~10% sample instead of the table. */
  def sampleFederated(s: SparkSession, dir: String): DataFrame =
    FederationHarness.sql(s, dir,
      """SELECT doc_id, source, lang,
        |  CAST(conv(substring(md5(CAST(doc_id AS STRING)), 1, 14), 16, 10) AS BIGINT) % 100 AS bucket
        |FROM fed_documents
        |WHERE CAST(conv(substring(md5(CAST(doc_id AS STRING)), 1, 14), 16, 10) AS BIGINT) % 100 < 10
        |ORDER BY doc_id""".stripMargin)

  val sampleFederatedOracle: String =
    """SELECT doc_id, source, lang,
      |  CAST('0x'||substr(md5(CAST(doc_id AS VARCHAR)),1,14) AS BIGINT) % 100 AS bucket
      |FROM documents
      |WHERE CAST('0x'||substr(md5(CAST(doc_id AS VARCHAR)),1,14) AS BIGINT) % 100 < 10
      |ORDER BY doc_id""".stripMargin

  /** LIMIT/OFFSET pushdown (reference analyzer.rs:890-938). */
  def limitOffsetPushdown(s: SparkSession, dir: String): DataFrame =
    FederationHarness.sql(s, dir,
      """SELECT o_orderkey, o_totalprice
        |FROM fed_orders
        |ORDER BY o_totalprice DESC, o_orderkey
        |LIMIT 20 OFFSET 5""".stripMargin)

  val limitOffsetOracle: String =
    """SELECT o_orderkey, o_totalprice
      |FROM orders
      |ORDER BY o_totalprice DESC, o_orderkey
      |LIMIT 20 OFFSET 5""".stripMargin

  /** EXISTS-subquery shape federated via the semi-join rewrite. */
  def existsPushdown(s: SparkSession, dir: String): DataFrame =
    FederationHarness.sql(s, dir,
      """SELECT c_mktsegment, COUNT(*) AS n_customers
        |FROM fed_customer
        |WHERE EXISTS (SELECT 1 FROM fed_orders
        |              WHERE o_custkey = c_custkey
        |                AND o_orderpriority = '1-URGENT')
        |GROUP BY c_mktsegment
        |ORDER BY c_mktsegment""".stripMargin)

  val existsOracle: String =
    """SELECT c_mktsegment, COUNT(*) AS n_customers
      |FROM customer
      |WHERE EXISTS (SELECT 1 FROM orders
      |              WHERE o_custkey = c_custkey
      |                AND o_orderpriority = '1-URGENT')
      |GROUP BY c_mktsegment
      |ORDER BY c_mktsegment""".stripMargin

  /** DataFrame-API (not SQL) federation: the relation participates in the
    * full Dataset API and still pushes down. */
  def dataframeApi(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    FederationHarness.setup(s, dir)
    val li = graft.federation.Federation.remoteDataFrame(s, "lineitem",
      FederationHarness.executor(s, dir, "alpha"))
    li.filter(col("l_returnflag") === "R")
      .groupBy(col("l_linestatus"))
      .agg(count(lit(1)).as("n"),
        max(col("l_quantity")).as("max_qty"))
      .orderBy(col("l_linestatus"))
  }

  val dataframeApiOracle: String =
    """SELECT l_linestatus, COUNT(*) AS n, MAX(l_quantity) AS max_qty
      |FROM lineitem
      |WHERE l_returnflag = 'R'
      |GROUP BY l_linestatus
      |ORDER BY l_linestatus""".stripMargin

  /** DataFrame `.distinct()` federation: the API builds a `Deduplicate`
    * node (SQL DISTINCT parses to `Distinct` instead); with the key set
    * covering the whole output it unparses to SELECT DISTINCT and the
    * dedup runs remotely — shipping only distinct pairs instead of every
    * order row. */
  def distinctPushdown(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    FederationHarness.setup(s, dir)
    val ord = graft.federation.Federation.remoteDataFrame(s, "orders",
      FederationHarness.executor(s, dir, "alpha"))
    ord.select(col("o_orderstatus"), col("o_orderpriority")).distinct()
      .orderBy(col("o_orderstatus"), col("o_orderpriority"))
  }

  val distinctOracle: String =
    """SELECT DISTINCT o_orderstatus, o_orderpriority
      |FROM orders
      |ORDER BY o_orderstatus, o_orderpriority""".stripMargin

  /** Split-read path under the correctness gate: the remote fragment
    * (scan+filter+project on orders) fans out into 3 disjoint modulo-split
    * cursors ([[graft.federation.sql.SplitScan]]); the join with the local
    * customer table and the aggregation consume the 3-way parallel union. */
  def splitScanJoin(s: SparkSession, dir: String): DataFrame = {
    FederationHarness.setup(s, dir)
    val ex3 = FederationHarness.splitExecutor(s, dir, "gamma", 3)
    graft.federation.Federation.registerRemoteTable(
      s, "fed3_orders", "orders", ex3)
    graft.sources.Tables.customer(s, dir)
      .createOrReplaceTempView("local_customer")
    s.sql(
      """SELECT c_mktsegment, COUNT(*) AS n,
        |  MAX(o_totalprice) AS max_price
        |FROM fed3_orders JOIN local_customer ON o_custkey = c_custkey
        |WHERE o_totalprice > 1000
        |GROUP BY c_mktsegment
        |ORDER BY c_mktsegment""".stripMargin)
  }

  val splitScanOracle: String =
    """SELECT c_mktsegment, COUNT(*) AS n,
      |  MAX(o_totalprice) AS max_price
      |FROM orders JOIN customer ON o_custkey = c_custkey
      |WHERE o_totalprice > 1000
      |GROUP BY c_mktsegment
      |ORDER BY c_mktsegment""".stripMargin

  /** The REAL JDBC path under the correctness gate: supplier/nation live in
    * an embedded Derby database, and the join+aggregate federates into one
    * Derby SQL shipped over an actual JDBC connection
    * ([[graft.federation.jdbc.JdbcSqlExecutor]]). */
  def jdbcSuppliers(s: SparkSession, dir: String): DataFrame =
    graft.federation.jdbc.JdbcHarness.sql(s, dir,
      """SELECT n_name, COUNT(*) AS n_suppliers, MAX(s_acctbal) AS top_bal
        |FROM jdbc_supplier JOIN jdbc_nation ON s_nationkey = n_nationkey
        |GROUP BY n_name
        |ORDER BY n_name""".stripMargin)

  val jdbcSuppliersOracle: String =
    """SELECT n_name, COUNT(*) AS n_suppliers, MAX(s_acctbal) AS top_bal
      |FROM supplier JOIN nation ON s_nationkey = n_nationkey
      |GROUP BY n_name
      |ORDER BY n_name""".stripMargin

  /** Outer join with a filtered null-extended side federated as ONE remote
    * SQL — exercises the unparser's flattening boundary: the preserved
    * side's filters hoist, the null-extended side's filter must stay
    * inside a derived table or the LEFT JOIN silently turns inner. */
  def leftJoinPushdown(s: SparkSession, dir: String): DataFrame =
    FederationHarness.sql(s, dir,
      """SELECT c_mktsegment, COUNT(*) AS n_rows, COUNT(o_orderkey) AS n_matched
        |FROM fed_customer LEFT JOIN
        |  (SELECT * FROM fed_orders WHERE o_totalprice > 450000) o
        |  ON c_custkey = o_custkey
        |GROUP BY c_mktsegment
        |ORDER BY c_mktsegment""".stripMargin)

  val leftJoinOracle: String =
    """SELECT c_mktsegment, COUNT(*) AS n_rows, COUNT(o_orderkey) AS n_matched
      |FROM customer LEFT JOIN
      |  (SELECT * FROM orders WHERE o_totalprice > 450000) o
      |  ON c_custkey = o_custkey
      |GROUP BY c_mktsegment
      |ORDER BY c_mktsegment""".stripMargin

  /** UNNEST pushdown: the array explode itself ships to the remote engine
    * (reference analyzer.rs:561-564) as the dialect's unnest-join form —
    * LATERAL VIEW EXPLODE for the Spark-speaking mock, CROSS JOIN UNNEST
    * for DuckDB/Postgres — so per-element aggregation happens remotely and
    * only the grouped result crosses the wire. */
  def unnestPushdown(s: SparkSession, dir: String): DataFrame =
    FederationHarness.sql(s, dir,
      """SELECT label, COUNT(*) AS n_elems,
        |  CAST(MIN(e) AS DOUBLE) AS min_e, CAST(MAX(e) AS DOUBLE) AS max_e
        |FROM fed_embeddings LATERAL VIEW EXPLODE(embedding) ex AS e
        |WHERE vec_id < 200
        |GROUP BY label
        |ORDER BY label""".stripMargin)

  val unnestOracle: String =
    """SELECT label, COUNT(*) AS n_elems,
      |  CAST(MIN(e) AS DOUBLE) AS min_e, CAST(MAX(e) AS DOUBLE) AS max_e
      |FROM (SELECT label, unnest(embedding) AS e FROM embeddings
      |      WHERE vec_id < 200) t
      |GROUP BY label
      |ORDER BY label""".stripMargin

  /** OUTER unnest pushdown: `Generate(outer=true)` federates as the
    * dialect's left-lateral form (LATERAL VIEW OUTER EXPLODE on the
    * Spark-speaking mock; LEFT JOIN [LATERAL] UNNEST ... ON TRUE on
    * DuckDB/Postgres). The CASE manufactures NULL arrays so the outer
    * semantics are load-bearing: NULL-array rows survive with a NULL
    * element, so COUNT(*) > COUNT(e) per group. */
  def unnestOuterPushdown(s: SparkSession, dir: String): DataFrame =
    FederationHarness.sql(s, dir,
      """SELECT label, COUNT(*) AS n_rows, COUNT(e) AS n_elems,
        |  CAST(MIN(e) AS DOUBLE) AS min_e
        |FROM (SELECT label,
        |        CASE WHEN vec_id % 7 = 0 THEN NULL ELSE embedding END AS emb
        |      FROM fed_embeddings WHERE vec_id < 150) t
        |LATERAL VIEW OUTER EXPLODE(emb) ex AS e
        |GROUP BY label
        |ORDER BY label""".stripMargin)

  /** DuckDB has no single outer-unnest SQL form the driver can run, so the
    * oracle states the semantics directly: exploded rows UNION ALL the
    * NULL/empty-array rows each preserved once with a NULL element. */
  val unnestOuterOracle: String =
    """WITH t AS (SELECT label,
      |             CASE WHEN vec_id % 7 = 0 THEN NULL ELSE embedding END AS emb
      |           FROM embeddings WHERE vec_id < 150),
      |ex AS (
      |  SELECT label, unnest(emb) AS e FROM t
      |  WHERE emb IS NOT NULL AND len(emb) > 0
      |  UNION ALL
      |  SELECT label, NULL AS e FROM t WHERE emb IS NULL OR len(emb) = 0
      |)
      |SELECT label, COUNT(*) AS n_rows, COUNT(e) AS n_elems,
      |  CAST(MIN(e) AS DOUBLE) AS min_e
      |FROM ex GROUP BY label ORDER BY label""".stripMargin

  /** Positional unnest pushdown: `posexplode` federates with the element
    * position in remote SQL — POSEXPLODE (0-based) on the Spark mock;
    * UNNEST ... WITH ORDINALITY rebased −1 on DuckDB/Postgres. The
    * per-position aggregate (first element per vector) proves the position
    * column is live remotely, not recomputed locally. */
  def unnestPosPushdown(s: SparkSession, dir: String): DataFrame =
    FederationHarness.sql(s, dir,
      """SELECT label, COUNT(*) AS n_elems,
        |  CAST(MIN(CASE WHEN p = 0 THEN e END) AS DOUBLE) AS min_first,
        |  CAST(MAX(p) AS INT) AS max_p
        |FROM fed_embeddings LATERAL VIEW POSEXPLODE(embedding) ex AS p, e
        |WHERE vec_id < 200
        |GROUP BY label
        |ORDER BY label""".stripMargin)

  /** DuckDB zips parallel unnests in one SELECT, so `range(len(arr))`
    * supplies the 0-based position beside the element. */
  val unnestPosOracle: String =
    """SELECT label, COUNT(*) AS n_elems,
      |  CAST(MIN(CASE WHEN p = 0 THEN e END) AS DOUBLE) AS min_first,
      |  CAST(MAX(p) AS INT) AS max_p
      |FROM (SELECT label, unnest(embedding) AS e,
      |        unnest(range(len(embedding))) AS p
      |      FROM embeddings WHERE vec_id < 200) t
      |GROUP BY label
      |ORDER BY label""".stripMargin

  /** Full-schema q1 through the REAL JDBC path: the whole
    * filter+aggregate+sort ships as ONE Derby SQL over the driver-loaded
    * lineitem fact table. */
  def jdbcQ1(s: SparkSession, dir: String): DataFrame =
    graft.federation.jdbc.JdbcHarness.sql(s, dir,
      """SELECT l_returnflag, l_linestatus,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  COUNT(*) AS n_lines
        |FROM jdbc_lineitem
        |WHERE l_shipdate <= TIMESTAMP_NTZ '1998-09-02 00:00:00'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin)

  val jdbcQ1Oracle: String =
    """SELECT l_returnflag, l_linestatus,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
      |  COUNT(*) AS n_lines
      |FROM lineitem
      |WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
      |GROUP BY l_returnflag, l_linestatus
      |ORDER BY l_returnflag, l_linestatus""".stripMargin

  /** Full-schema q3 through the REAL JDBC path: a three-table join +
    * aggregate federated into ONE Derby SQL (decimal arithmetic is exact,
    * so Derby, Spark and DuckDB agree bitwise after the final cast). */
  def jdbcQ3(s: SparkSession, dir: String): DataFrame =
    graft.federation.jdbc.JdbcHarness.sql(s, dir,
      """SELECT o_orderkey,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(12,2)))) AS DOUBLE) AS revenue
        |FROM jdbc_customer, jdbc_orders, jdbc_lineitem
        |WHERE c_mktsegment = 'BUILDING'
        |  AND c_custkey = o_custkey AND l_orderkey = o_orderkey
        |  AND o_orderdate < TIMESTAMP_NTZ '1998-03-15 00:00:00'
        |GROUP BY o_orderkey
        |ORDER BY revenue DESC, o_orderkey
        |LIMIT 10""".stripMargin)

  val jdbcQ3Oracle: String =
    """SELECT o_orderkey,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(12,2)))) AS DOUBLE) AS revenue
      |FROM customer, orders, lineitem
      |WHERE c_mktsegment = 'BUILDING'
      |  AND c_custkey = o_custkey AND l_orderkey = o_orderkey
      |  AND o_orderdate < TIMESTAMP '1998-03-15 00:00:00'
      |GROUP BY o_orderkey
      |ORDER BY revenue DESC, o_orderkey
      |LIMIT 10""".stripMargin

  /** Split remote cursors against the real DBMS: Derby has no aggregate
    * FILTER clause, so the aggregate stays local and the scan-shaped
    * fragment beneath it fans out to [[graft.federation.jdbc.JdbcHarness.Splits]]
    * parallel Derby cursors via modulo split predicates
    * ([[graft.federation.sql.SplitScan]]). */
  def jdbcSplitScan(s: SparkSession, dir: String): DataFrame =
    graft.federation.jdbc.JdbcHarness.sql(s, dir,
      """SELECT l_returnflag,
        |  COUNT(*) FILTER (WHERE l_quantity > 25.0) AS big_qty,
        |  COUNT(DISTINCT l_orderkey) AS n_orders,
        |  COUNT(*) AS n
        |FROM jdbc_lineitem
        |GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin)

  val jdbcSplitScanOracle: String =
    """SELECT l_returnflag,
      |  COUNT(*) FILTER (WHERE l_quantity > 25.0) AS big_qty,
      |  COUNT(DISTINCT l_orderkey) AS n_orders,
      |  COUNT(*) AS n
      |FROM lineitem
      |GROUP BY l_returnflag
      |ORDER BY l_returnflag""".stripMargin

  /** The federated write path, end-to-end against the real DBMS: derive a
    * small aggregate locally, append it into a Derby table through
    * [[graft.federation.jdbc.JdbcSqlExecutor.insertInto]] (one connection +
    * batched INSERTs per partition task — the reference's `insert_into`
    * delegation, src/table_provider.rs:110-139), then read it back as a
    * federated scan. The oracle recomputes the derivation directly: the
    * write→read round-trip must be the identity. */
  def jdbcWrite(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions.{col, count, lit}
    graft.federation.Federation.install(s)
    val ex = graft.federation.jdbc.JdbcHarness.executor(s, dir)
    graft.federation.jdbc.JdbcHarness.resetWriteTarget(s, dir, "nation_stats",
      """"r_key" BIGINT, "n_nations" BIGINT""")
    val derived = graft.sources.Tables.table(s, dir, "nation")
      .groupBy(col("n_regionkey").cast("long").as("r_key"))
      .agg(count(lit(1)).as("n_nations"))
    ex.insertInto(
      graft.federation.sql.RemoteTableRef.parse("nation_stats"), derived)
    graft.federation.Federation.remoteDataFrame(s, "nation_stats", ex)
      .orderBy(col("r_key"))
  }

  val jdbcWriteOracle: String =
    """SELECT CAST(n_regionkey AS BIGINT) AS r_key, COUNT(*) AS n_nations
      |FROM nation GROUP BY 1 ORDER BY 1""".stripMargin

  /** Remote-to-remote copy (beyond the reference): the source aggregate is
    * itself a fragment of the SAME Derby engine, so
    * [[graft.federation.Federation.insertIntoRemote]] ships the whole copy
    * as ONE `INSERT INTO target (SELECT …)` statement — the engine
    * produces and consumes the rows; the wire carries the statement text
    * and an update count, never a row. The batched-INSERT path this
    * supersedes would stream every aggregate row out of Derby and write
    * it straight back in. */
  def jdbcCtas(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions.col
    graft.federation.Federation.install(s)
    val ex = graft.federation.jdbc.JdbcHarness.executor(s, dir)
    graft.federation.jdbc.JdbcHarness.resetWriteTarget(s, dir, "supp_stats",
      """"n_key" BIGINT, "n_supp" BIGINT, "max_bal" DOUBLE""")
    val derived = graft.federation.Federation
      .remoteDataFrame(s, "supplier", ex)
      .groupBy(col("s_nationkey").cast("long").as("n_key"))
      .agg(org.apache.spark.sql.functions.count(
          org.apache.spark.sql.functions.lit(1)).as("n_supp"),
        org.apache.spark.sql.functions.max(col("s_acctbal")).as("max_bal"))
    graft.federation.Federation.insertIntoRemote(derived,
      graft.federation.sql.RemoteTableRef.parse("supp_stats"), ex)
    graft.federation.Federation.remoteDataFrame(s, "supp_stats", ex)
      .orderBy(col("n_key"))
  }

  val jdbcCtasOracle: String =
    """SELECT CAST(s_nationkey AS BIGINT) AS n_key, COUNT(*) AS n_supp,
      |  MAX(s_acctbal) AS max_bal
      |FROM supplier GROUP BY 1 ORDER BY 1""".stripMargin

  /** Predicate DELETE pushdown (beyond the read-mostly reference): the
    * condition unparses in Derby's dialect and ships as ONE
    * `DELETE FROM t WHERE …` executed where the data lives — zero rows on
    * the wire in either direction, where a read-modify-rewrite would
    * stream the whole table out and back. The gate populates a live Derby
    * table from `nation`, deletes `r_key >= 3 OR name LIKE '%IA'`
    * remotely, and reads the survivors back; the oracle derives the same
    * survivor set from the source table. */
  def jdbcDelete(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions.col
    graft.federation.Federation.install(s)
    val ex = graft.federation.jdbc.JdbcHarness.executor(s, dir)
    graft.federation.jdbc.JdbcHarness.resetWriteTarget(s, dir, "nation_trim",
      """"n_key" BIGINT, "name" VARCHAR(32), "r_key" BIGINT""")
    val rows = graft.sources.Tables.table(s, dir, "nation").select(
      col("n_nationkey").cast("long").as("n_key"),
      col("n_name").as("name"),
      col("n_regionkey").cast("long").as("r_key"))
    ex.insertInto(
      graft.federation.sql.RemoteTableRef.parse("nation_trim"), rows)
    graft.federation.Federation.deleteFromRemote(s, "nation_trim", ex,
      col("r_key") >= 3 || col("name").like("%IA"))
    graft.federation.Federation.remoteDataFrame(s, "nation_trim", ex)
      .orderBy(col("n_key"))
  }

  val jdbcDeleteOracle: String =
    """SELECT CAST(n_nationkey AS BIGINT) AS n_key, n_name AS name,
      |  CAST(n_regionkey AS BIGINT) AS r_key
      |FROM nation
      |WHERE NOT (n_regionkey >= 3 OR n_name LIKE '%IA')
      |ORDER BY n_key""".stripMargin

  /** TRUE CREATE TABLE AS on the live engine: the target table did not
    * exist — its DDL derives from the derivation's schema, Derby creates
    * it, and because the source aggregate is the engine's OWN fragment
    * the rows land as ONE `INSERT INTO … (SELECT …)` (zero rows on the
    * wire; the batched append would stream every aggregate row out and
    * back). */
  def jdbcCreate(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions.{col, count, lit, max}
    graft.federation.Federation.install(s)
    val ex = graft.federation.jdbc.JdbcHarness.executor(s, dir)
    val derived = graft.federation.Federation
      .remoteDataFrame(s, "customer", ex)
      .groupBy(col("c_mktsegment").as("segment"))
      .agg(count(lit(1)).as("n_cust"),
        max(col("c_acctbal")).as("max_bal"))
    graft.federation.Federation.createRemoteTableAs(
      derived, "segment_stats", ex)
    graft.federation.Federation.remoteDataFrame(s, "segment_stats", ex)
      .orderBy(col("segment"))
  }

  val jdbcCreateOracle: String =
    """SELECT c_mktsegment AS segment, COUNT(*) AS n_cust,
      |  MAX(c_acctbal) AS max_bal
      |FROM customer GROUP BY 1 ORDER BY 1""".stripMargin

  /** Predicate UPDATE pushdown — the third DML leg: SET expressions and
    * the WHERE predicate both unparse into ONE remote
    * `UPDATE t SET … WHERE …`; the engine computes the new values from
    * its own rows (`r_key = r_key + 100`), nothing crosses the wire but
    * the statement and a count. */
  def jdbcUpdate(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions.{col, concat, lit}
    graft.federation.Federation.install(s)
    val ex = graft.federation.jdbc.JdbcHarness.executor(s, dir)
    graft.federation.jdbc.JdbcHarness.resetWriteTarget(s, dir, "nation_adj",
      """"n_key" BIGINT, "name" VARCHAR(40), "r_key" BIGINT""")
    val rows = graft.sources.Tables.table(s, dir, "nation").select(
      col("n_nationkey").cast("long").as("n_key"),
      col("n_name").as("name"),
      col("n_regionkey").cast("long").as("r_key"))
    ex.insertInto(
      graft.federation.sql.RemoteTableRef.parse("nation_adj"), rows)
    graft.federation.Federation.updateRemote(s, "nation_adj", ex,
      Seq("r_key" -> (col("r_key") + 100L),
        "name" -> concat(col("name"), lit("_X"))),
      col("name").like("%1"))
    graft.federation.Federation.remoteDataFrame(s, "nation_adj", ex)
      .orderBy(col("n_key"))
  }

  val jdbcUpdateOracle: String =
    """SELECT CAST(n_nationkey AS BIGINT) AS n_key,
      |  CASE WHEN n_name LIKE '%1' THEN n_name || '_X' ELSE n_name END
      |    AS name,
      |  CAST(CASE WHEN n_name LIKE '%1' THEN n_regionkey + 100
      |    ELSE n_regionkey END AS BIGINT) AS r_key
      |FROM nation
      |ORDER BY n_key""".stripMargin

  /** STREAMING ingest into the remote engine: arriving documents pass the
    * in-row Gopher rule screen and every microbatch of survivors appends
    * into a live Derby table through the executor's distributed batched
    * INSERT (`foreachBatch` — the standard Structured Streaming sink
    * adapter for engines without a native stream sink). The remote table
    * IS the pipeline's output: reading it back federated must equal the
    * batch rule screen, which is exactly what the oracle checks. */
  def jdbcStreamSink(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions.col
    graft.federation.Federation.install(s)
    val ex = graft.federation.jdbc.JdbcHarness.executor(s, dir)
    val ref = graft.federation.sql.RemoteTableRef.parse("stream_docs_kept")
    ex.createTable(ref, org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("source",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("n_words",
        org.apache.spark.sql.types.IntegerType))))
    ex.ensureEpochTable(ref) // reset the fence with the target
    val schema = graft.sources.Tables.documents(s, dir).schema
    val stream = s.readStream.schema(schema)
      .option("pathGlobFilter", "documents.parquet").parquet(dir)
    val kept = graft.operators.TextOps
      .gopherRulesFrame(stream,
        requiredWords = graft.operators.TextOps.gopherFixtureWords)
      .filter(col("keep"))
      .select(col("doc_id"), col("source"), col("n_words"))
    val ckpt = java.nio.file.Files
      .createTempDirectory("jdbc_sink_ckpt").toString
    val q = kept.writeStream
      .outputMode("append")
      .option("checkpointLocation", ckpt)
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, batchId: Long) =>
        // epoch-fenced: a re-delivered microbatch (recovery replay) is a
        // no-op — the fence commits atomically with the rows
        ex.insertIntoEpoch(ref, batch, batchId)
        ()
      }
      .start()
    q.processAllAvailable()
    q.stop()
    graft.federation.Federation
      .remoteDataFrame(s, "stream_docs_kept", ex)
      .orderBy(col("doc_id"))
  }

  /** The batch recompute of what the stream admitted: the Gopher rule
    * table's kept rows. */
  val jdbcStreamSinkOracle: String = {
    val inner = graft.operators.TextOps
      .gopherRulesOracle(30, 90, graft.operators.TextOps.gopherFixtureWords)
      .stripSuffix("ORDER BY doc_id")
    s"""SELECT doc_id, source, n_words FROM ($inner) g
       |WHERE keep ORDER BY doc_id""".stripMargin
  }

  /** Bind join through the LIVE DuckDB engine: the selective local nation
    * dim inlines as a VALUES table into the supplier SQL shipped to the
    * subprocess — the second-engine proof of the bind wire format
    * (typed-NULL cells, no Derby CHAR quirks here). Same oracle as the
    * Derby variant: identical semantics, different live engine. */
  def duckBindJoin(s: SparkSession, dir: String): DataFrame = {
    graft.federation.duckdb.DuckDbHarness.registerViews(s, dir)
    graft.sources.Tables.nation(s, dir)
      .filter("n_regionkey < 2")
      .selectExpr("n_nationkey", "n_name")
      .createOrReplaceTempView("local_nations_d")
    s.sql(
      """SELECT n_name, COUNT(*) AS n_suppliers,
        |  CAST(SUM(CAST(s_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_bal
        |FROM duck_supplier JOIN local_nations_d ON s_nationkey = n_nationkey
        |GROUP BY n_name
        |ORDER BY n_name""".stripMargin)
  }

  /** Split cursors against the live DuckDB engine: the local join keeps
    * the aggregate local, so the scan-shaped orders fragment beneath it
    * fans out to [[graft.federation.duckdb.DuckDbHarness.Splits]]
    * read-only subprocesses — with the r9 quantile-probed RANGE split
    * predicates (one `quantile_disc` probe, modulo fallback). */
  def duckSplitScan(s: SparkSession, dir: String): DataFrame = {
    graft.federation.duckdb.DuckDbHarness.registerViews(s, dir)
    graft.sources.Tables.customer(s, dir)
      .createOrReplaceTempView("local_customer_d")
    s.sql(
      """SELECT c_mktsegment, COUNT(*) AS n,
        |  MAX(o_totalprice) AS max_price
        |FROM duck_orders JOIN local_customer_d ON o_custkey = c_custkey
        |WHERE o_totalprice > 1000
        |GROUP BY c_mktsegment
        |ORDER BY c_mktsegment""".stripMargin)
  }

  /** TWO live Derby INSTANCES (distinct `jdbc:derby:` URLs, same engine
    * kind): the compute-context separation the reference warns about
    * (src/sql/executor.rs:25-29) — same dialect does NOT mean same data
    * location, so the supplier fragment (instance A) and the nation dim
    * (instance B) must each get their own SQL; the join completes via a
    * cross-instance bind (B's rows inlined as VALUES into A's query) or
    * locally, never as one merged fragment. */
  def jdbcTwoInstances(s: SparkSession, dir: String): DataFrame = {
    graft.federation.jdbc.JdbcHarness.registerViews(s, dir)
    graft.federation.jdbc.JdbcHarness.registerViewsB(s, dir)
    s.sql(
      """SELECT n_name, COUNT(*) AS n_suppliers,
        |  CAST(MAX(s_acctbal) AS DOUBLE) AS top_bal
        |FROM jdbc_supplier JOIN jdbc2_nation ON s_nationkey = n_nationkey
        |WHERE n_regionkey < 3
        |GROUP BY n_name
        |ORDER BY n_name""".stripMargin)
  }

  val jdbcTwoInstancesOracle: String =
    """SELECT n_name, COUNT(*) AS n_suppliers,
      |  CAST(MAX(s_acctbal) AS DOUBLE) AS top_bal
      |FROM supplier JOIN nation ON s_nationkey = n_nationkey
      |WHERE n_regionkey < 3
      |GROUP BY n_name
      |ORDER BY n_name""".stripMargin

  /** NOT IN on LIVE Derby: the null-aware anti join's DECOMPOSED
    * three-piece NOT EXISTS form (see the unparser's null-aware path)
    * executed by a second real engine — the decomposition was born from
    * a DuckDB probe, and a form that only ever ran there would be a
    * golden in disguise. */
  def jdbcNotIn(s: SparkSession, dir: String): DataFrame =
    graft.federation.jdbc.JdbcHarness.sql(s, dir,
      """SELECT c_custkey, c_mktsegment
        |FROM jdbc_customer
        |WHERE c_custkey NOT IN (SELECT o_custkey FROM jdbc_orders
        |                        WHERE o_orderpriority = '1-URGENT')
        |ORDER BY c_custkey
        |LIMIT 30""".stripMargin)

  // ---- live DuckDB engine (second REAL remote; subprocess line-JSON) ----

  /** q1-class through the LIVE DuckDB engine
    * ([[graft.federation.duckdb.DuckDbSqlExecutor]]): filter + grouped
    * aggregate with a FILTER clause + sort federate into ONE DuckDB SQL —
    * the aggregate pushes where Derby's refused (no FILTER support
    * there), and the DOUBLE→DECIMAL cast exercises the live-probed
    * HALF_UP form ([[graft.federation.sql.DuckDbDialect
    * .lossyDecimalCast]]): DuckDB 1.0 rounds a DOUBLE source's binary
    * value (1.005→1.01, 0.004999999995→0.01 at scale 2) where Spark
    * rounds its shortest decimal text HALF_UP. */
  def duckQ1(s: SparkSession, dir: String): DataFrame =
    graft.federation.duckdb.DuckDbHarness.sql(s, dir,
      """SELECT l_returnflag, l_linestatus,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  COUNT(*) FILTER (WHERE l_discount > 0.05) AS n_disc,
        |  COUNT(*) AS n_lines
        |FROM duck_lineitem
        |WHERE l_shipdate <= TIMESTAMP_NTZ '1998-09-02 00:00:00'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin)

  val duckQ1Oracle: String =
    """SELECT l_returnflag, l_linestatus,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
      |  COUNT(*) FILTER (WHERE l_discount > 0.05) AS n_disc,
      |  COUNT(*) AS n_lines
      |FROM lineitem
      |WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
      |GROUP BY l_returnflag, l_linestatus
      |ORDER BY l_returnflag, l_linestatus""".stripMargin

  /** q3-class through the LIVE DuckDB engine: the three-table join +
    * aggregate + top-k federates into ONE DuckDB SQL; only ten rows cross
    * the subprocess boundary. */
  def duckQ3(s: SparkSession, dir: String): DataFrame =
    graft.federation.duckdb.DuckDbHarness.sql(s, dir,
      """SELECT o_orderkey,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(12,2)))) AS DOUBLE) AS revenue
        |FROM duck_customer, duck_orders, duck_lineitem
        |WHERE c_mktsegment = 'BUILDING'
        |  AND c_custkey = o_custkey AND l_orderkey = o_orderkey
        |  AND o_orderdate < TIMESTAMP_NTZ '1998-03-15 00:00:00'
        |GROUP BY o_orderkey
        |ORDER BY revenue DESC, o_orderkey
        |LIMIT 10""".stripMargin)

  val duckQ3Oracle: String =
    """SELECT o_orderkey,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(12,2)))) AS DOUBLE) AS revenue
      |FROM customer, orders, lineitem
      |WHERE c_mktsegment = 'BUILDING'
      |  AND c_custkey = o_custkey AND l_orderkey = o_orderkey
      |  AND o_orderdate < TIMESTAMP '1998-03-15 00:00:00'
      |GROUP BY o_orderkey
      |ORDER BY revenue DESC, o_orderkey
      |LIMIT 10""".stripMargin

  /** The CROSS-ENGINE join the reference's compute-context warning exists
    * for (src/sql/executor.rs:25-29): customers live in Derby, orders in
    * DuckDB — two REAL engines with distinct compute contexts. The
    * lattice must keep them as TWO fragments (merging would send Derby
    * SQL to DuckDB or vice versa); each side's filters/pruning push into
    * its own engine, and the join itself is completed by Spark. */
  def duckCrossEngine(s: SparkSession, dir: String): DataFrame = {
    graft.federation.jdbc.JdbcHarness.registerViews(s, dir)
    graft.federation.duckdb.DuckDbHarness.registerViews(s, dir)
    s.sql(
      """SELECT c_mktsegment, COUNT(*) AS n_orders,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
        |FROM jdbc_customer JOIN duck_orders ON c_custkey = o_custkey
        |WHERE o_orderpriority = '1-URGENT'
        |GROUP BY c_mktsegment
        |ORDER BY c_mktsegment""".stripMargin)
  }

  val duckCrossEngineOracle: String =
    """SELECT c_mktsegment, COUNT(*) AS n_orders,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
      |FROM customer JOIN orders ON c_custkey = o_custkey
      |WHERE o_orderpriority = '1-URGENT'
      |GROUP BY c_mktsegment
      |ORDER BY c_mktsegment""".stripMargin

  /** Window functions federate WHOLE into one live DuckDB SQL: a
    * per-status running revenue (ordered frame) plus LAG navigation over
    * a filtered scan all unparse into a single remote query — zero local
    * windowing, only the final rows cross the subprocess boundary.
    * Derby's dialect refuses this shape (`supportsWindowFunctions` =
    * false, probed r7); DuckDB's claim is proven here against the real
    * engine rather than a golden. */
  def duckWindow(s: SparkSession, dir: String): DataFrame =
    graft.federation.duckdb.DuckDbHarness.sql(s, dir,
      """SELECT st, k, price,
        |  CAST(SUM(CAST(price AS DECIMAL(18,2)))
        |    OVER (PARTITION BY st ORDER BY k) AS DOUBLE) AS run,
        |  LAG(k) OVER (PARTITION BY st ORDER BY k) AS prev_k
        |FROM (
        |  SELECT o_orderstatus AS st, o_orderkey AS k,
        |    CAST(o_totalprice AS DOUBLE) AS price
        |  FROM duck_orders WHERE o_totalprice > 200000
        |) t
        |ORDER BY st, k""".stripMargin)

  val duckWindowOracle: String =
    """SELECT st, k, price,
      |  CAST(SUM(CAST(price AS DECIMAL(18,2)))
      |    OVER (PARTITION BY st ORDER BY k) AS DOUBLE) AS run,
      |  LAG(k) OVER (PARTITION BY st ORDER BY k) AS prev_k
      |FROM (
      |  SELECT o_orderstatus AS st, o_orderkey AS k,
      |    CAST(o_totalprice AS DOUBLE) AS price
      |  FROM orders WHERE o_totalprice > 200000
      |) t
      |ORDER BY st, k""".stripMargin

  /** Per-group top-k where one union arm is the LIVE DuckDB engine and
    * the other the mock alpha provider:
    * [[graft.federation.GroupTopKPushdownRule]] replicates the windowed
    * rank + truncation into BOTH fragments, so the real engine executes
    * the `ROW_NUMBER() OVER … <= 3` wrap it has only ever seen in
    * goldens, shipping ≤3 rows per status; the local merge re-ranks the
    * truncated union. Tie-deterministic (orderkeys unique, arm filters
    * disjoint). */
  def duckGroupTopK(s: SparkSession, dir: String): DataFrame = {
    graft.federation.duckdb.DuckDbHarness.registerViews(s, dir)
    FederationHarness.sql(s, dir,
      """SELECT st, rnk, k, price FROM (
        |  SELECT o_orderstatus AS st, o_orderkey AS k,
        |    CAST(o_totalprice AS DOUBLE) AS price,
        |    ROW_NUMBER() OVER (PARTITION BY o_orderstatus
        |      ORDER BY o_totalprice DESC, o_orderkey) AS rnk
        |  FROM (
        |    SELECT o_orderkey, o_totalprice, o_orderstatus
        |    FROM duck_orders WHERE o_orderpriority = '1-URGENT'
        |    UNION ALL
        |    SELECT o_orderkey, o_totalprice, o_orderstatus
        |    FROM fed_orders WHERE o_orderpriority = '2-HIGH'
        |  ) t
        |) r WHERE rnk <= 3
        |ORDER BY st, rnk""".stripMargin)
  }

  /** Same truncated-union shape, so the local recompute is identical —
    * `def`: [[unionGroupTopKOracle]] is declared later in the file. */
  def duckGroupTopKOracle: String = unionGroupTopKOracle

  /** ROLLUP federates WHOLE into the live engine: Catalyst lowers ROLLUP
    * to Expand+Aggregate, the unparser reconstructs `GROUP BY GROUPING
    * SETS` ([[graft.federation.sql.SqlUnparser]] grouping-set recovery),
    * and DuckDB executes all three grouping levels remotely — only the
    * ~O(groups) rollup rows cross the subprocess boundary. Until now the
    * GROUPING SETS emission ran only against mocks and goldens. */
  def duckRollup(s: SparkSession, dir: String): DataFrame =
    graft.federation.duckdb.DuckDbHarness.sql(s, dir,
      """SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n,
        |  MAX(o_totalprice) AS max_price
        |FROM duck_orders
        |GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
        |ORDER BY o_orderstatus ASC NULLS FIRST,
        |  o_orderpriority ASC NULLS FIRST""".stripMargin)

  /** Identical rollup recomputed by the oracle engine directly —
    * `def`: [[rollupOracle]] is declared later in the file. */
  def duckRollupOracle: String = rollupOracle

  /** Remote tables as first-class catalog citizens: the live engine is
    * mounted as Spark catalog `duckcat` (DSv2 `TableCatalog` — the
    * idiomatic surface of the reference's `SQLSchemaProvider`,
    * src/sql/schema.rs:12-108), and a 3-part-name join + aggregate over
    * `duckcat.main.customer` × `duckcat.main.nation` must still federate
    * as ONE remote fragment: catalog resolution feeds the exact same
    * RemoteRelation path as registered views, with lazy (first-touch)
    * schema inference and no registration step. */
  def duckCatalogSql(s: SparkSession, dir: String): DataFrame = {
    val ex = graft.federation.duckdb.DuckDbHarness.executor(s, dir)
    graft.federation.Federation.registerCatalog(s, "duckcat", Seq(ex))
    s.sql(
      """SELECT n.n_name, c.c_mktsegment, COUNT(*) AS n_cust,
        |  MIN(c.c_custkey) AS min_key
        |FROM duckcat.main.customer c
        |JOIN duckcat.main.nation n ON c.c_nationkey = n.n_nationkey
        |WHERE c.c_acctbal > 0
        |GROUP BY n.n_name, c.c_mktsegment
        |ORDER BY n.n_name, c.c_mktsegment""".stripMargin)
  }

  /** Per-cursor LIMIT truncation: an UNSORTED `LIMIT k` over a splittable
    * fragment ships as n split cursors EACH truncating at k engine-side,
    * with the exact global cut taken locally (GlobalLimitExec) — n-way
    * parallel early-terminating remote reads instead of one serial
    * cursor. The non-deterministic local projection above the limit
    * (monotonically_increasing_id, kept alive by the filter) pins the
    * fragment boundary AT the limit, so the gate exercises the split
    * path; the count proves the local cut is exact (250, not ≤ n·250). */
  def duckLimitSplit(s: SparkSession, dir: String): DataFrame = {
    graft.federation.Federation.install(s)
    graft.federation.duckdb.DuckDbHarness.registerViews(s, dir)
    s.table("duck_orders").select(col("o_orderkey")).limit(250)
      .withColumn("rid", monotonically_increasing_id())
      .where(col("rid") >= 0)
      .agg(count(lit(1)).as("n"))
  }

  def duckLimitSplitOracle: String =
    """SELECT CAST(COUNT(*) AS BIGINT) AS n
      |FROM (SELECT * FROM orders LIMIT 250) t""".stripMargin

  /** Window-split execution gate: a per-group top-2 whose fragment has no
    * ORDER BY at the top (the local barrier keeps Spark's sort OUT of the
    * fragment) fans out as n split cursors on the PARTITION key with the
    * split filter below the window ([[graft.federation.sql.SplitScan
    * .windowSplit]]); the total window order (price DESC, key) makes the
    * row set deterministic for the oracle. */
  def duckWindowSplit(s: SparkSession, dir: String): DataFrame = {
    graft.federation.Federation.install(s)
    graft.federation.duckdb.DuckDbHarness.registerViews(s, dir)
    s.sql(
      """SELECT o_custkey, o_orderkey, o_totalprice FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |    ROW_NUMBER() OVER (PARTITION BY o_custkey
        |      ORDER BY o_totalprice DESC, o_orderkey) AS rn
        |  FROM duck_orders) t WHERE rn <= 2""".stripMargin)
      .withColumn("rid", monotonically_increasing_id())
      .where(col("rid") >= 0).drop("rid")
      .orderBy(col("o_custkey"), col("o_orderkey"))
  }

  def duckWindowSplitOracle: String =
    """SELECT o_custkey, o_orderkey, o_totalprice FROM (
      |  SELECT o_custkey, o_orderkey, o_totalprice,
      |    ROW_NUMBER() OVER (PARTITION BY o_custkey
      |      ORDER BY o_totalprice DESC, o_orderkey) AS rn
      |  FROM orders) t WHERE rn <= 2
      |ORDER BY o_custkey, o_orderkey""".stripMargin

  def duckCatalogSqlOracle: String =
    """SELECT n_name, c_mktsegment, COUNT(*) AS n_cust,
      |  MIN(c_custkey) AS min_key
      |FROM customer JOIN nation ON c_nationkey = n_nationkey
      |WHERE c_acctbal > 0
      |GROUP BY n_name, c_mktsegment
      |ORDER BY n_name, c_mktsegment""".stripMargin

  /** Partial aggregation with BOTH arms on real engines: a grouped
    * aggregate over `duck_lineitem UNION ALL jdbc_lineitem` (disjoint
    * discount slices) is split by [[graft.federation.PartialAggRule]]
    * into per-engine partial aggregates — DuckDB and Derby each compute
    * their arm's SUM/COUNT/MAX partials and ship O(groups) rows; the
    * local final combine stitches them. The rule's cross-engine behavior
    * was fuzz-swept (UnparserFuzzSpec's DuckDB+Derby union arms) but
    * this is the named oracle gate. All aggregates exact (decimal sum,
    * count, max-by-comparison) — no order-dependent FP summation. */
  def duckXenginePartialAgg(s: SparkSession, dir: String): DataFrame = {
    graft.federation.jdbc.JdbcHarness.registerViews(s, dir)
    graft.federation.duckdb.DuckDbHarness.registerViews(s, dir)
    s.sql(
      """SELECT l_returnflag,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  COUNT(*) AS n_rows,
        |  MAX(l_extendedprice) AS max_price
        |FROM (
        |  SELECT l_returnflag, l_quantity, l_extendedprice
        |  FROM duck_lineitem WHERE l_discount > 0.05
        |  UNION ALL
        |  SELECT l_returnflag, l_quantity, l_extendedprice
        |  FROM jdbc_lineitem WHERE l_discount <= 0.05
        |) t
        |GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin)
  }

  val duckXenginePartialAggOracle: String =
    """SELECT l_returnflag,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
      |  COUNT(*) AS n_rows,
      |  MAX(l_extendedprice) AS max_price
      |FROM (
      |  SELECT l_returnflag, l_quantity, l_extendedprice
      |  FROM lineitem WHERE l_discount > 0.05
      |  UNION ALL
      |  SELECT l_returnflag, l_quantity, l_extendedprice
      |  FROM lineitem WHERE l_discount <= 0.05
      |) t
      |GROUP BY l_returnflag
      |ORDER BY l_returnflag""".stripMargin

  /** Cross-engine AVG decomposition, LIVE: an AVG over a union whose arms
    * live on DuckDB and Derby cannot ship as AVG (averages of averages
    * are wrong) — `PartialAggRule` decomposes it into SUM+COUNT partials
    * per engine and recombines locally as `sum/count`. Exactness: the
    * averaged column is floor-cast to BIGINT so each engine's partial
    * SUM is integer-exact (no order-dependent FP summation on the wire)
    * and the single local division is deterministic. The spec asserts
    * NEITHER engine's wire SQL carries AVG while both carry the grouped
    * `__gp_` partials. */
  def duckXenginePartialAvg(s: SparkSession, dir: String): DataFrame = {
    graft.federation.jdbc.JdbcHarness.registerViews(s, dir)
    graft.federation.duckdb.DuckDbHarness.registerViews(s, dir)
    s.sql(
      """SELECT l_returnflag,
        |  AVG(CAST(FLOOR(l_quantity) AS BIGINT)) AS avg_qty,
        |  COUNT(*) AS n_rows
        |FROM (
        |  SELECT l_returnflag, l_quantity
        |  FROM duck_lineitem WHERE l_discount > 0.05
        |  UNION ALL
        |  SELECT l_returnflag, l_quantity
        |  FROM jdbc_lineitem WHERE l_discount <= 0.05
        |) t
        |GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin)
  }

  val duckXenginePartialAvgOracle: String =
    """SELECT l_returnflag,
      |  AVG(CAST(FLOOR(l_quantity) AS BIGINT)) AS avg_qty,
      |  COUNT(*) AS n_rows
      |FROM (
      |  SELECT l_returnflag, l_quantity
      |  FROM lineitem WHERE l_discount > 0.05
      |  UNION ALL
      |  SELECT l_returnflag, l_quantity
      |  FROM lineitem WHERE l_discount <= 0.05
      |) t
      |GROUP BY l_returnflag
      |ORDER BY l_returnflag""".stripMargin

  /** Cross-engine DISTINCT aggregation, LIVE — the third leg of the
    * partial-agg family (plain ✓, AVG ✓): COUNT(DISTINCT) over a
    * DuckDB∪Derby union ships a per-arm DEDUP on (group keys, args) —
    * the `__gd_` columns — so each engine sends O(groups × distinct
    * values) rows and the local final rebuilds the exact distinct count
    * over the re-deduped union. The spec asserts both wires carry the
    * grouped dedup and neither ships COUNT(DISTINCT. */
  def duckXenginePartialDistinct(s: SparkSession, dir: String): DataFrame = {
    graft.federation.jdbc.JdbcHarness.registerViews(s, dir)
    graft.federation.duckdb.DuckDbHarness.registerViews(s, dir)
    s.sql(
      """SELECT o_orderpriority,
        |  COUNT(DISTINCT o_custkey) AS n_custs
        |FROM (
        |  SELECT o_orderpriority, o_custkey
        |  FROM duck_orders WHERE o_totalprice > 150000
        |  UNION ALL
        |  SELECT o_orderpriority, o_custkey
        |  FROM jdbc_orders WHERE o_totalprice <= 150000
        |) t
        |GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin)
  }

  val duckXenginePartialDistinctOracle: String =
    """SELECT o_orderpriority,
      |  CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_custs
      |FROM (
      |  SELECT o_orderpriority, o_custkey
      |  FROM orders WHERE o_totalprice > 150000
      |  UNION ALL
      |  SELECT o_orderpriority, o_custkey
      |  FROM orders WHERE o_totalprice <= 150000
      |) t
      |GROUP BY o_orderpriority
      |ORDER BY o_orderpriority""".stripMargin

  /** Streaming ingest into the LIVE DuckDB engine, epoch-fenced: arriving
    * pages pass the in-flight C4 screen and survivors land through
    * [[graft.federation.duckdb.DuckDbSqlExecutor.insertIntoEpoch]] — the
    * Arrow-staged bulk path with the fence row in the SAME engine
    * transaction, so `foreachBatch` re-delivery (recovery replay) is a
    * no-op. The read-back is a federated scan of what the stream
    * admitted; the oracle recomputes the C4 survivors in batch. */
  def duckStreamSink(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.types.{IntegerType, LongType, StringType, StructField, StructType}
    graft.federation.Federation.install(s)
    val ex = graft.federation.duckdb.DuckDbHarness.executor(s, dir)
    val ref = graft.federation.sql.RemoteTableRef.parse("stream_c4_kept")
    ex.createTable(ref, StructType(Seq(
      StructField("doc_id", LongType),
      StructField("source", StringType),
      StructField("n_sentences", IntegerType))))
    ex.ensureEpochTable(ref) // reset the fence with the target
    val schema = graft.sources.Tables.documents(s, dir).schema
    val stream = s.readStream.schema(schema)
      .option("pathGlobFilter", "documents.parquet").parquet(dir)
      .select(col("doc_id"), col("source"),
        graft.operators.TextOps.c4GateTextCol.as("text"))
    val kept = graft.operators.TextOps
      .c4FiltersFrame(stream,
        badWords = graft.operators.TextOps.c4GateBadWords)
      .filter(col("keep"))
      .select(col("doc_id"), col("source"), col("n_sentences"))
    val ckpt = java.nio.file.Files
      .createTempDirectory("duck_sink_ckpt").toString
    val q = kept.writeStream
      .outputMode("append")
      .option("checkpointLocation", ckpt)
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, batchId: Long) =>
        ex.insertIntoEpoch(ref, batch, batchId)
        ()
      }
      .start()
    q.processAllAvailable()
    q.stop()
    graft.federation.Federation
      .remoteDataFrame(s, "stream_c4_kept", ex)
      .orderBy(col("doc_id"))
  }

  /** Batch recompute of what the stream admitted: the C4 screen's kept
    * pages. */
  val duckStreamSinkOracle: String = {
    val inner = graft.operators.TextOps.c4FiltersOracle()
      .stripSuffix("ORDER BY doc_id")
    s"""SELECT doc_id, source, n_sentences FROM ($inner) c
       |WHERE keep ORDER BY doc_id""".stripMargin
  }

  /** Cross-engine ETL, live end to end: EXTRACT+TRANSFORM federate into
    * DuckDB as ONE SQL fragment (filter + per-customer aggregate, cents
    * kept in exact BIGINT arithmetic so three engines agree bitwise),
    * LOAD lands in Derby through the staged retry-idempotent write path
    * (per-partition staging tables + one-transaction driver publish),
    * and the READ-BACK federates a join + rollup against Derby's own
    * `customer` table as ONE Derby fragment. Spark orchestrates; each
    * engine does its own heavy lifting, and the wire carries only the
    * per-customer aggregate between them — the ETL shape a 100 TB
    * multi-engine deployment runs nightly. */
  def duckToDerbyEtl(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions.{col, count, lit, round, sum}
    graft.federation.Federation.install(s)
    val duck = graft.federation.duckdb.DuckDbHarness.executor(s, dir)
    val derby = graft.federation.jdbc.JdbcHarness.executor(s, dir)
    // extract + transform: one remote SQL inside DuckDB
    val derived = graft.federation.Federation
      .remoteDataFrame(s, "orders", duck)
      .filter(col("o_orderpriority") === "1-URGENT")
      .groupBy(col("o_custkey").cast("long").as("custkey"))
      .agg(count(lit(1)).as("n_urgent"),
        sum(round(col("o_totalprice") * 100, 0).cast("long"))
          .as("urgent_cents"))
    // load: the staged idempotent insert into the OTHER live engine
    graft.federation.jdbc.JdbcHarness.resetWriteTarget(s, dir, "urgent_cust",
      """"custkey" BIGINT, "n_urgent" BIGINT, "urgent_cents" BIGINT""")
    derby.insertInto(
      graft.federation.sql.RemoteTableRef.parse("urgent_cust"), derived)
    // read back: join + rollup federate as one Derby fragment
    val loaded = graft.federation.Federation
      .remoteDataFrame(s, "urgent_cust", derby)
    val cust = graft.federation.Federation
      .remoteDataFrame(s, "customer", derby)
    loaded.join(cust, col("custkey") === col("c_custkey"))
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_cust"),
        sum(col("n_urgent")).as("total_urgent"),
        sum(col("urgent_cents")).as("total_cents"))
      .orderBy(col("c_mktsegment"))
  }

  val duckToDerbyEtlOracle: String =
    """SELECT c_mktsegment, COUNT(*) AS n_cust,
      |  CAST(SUM(n_urgent) AS BIGINT) AS total_urgent,
      |  CAST(SUM(urgent_cents) AS BIGINT) AS total_cents
      |FROM (
      |  SELECT o_custkey AS custkey, COUNT(*) AS n_urgent,
      |    CAST(SUM(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT)
      |      AS urgent_cents
      |  FROM orders WHERE o_orderpriority = '1-URGENT' GROUP BY 1
      |) u JOIN customer ON c_custkey = custkey
      |GROUP BY c_mktsegment
      |ORDER BY c_mktsegment""".stripMargin

  /** Remote-to-remote CREATE TABLE AS on the live DuckDB engine: the
    * source aggregate is the engine's OWN fragment, so the rows land as
    * ONE `INSERT INTO … (SELECT …)` executed inside DuckDB — zero rows
    * cross the subprocess boundary in either direction. */
  def duckCtas(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions.{col, count, lit, max}
    graft.federation.Federation.install(s)
    val ex = graft.federation.duckdb.DuckDbHarness.executor(s, dir)
    val derived = graft.federation.Federation
      .remoteDataFrame(s, "nation", ex)
      .groupBy(col("n_regionkey").cast("long").as("r_key"))
      .agg(count(lit(1)).as("n_nations"), max(col("n_name")).as("top_name"))
    graft.federation.Federation.createRemoteTableAs(
      derived, "region_stats", ex)
    graft.federation.Federation.remoteDataFrame(s, "region_stats", ex)
      .orderBy(col("r_key"))
  }

  val duckCtasOracle: String =
    """SELECT CAST(n_regionkey AS BIGINT) AS r_key, COUNT(*) AS n_nations,
      |  MAX(n_name) AS top_name
      |FROM nation GROUP BY 1 ORDER BY 1""".stripMargin

  /** The distributed write path into a single-writer engine: N parallel
    * Spark tasks each write their partition as one Arrow IPC stream file
    * beside the database file (the cluster-scale half; the driver takes
    * only the files of the attempts the scheduler accepted), then ONE
    * driver-side `INSERT INTO … SELECT … FROM __ingest` reads them through
    * an Arrow `RecordBatchReader` — the engine's native bulk path, where
    * the JDBC executor's per-task INSERT fan-in is impossible by design
    * here. */
  def duckWrite(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions.{col, count, lit, max}
    graft.federation.Federation.install(s)
    val ex = graft.federation.duckdb.DuckDbHarness.executor(s, dir)
    val ref = graft.federation.sql.RemoteTableRef.parse("cust_stats")
    ex.createTable(ref, org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("segment",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("n_cust",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("max_bal",
        org.apache.spark.sql.types.DoubleType))))
    val derived = graft.sources.Tables.table(s, dir, "customer")
      .groupBy(col("c_mktsegment").as("segment"))
      .agg(count(lit(1)).as("n_cust"), max(col("c_acctbal")).as("max_bal"))
    ex.insertInto(ref, derived)
    graft.federation.Federation.remoteDataFrame(s, "cust_stats", ex)
      .orderBy(col("segment"))
  }

  val duckWriteOracle: String =
    """SELECT c_mktsegment AS segment, COUNT(*) AS n_cust,
      |  MAX(c_acctbal) AS max_bal
      |FROM customer GROUP BY 1 ORDER BY 1""".stripMargin

  /** Predicate DELETE on the live DuckDB engine — DML parity with the
    * Derby leg ([[jdbcDelete]]): the condition unparses in DuckDB's
    * dialect and runs as ONE `DELETE FROM … WHERE …` inside the engine,
    * zero rows on the wire in either direction. Same predicate and same
    * oracle as the Derby gate, so the two engines' DML semantics are
    * directly comparable. */
  def duckDelete(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
    graft.federation.Federation.install(s)
    val ex = graft.federation.duckdb.DuckDbHarness.executor(s, dir)
    val ref = graft.federation.sql.RemoteTableRef.parse("nation_trim_duck")
    ex.createTable(ref, StructType(Seq(
      StructField("n_key", LongType),
      StructField("name", StringType),
      StructField("r_key", LongType))))
    val rows = graft.sources.Tables.table(s, dir, "nation").select(
      col("n_nationkey").cast("long").as("n_key"),
      col("n_name").as("name"),
      col("n_regionkey").cast("long").as("r_key"))
    ex.insertInto(ref, rows)
    graft.federation.Federation.deleteFromRemote(s, "nation_trim_duck", ex,
      col("r_key") >= 3 || col("name").like("%IA"))
    graft.federation.Federation.remoteDataFrame(s, "nation_trim_duck", ex)
      .orderBy(col("n_key"))
  }

  val duckDeleteOracle: String = jdbcDeleteOracle

  /** Predicate UPDATE on the live DuckDB engine — SET expressions
    * (arithmetic + `||` concatenation) and the WHERE predicate unparse
    * into ONE remote `UPDATE t SET … WHERE …`; the engine computes the
    * new values from its own rows. Same statement and oracle as the
    * Derby gate ([[jdbcUpdate]]). */
  def duckUpdate(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions.{col, concat, lit}
    import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
    graft.federation.Federation.install(s)
    val ex = graft.federation.duckdb.DuckDbHarness.executor(s, dir)
    val ref = graft.federation.sql.RemoteTableRef.parse("nation_adj_duck")
    ex.createTable(ref, StructType(Seq(
      StructField("n_key", LongType),
      StructField("name", StringType),
      StructField("r_key", LongType))))
    val rows = graft.sources.Tables.table(s, dir, "nation").select(
      col("n_nationkey").cast("long").as("n_key"),
      col("n_name").as("name"),
      col("n_regionkey").cast("long").as("r_key"))
    ex.insertInto(ref, rows)
    graft.federation.Federation.updateRemote(s, "nation_adj_duck", ex,
      Seq("r_key" -> (col("r_key") + 100L),
        "name" -> concat(col("name"), lit("_X"))),
      col("name").like("%1"))
    graft.federation.Federation.remoteDataFrame(s, "nation_adj_duck", ex)
      .orderBy(col("n_key"))
  }

  val duckUpdateOracle: String = jdbcUpdateOracle

  /** UNNEST on the LIVE engine: the array column crosses the subprocess
    * boundary as a nested JSON array (list wire support), and the explode
    * + aggregate federate WHOLE — one `CROSS JOIN UNNEST(…) AS t(e)` SQL
    * (the form the goldens pinned, now executed for real). */
  def duckUnnest(s: SparkSession, dir: String): DataFrame =
    graft.federation.duckdb.DuckDbHarness.sql(s, dir,
      """SELECT label, COUNT(*) AS n_elems,
        |  CAST(MIN(e) AS DOUBLE) AS min_e, CAST(MAX(e) AS DOUBLE) AS max_e
        |FROM duck_embeddings LATERAL VIEW EXPLODE(embedding) ex AS e
        |WHERE vec_id < 200
        |GROUP BY label
        |ORDER BY label""".stripMargin)

  val duckUnnestOracle: String = unnestOracle

  /** Positional UNNEST on the LIVE engine — the gate that caught a real
    * dialect bug: DuckDB 1.0 does NOT implement `WITH ORDINALITY` (the
    * golden-pinned ANSI form raised "Not implemented" when first run
    * live); the dialect now emits a LATERAL derived table zipping
    * `unnest()` with `generate_subscripts()`, rebased −1. */
  def duckUnnestPos(s: SparkSession, dir: String): DataFrame =
    graft.federation.duckdb.DuckDbHarness.sql(s, dir,
      """SELECT label, COUNT(*) AS n_elems,
        |  CAST(MIN(CASE WHEN p = 0 THEN e END) AS DOUBLE) AS min_first,
        |  CAST(MAX(p) AS INT) AS max_p
        |FROM duck_embeddings LATERAL VIEW POSEXPLODE(embedding) ex AS p, e
        |WHERE vec_id < 200
        |GROUP BY label
        |ORDER BY label""".stripMargin)

  val duckUnnestPosOracle: String = unnestPosOracle

  /** STRUCT columns cross the LIVE engine wire (round-10 sibling of the
    * r9 array-wire work, which caught a real dialect bug on first run):
    * the remote table carries a native nested `STRUCT(…)` column —
    * DESCRIBE's `STRUCT(name TYPE, …)` string parses to a Catalyst
    * `StructType`, values ride the subprocess line as nested JSON
    * objects — and the field projection runs ABOVE the boundary, so
    * per-row struct integrity (not just an aggregate) is oracle-checked.
    * Reference schema surface: schema_cast/struct_cast.rs:12-55. */
  def duckStruct(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions.col
    graft.federation.Federation.install(s)
    val ex = graft.federation.duckdb.DuckDbHarness.executor(s, dir)
    val ref = graft.federation.sql.RemoteTableRef.parse("cust_profile_duck")
    ex.runDdl(ref, Seq(
      "DROP TABLE IF EXISTS cust_profile_duck",
      """CREATE TABLE cust_profile_duck AS
        |SELECT c_custkey,
        |  {'segment': c_mktsegment, 'balance': c_acctbal,
        |   'nation': {'key': c_nationkey, 'label': c_name}} AS profile
        |FROM customer""".stripMargin))
    graft.federation.Federation.remoteDataFrame(s, "cust_profile_duck", ex)
      .where(col("c_custkey") <= 500)
      .select(col("c_custkey"),
        col("profile.segment").as("segment"),
        col("profile.balance").as("balance"),
        col("profile.nation.key").cast("long").as("n_key"),
        col("profile.nation.label").as("label"))
      .orderBy(col("c_custkey"))
  }

  val duckStructOracle: String =
    """SELECT c_custkey, c_mktsegment AS segment, c_acctbal AS balance,
      |  CAST(c_nationkey AS BIGINT) AS n_key, c_name AS label
      |FROM customer WHERE c_custkey <= 500 ORDER BY c_custkey""".stripMargin

  /** String→struct coercion on REAL wire data — the reference's
    * schema-cast contract executed at a live boundary
    * (struct_cast.rs:12-55): the remote column is JSON TEXT (engine
    * catalog says JSON/VARCHAR), the registration DECLARES a struct
    * schema ([[graft.federation.Federation.remoteDataFrameAs]]), and the
    * boundary decodes each wire value into the declared
    * struct-with-nested-array as it lands. Until this gate, no declared
    * schema had ever disagreed with a real engine's catalog. */
  def duckStructCast(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions.{col, element_at}
    import org.apache.spark.sql.types._
    graft.federation.Federation.install(s)
    val ex = graft.federation.duckdb.DuckDbHarness.executor(s, dir)
    val ref = graft.federation.sql.RemoteTableRef.parse("cust_payload_duck")
    ex.runDdl(ref, Seq(
      "DROP TABLE IF EXISTS cust_payload_duck",
      """CREATE TABLE cust_payload_duck AS
        |SELECT c_custkey, to_json({'seg': c_mktsegment, 'bal': c_acctbal,
        |  'tags': [c_nationkey, c_custkey]}) AS payload
        |FROM customer WHERE c_custkey <= 400""".stripMargin))
    val declared = StructType(Seq(
      StructField("c_custkey", LongType),
      StructField("payload", StructType(Seq(
        StructField("seg", StringType),
        StructField("bal", DoubleType),
        StructField("tags", ArrayType(LongType)))))))
    graft.federation.Federation
      .remoteDataFrameAs(s, "cust_payload_duck", ex, declared)
      .select(col("c_custkey"),
        col("payload.seg").as("seg"),
        col("payload.bal").as("bal"),
        element_at(col("payload.tags"), 1).as("tag0"),
        element_at(col("payload.tags"), 2).as("tag1"))
      .orderBy(col("c_custkey"))
  }

  val duckStructCastOracle: String =
    """SELECT c_custkey, c_mktsegment AS seg, c_acctbal AS bal,
      |  CAST(c_nationkey AS BIGINT) AS tag0,
      |  CAST(c_custkey AS BIGINT) AS tag1
      |FROM customer WHERE c_custkey <= 400 ORDER BY c_custkey""".stripMargin

  /** MAP columns cross the LIVE engine wire — the third step of the
    * array→struct→map wire progression, each of which caught a real bug
    * on first live run (arrays: WITH ORDINALITY; structs: the
    * DECIMAL-list type-parser hole; maps: uuid/time wire values crashed
    * the subprocess JSON encoder — see [[duckWideTypes]]). DESCRIBE's
    * `MAP(K, V)` parses to Catalyst `MapType`; values ride the row line
    * as the client's `{"key":[…],"value":[…]}` parallel lists. Lookups
    * run above the boundary, so per-row map integrity (not just an
    * aggregate) is oracle-checked. */
  def duckMap(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions.{col, element_at, size}
    graft.federation.Federation.install(s)
    val ex = graft.federation.duckdb.DuckDbHarness.executor(s, dir)
    val ref = graft.federation.sql.RemoteTableRef.parse("cust_tags_duck")
    ex.runDdl(ref, Seq(
      "DROP TABLE IF EXISTS cust_tags_duck",
      """CREATE TABLE cust_tags_duck AS
        |SELECT c_custkey,
        |  MAP {'nat': CAST(c_nationkey AS INTEGER),
        |       'seg_len': CAST(length(c_mktsegment) AS INTEGER),
        |       'ord7': CAST(c_custkey % 7 AS INTEGER)} AS tags
        |FROM customer WHERE c_custkey <= 500""".stripMargin))
    graft.federation.Federation.remoteDataFrame(s, "cust_tags_duck", ex)
      .select(col("c_custkey"),
        element_at(col("tags"), "nat").as("nat"),
        element_at(col("tags"), "seg_len").as("seg_len"),
        element_at(col("tags"), "ord7").as("ord7"),
        size(col("tags")).as("n_tags"))
      .orderBy(col("c_custkey"))
  }

  val duckMapOracle: String =
    """SELECT c_custkey, CAST(c_nationkey AS INT) AS nat,
      |  CAST(length(c_mktsegment) AS INT) AS seg_len,
      |  CAST(c_custkey % 7 AS INT) AS ord7, 3 AS n_tags
      |FROM customer WHERE c_custkey <= 500 ORDER BY c_custkey""".stripMargin

  /** String→map coercion on REAL wire data — the map sibling of
    * [[duckStructCast]]: the remote column is `to_json(MAP …)` text (a
    * plain JSON object, probed live), the registration DECLARES a
    * `MapType` schema, and the boundary decodes each wire value into the
    * declared map — keys re-typed from their JSON text (reference
    * schema-cast contract, struct_cast.rs:12-55, map leg). */
  def duckMapCast(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions.{col, element_at, size}
    import org.apache.spark.sql.types._
    graft.federation.Federation.install(s)
    val ex = graft.federation.duckdb.DuckDbHarness.executor(s, dir)
    val ref = graft.federation.sql.RemoteTableRef.parse("cust_kv_duck")
    ex.runDdl(ref, Seq(
      "DROP TABLE IF EXISTS cust_kv_duck",
      """CREATE TABLE cust_kv_duck AS
        |SELECT c_custkey,
        |  to_json(MAP {'bal_c': CAST(c_acctbal * 100 AS BIGINT),
        |               'nat': CAST(c_nationkey AS BIGINT)}) AS kv
        |FROM customer WHERE c_custkey <= 400""".stripMargin))
    val declared = StructType(Seq(
      StructField("c_custkey", LongType),
      StructField("kv", MapType(StringType, LongType))))
    graft.federation.Federation
      .remoteDataFrameAs(s, "cust_kv_duck", ex, declared)
      .select(col("c_custkey"),
        element_at(col("kv"), "bal_c").as("bal_c"),
        element_at(col("kv"), "nat").as("nat"),
        size(col("kv")).as("n_kv"))
      .orderBy(col("c_custkey"))
  }

  val duckMapCastOracle: String =
    """SELECT c_custkey, CAST(c_acctbal * 100 AS BIGINT) AS bal_c,
      |  CAST(c_nationkey AS BIGINT) AS nat, 2 AS n_kv
      |FROM customer WHERE c_custkey <= 400 ORDER BY c_custkey""".stripMargin

  /** The engine-specific scalar types with no Spark analog, live on the
    * wire: UUID and TIME (the python client yields uuid.UUID /
    * datetime.time objects — before this gate the wire script's
    * json.dumps raised TypeError and ANY query touching such a column
    * failed), TIMESTAMPTZ (arrives with an explicit UTC offset the NTZ
    * parser rejects), the unsigned widths (each steps up one Spark
    * integral size; UBIGINT exceeds signed 64-bit and rides as
    * DECIMAL(20,0)), and ENUM (a closed string domain). All values
    * derived deterministically from `customer`, so the oracle recomputes
    * them engine-side. */
  def duckWideTypes(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions.{col, unix_micros}
    graft.federation.Federation.install(s)
    val ex = graft.federation.duckdb.DuckDbHarness.executor(s, dir)
    val ref = graft.federation.sql.RemoteTableRef.parse("wide_types_duck")
    ex.runDdl(ref, Seq(
      "DROP TABLE IF EXISTS wide_types_duck",
      "DROP TYPE IF EXISTS graft_seg_enum",
      """CREATE TYPE graft_seg_enum AS
        |ENUM ('AUTOMOBILE','BUILDING','FURNITURE','HOUSEHOLD','MACHINERY')
        |""".stripMargin,
      """CREATE TABLE wide_types_duck AS
        |SELECT c_custkey,
        |  CAST(md5(c_name) AS UUID) AS uid,
        |  CAST(TIMESTAMPTZ '2024-01-01 00:00:00+00'
        |       + c_custkey * INTERVAL 1 MINUTE AS TIMESTAMPTZ) AS tz,
        |  CAST(TIME '00:00:00'
        |       + (c_custkey % 86000) * INTERVAL 1 SECOND AS TIME) AS tm,
        |  CAST(c_custkey % 200 AS UTINYINT) AS u8,
        |  CAST(c_custkey % 60000 AS USMALLINT) AS u16,
        |  CAST(c_custkey + 3000000000 AS UINTEGER) AS u32,
        |  CAST(c_custkey AS UBIGINT) + CAST(9223372036854775807 AS UBIGINT)
        |    AS u64,
        |  CAST(c_mktsegment AS graft_seg_enum) AS seg
        |FROM customer WHERE c_custkey <= 300""".stripMargin))
    graft.federation.Federation.remoteDataFrame(s, "wide_types_duck", ex)
      .select(col("c_custkey"), col("uid"),
        unix_micros(col("tz")).as("tz_us"),
        col("tm"),
        col("u8"), col("u16"), col("u32"),
        col("u64").cast("string").as("u64"),
        col("seg"))
      .orderBy(col("c_custkey"))
  }

  val duckWideTypesOracle: String =
    """SELECT c_custkey, CAST(CAST(md5(c_name) AS UUID) AS VARCHAR) AS uid,
      |  epoch_us(TIMESTAMPTZ '2024-01-01 00:00:00+00'
      |           + c_custkey * INTERVAL 1 MINUTE) AS tz_us,
      |  CAST(TIME '00:00:00'
      |       + (c_custkey % 86000) * INTERVAL 1 SECOND AS VARCHAR) AS tm,
      |  CAST(c_custkey % 200 AS SMALLINT) AS u8,
      |  CAST(c_custkey % 60000 AS INT) AS u16,
      |  CAST(c_custkey + 3000000000 AS BIGINT) AS u32,
      |  CAST(CAST(c_custkey AS HUGEINT) + 9223372036854775807
      |       AS VARCHAR) AS u64,
      |  c_mktsegment AS seg
      |FROM customer WHERE c_custkey <= 300 ORDER BY c_custkey""".stripMargin

  /** INTERVAL columns over the LIVE engine wire — the last schema-cast
    * kernel of the reference never proven on real wire data (reference
    * intervals_cast.rs:11-75 treats MonthDayNano→YearMonth/DayTime
    * narrowing as core coercion). Probing the real wire found real
    * breakage BEFORE this gate existed, like every wide-type round
    * before it: the engine's python client collapses INTERVAL months
    * into timedelta days (1 month → 30 days — silent data corruption,
    * and nested intervals crashed the JSON encoder outright). The wire
    * now ships the engine's exact text rendering (subprocess-side
    * `CAST(… AS VARCHAR)` wrap), parsed back to a CalendarInterval, and
    * the strict [[graft.federation.sql.IntervalCast]] kernels narrow to
    * the ANSI types; EXTRACT above the boundary makes the values
    * oracle-comparable as plain ints. */
  def duckInterval(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions.col
    graft.federation.Federation.install(s)
    val ex = graft.federation.duckdb.DuckDbHarness.executor(s, dir)
    val ref = graft.federation.sql.RemoteTableRef.parse("interval_facts_duck")
    ex.runDdl(ref, Seq(
      "DROP TABLE IF EXISTS interval_facts_duck",
      """CREATE TABLE interval_facts_duck AS
        |SELECT o_orderkey,
        |  to_months(CAST(o_orderkey % 25 AS INTEGER))
        |    + to_years(CAST(o_orderkey % 3 AS INTEGER)) AS ym_iv,
        |  to_days(CAST(o_orderkey % 5 AS INTEGER))
        |    + to_hours(CAST(o_orderkey % 30 AS INTEGER))
        |    + to_seconds(CAST(o_orderkey % 45 AS INTEGER)) AS dt_iv
        |FROM read_parquet('__DIR__/orders.parquet')
        |WHERE o_orderkey <= 2000""".stripMargin
        .replace("__DIR__", dir)))
    graft.federation.Federation
      .remoteDataFrame(s, "interval_facts_duck", ex)
      .select(col("o_orderkey"),
        graft.federation.sql.IntervalCast.toYearMonth(col("ym_iv")).as("ym"),
        graft.federation.sql.IntervalCast.toDayTime(col("dt_iv")).as("dt"))
      .selectExpr("o_orderkey",
        "CAST(extract(YEAR FROM ym) * 12 + extract(MONTH FROM ym) AS INT)" +
          " AS ym_months",
        ("CAST(extract(DAY FROM dt) * 86400 + extract(HOUR FROM dt) * 3600" +
          " + extract(MINUTE FROM dt) * 60" +
          " + CAST(extract(SECOND FROM dt) AS BIGINT) AS BIGINT) AS dt_secs"))
      .orderBy(col("o_orderkey"))
  }

  val duckIntervalOracle: String =
    """SELECT o_orderkey,
      |  CAST(o_orderkey % 25 + (o_orderkey % 3) * 12 AS INT) AS ym_months,
      |  CAST((o_orderkey % 5) * 86400 + (o_orderkey % 30) * 3600
      |       + (o_orderkey % 45) AS BIGINT) AS dt_secs
      |FROM orders WHERE o_orderkey <= 2000 ORDER BY o_orderkey""".stripMargin

  /** ZERO-ROW remote results through the declared-schema decode path —
    * the reference explicitly preserves empty batches with their row
    * counts and schemas (record_convert.rs:127-129); until this gate the
    * port's equivalent was implicit. The filter pushes into the fragment,
    * the engine answers 0 rows, and the boundary must surface an empty
    * frame with the exact DECLARED struct schema (not a decode error, not
    * a schemaless empty). */
  def duckZeroRows(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.types._
    graft.federation.Federation.install(s)
    val ex = graft.federation.duckdb.DuckDbHarness.executor(s, dir)
    val ref = graft.federation.sql.RemoteTableRef.parse("zero_payload_duck")
    ex.runDdl(ref, Seq(
      "DROP TABLE IF EXISTS zero_payload_duck",
      """CREATE TABLE zero_payload_duck AS
        |SELECT c_custkey,
        |  to_json({'seg': c_mktsegment, 'bal': c_acctbal}) AS payload
        |FROM customer WHERE c_custkey <= 100""".stripMargin))
    val declared = StructType(Seq(
      StructField("c_custkey", LongType),
      StructField("payload", StructType(Seq(
        StructField("seg", StringType),
        StructField("bal", DoubleType))))))
    graft.federation.Federation
      .remoteDataFrameAs(s, "zero_payload_duck", ex, declared)
      .where(col("c_custkey") < 0)
      .select(col("c_custkey"), col("payload.seg").as("seg"),
        col("payload.bal").as("bal"))
      .orderBy(col("c_custkey"))
  }

  val duckZeroRowsOracle: String =
    """SELECT c_custkey, c_mktsegment AS seg, c_acctbal AS bal
      |FROM customer WHERE c_custkey < 0 ORDER BY c_custkey""".stripMargin

  /** The Derby leg of the zero-row play: an empty remote fragment under
    * a grouped aggregate — the 0-row wire result must flow through the
    * JDBC decode and leave the local aggregate empty (not a NULL row). */
  def jdbcZeroRows(s: SparkSession, dir: String): DataFrame =
    graft.federation.jdbc.JdbcHarness.sql(s, dir,
      """SELECT n_regionkey, COUNT(*) AS n
        |FROM jdbc_nation WHERE n_nationkey < 0
        |GROUP BY n_regionkey ORDER BY n_regionkey""".stripMargin)

  val jdbcZeroRowsOracle: String =
    """SELECT n_regionkey, COUNT(*) AS n
      |FROM nation WHERE n_nationkey < 0
      |GROUP BY n_regionkey ORDER BY n_regionkey""".stripMargin

  /** ANSI interval ARITHMETIC pushed to the live engine — `ts ± INTERVAL`
    * renders as native interval addition where the dialect's semantics
    * were probed to match Spark's (month-end clamping, negatives,
    * fractional seconds); Derby has no INTERVAL type, so there the same
    * expressions stay local (dialect refusal, never a wrong answer). */
  def duckDateArith(s: SparkSession, dir: String): DataFrame =
    graft.federation.duckdb.DuckDbHarness.sql(s, dir,
      """SELECT o_orderkey,
        |  o_orderdate + INTERVAL '2' MONTH AS plus2m,
        |  o_orderdate - INTERVAL '1' YEAR AS minus1y,
        |  o_orderdate + INTERVAL '36' HOUR AS plus36h,
        |  o_orderdate - INTERVAL '90.5' SECOND AS minus90s
        |FROM duck_orders WHERE o_orderkey <= 1200
        |ORDER BY o_orderkey""".stripMargin)

  val duckDateArithOracle: String =
    """SELECT o_orderkey,
      |  o_orderdate + INTERVAL 2 MONTH AS plus2m,
      |  o_orderdate - INTERVAL 1 YEAR AS minus1y,
      |  o_orderdate + INTERVAL 36 HOUR AS plus36h,
      |  o_orderdate - INTERVAL '90.5' SECOND AS minus90s
      |FROM orders WHERE o_orderkey <= 1200
      |ORDER BY o_orderkey""".stripMargin

  /** EXISTS subquery executed on the LIVE engine — the (NOT) EXISTS
    * unparse family previously ran live only on Derby; every construct's
    * first run on a new real engine has caught dialect drift. */
  def duckExists(s: SparkSession, dir: String): DataFrame =
    graft.federation.duckdb.DuckDbHarness.sql(s, dir,
      """SELECT c_mktsegment, COUNT(*) AS n_customers
        |FROM duck_customer
        |WHERE EXISTS (SELECT 1 FROM duck_orders
        |              WHERE o_custkey = c_custkey
        |                AND o_orderpriority = '1-URGENT')
        |GROUP BY c_mktsegment
        |ORDER BY c_mktsegment""".stripMargin)

  /** NOT IN (null-aware anti join → NOT EXISTS) live. */
  def duckNotIn(s: SparkSession, dir: String): DataFrame =
    graft.federation.duckdb.DuckDbHarness.sql(s, dir,
      """SELECT c_custkey, c_mktsegment
        |FROM duck_customer
        |WHERE c_custkey NOT IN (SELECT o_custkey FROM duck_orders
        |                        WHERE o_orderpriority = '1-URGENT')
        |ORDER BY c_custkey
        |LIMIT 30""".stripMargin)

  /** Uncorrelated scalar subquery inside the fragment, live. */
  def duckScalarSubquery(s: SparkSession, dir: String): DataFrame =
    graft.federation.duckdb.DuckDbHarness.sql(s, dir,
      """SELECT o_orderkey, o_totalprice
        |FROM duck_orders
        |WHERE o_totalprice > (SELECT 0.5 * MAX(o_totalprice)
        |                      FROM duck_orders)
        |ORDER BY o_totalprice DESC, o_orderkey
        |LIMIT 25""".stripMargin)

  /** The dedup pipeline's FINGERPRINT STAGE pushed into the remote
    * engine: the exact-dedup md5 fingerprint and its per-source
    * distinct/dup accounting compute INSIDE DuckDB as one SQL (Spark's
    * `md5` and the DISTINCT aggregate both unparse), so the wire carries
    * one row per source — never the text. This is the "run the pipeline
    * where the data lives" composition of the federation and pipeline
    * halves: a corpus resident in an engine gets its dedup datasheet
    * without ever shipping documents. */
  def duckRemoteFingerprint(s: SparkSession, dir: String): DataFrame =
    graft.federation.duckdb.DuckDbHarness.sql(s, dir,
      """SELECT source, COUNT(*) AS n_docs,
        |  COUNT(DISTINCT md5(text)) AS n_distinct_fp,
        |  COUNT(*) - COUNT(DISTINCT md5(text)) AS n_dup_docs
        |FROM duck_documents
        |GROUP BY source
        |ORDER BY source""".stripMargin)

  val duckRemoteFingerprintOracle: String =
    """SELECT source, COUNT(*) AS n_docs,
      |  COUNT(DISTINCT md5(text)) AS n_distinct_fp,
      |  COUNT(*) - COUNT(DISTINCT md5(text)) AS n_dup_docs
      |FROM documents
      |GROUP BY source
      |ORDER BY source""".stripMargin

  /** The two halves COMPOSED: an LLM web-corpus pipeline over a corpus
    * that LIVES in the remote engine (the reference's push-compute-to-
    * storage thesis, README.md:6-19). The dialect-portable stages — the
    * length pre-screen predicate, the md5 fingerprint, and the exact-dedup
    * ROW_NUMBER window — execute INSIDE DuckDB as one fragment (wire
    * carries only pre-screened canonical docs); the custom C4/Gopher
    * screen kernels (codegen expressions, not SQL-expressible) and the
    * token rollup stitch locally. The companion spec pins the executed
    * wire SQL: screens present remotely, kernels absent. */
  def duckWebCorpusFed(s: SparkSession, dir: String): DataFrame = {
    graft.federation.duckdb.DuckDbHarness.registerViews(s, dir)
    val survivors = s.sql(
      """SELECT doc_id, source, text FROM (
        |  SELECT doc_id, source, text,
        |    ROW_NUMBER() OVER (PARTITION BY md5(text) ORDER BY doc_id)
        |      AS rn
        |  FROM duck_documents
        |  WHERE length(text) >= 150 AND length(text) <= 1200) t
        |WHERE rn = 1""".stripMargin)
    val toks = filter(split(lower(col("text")), "\\s+"), t => t =!= "")
    survivors.select(col("source"),
        size(toks).cast("long").as("n_tokens"),
        TextOps.c4KeepOf(TextOps.c4GateTextCol,
          badWords = TextOps.c4GateBadWords).as("c4_keep"),
        TextOps.gopherKeepOf(col("text"),
          requiredWords = TextOps.gopherFixtureWords).as("g_keep"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_pre"),
        sum(when(col("c4_keep") && col("g_keep"), 1L).otherwise(0L))
          .as("n_screened"),
        sum(when(col("c4_keep") && col("g_keep"), col("n_tokens"))
          .otherwise(0L)).as("kept_tokens"))
      .orderBy(col("source"))
  }

  def duckWebCorpusFedOracle: String = {
    val c4 = TextOps.c4FiltersOracle().stripSuffix("ORDER BY doc_id")
    val gopher = TextOps
      .gopherRulesOracle(30, 90, TextOps.gopherFixtureWords)
      .stripSuffix("ORDER BY doc_id")
    s"""WITH pre AS (
       |  SELECT doc_id, source, text,
       |    ROW_NUMBER() OVER (PARTITION BY md5(text) ORDER BY doc_id)
       |      AS rn
       |  FROM documents
       |  WHERE length(text) >= 150 AND length(text) <= 1200
       |), surv AS (
       |  SELECT doc_id, source,
       |    CAST(len([x FOR x IN string_split_regex(lower(text), '\\s+')
       |      IF x <> '']) AS BIGINT) AS n_tokens
       |  FROM pre WHERE rn = 1
       |), c4k AS (SELECT doc_id, keep AS c4_keep FROM ($c4) x),
       |gk AS (SELECT doc_id, keep AS g_keep FROM ($gopher) y)
       |SELECT surv.source, CAST(COUNT(*) AS BIGINT) AS n_pre,
       |  CAST(SUM(CASE WHEN c4_keep AND g_keep THEN 1 ELSE 0 END)
       |    AS BIGINT) AS n_screened,
       |  CAST(SUM(CASE WHEN c4_keep AND g_keep THEN n_tokens ELSE 0 END)
       |    AS BIGINT) AS kept_tokens
       |FROM surv JOIN c4k USING (doc_id) JOIN gk USING (doc_id)
       |GROUP BY surv.source
       |ORDER BY surv.source""".stripMargin
  }

  /** Quantized ANN over embeddings LIVING in the remote engine — the
    * similarity family composed with federation: the int8 scalar
    * quantization (`Similarity.quantize8` — per-vector scale, round-half-
    * up floor), the exact integer dot product (`zip_with` + `aggregate`
    * higher-order lambdas), the non-equi self-join, the per-query
    * ROW_NUMBER top-k window and the final sort ALL execute inside DuckDB
    * as ONE fragment; the wire carries exactly q×k result rows. Beyond
    * the fragment-merging win, Spark evaluates every higher-order array
    * expression as CodegenFallback — the engine's vectorized list kernels
    * replace interpreted per-row eval. The companion spec pins the single
    * fragment and the `list_transform`/`list_reduce` wire SQL. */
  def duckAnnQuantized(s: SparkSession, dir: String): DataFrame = {
    graft.federation.duckdb.DuckDbHarness.registerViews(s, dir)
    val codes = s.table("duck_embeddings")
      .select(col("vec_id"), Similarity.quantize8(col("embedding")).as("q"))
    val queries = codes.orderBy(col("vec_id")).limit(8)
      .select(col("vec_id").as("q_id"), col("q").as("q_vec"))
    val scored = codes.join(queries, col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"),
        Similarity.quantizedDot(col("q_vec"), col("q")).as("qdot"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("q_id")).orderBy(col("qdot").desc, col("vec_id"))
    scored
      .withColumn("rank",
        org.apache.spark.sql.functions.row_number().over(w))
      .filter(col("rank") <= 10)
      .select(col("q_id"), col("rank"), col("vec_id"), col("qdot"))
      .orderBy(col("q_id"), col("rank"))
  }

  /** Same recipe as `Similarity.quantizedTopKOracle` (the local gate's
    * oracle — identical quantization and integer dot), reused verbatim:
    * the federated plan must agree with the local plan AND the oracle. */
  def duckAnnQuantizedOracle: String = Similarity.quantizedTopKOracle

  /** TWO live DuckDB instances (distinct database files = distinct
    * computeContexts): each side of the join federates into ITS OWN
    * instance and the stitch happens locally — the same-engine-type
    * no-mixing invariant the two-Derby gate proves, now on the
    * subprocess engine (reference compute-context discriminator,
    * src/sql/executor.rs:25-29). */
  def duckTwoInstances(s: SparkSession, dir: String): DataFrame = {
    graft.federation.duckdb.DuckDbHarness.registerViews(s, dir)
    graft.federation.duckdb.DuckDbHarness.registerViewsB(s, dir)
    s.sql(
      """SELECT n_name, COUNT(*) AS n_suppliers,
        |  CAST(MAX(s_acctbal) AS DOUBLE) AS top_bal
        |FROM duck_supplier JOIN duck2_nation ON s_nationkey = n_nationkey
        |WHERE n_regionkey < 3
        |GROUP BY n_name
        |ORDER BY n_name""".stripMargin)
  }

  val duckTwoInstancesOracle: String = jdbcTwoInstancesOracle

  /** Runtime-filter pushdown against the LIVE engine: a selective LOCAL
    * build side whose output carries an FP column (bind joins refuse FP
    * payloads — no portable literal for non-finite values), so the
    * planner's remaining wire reduction is the execution-time runtime
    * filter: broadcast-side keys inlined into the DuckDB fragment SQL as
    * an IN-list / min-max range. The r10 boundary stress measured this
    * mechanism live at 15M rows (750k wire rows, 20× cut); this gate
    * keeps it oracle-checked at every round. */
  def duckRuntimeFilter(s: SparkSession, dir: String): DataFrame = {
    graft.federation.duckdb.DuckDbHarness.registerViews(s, dir)
    graft.sources.Tables.orders(s, dir)
      .filter("o_totalprice > 480000")
      .createOrReplaceTempView("local_big_orders_duck")
    s.sql(
      """SELECT o_orderpriority, COUNT(*) AS n_lines,
        |  CAST(MAX(o_totalprice) AS DOUBLE) AS max_price
        |FROM duck_lineitem JOIN local_big_orders_duck
        |  ON l_orderkey = o_orderkey
        |GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin)
  }

  val duckRuntimeFilterOracle: String =
    """SELECT o_orderpriority, COUNT(*) AS n_lines,
      |  CAST(MAX(o_totalprice) AS DOUBLE) AS max_price
      |FROM lineitem JOIN (SELECT * FROM orders WHERE o_totalprice > 480000) o
      |  ON l_orderkey = o_orderkey
      |GROUP BY o_orderpriority
      |ORDER BY o_orderpriority""".stripMargin

  /** Window functions federate: rank + windowed count inside the fragment
    * (reference analyzer.rs:410-447 window coverage). */
  def windowPushdown(s: SparkSession, dir: String): DataFrame =
    FederationHarness.sql(s, dir,
      """SELECT o_orderpriority, o_orderkey, o_totalprice, rn, cnt_pri FROM (
        |  SELECT o_orderpriority, o_orderkey, o_totalprice,
        |    ROW_NUMBER() OVER (PARTITION BY o_orderpriority
        |      ORDER BY o_totalprice DESC, o_orderkey) AS rn,
        |    COUNT(*) OVER (PARTITION BY o_orderpriority) AS cnt_pri
        |  FROM fed_orders
        |) t WHERE rn <= 3
        |ORDER BY o_orderpriority, rn""".stripMargin)

  val windowOracle: String =
    """SELECT o_orderpriority, o_orderkey, o_totalprice, rn, cnt_pri FROM (
      |  SELECT o_orderpriority, o_orderkey, o_totalprice,
      |    CAST(ROW_NUMBER() OVER (PARTITION BY o_orderpriority
      |      ORDER BY o_totalprice DESC, o_orderkey) AS INTEGER) AS rn,
      |    COUNT(*) OVER (PARTITION BY o_orderpriority) AS cnt_pri
      |  FROM orders
      |) t WHERE rn <= 3
      |ORDER BY o_orderpriority, rn""".stripMargin

  /** Explicit ROWS frames (moving aggregates) survive federation — the
    * frame clause is emitted verbatim, so the remote engine computes the
    * same sliding window. Cents arithmetic keeps the moving sum exact. */
  def windowFramePushdown(s: SparkSession, dir: String): DataFrame =
    FederationHarness.sql(s, dir,
      """SELECT o_custkey, o_orderkey,
        |  SUM(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)) OVER (
        |    PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |    ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS mv_cents,
        |  COUNT(*) OVER (
        |    PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |    ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS mv_n,
        |  MIN(o_totalprice) OVER (
        |    PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |    ROWS BETWEEN 1 PRECEDING AND 1 FOLLOWING) AS neigh_min
        |FROM fed_orders WHERE o_custkey <= 200
        |ORDER BY o_custkey, o_orderkey""".stripMargin)

  val windowFrameOracle: String =
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
      |ORDER BY o_custkey, o_orderkey""".stripMargin

  /** Window navigation functions (FIRST_VALUE / LAST_VALUE / NTH_VALUE /
    * PERCENT_RANK / CUME_DIST) — deterministic under a total ORDER BY, so
    * they unparse portably; plain first()/last() aggregates stay refused. */
  def windowNavPushdown(s: SparkSession, dir: String): DataFrame =
    FederationHarness.sql(s, dir,
      """SELECT o_orderpriority, o_orderkey,
        |  FIRST_VALUE(o_orderkey) OVER w AS best_key,
        |  LAST_VALUE(o_orderkey) OVER w AS run_key,
        |  NTH_VALUE(o_orderkey, 2) OVER w AS second_key,
        |  PERCENT_RANK() OVER w AS pr,
        |  CUME_DIST() OVER w AS cd
        |FROM fed_orders WHERE o_orderkey <= 2000
        |WINDOW w AS (PARTITION BY o_orderpriority
        |  ORDER BY o_totalprice DESC, o_orderkey)
        |ORDER BY o_orderpriority, o_orderkey""".stripMargin)

  val windowNavOracle: String =
    """SELECT o_orderpriority, o_orderkey,
      |  FIRST_VALUE(o_orderkey) OVER w AS best_key,
      |  LAST_VALUE(o_orderkey) OVER w AS run_key,
      |  NTH_VALUE(o_orderkey, 2) OVER w AS second_key,
      |  PERCENT_RANK() OVER w AS pr,
      |  CUME_DIST() OVER w AS cd
      |FROM orders WHERE o_orderkey <= 2000
      |WINDOW w AS (PARTITION BY o_orderpriority
      |  ORDER BY o_totalprice DESC, o_orderkey)
      |ORDER BY o_orderpriority, o_orderkey""".stripMargin

  /** ROLLUP federates as GROUP BY GROUPING SETS (reference
    * analyzer.rs:523-550). */
  def rollupPushdown(s: SparkSession, dir: String): DataFrame =
    FederationHarness.sql(s, dir,
      """SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n,
        |  MAX(o_totalprice) AS max_price
        |FROM fed_orders
        |GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
        |ORDER BY o_orderstatus ASC NULLS FIRST,
        |  o_orderpriority ASC NULLS FIRST""".stripMargin)

  val rollupOracle: String =
    """SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n,
      |  MAX(o_totalprice) AS max_price
      |FROM orders
      |GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
      |ORDER BY o_orderstatus ASC NULLS FIRST,
      |  o_orderpriority ASC NULLS FIRST""".stripMargin

  /** DISTINCT and FILTER aggregate modifiers survive federation (reference
    * analyzer.rs:374-409). */
  def distinctFilterAgg(s: SparkSession, dir: String): DataFrame =
    FederationHarness.sql(s, dir,
      """SELECT l_returnflag,
        |  COUNT(DISTINCT l_suppkey) AS n_supp,
        |  COUNT(*) FILTER (WHERE l_discount > 0.05) AS n_disc,
        |  MAX(l_quantity) AS max_qty
        |FROM fed_lineitem
        |GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin)

  val distinctFilterAggOracle: String =
    """SELECT l_returnflag,
      |  CAST(COUNT(DISTINCT l_suppkey) AS BIGINT) AS n_supp,
      |  CAST(COUNT(*) FILTER (WHERE l_discount > 0.05) AS BIGINT) AS n_disc,
      |  MAX(l_quantity) AS max_qty
      |FROM lineitem
      |GROUP BY l_returnflag
      |ORDER BY l_returnflag""".stripMargin

  /** Uncorrelated scalar subquery ships inside the fragment (reference
    * optimizer/mod.rs:285-301). The 0.5*MAX threshold is FP-exact on both
    * engines (MAX is order-independent, unlike AVG/SUM of doubles). */
  def scalarSubqueryPushdown(s: SparkSession, dir: String): DataFrame =
    FederationHarness.sql(s, dir,
      """SELECT o_orderkey, o_totalprice
        |FROM fed_orders
        |WHERE o_totalprice > (SELECT 0.5 * MAX(o_totalprice) FROM fed_orders)
        |ORDER BY o_totalprice DESC, o_orderkey
        |LIMIT 25""".stripMargin)

  val scalarSubqueryOracle: String =
    """SELECT o_orderkey, o_totalprice
      |FROM orders
      |WHERE o_totalprice > (SELECT 0.5 * MAX(o_totalprice) FROM orders)
      |ORDER BY o_totalprice DESC, o_orderkey
      |LIMIT 25""".stripMargin

  /** NOT IN subquery: Catalyst's null-aware anti join federates via the
    * NOT EXISTS rendering. */
  def notInPushdown(s: SparkSession, dir: String): DataFrame =
    FederationHarness.sql(s, dir,
      """SELECT c_custkey, c_mktsegment
        |FROM fed_customer
        |WHERE c_custkey NOT IN (SELECT o_custkey FROM fed_orders
        |                        WHERE o_orderpriority = '1-URGENT')
        |ORDER BY c_custkey
        |LIMIT 30""".stripMargin)

  val notInOracle: String =
    """SELECT c_custkey, c_mktsegment
      |FROM customer
      |WHERE c_custkey NOT IN (SELECT o_custkey FROM orders
      |                        WHERE o_orderpriority = '1-URGENT')
      |ORDER BY c_custkey
      |LIMIT 30""".stripMargin

  /** Sort above an inner LIMIT must keep the limit inside a derived table —
    * the clause-order regression shape (flattening to 'ORDER BY … LIMIT n'
    * would pick a different row set). */
  def sortOverLimitSubquery(s: SparkSession, dir: String): DataFrame =
    FederationHarness.sql(s, dir,
      """SELECT o_orderkey, o_totalprice FROM (
        |  SELECT o_orderkey, o_totalprice FROM fed_orders
        |  ORDER BY o_orderkey LIMIT 100
        |) t
        |ORDER BY o_totalprice DESC, o_orderkey
        |LIMIT 10""".stripMargin)

  val sortOverLimitOracle: String =
    """SELECT o_orderkey, o_totalprice FROM (
      |  SELECT o_orderkey, o_totalprice FROM orders
      |  ORDER BY o_orderkey LIMIT 100
      |) t
      |ORDER BY o_totalprice DESC, o_orderkey
      |LIMIT 10""".stripMargin

  /** Expression-surface sweep: CASE/BETWEEN/LIKE/IN/NULLIF/COALESCE/ROUND
    * through one federated SELECT (reference §2e expression matrix). */
  def exprSurface(s: SparkSession, dir: String): DataFrame =
    FederationHarness.sql(s, dir,
      """SELECT l_orderkey, l_linenumber,
        |  CASE WHEN l_quantity BETWEEN 10 AND 20 THEN 'mid'
        |       WHEN l_quantity < 10 THEN 'low' ELSE 'high' END AS qty_band,
        |  UPPER(l_returnflag) AS rf,
        |  COALESCE(NULLIF(l_linestatus, 'O'), 'none') AS ls2,
        |  ROUND(l_discount * 100, 1) AS disc_pct
        |FROM fed_lineitem
        |WHERE l_returnflag IN ('R', 'A')
        |  AND CAST(l_orderkey AS STRING) LIKE '%7%'
        |ORDER BY l_orderkey, l_linenumber, rf, disc_pct, qty_band, ls2
        |LIMIT 40""".stripMargin)

  val exprSurfaceOracle: String =
    """SELECT l_orderkey, l_linenumber,
      |  CASE WHEN l_quantity BETWEEN 10 AND 20 THEN 'mid'
      |       WHEN l_quantity < 10 THEN 'low' ELSE 'high' END AS qty_band,
      |  UPPER(l_returnflag) AS rf,
      |  COALESCE(NULLIF(l_linestatus, 'O'), 'none') AS ls2,
      |  ROUND(l_discount * 100, 1) AS disc_pct
      |FROM lineitem
      |WHERE l_returnflag IN ('R', 'A')
      |  AND CAST(l_orderkey AS VARCHAR) LIKE '%7%'
      |ORDER BY l_orderkey, l_linenumber, rf, disc_pct, qty_band, ls2
      |LIMIT 40""".stripMargin

  /** INTERSECT across two same-provider scans. Catalyst lowers INTERSECT
    * to Aggregate(LeftSemi(<=>)) before our rule runs, so federating it
    * exercises the semi-join → EXISTS unparse path on a set operation the
    * reference rewrites the same way (DataFusion keeps Intersect as a
    * join by the time the federation analyzer sees it). */
  def intersectPushdown(s: SparkSession, dir: String): DataFrame =
    FederationHarness.sql(s, dir,
      """SELECT c_custkey AS k FROM fed_customer WHERE c_acctbal > 100
        |INTERSECT
        |SELECT o_custkey AS k FROM fed_orders WHERE o_orderstatus = 'F'
        |ORDER BY k
        |LIMIT 40""".stripMargin)

  val intersectOracle: String =
    """SELECT c_custkey AS k FROM customer WHERE c_acctbal > 100
      |INTERSECT
      |SELECT o_custkey AS k FROM orders WHERE o_orderstatus = 'F'
      |ORDER BY k
      |LIMIT 40""".stripMargin

  /** EXCEPT (set-minus): lowered to Aggregate(LeftAnti(<=>)) — the
    * NOT EXISTS unparse path. */
  def exceptPushdown(s: SparkSession, dir: String): DataFrame =
    FederationHarness.sql(s, dir,
      """SELECT c_custkey AS k FROM fed_customer WHERE c_acctbal > 100
        |EXCEPT
        |SELECT o_custkey AS k FROM fed_orders WHERE o_orderstatus = 'F'
        |ORDER BY k
        |LIMIT 40""".stripMargin)

  val exceptOracle: String =
    """SELECT c_custkey AS k FROM customer WHERE c_acctbal > 100
      |EXCEPT
      |SELECT o_custkey AS k FROM orders WHERE o_orderstatus = 'F'
      |ORDER BY k
      |LIMIT 40""".stripMargin

  /** INTERSECT ALL (multiset intersection): Catalyst lowers it to a
    * UNION ALL of count-tagged arms + a grouped min-count aggregate +
    * `Generate(replicaterows)`. Everything BELOW the Generate federates
    * as ONE remote SQL — the engine ships one row per distinct value with
    * its multiplicity — and only the row replication runs locally, which
    * is the optimal wire split: replicating remotely would ship strictly
    * MORE rows than (value, count) pairs. FederationSpec pins the
    * one-fragment shape. */
  def intersectAllPushdown(s: SparkSession, dir: String): DataFrame =
    FederationHarness.sql(s, dir,
      """SELECT o_custkey AS k FROM fed_orders WHERE o_orderstatus = 'F'
        |INTERSECT ALL
        |SELECT o_custkey AS k FROM fed_orders WHERE o_totalprice > 1000
        |ORDER BY k
        |LIMIT 60""".stripMargin)

  val intersectAllOracle: String =
    """SELECT o_custkey AS k FROM orders WHERE o_orderstatus = 'F'
      |INTERSECT ALL
      |SELECT o_custkey AS k FROM orders WHERE o_totalprice > 1000
      |ORDER BY k
      |LIMIT 60""".stripMargin

  /** EXCEPT ALL — same lowering with a signed-count sum; same one-SQL
    * fragment under a local `Generate(replicaterows)`. */
  def exceptAllPushdown(s: SparkSession, dir: String): DataFrame =
    FederationHarness.sql(s, dir,
      """SELECT o_custkey AS k FROM fed_orders WHERE o_orderstatus = 'F'
        |EXCEPT ALL
        |SELECT o_custkey AS k FROM fed_orders WHERE o_totalprice > 150000
        |ORDER BY k
        |LIMIT 60""".stripMargin)

  val exceptAllOracle: String =
    """SELECT o_custkey AS k FROM orders WHERE o_orderstatus = 'F'
      |EXCEPT ALL
      |SELECT o_custkey AS k FROM orders WHERE o_totalprice > 150000
      |ORDER BY k
      |LIMIT 60""".stripMargin

  /** INTERSECT ALL on the LIVE engine: Catalyst lowers it to a
    * union + grouped signed counts + `replicaterows`; everything except
    * the final local replication federates as ONE DuckDB SQL — the
    * optimal wire split (O(distinct keys) rows cross, with their
    * multiplicities). Mock-verified in r8; now executed for real. */
  def duckIntersectAll(s: SparkSession, dir: String): DataFrame =
    graft.federation.duckdb.DuckDbHarness.sql(s, dir,
      """SELECT o_custkey AS k FROM duck_orders WHERE o_orderstatus = 'F'
        |INTERSECT ALL
        |SELECT o_custkey AS k FROM duck_orders WHERE o_totalprice > 1000
        |ORDER BY k
        |LIMIT 60""".stripMargin)

  val duckIntersectAllOracle: String = intersectAllOracle

  /** EXCEPT ALL, same live lowering with the signed-count sum. */
  def duckExceptAll(s: SparkSession, dir: String): DataFrame =
    graft.federation.duckdb.DuckDbHarness.sql(s, dir,
      """SELECT o_custkey AS k FROM duck_orders WHERE o_orderstatus = 'F'
        |EXCEPT ALL
        |SELECT o_custkey AS k FROM duck_orders WHERE o_totalprice > 150000
        |ORDER BY k
        |LIMIT 60""".stripMargin)

  val duckExceptAllOracle: String = exceptAllOracle

  /** THREE-provider union aggregate: every prior cross-provider gate uses
    * two engines; the lattice merge, per-arm partial aggregation, and the
    * local combine are all N-ary, so a third provider (gamma) must fall
    * out for free — each of the three engines ships ONE partial GROUP BY
    * and only 3 × |groups| rows travel. FederationSpec asserts the
    * executed partial SQL on all three executors. */
  def threeProviderUnion(s: SparkSession, dir: String): DataFrame = {
    FederationHarness.setup(s, dir)
    val gamma = FederationHarness.executor(s, dir, "gamma")
    graft.federation.Federation.registerRemoteTable(
      s, "fedc_orders", "orders", gamma)
    s.sql(
      """SELECT st, COUNT(*) AS n, MIN(price) AS lo, MAX(price) AS hi
        |FROM (
        |  SELECT o_orderstatus AS st, o_totalprice AS price
        |  FROM fed_orders WHERE o_orderpriority = '1-URGENT'
        |  UNION ALL
        |  SELECT o_orderstatus, o_totalprice
        |  FROM fedb_orders WHERE o_orderpriority = '2-HIGH'
        |  UNION ALL
        |  SELECT o_orderstatus, o_totalprice
        |  FROM fedc_orders WHERE o_orderpriority = '3-MEDIUM'
        |)
        |GROUP BY st ORDER BY st""".stripMargin)
  }

  val threeProviderUnionOracle: String =
    """SELECT st, COUNT(*) AS n, MIN(price) AS lo, MAX(price) AS hi
      |FROM (
      |  SELECT o_orderstatus AS st, o_totalprice AS price
      |  FROM orders WHERE o_orderpriority = '1-URGENT'
      |  UNION ALL
      |  SELECT o_orderstatus, o_totalprice
      |  FROM orders WHERE o_orderpriority = '2-HIGH'
      |  UNION ALL
      |  SELECT o_orderstatus, o_totalprice
      |  FROM orders WHERE o_orderpriority = '3-MEDIUM'
      |) sub
      |GROUP BY st ORDER BY st""".stripMargin

  /** Two-phase aggregation across providers ([[
    * graft.federation.PartialAggRule]] — a scale feature beyond the
    * reference): the GROUP BY over a UNION ALL spanning provider alpha and
    * provider beta is split into per-provider partial aggregates, each
    * federated into its remote engine, plus a local final combine. Each
    * provider ships one row per group instead of every filtered order. */
  def partialAggUnion(s: SparkSession, dir: String): DataFrame =
    FederationHarness.sql(s, dir,
      """SELECT st, COUNT(*) AS n,
        |  CAST(SUM(price) AS DOUBLE) AS total,
        |  MIN(price) AS lo, MAX(price) AS hi
        |FROM (
        |  SELECT o_orderstatus AS st,
        |    CAST(o_totalprice AS DECIMAL(18,2)) AS price
        |  FROM fed_orders WHERE o_orderpriority = '1-URGENT'
        |  UNION ALL
        |  SELECT o_orderstatus,
        |    CAST(o_totalprice AS DECIMAL(18,2))
        |  FROM fedb_orders WHERE o_orderpriority = '2-HIGH'
        |) t GROUP BY st
        |ORDER BY st""".stripMargin)

  /** Top-k over a two-provider union ([[graft.federation.TopKPushdownRule]]
    * — beyond the reference): ORDER BY + LIMIT is replicated into each
    * provider's fragment, so alpha and beta each ship 25 rows and the
    * local merge re-sorts 50, instead of both shipping every filtered
    * order. The (price DESC, key) order is total — orderkeys are unique
    * and the branch filters are disjoint — so the result is
    * tie-deterministic for the oracle hash. */
  def unionTopK(s: SparkSession, dir: String): DataFrame =
    FederationHarness.sql(s, dir,
      """SELECT o_orderkey AS k, CAST(o_totalprice AS DOUBLE) AS price,
        |  o_orderstatus AS st
        |FROM (
        |  SELECT o_orderkey, o_totalprice, o_orderstatus
        |  FROM fed_orders WHERE o_orderpriority = '1-URGENT'
        |  UNION ALL
        |  SELECT o_orderkey, o_totalprice, o_orderstatus
        |  FROM fedb_orders WHERE o_orderpriority = '2-HIGH'
        |) t
        |ORDER BY price DESC, k
        |LIMIT 25""".stripMargin)

  val unionTopKOracle: String =
    """SELECT o_orderkey AS k, CAST(o_totalprice AS DOUBLE) AS price,
      |  o_orderstatus AS st
      |FROM (
      |  SELECT o_orderkey, o_totalprice, o_orderstatus
      |  FROM orders WHERE o_orderpriority = '1-URGENT'
      |  UNION ALL
      |  SELECT o_orderkey, o_totalprice, o_orderstatus
      |  FROM orders WHERE o_orderpriority = '2-HIGH'
      |) t
      |ORDER BY price DESC, k
      |LIMIT 25""".stripMargin

  /** Top-k with OFFSET over a two-provider union (r7 extension of
    * [[graft.federation.TopKPushdownRule]]): each provider ships its
    * top-(k+o) rows and the OFFSET is applied only in the local merge. */
  def unionTopKOffset(s: SparkSession, dir: String): DataFrame =
    FederationHarness.sql(s, dir,
      """SELECT o_orderkey AS k, CAST(o_totalprice AS DOUBLE) AS price,
        |  o_orderstatus AS st
        |FROM (
        |  SELECT o_orderkey, o_totalprice, o_orderstatus
        |  FROM fed_orders WHERE o_orderpriority = '1-URGENT'
        |  UNION ALL
        |  SELECT o_orderkey, o_totalprice, o_orderstatus
        |  FROM fedb_orders WHERE o_orderpriority = '2-HIGH'
        |) t
        |ORDER BY price DESC, k
        |LIMIT 15 OFFSET 10""".stripMargin)

  val unionTopKOffsetOracle: String =
    """SELECT o_orderkey AS k, CAST(o_totalprice AS DOUBLE) AS price,
      |  o_orderstatus AS st
      |FROM (
      |  SELECT o_orderkey, o_totalprice, o_orderstatus
      |  FROM orders WHERE o_orderpriority = '1-URGENT'
      |  UNION ALL
      |  SELECT o_orderkey, o_totalprice, o_orderstatus
      |  FROM orders WHERE o_orderpriority = '2-HIGH'
      |) t
      |ORDER BY price DESC, k
      |LIMIT 15 OFFSET 10""".stripMargin

  /** Per-GROUP top-k over a two-provider union
    * ([[graft.federation.GroupTopKPushdownRule]] — beyond the reference,
    * r8): the `row_number() OVER (PARTITION BY st ORDER BY price DESC, k)
    * <= 3` filter is replicated into each provider's fragment as a
    * windowed derived-table SQL, so alpha and beta each ship at most
    * 3 rows per status instead of every filtered order; the local merge
    * re-ranks the truncated union. The order is total (orderkeys unique,
    * branch filters disjoint), so the result is tie-deterministic for the
    * oracle hash. */
  def unionGroupTopK(s: SparkSession, dir: String): DataFrame =
    FederationHarness.sql(s, dir,
      """SELECT st, rnk, k, price FROM (
        |  SELECT o_orderstatus AS st, o_orderkey AS k,
        |    CAST(o_totalprice AS DOUBLE) AS price,
        |    ROW_NUMBER() OVER (PARTITION BY o_orderstatus
        |      ORDER BY o_totalprice DESC, o_orderkey) AS rnk
        |  FROM (
        |    SELECT o_orderkey, o_totalprice, o_orderstatus
        |    FROM fed_orders WHERE o_orderpriority = '1-URGENT'
        |    UNION ALL
        |    SELECT o_orderkey, o_totalprice, o_orderstatus
        |    FROM fedb_orders WHERE o_orderpriority = '2-HIGH'
        |  ) t
        |) r WHERE rnk <= 3
        |ORDER BY st, rnk""".stripMargin)

  val unionGroupTopKOracle: String =
    """SELECT st, rnk, k, price FROM (
      |  SELECT o_orderstatus AS st, o_orderkey AS k,
      |    CAST(o_totalprice AS DOUBLE) AS price,
      |    CAST(ROW_NUMBER() OVER (PARTITION BY o_orderstatus
      |      ORDER BY o_totalprice DESC, o_orderkey) AS INTEGER) AS rnk
      |  FROM (
      |    SELECT o_orderkey, o_totalprice, o_orderstatus
      |    FROM orders WHERE o_orderpriority = '1-URGENT'
      |    UNION ALL
      |    SELECT o_orderkey, o_totalprice, o_orderstatus
      |    FROM orders WHERE o_orderpriority = '2-HIGH'
      |  ) t
      |) r WHERE rnk <= 3
      |ORDER BY st, rnk""".stripMargin

  /** Dimension join over a two-provider union
    * ([[graft.federation.JoinUnionDistributeRule]] — beyond the reference,
    * r8): the join against the small nation dim distributes into each
    * union arm (join distributivity over UNION ALL), so the alpha arm —
    * customer and nation both on alpha — federates as ONE remote SQL and
    * only join results travel, while the beta arm's cross-provider join
    * is handled per-arm by the bind/runtime-filter machinery. Without the
    * rule the multi-provider union blocks wholesale federation and every
    * filtered customer row of BOTH providers ships local before the join
    * runs. */
  def unionDimJoin(s: SparkSession, dir: String): DataFrame =
    FederationHarness.sql(s, dir,
      """SELECT c.k, c.name, n.n_name AS nation
        |FROM (
        |  SELECT c_custkey AS k, c_name AS name, c_nationkey AS nk
        |  FROM fed_customer WHERE c_mktsegment = 'BUILDING'
        |  UNION ALL
        |  SELECT c_custkey, c_name, c_nationkey
        |  FROM fedb_customer WHERE c_mktsegment = 'MACHINERY'
        |) c
        |JOIN fed_nation n ON c.nk = n.n_nationkey
        |ORDER BY c.k""".stripMargin)

  val unionDimJoinOracle: String =
    """SELECT c.k, c.name, n.n_name AS nation
      |FROM (
      |  SELECT c_custkey AS k, c_name AS name, c_nationkey AS nk
      |  FROM customer WHERE c_mktsegment = 'BUILDING'
      |  UNION ALL
      |  SELECT c_custkey, c_name, c_nationkey
      |  FROM customer WHERE c_mktsegment = 'MACHINERY'
      |) c
      |JOIN nation n ON c.nk = n.n_nationkey
      |ORDER BY c.k""".stripMargin

  /** Full pushdown-family composition
    * ([[graft.federation.JoinUnionDistributeRule]] +
    * [[graft.federation.PartialAggRule]] Project-inlining, r8): a grouped
    * COUNT over a two-provider union INNER-joined to a small dim. The
    * join distributes per arm (leaving the restore Project over the new
    * union), the partial-agg rule inlines that projection and splits the
    * aggregate, and the same-provider arm then federates join + partial
    * GROUP BY as ONE remote SQL — each provider ships one row per nation
    * name instead of every matching customer row. */
  def unionJoinAgg(s: SparkSession, dir: String): DataFrame =
    FederationHarness.sql(s, dir,
      """SELECT n.n_name AS nation, COUNT(*) AS n_cust
        |FROM (
        |  SELECT c_custkey, c_nationkey
        |  FROM fed_customer WHERE c_mktsegment = 'BUILDING'
        |  UNION ALL
        |  SELECT c_custkey, c_nationkey
        |  FROM fedb_customer WHERE c_mktsegment = 'MACHINERY'
        |) c
        |JOIN fed_nation n ON c.c_nationkey = n.n_nationkey
        |GROUP BY n.n_name
        |ORDER BY nation""".stripMargin)

  val unionJoinAggOracle: String =
    """SELECT n.n_name AS nation, CAST(COUNT(*) AS BIGINT) AS n_cust
      |FROM (
      |  SELECT c_custkey, c_nationkey
      |  FROM customer WHERE c_mktsegment = 'BUILDING'
      |  UNION ALL
      |  SELECT c_custkey, c_nationkey
      |  FROM customer WHERE c_mktsegment = 'MACHINERY'
      |) c
      |JOIN nation n ON c.c_nationkey = n.n_nationkey
      |GROUP BY n.n_name
      |ORDER BY nation""".stripMargin

  /** Rule-family composition ([[graft.federation.JoinUnionDistributeRule]]
    * + [[graft.federation.PartialAggRule]], r8): a grouped COUNT over a
    * two-provider union restricted by an IN-subquery dim. The semi join
    * distributes into each arm first (no restore Project — semi output is
    * the arm's own), leaving `Agg(Union(semi-joins))`, which the partial
    * aggregation rule then splits — so each provider evaluates BOTH the
    * EXISTS and its partial GROUP BY remotely and ships one row per
    * nation instead of every matching customer. */
  def unionSemiAgg(s: SparkSession, dir: String): DataFrame =
    FederationHarness.sql(s, dir,
      """SELECT c_nationkey AS nk, COUNT(*) AS n_cust
        |FROM (
        |  SELECT c_custkey, c_nationkey
        |  FROM fed_customer WHERE c_mktsegment = 'BUILDING'
        |  UNION ALL
        |  SELECT c_custkey, c_nationkey
        |  FROM fedb_customer WHERE c_mktsegment = 'MACHINERY'
        |) c
        |WHERE c_nationkey IN
        |  (SELECT n_nationkey FROM fed_nation WHERE n_regionkey < 3)
        |GROUP BY c_nationkey
        |ORDER BY nk""".stripMargin)

  val unionSemiAggOracle: String =
    """SELECT c_nationkey AS nk, CAST(COUNT(*) AS BIGINT) AS n_cust
      |FROM (
      |  SELECT c_custkey, c_nationkey
      |  FROM customer WHERE c_mktsegment = 'BUILDING'
      |  UNION ALL
      |  SELECT c_custkey, c_nationkey
      |  FROM customer WHERE c_mktsegment = 'MACHINERY'
      |) c
      |WHERE c_nationkey IN
      |  (SELECT n_nationkey FROM nation WHERE n_regionkey < 3)
      |GROUP BY c_nationkey
      |ORDER BY nk""".stripMargin

  /** DISTINCT-aggregate partialization ([[graft.federation.PartialAggRule]]
    * DISTINCT branch): COUNT(DISTINCT)/SUM(DISTINCT) over a two-provider
    * union ships a per-provider DEDUP on (group key, argument) — each
    * engine returns its distinct (status, custkey) combinations, the local
    * final re-dedups across providers and counts. O(groups × distinct
    * values) on the wire instead of O(rows). */
  def partialDistinctUnion(s: SparkSession, dir: String): DataFrame =
    FederationHarness.sql(s, dir,
      """SELECT o_orderstatus AS st, COUNT(DISTINCT o_custkey) AS nd,
        |  CAST(SUM(DISTINCT o_custkey) AS BIGINT) AS sd
        |FROM (
        |  SELECT o_orderstatus, o_custkey
        |  FROM fed_orders WHERE o_orderpriority = '1-URGENT'
        |  UNION ALL
        |  SELECT o_orderstatus, o_custkey
        |  FROM fedb_orders WHERE o_orderpriority = '2-HIGH'
        |) t GROUP BY o_orderstatus
        |ORDER BY st""".stripMargin)

  val partialDistinctOracle: String =
    """SELECT o_orderstatus AS st, COUNT(DISTINCT o_custkey) AS nd,
      |  CAST(SUM(DISTINCT o_custkey) AS BIGINT) AS sd
      |FROM (
      |  SELECT o_orderstatus, o_custkey
      |  FROM orders WHERE o_orderpriority = '1-URGENT'
      |  UNION ALL
      |  SELECT o_orderstatus, o_custkey
      |  FROM orders WHERE o_orderpriority = '2-HIGH'
      |) t GROUP BY o_orderstatus
      |ORDER BY st""".stripMargin

  /** PartialAggRule v2 surface in one gate: AVG (decomposed into SUM+COUNT
    * partials, recombined as `sum/count` locally) and an EXPRESSION group
    * key (`GROUP BY upper(...)`, partialized per child as a `__gk_` alias).
    * The AVG input is integral so partial sums are exact longs and the
    * single final double division is bit-identical to the oracle's. */
  def partialAvgUnion(s: SparkSession, dir: String): DataFrame =
    FederationHarness.sql(s, dir,
      """SELECT UPPER(st) AS ust, COUNT(*) AS n, AVG(ck) AS avg_ck,
        |  SUM(ck) / COUNT(ck) AS ratio
        |FROM (
        |  SELECT o_orderstatus AS st, o_custkey AS ck
        |  FROM fed_orders WHERE o_orderpriority = '1-URGENT'
        |  UNION ALL
        |  SELECT o_orderstatus, o_custkey
        |  FROM fedb_orders WHERE o_orderpriority = '2-HIGH'
        |) t GROUP BY UPPER(st)
        |ORDER BY ust""".stripMargin)

  val partialAvgOracle: String =
    """SELECT UPPER(st) AS ust, COUNT(*) AS n, AVG(ck) AS avg_ck,
      |  CAST(SUM(ck) AS DOUBLE) / COUNT(ck) AS ratio
      |FROM (
      |  SELECT o_orderstatus AS st, o_custkey AS ck
      |  FROM orders WHERE o_orderpriority = '1-URGENT'
      |  UNION ALL
      |  SELECT o_orderstatus, o_custkey
      |  FROM orders WHERE o_orderpriority = '2-HIGH'
      |) t GROUP BY UPPER(st)
      |ORDER BY ust""".stripMargin

  val partialAggOracle: String =
    """SELECT st, COUNT(*) AS n,
      |  CAST(SUM(price) AS DOUBLE) AS total,
      |  CAST(MIN(price) AS DECIMAL(18,2)) AS lo,
      |  CAST(MAX(price) AS DECIMAL(18,2)) AS hi
      |FROM (
      |  SELECT o_orderstatus AS st,
      |    CAST(o_totalprice AS DECIMAL(18,2)) AS price
      |  FROM orders WHERE o_orderpriority = '1-URGENT'
      |  UNION ALL
      |  SELECT o_orderstatus,
      |    CAST(o_totalprice AS DECIMAL(18,2))
      |  FROM orders WHERE o_orderpriority = '2-HIGH'
      |) t GROUP BY st
      |ORDER BY st""".stripMargin
}
