package graft.federation

import scala.collection.concurrent.TrieMap

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.federation.sql.{SparkSqlExecutor, SqlExecutor}

/** Test/driver harness: remote engines simulated by isolated-catalog
  * sibling SparkSessions over the same parquet testdata — the Spark
  * equivalent of the reference's mock SQLite/Postgres executors running an
  * inner DataFusion context over CSV (examples/shared/mod.rs:30-146).
  *
  * `fed_*` tables are registered in the caller's session as
  * [[graft.federation.plans.RemoteRelation]]s pointing at executor "alpha";
  * `fedb_*` tables at executor "beta" (a second, distinct provider, for
  * cross-provider plans).
  */
object FederationHarness {

  private val tpch = Seq("region", "nation", "customer", "supplier",
    "part", "orders", "lineitem", "documents", "embeddings")

  private val executors = TrieMap.empty[(Int, String, String), SparkSqlExecutor]

  def executor(spark: SparkSession, dir: String,
      name: String): SparkSqlExecutor =
    executors.getOrElseUpdate(
      (graft.SessionCache.id(spark), dir, name), {
        val inner = spark.newSession()
        new SparkSqlExecutor(name, inner,
          tpch.map(t => t -> s"$dir/$t.parquet").toMap,
          context = s"$name@$dir")
      })

  /** A split-capable executor (n parallel remote cursors for splittable
    * fragments — see [[graft.federation.sql.SplitScan]]). */
  def splitExecutor(spark: SparkSession, dir: String,
      name: String, n: Int): SparkSqlExecutor =
    executors.getOrElseUpdate(
      (graft.SessionCache.id(spark), dir, s"$name#$n"), {
        val inner = spark.newSession()
        new SparkSqlExecutor(name, inner,
          tpch.map(t => t -> s"$dir/$t.parquet").toMap,
          context = s"$name@$dir", numSplits = n)
      })

  /** Last dir whose `<prefix>*` views were registered, per (session,
    * prefix): every harness registers on EVERY gate build (93 federated
    * gates × bench iterations), and re-listing the engine catalog plus
    * re-registering each remote view was pure catalog churn (r15
    * FedProbe: DataFrame build 45-780 ms vs ~20 ms of optimize). */
  private val registered = TrieMap.empty[(Int, String), String]

  /** Install federation into `spark` and register a `<prefix><table>`
    * remote view for every table of `ex` — a no-op when this session
    * already has this prefix's views over `dir`, so only a new session or
    * a new dir (which repoints the views) loads the executor. */
  private[federation] def registerOnce(spark: SparkSession, dir: String,
      prefix: String)(ex: => SqlExecutor): Unit = {
    val key = (graft.SessionCache.id(spark), prefix)
    if (registered.get(key).contains(dir)) return
    Federation.install(spark)
    val e = ex
    e.tableNames.foreach { t =>
      Federation.registerRemoteTable(spark, prefix + t, t, e)
    }
    registered.put(key, dir)
  }

  /** Install federation into `spark` and register the fed_* / fedb_*
    * remote views for `dir` (idempotent). */
  def setup(spark: SparkSession, dir: String): Unit = {
    registerOnce(spark, dir, "fed_")(executor(spark, dir, "alpha"))
    registerOnce(spark, dir, "fedb_")(executor(spark, dir, "beta"))
  }

  /** Run a SQL query against the federated views. */
  def sql(spark: SparkSession, dir: String, query: String): DataFrame = {
    setup(spark, dir)
    spark.sql(query)
  }
}
