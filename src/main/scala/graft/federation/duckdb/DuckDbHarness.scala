package graft.federation.duckdb

import scala.collection.concurrent.TrieMap

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.federation.FederationHarness

/** Gate/test harness for the live DuckDB engine: builds a per-(JVM, dir)
  * DuckDB database FILE from the driver's parquet testdata and registers
  * the tables as `duck_*` remote views. Unlike the Derby harness (which
  * streams rows through the driver into JDBC batches), the load is one
  * `CREATE TABLE … AS SELECT * FROM read_parquet(…)` per table — the
  * engine ingests the parquet natively, zero rows transit the JVM, which
  * is also the production bulk path for this engine.
  *
  * The executor is split-capable: a splittable fragment fans out to
  * [[Splits]] subprocesses each opening the file read-only (DuckDB
  * permits unlimited concurrent read-only opens — the file plays the
  * role a sharded remote plays for JDBC).
  */
object DuckDbHarness {

  val GateTables: Seq[String] =
    Seq("supplier", "nation", "customer", "orders", "lineitem", "region",
      "embeddings", "documents")

  val Splits = 4

  private val loaded = TrieMap.empty[(Int, String, String), DuckDbSqlExecutor]

  def executor(spark: SparkSession, dir: String,
      tables: Seq[String] = GateTables): DuckDbSqlExecutor =
    load(spark, dir, tables, "duck", "graft")

  /** A SECOND live DuckDB instance — its own database file, so its
    * computeContext differs and the no-mixing invariant applies between
    * two instances of the SAME engine type (the jdbc harness proves this
    * with two Derby instances; this is the subprocess-engine parallel). */
  def executorB(spark: SparkSession, dir: String): DuckDbSqlExecutor =
    load(spark, dir, Seq("nation", "region"), "duckb", "graftb")

  /** Load `tables` for `dir` into the database file `<file>_…` once per
    * (session, dir, name). */
  private def load(spark: SparkSession, dir: String, tables: Seq[String],
      name: String, file: String): DuckDbSqlExecutor =
    loaded.getOrElseUpdate((graft.SessionCache.id(spark), dir, name), {
      val root = java.nio.file.Paths.get("target", "duckdb")
      java.nio.file.Files.createDirectories(root)
      val db = root.resolve(
        s"${file}_${Math.abs(dir.hashCode)}_${ProcessHandle.current().pid()}.duckdb")
      java.nio.file.Files.deleteIfExists(db)
      db.toFile.deleteOnExit()
      val path = db.toAbsolutePath.toString
      DuckDbProcess.exec(path, tables.map { t =>
        s"""CREATE TABLE "$t" AS SELECT * FROM read_parquet('$dir/$t.parquet')"""
      })
      new DuckDbSqlExecutor(name, spark, path, splitCount = Splits)
    })

  /** Register `duck_<table>` remote views (idempotent). */
  def registerViews(spark: SparkSession, dir: String): Unit =
    FederationHarness.registerOnce(spark, dir, "duck_")(executor(spark, dir))

  /** Register `duck2_<table>` views on the second instance (idempotent). */
  def registerViewsB(spark: SparkSession, dir: String): Unit =
    FederationHarness.registerOnce(spark, dir, "duck2_")(executorB(spark, dir))

  /** Register the views and run a SQL query against them. */
  def sql(spark: SparkSession, dir: String, query: String): DataFrame = {
    registerViews(spark, dir)
    spark.sql(query)
  }
}
