package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Loaders for the driver-generated parquet tables (TESTDATA.md).
  *
  * All operators take `(spark, sfDir)` and resolve tables here so the same
  * query text runs at any scale factor. At 100 TB these would be
  * catalog tables backed by partitioned parquet/iceberg; `spark.read.parquet`
  * on a directory keeps the scan path identical (splittable files, column
  * pruning + predicate pushdown handled by the parquet DataSource v2).
  */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** The reader DataFrame per (session, dir, table), cached in
    * [[graft.SessionCache]]: it is an immutable logical plan (relation +
    * file index), not data — every query composed on top still scans
    * parquet. This drops the per-build file-index setup (~40 ms
    * measured).
    *
    * Its inferred schema is cached per (dir, table) across sessions:
    * without an explicit schema every `spark.read.parquet` runs a
    * footer-inference job before the real query (measured: one job of
    * ~10% of a warm gate's wall time, per table touched, per invocation —
    * across 221 gates x 3 bench iterations that is thousands of redundant
    * footer reads). It holds METADATA only — the catalog-table schema a
    * production deployment would resolve from its metastore. A corpus
    * rewritten under the same dir is one `SessionCache.release(dir)`,
    * which evicts both. */
  private def readCached(spark: SparkSession, dir: String,
      name: String): DataFrame =
    graft.SessionCache(spark, dir, ("tables.frame", name)) {
      val path = s"$dir/$name.parquet"
      val schema = graft.SessionCache.shared(dir, ("tables.schema", name))(
        spark.read.parquet(path).schema)
      spark.read.schema(schema).parquet(path)
    }

  def table(spark: SparkSession, dir: String, name: String): DataFrame =
    if (name == "events") events(spark, dir)
    else readCached(spark, dir, name)

  /** Early testdata drops stored events.ts as NANOSECOND timestamps, which
    * Spark's parquet reader rejects ([PARQUET_TYPE_ILLEGAL]); current drops
    * store microseconds, which read natively as TIMESTAMP_NTZ. Keep the
    * nanosAsLong conf so nano files read as raw int64 (converted in
    * [[events]] with integer µs division — floor semantics, matching
    * DuckDB's `CAST(ts_ns AS TIMESTAMP)` truncation); micro files are
    * unaffected by the conf and pass through as NTZ. */
  def eventsRaw(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    readCached(spark, dir, "events")
  }

  def region(s: SparkSession, d: String): DataFrame = table(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame = table(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame = table(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = table(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame = table(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame = table(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame = table(s, d, "lineitem")
  def events(s: SparkSession, d: String): DataFrame = {
    val raw = eventsRaw(s, d)
    if (raw.schema("ts").dataType == org.apache.spark.sql.types.LongType)
      // timestamp_ntz to match how Spark 4 reads naive parquet timestamps
      // (and how DuckDB sees them) — session TZ is UTC everywhere.
      raw.withColumn("ts", org.apache.spark.sql.functions
        .expr("timestamp_micros(ts div 1000)").cast("timestamp_ntz"))
    else raw
  }
  def documents(s: SparkSession, d: String): DataFrame = table(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = table(s, d, "embeddings")

  /** Register every table as a temp view in the given session. */
  def registerAll(spark: SparkSession, dir: String): Unit =
    all.foreach(n => table(spark, dir, n).createOrReplaceTempView(n))
}
