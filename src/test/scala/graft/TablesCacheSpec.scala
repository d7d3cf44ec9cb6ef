package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Regression pins for the per-session reader-plan cache in
  * [[graft.sources.Tables]].
  *
  * r14 keyed the cache on `System.identityHashCode(session)`: identity
  * hashes recycle after GC, so a later suite could be handed a DataFrame
  * whose SparkContext was already stopped (`assertNotStopped` /
  * NPE in CreateViewCommand — VERIFY_r14 tests_ok:false). The cache now
  * lives in [[graft.SessionCache]], keyed on the session object; these
  * tests pin the stop/rebuild cycle and the corpus-rewrite release
  * (ADVICE r14).
  */
class TablesCacheSpec extends AnyFunSuite {
  private val dir = "/root/testdata/sf0.001"

  private def build(): SparkSession = SparkSession.builder()
    .master("local[2]")
    .appName("graft-tables-cache")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  test("table() survives a session stop/rebuild cycle (no stale plan)") {
    val s1 = build()
    val n1 = sources.Tables.table(s1, dir, "region").count()
    s1.stop()
    val s2 = build()
    try {
      val df = sources.Tables.table(s2, dir, "region")
      assert(df.sparkSession.eq(s2),
        "cached frame is bound to a foreign (stopped) session")
      assert(df.count() == n1)
      // the view-registration path that NPE'd in r14
      sources.Tables.registerAll(s2, dir)
      assert(s2.sql("select count(*) from region").head().getLong(0) == n1)
    } finally s2.stop()
  }

  test("releaseTables evicts schema + plan for a rewritten corpus dir") {
    val s = build()
    try {
      val tmp = java.nio.file.Files.createTempDirectory("graft-tbl").toString
      val p = s"$tmp/region.parquet"
      s.range(3).selectExpr("cast(id as int) as a")
        .write.mode("overwrite").parquet(p)
      assert(sources.Tables.table(s, tmp, "region").columns.toSeq == Seq("a"))
      s.range(4).selectExpr("cast(id as int) as a", "id as b")
        .write.mode("overwrite").parquet(p)
      SessionCache.release(tmp)
      val df = sources.Tables.table(s, tmp, "region")
      assert(df.columns.toSeq == Seq("a", "b"), "stale schema served")
      assert(df.count() == 4)
    } finally s.stop()
  }
}
