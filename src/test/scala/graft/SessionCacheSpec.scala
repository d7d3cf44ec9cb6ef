package graft

import java.lang.ref.WeakReference

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Lifecycle pins for [[graft.SessionCache]]: releasing a session frees
  * everything it persisted, and a stopped session's entries go on the
  * next build. Both also report whether the dropped session became
  * unreachable (printed, not asserted: holders outside the registry
  * decide that). */
class SessionCacheSpec extends AnyFunSuite {
  private val dir = "/root/testdata/sf0.001"

  private def build(): SparkSession = SparkSession.builder()
    .master("local[2]")
    .appName("graft-session-cache")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  /** Whether `ref` cleared within a bounded wait of GC rounds. */
  private def collected(ref: WeakReference[SparkSession]): Boolean = {
    var i = 0
    while (ref.get() != null && i < 20) {
      System.gc()
      Thread.sleep(50)
      i += 1
    }
    ref.get() == null
  }

  test("release(session) unpersists every frame the session built") {
    val spark = build()
    try {
      var child = spark.newSession()
      val sc = spark.sparkContext
      val before = sc.getPersistentRDDs.keySet.toSet
      operators.Dedup.minhash(child, dir).collect()
      operators.Similarity.ivfTopK(child, dir).collect()
      streaming.StreamOps.lmQualityStream(child, dir)
      sources.Tables.table(child, dir, "region").count()
      val built = sc.getPersistentRDDs.keySet.toSet -- before
      // signatures, IVF centroids + inverted file, the LM model row
      assert(built.size >= 4, s"expected persisted entries, got $built")
      assert(SessionCache.size(child) > 0)
      SessionCache.release(child)
      assert(SessionCache.size(child) == 0, "registry still holds the child")
      assert((sc.getPersistentRDDs.keySet.toSet intersect built).isEmpty,
        "release(session) must unpersist what the session persisted")
      val ref = new WeakReference(child)
      child = null
      println(s"[session-cache] released child session collected: " +
        collected(ref))
    } finally spark.stop()
  }

  test("a stopped session's entries are dropped on the next build") {
    var s1 = build()
    sources.Tables.table(s1, dir, "region").count()
    operators.Dedup.minhash(s1, dir).collect()
    assert(SessionCache.size(s1) > 0)
    s1.stop()
    val s2 = build()
    try {
      assert(!s2.eq(s1))
      assert(sources.Tables.table(s2, dir, "nation").count() > 0)
      assert(SessionCache.size(s1) == 0,
        "entries of the stopped session survived the next build")
      val ref = new WeakReference(s1)
      s1 = null
      println(s"[session-cache] stopped session collected: " +
        collected(ref))
    } finally s2.stop()
  }
}
