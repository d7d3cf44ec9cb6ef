package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.PortableHashExprs
import graft.sources.Tables._

/** Similarity search over the `embeddings` table
  * (vec_id: long, embedding: array<float>, label: int).
  *
  * Two paths, same API:
  *  - '''brute force''': exact cosine top-k. The (small) query set is
  *    broadcast; each partition of the corpus computes dot products locally
  *    and emits only its per-partition top-k via the rank window — at
  *    100 TB the corpus is never shuffled, only (k × queries) rows move.
  *  - '''LSH-bucketed''' (banded random hyperplanes): per-band sign-bit
  *    keys computed by a native kernel whose ±1 hyperplanes derive from a
  *    deterministic integer formula (no stored model — and engine-portable,
  *    so the DuckDB oracle rebuilds identical buckets in SQL). Candidates
  *    are pairs agreeing on at least one band's full key, so the self-join
  *    is per-(band, key) bucket. The key width grows with the corpus
  *    ([[rBitsFor]]) and buckets over [[BucketCap]] are subdivided by a
  *    refinement key, so Σ bucket² stays ~N·cap — sub-quadratic at any
  *    scale, unlike a fixed bucket count (Θ(N²) asymptotically). This is
  *    the scale path for all-pairs near-dup detection.
  *
  * Dot products use `zip_with` + `aggregate` (fold in element order) in
  * double precision — deterministic, codegen-friendly, no UDFs.
  */
object Similarity {

  /** Deterministic in-order dot product of two float arrays (as double). */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, x) => acc + x)

  def norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column =
    dot(a, b) / (norm(a) * norm(b))

  /** Exact cosine top-k: for each of the first `nQueries` vectors (by
    * vec_id), the k nearest other vectors. */
  def bruteForceTopK(s: SparkSession, dir: String, nQueries: Int = 8,
      k: Int = 10): DataFrame = {
    val emb = embeddings(s, dir)
    val queries = emb.orderBy(col("vec_id")).limit(nQueries)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
    val scored = emb.join(broadcast(queries), col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"),
        cosine(col("q_vec"), col("embedding")).as("cos"))
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("cos").desc, col("vec_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("rank"), col("vec_id"), col("cos"))
      .orderBy(col("q_id"), col("rank"))
  }

  /** DuckDB mirror of [[bruteForceTopK]]. `list_cosine_similarity` over
    * DOUBLE[] reproduces the Spark-side in-order double fold bitwise
    * (verified at sf0.01); ranking tiebreak (cos DESC, vec_id) matches. */
  val bruteForceTopKOracle: String =
    """WITH q AS (
      |  SELECT vec_id AS q_id, CAST(embedding AS DOUBLE[]) AS q_vec
      |  FROM embeddings ORDER BY vec_id LIMIT 8
      |), scored AS (
      |  SELECT q.q_id, e.vec_id,
      |    list_cosine_similarity(q.q_vec, CAST(e.embedding AS DOUBLE[])) AS cos
      |  FROM q, embeddings e WHERE e.vec_id <> q.q_id
      |), ranked AS (
      |  SELECT q_id, vec_id, cos,
      |    CAST(ROW_NUMBER() OVER (PARTITION BY q_id
      |      ORDER BY cos DESC, vec_id) AS INTEGER) AS rank
      |  FROM scored
      |)
      |SELECT q_id, rank, vec_id, cos FROM ranked
      |WHERE rank <= 10 ORDER BY q_id, rank""".stripMargin

  /** Random-hyperplane sign sketch — native portable kernel
    * ([[PortableHashExprs.PortableSignSketch]]): bit i = sign of the
    * in-order dot of the vector with a ±1 hyperplane derived from a
    * two-round LCG on (i, dimension). */
  def signSketch(vec: Column, bits: Int): Column =
    PortableHashExprs.portable_sign_sketch(vec, bits)

  /** LSH band count (multi-table OR over bands lifts recall; each band is
    * an independent hyperplane family via the plane-index stride). */
  val Bands = 4
  /** Desired mean bucket occupancy — the knob [[rBitsFor]] solves for. */
  val TargetBucket = 16
  val RMin = 4
  /** ≤ [[PortableHashExprs.ExtraPlaneOffset]]: main keys may not spill into
    * the refinement-plane family. 28 bits = 268M buckets/band, enough for
    * ~4.3B vectors at the target occupancy. */
  val RMax = 28
  /** Refinement-key width for buckets over [[BucketCap]]. */
  val ExtraBits = 4
  /** Bucket-size cap (3× target): larger buckets are subdivided by the
    * refinement key so one hot bucket can't go quadratic. */
  val BucketCap = 48

  /** Per-band key width for a corpus of n vectors: the smallest r in
    * [RMin, RMax] with TargetBucket · 2^r ≥ n, so the per-band bucket
    * space 2^r tracks n/TargetBucket and mean occupancy stays ~constant
    * as the corpus grows — the scale property a fixed width lacks. The
    * DuckDB oracle derives the same r from COUNT(*). */
  def rBitsFor(n: Long): Int = {
    var r = RMin
    while (r < RMax && TargetBucket.toLong * (1L << r) < n) r += 1
    r
  }

  /** Shared oracle prelude: per-vector banded keys via the same portable
    * hyperplane formula, rebuilt in DuckDB SQL (list_reduce folds
    * left-to-right in element order, matching the kernel's accumulation
    * sequence; r is derived from COUNT(*) exactly as [[rBitsFor]]). */
  private val bucketCte: String =
    """WITH e AS (
      |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
      |), par AS (
      |  SELECT list_min([i FOR i IN range(4,29) IF 16 * (CAST(1 AS BIGINT) << i) >= n] || [28]) AS r
      |  FROM (SELECT COUNT(*) AS n FROM e)
      |), keys AS (
      |  SELECT vec_id, v, t AS band,
      |    CAST(list_sum([CASE WHEN list_reduce(
      |        [v[d+1] * (CASE WHEN (((1103515245*((1103515245*((t*64+j)*8191+d+1)+12345) % 2147483647)+12345) % 2147483647) >> 7) & 1 = 1
      |                   THEN 1.0 ELSE -1.0 END) FOR d IN range(0, len(v))],
      |        (acc, x) -> acc + x) >= 0
      |      THEN (CAST(1 AS BIGINT) << j) ELSE 0 END FOR j IN range(0, r)]) AS BIGINT) AS bkey,
      |    CAST(list_sum([CASE WHEN list_reduce(
      |        [v[d+1] * (CASE WHEN (((1103515245*((1103515245*((t*64+32+j)*8191+d+1)+12345) % 2147483647)+12345) % 2147483647) >> 7) & 1 = 1
      |                   THEN 1.0 ELSE -1.0 END) FOR d IN range(0, len(v))],
      |        (acc, x) -> acc + x) >= 0
      |      THEN (CAST(1 AS BIGINT) << j) ELSE 0 END FOR j IN range(0, 4)]) AS BIGINT) AS xkey
      |  FROM e, par, range(0,4) tt(t)
      |), cnt AS (
      |  SELECT band, bkey, COUNT(*) AS c FROM keys GROUP BY 1, 2
      |), refined AS (
      |  SELECT k.vec_id, k.v, k.band, k.bkey,
      |    CASE WHEN c.c > 48 THEN k.xkey ELSE -1 END AS subkey
      |  FROM keys k JOIN cnt c USING (band, bkey)
      |), cand AS (
      |  SELECT DISTINCT a.vec_id AS a_id, b.vec_id AS b_id
      |  FROM refined a JOIN refined b
      |    ON a.band = b.band AND a.bkey = b.bkey AND a.subkey = b.subkey
      |   AND a.vec_id < b.vec_id
      |), pairs AS (
      |  SELECT p.a_id, p.b_id, list_cosine_similarity(ea.v, eb.v) AS cos
      |  FROM cand p
      |  JOIN e ea ON ea.vec_id = p.a_id
      |  JOIN e eb ON eb.vec_id = p.b_id
      |)""".stripMargin

  /** Corpus row count per (session, dir) — sizes the LSH key width. On a
    * real catalog this is table statistics; here it is one metadata-scale
    * job, cached in [[graft.SessionCache]] so repeated
    * `sim_*`/`dedup_embedding` invocations in one session don't re-run
    * it. */
  private def corpusCount(s: SparkSession, dir: String): Long =
    graft.SessionCache(s, dir, "similarity.count") {
      // tagged so monitoring (and the cache spec) can pin this job
      val sc = s.sparkContext
      val prev = sc.getLocalProperty("spark.job.description")
      sc.setJobDescription("graft-corpus-count")
      try embeddings(s, dir).count()
      finally sc.setJobDescription(prev)
    }

  /** Banded-LSH candidate pairs with exact cosine verification: pairs
    * agreeing on at least one band's (key, refinement) bucket. Cost is
    * Σ bucket², bounded ~N·[[BucketCap]] by construction — never N².
    *
    * The corpus count that sizes the key width comes from the keyed
    * [[corpusCount]] cache — one job per (session, dir), not per call. */
  def lshPairs(s: SparkSession, dir: String,
      bucketCap: Int = BucketCap): DataFrame = {
    val emb = embeddings(s, dir)
    val r = rBitsFor(corpusCount(s, dir))
    val keyed = emb.select(col("vec_id"), col("embedding"),
      PortableHashExprs.portable_sign_bands(col("embedding"), Bands, r,
        ExtraBits).as("keys"))
    val banded = keyed.select(col("vec_id"), col("embedding"),
      explode(transform(sequence(lit(0), lit(Bands - 1)),
        t => struct(t.as("band"),
          element_at(col("keys"), t + 1).as("bkey"),
          element_at(col("keys"), t + Bands + 1).as("xkey")))).as("bb"))
      .select(col("vec_id"), col("embedding"), col("bb.band").as("band"),
        col("bb.bkey").as("bkey"), col("bb.xkey").as("xkey"))
    val counts = banded.groupBy(col("band"), col("bkey"))
      .agg(count(lit(1)).as("cnt"))
    val refined = banded.join(counts, Seq("band", "bkey"))
      .withColumn("subkey",
        when(col("cnt") > bucketCap, col("xkey")).otherwise(lit(-1L)))
    val l = refined.select(col("band"), col("bkey"), col("subkey"),
      col("vec_id").as("a_id"), col("embedding").as("a_vec"))
    val rr = refined.select(col("band"), col("bkey"), col("subkey"),
      col("vec_id").as("b_id"), col("embedding").as("b_vec"))
    l.join(rr, Seq("band", "bkey", "subkey"))
      .filter(col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id"), col("a_vec"), col("b_vec"))
      .dropDuplicates("a_id", "b_id")
      .withColumn("cos", cosine(col("a_vec"), col("b_vec")))
      .select(col("a_id"), col("b_id"), col("cos"))
  }

  /** Approximate near-neighbor per vector: the best in-bucket neighbor
    * (null when its LSH bucket is a singleton). One row per vector — stable
    * output shape regardless of corpus similarity structure. */
  def lshNearNeighbors(s: SparkSession, dir: String): DataFrame = {
    val pairs = lshPairs(s, dir)
    val directed = pairs.select(col("a_id").as("vec_id"),
        col("b_id").as("nbr_id"), col("cos"))
      .union(pairs.select(col("b_id").as("vec_id"),
        col("a_id").as("nbr_id"), col("cos")))
    val best = directed
      .groupBy(col("vec_id"))
      .agg(max(struct(col("cos"), col("nbr_id"))).as("best"))
      .select(col("vec_id"), col("best.nbr_id").as("nn_id"),
        col("best.cos").as("nn_cos"))
    embeddings(s, dir).select(col("vec_id"))
      .join(best, Seq("vec_id"), "left")
      .orderBy(col("vec_id"))
  }

  val lshNearNeighborsOracle: String =
    bucketCte +
      """, directed AS (
        |  SELECT a_id AS vec_id, b_id AS nbr_id, cos FROM pairs
        |  UNION ALL
        |  SELECT b_id AS vec_id, a_id AS nbr_id, cos FROM pairs
        |), best AS (
        |  SELECT vec_id, nbr_id AS nn_id, cos AS nn_cos,
        |    ROW_NUMBER() OVER (PARTITION BY vec_id
        |      ORDER BY cos DESC, nbr_id DESC) AS rn
        |  FROM directed
        |)
        |SELECT e.vec_id, b.nn_id, b.nn_cos
        |FROM embeddings e LEFT JOIN (SELECT * FROM best WHERE rn = 1) b
        |  USING (vec_id)
        |ORDER BY e.vec_id""".stripMargin

  // ------------------------------------------------------------- IVF ANN

  /** Coarse IVF cells. */
  val IvfK = 16
  /** Cells probed per query. */
  val IvfProbes = 4

  /** Lloyd-refinement sample share in percent (MD5 bucket of vec_id). */
  val IvfSamplePct = 50

  /** Portable MD5 bucket in [0, 100) — the same rule as
    * [[Sampling.hashSample]], so the DuckDB oracle draws the identical
    * Lloyd sample. */
  private def ivfSampleBucket(key: Column): Column =
    conv(substring(md5(key.cast("string")), 1, 14), 16, 10).cast("long") % 100

  /** IVF centroids: data-seeded (embeddings of vec_id < K) then refined by
    * ONE deterministic Lloyd iteration over a fixed MD5-bucket sample —
    * each cell's refined centroid is the element-wise mean of its sample
    * members, accumulated in vec_id order as a left-to-right double fold
    * (the exact IEEE sequence DuckDB's list_reduce computes, so the oracle
    * rebuilds bitwise-identical centroids). Cells that attract no sample
    * members keep their seed. Production would iterate to convergence on a
    * larger sample; one pass already moves the centroids off arbitrary
    * data points toward cluster centers (better-balanced cells → fewer
    * over-full probes) while keeping every value engine-reproducible.
    * Seeds and sample fit in memory at any corpus scale (K vectors + a
    * bounded sample), so both Lloyd joins broadcast. */
  def ivfCentroids(s: SparkSession, dir: String, kCells: Int = IvfK): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val emb = embeddings(s, dir)
    val seeds = emb.filter(col("vec_id") < kCells)
      .select(col("vec_id").as("cent_id"),
        transform(col("embedding"), x => x.cast("double")).as("seed_vec"))
    val w = Window.partitionBy(col("vec_id"))
      .orderBy(col("ccos").desc, col("cent_id"))
    val sampleAssigned = emb
      .filter(ivfSampleBucket(col("vec_id")) < IvfSamplePct)
      .join(broadcast(seeds))
      .select(col("vec_id"), col("embedding"), col("cent_id"),
        cosine(col("embedding"), col("seed_vec")).as("ccos"))
      .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
    val means = sampleAssigned
      .groupBy(col("cent_id"))
      .agg(sort_array(collect_list(struct(col("vec_id"),
        transform(col("embedding"), x => x.cast("double")).as("v")))).as("vs"))
      .select(col("cent_id"), expr(
        """transform(sequence(0, size(vs[0].v) - 1),
          |  d -> aggregate(vs, CAST(0.0 AS DOUBLE),
          |         (acc, m) -> acc + m.v[d]) / size(vs))""".stripMargin)
        .as("mean_vec"))
    seeds.join(means, Seq("cent_id"), "left")
      .select(col("cent_id"),
        coalesce(col("mean_vec"), col("seed_vec")).as("cent_vec"))
  }

  /** IVF cell assignment: every vector goes to the cell of its nearest
    * (cosine) centroid, ties to the smaller centroid id. Centroids come
    * from [[ivfCentroids]] (seeded + one Lloyd pass, engine-portable);
    * the assign → invert → probe structure is the part that matters at
    * 100 TB. Centroids are broadcast; assignment is one map-side pass +
    * a top-1-per-vector window (WindowGroupLimit prunes per-partition
    * before the shuffle). */
  private def scoredAgainst(emb: DataFrame, cents: DataFrame): DataFrame =
    emb.join(broadcast(cents))
      .select(col("vec_id"), col("embedding"), col("cent_id"),
        cosine(col("embedding"), col("cent_vec")).as("ccos"))

  private def assignmentsOf(scored: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("vec_id"))
      .orderBy(col("ccos").desc, col("cent_id"))
    scored.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select(col("vec_id"), col("embedding"), col("cent_id").as("cell"))
  }

  /** The IVF index — refined centroids + the inverted file (every vector's
    * cell assignment) — cached per (session, dir, K) and persisted in
    * [[graft.SessionCache]]. In production the index is built ONCE per
    * corpus snapshot and every query probes it; rebuilding centroids + a
    * full corpus assignment pass inside each top-k call (as the pre-cache
    * code did) mismeasures the probe path by the whole build cost. */
  private def ivfIndex(s: SparkSession, dir: String,
      kCells: Int): (DataFrame, DataFrame) =
    graft.SessionCache.persisted(s, dir, ("similarity.ivf", kCells)) {
      val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
      val cents = ivfCentroids(s, dir, kCells).persist(lvl)
      val assigned =
        assignmentsOf(scoredAgainst(embeddings(s, dir), cents)).persist(lvl)
      (cents, assigned)
    } { case (c, a) => Seq(c, a) }

  /** The cached index's centroid table (see [[ivfIndex]]) — for consumers
    * that assign against the index without probing it, e.g. the streaming
    * in-flight assignment: rebuilding the centroid refinement per call
    * (as the pre-r14 stream did) bills the once-per-snapshot index build
    * to every read. */
  def ivfIndexCentroids(s: SparkSession, dir: String,
      kCells: Int = IvfK): DataFrame =
    ivfIndex(s, dir, kCells)._1

  def ivfScored(s: SparkSession, dir: String, kCells: Int = IvfK): DataFrame =
    scoredAgainst(embeddings(s, dir), ivfIndex(s, dir, kCells)._1)

  def ivfAssignments(s: SparkSession, dir: String,
      kCells: Int = IvfK): DataFrame = ivfIndex(s, dir, kCells)._2

  /** IVF top-k: each query probes its `nprobe` nearest cells and searches
    * exact cosine only within them — the scanned fraction is ~nprobe/K of
    * the corpus instead of all of it. At scale the assignment is a staging
    * table (the inverted file), co-partitioned on `cell` so each probe
    * touches only its cells' partitions. */
  def ivfTopK(s: SparkSession, dir: String, kCells: Int = IvfK,
      nprobe: Int = IvfProbes, nQueries: Int = 8, k: Int = 10): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("vec_id"))
      .orderBy(col("ccos").desc, col("cent_id"))
    val assigned = ivfAssignments(s, dir, kCells)
    val probes = ivfScored(s, dir, kCells).filter(col("vec_id") < nQueries)
      .withColumn("rn", row_number().over(w)).filter(col("rn") <= nprobe)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"),
        col("cent_id").as("cell"))
    // each vector lives in exactly one cell, so a (query, vector) pair
    // occurs at most once — no dedup needed
    val cand = assigned.join(probes, Seq("cell"))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"),
        cosine(col("q_vec"), col("embedding")).as("cos"))
    val w2 = Window.partitionBy(col("q_id"))
      .orderBy(col("cos").desc, col("vec_id"))
    cand.withColumn("rank", row_number().over(w2))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("rank"), col("vec_id"), col("cos"))
      .orderBy(col("q_id"), col("rank"))
  }

  /** Shared IVF oracle prelude: engine-portable centroid build (seeds +
    * one Lloyd pass over the MD5 sample) and the full cell assignment —
    * the DuckDB mirror of [[ivfIndex]], reused by [[ivfTopKOracle]] and
    * [[semanticDedupOracle]]. */
  /** The assignment CTE chain, shared with the streaming ingest oracle
    * ([[graft.streaming.StreamOps.ivfAssignStreamOracle]]). */
  private[graft] def ivfAssignedOracleCte: String = ivfAssignedCte

  private val ivfAssignedCte: String =
    """WITH e AS (
      |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
      |), seeds AS (
      |  SELECT vec_id AS cent_id, v AS cv FROM e WHERE vec_id < 16
      |), samp AS (
      |  SELECT * FROM e
      |  WHERE CAST('0x'||substr(md5(CAST(vec_id AS VARCHAR)),1,14) AS BIGINT) % 100 < 50
      |), sassign AS (
      |  SELECT vec_id, v, cent_id FROM (
      |    SELECT s.vec_id, s.v, c.cent_id,
      |      ROW_NUMBER() OVER (PARTITION BY s.vec_id
      |        ORDER BY list_cosine_similarity(s.v, c.cv) DESC, c.cent_id) AS rn
      |    FROM samp s CROSS JOIN seeds c) WHERE rn = 1
      |), means AS (
      |  SELECT cent_id,
      |    list_transform(range(1, len(vs[1]) + 1), d ->
      |      list_reduce(list_transform(vs, x -> x[d]), (a, b) -> a + b)
      |        / len(vs)) AS mv
      |  FROM (SELECT cent_id, list(v ORDER BY vec_id) AS vs
      |        FROM sassign GROUP BY cent_id)
      |), c AS (
      |  SELECT s.cent_id, COALESCE(m.mv, s.cv) AS cv
      |  FROM seeds s LEFT JOIN means m USING (cent_id)
      |), scored AS (
      |  SELECT e.vec_id, e.v, c.cent_id,
      |    list_cosine_similarity(e.v, c.cv) AS ccos
      |  FROM e CROSS JOIN c
      |), assigned AS (
      |  SELECT vec_id, v, cent_id AS cell FROM (
      |    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
      |      ORDER BY ccos DESC, cent_id) AS rn FROM scored) WHERE rn = 1
      |)""".stripMargin

  val ivfTopKOracle: String = ivfAssignedCte +
    """, probes AS (
      |  SELECT vec_id AS q_id, v AS qv, cent_id AS cell FROM (
      |    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
      |      ORDER BY ccos DESC, cent_id) AS rn
      |    FROM scored WHERE vec_id < 8) WHERE rn <= 4
      |), cand AS (
      |  SELECT p.q_id, a.vec_id, list_cosine_similarity(p.qv, a.v) AS cos
      |  FROM assigned a JOIN probes p USING (cell)
      |  WHERE a.vec_id <> p.q_id
      |)
      |SELECT q_id, CAST(rank AS INTEGER) AS rank, vec_id, cos FROM (
      |  SELECT q_id, vec_id, cos, ROW_NUMBER() OVER (PARTITION BY q_id
      |    ORDER BY cos DESC, vec_id) AS rank FROM cand)
      |WHERE rank <= 10 ORDER BY q_id, rank""".stripMargin

  /** Label-centroid assignment check: exact per-label statistics that are
    * integer/count-based (oracle-comparable): per label, vector count and
    * id range. */
  def labelStats(s: SparkSession, dir: String): DataFrame =
    embeddings(s, dir)
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n_vecs"),
        min(col("vec_id")).as("min_id"), max(col("vec_id")).as("max_id"),
        min(size(col("embedding"))).as("dim_min"),
        max(size(col("embedding"))).as("dim_max"))
      .orderBy(col("label"))

  val labelStatsOracle: String =
    """SELECT label, COUNT(*) AS n_vecs,
      |  MIN(vec_id) AS min_id, MAX(vec_id) AS max_id,
      |  CAST(MIN(LEN(embedding)) AS INTEGER) AS dim_min,
      |  CAST(MAX(LEN(embedding)) AS INTEGER) AS dim_max
      |FROM embeddings
      |GROUP BY label
      |ORDER BY label""".stripMargin

  // ------------------------------------------------ scalar quantization

  /** Per-vector int8 scalar quantization: scale = 127 / max|xᵢ|, then
    * qᵢ = ⌊xᵢ·scale + 0.5⌋ (round-half-up via floor — floor and one IEEE
    * multiply/divide are bit-identical across engines, unlike rint's
    * banker's rounding or an engine's ROUND()). A zero vector quantizes to
    * zeros. 4× smaller than float32 — at 100 TB the compressed corpus is
    * what actually fits the cluster's memory — and the quantized dot
    * product is exact 64-bit integer arithmetic: deterministic, portable,
    * SIMD/codegen-friendly. */
  def quantize8(v: Column): Column = {
    val d = transform(v, _.cast("double"))
    val m = array_max(transform(d, x => abs(x)))
    when(m > lit(0.0),
        transform(d, x => floor(x * (lit(127.0) / m) + lit(0.5))))
      .otherwise(transform(d, _ => lit(0L)))
  }

  /** Exact signed-64 dot product of two quantized (long) vectors. */
  def quantizedDot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0L), (acc, x) => acc + x)

  /** The quantized-codes table — in production, the STORED compressed
    * index (codes are written once per corpus snapshot, queries scan
    * them) — cached per (session, dir) and persisted in
    * [[graft.SessionCache]], like [[ivfIndex]]. */
  private def quantizedCodes(s: SparkSession, dir: String): DataFrame =
    graft.SessionCache.persisted(s, dir, "similarity.codes")(
      embeddings(s, dir)
        .select(col("vec_id"), quantize8(col("embedding")).as("q"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))(
      Seq(_))

  /** Top-k nearest neighbors under the quantized dot product — the same
    * broadcast-queries / never-shuffle-the-corpus plan as
    * [[bruteForceTopK]], but scoring int8 codes: the memory-bound rerank
    * layer a production ANN stack runs between the coarse index (IVF/LSH)
    * and an exact float rerank. Integer scores make the result
    * hash-exact against the oracle (no float-accumulation ambiguity). */
  def quantizedTopK(s: SparkSession, dir: String, nQueries: Int = 8,
      k: Int = 10): DataFrame = {
    val emb = quantizedCodes(s, dir)
    val queries = emb.orderBy(col("vec_id")).limit(nQueries)
      .select(col("vec_id").as("q_id"), col("q").as("q_vec"))
    val scored = emb.join(broadcast(queries), col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"),
        quantizedDot(col("q_vec"), col("q")).as("qdot"))
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("qdot").desc, col("vec_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("rank"), col("vec_id"), col("qdot"))
      .orderBy(col("q_id"), col("rank"))
  }

  /** DuckDB mirror: identical quantization formula (one double divide, one
    * multiply, floor) and an integer dot via an indexed comprehension. */
  val quantizedTopKOracle: String =
    """WITH e AS (
      |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
      |), q8 AS (
      |  SELECT vec_id,
      |    CASE WHEN list_max([abs(x) FOR x IN v]) > 0
      |      THEN [CAST(floor(x * (127.0 / list_max([abs(y) FOR y IN v])) + 0.5) AS BIGINT) FOR x IN v]
      |      ELSE [CAST(0 AS BIGINT) FOR x IN v] END AS q
      |  FROM e
      |), qq AS (
      |  SELECT vec_id AS q_id, q AS q_vec FROM q8 ORDER BY vec_id LIMIT 8
      |), scored AS (
      |  SELECT qq.q_id, c.vec_id,
      |    CAST(list_sum([qq.q_vec[i] * c.q[i] FOR i IN range(1, len(c.q)+1)]) AS BIGINT) AS qdot
      |  FROM qq, q8 c WHERE c.vec_id <> qq.q_id
      |), ranked AS (
      |  SELECT q_id, vec_id, qdot,
      |    CAST(ROW_NUMBER() OVER (PARTITION BY q_id
      |      ORDER BY qdot DESC, vec_id) AS INTEGER) AS rank
      |  FROM scored
      |)
      |SELECT q_id, rank, vec_id, qdot FROM ranked
      |WHERE rank <= 10 ORDER BY q_id, rank""".stripMargin

  /** Two-stage retrieval: int8 candidate generation → exact float rerank —
    * the full compressed-index read path of a production ANN stack.
    *
    * Scale shape: the scoring pass moves only (q_id, vec_id, int8-dot)
    * rows — the 4×-compressed codes never leave the scan, and the full
    * float vectors are fetched ONLY for the Q×C candidate set via a
    * broadcast join back against the corpus (no corpus shuffle, no wide
    * rows through the top-C window). At 100 TB the rerank stage touches
    * candRatio·k/N of the data. */
  def rerankTopK(s: SparkSession, dir: String, nQueries: Int = 8,
      k: Int = 10, candFactor: Int = 3): DataFrame = {
    val emb = embeddings(s, dir)
    val q8 = quantizedCodes(s, dir)
    val queries8 = q8.orderBy(col("vec_id")).limit(nQueries)
      .select(col("vec_id").as("q_id"), col("q").as("q_vec"))
    val scored = q8.join(broadcast(queries8), col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"),
        quantizedDot(col("q_vec"), col("q")).as("qdot"))
    import org.apache.spark.sql.expressions.Window
    val wc = Window.partitionBy(col("q_id"))
      .orderBy(col("qdot").desc, col("vec_id"))
    val cands = scored.withColumn("crank", row_number().over(wc))
      .filter(col("crank") <= k * candFactor)
      .select(col("q_id"), col("vec_id"))
    val queriesF = emb.orderBy(col("vec_id")).limit(nQueries)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
    val wr = Window.partitionBy(col("q_id"))
      .orderBy(col("cos").desc, col("vec_id"))
    emb.join(broadcast(cands), "vec_id")
      .join(broadcast(queriesF), "q_id")
      .select(col("q_id"), col("vec_id"),
        cosine(col("q_emb"), col("embedding")).as("cos"))
      .withColumn("rank", row_number().over(wr))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("rank"), col("vec_id"), col("cos"))
      .orderBy(col("q_id"), col("rank"))
  }

  val rerankTopKOracle: String =
    """WITH e AS (
      |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
      |), q8 AS (
      |  SELECT vec_id,
      |    CASE WHEN list_max([abs(x) FOR x IN v]) > 0
      |      THEN [CAST(floor(x * (127.0 / list_max([abs(y) FOR y IN v])) + 0.5) AS BIGINT) FOR x IN v]
      |      ELSE [CAST(0 AS BIGINT) FOR x IN v] END AS q
      |  FROM e
      |), qq AS (
      |  SELECT vec_id AS q_id, q AS q_vec FROM q8 ORDER BY vec_id LIMIT 8
      |), scored AS (
      |  SELECT qq.q_id, c.vec_id,
      |    CAST(list_sum([qq.q_vec[i] * c.q[i] FOR i IN range(1, len(c.q)+1)]) AS BIGINT) AS qdot
      |  FROM qq, q8 c WHERE c.vec_id <> qq.q_id
      |), cands AS (
      |  SELECT q_id, vec_id FROM (
      |    SELECT q_id, vec_id,
      |      ROW_NUMBER() OVER (PARTITION BY q_id
      |        ORDER BY qdot DESC, vec_id) AS crank
      |    FROM scored) WHERE crank <= 30
      |), reranked AS (
      |  SELECT c.q_id, c.vec_id,
      |    list_cosine_similarity(
      |      (SELECT v FROM e WHERE e.vec_id = c.q_id), ev.v) AS cos
      |  FROM cands c JOIN e ev ON ev.vec_id = c.vec_id
      |)
      |SELECT q_id,
      |  CAST(ROW_NUMBER() OVER (PARTITION BY q_id
      |    ORDER BY cos DESC, vec_id) AS INTEGER) AS rank,
      |  vec_id, cos
      |FROM reranked
      |QUALIFY rank <= 10
      |ORDER BY q_id, rank""".stripMargin

  /** Embedding-cosine near-dup dedup decision (the 5th dedup family of
    * [[Dedup]]): keep a vector unless an LSH-verified neighbor with
    * cos ≥ 0.95 has a smaller id. */
  def embeddingNearDups(s: SparkSession, dir: String): DataFrame = {
    val pairs = lshPairs(s, dir).filter(col("cos") >= 0.95)
    val better = pairs.groupBy(col("b_id").as("vec_id"))
      .agg(min(col("a_id")).as("dup_of"))
    embeddings(s, dir).select(col("vec_id"))
      .join(better, Seq("vec_id"), "left")
      .select(col("vec_id"),
        coalesce(col("dup_of"), col("vec_id")).as("cluster_rep"),
        col("dup_of").isNull.as("keep"))
      .orderBy(col("vec_id"))
  }

  val embeddingNearDupsOracle: String =
    bucketCte +
      """, better AS (
        |  SELECT b_id AS vec_id, MIN(a_id) AS dup_of FROM pairs
        |  WHERE cos >= 0.95 GROUP BY b_id
        |)
        |SELECT e.vec_id, COALESCE(bt.dup_of, e.vec_id) AS cluster_rep,
        |  bt.dup_of IS NULL AS keep
        |FROM embeddings e LEFT JOIN better bt USING (vec_id)
        |ORDER BY e.vec_id""".stripMargin

  // ------------------------------------------------------------ SemDeDup

  /** SemDeDup-style semantic deduplication (Abbas et al. 2023,
    * arXiv:2303.09540): embeddings are k-means-clustered and pairwise
    * cosine is computed ONLY within a cluster — the published scale path
    * for embedding-level dedup, because semantic duplicates land in the
    * same cell by construction and the pair count collapses from N² to
    * Σ cell². Reuses the cached IVF index ([[ivfIndex]]: engine-portable
    * centroids + inverted file, built once per corpus snapshot), so this
    * operator is ONE keyed self-join over the assignment table. Keep
    * policy: smallest vec_id per semantic-dup group (single-link within
    * the cell), the same deterministic first-writer-wins rule as every
    * dedup family here. At 100 TB the cell count K scales with corpus
    * size (≈√N keeps expected cell size √N), bounding every cell's
    * pairwise block; the LSH pair path ([[embeddingNearDups]]) remains
    * the alternative when clustering is not wanted. */
  def semanticDedup(s: SparkSession, dir: String, tau: Double = 0.95,
      kCells: Int = IvfK): DataFrame = {
    val assigned = ivfAssignments(s, dir, kCells)
    val l = assigned.select(col("cell"),
      col("vec_id").as("a_id"), col("embedding").as("a_vec"))
    val r = assigned.select(col("cell"),
      col("vec_id").as("b_id"), col("embedding").as("b_vec"))
    val better = l.join(r, Seq("cell"))
      .filter(col("a_id") < col("b_id"))
      .filter(cosine(col("a_vec"), col("b_vec")) >= tau)
      .groupBy(col("b_id").as("vec_id")).agg(min(col("a_id")).as("dup_of"))
    assigned.select(col("vec_id"), col("cell"))
      .join(better, Seq("vec_id"), "left")
      .select(col("vec_id"), col("cell"),
        coalesce(col("dup_of"), col("vec_id")).as("semantic_rep"),
        col("dup_of").isNull.as("keep"))
      .orderBy(col("vec_id"))
  }

  /** DuckDB mirror: same centroids/assignment CTE as the IVF oracle,
    * within-cell pairs, smallest-id keep. */
    val semanticDedupOracle: String = ivfAssignedCte +
    """, pairs AS (
      |  SELECT a.vec_id AS a_id, b.vec_id AS b_id
      |  FROM assigned a JOIN assigned b USING (cell)
      |  WHERE a.vec_id < b.vec_id
      |    AND list_cosine_similarity(a.v, b.v) >= 0.95
      |), better AS (
      |  SELECT b_id AS vec_id, MIN(a_id) AS dup_of FROM pairs GROUP BY b_id
      |)
      |SELECT a.vec_id, a.cell,
      |  COALESCE(bt.dup_of, a.vec_id) AS semantic_rep,
      |  bt.dup_of IS NULL AS keep
      |FROM assigned a LEFT JOIN better bt USING (vec_id)
      |ORDER BY a.vec_id""".stripMargin

  /** Dimension-truncated retrieval (the Matryoshka representation idea,
    * Kusupati et al. 2022, arXiv:2205.13147): exact cosine top-k over
    * only the FIRST `dims` coordinates — the cheap coarse pass of an MRL
    * funnel, scanning 1/4 of the vector bytes here. Same
    * broadcast-queries / never-shuffle-the-corpus plan as
    * [[bruteForceTopK]]; the slice happens inside the row. Useful
    * exactly when embeddings were trained front-loaded; the spec treats
    * recall vs the full-dim top-k as DIAGNOSTIC output (the synthetic
    * vectors are not front-loaded, so only a chance-level floor is
    * asserted — the operator's value is the measurement itself). */
  def truncatedTopK(s: SparkSession, dir: String, dims: Int = 16,
      nQueries: Int = 8, k: Int = 10): DataFrame = {
    val emb = embeddings(s, dir)
      .select(col("vec_id"), slice(col("embedding"), 1, dims).as("v"))
    val queries = emb.orderBy(col("vec_id")).limit(nQueries)
      .select(col("vec_id").as("q_id"), col("v").as("q_vec"))
    val scored = emb.join(broadcast(queries), col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"),
        cosine(col("q_vec"), col("v")).as("cos"))
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("cos").desc, col("vec_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("rank"), col("vec_id"), col("cos"))
      .orderBy(col("q_id"), col("rank"))
  }

  val truncatedTopKOracle: String =
    """WITH e AS (
      |  SELECT vec_id, CAST(embedding[1:16] AS DOUBLE[]) AS v
      |  FROM embeddings
      |), q AS (
      |  SELECT vec_id AS q_id, v AS q_vec FROM e ORDER BY vec_id LIMIT 8
      |), scored AS (
      |  SELECT q.q_id, e.vec_id, list_cosine_similarity(q.q_vec, e.v) AS cos
      |  FROM q, e WHERE e.vec_id <> q.q_id
      |)
      |SELECT q_id, CAST(rank AS INTEGER) AS rank, vec_id, cos FROM (
      |  SELECT q_id, vec_id, cos,
      |    ROW_NUMBER() OVER (PARTITION BY q_id
      |      ORDER BY cos DESC, vec_id) AS rank
      |  FROM scored)
      |WHERE rank <= 10 ORDER BY q_id, rank""".stripMargin

  // --------------------------------------------- product quantization (PQ)

  /** PQ subspaces (64-dim embeddings → 4 × 16-dim subvectors). */
  val PqM = 4
  /** Codes per subspace codebook. */
  val PqK = 16

  /** Exact squared-L2 between two double arrays, folded left-to-right in
    * index order — the IEEE sequence DuckDB's list comprehensions
    * reproduce. */
  private def l2sq(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)),
      lit(0.0).cast("double"), (acc, x) => acc + x)

  /** Per-subspace PQ codebooks (Jégou et al. 2011, "Product Quantization
    * for Nearest Neighbor Search"): each 16-dim subspace gets its own
    * 16-entry codebook — data-seeded (subvectors of vec_id < k) and
    * refined by ONE deterministic Lloyd pass over the same MD5-bucket
    * sample as [[ivfCentroids]], means folded in vec_id order, empty
    * cells keep their seed. Every value is engine-reproducible, so the
    * DuckDB oracle rebuilds codebooks, codes, and distance tables
    * bitwise. Output: (j, cent_id, cent_vec) — m·k rows, broadcastable
    * at any corpus scale. */
  def pqCodebooks(s: SparkSession, dir: String, m: Int = PqM,
      k: Int = PqK): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val emb = embeddings(s, dir)
    val sub = 64 / m
    val subs = emb.select(col("vec_id"),
        explode(transform(sequence(lit(0), lit(m - 1)), j =>
          struct(j.as("j"), transform(
            slice(col("embedding"), j * sub + 1, lit(sub)),
            x => x.cast("double")).as("sv")))).as("e"))
      .select(col("vec_id"), col("e.j").as("j"), col("e.sv").as("sv"))
    val seeds = subs.filter(col("vec_id") < k)
      .select(col("j"), col("vec_id").as("cent_id"), col("sv").as("seed_vec"))
    val w = Window.partitionBy(col("vec_id"), col("j"))
      .orderBy(col("d2").asc, col("cent_id"))
    val sampleAssigned = subs
      .filter(ivfSampleBucket(col("vec_id")) < IvfSamplePct)
      .join(broadcast(seeds), Seq("j"))
      .select(col("vec_id"), col("j"), col("sv"), col("cent_id"),
        l2sq(col("sv"), col("seed_vec")).as("d2"))
      .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
    val means = sampleAssigned
      .groupBy(col("j"), col("cent_id"))
      .agg(sort_array(collect_list(struct(col("vec_id"), col("sv").as("v"))))
        .as("vs"))
      .select(col("j"), col("cent_id"), expr(
        """transform(sequence(0, size(vs[0].v) - 1),
          |  d -> aggregate(vs, CAST(0.0 AS DOUBLE),
          |         (acc, m) -> acc + m.v[d]) / size(vs))""".stripMargin)
        .as("mean_vec"))
    seeds.join(means, Seq("j", "cent_id"), "left")
      .select(col("j"), col("cent_id"),
        coalesce(col("mean_vec"), col("seed_vec")).as("cent_vec"))
  }

  /** The PQ index: codebooks + the code table (every vector's m nearest
    * sub-centroid ids, exploded as (vec_id, j, code)) — 4 small ints
    * replacing 64 floats, the 64×-compressed layer UNDER the int8
    * quantizer in a production ANN stack. Built once per corpus snapshot
    * (cached in [[graft.SessionCache]], like [[ivfIndex]]). */
  private def pqIndex(s: SparkSession,
      dir: String): (DataFrame, DataFrame) =
    graft.SessionCache.persisted(s, dir, "similarity.pq") {
      import org.apache.spark.sql.expressions.Window
      val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
      val books = pqCodebooks(s, dir).persist(lvl)
      val sub = 64 / PqM
      val subs = embeddings(s, dir).select(col("vec_id"),
          explode(transform(sequence(lit(0), lit(PqM - 1)), j =>
            struct(j.as("j"), transform(
              slice(col("embedding"), j * sub + 1, lit(sub)),
              x => x.cast("double")).as("sv")))).as("e"))
        .select(col("vec_id"), col("e.j").as("j"), col("e.sv").as("sv"))
      val w = Window.partitionBy(col("vec_id"), col("j"))
        .orderBy(col("d2").asc, col("cent_id"))
      val codes = subs.join(broadcast(books), Seq("j"))
        .select(col("vec_id"), col("j"), col("cent_id"),
          l2sq(col("sv"), col("cent_vec")).as("d2"))
        .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
        .select(col("vec_id"), col("j"), col("cent_id").as("code"))
        .persist(lvl)
      (books, codes)
    } { case (b, c) => Seq(b, c) }

  /** PQ top-k via asymmetric distance computation (ADC): each query keeps
    * its FULL-precision subvectors and scores a compressed vector as
    * Σ_j l2²(q_j, codebook_j[code_j]) — one m·k-row distance table per
    * query (here 64 rows, broadcast), so the corpus scan touches only the
    * 4-int codes, never the embeddings. The per-pair sum folds the m
    * subspace distances in j order (sort_array + left fold — the same
    * engine-exact IEEE sequence everywhere else in this file). Smaller
    * distance = nearer; ties break on vec_id. */
  def pqTopK(s: SparkSession, dir: String, nQueries: Int = 8,
      k: Int = 10): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val (books, codes) = pqIndex(s, dir)
    val sub = 64 / PqM
    val queries = embeddings(s, dir).filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("q_id"),
        explode(transform(sequence(lit(0), lit(PqM - 1)), j =>
          struct(j.as("j"), transform(
            slice(col("embedding"), j * sub + 1, lit(sub)),
            x => x.cast("double")).as("qv")))).as("e"))
      .select(col("q_id"), col("e.j").as("j"), col("e.qv").as("qv"))
    val dtab = queries.join(books, Seq("j"))
      .select(col("q_id"), col("j"), col("cent_id").as("code"),
        l2sq(col("qv"), col("cent_vec")).as("d2"))
    val scored = codes.join(broadcast(dtab), Seq("j", "code"))
      .filter(col("vec_id") =!= col("q_id"))
      .groupBy(col("q_id"), col("vec_id"))
      .agg(sort_array(collect_list(struct(col("j"), col("d2")))).as("ds"))
      .select(col("q_id"), col("vec_id"),
        expr("aggregate(ds, CAST(0.0 AS DOUBLE), (acc, x) -> acc + x.d2)")
          .as("pq_d2"))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("pq_d2").asc, col("vec_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("rank"), col("vec_id"), col("pq_d2"))
      .orderBy(col("q_id"), col("rank"))
  }

  /** IVF-PQ: the production composition (the FAISS `IVFx,PQy` default) —
    * the IVF probe bounds the candidate set to ~nprobe/K of the corpus,
    * and ADC over the 4-int PQ codes ranks those candidates WITHOUT
    * touching stored embeddings: the scan reads cells' code lists, the
    * query's m·k distance table is broadcast, and only (k × queries)
    * result rows move. Both indexes come from their per-snapshot caches,
    * so the query measures the probe + table-lookup path. */
  def ivfPqTopK(s: SparkSession, dir: String, kCells: Int = IvfK,
      nprobe: Int = IvfProbes, nQueries: Int = 8, k: Int = 10): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("vec_id"))
      .orderBy(col("ccos").desc, col("cent_id"))
    val assigned = ivfAssignments(s, dir, kCells)
      .select(col("vec_id"), col("cell"))
    val probes = ivfScored(s, dir, kCells).filter(col("vec_id") < nQueries)
      .withColumn("rn", row_number().over(w)).filter(col("rn") <= nprobe)
      .select(col("vec_id").as("q_id"), col("cent_id").as("cell"))
    val (books, codes) = pqIndex(s, dir)
    val sub = 64 / PqM
    val queries = embeddings(s, dir).filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("q_id"),
        explode(transform(sequence(lit(0), lit(PqM - 1)), j =>
          struct(j.as("j"), transform(
            slice(col("embedding"), j * sub + 1, lit(sub)),
            x => x.cast("double")).as("qv")))).as("e"))
      .select(col("q_id"), col("e.j").as("j"), col("e.qv").as("qv"))
    val dtab = queries.join(books, Seq("j"))
      .select(col("q_id"), col("j"), col("cent_id").as("code"),
        l2sq(col("qv"), col("cent_vec")).as("d2"))
    val candCodes = assigned.join(probes, Seq("cell"))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"))
      .join(codes, Seq("vec_id"))
    val scored = candCodes
      .join(broadcast(dtab), Seq("q_id", "j", "code"))
      .groupBy(col("q_id"), col("vec_id"))
      .agg(sort_array(collect_list(struct(col("j"), col("d2")))).as("ds"))
      .select(col("q_id"), col("vec_id"),
        expr("aggregate(ds, CAST(0.0 AS DOUBLE), (acc, x) -> acc + x.d2)")
          .as("pq_d2"))
    val w2 = Window.partitionBy(col("q_id"))
      .orderBy(col("pq_d2").asc, col("vec_id"))
    scored.withColumn("rank", row_number().over(w2))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("rank"), col("vec_id"), col("pq_d2"))
      .orderBy(col("q_id"), col("rank"))
  }

  /** The PQ codebook/code/distance-table CTEs with `pq`-prefixed names,
    * appendable after [[ivfAssignedCte]] (whose seeds/samp/… names they
    * would otherwise collide with). */
  private val pqCte: String =
    """ subs AS (
      |  SELECT vec_id, j, v[j*16+1 : j*16+16] AS sv
      |  FROM e, UNNEST(range(0, 4)) AS t(j)
      |), pqseeds AS (
      |  SELECT j, vec_id AS cent_id, sv AS cv FROM subs WHERE vec_id < 16
      |), pqsamp AS (
      |  SELECT * FROM subs
      |  WHERE CAST('0x'||substr(md5(CAST(vec_id AS VARCHAR)),1,14) AS BIGINT) % 100 < 50
      |), pqsassign AS (
      |  SELECT vec_id, j, sv, cent_id FROM (
      |    SELECT s.vec_id, s.j, s.sv, c.cent_id,
      |      ROW_NUMBER() OVER (PARTITION BY s.vec_id, s.j
      |        ORDER BY list_sum(list_transform(range(1, len(s.sv) + 1),
      |          i -> (s.sv[i] - c.cv[i]) * (s.sv[i] - c.cv[i]))) ASC,
      |          c.cent_id) AS rn
      |    FROM pqsamp s JOIN pqseeds c USING (j))
      |  WHERE rn = 1
      |), pqmeans AS (
      |  SELECT j, cent_id,
      |    list_transform(range(1, 17), d ->
      |      list_sum(list_transform(vs, m -> m.sv[d])) / len(vs)) AS mv
      |  FROM (
      |    SELECT j, cent_id,
      |      list_sort(list(struct_pack(vec_id := vec_id, sv := sv))) AS vs
      |    FROM pqsassign GROUP BY j, cent_id)
      |), books AS (
      |  SELECT s.j, s.cent_id, COALESCE(m.mv, s.cv) AS cv
      |  FROM pqseeds s LEFT JOIN pqmeans m
      |    ON m.j = s.j AND m.cent_id = s.cent_id
      |), codes AS (
      |  SELECT vec_id, j, cent_id AS code FROM (
      |    SELECT su.vec_id, su.j, b.cent_id,
      |      ROW_NUMBER() OVER (PARTITION BY su.vec_id, su.j
      |        ORDER BY list_sum(list_transform(range(1, len(su.sv) + 1),
      |          i -> (su.sv[i] - b.cv[i]) * (su.sv[i] - b.cv[i]))) ASC,
      |          b.cent_id) AS rn
      |    FROM subs su JOIN books b USING (j))
      |  WHERE rn = 1
      |), dtab AS (
      |  SELECT q.vec_id AS q_id, q.j, b.cent_id AS code,
      |    list_sum(list_transform(range(1, len(q.sv) + 1),
      |      i -> (q.sv[i] - b.cv[i]) * (q.sv[i] - b.cv[i]))) AS d2
      |  FROM subs q JOIN books b USING (j)
      |  WHERE q.vec_id < 8
      |)""".stripMargin

  /** IVF probes + PQ ADC over the probed cells' candidates. */
  val ivfPqTopKOracle: String = ivfAssignedCte + "," + pqCte +
    """, probes AS (
      |  SELECT vec_id AS q_id, cent_id AS cell FROM (
      |    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
      |      ORDER BY ccos DESC, cent_id) AS rn
      |    FROM scored WHERE vec_id < 8) WHERE rn <= 4
      |), cnd AS (
      |  SELECT p.q_id, a.vec_id
      |  FROM assigned a JOIN probes p USING (cell)
      |  WHERE a.vec_id <> p.q_id
      |), pqscored AS (
      |  SELECT cd.q_id, cd.vec_id,
      |    list_sum(list_transform(
      |      list_sort(list(struct_pack(j := c.j, d2 := d.d2))),
      |      x -> x.d2)) AS pq_d2
      |  FROM cnd cd
      |  JOIN codes c ON c.vec_id = cd.vec_id
      |  JOIN dtab d ON d.q_id = cd.q_id AND d.j = c.j AND d.code = c.code
      |  GROUP BY cd.q_id, cd.vec_id
      |)
      |SELECT q_id, CAST(rank AS INTEGER) AS rank, vec_id, pq_d2 FROM (
      |  SELECT q_id, vec_id, pq_d2,
      |    ROW_NUMBER() OVER (PARTITION BY q_id
      |      ORDER BY pq_d2 ASC, vec_id) AS rank
      |  FROM pqscored)
      |WHERE rank <= 10
      |ORDER BY q_id, rank""".stripMargin

  /** DuckDB mirror: identical subvector slicing, seeded+Lloyd codebooks
    * per subspace, argmin codes, query distance tables, and the j-ordered
    * distance fold. */
  val pqTopKOracle: String =
    """WITH e AS (
      |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
      |), subs AS (
      |  SELECT vec_id, j, v[j*16+1 : j*16+16] AS sv
      |  FROM e, UNNEST(range(0, 4)) AS t(j)
      |), seeds AS (
      |  SELECT j, vec_id AS cent_id, sv AS cv FROM subs WHERE vec_id < 16
      |), samp AS (
      |  SELECT * FROM subs
      |  WHERE CAST('0x'||substr(md5(CAST(vec_id AS VARCHAR)),1,14) AS BIGINT) % 100 < 50
      |), sassign AS (
      |  SELECT vec_id, j, sv, cent_id FROM (
      |    SELECT s.vec_id, s.j, s.sv, c.cent_id,
      |      ROW_NUMBER() OVER (PARTITION BY s.vec_id, s.j
      |        ORDER BY list_sum(list_transform(range(1, len(s.sv) + 1),
      |          i -> (s.sv[i] - c.cv[i]) * (s.sv[i] - c.cv[i]))) ASC,
      |          c.cent_id) AS rn
      |    FROM samp s JOIN seeds c USING (j))
      |  WHERE rn = 1
      |), means AS (
      |  SELECT j, cent_id,
      |    list_transform(range(1, 17), d ->
      |      list_sum(list_transform(vs, m -> m.sv[d])) / len(vs)) AS mv
      |  FROM (
      |    SELECT j, cent_id,
      |      list_sort(list(struct_pack(vec_id := vec_id, sv := sv))) AS vs
      |    FROM sassign GROUP BY j, cent_id)
      |), books AS (
      |  SELECT s.j, s.cent_id, COALESCE(m.mv, s.cv) AS cv
      |  FROM seeds s LEFT JOIN means m
      |    ON m.j = s.j AND m.cent_id = s.cent_id
      |), codes AS (
      |  SELECT vec_id, j, cent_id AS code FROM (
      |    SELECT su.vec_id, su.j, b.cent_id,
      |      ROW_NUMBER() OVER (PARTITION BY su.vec_id, su.j
      |        ORDER BY list_sum(list_transform(range(1, len(su.sv) + 1),
      |          i -> (su.sv[i] - b.cv[i]) * (su.sv[i] - b.cv[i]))) ASC,
      |          b.cent_id) AS rn
      |    FROM subs su JOIN books b USING (j))
      |  WHERE rn = 1
      |), dtab AS (
      |  SELECT q.vec_id AS q_id, q.j, b.cent_id AS code,
      |    list_sum(list_transform(range(1, len(q.sv) + 1),
      |      i -> (q.sv[i] - b.cv[i]) * (q.sv[i] - b.cv[i]))) AS d2
      |  FROM subs q JOIN books b USING (j)
      |  WHERE q.vec_id < 8
      |), scored AS (
      |  SELECT d.q_id, c.vec_id,
      |    list_sum(list_transform(
      |      list_sort(list(struct_pack(j := c.j, d2 := d.d2))),
      |      x -> x.d2)) AS pq_d2
      |  FROM codes c JOIN dtab d ON d.j = c.j AND d.code = c.code
      |  WHERE c.vec_id <> d.q_id
      |  GROUP BY d.q_id, c.vec_id
      |)
      |SELECT q_id, CAST(rank AS INTEGER) AS rank, vec_id, pq_d2 FROM (
      |  SELECT q_id, vec_id, pq_d2,
      |    ROW_NUMBER() OVER (PARTITION BY q_id
      |      ORDER BY pq_d2 ASC, vec_id) AS rank
      |  FROM scored)
      |WHERE rank <= 10
      |ORDER BY q_id, rank""".stripMargin

  /** ANN quality evaluation IN the engine: per-query recall@k of the IVF
    * probe path and the PQ/ADC path against the exact cosine top-k — the
    * number an operator actually tunes `nprobe`/codebook size against
    * before trusting an index at corpus scale. Exact integer ppm (hits ·
    * 10⁶ div k), so the report is engine-reproducible. All three top-k
    * frames come from their per-snapshot caches (IVF index, PQ codes, the
    * broadcast query set), so the evaluation costs the three bounded
    * top-k queries — never a second corpus pass; output is
    * (methods × queries) rows. */
  def recallReport(s: SparkSession, dir: String, k: Int = 10): DataFrame = {
    val exact = bruteForceTopK(s, dir, k = k)
      .select(col("q_id"), col("vec_id"))
    def leg(method: String, approx: DataFrame): DataFrame =
      exact.join(
          approx.select(col("q_id"), col("vec_id"), lit(1L).as("hit")),
          Seq("q_id", "vec_id"), "left")
        .groupBy(col("q_id"))
        .agg(sum(coalesce(col("hit"), lit(0L))).as("n_hit"))
        .select(lit(method).as("method"), col("q_id"),
          expr(s"n_hit * 1000000 div $k").as("recall_ppm"))
    leg("ivf", ivfTopK(s, dir, k = k))
      .unionByName(leg("pq", pqTopK(s, dir, k = k)))
      .orderBy(col("method"), col("q_id"))
  }

  /** Chains the three existing top-k oracles as subqueries — the recall
    * arithmetic is verified against the SAME exact/approximate sets the
    * individual gates pin. */
  def recallReportOracle(k: Int = 10): String = {
    def leg(method: String, inner: String): String =
      s"""SELECT '$method' AS method, e.q_id,
         |  CAST(COUNT(a.vec_id) * 1000000 // $k AS BIGINT) AS recall_ppm
         |FROM (SELECT q_id, vec_id FROM ($bruteForceTopKOracle)) e
         |LEFT JOIN (SELECT q_id, vec_id FROM ($inner)) a
         |  ON e.q_id = a.q_id AND e.vec_id = a.vec_id
         |GROUP BY e.q_id""".stripMargin
    s"""SELECT method, q_id, recall_ppm FROM (
       |${leg("ivf", ivfTopKOracle)}
       |UNION ALL
       |${leg("pq", pqTopKOracle)}
       |)
       |ORDER BY method, q_id""".stripMargin
  }
}
