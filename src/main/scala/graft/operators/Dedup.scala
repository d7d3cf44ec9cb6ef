package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.PortableHashExprs
import graft.sources.Tables._

/** Deduplication operators for a large-scale training-data pipeline.
  *
  * Five families, all shuffle-minimal and designed for 100 TB:
  *
  *  - '''exact''': hash-groupBy on a content fingerprint. One shuffle on the
  *    (high-cardinality, uniform) md5 key; partial aggregation collapses
  *    duplicates map-side first.
  *  - '''MinHash + LSH''': shingle → k minhashes → band → bucket-join.
  *    Signatures come from a native single-pass kernel
  *    ([[PortableHashExprs.PortableMinHash]]) whose hash function is defined
  *    purely in MD5 + 64-bit arithmetic, so the DuckDB oracle recomputes
  *    identical signatures in SQL. Candidate generation explodes only
  *    `Bands` rows per doc, and the self-join happens per LSH bucket, so
  *    cost is Σ bucket² rather than N².
  *  - '''SimHash''': 32-bit sign-aggregated token hashes; near-dups share
  *    the simhash; sub-key banding generalizes to Hamming-distance buckets.
  *  - '''n-gram Jaccard''': exact verification on LSH candidates only —
  *    never pairwise over the corpus.
  *  - '''embedding cosine''': see [[Similarity.embeddingNearDups]].
  *
  * Dedup policy throughout: keep the smallest doc_id of each duplicate
  * cluster ("first writer wins" — deterministic, associative, so it
  * distributes).
  */
object Dedup {

  // ---------------------------------------------------------------- exact

  /** Exact dedup via content fingerprint. Returns one row per distinct
    * content: the kept doc and how many copies it had. */
  def exact(s: SparkSession, dir: String): DataFrame =
    documents(s, dir)
      .groupBy(md5(col("text")).as("content_md5"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))
      .orderBy(col("keep_id"))

  val exactOracle: String =
    """SELECT md5(text) AS content_md5, MIN(doc_id) AS keep_id,
      |  COUNT(*) AS n_copies
      |FROM documents
      |GROUP BY md5(text)
      |ORDER BY keep_id""".stripMargin

  // ------------------------------------------------------------- MinHash

  /** Number of hash functions in the MinHash signature. */
  val NumHashes = 64
  /** LSH bands (NumHashes / BandRows rows each). */
  val Bands = 16
  val BandRows: Int = NumHashes / Bands // 4

  /** Word n-gram shingles of the tokenized text — the exact construction
    * [[PortableHashExprs.PortableMinHash]] hashes (lowercase, split on
    * \s+, drop empty tokens; fewer than `n` tokens degrade to one
    * whole-text shingle), as a native single-pass kernel. */
  def shingles(text: Column, n: Int = 3): Column =
    PortableHashExprs.portable_shingles(text, n)

  /** 64-wide engine-portable MinHash signature (single-pass native kernel,
    * one MD5 per shingle — see [[PortableHashExprs]] for the exact portable
    * definition the DuckDB oracle mirrors). */
  def minhashSignature(text: Column): Column =
    PortableHashExprs.portable_minhash(text, NumHashes)

  /** Per-document MinHash signatures + LSH band keys (exploded downstream).
    * Cached once per (session, dir) in [[graft.SessionCache]]: both sides
    * of the bucket self-join (and the verify stage) reuse it, and
    * recomputing the signature per join side would double the dominant
    * cost. At cluster scale this materialization is a staging table.
    * Keyed caching (instead of persist-per-call) keeps repeated
    * bench/verify invocations from accumulating storage memory; a caller
    * done with a corpus frees it with `SessionCache.release`. */
  private def signatures(s: SparkSession, dir: String): DataFrame =
    graft.SessionCache.persisted(s, dir, "dedup.signatures")(
      documents(s, dir)
        .select(col("doc_id"), minhashSignature(col("text")).as("sig"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))(
      Seq(_))

  /** Candidate near-dup pairs from LSH banding: docs agreeing on all
    * BandRows minhashes of at least one band (the band key is the raw
    * 4-value signature slice — exact, no secondary hashing, so the oracle's
    * slice-equality reproduces the candidate set verbatim). Estimated
    * Jaccard from full signature agreement; threshold filters false
    * positives.
    *
    * Shuffle discipline (found by the r8 5M-doc scale stress): the bucket
    * self-join carries ONLY (band, bkey, doc_id) — `Bands` narrow rows per
    * doc. An earlier shape shipped the full 64-long signature on both join
    * sides "to have it ready" for the agreement count; at 5M docs that is
    * ~90 GB of shuffle where the narrow join moves ~5 GB. Signatures are
    * re-attached by id to the *deduplicated candidate pairs* instead —
    * two hash joins whose shuffled volume is O(pairs + docs), not
    * O(docs × Bands × sig). */
  def minhashCandidates(s: SparkSession, dir: String,
      threshold: Double = 0.7): DataFrame = {
    val sigs = signatures(s, dir)
    val banded = sigs.select(
      col("doc_id"),
      explode(transform(sequence(lit(0), lit(Bands - 1)),
        b => struct(b.as("band"),
          slice(col("sig"), b * BandRows + 1, lit(BandRows)).as("bkey"))))
        .as("bb"))
      .select(col("doc_id"),
        col("bb.band").as("band"), col("bb.bkey").as("bkey"))
    val l = banded.select(col("band"), col("bkey"), col("doc_id").as("a_id"))
    val r = banded.select(col("band"), col("bkey"), col("doc_id").as("b_id"))
    l.join(r, Seq("band", "bkey")).filter(col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id"))
      .dropDuplicates("a_id", "b_id")
      .join(sigs.select(col("doc_id").as("a_id"), col("sig").as("a_sig")),
        Seq("a_id"))
      .join(sigs.select(col("doc_id").as("b_id"), col("sig").as("b_sig")),
        Seq("b_id"))
      .withColumn("est_jaccard",
        PortableHashExprs.sig_agreement(col("a_sig"), col("b_sig"))
          .cast("double") / NumHashes)
      .filter(col("est_jaccard") >= threshold)
      .select(col("a_id"), col("b_id"), col("est_jaccard"))
  }

  /** MinHash THRESHOLD-TUNING curve: for every LSH-colliding pair, the
    * exact signature agreement count (0..64) and the pair count per
    * agreement level — the histogram a pipeline inspects before choosing
    * its dedup threshold (how many pairs a 0.6 vs 0.7 cut would merge).
    * Agreement/64 is exactly representable in a double, so the integer
    * recovery is lossless and the report hash-exact. One extra aggregate
    * over the same banded candidate join every dedup run already pays. */
  def thresholdCurve(s: SparkSession, dir: String): DataFrame =
    minhashCandidates(s, dir, 0.0)
      .select((col("est_jaccard") * 64).cast("int").as("agreement"))
      .groupBy(col("agreement")).agg(count(lit(1)).as("n_pairs"))
      .withColumn("est_jaccard_ppm",
        expr("agreement * 1000000L DIV 64"))
      .select(col("agreement"), col("n_pairs"), col("est_jaccard_ppm"))
      .orderBy(col("agreement"))

  // def, not val: `sigsCte` is declared later in the file and object vals
  // initialize in declaration order — a val here would capture null
  def thresholdCurveOracle: String =
    sigsCte +
      """, curve AS (
        |  SELECT CAST(est_jaccard * 64 AS INTEGER) AS agreement,
        |    CAST(COUNT(*) AS BIGINT) AS n_pairs
        |  FROM scored GROUP BY 1
        |)
        |SELECT agreement, n_pairs,
        |  CAST(agreement * 1000000 // 64 AS BIGINT) AS est_jaccard_ppm
        |FROM curve ORDER BY agreement""".stripMargin

  /** MinHash dedup decision per document: keep unless some candidate
    * duplicate has a smaller id (single-link, one LSH round — the
    * distributed analog of greedy first-wins dedup). Emits every doc with
    * its surviving/kept flag so the result is stable and non-empty even
    * when the corpus has no near-dups. */
  def minhash(s: SparkSession, dir: String): DataFrame = {
    val cands = minhashCandidates(s, dir)
    val better = cands.groupBy(col("b_id").as("doc_id"))
      .agg(min(col("a_id")).as("dup_of"))
    documents(s, dir).select(col("doc_id"))
      .join(better, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("dup_of"), col("doc_id")).as("cluster_rep"),
        col("dup_of").isNull.as("keep"))
      .orderBy(col("doc_id"))
  }

  /** Shared oracle prelude: per-doc portable MinHash signatures in DuckDB
    * SQL — the same tokenize/shingle/hash pipeline as the kernel. */
  private val sigsCte: String =
    """WITH toks AS (
      |  SELECT doc_id, [x FOR x IN string_split_regex(lower(text), '\s+') IF x <> ''] AS t
      |  FROM documents
      |), sh AS (
      |  SELECT doc_id, CASE WHEN len(t) < 3 THEN [array_to_string(t, ' ')]
      |    ELSE [array_to_string(t[i:i+2], ' ') FOR i IN range(1, len(t)-1)] END AS shs
      |  FROM toks
      |), hs AS (
      |  SELECT doc_id, [(CAST('0x'||substr(md5(s2),1,14) AS BIGINT) % 2147483647) FOR s2 IN shs] AS hl
      |  FROM sh
      |), sigs AS (
      |  SELECT doc_id, [list_min([((((1103515245*(i+7)+12345) % 1073741823) | 1) * h
      |      + ((2027382749*(i+13)+577) % 2147483647)) % 2147483647 FOR h IN hl])
      |    FOR i IN range(0,64)] AS sig
      |  FROM hs
      |), bandpairs AS (
      |  SELECT a.doc_id AS a_id, b.doc_id AS b_id, a.sig AS a_sig, b.sig AS b_sig
      |  FROM sigs a JOIN sigs b ON a.doc_id < b.doc_id
      |  WHERE len([bb FOR bb IN range(0,16) IF a.sig[4*bb+1:4*bb+4] = b.sig[4*bb+1:4*bb+4]]) > 0
      |), scored AS (
      |  SELECT a_id, b_id,
      |    len([i FOR i IN range(1,65) IF a_sig[i] = b_sig[i]]) / 64.0 AS est_jaccard
      |  FROM bandpairs
      |)""".stripMargin

  val minhashOracle: String =
    sigsCte +
      """, better AS (
        |  SELECT b_id AS doc_id, MIN(a_id) AS dup_of FROM scored
        |  WHERE est_jaccard >= 0.7 GROUP BY b_id
        |)
        |SELECT d.doc_id, COALESCE(b.dup_of, d.doc_id) AS cluster_rep,
        |  b.dup_of IS NULL AS keep
        |FROM documents d LEFT JOIN better b USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin

  // ------------------------------------------- edit-distance verification

  /** Edit-distance-VERIFIED near-dup pairs: LSH banding proposes, true
    * Levenshtein distance disposes — the verification layer a fuzzy-dedup
    * pipeline runs when MinHash's shingle-set estimate is not evidence
    * enough (reordered paragraphs shingle-match; a character-level edit
    * budget does not). Candidates come from the same banded signature
    * join every dedup gate shares (so the expensive part is already
    * paid); only the surviving candidate pairs' texts are fetched — two
    * id-keyed hash joins whose shuffle is O(pairs), never a text
    * self-join.
    *
    * The distance uses Spark's THRESHOLDED `levenshtein(a, b, maxEdits)`:
    * the banded O(len·maxEdits) algorithm abandons a far pair without
    * walking the full O(len²) matrix — at 100 TB that cap is what makes
    * character-level verification affordable; pairs over budget report
    * NULL distance and `verified = false`. `edit_sim_ppm` is the integer
    * normalized similarity `1e6 − lev·1e6 DIV max(len)`, exact on both
    * engines. (DuckDB's `levenshtein` counts byte edits where Spark
    * counts characters — identical on ASCII corpora like the fixture;
    * a unicode corpus would verify against the spec's plain-Scala
    * recompute instead.) */
  def editDistPairs(s: SparkSession, dir: String,
      candThreshold: Double = 0.25, simThresholdPpm: Long = 600000L,
      maxEdits: Int = 256): DataFrame = {
    val docs = documents(s, dir)
    val cands = minhashCandidates(s, dir, candThreshold)
      .select(col("a_id"), col("b_id"),
        (col("est_jaccard") * 64).cast("int").as("agreement"))
    cands
      .join(docs.select(col("doc_id").as("a_id"),
        col("text").as("a_text")), Seq("a_id"))
      .join(docs.select(col("doc_id").as("b_id"),
        col("text").as("b_text")), Seq("b_id"))
      .withColumn("d", levenshtein(col("a_text"), col("b_text"), maxEdits))
      .withColumn("max_len",
        greatest(length(col("a_text")), length(col("b_text")), lit(1L)))
      .select(col("a_id"), col("b_id"),
        expr("agreement * 1000000L DIV 64").as("est_jaccard_ppm"),
        when(col("d") >= 0, col("d")).as("lev"),
        when(col("d") >= 0,
          expr("1000000L - d * 1000000L DIV max_len")).as("edit_sim_ppm"),
        coalesce(col("d") >= 0 &&
          expr("1000000L - d * 1000000L DIV max_len") >=
            lit(simThresholdPpm), lit(false)).as("verified"))
      .orderBy(col("a_id"), col("b_id"))
  }

  def editDistOracle: String =
    sigsCte +
      """, cand AS (
        |  SELECT a_id, b_id, CAST(est_jaccard * 64 AS INTEGER) AS agreement
        |  FROM scored WHERE est_jaccard >= 0.25
        |), pairs AS (
        |  SELECT c.a_id, c.b_id, c.agreement,
        |    levenshtein(da.text, db.text) AS d,
        |    GREATEST(length(da.text), length(db.text), 1) AS max_len
        |  FROM cand c
        |  JOIN documents da ON da.doc_id = c.a_id
        |  JOIN documents db ON db.doc_id = c.b_id
        |)
        |SELECT a_id, b_id,
        |  CAST(agreement * 1000000 // 64 AS BIGINT) AS est_jaccard_ppm,
        |  CAST(CASE WHEN d <= 256 THEN d END AS INTEGER) AS lev,
        |  CAST(CASE WHEN d <= 256
        |    THEN 1000000 - d * 1000000 // max_len END AS BIGINT)
        |    AS edit_sim_ppm,
        |  COALESCE(d <= 256
        |    AND (1000000 - d * 1000000 // max_len) >= 600000, FALSE)
        |    AS verified
        |FROM pairs ORDER BY a_id, b_id""".stripMargin

  // ------------------------------------------------------------- SimHash

  /** 32-bit engine-portable SimHash of the token multiset (native kernel;
    * see [[PortableHashExprs.PortableSimHash32]]). */
  def simhash32(text: Column): Column =
    PortableHashExprs.portable_simhash32(text)

  /** SimHash near-dup clusters: per-doc simhash + cluster representative
    * under exact-simhash equality (sub-key banding generalizes this to
    * Hamming-distance candidates at scale). */
  def simhash(s: SparkSession, dir: String): DataFrame = {
    val withSim = documents(s, dir)
      .select(col("doc_id"), simhash32(col("text")).as("simhash"))
    val rep = withSim.groupBy(col("simhash"))
      .agg(min(col("doc_id")).as("cluster_rep"), count(lit(1)).as("cluster_size"))
    withSim.join(rep, "simhash")
      .select(col("doc_id"), col("simhash"), col("cluster_rep"),
        col("cluster_size"))
      .orderBy(col("doc_id"))
  }

  val simhashOracle: String =
    """WITH toks AS (
      |  SELECT doc_id, [x FOR x IN string_split_regex(lower(text), '\s+') IF x <> ''] AS t
      |  FROM documents
      |), hs AS (
      |  SELECT doc_id, [CAST('0x'||substr(md5(x),1,8) AS BIGINT) FOR x IN t] AS hl
      |  FROM toks
      |), sim AS (
      |  SELECT doc_id, CAST(list_sum(
      |    [CASE WHEN list_sum([CASE WHEN (h >> j) & 1 = 1 THEN 1 ELSE -1 END FOR h IN hl]) > 0
      |          THEN (CAST(1 AS BIGINT) << j) ELSE 0 END FOR j IN range(0,32)]) AS BIGINT) AS simhash
      |  FROM hs
      |), rep AS (
      |  SELECT simhash, MIN(doc_id) AS cluster_rep, COUNT(*) AS cluster_size
      |  FROM sim GROUP BY simhash
      |)
      |SELECT s.doc_id, s.simhash, r.cluster_rep, r.cluster_size
      |FROM sim s JOIN rep r USING (simhash)
      |ORDER BY s.doc_id""".stripMargin

  // ------------------------------------------------- n-gram Jaccard verify

  /** Exact n-gram Jaccard similarity for the LSH candidate pairs (the
    * verification stage of MinHash dedup). Join back to text only for
    * candidates — at scale this is the small side. */
  def ngramJaccard(s: SparkSession, dir: String,
      lshThreshold: Double = 0.5): DataFrame = {
    // join raw TEXT first, shingle AFTER the candidate join: candidates are
    // a vanishing fraction of the corpus at scale, so the (expensive,
    // one-MD5-per-shingle) shingle arrays are built only for candidate
    // rows instead of twice for every document
    val docs = documents(s, dir).select(col("doc_id"), col("text"))
    val cands = minhashCandidates(s, dir, lshThreshold)
    cands
      .join(docs.select(col("doc_id").as("a_id"), col("text").as("a_text")), "a_id")
      .join(docs.select(col("doc_id").as("b_id"), col("text").as("b_text")), "b_id")
      .withColumn("a_sh", array_distinct(shingles(col("a_text"))))
      .withColumn("b_sh", array_distinct(shingles(col("b_text"))))
      .withColumn("inter", size(array_intersect(col("a_sh"), col("b_sh"))))
      .withColumn("jaccard", col("inter").cast("double") /
        (size(col("a_sh")) + size(col("b_sh")) - col("inter")))
      .select(col("a_id"), col("b_id"), col("est_jaccard"), col("jaccard"))
      .orderBy(col("a_id"), col("b_id"))
  }

  val ngramJaccardOracle: String =
    sigsCte +
      """, cand AS (
        |  SELECT a_id, b_id, est_jaccard FROM scored WHERE est_jaccard >= 0.5
        |), dsh AS (
        |  SELECT doc_id, list_distinct(shs) AS sh FROM sh
        |)
        |SELECT c.a_id, c.b_id, c.est_jaccard,
        |  len(list_intersect(a.sh, b.sh)) /
        |    CAST(len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)) AS DOUBLE) AS jaccard
        |FROM cand c
        |JOIN dsh a ON a.doc_id = c.a_id
        |JOIN dsh b ON b.doc_id = c.b_id
        |ORDER BY c.a_id, c.b_id""".stripMargin

  // ------------------------------------------------- connected components

  /** Transitive duplicate clusters: connected components over the MinHash
    * candidate graph, each doc labeled with the smallest doc_id reachable
    * through any chain of near-dup pairs. Single-link one-round dedup
    * ([[minhash]]) misses chains (a~b, b~c without a~c); real pipelines
    * cluster transitively before choosing a canonical doc.
    *
    * Algorithm: hash-to-min label propagation — every round each node
    * takes the min of its own label and its neighbors' labels; fixpoint in
    * O(component diameter) rounds. Near-dup graphs are short chains, so
    * the diameter is small; an adversarial long-path graph would want
    * alternating large-star/small-star contraction (O(log n) rounds,
    * Kiveris et al., "Connected Components in MapReduce and Beyond") — the
    * per-round dataflow below (join + min-aggregate) is the same building
    * block. Each round is one shuffle of the (labels ∪ edge-propagated
    * labels) set on doc_id; previous rounds' results are unpersisted as
    * soon as the next is materialized, so peak footprint is two label
    * tables + the (sparse) edge set.
    *
    * Convergence is a fixpoint, hence order-independent and deterministic:
    * the DuckDB oracle reproduces it with a recursive reachability CTE.
    *
    * The converged label table (two longs per doc) is cached per
    * (session, dir, threshold) in [[graft.SessionCache]], like
    * [[signatures]]: cluster labels are computed once per corpus snapshot
    * and then read by every downstream consumer ([[canonical]], reports,
    * joins), exactly like a production staging table; re-running the
    * fixpoint per query would bill the one-time clustering to every read.
    * Evicting it unpersists the labels; [[componentsOf]]'s loop already
    * unpersisted every intermediate round. */
  def components(s: SparkSession, dir: String,
      threshold: Double = 0.7): DataFrame =
    graft.SessionCache.persisted(s, dir, ("dedup.components", threshold))(
      componentsOf(
        documents(s, dir).select(col("doc_id")),
        minhashCandidates(s, dir, threshold)
          .select(col("a_id"), col("b_id"))))(Seq(_))

  /** Instrumentation: fixpoint rounds of the most recent [[componentsOf]]
    * run in this JVM — read by [[graft.ScaleStress]] to report the
    * O(log diameter) convergence measurement; not part of the operator
    * API. */
  @volatile var lastComponentsRounds: Int = -1

  /** The propagation core over an explicit node/edge set (edges are
    * undirected pairs with a_id < b_id; symmetrized here). */
  def componentsOf(nodes: DataFrame, pairs: DataFrame,
      nNodesHint: Long = -1L): DataFrame = {
    // Scale-adaptive parallelism for the fixpoint: every round shuffles
    // label tables of |nodes| rows (two longs each), and the loop runs
    // O(log diameter) blocking rounds — at the configured session
    // parallelism each tiny round pays full per-partition scheduling
    // overhead (measured: the sf0.1 cold build spent 7-30 s in ~15 rounds
    // of KB-sized 32-partition shuffles). Partitions derive from the
    // label-table size (≈500k rows per partition, floor 4) and are capped
    // at the session setting, so cluster-scale graphs keep cluster-scale
    // parallelism. r14 imposed the count by mutating the session-global
    // spark.sql.shuffle.partitions for the whole fixpoint, which silently
    // throttled any CONCURRENT query on the same session (ADVICE r14);
    // now every per-round frame is explicitly repartitioned instead, so
    // the loop's parallelism is plan-local and the session conf is never
    // written. Callers that already know |nodes| pass it as `nNodesHint`
    // to skip the sizing count job.
    val spark = nodes.sparkSession
    val sessionParts = scala.util.Try(
      spark.conf.get("spark.sql.shuffle.partitions").toLong).getOrElse(200L)
    val nNodes = if (nNodesHint >= 0) nNodesHint else nodes.count()
    val parts = math.max(4L,
      math.min(sessionParts, nNodes / 500000L + 4L)).toInt
    componentsOfAt(nodes, pairs, parts)
  }

  private def componentsOfAt(nodes: DataFrame,
      pairs: DataFrame, parts: Int): DataFrame = {
    val edges = pairs
      .union(pairs.select(col("b_id").as("a_id"), col("a_id").as("b_id")))
      .select(col("a_id").as("src"), col("b_id").as("dst"))
      .repartition(parts, col("dst"))
      .persist()
    var labels = nodes
      .select(col("doc_id"), col("doc_id").as("component"))
      .repartition(parts, col("doc_id")).persist()
    var cached = labels // the persisted DataFrame backing `labels`
    var changed = 1L
    var rounds = 0
    // Bounded fixpoint loop: labels only decrease, so `changed` (count of
    // strict drops) reaching 0 is exact convergence, not a heuristic.
    // Each round is neighbor-min THEN pointer jumping (replace a node's
    // label by its label-node's label — valid because "component" is
    // always a reachable node's id, so transitivity keeps it reachable).
    // Jumping halves label-tree depth per round, so convergence takes
    // O(log diameter) rounds instead of O(diameter): a 10^6-hop chain —
    // adversarial but possible in near-dup graphs of boilerplate docs —
    // finishes in ~20 rounds, where pure propagation would need 10^6.
    while (changed > 0 && rounds < 64) {
      val viaNeighbor = edges
        .join(labels, edges("dst") === labels("doc_id"))
        .select(edges("src").as("doc_id"), col("component"))
      // explicit repartition BEFORE each keyed operation: the aggregation
      // and joins then reuse that partitioning, so every reduce stage of
      // the round runs at `parts` partitions without touching the
      // session-global shuffle-partitions conf (persisted round tables
      // can't rely on AQE coalescing — cached plans keep their planned
      // partitioning)
      val next = labels.select(col("doc_id"), col("component"))
        .union(viaNeighbor)
        .repartition(parts, col("doc_id"))
        .groupBy(col("doc_id")).agg(min(col("component")).as("component"))
        .persist()
      val reps = next
        .select(col("doc_id").as("c_id"), col("component").as("c_comp"))
      val jumped = next
        .repartition(parts, col("component"))
        .join(reps, col("component") === reps("c_id"), "left")
        .select(col("doc_id"),
          coalesce(col("c_comp"), col("component")).as("component"))
        .persist()
      changed = jumped
        .repartition(parts, col("doc_id"))
        .join(labels.withColumnRenamed("component", "prev")
          .repartition(parts, col("doc_id")), "doc_id")
        .filter(col("component") < col("prev")).count() // materializes jumped
      // Lineage truncation — load-bearing: the jump self-join DOUBLES the
      // logical plan per round, so without cutting it planning and plan
      // stringification go exponential (2^rounds nodes) even though
      // execution reads the persisted data. Rebuilding the frame from the
      // materialized RDD keeps the plan O(1) per round; a cluster job
      // would checkpoint to reliable storage instead.
      val truncated = jumped.sparkSession
        .createDataFrame(jumped.rdd, jumped.schema)
      next.unpersist(blocking = false)
      cached.unpersist(blocking = false)
      cached = jumped
      labels = truncated
      rounds += 1
    }
    edges.unpersist(blocking = false)
    lastComponentsRounds = rounds
    // with jumping, 64 rounds covers any graph that fits in storage
    // (depth 2^64); reaching the cap non-converged means a logic bug —
    // fail loudly rather than return stale labels as if they were exact
    if (changed > 0) throw new IllegalStateException(
      s"componentsOf did not converge in $rounds rounds ($changed labels still dropping)")
    // the returned label table is persisted in its own right (two longs +
    // a bool per doc) and materialized BEFORE the last round's backing
    // cache is dropped, so callers — and the components() keyed cache —
    // hold exactly one storage entry whose release frees everything
    val result = labels.select(col("doc_id"), col("component"),
        (col("component") === col("doc_id")).as("is_rep"))
      .orderBy(col("doc_id"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    result.count()
    cached.unpersist(blocking = false)
    result
  }

  /** Recursive-CTE mirror: min doc_id reachable over the symmetric
    * candidate edges (UNION dedups, so the recursion terminates at the
    * same fixpoint the propagation loop reaches). */
  val componentsOracle: String =
    sigsCte.replaceFirst("^WITH ", "WITH RECURSIVE ") +
      """, edges AS (
        |  SELECT a_id AS s, b_id AS t FROM scored WHERE est_jaccard >= 0.7
        |  UNION ALL
        |  SELECT b_id AS s, a_id AS t FROM scored WHERE est_jaccard >= 0.7
        |), reach(doc_id, comp) AS (
        |  SELECT doc_id, doc_id FROM documents
        |  UNION
        |  SELECT e.t AS doc_id, r.comp FROM reach r JOIN edges e ON e.s = r.doc_id
        |)
        |SELECT doc_id, MIN(comp) AS component, MIN(comp) = doc_id AS is_rep
        |FROM reach GROUP BY doc_id ORDER BY doc_id""".stripMargin

  // ------------------------------------------------- decontamination

  /** Benchmark decontamination: flag training documents whose n-gram
    * shingles overlap a held-out benchmark set — the standard "did my
    * eval set leak into the training corpus" check an LLM data pipeline
    * runs before every training job.
    *
    * Shingling is the same portable kernel as MinHash
    * ([[PortableHashExprs.PortableShingles]]: lowercase, \s+ tokenize,
    * word n-grams; real pipelines use n in 8..13 — the synthetic corpus's
    * tiny vocabulary makes n=3 the interesting setting at test SF).
    *
    * Scale shape: the benchmark shingle set is small (eval suites are MBs
    * even when the corpus is 100 TB) → dedup it and '''broadcast''' it;
    * the corpus side is one shuffle for the per-doc distinct-shingle set,
    * then a broadcast hash join + map-side-combined count. The corpus is
    * never self-joined and never collected. */
  def decontaminate(s: SparkSession, dir: String,
      benchSource: String = "src0", n: Int = 3,
      threshold: Double = 0.2): DataFrame = {
    val sh = documents(s, dir)
      .select(col("doc_id"), col("source"),
        explode(shingles(col("text"), n)).as("shingle"))
      .distinct() // per-doc distinct shingle set: one shuffle
    val bench = sh.filter(col("source") === benchSource)
      .select(col("shingle")).distinct()
    val corpus = sh.filter(col("source") =!= benchSource)
    // rows are already distinct per (doc_id, shingle) → plain counts,
    // partial-aggregated map-side
    val totals = corpus.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shingles"))
    val hits = corpus.join(broadcast(bench), Seq("shingle"))
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_overlap"))
    totals.join(hits, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_shingles"),
        coalesce(col("n_overlap"), lit(0L)).as("n_overlap"),
        (coalesce(col("n_overlap"), lit(0L)).cast("double") /
          col("n_shingles")).as("overlap_ratio"))
      .withColumn("contaminated", col("overlap_ratio") >= threshold)
      .orderBy(col("doc_id"))
  }

  /** [[decontaminate]] behind a broadcast Bloom prefilter — bitwise the
    * SAME result (the gate shares [[decontaminateOracle]]), but the
    * 100 TB cost model changes completely: [[decontaminate]] shuffles one
    * (doc_id, shingle) row per corpus shingle to build the per-doc
    * distinct sets, while here the corpus is screened IN-ROW against a
    * Bloom filter of the benchmark shingles ([[PortableHashExprs
    * .BloomShingleScreen]] — n_shingles is a row-local distinct count,
    * and a doc with zero Bloom hits is PROVABLY clean because build and
    * probe share one hash kernel, so no false negatives exist). Only
    * Bloom-candidate docs (true overlaps + the fpp tail) explode and
    * join the broadcast benchmark set for exact confirmation — corpus
    * shuffle is proportional to the contamination rate, not the corpus.
    *
    * The filter builds as explode(bloom_positions) + distinct + a driver
    * collect bounded by the SET-BIT count (≤ min(|bench|·k, mBits) ints —
    * eval suites are MBs when the corpus is 100 TB; same bounded-build
    * contract as a broadcast), then ships inside the screen expression.
    * A deliberately undersized filter only grows the confirm join
    * (spec-pinned: mBits=64 still yields exact results). */
  def decontaminateBloom(s: SparkSession, dir: String,
      benchSource: String = "src0", n: Int = 3, threshold: Double = 0.2,
      mBits: Int = 1 << 20, k: Int = 5): DataFrame = {
    import graft.functions.{PortableHashExprs => P}
    val docs = documents(s, dir)
    val bench = docs.filter(col("source") === benchSource)
      .select(explode(shingles(col("text"), n)).as("shingle")).distinct()
    val setBits = bench
      .select(explode(P.bloom_positions(col("shingle"), mBits, k)).as("p"))
      .distinct().collect().map(_.getLong(0))
    val bloom = new Array[Byte]((mBits + 7) / 8)
    setBits.foreach(p => bloom((p >>> 3).toInt) =
      (bloom((p >>> 3).toInt) | (1 << (p & 7L).toInt)).toByte)
    val base = docs.filter(col("source") =!= benchSource)
      .select(col("doc_id"), col("text"),
        P.bloom_screen(col("text"), bloom, mBits, k, n).as("sc"))
    val hits = base.filter(col("sc.n_candidates") > 0L)
      .select(col("doc_id"),
        explode(array_distinct(shingles(col("text"), n))).as("shingle"))
      .join(broadcast(bench), Seq("shingle"))
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_overlap"))
    base.select(col("doc_id"), col("sc.n_shingles").as("n_shingles"))
      .join(hits, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_shingles"),
        coalesce(col("n_overlap"), lit(0L)).as("n_overlap"),
        (coalesce(col("n_overlap"), lit(0L)).cast("double") /
          col("n_shingles")).as("overlap_ratio"))
      .withColumn("contaminated", col("overlap_ratio") >= threshold)
      .orderBy(col("doc_id"))
  }

  /** DuckDB mirror: same tokenize/shingle construction as [[sigsCte]]
    * (raw shingle strings — no hashing needed for set overlap). */
  val decontaminateOracle: String =
    """WITH toks AS (
      |  SELECT doc_id, source,
      |    [x FOR x IN string_split_regex(lower(text), '\s+') IF x <> ''] AS t
      |  FROM documents
      |), shx AS (
      |  SELECT doc_id, source, CASE WHEN len(t) < 3 THEN [array_to_string(t, ' ')]
      |    ELSE [array_to_string(t[i:i+2], ' ') FOR i IN range(1, len(t)-1)] END AS shs
      |  FROM toks
      |), ds AS (
      |  SELECT DISTINCT doc_id, source, unnest(shs) AS shingle FROM shx
      |), bench AS (
      |  SELECT DISTINCT shingle FROM ds WHERE source = 'src0'
      |), corpus AS (
      |  SELECT doc_id, shingle FROM ds WHERE source <> 'src0'
      |), tot AS (
      |  SELECT doc_id, COUNT(*) AS n_shingles FROM corpus GROUP BY doc_id
      |), hit AS (
      |  SELECT c.doc_id, COUNT(*) AS n_overlap
      |  FROM corpus c JOIN bench b USING (shingle) GROUP BY c.doc_id
      |)
      |SELECT t.doc_id, t.n_shingles, COALESCE(h.n_overlap, 0) AS n_overlap,
      |  COALESCE(h.n_overlap, 0) / CAST(t.n_shingles AS DOUBLE) AS overlap_ratio,
      |  COALESCE(h.n_overlap, 0) / CAST(t.n_shingles AS DOUBLE) >= 0.2 AS contaminated
      |FROM tot t LEFT JOIN hit h ON h.doc_id = t.doc_id
      |ORDER BY t.doc_id""".stripMargin

  // ------------------------------------------------- incremental dedup

  /** Incremental-ingestion core: classify each document of a NEW batch
    * against the fingerprint index of the EXISTING corpus. `corpusFps`
    * needs only an `fp` column (the staging index — at production scale a
    * maintained narrow table, never recomputed from corpus text);
    * `batch` carries (doc_id, fp).
    *
    * Verdict per batch doc: `dup_of_corpus` (fingerprint already
    * indexed), `dup_in_batch` (an earlier batch doc has the same
    * fingerprint), else `kept`. First-writer-wins inside the batch (min
    * doc_id), matching [[exact]]'s policy, so re-running the pipeline
    * over corpus+batch concatenated keeps exactly the corpus ∪ kept set.
    *
    * Scale shape: both join sides reduce to the narrow fp column before
    * any shuffle — the corpus's text is never read here and the batch
    * text is read once to fingerprint. Both the left-anti-style probe and
    * the first-id aggregate are fp-keyed, so at 100 TB this is two
    * co-partitioned narrow shuffles of the BATCH (the small side) plus
    * one of the fingerprint index; nothing wide ever moves. */
  def incrementalOf(corpusFps: DataFrame, batch: DataFrame): DataFrame = {
    val corpus = corpusFps.select(col("fp")).distinct()
      .withColumn("in_corpus", lit(true))
    val firsts = batch.groupBy(col("fp"))
      .agg(min(col("doc_id")).as("first_id"))
    batch.join(corpus, Seq("fp"), "left")
      .join(firsts, Seq("fp"))
      .select(col("doc_id"), col("fp"),
        when(col("in_corpus").isNotNull, lit("dup_of_corpus"))
          .when(col("doc_id") =!= col("first_id"), lit("dup_in_batch"))
          .otherwise(lit("kept")).as("verdict"))
      .orderBy(col("doc_id"))
  }

  /** Gate wrapper: treat `batchSource` as the arriving batch and every
    * other source as the already-ingested corpus. */
  def incremental(s: SparkSession, dir: String,
      batchSource: String = "src0"): DataFrame = {
    val fps = documents(s, dir)
      .select(col("doc_id"), col("source"), md5(col("text")).as("fp"))
    incrementalOf(
      fps.filter(col("source") =!= batchSource),
      fps.filter(col("source") === batchSource)
        .select(col("doc_id"), col("fp")))
  }

  val incrementalOracle: String =
    """WITH fps AS (
      |  SELECT doc_id, source, md5(text) AS fp FROM documents
      |), corpus AS (
      |  SELECT DISTINCT fp FROM fps WHERE source <> 'src0'
      |), batch AS (
      |  SELECT doc_id, fp FROM fps WHERE source = 'src0'
      |), firsts AS (
      |  SELECT fp, MIN(doc_id) AS first_id FROM batch GROUP BY fp
      |)
      |SELECT b.doc_id, b.fp,
      |  CASE WHEN c.fp IS NOT NULL THEN 'dup_of_corpus'
      |       WHEN b.doc_id <> f.first_id THEN 'dup_in_batch'
      |       ELSE 'kept' END AS verdict
      |FROM batch b LEFT JOIN corpus c ON b.fp = c.fp
      |JOIN firsts f ON b.fp = f.fp
      |ORDER BY b.doc_id""".stripMargin

  // ---------------------------------------------- canonical selection

  /** Canonical-document selection: from each near-dup cluster
    * ([[components]] labels) keep the BEST member — here the
    * longest-by-token-count document, ties to the smallest doc_id — the
    * step after clustering in a real dedup pipeline (naive first-id keeps
    * whichever truncated variant sorted first; canonical selection keeps
    * the fullest copy).
    *
    * Scale shape: the label table is two longs per doc and the token
    * count one int; the single wide input read happens inside
    * [[components]]' signature stage. Selection itself is ONE hash
    * exchange on `component`: row_number + the member count/token sum
    * ride the same Window partitioning (no second shuffle, no self-join).
    * Deterministic: integer token counts with a doc_id tie-break. */
  def canonicalOf(labels: DataFrame, toks: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("component"))
    val wOrd = w.orderBy(col("n_tokens").desc, col("doc_id").asc)
    labels.join(toks, Seq("doc_id"))
      .select(col("component"), col("doc_id"), col("n_tokens"))
      .withColumn("rk", row_number().over(wOrd))
      .withColumn("n_members", count(lit(1)).over(w))
      .withColumn("total_tokens", sum(col("n_tokens")).over(w))
      .filter(col("rk") === 1)
      .select(col("component"), col("doc_id").as("canonical_id"),
        col("n_tokens").as("canonical_tokens"),
        col("n_members"), col("total_tokens"))
      .orderBy(col("component"))
  }

  /** Gate wrapper over the corpus' own near-dup clusters; token counts
    * use the same \s+ split as [[TextOps]]. */
  def canonical(s: SparkSession, dir: String,
      threshold: Double = 0.7): DataFrame = {
    val toks = documents(s, dir).select(col("doc_id"),
      size(split(trim(col("text")), "\\s+")).as("n_tokens"))
    canonicalOf(
      components(s, dir, threshold).select(col("doc_id"), col("component")),
      toks)
  }

  /** Recursive-CTE labels (same fixpoint as [[componentsOracle]]) joined
    * with token counts; window selection mirrors the Spark plan. */
  val canonicalOracle: String =
    sigsCte.replaceFirst("^WITH ", "WITH RECURSIVE ") +
      """, edges AS (
        |  SELECT a_id AS s, b_id AS t FROM scored WHERE est_jaccard >= 0.7
        |  UNION ALL
        |  SELECT b_id AS s, a_id AS t FROM scored WHERE est_jaccard >= 0.7
        |), reach(doc_id, comp) AS (
        |  SELECT doc_id, doc_id FROM documents
        |  UNION
        |  SELECT e.t AS doc_id, r.comp FROM reach r JOIN edges e ON e.s = r.doc_id
        |), lab AS (
        |  SELECT doc_id, MIN(comp) AS component FROM reach GROUP BY doc_id
        |), ntok AS (
        |  SELECT doc_id,
        |    CAST(LEN(regexp_split_to_array(TRIM(text), '\s+')) AS INTEGER) AS n_tokens
        |  FROM documents
        |), ranked AS (
        |  SELECT l.component, l.doc_id, n.n_tokens,
        |    ROW_NUMBER() OVER (PARTITION BY l.component
        |      ORDER BY n.n_tokens DESC, l.doc_id) AS rk,
        |    CAST(COUNT(*) OVER (PARTITION BY l.component) AS BIGINT) AS n_members,
        |    CAST(SUM(n.n_tokens) OVER (PARTITION BY l.component) AS BIGINT) AS total_tokens
        |  FROM lab l JOIN ntok n ON n.doc_id = l.doc_id
        |)
        |SELECT component, doc_id AS canonical_id, n_tokens AS canonical_tokens,
        |  n_members, total_tokens
        |FROM ranked WHERE rk = 1 ORDER BY component""".stripMargin

  /** Best-source duplicate resolution: per near-dup cluster keep the
    * member from the HIGHEST-priority source (ties → smallest doc_id) —
    * the other standard keep policy next to [[canonicalOf]]'s
    * longest-member rule: real pipelines prefer the curated copy (wiki >
    * books > web) of a duplicated text over the longest crawl copy. The
    * priority here is the source's numeric suffix (src0 best), standing
    * in for the curated ranking a production run would supply.
    *
    * Same scale shape as canonical selection: the cached cluster label
    * table joins the narrow (doc_id, source, rank) projection and the
    * winner is ONE row_number window on `component` — a single hash
    * exchange over two-long rows, the corpus text never re-read. */
  def priorityKeep(s: SparkSession, dir: String,
      threshold: Double = 0.7): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val srcs = documents(s, dir).select(col("doc_id"), col("source"),
      regexp_extract(col("source"), "([0-9]+)$", 1).cast("int").as("rank"))
    val w = Window.partitionBy(col("component"))
    val wOrd = w.orderBy(col("rank").asc, col("doc_id").asc)
    components(s, dir, threshold).select(col("doc_id"), col("component"))
      .join(srcs, Seq("doc_id"))
      .withColumn("rk", row_number().over(wOrd))
      .withColumn("n_members", count(lit(1)).over(w))
      .filter(col("rk") === 1)
      .select(col("component"), col("doc_id").as("kept_id"),
        col("source").as("kept_source"), col("rank").as("kept_rank"),
        col("n_members"))
      .orderBy(col("component"))
  }

  /** Recursive-CTE labels (the [[componentsOracle]] fixpoint) with the
    * same source-rank window selection. */
  val priorityKeepOracle: String =
    sigsCte.replaceFirst("^WITH ", "WITH RECURSIVE ") +
      """, edges AS (
        |  SELECT a_id AS s, b_id AS t FROM scored WHERE est_jaccard >= 0.7
        |  UNION ALL
        |  SELECT b_id AS s, a_id AS t FROM scored WHERE est_jaccard >= 0.7
        |), reach(doc_id, comp) AS (
        |  SELECT doc_id, doc_id FROM documents
        |  UNION
        |  SELECT e.t AS doc_id, r.comp FROM reach r JOIN edges e ON e.s = r.doc_id
        |), lab AS (
        |  SELECT doc_id, MIN(comp) AS component FROM reach GROUP BY doc_id
        |), srcs AS (
        |  SELECT doc_id, source,
        |    CAST(regexp_extract(source, '([0-9]+)$', 1) AS INTEGER) AS rank
        |  FROM documents
        |), ranked AS (
        |  SELECT l.component, l.doc_id, s.source, s.rank,
        |    ROW_NUMBER() OVER (PARTITION BY l.component
        |      ORDER BY s.rank, l.doc_id) AS rk,
        |    CAST(COUNT(*) OVER (PARTITION BY l.component) AS BIGINT)
        |      AS n_members
        |  FROM lab l JOIN srcs s ON s.doc_id = l.doc_id
        |)
        |SELECT component, doc_id AS kept_id, source AS kept_source,
        |  rank AS kept_rank, n_members
        |FROM ranked WHERE rk = 1 ORDER BY component""".stripMargin

  /** Shingle CONTAINMENT (Broder's asymmetric resemblance): doc A is
    * contained in doc B when |A∩B| / |A| is high even though the
    * symmetric Jaccard is low — the excerpt/quote/superset case MinHash
    * dedup structurally misses (a 10-token quote inside a 100-token doc
    * has J ≈ 0.1 and never becomes an LSH candidate). Pairs come from a
    * self-join on the shingle hash, NOT from LSH, so low-Jaccard
    * containment is still found; the quadratic risk is bounded by
    * dropping stop-shingles occurring in more than `dfCap` docs (the
    * standard trick — corpus-wide boilerplate belongs to
    * [[graft.operators.TextOps.blockDedup]], not here), making per-key
    * fanout ≤ dfCap and the pair space Σ df² ≤ N·dfCap. Sizes and
    * intersections both count the FILTERED shingle universe, so the
    * ratio is internally consistent; all integer ppm. */
  def containment(s: SparkSession, dir: String, n: Int = 3,
      dfCap: Int = 32, minPpm: Long = 800000L): DataFrame = {
    import graft.functions.PortableHashExprs
    // the join/shuffle key is the PORTABLE 56-bit integer hash, not the
    // 32-char md5 text: at 5M docs the md5-keyed version shuffled 64 GB
    // (measured) — the long key carries the same information in a
    // quarter of the bytes, and the DuckDB oracle derives the identical
    // integer with the established '0x'||substr spelling.
    // The per-doc shingle set is hashed AND deduplicated in one compiled
    // kernel pass (DistinctShingleHash56): a (doc_id, h) distinct is
    // entirely within the doc, so the r14 global distinct() exchange was
    // redundant — the explode now emits 8-byte longs already unique per
    // doc (r15 ContainProbe: staging fell from ~1.5-2.0 s to the window
    // pass alone)
    val sh = documents(s, dir)
      .select(col("doc_id"),
        explode(PortableHashExprs.distinct_shingle_hash56(col("text"), n))
          .as("h"))
    // document frequency folded into ONE window pass over the distinct
    // (doc_id, h) set instead of a groupBy + join back: the r14 plan audit
    // showed the shingle kernel + distinct subtree evaluated SIX times
    // (keep re-derived sh, and shk was recomputed for sizes and both
    // self-join sides — 51 exchanges, 15 joins). The window shares the
    // h-exchange the self-join needs anyway, and localCheckpoint
    // materializes the kept set once PER INVOCATION (a within-query
    // staging table — every run still computes it from the parquet input)
    // so the kernel runs once, not six times.
    import org.apache.spark.sql.expressions.Window
    val shk = sh
      .withColumn("df", count(lit(1)).over(Window.partitionBy(col("h"))))
      .filter(col("df") <= dfCap)
      .select(col("doc_id"), col("h"))
      .localCheckpoint()
    val sizes = shk.groupBy(col("doc_id")).agg(count(lit(1)).as("n_sh"))
    val pairs = shk.select(col("h"), col("doc_id").as("contained_id"))
      .join(shk.select(col("h"), col("doc_id").as("container_id")),
        Seq("h"))
      .filter(col("contained_id") =!= col("container_id"))
      .groupBy(col("contained_id"), col("container_id"))
      .agg(count(lit(1)).as("n_common"))
    pairs
      .join(sizes.select(col("doc_id").as("contained_id"),
        col("n_sh").as("n_contained")), Seq("contained_id"))
      .withColumn("containment_ppm",
        expr("n_common * 1000000L DIV n_contained"))
      .filter(col("containment_ppm") >= minPpm)
      .select(col("contained_id"), col("container_id"),
        col("n_contained"), col("n_common"), col("containment_ppm"))
      .orderBy(col("contained_id"), col("container_id"))
  }

  /** Same filtered-universe shingle sets, pair counts, and ratio. */
  val containmentOracle: String =
    """WITH toks AS (
      |  SELECT doc_id,
      |    [x FOR x IN string_split_regex(lower(text), '\s+') IF x <> ''] AS t
      |  FROM documents
      |), shl AS (
      |  SELECT doc_id, CASE WHEN len(t) < 3 THEN [array_to_string(t, ' ')]
      |    ELSE [array_to_string(t[i:i+2], ' ') FOR i IN range(1, len(t)-1)]
      |    END AS shs
      |  FROM toks
      |), sh AS (
      |  SELECT DISTINCT doc_id,
      |    CAST('0x'||substr(md5(s2),1,14) AS BIGINT) AS h
      |  FROM shl, UNNEST(shs) AS u(s2)
      |  WHERE s2 <> ''
      |), keep AS (
      |  SELECT h FROM sh GROUP BY h HAVING COUNT(*) <= 32
      |), shk AS (
      |  SELECT sh.doc_id, sh.h FROM sh JOIN keep USING (h)
      |), sizes AS (
      |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_sh
      |  FROM shk GROUP BY doc_id
      |), pairs AS (
      |  SELECT a.doc_id AS contained_id, b.doc_id AS container_id,
      |    CAST(COUNT(*) AS BIGINT) AS n_common
      |  FROM shk a JOIN shk b ON a.h = b.h AND a.doc_id <> b.doc_id
      |  GROUP BY 1, 2
      |)
      |SELECT p.contained_id, p.container_id, s.n_sh AS n_contained,
      |  p.n_common,
      |  CAST(p.n_common * 1000000 // s.n_sh AS BIGINT) AS containment_ppm
      |FROM pairs p JOIN sizes s ON s.doc_id = p.contained_id
      |WHERE p.n_common * 1000000 // s.n_sh >= 800000
      |ORDER BY p.contained_id, p.container_id""".stripMargin

  /** Corpus-level dedup summary — a single-row report driving pipeline
    * decisions (and a stable smoke query at any SF). */
  def summary(s: SparkSession, dir: String): DataFrame = {
    val n = documents(s, dir).count()
    val exactKept = exact(s, dir).count()
    val mh = minhash(s, dir)
    val mhKept = mh.filter(col("keep")).count()
    import s.implicits._
    Seq((n, exactKept, mhKept)).toDF("n_docs", "exact_kept", "minhash_kept")
  }
}
