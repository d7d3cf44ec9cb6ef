package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.Tables._

/** Deterministic sampling — a core training-data-curation primitive: the
  * sample is a pure function of the row key (MD5 bucket), so it is
  * reproducible across runs, engines, and cluster sizes, composes with
  * incremental ingestion (a doc's membership never changes), and needs no
  * shuffle or state. The 10% bucket rule uses the same engine-portable
  * hash as [[graft.functions.PortableHashExprs]], so the DuckDB oracle
  * selects the identical sample.
  */
object Sampling {

  /** Portable MD5 bucket in [0, 100) of a key column rendered as text. */
  private def hashBucket(keyAsString: org.apache.spark.sql.Column) =
    conv(substring(md5(keyAsString), 1, 14), 16, 10).cast("long") % 100

  /** The deterministic 10% document sample, with its bucket exposed. */
  def hashSample(s: SparkSession, dir: String): DataFrame =
    documents(s, dir)
      .withColumn("bucket", hashBucket(col("doc_id").cast("string")))
      .filter(col("bucket") < 10)
      .select(col("doc_id"), col("source"), col("lang"), col("bucket"))
      .orderBy(col("doc_id"))

  val hashSampleOracle: String =
    """SELECT doc_id, source, lang,
      |  CAST('0x'||substr(md5(CAST(doc_id AS VARCHAR)),1,14) AS BIGINT) % 100 AS bucket
      |FROM documents
      |WHERE CAST('0x'||substr(md5(CAST(doc_id AS VARCHAR)),1,14) AS BIGINT) % 100 < 10
      |ORDER BY doc_id""".stripMargin

  /** Per-source sampled-vs-total counts: the report a pipeline uses to
    * confirm the sample is unbiased across strata. */
  def sampleStats(s: SparkSession, dir: String): DataFrame =
    documents(s, dir)
      .withColumn("sampled",
        (hashBucket(col("doc_id").cast("string")) < 10).cast("long"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_total"), sum(col("sampled")).as("n_sampled"))
      .orderBy(col("source"))

  val sampleStatsOracle: String =
    """SELECT source, COUNT(*) AS n_total,
      |  CAST(SUM(CASE WHEN CAST('0x'||substr(md5(CAST(doc_id AS VARCHAR)),1,14) AS BIGINT) % 100 < 10
      |       THEN 1 ELSE 0 END) AS BIGINT) AS n_sampled
      |FROM documents
      |GROUP BY source
      |ORDER BY source""".stripMargin

  /** Stratified deterministic sampling: a different rate per language
    * stratum (downsample the dominant language, upsample the tails — the
    * standard data-mixing move when rebalancing a training corpus). Same
    * MD5-bucket membership rule as [[hashSample]], so strata stay
    * reproducible and composable: a document's bucket never changes, only
    * the per-stratum threshold does. Still a pure filter — no shuffle, no
    * state, no sort — so it pushes into the scan at any corpus size. */
  def stratifiedSample(s: SparkSession, dir: String): DataFrame = {
    val rate = when(col("lang") === "en", lit(5))
      .when(col("lang").isin("de", "fr", "es"), lit(20))
      .otherwise(lit(50))
    documents(s, dir)
      .withColumn("bucket", hashBucket(col("doc_id").cast("string")))
      .filter(col("bucket") < rate)
      .select(col("doc_id"), col("lang"), col("bucket"))
      .orderBy(col("doc_id"))
  }

  val stratifiedSampleOracle: String =
    """SELECT doc_id, lang,
      |  CAST('0x'||substr(md5(CAST(doc_id AS VARCHAR)),1,14) AS BIGINT) % 100 AS bucket
      |FROM documents
      |WHERE CAST('0x'||substr(md5(CAST(doc_id AS VARCHAR)),1,14) AS BIGINT) % 100
      |  < CASE WHEN lang = 'en' THEN 5
      |         WHEN lang IN ('de','fr','es') THEN 20 ELSE 50 END
      |ORDER BY doc_id""".stripMargin

  // ------------------------------------------------ mixture construction

  /** The target pre-training mixture, as ppm weights per language. */
  val mixtureWeights: Seq[(String, Long)] = Seq(
    "en" -> 400000L, "de" -> 150000L, "fr" -> 150000L,
    "es" -> 150000L, "zh" -> 150000L)

  /** Mixture construction: turn target per-stratum weights into the
    * LARGEST achievable downsample-only corpus and the deterministic
    * per-stratum acceptance rates that produce it.
    *
    *   T        = min over strata of ⌊n_s · 10⁶ / w_s⌋  (binding stratum)
    *   quota_s  = ⌊w_s · T / 10⁶⌋
    *   rate_s   = ⌊quota_s · 10⁴ / n_s⌋ basis points, membership =
    *              md5-bucket(doc_id) mod 10⁴ < rate_s
    *
    * All integer arithmetic, so any engine derives the same rates and the
    * same member set. Plan shape: one tiny per-stratum aggregate (strata
    * count is small — the global window over it is a 5-row frame at ANY
    * corpus size), broadcast back onto the corpus for the membership
    * flag, then the per-stratum rollup — the corpus is scanned, never
    * re-shuffled wide. */
  def mixture(s: SparkSession, dir: String,
      weights: Seq[(String, Long)] = mixtureWeights): DataFrame = {
    val w = weights.tail.foldLeft(
      when(col("lang") === weights.head._1, lit(weights.head._2))) {
      case (acc, (l, p)) => acc.when(col("lang") === l, lit(p))
    }.otherwise(lit(0L))
    val counts = documents(s, dir)
      .groupBy(col("lang")).agg(count(lit(1)).as("n"))
      .withColumn("w_ppm", w)
      .filter(col("w_ppm") > 0)
    import org.apache.spark.sql.expressions.Window
    val rates = counts
      .withColumn("t_feasible",
        min(expr("n * 1000000L div w_ppm")).over(
          Window.partitionBy(lit(1))))
      .withColumn("quota", expr("w_ppm * t_feasible div 1000000L"))
      .withColumn("rate_bp",
        least(lit(10000L), expr("quota * 10000L div n")))
    val bucket = conv(substring(md5(col("doc_id").cast("string")), 1, 14),
      16, 10).cast("long") % 10000
    documents(s, dir)
      .withColumn("bucket", bucket)
      .join(broadcast(rates), "lang")
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_total"),
        first(col("w_ppm")).as("w_ppm"),
        first(col("quota")).as("quota"),
        first(col("rate_bp")).as("rate_bp"),
        sum(when(col("bucket") < col("rate_bp"), 1L).otherwise(0L))
          .as("n_sampled"))
      .orderBy(col("lang"))
  }

  val mixtureOracle: String =
    """WITH c AS (
      |  SELECT lang, CAST(COUNT(*) AS BIGINT) AS n,
      |    CASE lang WHEN 'en' THEN 400000 WHEN 'de' THEN 150000
      |      WHEN 'fr' THEN 150000 WHEN 'es' THEN 150000
      |      WHEN 'zh' THEN 150000 ELSE 0 END AS w_ppm
      |  FROM documents GROUP BY lang
      |), t AS (
      |  SELECT lang, n, w_ppm,
      |    MIN(n * 1000000 // w_ppm) OVER () AS tf
      |  FROM c WHERE w_ppm > 0
      |), r AS (
      |  SELECT lang, n, w_ppm, (w_ppm * tf) // 1000000 AS quota,
      |    LEAST(10000, ((w_ppm * tf) // 1000000) * 10000 // n) AS rate_bp
      |  FROM t
      |)
      |SELECT r.lang, r.n AS n_total, CAST(r.w_ppm AS BIGINT) AS w_ppm,
      |  CAST(r.quota AS BIGINT) AS quota, CAST(r.rate_bp AS BIGINT) AS rate_bp,
      |  CAST(SUM(CASE WHEN
      |    CAST('0x'||substr(md5(CAST(d.doc_id AS VARCHAR)),1,14) AS BIGINT)
      |      % 10000 < r.rate_bp THEN 1 ELSE 0 END) AS BIGINT) AS n_sampled
      |FROM r JOIN documents d ON d.lang = r.lang
      |GROUP BY r.lang, r.n, r.w_ppm, r.quota, r.rate_bp
      |ORDER BY r.lang""".stripMargin

  /** TEMPERATURE-scaled mixture (α = 0.5): stratum weights proportional
    * to √n instead of hand-set targets — the published multilingual
    * sampling knob (mBERT/XLM-R exponentiate the empirical distribution
    * with α < 1 to upweight low-resource strata). The weight derivation
    * stays exactly reproducible across engines: s = ⌊√n⌋ through an
    * IEEE-754 `sqrt` (correctly rounded by spec, so Spark and DuckDB
    * agree bitwise) floored to an integer, then `w_ppm = s·10⁶ DIV Σs` —
    * integer arithmetic from there down, same feasible-T / quota /
    * basis-point acceptance chain as [[mixture]] (downsample-only; the
    * LARGEST corpus realizing the temperature mixture). Plan shape is
    * [[mixture]]'s: one tiny per-stratum aggregate, a constant-size
    * window over it, broadcast back, one corpus scan. */
  def temperatureMixture(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val counts = documents(s, dir)
      .groupBy(col("lang")).agg(count(lit(1)).as("n"))
      .withColumn("s",
        expr("CAST(FLOOR(SQRT(CAST(n AS DOUBLE))) AS BIGINT)"))
    val win = Window.partitionBy(lit(1))
    val rates = counts
      .withColumn("s_total", sum(col("s")).over(win))
      .withColumn("w_ppm", expr("s * 1000000L div s_total"))
      .withColumn("t_feasible",
        min(expr("n * 1000000L div w_ppm")).over(win))
      .withColumn("quota", expr("w_ppm * t_feasible div 1000000L"))
      .withColumn("rate_bp",
        least(lit(10000L), expr("quota * 10000L div n")))
    val bucket = conv(substring(md5(col("doc_id").cast("string")), 1, 14),
      16, 10).cast("long") % 10000
    documents(s, dir)
      .withColumn("bucket", bucket)
      .join(broadcast(rates), "lang")
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_total"),
        first(col("w_ppm")).as("w_ppm"),
        first(col("quota")).as("quota"),
        first(col("rate_bp")).as("rate_bp"),
        sum(when(col("bucket") < col("rate_bp"), 1L).otherwise(0L))
          .as("n_sampled"))
      .orderBy(col("lang"))
  }

  val temperatureMixtureOracle: String =
    """WITH c AS (
      |  SELECT lang, CAST(COUNT(*) AS BIGINT) AS n,
      |    CAST(FLOOR(SQRT(CAST(COUNT(*) AS DOUBLE))) AS BIGINT) AS sq
      |  FROM documents GROUP BY lang
      |), w AS (
      |  SELECT lang, n, sq * 1000000 // SUM(sq) OVER () AS w_ppm
      |  FROM c
      |), t AS (
      |  SELECT lang, n, w_ppm,
      |    MIN(n * 1000000 // w_ppm) OVER () AS tf
      |  FROM w
      |), r AS (
      |  SELECT lang, n, w_ppm, (w_ppm * tf) // 1000000 AS quota,
      |    LEAST(10000, ((w_ppm * tf) // 1000000) * 10000 // n) AS rate_bp
      |  FROM t
      |)
      |SELECT r.lang, r.n AS n_total, CAST(r.w_ppm AS BIGINT) AS w_ppm,
      |  CAST(r.quota AS BIGINT) AS quota, CAST(r.rate_bp AS BIGINT) AS rate_bp,
      |  CAST(SUM(CASE WHEN
      |    CAST('0x'||substr(md5(CAST(d.doc_id AS VARCHAR)),1,14) AS BIGINT)
      |      % 10000 < r.rate_bp THEN 1 ELSE 0 END) AS BIGINT) AS n_sampled
      |FROM r JOIN documents d ON d.lang = r.lang
      |GROUP BY r.lang, r.n, r.w_ppm, r.quota, r.rate_bp
      |ORDER BY r.lang""".stripMargin

  // --------------------------------------- epoch-repeat (up-sampling)

  /** Epoch-REPEAT mixture: the up-sampling counterpart of [[mixture]]
    * (which only ever downsamples). Data-constrained pipelines hit
    * target weights by REPEATING scarce strata for multiple epochs —
    * published practice caps the repeats (returns diminish measurably
    * past ~4 epochs), and anything still short after the cap is a
    * recorded deficit, not silently rebalanced.
    *
    * Budget = the corpus's own size N re-allocated by the target
    * weights; everything integer, so any engine derives the same plan:
    *
    *   need_s   = ⌊w_s · N / 10⁶⌋
    *   epochs_s = min(R, ⌊need_s / n_s⌋)        (full passes)
    *   rem_s    = min(need_s, R·n_s) − epochs_s·n_s
    *   rate_bp  = ⌊rem_s · 10⁴ / n_s⌋, fractional-pass membership =
    *              md5-bucket(doc_id) mod 10⁴ < rate_bp
    *   copies(doc) = epochs_s + (member ? 1 : 0)
    *
    * Plan shape is [[mixture]]'s: one tiny per-stratum aggregate, a
    * constant-size window over it, broadcast back, ONE corpus scan —
    * the repeated corpus itself is never materialized here (a writer
    * consumes `copies`; the summary is what the mixture designer
    * reads). */
  /** The per-stratum epoch/rate table [[epochMixture]] derives and the
    * streaming serving leg broadcasts (a corpus-datasheet-sized frame:
    * one row per weighted stratum at ANY corpus size). */
  def epochRates(s: SparkSession, dir: String,
      weights: Seq[(String, Long)] = mixtureWeights,
      maxEpochs: Int = 4): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = weights.tail.foldLeft(
      when(col("lang") === weights.head._1, lit(weights.head._2))) {
      case (acc, (l, p)) => acc.when(col("lang") === l, lit(p))
    }.otherwise(lit(0L))
    val win = Window.partitionBy(lit(1))
    documents(s, dir)
      .groupBy(col("lang")).agg(count(lit(1)).as("n"))
      .withColumn("w_ppm", w)
      .filter(col("w_ppm") > 0)
      .withColumn("n_budget", sum(col("n")).over(win))
      .withColumn("need", expr("w_ppm * n_budget div 1000000L"))
      .withColumn("epochs",
        least(lit(maxEpochs.toLong), expr("need div n")))
      .withColumn("rem",
        least(col("need"), lit(maxEpochs.toLong) * col("n"))
          - col("epochs") * col("n"))
      .withColumn("rate_bp", expr("rem * 10000L div n"))
  }

  def epochMixture(s: SparkSession, dir: String,
      weights: Seq[(String, Long)] = mixtureWeights,
      maxEpochs: Int = 4): DataFrame = {
    val rates = epochRates(s, dir, weights, maxEpochs)
    val bucket = conv(substring(md5(col("doc_id").cast("string")), 1, 14),
      16, 10).cast("long") % 10000
    documents(s, dir)
      .withColumn("bucket", bucket)
      .join(broadcast(rates), "lang")
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_total"),
        first(col("w_ppm")).as("w_ppm"),
        first(col("need")).as("need"),
        first(col("epochs")).as("epochs"),
        first(col("rate_bp")).as("rate_bp"),
        sum(when(col("bucket") < col("rate_bp"), 1L).otherwise(0L))
          .as("n_extra"))
      .withColumn("n_copies",
        col("epochs") * col("n_total") + col("n_extra"))
      // the cap's honesty column: how far the stratum still falls short
      .withColumn("deficit",
        greatest(lit(0L), col("need") - col("n_copies")))
      .orderBy(col("lang"))
  }

  val epochMixtureOracle: String =
    """WITH c AS (
      |  SELECT lang, CAST(COUNT(*) AS BIGINT) AS n,
      |    CASE lang WHEN 'en' THEN 400000 WHEN 'de' THEN 150000
      |      WHEN 'fr' THEN 150000 WHEN 'es' THEN 150000
      |      WHEN 'zh' THEN 150000 ELSE 0 END AS w_ppm
      |  FROM documents GROUP BY lang
      |), b AS (
      |  SELECT lang, n, w_ppm, SUM(n) OVER () AS n_budget
      |  FROM c WHERE w_ppm > 0
      |), r AS (
      |  SELECT lang, n, w_ppm,
      |    (w_ppm * n_budget) // 1000000 AS need,
      |    LEAST(4, ((w_ppm * n_budget) // 1000000) // n) AS epochs,
      |    (LEAST((w_ppm * n_budget) // 1000000, 4 * n)
      |      - LEAST(4, ((w_ppm * n_budget) // 1000000) // n) * n)
      |      * 10000 // n AS rate_bp
      |  FROM b
      |), agg AS (
      |  SELECT r.lang, r.n AS n_total, r.w_ppm, r.need, r.epochs,
      |    r.rate_bp,
      |    CAST(SUM(CASE WHEN
      |      CAST('0x'||substr(md5(CAST(d.doc_id AS VARCHAR)),1,14) AS BIGINT)
      |        % 10000 < r.rate_bp THEN 1 ELSE 0 END) AS BIGINT) AS n_extra
      |  FROM r JOIN documents d ON d.lang = r.lang
      |  GROUP BY r.lang, r.n, r.w_ppm, r.need, r.epochs, r.rate_bp
      |)
      |SELECT lang, n_total, CAST(w_ppm AS BIGINT) AS w_ppm,
      |  CAST(need AS BIGINT) AS need, CAST(epochs AS BIGINT) AS epochs,
      |  CAST(rate_bp AS BIGINT) AS rate_bp, n_extra,
      |  CAST(epochs * n_total + n_extra AS BIGINT) AS n_copies,
      |  CAST(GREATEST(0, need - (epochs * n_total + n_extra)) AS BIGINT)
      |    AS deficit
      |FROM agg ORDER BY lang""".stripMargin

  // ------------------------------------------- leakage-free splitting

  /** Leakage-free train/valid/test split: the split is assigned to each
    * near-dup CLUSTER ([[Dedup.components]] label), not each document, so
    * two near-duplicate documents can never land in different splits — a
    * per-doc hash split leaks every near-dup pair that straddles
    * train/test, which is exactly the contamination the dedup pipeline
    * exists to prevent. Assignment is the same deterministic MD5 bucket
    * as [[hashSample]], keyed on the component id: 90/5/5 by bucket
    * ranges, reproducible across runs, engines, and corpus growth (a
    * cluster's split never changes unless the cluster itself merges).
    *
    * Scale shape: one broadcast-or-hash join of the corpus against the
    * cached label table (two longs per doc — built once per corpus
    * snapshot inside [[Dedup.components]]); the bucket is a projection.
    * No extra shuffle beyond the label join. */
  def leakFreeSplit(s: SparkSession, dir: String): DataFrame = {
    val bucket = conv(substring(md5(col("component").cast("string")), 1, 14),
      16, 10).cast("long") % 100
    graft.operators.Dedup.components(s, dir)
      .select(col("doc_id"), col("component"))
      .withColumn("bucket", bucket)
      .withColumn("split",
        when(col("bucket") < 90, "train")
          .when(col("bucket") < 95, "valid")
          .otherwise("test"))
      .select(col("doc_id"), col("component"), col("split"))
      .orderBy(col("doc_id"))
  }

  /** Recursive-CTE labels (the [[Dedup.componentsOracle]] fixpoint) with
    * the same MD5 bucket rule on the component id. */
  val leakFreeSplitOracle: String =
    graft.operators.Dedup.componentsOracle.replace(
      """SELECT doc_id, MIN(comp) AS component, MIN(comp) = doc_id AS is_rep
        |FROM reach GROUP BY doc_id ORDER BY doc_id""".stripMargin,
      """, lab AS (
        |  SELECT doc_id, MIN(comp) AS component FROM reach GROUP BY doc_id
        |)
        |SELECT doc_id, component,
        |  CASE WHEN CAST('0x'||substr(md5(CAST(component AS VARCHAR)),1,14) AS BIGINT) % 100 < 90 THEN 'train'
        |       WHEN CAST('0x'||substr(md5(CAST(component AS VARCHAR)),1,14) AS BIGINT) % 100 < 95 THEN 'valid'
        |       ELSE 'test' END AS split
        |FROM lab ORDER BY doc_id""".stripMargin)

  // ------------------------------- DSIR data selection (importance weights)

  /** DSIR — Data Selection via Importance Resampling (Xie et al. 2023,
    * arXiv:2302.03169): score every raw document by how much more likely
    * its hashed-bigram features are under the TARGET domain's distribution
    * than under the raw pool's, then keep the highest-scoring fraction.
    * The published method estimates log(p_target(f)/p_raw(f)) over hashed
    * n-gram features; this implementation keeps the whole computation in
    * engine-exact integer arithmetic (the [[graft.operators.TextOps.lmScore]]
    * kernel family):
    *
    *  - feature = portable-MD5 of the bigram text mod `buckets` (the
    *    hashed feature space of the paper, default 256);
    *  - per-bucket surprisal under distribution x:
    *    `bits_x(b) = floor(log2((T_x + buckets) DIV (c_x(b) + 1)))` via
    *    `length(bin(..)) - 1` — add-one-smoothed, positive, portable;
    *  - doc score = mean over its bigrams of
    *    `bits_raw(b) - bits_target(b) + 64` in ppm (the +64 shift keeps
    *    the dividend nonnegative: Spark's `DIV` truncates while DuckDB's
    *    `//` floors, so a negative mean would diverge between engines;
    *    the shift is monotone and cancels in ranking).
    *
    * Scale shape: the model is ≤ `buckets` rows built by ONE map-side
    * combined aggregate over the bigram stream and broadcast back; scoring
    * is a broadcast join + per-doc aggregate (one shuffle on doc_id). No
    * all-pairs work anywhere. */

  /** The hashed-bigram stream (doc_id, source, bucket) feeding both DSIR
    * passes. */
  private def dsirGrams(s: SparkSession, dir: String,
      buckets: Int): DataFrame =
    documents(s, dir).select(col("doc_id"), col("source"),
      filter(split(lower(col("text")), "\\s+"), t => t =!= "").as("t"))
      .select(col("doc_id"), col("source"),
        explode(zip_with(
          slice(col("t"), lit(1), greatest(size(col("t")) - 1, lit(0))),
          slice(col("t"), lit(2), greatest(size(col("t")) - 1, lit(0))),
          (a, b) => concat_ws(" ", a, b))).as("g"))
      .select(col("doc_id"), col("source"),
        (conv(substring(md5(col("g")), 1, 14), 16, 10).cast("long")
          % buckets).as("b"))

  /** Pass 1 of DSIR: the ≤`buckets`-row surprisal model
    * (b, bits_raw, bits_tgt) plus the corpus totals (tr, tt) — raw and
    * target counts in ONE map-side-combined aggregate, totals broadcast
    * back. Shared by the batch scorer and the streaming scorer
    * ([[graft.streaming.StreamOps.dsirStream]], which needs the totals to
    * score unseen buckets in-row). */
  def dsirModel(s: SparkSession, dir: String,
      targetSource: String = "src0", buckets: Int = 256): DataFrame = {
    val model = dsirGrams(s, dir, buckets).groupBy(col("b")).agg(
      count(lit(1)).as("cr"),
      sum(when(col("source") === targetSource, 1L).otherwise(0L))
        .as("ct"))
    val tot = model.agg(sum(col("cr")).as("tr"), sum(col("ct")).as("tt"))
    model.crossJoin(broadcast(tot)).select(col("b"),
      (length(bin(expr(s"(tr + $buckets) DIV (cr + 1)"))) - 1)
        .as("bits_raw"),
      (length(bin(expr(s"(tt + $buckets) DIV (ct + 1)"))) - 1)
        .as("bits_tgt"),
      col("tr"), col("tt"))
  }

  def dsirScore(s: SparkSession, dir: String,
      targetSource: String = "src0", buckets: Int = 256): DataFrame =
    graft.SessionCache.persisted(s, dir,
      ("sampling.dsir", targetSource, buckets)) {
        val bits = dsirModel(s, dir, targetSource, buckets)
          .select(col("b"), col("bits_raw"), col("bits_tgt"))
        // every gram's bucket exists in the model by construction → inner
        // join; the result is the persisted STAGING TABLE of the selection
        // step (narrow: three numeric columns per doc) — [[dsirSelect]]
        // reads it twice (histogram + tie-rank) and the gram scoring must
        // not re-run per consumer
        dsirGrams(s, dir, buckets).join(broadcast(bits), Seq("b"))
          .groupBy(col("doc_id")).agg(
            count(lit(1)).cast("int").as("n_grams"),
            sum(col("bits_raw") - col("bits_tgt") + 64).as("shift_sum"))
          .select(col("doc_id"), col("n_grams"),
            expr("shift_sum * 1000000L DIV n_grams").as("score_shift_ppm"))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      }(Seq(_))

  /** DSIR selection: keep the top `keepPpm` fraction of scorable docs by
    * (score desc, doc_id) — the deterministic analog of the paper's
    * Gumbel-top-k resampling step (reproducible across engines and runs,
    * the property every other selector here guarantees).
    *
    * The global top-k is computed WITHOUT a global sort: a doc is selected
    * iff (docs with strictly higher score) + (its doc_id rank within its
    * own score) ≤ quota. The strict-above counts come from a window over
    * the score HISTOGRAM (≤ distinct-integer-scores rows — bounded far
    * below N); the within-score rank is a window partitioned BY score, so
    * the only unpartitioned pass touches the tiny histogram. Docs with no
    * bigrams are unscorable → kept with NULL score, selected = false. */
  def dsirSelect(s: SparkSession, dir: String,
      targetSource: String = "src0", buckets: Int = 256,
      keepPpm: Long = 250000L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val sc = dsirScore(s, dir, targetSource, buckets)
    val hist = sc.groupBy(col("score_shift_ppm")).agg(count(lit(1)).as("cnt"))
    val above = hist
      .withColumn("cum_above",
        coalesce(sum(col("cnt")).over(
          Window.orderBy(col("score_shift_ppm").desc)
            .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("score_shift_ppm"), col("cum_above"))
    val quota = sc.agg(
      expr(s"count(1) * ${keepPpm}L DIV 1000000L").as("quota"))
    val tie = Window.partitionBy(col("score_shift_ppm")).orderBy(col("doc_id"))
    val flagged = sc.join(broadcast(above), Seq("score_shift_ppm"))
      .crossJoin(broadcast(quota))
      .withColumn("rn_tie", row_number().over(tie))
      .select(col("doc_id"), col("n_grams"), col("score_shift_ppm"),
        (col("cum_above") + col("rn_tie") <= col("quota")).as("selected"))
    documents(s, dir).select(col("doc_id"))
      .join(flagged, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_grams"), lit(0)).as("n_grams"),
        col("score_shift_ppm"),
        coalesce(col("selected"), lit(false)).as("selected"))
      .orderBy(col("doc_id"))
  }

  /** Mirror of [[dsirSelect]]: same hashed-bigram model, surprisal bits,
    * and top-fraction rule; the oracle may use the simple global
    * ROW_NUMBER since it never runs at scale — strict-above + tie-rank
    * equals the global (score desc, doc_id) rank by construction. */
  def dsirSelectOracle(targetSource: String = "src0", buckets: Int = 256,
      keepPpm: Long = 250000L): String =
    s"""WITH toks AS (
       |  SELECT doc_id, source,
       |    [x FOR x IN string_split_regex(lower(text), '\\s+') IF x <> ''] AS t
       |  FROM documents
       |), g AS (
       |  SELECT doc_id, source,
       |    CAST('0x'||substr(md5(t[i] || ' ' || t[i + 1]),1,14) AS BIGINT)
       |      % $buckets AS b
       |  FROM toks, LATERAL (SELECT unnest(range(1, len(t))) AS i)
       |  WHERE len(t) >= 2
       |), raw AS (
       |  SELECT b, CAST(COUNT(*) AS BIGINT) AS cr FROM g GROUP BY b
       |), tgt AS (
       |  SELECT b, CAST(COUNT(*) AS BIGINT) AS ct FROM g
       |  WHERE source = '$targetSource' GROUP BY b
       |), tot AS (
       |  SELECT CAST(SUM(cr) AS BIGINT) AS tr,
       |    CAST((SELECT COALESCE(SUM(ct), 0) FROM tgt) AS BIGINT) AS tt
       |  FROM raw
       |), model AS (
       |  SELECT r.b,
       |    length(bin((t2.tr + $buckets) // (r.cr + 1))) - 1 AS bits_raw,
       |    length(bin((t2.tt + $buckets) // (COALESCE(tg.ct, 0) + 1))) - 1
       |      AS bits_tgt
       |  FROM raw r LEFT JOIN tgt tg USING (b) CROSS JOIN tot t2
       |), sc AS (
       |  SELECT g.doc_id, CAST(COUNT(*) AS INTEGER) AS n_grams,
       |    CAST(SUM(bits_raw - bits_tgt + 64) * 1000000 // COUNT(*)
       |      AS BIGINT) AS score_shift_ppm
       |  FROM g JOIN model USING (b) GROUP BY g.doc_id
       |), ranked AS (
       |  SELECT doc_id, n_grams, score_shift_ppm,
       |    ROW_NUMBER() OVER (ORDER BY score_shift_ppm DESC, doc_id) AS rnk,
       |    (SELECT CAST(COUNT(*) AS BIGINT) FROM sc) AS ns
       |  FROM sc
       |)
       |SELECT d.doc_id, COALESCE(r.n_grams, 0) AS n_grams,
       |  r.score_shift_ppm,
       |  COALESCE(r.rnk <= r.ns * $keepPpm // 1000000, FALSE) AS selected
       |FROM documents d LEFT JOIN ranked r USING (doc_id)
       |ORDER BY d.doc_id""".stripMargin
}
