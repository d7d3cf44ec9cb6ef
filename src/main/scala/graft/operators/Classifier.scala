package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.Tables

/** Trained quality classifiers for corpus curation — the "does this page
  * look like a curated source" filter every published pre-training
  * pipeline runs (CCNet/LLaMA train a fastText model on wiki-vs-crawl
  * labels; Gopher and GPT-3 use the same shape with a logistic model).
  *
  * Two models over the same hashed bag-of-words featurization
  * (md5-bucketed unigrams, `dim` buckets):
  *
  *  - [[nbQualityScore]] — naive-Bayes log-odds, ONE aggregation pass to
  *    train (per-bucket class counts), integer fixed-point log2 weights
  *    ([[log2q10Sql]]: 1/1024 resolution, no transcendental anywhere) so
  *    the whole model is reproducible bit-for-bit on any engine and the
  *    gate carries a full DuckDB oracle.
  *  - [[logregTrain]] — distributed logistic regression (batch gradient
  *    descent): each iteration is one corpus pass — margins computed
  *    IN-ROW against the broadcast weight array, gradients folded
  *    map-side to `dim` partial sums. FP weights, so it is spec-verified
  *    (accuracy + loss descent) rather than oracle-hashed.
  *
  * Scale shape (100 TB): training folds the corpus to ≤`dim` rows in one
  * map-side-combined aggregate; the fitted weights are a single dense
  * `Array[Long]` literal (≤16 KB at dim=2048) evaluated O(1) per token
  * via `element_at` INSIDE the scan projection — scoring touches the
  * corpus once with ZERO shuffle, the same in-row contract as
  * [[TextOps.gopherRules]]. No per-doc feature vectors ever materialize.
  */
object Classifier {

  /** Tokens: lowercase whitespace split, empties dropped — the same rule
    * every TextOps operator uses. */
  private def toksCol(c: Column): Column =
    filter(split(lower(c), "\\s+"), t => t =!= "")

  /** Hash bucket of one token: first 24 bits of md5, mod `dim` —
    * portable (md5 + base conversion agree across engines; the
    * `samp_*` gates prove the md5 leg, [[TextOps.lmScore]] the rest). */
  private def bucketCol(w: Column, dim: Int): Column =
    (conv(substring(md5(w), 1, 6), 16, 10).cast("long") % dim).cast("int")

  /** Fixed-point floor-log2 with a linear fractional part, 1/1024
    * resolution: `(bitlen(x)-1)*1024 + x*1024 DIV 2^(bitlen(x)-1) - 1024`
    * for positive x. Pure integer arithmetic — `bin`/`DIV`/`<<` agree
    * between Spark and DuckDB on positives — so driver, executor and
    * oracle all compute the identical value. */
  private[graft] def log2q10(x: Long): Long = {
    require(x > 0, s"log2q10 needs a positive argument, got $x")
    val bl = 64 - java.lang.Long.numberOfLeadingZeros(x)
    (bl - 1) * 1024L + ((x * 1024L) >> (bl - 1)) - 1024L
  }

  /** The same function as DuckDB SQL over an expression `e`. */
  private def log2q10Sql(expr: String): String = {
    val e = s"($expr)" // compound expressions must bind before * and bin()
    s"((length(bin($e)) - 1) * 1024 + ($e * 1024) " +
      s"// (CAST(1 AS BIGINT) << (length(bin($e)) - 1)) - 1024)"
  }

  /** Per-bucket naive-Bayes weights from source labels: docs whose
    * `source` is in `posSources` are the curated class, the rest the
    * crawl class. Returns the dense weight array (index = bucket):
    * `w[b] = (lg(cpos[b]+1) - lg(Npos+dim)) - (lg(cneg[b]+1) - lg(Nneg+dim))`
    * — the add-one-smoothed log-likelihood ratio in q10 units. The
    * collect is ≤ `dim` rows, the same bounded contract as a broadcast
    * build. */
  def nbWeights(docs: DataFrame, posSources: Seq[String],
      dim: Int): Array[Long] = {
    val isPos = col("source").isInCollection(posSources)
    val counts = docs
      .select(col("source"), explode(toksCol(col("text"))).as("w"))
      .select(col("source"), bucketCol(col("w"), dim).as("b"))
      .groupBy(col("b"))
      .agg(sum(when(isPos, 1L).otherwise(0L)).as("cpos"),
        sum(when(isPos, 0L).otherwise(1L)).as("cneg"))
      .collect()
    val cp = new Array[Long](dim)
    val cn = new Array[Long](dim)
    counts.foreach { r =>
      cp(r.getInt(0)) = r.getLong(1)
      cn(r.getInt(0)) = r.getLong(2)
    }
    val kPos = log2q10(cp.sum + dim)
    val kNeg = log2q10(cn.sum + dim)
    Array.tabulate(dim)(i =>
      (log2q10(cp(i) + 1) - kPos) - (log2q10(cn(i) + 1) - kNeg))
  }

  /** Score `docs` against a fitted weight array IN-ROW: the per-token
    * bucket lookup and the sum both live inside the projection
    * (`element_at` on a single array Literal — O(1) per token, one
    * codegen span, zero shuffle). */
  def nbScoreCols(docs: DataFrame, weights: Array[Long],
      dim: Int): DataFrame = {
    val warr = lit(weights)
    docs.select(col("doc_id"), col("source"),
      toksCol(col("text")).as("t"))
      .select(col("doc_id"), col("source"),
        size(col("t")).as("n_toks"),
        aggregate(
          transform(col("t"),
            w => element_at(warr, bucketCol(w, dim) + 1)),
          lit(0L), (acc, x) => acc + x).as("score_q10"))
      .withColumn("keep", col("score_q10") > 0)
  }

  /** The fitted model per (session, dir, labels, dim), cached in
    * [[graft.SessionCache]]: the model is a ≤16 KB array, but TRAINING is
    * a corpus pass — the scoring gate, the PR-curve gate, and repeated
    * bench iterations must not each re-run it (the production shape: a
    * model is fitted once per corpus snapshot and served many times). */
  private[graft] def cachedWeights(s: SparkSession, dir: String,
      posSources: Seq[String], dim: Int): Array[Long] =
    graft.SessionCache(s, dir, ("classifier.weights", posSources, dim))(
      nbWeights(Tables.documents(s, dir), posSources, dim))

  /** Gate: train on the curated-vs-crawl split and score every document.
    * One training aggregate (≤`dim` rows out), then a zero-shuffle
    * scoring pass. */
  def nbQualityScore(s: SparkSession, dir: String,
      posSources: Seq[String] = Seq("src0", "src1"),
      dim: Int = 2048): DataFrame = {
    val docs = Tables.documents(s, dir)
    nbScoreCols(docs, cachedWeights(s, dir, posSources, dim), dim)
      .drop("source")
      .orderBy(col("doc_id"))
  }

  /** The tokenize / hash / count / fixed-point-log2 / score CTE chain in
    * DuckDB SQL — shared by the scoring oracle and the PR-curve oracle. */
  private def nbCtes(dim: Int, pos: String): String =
    s"""WITH toks AS (
       |  SELECT doc_id, source,
       |    [x FOR x IN string_split_regex(lower(text), '\\s+') IF x <> ''] AS t
       |  FROM documents
       |), tok AS (
       |  SELECT doc_id, source,
       |    CAST(CAST('0x' || substr(md5(w), 1, 6) AS BIGINT) % $dim AS INT) AS b
       |  FROM (SELECT doc_id, source, unnest(t) AS w FROM toks)
       |), counts AS (
       |  SELECT b,
       |    CAST(SUM(CASE WHEN source IN $pos THEN 1 ELSE 0 END) AS BIGINT) AS cpos,
       |    CAST(SUM(CASE WHEN source IN $pos THEN 0 ELSE 1 END) AS BIGINT) AS cneg
       |  FROM tok GROUP BY b
       |), tot AS (
       |  SELECT CAST(SUM(cpos) + $dim AS BIGINT) AS npos,
       |    CAST(SUM(cneg) + $dim AS BIGINT) AS nneg
       |  FROM counts
       |), wt AS (
       |  SELECT b,
       |    (${log2q10Sql("cpos + 1")} - ${log2q10Sql("npos")})
       |      - (${log2q10Sql("cneg + 1")} - ${log2q10Sql("nneg")}) AS w
       |  FROM counts, tot
       |), scored AS (
       |  SELECT tok.doc_id, CAST(SUM(wt.w) AS BIGINT) AS score
       |  FROM tok JOIN wt USING (b) GROUP BY tok.doc_id
       |)""".stripMargin

  /** Mirror of [[nbQualityScore]] in DuckDB SQL: same tokenize / hash /
    * count / fixed-point-log2 / score chain, integer end to end. */
  val nbQualityOracle: String =
    nbCtes(2048, "('src0', 'src1')") +
      """
        |SELECT t.doc_id, CAST(len(t.t) AS INT) AS n_toks,
        |  CAST(COALESCE(s.score, 0) AS BIGINT) AS score_q10,
        |  COALESCE(s.score, 0) > 0 AS keep
        |FROM toks t LEFT JOIN scored s ON t.doc_id = s.doc_id
        |ORDER BY t.doc_id""".stripMargin

  /** Operating-point selection for the fitted NB model: the
    * precision/recall curve over a grid of PER-TOKEN score thresholds —
    * the table a pipeline owner reads before choosing the keep cut
    * (CCNet keeps the top third; GPT-3's filter was tuned the same way).
    * Length-normalized thresholding (`score_q10 > t · n_toks`) is a
    * multiply-compare, NOT a division — exact integer semantics on both
    * engines even for negative scores, where floor-vs-truncate division
    * would diverge.
    *
    * Scale shape: scoring is the same zero-shuffle in-row pass as
    * [[nbQualityScore]]; the whole curve then folds in ONE
    * map-side-combined aggregate (4·|grid| conditional counters → a
    * single row), unpivoted driver-side by `stack`. No per-threshold
    * corpus pass, no explode — the corpus is read exactly once
    * regardless of grid size. */
  def nbPrCurve(s: SparkSession, dir: String,
      posSources: Seq[String] = Seq("src0", "src1"), dim: Int = 2048,
      thresholds: Seq[Long] =
        Seq(-700L, -680L, -660L, -640L, -620L, -600L, -580L, -560L))
      : DataFrame = {
    val docs = Tables.documents(s, dir)
    val scored = nbScoreCols(docs,
        cachedWeights(s, dir, posSources, dim), dim)
      .withColumn("pos", col("source").isInCollection(posSources))
    val aggs = thresholds.zipWithIndex.flatMap { case (t, i) =>
      val pred = col("score_q10") > col("n_toks").cast("long") * lit(t)
      Seq(
        sum(when(pred && col("pos"), 1L).otherwise(0L)).as(s"tp_$i"),
        sum(when(pred && !col("pos"), 1L).otherwise(0L)).as(s"fp_$i"),
        sum(when(!pred && col("pos"), 1L).otherwise(0L)).as(s"fn_$i"),
        sum(when(!pred && !col("pos"), 1L).otherwise(0L)).as(s"tn_$i"))
    }
    val one = scored.agg(aggs.head, aggs.tail: _*)
    val stackArgs = thresholds.zipWithIndex
      .map { case (t, i) => s"${t}L, tp_$i, fp_$i, fn_$i, tn_$i" }
      .mkString(", ")
    one.select(expr(s"stack(${thresholds.size}, $stackArgs)")
        .as(Seq("thr_q10", "tp", "fp", "fn", "tn")))
      .select(col("thr_q10"), col("tp"), col("fp"), col("fn"), col("tn"),
        when(col("tp") + col("fp") > 0,
          expr("tp * 1000000L DIV (tp + fp)")).as("precision_ppm"),
        when(col("tp") + col("fn") > 0,
          expr("tp * 1000000L DIV (tp + fn)")).as("recall_ppm"))
      .orderBy(col("thr_q10"))
  }

  /** The PR curve in DuckDB SQL off the same scored CTE chain. */
  val nbPrCurveOracle: String = {
    val grid = "[-700, -680, -660, -640, -620, -600, -580, -560]"
    nbCtes(2048, "('src0', 'src1')") +
      s""", final AS (
         |  SELECT t.doc_id, t.source IN ('src0', 'src1') AS pos,
         |    CAST(len(t.t) AS BIGINT) AS n_toks,
         |    CAST(COALESCE(s.score, 0) AS BIGINT) AS score_q10
         |  FROM toks t LEFT JOIN scored s ON t.doc_id = s.doc_id
         |), thr AS (
         |  SELECT CAST(unnest($grid) AS BIGINT) AS thr_q10
         |), cm AS (
         |  SELECT thr_q10,
         |    CAST(SUM(CASE WHEN score_q10 > thr_q10 * n_toks AND pos
         |      THEN 1 ELSE 0 END) AS BIGINT) AS tp,
         |    CAST(SUM(CASE WHEN score_q10 > thr_q10 * n_toks AND NOT pos
         |      THEN 1 ELSE 0 END) AS BIGINT) AS fp,
         |    CAST(SUM(CASE WHEN score_q10 <= thr_q10 * n_toks AND pos
         |      THEN 1 ELSE 0 END) AS BIGINT) AS fn,
         |    CAST(SUM(CASE WHEN score_q10 <= thr_q10 * n_toks AND NOT pos
         |      THEN 1 ELSE 0 END) AS BIGINT) AS tn
         |  FROM final, thr GROUP BY thr_q10
         |)
         |SELECT thr_q10, tp, fp, fn, tn,
         |  CAST(CASE WHEN tp + fp > 0
         |    THEN tp * 1000000 // (tp + fp) END AS BIGINT) AS precision_ppm,
         |  CAST(CASE WHEN tp + fn > 0
         |    THEN tp * 1000000 // (tp + fn) END AS BIGINT) AS recall_ppm
         |FROM cm ORDER BY thr_q10""".stripMargin
  }

  // ---- distributed logistic regression (spec-verified trainer) -------

  /** One featurization pass: doc_id, FP label, bucket array (in-row). */
  private def featurize(docs: DataFrame, labelCol: String,
      textCol: String, dim: Int): DataFrame =
    docs.select(col("doc_id"), col(labelCol).cast("double").as("y"),
      transform(toksCol(col(textCol)),
        w => bucketCol(w, dim)).as("bs"))

  /** Batch-gradient-descent logistic regression over hashed token
    * counts. Each iteration: margins in-row against the broadcast
    * weight literal, `sigmoid(m) - y` residuals exploded per token and
    * folded map-side to ≤`dim` gradient rows — one corpus pass, one
    * bounded shuffle, nothing per-doc ever collected. Returns
    * (weights, per-iteration mean log-loss). */
  def logregTrain(docs: DataFrame, labelCol: String,
      textCol: String = "text", dim: Int = 256, iters: Int = 8,
      lr: Double = 0.5): (Array[Double], Seq[Double]) = {
    val feats = featurize(docs, labelCol, textCol, dim)
      .filter(size(col("bs")) > 0)
      .cache()
    val n = feats.count().toDouble
    val w = new Array[Double](dim)
    val losses = scala.collection.mutable.ArrayBuffer.empty[Double]
    try {
      for (_ <- 1 to iters) {
        val warr = lit(w)
        // margin and residual in the projection; per-token gradient
        // contributions shuffled pre-combined to dim rows
        val resid = feats.select(col("y"), col("bs"),
          aggregate(transform(col("bs"),
              b => element_at(warr, b + 1)),
            lit(0.0), (acc, x) => acc + x).as("m"))
          .select(col("y"), col("bs"),
            (lit(1.0) / (lit(1.0) + exp(-col("m")))).as("p"))
        val step = resid
          .select(col("y"), col("p"), explode(col("bs")).as("b"))
          .groupBy(col("b"))
          .agg(sum(col("p") - col("y")).as("g"))
          .collect()
        val loss = resid.select(
          avg(when(col("y") > 0.5, -log(greatest(col("p"), lit(1e-12))))
            .otherwise(-log(greatest(lit(1.0) - col("p"), lit(1e-12)))))
            .as("l"))
          .head.getDouble(0)
        losses += loss
        step.foreach(r => w(r.getInt(0)) -= lr * r.getDouble(1) / n)
      }
    } finally feats.unpersist()
    (w, losses.toSeq)
  }

  /** Score with a fitted logistic model: in-row margin, keep = margin
    * above `threshold` — same zero-shuffle serving shape as the NB
    * path. */
  def logregScore(docs: DataFrame, weights: Array[Double], dim: Int,
      textCol: String = "text", threshold: Double = 0.0): DataFrame = {
    val warr = lit(weights)
    docs.withColumn("margin",
        aggregate(transform(toksCol(col(textCol)),
            w => element_at(warr, bucketCol(w, dim) + 1)),
          lit(0.0), (acc, x) => acc + x))
      .withColumn("keep", col("margin") > threshold)
  }
}
