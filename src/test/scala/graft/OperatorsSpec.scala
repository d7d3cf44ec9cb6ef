package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Smoke + semantics tests for every SparkEntry query at sf0.001. */
class OperatorsSpec extends AnyFunSuite with BeforeAndAfterAll {

  val dir = "/root/testdata/sf0.001"

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  test("entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every query key has distinct results and every oracle key exists") {
    val qs = SparkEntry.queries
    assert(qs.nonEmpty)
    SparkEntry.oracleSql.keys.foreach(k =>
      assert(qs.contains(k), s"oracle '$k' has no query"))
  }

  // gates whose CONTRACT is an empty result (the zero-row boundary play,
  // reference record_convert.rs:127-129) — the smoke asserts they run and
  // keep their declared schema instead
  private val emptyByDesign = Set("fed_duckdb_zero_rows", "fed_jdbc_zero_rows")

  for ((name, fn) <- SparkEntry.queries) {
    test(s"query $name runs and returns rows at sf0.001") {
      val df = fn(spark, dir)
      val n = df.count()
      if (emptyByDesign(name))
        assert(n == 0 && df.schema.nonEmpty, s"$name should be empty-by-design")
      else assert(n > 0, s"$name returned no rows")
    }
  }

  test("hash kernels codegen: generated path compiles and matches interpreted eval") {
    // spark.sql.codegen.fallback=false turns a codegen compile failure into
    // an error instead of a silent interpreted fallback, so this test fails
    // loudly if any kernel's doGenCode emits bad Java
    import org.apache.spark.sql.functions.{col, array, lit}
    import graft.functions.{PortableHashExprs => P, TextHashExprs => T}
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try {
      val df = spark.createDataFrame(Seq(
        ("the quick brown fox jumps over the lazy dog", 0),
        ("pack my box with five dozen liquor jugs", 1),
        ("", 2))).toDF("text", "id")
        .withColumn("vec", array((0 until 8).map(i => lit(i * 0.5 - 2.0)): _*))
      val out = df.select(
        P.portable_minhash(col("text"), 8, 3).as("mh"),
        P.portable_simhash32(col("text")).as("sh"),
        P.portable_shingles(col("text"), 3).as("sg"),
        P.portable_sign_sketch(col("vec"), 8).as("ss"),
        P.portable_sign_bands(col("vec"), 2, 4, 4).as("sb"),
        T.minhash_signature(col("text"), 8, 3).as("tm"),
        T.simhash64(col("text")).as("t64"),
        T.rolling_hash64(col("text")).as("rh"),
        T.token_repetition(col("text")).as("tr")).collect()
      // cross-check one row against direct interpreted eval
      val lit0 = org.apache.spark.sql.catalyst.expressions.Literal(
        "the quick brown fox jumps over the lazy dog")
      val interp = P.PortableMinHash(lit0, 8, 3).eval(null)
        .asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
        .toLongArray().toSeq
      assert(out(0).getSeq[Long](0) == interp)
      assert(out(0).getLong(1) ==
        P.PortableSimHash32(lit0).eval(null).asInstanceOf[Long])
      assert(out(0).getLong(7) ==
        T.RollingHash64(lit0).eval(null).asInstanceOf[Long])
      // "the" appears twice in 9 tokens; no bigram repeats
      assert(out(0).getStruct(8).getInt(0) == 9 &&
        out(0).getStruct(8).getInt(1) == 8 &&
        out(0).getStruct(8).getInt(2) == 2 &&
        out(0).getStruct(8).getInt(3) == 1)
      // sig_agreement on the two minhash columns
      val pairs = df.select(P.sig_agreement(
        P.portable_minhash(col("text"), 8, 3),
        P.portable_minhash(col("text"), 8, 3)).as("agree")).collect()
      assert(pairs.forall(_.getInt(0) == 8))
    } finally spark.conf.unset("spark.sql.codegen.fallback")
  }

  test("q1 aggregates match a direct SQL computation") {
    graft.sources.Tables.registerAll(spark, dir)
    val viaSql = spark.sql(
      """SELECT l_returnflag, l_linestatus, count(*) AS c
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin).collect()
    val viaDf = operators.Relational.q1PricingSummary(spark, dir)
      .select("l_returnflag", "l_linestatus", "count_order").collect()
    assert(viaSql.map(r => (r.getString(0), r.getString(1), r.getLong(2)))
      .sameElements(viaDf.map(r => (r.getString(0), r.getString(1), r.getLong(2)))))
  }

  test("IVF: one cell per vector, and probing scans only a corpus fraction") {
    val n = graft.sources.Tables.embeddings(spark, dir).count()
    val assigned = operators.Similarity.ivfAssignments(spark, dir)
      .select("vec_id", "cell").collect()
    assert(assigned.length == n, "every vector must land in exactly one cell")
    assert(assigned.map(_.getLong(0)).distinct.length == n)
    val cellSizes = assigned.groupBy(_.getLong(1)).map(_._2.length.toLong)
    assert(cellSizes.sum == n)
    // the nprobe largest cells must still be a strict subset of the corpus
    // — otherwise IVF probing scans everything and prunes nothing
    val worstProbe = cellSizes.toSeq.sorted.reverse
      .take(operators.Similarity.IvfProbes).sum
    assert(worstProbe < n,
      s"probing $worstProbe of $n rows — IVF must prune the search")
  }

  test("best_ivf_cell kernel is bit-equal to the aggregate/cosine HOF fold " +
      "on every corpus vector") {
    import org.apache.spark.sql.functions._
    val cents = operators.Similarity.ivfIndexCentroids(spark, dir)
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
      .sortBy(_._1).toSeq
    val centsLit = typedlit(cents.map { case (id, a) => (id, a.toSeq) })
    val hof = aggregate(
      centsLit,
      struct(lit(Double.NegativeInfinity).as("best"), lit(-1L).as("cell")),
      (acc, c) => {
        val cs = operators.Similarity.cosine(col("embedding"),
          c.getField("_2"))
        when(cs > acc.getField("best"),
          struct(cs.as("best"), c.getField("_1").as("cell"))).otherwise(acc)
      }).getField("cell")
    val kern = graft.functions.VectorExprs.best_ivf_cell(
      col("embedding").cast("array<double>"), cents)
    val diff = graft.sources.Tables.embeddings(spark, dir)
      .select(col("vec_id"), hof.as("h"), kern.as("k"))
      .filter(col("h") =!= col("k") ||
        col("h").isNull =!= col("k").isNull)
      .count()
    assert(diff == 0, s"$diff vectors assigned differently")
  }

  test("LSH bucket cap refines oversized buckets (candidates shrink, never grow)") {
    val uncapped = operators.Similarity.lshPairs(spark, dir, bucketCap = Int.MaxValue)
      .select("a_id", "b_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val capped = operators.Similarity.lshPairs(spark, dir, bucketCap = 1)
      .select("a_id", "b_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(capped.subsetOf(uncapped), "refinement must only subdivide buckets")
    assert(capped.size < uncapped.size,
      "cap=1 must split at least one multi-occupant bucket")
  }

  /** Ids of the RDDs persisted in this context now. The cache tests
    * compare id sets, not counts: other RDDs of the shared context come
    * and go meanwhile (an earlier test's non-blocking unpersist lands
    * late), so a count can move for reasons of its own. */
  private def persistedIds(): Set[Int] =
    spark.sparkContext.getPersistentRDDs.keySet.toSet

  test("dedup signature cache releases storage on demand and rebuilds") {
    SessionCache.release(dir)
    val base = persistedIds()
    // collect, not count: a count needs no candidate pair (the left join
    // to the pairs drops out), so it never reads the signatures
    operators.Dedup.minhash(spark, dir).collect() // materializes the cache
    val built = persistedIds() -- base
    assert(built.nonEmpty, "signature staging table should be persisted")
    SessionCache.release(dir)
    assert((persistedIds() intersect built).isEmpty,
      "release must unpersist the staging table")
    // transparent rebuild after release
    assert(operators.Dedup.minhash(spark, dir).count() > 0)
    SessionCache.release(dir)
  }

  test("ivf index cache persists once, releases storage on demand, rebuilds") {
    SessionCache.release(dir)
    val base = persistedIds()
    val first = operators.Similarity.ivfTopK(spark, dir).collect()
    val built = persistedIds() -- base
    assert(built.nonEmpty,
      "ivf index (centroids + inverted file) should be persisted")
    val cached = persistedIds()
    // a second probe reuses the index: no new persisted tables
    val again = operators.Similarity.ivfTopK(spark, dir).collect()
    assert((persistedIds() -- cached).isEmpty,
      "second probe must reuse the cached index, not rebuild it")
    assert(again.toSeq == first.toSeq)
    SessionCache.release(dir)
    assert((persistedIds() intersect built).isEmpty,
      "release must unpersist the index")
    // transparent rebuild after release
    assert(operators.Similarity.ivfTopK(spark, dir).count() > 0)
    SessionCache.release(dir)
  }

  test("component label cache persists once, releases storage, rebuilds") {
    SessionCache.release(dir)
    // the signatures the candidate pairs come from are a cache of their
    // own: materialize them first, so the build adds only the labels
    operators.Dedup.minhash(spark, dir).collect()
    val base = persistedIds()
    val first = operators.Dedup.components(spark, dir).collect()
    val built = persistedIds() -- base
    assert(built.nonEmpty, "converged label table should be persisted")
    val cached = persistedIds()
    // a second read reuses the labels: no new persisted tables, no new loop
    val again = operators.Dedup.components(spark, dir).collect()
    assert((persistedIds() -- cached).isEmpty,
      "second read must reuse the cached labels, not re-run the fixpoint")
    assert(again.toSeq == first.toSeq)
    SessionCache.release(dir)
    assert((persistedIds() intersect built).isEmpty,
      "release must unpersist the label table")
    assert(operators.Dedup.components(spark, dir).count() > 0)
    SessionCache.release(dir)
  }

  test("quantized code table caches once, releases, rebuilds") {
    SessionCache.release(dir)
    val base = persistedIds()
    val first = operators.Similarity.quantizedTopK(spark, dir).collect()
    val built = persistedIds() -- base
    assert(built.nonEmpty, "code table should be persisted")
    val cached = persistedIds()
    // rerank reuses the same stored codes: no new persisted tables
    operators.Similarity.rerankTopK(spark, dir).collect()
    assert((persistedIds() -- cached).isEmpty,
      "rerank must reuse the cached code table")
    assert(operators.Similarity.quantizedTopK(spark, dir)
      .collect().toSeq == first.toSeq)
    SessionCache.release(dir)
    assert((persistedIds() intersect built).isEmpty,
      "release must unpersist the code table")
    assert(operators.Similarity.quantizedTopK(spark, dir).count() > 0)
    SessionCache.release(dir)
  }

  test("lsh corpus count runs one job per (session, dir)") {
    SessionCache.release(dir)
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    // parquet footer reads also run driver jobs; count only the tagged
    // corpus-count job
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (Option(js.properties)
            .flatMap(p => Option(p.getProperty("spark.job.description")))
            .exists(_.contains("graft-corpus-count")))
          jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      // listener delivery is async: poll until the counter stops moving
      def settled(): Int = {
        var prev = -1
        var cur = jobs.get()
        while (cur != prev) { Thread.sleep(200); prev = cur; cur = jobs.get() }
        cur
      }
      // building the pair pipeline sizes the key width from the corpus
      // count; repeated builds must reuse the keyed cache, not re-count
      operators.Similarity.lshPairs(spark, dir)
      // AQE splits one count() action into several tagged jobs; the
      // invariant is that repeats add ZERO more, not the absolute number
      val afterFirst = settled()
      assert(afterFirst >= 1, "first build should run the count job")
      operators.Similarity.lshPairs(spark, dir)
      operators.Similarity.lshPairs(spark, dir)
      assert(settled() == afterFirst,
        s"repeated builds re-counted: first=$afterFirst now=${jobs.get()}")
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("dedup_exact keeps every distinct document") {
    val docs = graft.sources.Tables.documents(spark, dir)
    val kept = operators.Dedup.exact(spark, dir)
    assert(kept.count() ==
      docs.select("text").distinct().count())
  }

  test("minhash signature is 64-wide and deterministic") {
    import org.apache.spark.sql.functions._
    val sigs = graft.sources.Tables.documents(spark, dir)
      .select(operators.Dedup.minhashSignature(col("text")).as("sig"))
      .limit(5).collect()
    sigs.foreach(r => assert(r.getSeq[Long](0).length == 64))
    val sigs2 = graft.sources.Tables.documents(spark, dir)
      .select(operators.Dedup.minhashSignature(col("text")).as("sig"))
      .limit(5).collect()
    assert(sigs.map(_.getSeq[Long](0)).toSeq == sigs2.map(_.getSeq[Long](0)).toSeq)
  }

  test("identical texts collide on minhash + simhash, distinct texts do not all") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val df = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again"),
      (2L, "the quick brown fox jumps over the lazy dog again and again"),
      (3L, "completely different content about spark federation engines")
    ).toDF("doc_id", "text")
    val sig = df.select($"doc_id",
      operators.Dedup.minhashSignature($"text").as("sig"),
      operators.Dedup.simhash32($"text").as("sim")).collect()
      .map(r => r.getLong(0) -> (r.getSeq[Long](1), r.getLong(2))).toMap
    assert(sig(1L)._1 == sig(2L)._1, "identical docs must share minhash")
    assert(sig(1L)._2 == sig(2L)._2, "identical docs must share simhash")
    assert(sig(1L)._1 != sig(3L)._1, "distinct docs must differ")
  }

  test("cosine similarity of a vector with itself is 1") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val df = Seq((Array(1.0f, 2.0f, 3.0f), Array(1.0f, 2.0f, 3.0f)))
      .toDF("a", "b")
    val c = df.select(operators.Similarity.cosine($"a", $"b")).head().getDouble(0)
    assert(math.abs(c - 1.0) < 1e-12)
  }

  test("sessionize splits on 30min gaps") {
    val sess = operators.EventOps.sessionize(spark, dir)
    // session count >= user count; no session longer than the data range
    val users = graft.sources.Tables.events(spark, dir)
      .select("user_id").distinct().count()
    assert(sess.count() >= users)
  }

  test("asof join never reports a signup after the purchase") {
    import org.apache.spark.sql.functions._
    val bad = operators.EventOps.asofPurchaseSignup(spark, dir)
      .filter(col("last_signup_ts") >= col("purchase_ts")).count()
    assert(bad == 0)
  }

  test("IVF ANN recall vs exact brute force is high, not just self-consistent") {
    def topSets(df: org.apache.spark.sql.DataFrame): Map[Long, Set[Long]] =
      df.collect().groupBy(_.getLong(0))
        .map { case (q, rows) => q -> rows.map(_.getLong(2)).toSet }
    val exact = topSets(operators.Similarity.bruteForceTopK(spark, dir))
    val approx = topSets(operators.Similarity.ivfTopK(spark, dir))
    val recalls = exact.map { case (q, want) =>
      want.intersect(approx.getOrElse(q, Set.empty)).size.toDouble / want.size
    }.toSeq
    val mean = recalls.sum / recalls.size
    // measured 0.90 mean / 0.80 min on this data; assert with margin so a
    // broken cell assignment or probe selection fails, noise does not
    assert(mean >= 0.7, s"mean IVF recall $mean < 0.7 ($recalls)")
    assert(recalls.min >= 0.5, s"worst-query IVF recall ${recalls.min} < 0.5")
  }

  test("stream-stream interval join equals the batch join") {
    import org.apache.spark.sql.functions._
    val streamed = graft.streaming.StreamOps
      .runIntervalJoinToMemory(spark, dir, "ops_stream_ij")
      .collect().map(_.toString).sorted.toSeq
    val e = graft.sources.Tables.events(spark, dir)
    val p = e.filter(col("event_type") === "purchase")
      .select(col("event_id").as("p_id"), col("user_id"), col("ts").as("p_ts"))
    val s2 = e.filter(col("event_type") === "signup")
      .select(col("event_id").as("s_id"), col("user_id").as("s_user"),
        col("ts").as("s_ts"))
    val batch = p.join(s2, col("user_id") === col("s_user") &&
        col("p_ts") >= col("s_ts") &&
        col("p_ts") < col("s_ts") + expr("INTERVAL '1' HOUR"))
      .select(col("p_id"), col("s_id"), col("user_id"),
        col("p_ts").cast("timestamp_ntz").as("purchase_ts"))
      .collect().map(_.toString).sorted.toSeq
    assert(streamed.nonEmpty && streamed == batch)
  }

  test("bucketed range join equals the direct all-pairs inequality join") {
    import org.apache.spark.sql.functions._
    val e = graft.sources.Tables.events(spark, dir)
    val wins = e.filter(col("event_type") === "signup")
      .select(col("event_id").as("window_id"), col("ts").as("w_start"),
        (col("ts") + expr("INTERVAL '1' HOUR")).as("w_end"))
    val pts = e.filter(col("event_type") === "purchase")
      .select(col("event_id").as("p_id"), col("ts").as("p_ts"), col("value"))
    val direct = wins.join(pts,
        col("p_ts") >= col("w_start") && col("p_ts") < col("w_end"), "left")
      .groupBy(col("window_id"))
      .agg(count(col("p_id")).as("n_purchases"),
        min(col("value")).as("min_value"), max(col("value")).as("max_value"))
      .orderBy(col("window_id"))
      .collect().toSeq
    // salts > 1 exercises the skew-spreading path too
    val bucketed = operators.EventOps
      .rangeJoinWindowCounts(spark, dir, salts = 3).collect().toSeq
    assert(bucketed == direct)
    assert(bucketed.exists(_.getLong(1) > 0), "no window matched anything")
  }

  test("masking removes every deny-list hit and nothing else") {
    import spark.implicits._
    val masked = operators.TextOps.maskText(spark, dir)
    // post-masking, the deny pattern never matches the masked text: prove
    // it by masking a reconstructable sample and re-scanning
    val probe = Seq(
      (1L, "the customer bought a vector of value"),
      (2L, "no hits here"),
      (3L, "customers are not customer-only vectors vector")).toDF("doc_id", "text")
    val out = probe.select(
      org.apache.spark.sql.functions.regexp_replace(
        org.apache.spark.sql.functions.col("text"),
        operators.TextOps.denyPattern, "[MASKED]").as("m"))
      .collect().map(_.getString(0))
    assert(out(0) == "the [MASKED] bought a [MASKED] of value")
    assert(out(1) == "no hits here")
    // \b guards: 'customers', 'customer-only' prefix stays, suffixed word
    // 'vectors' stays, bare 'vector' masks
    assert(out(2) == "customers are not [MASKED]-only vectors [MASKED]")
    // and on the corpus: n_masked sums to the report's deny total
    val totalMasked = masked.agg(
      org.apache.spark.sql.functions.sum("n_masked")).collect()(0).getLong(0)
    val reportDeny = operators.TextOps.piiReport(spark, dir).agg(
      org.apache.spark.sql.functions.sum("n_deny")).collect()(0).getLong(0)
    assert(totalMasked == reportDeny && totalMasked > 0,
      s"masked=$totalMasked reportDeny=$reportDeny")
  }

  test("chunks overlap by stride and reassemble the document") {
    import org.apache.spark.sql.functions._
    // with width=2*stride, the even-position halves of consecutive chunks
    // tile the token stream: chunk starts are exactly 0, stride, 2*stride…
    val df = operators.TextOps.chunk(spark, dir, width = 32, stride = 16)
    val perDoc = df.groupBy("doc_id")
      .agg(count(lit(1)).as("n_chunks"), max("chunk_id").as("max_id"),
        sum(when(col("n_tokens") === 32, 1).otherwise(0)).as("full"))
      .collect()
    assert(perDoc.nonEmpty)
    perDoc.foreach { r => // (doc_id, n_chunks, max_id, full)
      assert(r.getInt(2).toLong == r.getLong(1) - 1,
        s"chunk_ids must be dense 0..n-1: $r")
    }
    // every chunk except possibly the trailing ≤2 is full-width
    val nonFull = df.filter(col("n_tokens") =!= 32)
      .groupBy("doc_id").count().collect()
    assert(nonFull.forall(_.getLong(1) <= 2),
      "only trailing chunks may be short")
  }

  test("packed sequences tile each shard's token stream exactly") {
    import org.apache.spark.sql.functions._
    val df = operators.Packing.packSequences(spark, dir).cache()
    try {
      // within a shard, consecutive docs abut: tok_start = prev tok_end
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("shard").orderBy("doc_id")
      val gaps = df
        .withColumn("prev_end",
          lag(col("tok_start") + col("n_tokens"), 1, 0L).over(w))
        .filter(col("tok_start") =!= col("prev_end")).count()
      assert(gaps == 0, "packing must leave no gaps or overlaps")
      // every token lands in exactly one sequence: per shard, the max
      // seq_last + 1 sequences of 64 cover exactly ceil(total/64)
      val perShard = df.groupBy("shard")
        .agg(sum("n_tokens").as("t"), max("seq_last").as("last"))
        .collect()
      assert(perShard.length > 1, "multiple shards expected")
      perShard.foreach { r =>
        assert(r.getLong(2) == (r.getLong(1) - 1) / 64, s"shard cover: $r")
      }
      // stats agree with the per-doc view
      val st = operators.Packing.packStats(spark, dir)
        .agg(sum("n_docs"), sum("n_tokens")).collect()(0)
      val tot = df.agg(count(lit(1)), sum("n_tokens")).collect()(0)
      assert(st.getLong(0) == tot.getLong(0) && st.getLong(1) == tot.getLong(1))
    } finally df.unpersist()
  }

  test("packed-shard writer: written files tile shards with zero " +
      "gaps/overlaps, bitwise content") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val seqLen = 5
    val docs = graft.sources.Tables.documents(spark, dir).limit(200)
    val ids = transform(split(trim(col("text")), "\\s+"),
      w => conv(substring(md5(w), 1, 7), 16, 10).cast("int"))
    val out = java.nio.file.Files
      .createTempDirectory("packw").toString
    operators.Packing.packWrite(
      operators.Packing.packTokens(docs, ids, seqLen, nShards = 4), out)
    val back = spark.read.parquet(out)
      .select(col("shard").cast("long"), col("seq_id"), col("ids"))
      .as[(Long, Long, Array[Int])].collect()
      .groupBy(_._1).view.mapValues(_.sortBy(_._2)).toMap

    // independent driver-side recompute of each shard's id stream
    val docRows = docs.select(operators.Packing.shardOf(4).as("shard"),
        col("doc_id").cast("long"), ids.as("ids"))
      .as[(Long, Long, Array[Int])].collect()
    val want = docRows.groupBy(_._1).view.mapValues { rs =>
      rs.sortBy(_._2).flatMap(_._3) }.toMap

    assert(back.keySet == want.keySet, "shard sets differ")
    for ((shard, seqs) <- back) {
      // contiguous ids from 0, full blocks everywhere but the tail
      assert(seqs.map(_._2).toSeq == (0L until seqs.length.toLong),
        s"shard $shard seq ids not contiguous")
      seqs.dropRight(1).foreach { case (_, sid, arr) =>
        assert(arr.length == seqLen, s"short non-tail seq $shard/$sid") }
      assert(seqs.last._3.length <= seqLen && seqs.last._3.nonEmpty)
      // concatenation reproduces the shard stream BITWISE — any gap,
      // overlap, reorder, or corruption fails here
      assert(seqs.flatMap(_._3).toSeq == want(shard).toSeq,
        s"shard $shard stream mismatch")
    }

    // BPE leg: the PRODUCTION tokenizer's ids survive the writer the
    // same way (codec ids, not hash ids)
    val (merges, _) = operators.TextOps.bpeTrainOf(docs, 30)
    val codec = new graft.functions.BpeCodec(
      merges.map(m => m.left + " " + m.right).toArray)
    val bpeIds = udf((t: String) => codec.idsText(t))
    val out2 = java.nio.file.Files
      .createTempDirectory("packb").toString
    operators.Packing.packWrite(
      operators.Packing.packTokens(docs, bpeIds(col("text")),
        seqLen = 64, nShards = 4), out2)
    val back2 = spark.read.parquet(out2)
      .select(col("shard").cast("long"), col("seq_id"), col("ids"))
      .as[(Long, Long, Array[Int])].collect()
      .groupBy(_._1).view.mapValues(_.sortBy(_._2)).toMap
    val texts = docs.select(operators.Packing.shardOf(4).as("shard"),
        col("doc_id").cast("long"), col("text"))
      .as[(Long, Long, String)].collect()
      .groupBy(_._1).view.mapValues(_.sortBy(_._2)).toMap
    for ((shard, seqs) <- back2) {
      assert(seqs.map(_._2).toSeq == (0L until seqs.length.toLong))
      // stream equals the concatenated codec encoding in doc order
      val wantStream = texts(shard).flatMap(t => codec.idsText(t._3))
      assert(seqs.flatMap(_._3).toSeq == wantStream.toSeq,
        s"BPE shard $shard stream mismatch")
    }
  }

  test("bm25 ranks saturating tf with idf weighting, integer-exact") {
    import org.apache.spark.sql.functions._
    val df = operators.TextOps.bm25(spark, dir, k = 20)
    val rows = df.collect()
    assert(rows.nonEmpty && rows.length <= 20)
    // ranks are dense 1..n and scores non-increasing
    rows.zipWithIndex.foreach { case (r, i) => assert(r.getInt(0) == i + 1) }
    val scores = rows.map(_.getLong(3))
    assert(scores.zip(scores.tail).forall { case (a, b) => a >= b })
    // every returned doc matches at least one query term
    assert(rows.forall(r => r.getLong(4) + r.getLong(5) + r.getLong(6) > 0))
    // rarer term outweighs a commoner one at equal tf: compute the
    // per-term contribution of a synthetic doc via the same operator on
    // a corpus where 'spark' is rarer than 'customer'
    val stats = operators.TextOps.bm25(spark, dir, k = 1000)
      .agg(sum(when(col("tf_customer") > 0, 1).otherwise(0)),
        sum(when(col("tf_spark") > 0, 1).otherwise(0))).collect()(0)
    assert(stats.getLong(0) > 0 && stats.getLong(1) > 0)
  }

  test("mixture rates are feasible, capped, and tight on the binding stratum") {
    import org.apache.spark.sql.functions._
    val m = operators.Sampling.mixture(spark, dir).collect()
    assert(m.length == operators.Sampling.mixtureWeights.size)
    m.foreach { r => // lang, n_total, w_ppm, quota, rate_bp, n_sampled
      assert(r.getLong(4) <= 10000L, s"rate over 100%: $r")
      assert(r.getLong(3) <= r.getLong(1), s"quota exceeds stratum: $r")
      assert(r.getLong(5) <= r.getLong(1), s"sampled exceeds stratum: $r")
    }
    // the binding stratum is taken (nearly) whole: floor losses cost at
    // most ~2 parts per stratum row at tiny n, so 98% is the safe bar
    assert(m.map(_.getLong(4)).max >= 9800L,
      s"no stratum near 100%: ${m.mkString(";")}")
    // realized counts track quotas (MD5 buckets are near-uniform; the
    // tolerance is loose on purpose — exactness is the oracle's job)
    m.foreach { r =>
      assert(math.abs(r.getLong(5) - r.getLong(3)) <=
        math.max(5L, r.getLong(1) / 4), s"sampled far off quota: $r")
    }
    // sampled mixture is closer to the target than the raw corpus for the
    // dominant stratum (the point of the exercise)
    val total = m.map(_.getLong(1)).sum.toDouble
    val sTotal = m.map(_.getLong(5)).sum.toDouble
    val en = m.find(_.getString(0) == "en").get
    val rawShare = en.getLong(1) / total
    val newShare = en.getLong(5) / sTotal
    assert(math.abs(newShare - 0.4) < math.abs(rawShare - 0.4),
      s"mixture did not move en toward target: raw=$rawShare new=$newShare")
  }

  test("connected components propagate across multi-hop chains") {
    import spark.implicits._
    // chain 1-2-3-4 plus isolated 5: single-link one-round would label 3
    // as dup_of=2; the fixpoint must pull the whole chain down to 1
    val nodes = Seq(1L, 2L, 3L, 4L, 5L).toDF("doc_id")
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L)).toDF("a_id", "b_id")
    val got = operators.Dedup.componentsOf(nodes, pairs)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSeq
    assert(got == Seq((1L, 1L, true), (2L, 1L, false), (3L, 1L, false),
      (4L, 1L, false), (5L, 5L, true)))
  }

  test("components converge on an 80-hop chain (past the old 64-round cap)") {
    import spark.implicits._
    // a path graph longer than the round cap: pure min-label propagation
    // moves the min one hop per round and would hit the cap with stale
    // labels; pointer jumping must close it in O(log n) rounds — and the
    // loop now throws rather than silently returning non-converged labels
    val n = 81L
    val nodes = (1L to n).toDF("doc_id")
    val pairs = (1L until n).map(i => (i, i + 1)).toDF("a_id", "b_id")
    val got = operators.Dedup.componentsOf(nodes, pairs)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
    assert(got.length == n)
    assert(got.forall(_._2 == 1L),
      s"chain did not collapse to component 1: ${got.filter(_._2 != 1L).take(5).mkString(", ")}")
    assert(got.count(_._3) == 1)
  }

  test("components refine single-link minhash clusters, never coarser") {
    val byDoc = operators.Dedup.components(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // every directly-linked duplicate pair must share a component
    operators.Dedup.minhash(spark, dir).collect().foreach { r =>
      val (doc, rep) = (r.getLong(0), r.getLong(1))
      assert(byDoc(doc) == byDoc(rep),
        s"doc $doc and its single-link rep $rep landed in different components")
    }
  }

  test("incremental dedup classifies corpus dups, batch dups, and fresh docs") {
    import spark.implicits._
    val corpus = Seq((100L, "fpA"), (101L, "fpB")).toDF("doc_id", "fp")
    val batch = Seq((1L, "fpA"), (2L, "fpC"), (3L, "fpC"), (4L, "fpD"))
      .toDF("doc_id", "fp")
    val got = operators.Dedup.incrementalOf(corpus, batch)
      .collect().map(r => (r.getLong(0), r.getString(2))).toSeq
    assert(got == Seq((1L, "dup_of_corpus"), (2L, "kept"),
      (3L, "dup_in_batch"), (4L, "kept")))
    // ingestion fixpoint: append the kept docs' fps to the corpus index and
    // re-offer the same batch — every doc must now be a corpus dup
    val corpus2 = corpus.select("fp")
      .union(Seq("fpC", "fpD").toDF("fp"))
    val again = operators.Dedup.incrementalOf(corpus2, batch)
      .collect().map(_.getString(2))
    assert(again.forall(_ == "dup_of_corpus"),
      s"re-ingested batch not fully deduped: ${again.mkString(",")}")
  }

  test("streaming incremental dedup admits exactly the batch kept set") {
    val batchKept = operators.Dedup.incremental(spark, dir).collect()
      .filter(_.getString(2) == "kept").map(_.getString(1)).toSet
    val streamed = streaming.StreamOps
      .runIncrementalToMemory(spark, dir, "stream_incr_spec")
      .collect().map(_.getString(0)).toSet
    assert(streamed == batchKept,
      s"stream admitted ${streamed.size} fps, batch kept ${batchKept.size}")
  }

  test("canonical selection keeps the longest member, ties to the smallest id") {
    import spark.implicits._
    val labels = Seq((1L, 1L), (2L, 1L), (3L, 1L), (7L, 7L), (8L, 7L),
      (9L, 9L)).toDF("doc_id", "component")
    val toks = Seq((1L, 5), (2L, 9), (3L, 9), (7L, 4), (8L, 4), (9L, 2))
      .toDF("doc_id", "n_tokens")
    val got = operators.Dedup.canonicalOf(labels, toks).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getLong(3),
        r.getLong(4))).toSeq
    // comp 1: docs 2 and 3 tie at 9 tokens -> smaller id 2 wins over 3
    assert(got == Seq((1L, 2L, 9, 3L, 23L), (7L, 7L, 4, 2L, 8L),
      (9L, 9L, 2, 1L, 2L)))
  }

  test("canonical ids are members of their clusters and cover every component") {
    val comp = operators.Dedup.components(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val byDoc = comp.toMap
    val can = operators.Dedup.canonical(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(can.map(_._1).toSet == comp.map(_._2).toSet,
      "canonical output does not cover exactly the component set")
    can.foreach { case (c, id) =>
      assert(byDoc(id) == c, s"canonical $id is not a member of cluster $c")
    }
  }

  test("int8 quantization: codes bounded, zero vector safe, high recall vs exact") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val q = Seq((1L, Seq(0.5f, -1.0f, 0.25f)), (2L, Seq(0f, 0f, 0f)))
      .toDF("vec_id", "embedding")
      .select(operators.Similarity.quantize8(col("embedding")).as("q"))
      .collect().map(_.getSeq[Long](0))
    assert(q(0) == Seq(64L, -127L, 32L)) // floor(x*127/max + 0.5)
    assert(q(1) == Seq(0L, 0L, 0L))
    def topSets(df: org.apache.spark.sql.DataFrame): Map[Long, Set[Long]] =
      df.collect().groupBy(_.getLong(0))
        .map { case (k, rows) => k -> rows.map(_.getLong(2)).toSet }
    val exact = topSets(operators.Similarity.bruteForceTopK(spark, dir))
    val quant = topSets(operators.Similarity.quantizedTopK(spark, dir))
    val recalls = exact.map { case (k, want) =>
      want.intersect(quant.getOrElse(k, Set.empty)).size.toDouble / want.size }
    val mean = recalls.sum / recalls.size
    // int8 dot-product ranking differs from cosine mostly via per-vector
    // norm; measured ~0.9 mean here — assert with margin
    assert(mean >= 0.6, s"mean quantized recall $mean < 0.6")
  }

  test("tfidf ranks rarer terms above common ones within a doc") {
    val rows = operators.TextOps.tfidf(spark, dir).collect()
    assert(rows.nonEmpty)
    rows.groupBy(_.getLong(0)).foreach { case (doc, rs) =>
      val byRank = rs.sortBy(_.getInt(1))
      assert(byRank.map(_.getInt(1)).toSeq == (1 to byRank.length),
        s"doc $doc ranks not dense")
      val scores = byRank.map(_.getLong(5)).toSeq
      assert(scores == scores.sorted.reverse, s"doc $doc scores not descending")
    }
  }

  test("stratified sample honors each stratum's rate") {
    val rows = operators.Sampling.stratifiedSample(spark, dir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (lang, bucket) = (r.getString(1), r.getLong(2))
      val rate = lang match {
        case "en" => 5
        case "de" | "fr" | "es" => 20
        case _ => 50
      }
      assert(bucket < rate, s"lang $lang admitted bucket $bucket >= $rate")
    }
  }

  test("PPM codec: encode round-trips through the real parser") {
    val content = "the quick brown fox jumps over the lazy dog".getBytes("UTF-8")
    for (docId <- Seq(0L, 7L, 42L, 80L, 12345L)) {
      val blob = operators.Multimodal.encodePpm(docId, content)
      // a valid P6 file: magic + parseable header + full raster
      assert(blob(0) == 'P' && blob(1) == '6')
      val img = operators.Multimodal.decodePpm(blob)
      assert(img.width == 8 + (docId % 9).toInt, s"doc $docId width")
      assert(img.height == 8 + ((docId / 9) % 9).toInt, s"doc $docId height")
      assert(img.maxVal == 255)
      assert(img.pixels.length == img.width * img.height * 3)
      // pixels tile the content bytes
      (0 until img.pixels.length).foreach { i =>
        assert(img.pixels(i) == content(i % content.length), s"pixel $i")
      }
    }
  }

  test("PPM parser handles comments and rejects malformed input") {
    val raster = Array.fill(2 * 3 * 3)(7.toByte)
    val withComment =
      "P6\n# a comment line\n2 3\n# another\n255\n".getBytes("US-ASCII") ++ raster
    val img = operators.Multimodal.decodePpm(withComment)
    assert(img.width == 2 && img.height == 3 && img.pixels.length == 18)
    // bad magic, truncated header, truncated raster all throw
    intercept[IllegalArgumentException] {
      operators.Multimodal.decodePpm("P5\n2 2\n255\n".getBytes ++ raster)
    }
    intercept[IllegalArgumentException] {
      operators.Multimodal.decodePpm("P6\n2".getBytes)
    }
    intercept[IllegalArgumentException] {
      operators.Multimodal.decodePpm("P6\n9 9\n255\n".getBytes ++ raster)
    }
  }

  test("WAV codec: encode round-trips; parser reads foreign files, rejects bad ones") {
    val content = "pack my box with five dozen liquor jugs".getBytes("UTF-8")
    for (docId <- Seq(0L, 5L, 63L, 64L, 977L)) {
      val blob = operators.Multimodal.encodeWav(docId, content)
      val a = operators.Multimodal.decodeWav(blob)
      assert(a.sampleRate == 8000)
      assert(a.samples.length == 64 + (docId % 64).toInt, s"doc $docId n")
      assert(blob.length == 44 + 2 * a.samples.length)
      // samples reconstruct the tiled little-endian content bytes
      a.samples.zipWithIndex.foreach { case (s0, i) =>
        val b0 = content((2 * i) % content.length) & 0xff
        val b1 = content((2 * i + 1) % content.length) & 0xff
        assert(s0 == (b0 | (b1 << 8)).toShort.toInt, s"doc $docId sample $i")
      }
    }
    // parser generality: a hand-built file with an unknown chunk BEFORE
    // data (and odd size + pad byte) still decodes
    val bb = java.nio.ByteBuffer.allocate(64)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put("RIFF".getBytes).putInt(56).put("WAVE".getBytes)
    bb.put("fmt ".getBytes).putInt(16).putShort(1).putShort(1)
      .putInt(44100).putInt(88200).putShort(2).putShort(16)
    bb.put("LIST".getBytes).putInt(3).put("abc".getBytes).put(0.toByte)
    bb.put("data".getBytes).putInt(4).putShort(-5).putShort(300)
    val foreign = operators.Multimodal.decodeWav(bb.array())
    assert(foreign.sampleRate == 44100 &&
      foreign.samples.toSeq == Seq(-5, 300))
    // malformed inputs throw: bad magic, stereo, truncated data chunk
    val good = operators.Multimodal.encodeWav(1L, content)
    intercept[IllegalArgumentException] {
      operators.Multimodal.decodeWav("RIFX".getBytes ++ good.drop(4))
    }
    intercept[IllegalArgumentException] {
      val stereo = good.clone(); stereo(22) = 2 // numChannels field
      operators.Multimodal.decodeWav(stereo)
    }
    intercept[IllegalArgumentException] {
      operators.Multimodal.decodeWav(good.take(50))
    }
  }

  test("audio fingerprint equals a direct 1-D WHT reference computation") {
    val content = "abcdefgh".getBytes("UTF-8")
    val a = operators.Multimodal.decodeWav(
      operators.Multimodal.encodeWav(9L, content))
    val got = operators.Multimodal.audioFingerprint(a)
    val n = a.samples.length
    val bins = Array.tabulate(64)(k => a.samples(k * n / 64).toLong)
    val want = new Array[Int](8)
    for (u <- 0 until 64) {
      val c = (0 until 64).map(k =>
        if (Integer.bitCount(u & k) % 2 == 0) bins(k) else -bins(k)).sum
      if (c > 0) want(u / 8) |= 1 << (7 - u % 8)
    }
    assert(got.toSeq == want.toSeq)
    // flipping the loudest sample's sign flips at least one bit
    val flipped = a.copy(samples = a.samples.map(-_))
    assert(operators.Multimodal.audioFingerprint(flipped).toSeq
      != got.toSeq)
  }

  test("pHash WHT sign bits match a direct reference computation") {
    // independent slow reference: same luma/downsample, WHT via explicit
    // Hadamard matrix multiply, sign bits — must agree with the packed
    // kernel for several images
    def hadamard(i: Int, j: Int): Int =
      if (Integer.bitCount(i & j) % 2 == 0) 1 else -1
    for (docId <- Seq(1L, 9L, 33L)) {
      val content = s"doc $docId content with some repeated words words words"
        .getBytes("UTF-8")
      val img = operators.Multimodal.decodePpm(
        operators.Multimodal.encodePpm(docId, content))
      val g = Array.tabulate(8, 8) { (y, x) =>
        val gy = y * img.height / 8
        val gx = x * img.width / 8
        val b = (gy * img.width + gx) * 3
        ((img.pixels(b) & 0xff) + 2 * (img.pixels(b + 1) & 0xff) +
          (img.pixels(b + 2) & 0xff)) / 4
      }
      val bits = for (u <- 0 until 8; v <- 0 until 8) yield {
        val c = (for (y <- 0 until 8; x <- 0 until 8)
          yield hadamard(u, y) * hadamard(v, x) * g(y)(x)).sum
        if (c > 0) 1 else 0
      }
      val expected = bits.grouped(8)
        .map(_.foldLeft(0)((a, b) => (a << 1) | b)).toSeq
      val got = operators.Multimodal.phashBytes(img).toSeq
      assert(got == expected, s"doc $docId: $got != $expected")
    }
  }

  test("phash near-dup: every claimed partner shares a fingerprint band") {
    val rows = operators.Multimodal.phashNearDup(spark, dir).collect()
    val fp = rows.map(r =>
      r.getLong(0) -> r.getString(1).split(",").map(_.toInt)).toMap
    def bands(b: Array[Int]) =
      (0 until 4).map(k => (k, b(2 * k) * 256 + b(2 * k + 1))).toSet
    rows.foreach { r =>
      val (id, dup) = (r.getLong(0), r.getLong(2))
      assert(dup <= id, s"dup_of must be the smallest partner, got $dup for $id")
      assert(r.getBoolean(3) == (dup < id))
      if (dup != id)
        assert(bands(fp(id)).intersect(bands(fp(dup))).nonEmpty,
          s"$id claims dup_of $dup but shares no band")
    }
  }

  test("transition matrix: edge totals and probability rows are exact") {
    import org.apache.spark.sql.functions._
    val evs = sources.Tables.events(spark, dir)
    val nEvents = evs.count()
    val nUsers = evs.select(countDistinct(col("user_id"))).head.getLong(0)
    val m = operators.EventOps.transitions(spark, dir).collect()
    // every user contributes exactly (its events - 1) transitions
    assert(m.map(_.getLong(2)).sum == nEvents - nUsers,
      "transition count must be total events minus one per user")
    // each from-type's probability row sums to 1e6 within floor rounding
    m.groupBy(_.getString(0)).foreach { case (from, rows) =>
      val total = rows.map(_.getLong(4)).sum
      assert(total <= 1000000L && total > 1000000L - rows.length,
        s"$from probability row sums to $total ppm over ${rows.length} edges")
    }
  }

  test("funnel steps are monotonically non-increasing and order-sensitive") {
    import org.apache.spark.sql.functions._
    val r = operators.EventOps.funnel(spark, dir).collect().head
    val (users, s1, s2, s3) =
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
    assert(users >= s1 && s1 >= s2 && s2 >= s3, r.toString)
    assert(s1 > 0, "no user ever signed up — data assumption broken")
    // order-sensitivity: plain existence counts (ignoring order) must be
    // >= the ordered funnel's counts
    val e = graft.sources.Tables.events(spark, dir)
    val anyView = e.filter(col("event_type") === "view")
      .select("user_id").distinct().count()
    assert(s2 <= anyView)
  }

  test("retention offset-0 equals cohort size and dominates later offsets") {
    import org.apache.spark.sql.functions._
    val rows = operators.EventOps.retention(spark, dir).collect()
    assert(rows.nonEmpty)
    // timestamp_ntz surfaces as java.time.LocalDateTime
    val byCohort = rows.groupBy(_.getAs[Any]("cohort_day").toString)
    byCohort.foreach { case (day, rs) =>
      val at0 = rs.find(_.getInt(1) == 0)
        .map(_.getLong(2)).getOrElse(0L)
      assert(at0 > 0, s"cohort $day has no day-0 activity")
      rs.foreach(r => assert(r.getLong(2) <= at0,
        s"cohort $day offset ${r.getInt(1)} exceeds day-0 size"))
    }
  }

  test("quantiles are monotone and sit inside the group's range") {
    import org.apache.spark.sql.functions._
    val q = operators.EventOps.valueQuantiles(spark, dir).collect()
    assert(q.nonEmpty)
    val ranges = graft.sources.Tables.events(spark, dir)
      .groupBy(col("event_type"))
      .agg(min(col("value")).as("lo"), max(col("value")).as("hi"),
        count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r).toMap
    q.foreach { r =>
      val (p25, p50, p75, p90) =
        (r.getDouble(1), r.getDouble(2), r.getDouble(3), r.getDouble(4))
      assert(p25 <= p50 && p50 <= p75 && p75 <= p90, r.toString)
      val rng = ranges(r.getString(0))
      assert(p25 >= rng.getDouble(1) && p90 <= rng.getDouble(2))
      assert(r.getLong(5) == rng.getLong(3), "n_events mismatch")
    }
  }

  test("two-stage rerank recovers most of the exact top-k") {
    val exact = operators.Similarity.bruteForceTopK(spark, dir)
      .collect().groupBy(_.getLong(0))
      .view.mapValues(_.map(_.getLong(2)).toSet).toMap
    val rer = operators.Similarity.rerankTopK(spark, dir)
      .collect().groupBy(_.getLong(0))
      .view.mapValues(_.map(_.getLong(2)).toSet).toMap
    assert(rer.keySet == exact.keySet)
    val recalls = exact.map { case (q, want) =>
      rer(q).intersect(want).size.toDouble / want.size }
    val mean = recalls.sum / recalls.size
    assert(mean >= 0.8, s"mean rerank recall $mean < 0.8")
  }

  test("stream-static anomaly tag equals the batch outlier screen") {
    import org.apache.spark.sql.functions._
    val streamed = graft.streaming.StreamOps
      .runAnomalyTagToMemory(spark, dir, "opspec_anomaly")
      .orderBy(col("event_type")).collect().map(_.toString).toSeq
    val batch = graft.sources.Tables.events(spark, dir)
      .join(broadcast(graft.operators.EventOps.iqrFences(spark, dir)),
        Seq("event_type"))
      .filter(col("value") < col("lo") || col("value") > col("hi"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_outliers"),
        min(col("value")).as("min_value"),
        max(col("value")).as("max_value"))
      .orderBy(col("event_type")).collect().map(_.toString).toSeq
    assert(streamed.nonEmpty && streamed == batch)
  }

  test("streaming decontamination totals equal the batch overlap rollup") {
    import org.apache.spark.sql.functions._
    val streamed = graft.streaming.StreamOps
      .runDecontaminateToMemory(spark, dir, "opspec_decon")
      .orderBy(col("source")).collect().map(_.toString).toSeq
    // the batch operator reports per-doc; roll it up per source the same
    // way (n_shingles = Σ per-doc distinct shingles, n_overlap = Σ hits)
    val batch = graft.operators.Dedup.decontaminate(spark, dir)
      .join(graft.sources.Tables.documents(spark, dir)
        .select(col("doc_id"), col("source")), Seq("doc_id"))
      .groupBy(col("source"))
      .agg(sum(col("n_shingles")).as("n_shingles"),
        sum(col("n_overlap")).as("n_overlap"))
      .orderBy(col("source")).collect().map(_.toString).toSeq
    assert(streamed.nonEmpty && streamed == batch)
  }

  test("streaming quality filter equals the batch computation") {
    import org.apache.spark.sql.functions._
    val streamed = graft.streaming.StreamOps
      .runQualityFilterToMemory(spark, dir, "opspec_quality")
      .orderBy(col("lang")).collect().map(_.toString).toSeq
    val batch = graft.sources.Tables.documents(spark, dir)
      .select(col("lang"), graft.functions.TextHashExprs
        .token_repetition(col("text")).as("r"))
      .select(col("lang"), col("r.n_tokens").as("n_tokens"),
        expr("r.n_distinct * 1000000L div r.n_tokens").as("ttr_ppm"),
        expr("r.top_bigram_n * 1000000L div greatest(r.n_tokens - 1, 1)")
          .as("rep_ppm"))
      .filter(col("ttr_ppm").between(300000L, 800000L) &&
        col("rep_ppm") < 60000L)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("total_tokens"),
        min(col("ttr_ppm")).as("min_ttr_ppm"),
        max(col("rep_ppm")).as("max_rep_ppm"))
      .orderBy(col("lang")).collect().map(_.toString).toSeq
    assert(streamed == batch)
  }

  test("quantile sketch brackets the exact quantile inside its power-of-2 bin") {
    import org.apache.spark.sql.functions._
    val exact = operators.EventOps.valueQuantiles(spark, dir).collect()
      .map(r => r.getString(0) -> r).toMap
    val est = operators.EventOps.quantileSketch(spark, dir).collect()
    assert(est.nonEmpty)
    est.foreach { r =>
      val e = exact(r.getString(0))
      // same ceil-rank: the sketch returns the upper bound of the bin
      // holding the exact quantile, so exact <= est < 2*exact (in cents)
      Seq(3 -> 1, 4 -> 2, 5 -> 3, 6 -> 4).foreach { case (ei, xi) =>
        val estC = r.getLong(ei)
        val exactC = math.floor(e.getDouble(xi) * 100).toLong
        assert(estC >= exactC, s"${r.getString(0)} p$xi: est $estC < $exactC")
        assert(estC <= math.max(2 * exactC - 1, 0L),
          s"${r.getString(0)} p$xi: est $estC not within 2x of $exactC")
      }
      assert(r.getLong(1) > 0 && r.getLong(2) <= 64)
    }
  }

  test("block dedup agrees with an explode-based recompute and hits real docs") {
    import org.apache.spark.sql.functions._
    val toks = split(trim(col("text")), "\\s+")
    val starts = sequence(lit(0), greatest(size(toks) - 1, lit(0)), lit(16))
    val blocks = transform(starts,
      i => array_join(slice(toks, i + lit(1), lit(16)), " "))
    val occ = graft.sources.Tables.documents(spark, dir)
      .select(col("doc_id"), explode(blocks).as("b"))
      .withColumn("bh", md5(col("b")))
    val freq = occ.select(col("doc_id"), col("bh")).distinct()
      .groupBy(col("bh")).agg(count(lit(1)).as("df"))
      .filter(col("df") >= 2).select("bh")
    val keptInd = occ.join(freq, Seq("bh"), "left_anti")
      .groupBy(col("doc_id")).agg(count(lit(1)).as("k"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val got = operators.TextOps.blockDedup(spark, dir).collect()
    assert(got.nonEmpty)
    got.foreach { r =>
      val (id, nb, nk) = (r.getLong(0), r.getInt(1), r.getInt(2))
      assert(nk <= nb && nb >= 1, r.toString)
      assert(nk.toLong == keptInd.getOrElse(id, 0L),
        s"doc $id: operator kept $nk, reference kept ${keptInd.get(id)}")
    }
    // the corpus genuinely contains cross-document boilerplate
    assert(got.exists(r => r.getInt(2) < r.getInt(1)),
      "no doc lost a block — boilerplate fixture assumption broken")
  }

  test("source overlap covers every pair with consistent integer jaccard") {
    // the expected source set comes INDEPENDENTLY from the documents
    // table, not from the result rows — a source pair dropped from the
    // matrix (or a source disjoint from all others vanishing entirely)
    // must fail here, not silently shrink the expectation
    val sources = graft.sources.Tables.documents(spark, dir)
      .select("source").distinct().collect().map(_.getString(0)).toSet
    val s = sources.size
    assert(s >= 2, "fixture needs at least two sources")
    val rows = operators.TextOps.sourceOverlap(spark, dir).collect()
    assert(rows.length == s * (s - 1) / 2,
      s"expected all ${s * (s - 1) / 2} pairs, got ${rows.length}")
    val gotPairs = rows.map(r => (r.getString(0), r.getString(1))).toSet
    val wantPairs = (for (a <- sources; b <- sources if a < b) yield (a, b))
    assert(gotPairs == wantPairs.toSet, s"pair set mismatch: $gotPairs")
    // per-source set size must be identical wherever the source appears
    val sizes = collection.mutable.Map.empty[String, Long]
    def check(src: String, n: Long): Unit =
      assert(sizes.getOrElseUpdate(src, n) == n, s"$src size drift")
    rows.foreach { r =>
      val (a, b) = (r.getString(0), r.getString(1))
      val (na, nb, nc, j) =
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))
      assert(a < b, r.toString)
      check(a, na); check(b, nb)
      assert(nc >= 0 && nc <= math.min(na, nb), r.toString)
      assert(j == nc * 1000000L / (na + nb - nc), r.toString)
      assert(j <= 1000000L)
    }
  }

  test("source minhash estimate is within MinHash-64 error of the exact matrix") {
    // est_jaccard_ppm is a 64-permutation MinHash estimate of the exact
    // trigram-set jaccard (both keyed (src_a, src_b)): σ = √(J(1−J)/64)
    // ≤ 0.0625, so |est − exact| within 4σ_max = 250000 ppm, and the
    // typical-case mean error should sit far tighter
    val exact = operators.TextOps.sourceOverlap(spark, dir).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(5)).toMap
    val est = operators.TextOps.sourceMinhash(spark, dir).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(3)).toMap
    assert(est.keySet == exact.keySet,
      s"pair sets differ: ${est.keySet} vs ${exact.keySet}")
    val errs = exact.map { case (k, j) => math.abs(est(k) - j) }
    assert(errs.forall(_ <= 250000L),
      s"estimate outside 4σ of exact: ${errs.max} ppm")
    assert(errs.sum / errs.size <= 125000L,
      s"mean estimate error implausibly large: ${errs.sum / errs.size} ppm")
  }

  test("repetition kernel agrees with an explode+groupBy reference") {
    import org.apache.spark.sql.functions._
    val got = operators.TextOps.repetition(spark, dir).limit(50).collect()
    assert(got.nonEmpty)
    // recompute one doc the slow way
    val r0 = got.head
    val text = graft.sources.Tables.documents(spark, dir)
      .filter(col("doc_id") === r0.getLong(0))
      .select("text").collect().head.getString(0)
    val toks = text.trim.toLowerCase.split("\\s+").toSeq
    assert(r0.getInt(1) == toks.length)
    assert(r0.getInt(2) == toks.distinct.length)
    assert(r0.getInt(3) == toks.groupBy(identity).values.map(_.size).max)
    val bigrams = toks.zip(toks.drop(1)).map(p => p._1 + " " + p._2)
    val topBi = if (bigrams.isEmpty) 0
      else bigrams.groupBy(identity).values.map(_.size).max
    assert(r0.getInt(4) == topBi)
  }

  test("LM score: hand-computed surprisal on a micro corpus; NULL under 2 tokens") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // train corpus (src0): "a b a b" → V=2, uni a=2 b=2, bigram (a,b)=2
    // scored: doc 1 "a b" → bits = floor(log2((2+2) div (2+1))) = 0
    //         doc 2 "c c" → unseen: floor(log2((0+2) div (0+1))) = 1/bigram
    //         doc 3 "x"   → no bigrams → n_bigrams 0, bits_ppm NULL
    val tmp = java.nio.file.Files.createTempDirectory("lmscore").toString
    Seq(
      (0L, "a b a b", "en", "src0", 7L),
      (1L, "a b", "en", "src1", 3L),
      (2L, "c c", "en", "src1", 3L),
      (3L, "x", "en", "src1", 1L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val got = operators.TextOps.lmScore(spark, tmp).collect()
      .map(r => r.getLong(0) -> (r.getInt(1),
        if (r.isNullAt(2)) None else Some(r.getLong(2)))).toMap
    assert(got(0L) == ((3, Some(333333L))), // bigrams ab(0) ba(0?) ab(0)
      s"train doc surprisal: ${got(0L)}")
    // train doc detail: (a,b) c12=2 → (2+2) div 3 = 1 → 0 bits;
    // (b,a) c12=1 → 4 div 2 = 2 → 1 bit; mean = 1e6 div 3 = 333333
    assert(got(1L) == ((1, Some(0L))), s"in-domain doc: ${got(1L)}")
    assert(got(2L) == ((1, Some(1000000L))), s"unseen doc: ${got(2L)}")
    assert(got(3L) == ((0, None)), s"sub-2-token doc: ${got(3L)}")
    // in-domain text scores strictly below out-of-domain gibberish
    assert(got(1L)._2.get < got(2L)._2.get)
  }

  test("semantic dedup: non-kept vectors point at a smaller same-cell rep") {
    // the stock embeddings have no close pairs (max pairwise cosine
    // ≈ 0.48), so plant semantic dups: 40 base vectors on distinct
    // directions plus slightly-jittered copies of the first 10 (cosine
    // with their base ≈ 0.999, far above τ = 0.95)
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("semdedup").toString
    val dim = 48
    def oneHot(i: Int): Array[Float] =
      Array.tabulate(dim)(d => if (d == i) 1.0f else 0.0f)
    // bases are exactly orthogonal (cosine 0 — far below τ), so none dedup
    val base = (0 until 40).map(i => (i.toLong, oneHot(i), i % 4))
    val dups = (0 until 10).map { i =>
      val v = oneHot(i); v(i + 1) = 0.01f // cosine with base ≈ 0.99995
      ((100 + i).toLong, v, i % 4)
    }
    (base ++ dups).toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$tmp/embeddings.parquet")
    val rows = operators.Similarity.semanticDedup(spark, tmp).collect()
    assert(rows.length == 50)
    val cellOf = rows.map(r => r.getLong(0) -> r.getLong(1)).toMap
    rows.foreach { r =>
      val (id, rep, keep) = (r.getLong(0), r.getLong(2), r.getBoolean(3))
      if (keep) assert(rep == id, s"kept $id must be its own rep")
      else {
        assert(rep < id, s"dup $id must point at a smaller rep, got $rep")
        // the rep is a direct within-cell neighbor by construction
        assert(cellOf(rep) == cellOf(id),
          s"dup $id (cell ${cellOf(id)}) has rep $rep in cell ${cellOf(rep)}")
      }
    }
    // every planted jitter pair lands in one cell (cosine ≈ 1 with its
    // base, so the same centroid wins) and must be caught
    val dropped = rows.filter(!_.getBoolean(3)).map(_.getLong(0)).toSet
    assert((100L until 110L).forall(dropped.contains),
      s"planted dups not all caught: $dropped")
    assert(dropped.size == 10, s"over-deduped: $dropped")
    SessionCache.release(tmp)
  }

  test("quality buckets tile each source evenly with ordered score ranges") {
    val rows = operators.TextOps.qualityBuckets(spark, dir).collect()
      .map(r => (r.getString(0), r.getInt(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))
    assert(rows.nonEmpty)
    rows.groupBy(_._1).foreach { case (src, bs) =>
      val sorted = bs.sortBy(_._2)
      assert(sorted.map(_._2).toSeq == (1 to sorted.length), s"$src buckets")
      // NTILE: sizes differ by at most one, larger tiles first
      val sizes = sorted.map(_._3)
      assert(sizes.max - sizes.min <= 1, s"$src sizes: ${sizes.toSeq}")
      assert(sizes.toSeq == sizes.sortBy(-_).toSeq, s"$src order: ${sizes.toSeq}")
      // score ranges are internally consistent and ordered across buckets
      sorted.foreach { case (_, _, _, lo, hi) => assert(lo <= hi) }
      sorted.sliding(2).foreach {
        case Array(a, b) => assert(b._4 >= a._5,
          s"$src bucket ${b._2} overlaps bucket ${a._2}")
        case _ =>
      }
    }
  }

  test("streaming LM quality rollup agrees with the batch lmScore output") {
    import org.apache.spark.sql.functions._
    val stream = graft.streaming.StreamOps
      .runLmQualityToMemory(spark, dir, "t_lmq_batchcheck")
      .orderBy("source").collect()
    val batch = operators.TextOps.lmScore(spark, dir)
      .join(graft.sources.Tables.documents(spark, dir)
        .select(col("doc_id"), col("source")), Seq("doc_id"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("n_bigrams") > 0, 1L).otherwise(0L)).as("n_scored"),
        sum(col("n_bigrams").cast("long")).as("total_bigrams"),
        min(col("bits_ppm")).as("min_ppm"),
        max(col("bits_ppm")).as("max_ppm"))
      .orderBy("source").collect()
    assert(stream.length == batch.length && stream.nonEmpty)
    stream.zip(batch).foreach { case (sRow, b) =>
      assert(sRow.getString(0) == b.getString(0))
      assert(sRow.getLong(1) == b.getLong(1), s"n_docs ${sRow} vs $b")
      assert(sRow.getLong(2) == b.getLong(2), s"n_scored ${sRow} vs $b")
      assert(sRow.getLong(4) == b.getLong(2 + 1), s"total_bigrams $sRow vs $b")
      assert(sRow.getLong(5) == b.getLong(4), s"min_ppm $sRow vs $b")
      assert(sRow.getLong(6) == b.getLong(5), s"max_ppm $sRow vs $b")
    }
  }

  test("span dedup: planted duplicates produce exactly the expected spans") {
    import spark.implicits._
    // doc 1 is canonical; doc 2 repeats doc 1's first 10 tokens (an 8-wide
    // window hit at positions 1..3 → one merged span 1..10) then diverges;
    // doc 3 repeats its own 8-token run back-to-back (positions 1..8 and
    // 9..16 — the SECOND occurrence is non-canonical → span 9..16); doc 4
    // shares nothing; doc 5 is too short to window.
    val w = (1 to 10).map(i => s"w$i").mkString(" ")
    val rep = (1 to 8).map(i => s"r$i").mkString(" ")
    val docs = Seq(
      (1L, w + " x1 x2 x3"),
      (2L, w + " y1 y2 y3"),
      (3L, rep + " " + rep),
      (4L, (1 to 12).map(i => s"z$i").mkString(" ")),
      (5L, "a b c")).toDF("doc_id", "text")
    val got = operators.TextOps.spanDedupOf(docs, 8).collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getLong(3), r.getLong(5)))
    // doc 2: windows at pos 1..3 duplicate doc 1's → span [1,10], 3 windows
    // doc 3: window at pos 9 duplicates its own pos-1 window → span [9,16]
    assert(got.toSet == Set((2L, 1L, 10L, 3L), (3L, 9L, 16L, 1L)), got.mkString(", "))
  }

  test("span dedup window expression is total: docs one token short of " +
      "the width never throw, any width") {
    // the width=50 5M-doc ScaleStress found the latent failure: Catalyst
    // merges the size>=width filter with the generator's implicit
    // size(hs)>0 pre-filter and codegen's subexpression elimination
    // evaluates the merged predicate eagerly — an unguarded
    // sequence(1, size-width+1) descends through 0 on short docs and
    // slice(toks, 0, …) throws at RUNTIME, filter notwithstanding
    import spark.implicits._
    val long = (1 to 60).map(i => s"t$i").mkString(" ")
    val docs = Seq(
      (1L, long), (2L, long),          // a real width-50 duplicate pair
      (3L, (1 to 49).map(i => s"s$i").mkString(" ")), // one short of width
      (4L, "a b"), (5L, "")).toDF("doc_id", "text")
    val got = operators.TextOps.spanDedupOf(docs, 50).collect()
    assert(got.map(_.getLong(0)).toSet == Set(2L))
  }

  test("span dedup: first occurrence retained, spans maximal and disjoint") {
    import org.apache.spark.sql.functions._
    val width = 8
    // independent recompute of the non-canonical duplicate window set
    // via groupBy (no window functions): min (doc_id, pos) per hash is
    // canonical; every other occurrence of a dup hash is removable
    val toksC = filter(split(col("text"), "\\s+"), t => t =!= "")
    val d = graft.sources.Tables.documents(spark, dir)
      .select(col("doc_id"), toksC.as("toks"))
      .filter(size(col("toks")) >= width)
      .select(col("doc_id"), posexplode(
        transform(sequence(lit(1), size(col("toks")) - (width - 1)),
          i => md5(array_join(slice(col("toks"), i, lit(width)), " "))))
        .as(Seq("i", "h")))
      .select(col("doc_id"), (col("i") + 1).cast("long").as("pos"), col("h"))
    val canon = d.groupBy("h")
      .agg(count(lit(1)).as("cnt"),
        min(struct(col("doc_id"), col("pos"))).as("first"))
    val removable = d.join(canon, "h")
      .filter(col("cnt") >= 2 &&
        !(col("doc_id") === col("first.doc_id") && col("pos") === col("first.pos")))
      .select(col("doc_id"), col("pos")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val spans = operators.TextOps.spanDedup(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))
    assert(spans.nonEmpty, "fixture has no duplicated spans")
    // every span starts AND ends at a removable window; interior fully
    // covered; spans per doc disjoint with a gap (maximality)
    val byDoc = spans.groupBy(_._1)
    byDoc.foreach { case (id, ss) =>
      val sorted = ss.sortBy(_._2)
      sorted.sliding(2).foreach {
        case Array((_, _, e1, _, _), (_, s2, _, _, _)) =>
          assert(s2 > e1 + 1, s"doc $id spans not maximal: end $e1 then start $s2")
        case _ =>
      }
      sorted.foreach { case (_, s0, e0, tk, nw) =>
        assert(tk == e0 - s0 + 1)
        assert(removable.contains((id, s0)), s"doc $id span start $s0 not removable")
        assert(removable.contains((id, e0 - width + 1)),
          s"doc $id span end-window ${e0 - width + 1} not removable")
        assert(nw >= 1 && nw <= tk - width + 1)
      }
    }
    // and every removable window lies inside some reported span
    removable.foreach { case (id, p) =>
      assert(byDoc.get(id).exists(_.exists(s => s._2 <= p && p + width - 1 <= s._3)),
        s"removable window ($id, $p) not covered by any span")
    }
  }

  test("conversion lag tiles the signup cohort with bucket-respecting ranges") {
    import org.apache.spark.sql.functions._
    val rows = operators.EventOps.conversionLag(spark, dir).collect()
    val ev = graft.sources.Tables.events(spark, dir)
    val nSignup = ev.filter(col("event_type") === "signup")
      .select("user_id").distinct().count()
    assert(rows.map(_.getLong(1)).sum == nSignup,
      "every signup user lands in exactly one bucket")
    val edges = Map("0_lt_1h" -> (0L, 3599L), "1_lt_1d" -> (3600L, 86399L),
      "2_lt_7d" -> (86400L, 604799L))
    rows.foreach { r =>
      val b = r.getString(0)
      if (b == "4_none") { assert(r.isNullAt(2) && r.isNullAt(3), r.toString) }
      else if (edges.contains(b)) {
        val (lo, hi) = edges(b)
        assert(r.getLong(2) >= lo && r.getLong(3) <= hi, r.toString)
        assert(r.getLong(2) <= r.getLong(3), r.toString)
      } else assert(b == "3_ge_7d" && r.getLong(2) >= 604800L, r.toString)
    }
  }

  test("cdc chunking is shift-robust: prefix insertion preserves downstream chunks") {
    import spark.implicits._
    // doc 20 = 60-token junk prefix + doc 10's text: fixed-width blocks
    // would all shift, but CDC boundaries depend only on the trailing
    // 3-gram, so once the first boundary inside the shared suffix
    // re-synchronizes, every later chunk of doc 10 reappears verbatim in
    // doc 20. At least all but the first two of doc 10's chunks (the
    // resync window) must be shared.
    val base = (1 to 120).map(i => s"w${i % 37}q${i % 11}").mkString(" ")
    val junk = (1 to 60).map(i => s"j$i").mkString(" ")
    val docs = Seq((10L, base), (20L, junk + " " + base)).toDF("doc_id", "text")
    val chunks = operators.TextOps.cdcChunksOf(docs).collect()
      .map(r => (r.getLong(0), r.getString(3)))
    val a = chunks.filter(_._1 == 10L).map(_._2)
    val b = chunks.filter(_._1 == 20L).map(_._2).toSet
    assert(a.length >= 4, s"fixture produced too few chunks (${a.length})")
    val shared = a.count(b.contains)
    assert(shared >= a.length - 2,
      s"only $shared/${a.length} chunks survived a prefix insertion")
    // and the chunks tile the doc exactly: token counts sum to doc length
    val na = operators.TextOps.cdcChunksOf(docs).filter($"doc_id" === 10L)
      .agg(org.apache.spark.sql.functions.sum("n_tokens")).head.getLong(0)
    assert(na == 120L, s"chunks cover $na of 120 tokens")
  }

  test("split manifest conserves docs/tokens and its component counts tile the label table") {
    import org.apache.spark.sql.functions._
    val m = operators.Pipeline.splitManifest(spark, dir).collect()
    assert(m.nonEmpty && m.map(_.getString(0)).toSet.subsetOf(
      Set("train", "valid", "test")))
    val docs = graft.sources.Tables.documents(spark, dir)
    val nDocs = docs.count()
    val nTokens = docs.select(sum(size(split(trim(col("text")), "\\s+"))))
      .head.getLong(0)
    assert(m.map(_.getLong(2)).sum == nDocs, "doc conservation")
    assert(m.map(_.getLong(3)).sum == nTokens, "token conservation")
    val nComponents = operators.Dedup.components(spark, dir)
      .select("component").distinct().count()
    assert(m.map(_.getLong(1)).sum == nComponents, "component conservation")
    m.foreach { r =>
      assert(r.getLong(4) <= r.getLong(2) && r.getLong(4) >= 1, r.toString)
      assert(r.getLong(1) <= r.getLong(2), r.toString)
    }
  }

  test("leak-free split: every near-dup pair lands in one split, all docs covered") {
    import org.apache.spark.sql.functions._
    val split = operators.Sampling.leakFreeSplit(spark, dir)
    val rows = split.collect()
    val nDocs = graft.sources.Tables.documents(spark, dir).count()
    assert(rows.length.toLong == nDocs, "every doc assigned exactly once")
    assert(rows.map(_.getLong(0)).distinct.length == rows.length)
    val byId = rows.map(r => r.getLong(0) -> r.getString(2)).toMap
    // the real leakage property: near-dup candidate PAIRS never straddle
    val pairs = operators.Dedup.minhashCandidates(spark, dir, 0.7)
      .select(col("a_id"), col("b_id")).collect()
    assert(pairs.nonEmpty, "fixture has no near-dup pairs")
    pairs.foreach { p =>
      val (a, b) = (p.getLong(0), p.getLong(1))
      assert(byId(a) == byId(b), s"near-dups $a/$b split ${byId(a)}/${byId(b)}")
    }
    // split is a pure function of the component id
    val comps = rows.map(r => r.getLong(1) -> r.getString(2)).distinct
    assert(comps.map(_._1).distinct.length == comps.length,
      "a component mapped to two splits")
    // deterministic ratios: train strictly dominates at any fixture size
    val dist = rows.groupBy(_.getString(2)).view.mapValues(_.length).toMap
    assert(dist.getOrElse("train", 0) > rows.length / 2, dist.toString)
  }

  test("unigram surprisal: hand-checked bits on a micro corpus, bounds hold") {
    import spark.implicits._
    // corpus: a×4, b×2, c×1, d×1 → T=8; bits(w)=floor(log2(8 div c)):
    //   a: 8 div 4 = 2 → 1 bit; b: 8 div 2 = 4 → 2; c,d: 8 → 3
    val tmp = java.nio.file.Files.createTempDirectory("uni").toString
    Seq(
      (0L, "a a a b", "en", "rep", 7L),     // bits 1+1+1+2 → mean 1.25
      (1L, "a b c d", "en", "div", 7L))     // bits 1+2+3+3 → mean 2.25
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val got = operators.TextOps.unigramSurprisal(spark, tmp).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(got("rep") == ((4L, 1250000L)), got("rep").toString)
    assert(got("div") == ((4L, 2250000L)), got("div").toString)
    // the diverse source scores strictly higher — the diagnostic works
    assert(got("div")._2 > got("rep")._2)
    // fixture-wide sanity: every source within [0, log2(T)] bits
    val corpus = operators.TextOps.unigramSurprisal(spark, dir).collect()
    assert(corpus.nonEmpty)
    corpus.foreach(r => assert(r.getLong(2) >= 0L &&
      r.getLong(2) <= 64000000L, r.toString))
  }

  test("truncated retrieval: exact on the slice, recall vs full reported") {
    import org.apache.spark.sql.functions.col
    val tr = operators.Similarity.truncatedTopK(spark, dir).collect()
    val byQ = tr.groupBy(_.getLong(0))
    assert(byQ.size == 8 && byQ.values.forall(_.length == 10))
    // exactness on the sliced space: spot-check one query's top-1 against
    // a driver-side cosine over the first 16 dims
    val emb = graft.sources.Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).take(16).map(_.toDouble))
      .toMap
    def cos(a: Seq[Double], b: Seq[Double]): Double = {
      val d = a.zip(b).map { case (x, y) => x * y }.sum
      d / (math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum))
    }
    val q0 = byQ.keys.min
    val best = emb.keys.filter(_ != q0)
      .maxBy(v => (cos(emb(q0), emb(v)), -v))
    assert(byQ(q0).minBy(_.getInt(1)).getLong(2) == best,
      s"query $q0 top-1 mismatch")
    // recall vs the full-dim exact top-k: diagnostic, chance-level floor
    // (synthetic vectors are not front-loaded like trained MRL embeddings)
    val bf = operators.Similarity.bruteForceTopK(spark, dir).collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(2)).toSet)
    val recall = byQ.map { case (q, rows) =>
      (rows.map(_.getLong(2)).toSet & bf(q)).size / 10.0 }
    assert(recall.sum / recall.size > 0.02,
      s"truncated recall ${recall.sum / recall.size} at chance level")
  }

  test("PQ: codebooks/codes well-formed, recall well above chance") {
    import org.apache.spark.sql.functions.col
    val books = operators.Similarity.pqCodebooks(spark, dir).collect()
    // 4 subspaces × 16 codes, each a 16-dim double centroid
    assert(books.length == 64, s"codebook rows ${books.length}")
    assert(books.map(r => (r.getInt(0), r.getLong(1))).distinct.length == 64)
    books.foreach(r => assert(r.getSeq[Double](2).length == 16))
    val pq = operators.Similarity.pqTopK(spark, dir).collect()
    val byQ = pq.groupBy(_.getLong(0))
    assert(byQ.size == 8 && byQ.values.forall(_.length == 10))
    // distances ascend with rank and are nonnegative
    byQ.values.foreach { rows =>
      val ds = rows.sortBy(_.getInt(1)).map(_.getDouble(3))
      assert(ds.forall(_ >= 0.0) && ds.sameElements(ds.sorted))
    }
    // recall@10 vs exact cosine: lossy (4 codes replace 64 floats) but
    // far above the ~0.02 chance level on this corpus (measured ~0.33)
    val bf = operators.Similarity.bruteForceTopK(spark, dir).collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(2)).toSet)
    val recall = byQ.map { case (q, rows) =>
      (rows.map(_.getLong(2)).toSet & bf(q)).size / 10.0
    }
    assert(recall.sum / recall.size >= 0.2,
      s"mean PQ recall ${recall.sum / recall.size}")
  }

  test("IVF-PQ: candidates come only from probed cells, ADC agrees with PQ path") {
    import org.apache.spark.sql.functions.{col, row_number}
    import org.apache.spark.sql.expressions.Window
    val res = operators.Similarity.ivfPqTopK(spark, dir).collect()
    assert(res.groupBy(_.getLong(0)).size == 8)
    // every returned vector lives in a cell its query probed
    val cells = operators.Similarity.ivfAssignments(spark, dir)
      .select(col("vec_id"), col("cell")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val w = Window.partitionBy(col("vec_id"))
      .orderBy(col("ccos").desc, col("cent_id"))
    val probed = operators.Similarity.ivfScored(spark, dir)
      .filter(col("vec_id") < 8)
      .withColumn("rn", row_number().over(w)).filter(col("rn") <= 4)
      .select(col("vec_id"), col("cent_id")).collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
    res.foreach { r =>
      val (q, v) = (r.getLong(0), r.getLong(2))
      assert(probed(q).contains(cells(v)), s"vec $v outside query $q's probes")
    }
    // the ADC distance is the same number the pure-PQ path computes
    val pqd = operators.Similarity.pqTopK(spark, dir, k = 500).collect()
      .map(r => (r.getLong(0), r.getLong(2)) -> r.getDouble(3)).toMap
    res.foreach { r =>
      val key = (r.getLong(0), r.getLong(2))
      assert(pqd.get(key).forall(_ == r.getDouble(3)), s"ADC mismatch at $key")
    }
  }

  test("streaming gopher filter equals the batch rule screen rollup") {
    import org.apache.spark.sql.functions.col
    val words = operators.TextOps.gopherFixtureWords
    val stream = graft.streaming.StreamOps
      .runGopherFilterToMemory(spark, dir, words)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2)))).toMap
    val batch = operators.TextOps.gopherRules(spark, dir,
        requiredWords = words)
      .filter(col("keep")).collect()
      .groupBy(_.getString(1))
    assert(stream.keySet == batch.keySet,
      s"sources ${stream.keySet} vs ${batch.keySet}")
    for ((src, (nKept, keptWords)) <- stream) {
      assert(nKept == batch(src).length, s"$src n_kept")
      assert(keptWords == batch(src).map(_.getInt(2).toLong).sum,
        s"$src kept_words")
    }
  }

  test("streaming repetition filter equals the batch screen rollup") {
    import org.apache.spark.sql.functions._
    val stream = graft.streaming.StreamOps
      .runRepetitionFilterToMemory(spark, dir)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2)))).toMap
    val batch = operators.TextOps.repetitionRules(spark, dir)
      .filter(col("keep")).collect()
      .groupBy(_.getString(1))
    assert(stream.keySet == batch.keySet)
    for ((src, (nKept, maxTop2)) <- stream) {
      assert(nKept == batch(src).length, s"$src n_kept")
      assert(maxTop2 == batch(src)
        .map(r => r.getLong(r.fieldIndex("top2gram_ppm"))).max,
        s"$src max_top2_ppm")
    }
  }

  test("jdbc stream sink: admitted set equals the batch screen, rerun replaces") {
    import org.apache.spark.sql.functions.col
    val first = operators.Federated.jdbcStreamSink(spark, dir).collect()
    val want = operators.TextOps.gopherRules(spark, dir,
        requiredWords = operators.TextOps.gopherFixtureWords)
      .filter(col("keep")).select(col("doc_id")).collect()
      .map(_.getLong(0)).sorted.toSeq
    assert(first.map(_.getLong(0)).toSeq == want,
      s"admitted ${first.length} vs batch ${want.size}")
    // rerun: table replaced, not appended to
    val second = operators.Federated.jdbcStreamSink(spark, dir).collect()
    assert(second.length == first.length, "rerun duplicated rows")
  }

  test("streaming novelty agrees with a driver-side kernel recompute") {
    import org.apache.spark.unsafe.types.UTF8String
    val docs = graft.sources.Tables.documents(spark, dir)
      .select("doc_id", "source", "text").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    def shingleSet(text: String): Set[String] = {
      val arr = graft.functions.PortableHashExprs
        .shinglesKernel(UTF8String.fromString(text), 3)
      (0 until arr.numElements()).map(i => arr.getUTF8String(i).toString)
        .filter(_.nonEmpty).map(md5hex).toSet
    }
    val sets = docs.map { case (id, src, t) => (id, src, shingleSet(t)) }
    val index = sets.filter { case (id, _, _) =>
      java.lang.Long.parseLong(md5hex(id.toString).take(14), 16) % 100 < 50
    }.flatMap(_._3).toSet
    val want = sets.groupBy(_._2).view.mapValues { g =>
      val n = g.map(_._3.size.toLong).sum
      val known = g.map(d => (d._3 & index).size.toLong).sum
      (n, known, (n - known) * 1000000L / n)
    }.toMap
    val got = graft.streaming.StreamOps.runNoveltyToMemory(spark, dir)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(got.keySet == want.keySet)
    for ((src, w) <- want) assert(got(src) == w, s"$src: ${got(src)} vs $w")
    // the snapshot index makes its own half ~fully known
    assert(got.values.exists(_._3 < 500000L), "no low-novelty source")
  }

  test("streaming DSIR rollup agrees with the batch score staging table") {
    import org.apache.spark.sql.functions.col
    val stream = graft.streaming.StreamOps.runDsirToMemory(spark, dir)
      .collect().map(r => r.getString(0) -> r).toMap
    // batch recompute from the staging table + source lookup
    val batch = operators.Sampling.dsirScore(spark, dir)
      .join(graft.sources.Tables.documents(spark, dir)
        .select(col("doc_id"), col("source")), Seq("doc_id"))
      .collect().groupBy(_.getString(3))
    val nDocsBySource = graft.sources.Tables.documents(spark, dir)
      .groupBy(col("source")).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(stream.keySet == nDocsBySource.keySet)
    for ((src, row) <- stream) {
      val scored = batch.getOrElse(src, Array.empty)
      assert(row.getLong(1) == nDocsBySource(src), s"$src n_docs")
      assert(row.getLong(2) == scored.length, s"$src n_scored")
      val scores = scored.map(_.getLong(2))
      assert(row.getLong(3) == scores.count(_ > 64000000L),
        s"$src n_target_like")
      if (scores.nonEmpty)
        assert(row.getLong(4) == scores.sum / scores.length, s"$src mean")
      else assert(row.isNullAt(4), s"$src mean should be NULL")
    }
  }

  test("streaming epoch-repeat rollup agrees with the batch mixture " +
      "accounting") {
    val stream = graft.streaming.StreamOps
      .runEpochMixtureToMemory(spark, dir)
      .collect().map(r => r.getString(0) -> r).toMap
    val batch = operators.Sampling.epochMixture(spark, dir)
      .collect().map(r => r.getString(0) -> r).toMap
    assert(stream.keySet == batch.keySet)
    for ((lang, b) <- batch) {
      val s0 = stream(lang)
      assert(s0.getAs[Long]("n_docs") == b.getAs[Long]("n_total"),
        s"$lang n_docs")
      assert(s0.getAs[Long]("epochs") == b.getAs[Long]("epochs"),
        s"$lang epochs")
      assert(s0.getAs[Long]("n_extra") == b.getAs[Long]("n_extra"),
        s"$lang n_extra")
      assert(s0.getAs[Long]("n_copies") == b.getAs[Long]("n_copies"),
        s"$lang n_copies")
    }
    // the corpus must exercise BOTH directions of the knob: at least one
    // stratum repeats (epochs ≥ 1) and at least one downsamples
    assert(batch.values.exists(_.getAs[Long]("epochs") >= 1L))
    assert(batch.values.exists(r => r.getAs[Long]("epochs") == 0L &&
      r.getAs[Long]("rate_bp") < 10000L))
  }

  test("stream-static against a live remote dim sees UPDATEs between batches") {
    import spark.implicits._
    import java.nio.file.{Files, Paths, StandardCopyOption}
    import org.apache.spark.sql.functions.{col, count, lit}
    graft.federation.Federation.install(spark)
    val ex = graft.federation.jdbc.JdbcHarness.executor(spark, dir)
    graft.federation.jdbc.JdbcHarness.resetWriteTarget(spark, dir, "seg_dim",
      """"k" BIGINT, "seg" VARCHAR(16)""")
    val ref = graft.federation.sql.RemoteTableRef.parse("seg_dim")
    ex.insertInto(ref, Seq((0L, "OLD"), (1L, "OLD")).toDF("k", "seg"))
    // a federated frame as the STATIC side — re-planned (and re-fetched
    // from Derby) on every microbatch by the stream-static contract
    val dim = graft.federation.Federation.remoteDataFrame(spark, "seg_dim", ex)
    val tmp = Files.createTempDirectory("sfed").toString
    def writeEvents(name: String): Unit = {
      val scratch = Files.createTempDirectory("sfedw").toString
      Seq((0L, "click"), (1L, "view"))
        .toDF("user_id", "event_type")
        .coalesce(1).write.mode("overwrite").parquet(scratch)
      val part = new java.io.File(scratch).listFiles
        .filter(_.getName.endsWith(".parquet")).head
      Files.move(part.toPath, Paths.get(tmp, name),
        StandardCopyOption.REPLACE_EXISTING)
    }
    writeEvents("e1.parquet")
    val stream = spark.readStream
      .schema("user_id LONG, event_type STRING")
      .parquet(tmp)
      .join(dim, col("user_id") === col("k"))
      .groupBy(col("seg")).agg(count(lit(1)).as("n"))
    val ckpt = Files.createTempDirectory("sfedckpt").toString
    val q = stream.writeStream.outputMode("complete").format("memory")
      .queryName("sfed_out").option("checkpointLocation", ckpt).start()
    try {
      q.processAllAvailable()
      assert(spark.table("sfed_out").collect()
        .map(r => (r.getString(0), r.getLong(1))).toMap == Map("OLD" -> 2L))
      // remote UPDATE between batches — the NEXT batch must see it
      graft.federation.Federation.updateRemote(spark, "seg_dim", ex,
        Seq("seg" -> lit("NEW")), lit(true))
      writeEvents("e2.parquet")
      q.processAllAvailable()
      // batch-1 rows aggregated under OLD, batch-2 rows under NEW: the
      // dim was genuinely re-read (stale caching would show OLD -> 4)
      assert(spark.table("sfed_out").collect()
        .map(r => (r.getString(0), r.getLong(1))).toMap ==
        Map("OLD" -> 2L, "NEW" -> 2L))
    } finally q.stop()
  }

  test("web corpus chain: screens gate, dupes collapse to canonical source") {
    import spark.implicits._
    // passes BOTH screens: 'sort'/'query' become sentence breaks in the
    // C4 derivation (4 retained lines of >=5 words), and the raw text
    // satisfies every Gopher rule incl. two fixture required words
    val base = "the table row scan key part sort data line batch join " +
      "value sort hash window group merge the stream filter scan part " +
      "query batch value group key table sort row line data join the scan"
    val variant = base.replace("row", "line")
    val braced = base + " filter { scan"        // C4 page screen kills it
    val noreq = base.replace("the", "key").replace("table", "scan")
      .replace("value", "data").replace(" a ", " key ") // Gopher required-words kills it
    val docs = Seq(
      (0L, "s1", base),     // survivor, canonical of the dup pair
      (1L, "s2", base),     // exact dup -> collapses into s1's canonical
      (2L, "s1", variant),  // unique survivor
      (3L, "s2", braced),   // fails C4
      (4L, "s2", noreq))    // passes C4, fails Gopher
      .toDF("doc_id", "source", "text")
    def toks(s: String): Long =
      s.toLowerCase.split("\\s+").count(_.nonEmpty).toLong
    val got = operators.Pipeline.webCorpusOf(docs).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).toMap
    // s1: both docs pass both screens, both unique
    assert(got("s1") == (2L, 2L, 2L, 2L, toks(base) + toks(variant)))
    // s2: braced fails C4; noreq passes C4 but fails Gopher; the exact
    // dup survives the screens but its canonical lives in s1 — the
    // corpus-wide window charges the kept copy to s1, none to s2
    assert(got("s2") == (3L, 2L, 1L, 0L, 0L))
  }

  test("NB classifier matches a plain-Scala recompute and separates planted classes") {
    import spark.implicits._
    val dim = 256
    val rnd = new scala.util.Random(7)
    val good = Seq("alpha", "beta", "gamma", "delta", "epsilon")
    val bad = Seq("zeta", "eta", "theta", "iota", "kappa")
    val shared = Seq("the", "a", "of")
    def page(pool: Seq[String]): String = {
      val v = pool ++ shared
      Seq.fill(20)(v(rnd.nextInt(v.size))).mkString(" ")
    }
    val docs = (0 until 40).map { i =>
      val pos = i % 2 == 0
      (i.toLong, page(if (pos) good else bad),
        if (pos) "cur" else "crawl")
    }
    val df = docs.toDF("doc_id", "text", "source")
    val w = operators.Classifier.nbWeights(df, Seq("cur"), dim)
    // independent recompute: tokenize, md5 bucket, smoothed log-odds
    def bucket(tok: String): Int = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(tok.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      (java.lang.Long.parseLong(hex.take(6), 16) % dim).toInt
    }
    val cp = new Array[Long](dim)
    val cn = new Array[Long](dim)
    for ((_, text, src) <- docs;
        t <- text.toLowerCase.split("\\s+") if t.nonEmpty)
      if (src == "cur") cp(bucket(t)) += 1 else cn(bucket(t)) += 1
    import operators.Classifier.log2q10
    val kp = log2q10(cp.sum + dim)
    val kn = log2q10(cn.sum + dim)
    val refW = Array.tabulate(dim)(i =>
      (log2q10(cp(i) + 1) - kp) - (log2q10(cn(i) + 1) - kn))
    assert(w.toSeq == refW.toSeq)
    val scored = operators.Classifier.nbScoreCols(df, w, dim).collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(r.fieldIndex("score_q10")),
          r.getBoolean(r.fieldIndex("keep"))))).toMap
    for ((id, text, src) <- docs) {
      val s = text.toLowerCase.split("\\s+").filter(_.nonEmpty)
        .map(t => refW(bucket(t))).sum
      assert(scored(id) == ((s, s > 0)), s"doc $id")
      // and the planted classes actually separate
      assert(scored(id)._2 == (src == "cur"), s"doc $id from $src misclassified")
    }
  }

  test("logistic trainer: loss descends, planted classes separate") {
    import spark.implicits._
    val dim = 256
    val rnd = new scala.util.Random(11)
    val good = Seq("alpha", "beta", "gamma", "delta", "epsilon")
    val bad = Seq("zeta", "eta", "theta", "iota", "kappa")
    def page(pool: Seq[String]): String =
      Seq.fill(15)((pool :+ "the")(rnd.nextInt(pool.size + 1))).mkString(" ")
    val docs = (0 until 60).map { i =>
      val pos = i % 2 == 0
      (i.toLong, page(if (pos) good else bad), if (pos) 1 else 0)
    }
    val df = docs.toDF("doc_id", "text", "y")
    val (w, losses) =
      operators.Classifier.logregTrain(df, "y", dim = dim, iters = 6, lr = 4.0)
    assert(losses.head > losses.last,
      s"loss did not descend: ${losses.mkString(", ")}")
    val got = operators.Classifier.logregScore(df, w, dim).collect()
      .map(r => r.getLong(0) -> r.getBoolean(r.fieldIndex("keep"))).toMap
    val acc = docs.count { case (id, _, y) => got(id) == (y == 1) } /
      docs.size.toDouble
    assert(acc >= 0.95, s"train accuracy $acc")
  }

  test("C4 screens match an independent reference on 300 generated pages") {
    import spark.implicits._
    // independent plain-Scala recompute of every screen — any divergence
    // between the Column expressions and this reference is a real bug
    val badWords = Set("verboten")
    def ref(text: String): (Int, Int, Int, Boolean, Boolean, Boolean,
        Boolean, Boolean) = {
      val ls = text.split("\n", -1)
      def rstrip(s: String) = s.reverse.dropWhile(_ == ' ').reverse
      def words(s: String) =
        s.trim.split("\\s+").count(_.nonEmpty)
      val kept = ls.filter { l =>
        val r = rstrip(l)
        r.nonEmpty && ".!?\"".contains(r.last) && words(l) >= 5 &&
          !l.toLowerCase.contains("javascript")
      }
      val nSent = kept.mkString("\n").count(".!?".contains(_))
      val noLorem = !text.toLowerCase.contains("lorem ipsum")
      val noBrace = !text.contains("{")
      val noBad = text.toLowerCase.split("[^a-z]+")
        .filter(_.nonEmpty).toSet.intersect(badWords).isEmpty
      (ls.length, kept.length, nSent, noLorem, noBrace, noBad,
        nSent >= 3, nSent >= 3 && noLorem && noBrace && noBad)
    }
    val rnd = new scala.util.Random(41)
    val vocab = Seq("the", "cat", "lorem", "ipsum", "javascript", "Big",
      "x1", "{", "verboten", "verbotenheit", "wörd", "#", "a")
    val endings = Seq(".", "!", "?", "\"", "", "...", " .", ".extra")
    // a quarter of the lines end in \r (CRLF text): the screens strip
    // only spaces, so "… end.\r" is not a kept line
    def line(): String = {
      val n = rnd.nextInt(9)
      Seq.fill(n)(vocab(rnd.nextInt(vocab.size))).mkString(" ") +
        endings(rnd.nextInt(endings.size)) + (" " * rnd.nextInt(3)) +
        (if (rnd.nextInt(4) == 0) "\r" else "")
    }
    def page(): String =
      Seq.fill(rnd.nextInt(7))(line()).mkString("\n")
    val pages = (0L until 300L).map(i =>
      (i, if (i == 0) "" else page(), "gen"))
    val got = operators.TextOps
      .c4FiltersOf(pages.toDF("doc_id", "text", "source"),
        badWords = badWords.toSeq)
      .collect().map(r => r.getLong(0) ->
        (r.getInt(r.fieldIndex("n_lines")),
          r.getInt(r.fieldIndex("n_kept_lines")),
          r.getInt(r.fieldIndex("n_sentences")),
          r.getBoolean(r.fieldIndex("r_no_lorem")),
          r.getBoolean(r.fieldIndex("r_no_brace")),
          r.getBoolean(r.fieldIndex("r_no_badwords")),
          r.getBoolean(r.fieldIndex("r_min_sentences")),
          r.getBoolean(r.fieldIndex("keep")))).toMap
    for ((id, text, _) <- pages)
      assert(got(id) == ref(text), s"doc $id text=${text.take(120)}")
    // both outcomes of keep occurred across the generated corpus
    assert(got.values.map(_._8).toSet.size == 2)
  }

  test("JSONL round trip preserves hostile text exactly") {
    import spark.implicits._
    // the JSON hop must escape what parquet stored verbatim
    val docs = Seq(
      (0L, "line one\nline two\ttabbed", "nl"),
      (1L, "he said \"quote\" and \\backslash\\", "esc"),
      (2L, "unicode: héllo wörld — em–dash … ellipsis 你好", "uni"),
      (3L, "", "empty"),
      (4L, "{\"fake\": \"json\"} [brackets]", "jsonish"))
      .toDF("doc_id", "text", "source")
    val tmp = java.nio.file.Files.createTempDirectory("jsonl").toString
    graft.sources.Jsonl.write(docs, tmp, maxRecordsPerShard = 2L)
    val back = graft.sources.Jsonl.read(spark, tmp, docs.schema)
    val a = docs.collect().map(r => (r.getLong(0), r.getString(1),
      r.getString(2))).sortBy(_._1).toSeq
    val b = back.collect().map(r => (r.getLong(0), r.getString(1),
      r.getString(2))).sortBy(_._1).toSeq
    assert(a == b)
    // record budgeting genuinely sharded the write
    val shards = new java.io.File(tmp).listFiles
      .count(_.getName.endsWith(".json.gz"))
    assert(shards >= 2, s"expected >=2 shards, got $shards")
  }

  test("CSV round trip preserves hostile text exactly") {
    import spark.implicits._
    // commas, RFC 4180 quote doubling, embedded newlines, unicode — the
    // cases CSV is hostile to by construction
    val docs = Seq(
      (0L, "comma, separated, values", "comma"),
      (1L, "he said \"quote\" and \\backslash\\", "esc"),
      (2L, "line one\nline two\r\nwindows line", "nl"),
      (3L, "unicode: héllo wörld — em–dash … ellipsis 你好", "uni"),
      (4L, "\"leading quote, trailing\"", "edge"))
      .toDF("doc_id", "text", "source")
    val tmp = java.nio.file.Files.createTempDirectory("csvrt").toString
    graft.sources.Csv.write(docs, tmp, maxRecordsPerShard = 2L)
    val back = graft.sources.Csv.read(spark, tmp, docs.schema)
    val a = docs.collect().map(r => (r.getLong(0), r.getString(1),
      r.getString(2))).sortBy(_._1).toSeq
    val b = back.collect().map(r => (r.getLong(0), r.getString(1),
      r.getString(2))).sortBy(_._1).toSeq
    assert(a == b)
    // record budgeting genuinely sharded the write
    val shards = new java.io.File(tmp).listFiles
      .count(_.getName.endsWith(".csv"))
    assert(shards >= 2, s"expected >=2 shards, got $shards")
  }

  test("edit-distance verification matches a plain-Scala Levenshtein") {
    // independent DP recompute of every emitted pair — the operator's
    // thresholded levenshtein + integer normalization must agree exactly
    def lev(a: String, b: String): Int = {
      val prev = new Array[Int](b.length + 1)
      val cur = new Array[Int](b.length + 1)
      for (j <- 0 to b.length) prev(j) = j
      for (i <- 1 to a.length) {
        cur(0) = i
        for (j <- 1 to b.length)
          cur(j) = math.min(math.min(cur(j - 1) + 1, prev(j) + 1),
            prev(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
        Array.copy(cur, 0, prev, 0, b.length + 1)
      }
      prev(b.length)
    }
    val texts = graft.sources.Tables.documents(spark, dir)
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val rows = operators.Dedup.editDistPairs(spark, dir).collect()
    assert(rows.nonEmpty, "no candidate pairs at the fixture scale")
    for (r <- rows) {
      val (a, b) = (texts(r.getLong(0)), texts(r.getLong(1)))
      val d = lev(a, b)
      val maxLen = math.max(math.max(a.length, b.length), 1).toLong
      if (d <= 256) {
        assert(r.getInt(3) == d, s"pair ${r.getLong(0)}/${r.getLong(1)}")
        val sim = 1000000L - d * 1000000L / maxLen
        assert(r.getLong(4) == sim)
        assert(r.getBoolean(5) == (sim >= 600000L))
      } else {
        // over the edit budget: the banded algorithm abandoned the pair
        assert(r.isNullAt(3) && r.isNullAt(4) && !r.getBoolean(5))
      }
    }
    // the verification layer is not vacuous: est-jaccard candidates exist
    // whose edit similarity differs from the shingle estimate
    assert(rows.exists(r => !r.isNullAt(4) &&
      r.getLong(2) != r.getLong(4)))
  }

  test("NB PR curve equals a plain-Scala recompute from the scored gate") {
    val pos = Set("src0", "src1")
    val scored = operators.Classifier
      .nbQualityScore(spark, dir).collect()
      .map(r => (r.getLong(0), r.getInt(1).toLong, r.getLong(2)))
    val srcOf = graft.sources.Tables.documents(spark, dir)
      .select("doc_id", "source").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val grid = Seq(-700L, -680L, -660L, -640L, -620L, -600L, -580L, -560L)
    val want = grid.map { t =>
      var (tp, fp, fn, tn) = (0L, 0L, 0L, 0L)
      for ((id, nToks, score) <- scored) {
        val isPos = pos(srcOf(id))
        val keep = score > t * nToks
        if (keep && isPos) tp += 1 else if (keep) fp += 1
        else if (isPos) fn += 1 else tn += 1
      }
      val p = if (tp + fp > 0) Some(tp * 1000000L / (tp + fp)) else None
      val rc = if (tp + fn > 0) Some(tp * 1000000L / (tp + fn)) else None
      (t, tp, fp, fn, tn, p, rc)
    }
    val got = operators.Classifier.nbPrCurve(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4),
        if (r.isNullAt(5)) None else Some(r.getLong(5)),
        if (r.isNullAt(6)) None else Some(r.getLong(6)))).toSeq
    assert(got == want)
    // the curve actually sweeps: recall strictly monotone down the grid
    val recalls = got.flatMap(_._7)
    assert(recalls == recalls.sorted.reverse && recalls.toSet.size > 1)
  }

  test("native session_window matches a plain-Scala merge of the fixture") {
    val evs = graft.sources.Tables.events(spark, dir)
      .select(org.apache.spark.sql.functions.col("user_id"),
        org.apache.spark.sql.functions.col("ts").cast("timestamp")
          .cast("long").as("s"),
        org.apache.spark.sql.functions
          .unix_micros(org.apache.spark.sql.functions.col("ts")
            .cast("timestamp")).as("us"))
      .collect().map(r => (r.getLong(0), r.getLong(2)))
    val gapUs = 30L * 60 * 1000000
    // independent merge: sorted per user, break at diff >= gap
    val want = evs.groupBy(_._1).flatMap { case (u, xs) =>
      val ts = xs.map(_._2).sorted
      val sessions = scala.collection.mutable.ArrayBuffer
        .empty[scala.collection.mutable.ArrayBuffer[Long]]
      for (t <- ts) {
        if (sessions.nonEmpty && t < sessions.last.last + gapUs)
          sessions.last += t
        else sessions += scala.collection.mutable.ArrayBuffer(t)
      }
      sessions.map(s => (u, s.head, s.last + gapUs, s.size.toLong))
    }.toSet
    val got = operators.EventOps.sessionWindows(spark, dir)
      .select(org.apache.spark.sql.functions.col("user_id"),
        org.apache.spark.sql.functions
          .unix_micros(org.apache.spark.sql.functions
            .col("session_start").cast("timestamp")).as("a"),
        org.apache.spark.sql.functions
          .unix_micros(org.apache.spark.sql.functions
            .col("session_end").cast("timestamp")).as("b"),
        org.apache.spark.sql.functions.col("n_events"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSet
    assert(got == want)
  }

  test("ORC round trip is exact and filters push into the ORC scan") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val docs = Seq(
      (0L, "line one\nline two\ttabbed", "nl"),
      (1L, "he said \"quote\" and \\backslash\\", "esc"),
      (2L, "unicode: héllo wörld — em–dash … ellipsis 你好", "uni"),
      (3L, "", "empty"),
      (4L, "{\"fake\": \"json\"} [brackets]", "jsonish"))
      .toDF("doc_id", "text", "source")
    val tmp = java.nio.file.Files.createTempDirectory("orcrt").toString
    graft.sources.Orc.write(docs, tmp, sortCols = Seq("doc_id"))
    val back = graft.sources.Orc.read(spark, tmp, docs.schema)
    val a = docs.collect().map(r => (r.getLong(0), r.getString(1),
      r.getString(2))).sortBy(_._1).toSeq
    val b = back.collect().map(r => (r.getLong(0), r.getString(1),
      r.getString(2))).sortBy(_._1).toSeq
    assert(a == b)
    // the format's reason to exist: a predicate reaches the ORC scan as
    // a pushed filter (stripe-skippable), and projection prunes columns
    val q = back.filter(col("doc_id") === 2L).select(col("source"))
    val scan = q.queryExecution.executedPlan.toString()
      .linesIterator.filter(_.contains("FileScan orc")).mkString
    assert(scan.contains("PushedFilters: [IsNotNull(doc_id), EqualTo(doc_id,2)]"),
      scan)
    assert(!scan.contains("text"), s"projection did not prune text: $scan")
    assert(q.collect().map(_.getString(0)).toSeq == Seq("uni"))
  }

  test("recall report equals per-query set intersection of the top-k gates") {
    def sets(df: org.apache.spark.sql.DataFrame): Map[Long, Set[Long]] =
      df.collect().map(r => (r.getLong(r.fieldIndex("q_id")),
        r.getLong(r.fieldIndex("vec_id"))))
        .groupBy(_._1).map { case (q, xs) => q -> xs.map(_._2).toSet }
    val exact = sets(operators.Similarity.bruteForceTopK(spark, dir))
    val approx = Map(
      "ivf" -> sets(operators.Similarity.ivfTopK(spark, dir)),
      "pq" -> sets(operators.Similarity.pqTopK(spark, dir)))
    val got = operators.Similarity.recallReport(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(got.size == 2 * exact.size)
    for ((m, byQ) <- approx; (q, ex) <- exact) {
      val want = ex.intersect(byQ.getOrElse(q, Set.empty)).size * 1000000L / 10
      assert(got((m, q)) == want, s"$m q=$q")
    }
    // the report varies (an all-1e6 or all-0 report measures nothing)
    assert(got.values.toSet.size > 1)
  }

  test("streaming packing: offsets continue across microbatches per shard") {
    import spark.implicits._
    import java.nio.file.{Files, Paths, StandardCopyOption}
    val tmp = Files.createTempDirectory("spack").toString
    def doc(i: Long, n: Int) =
      (i, Seq.fill(n)("w").mkString(" "), "en", "s", n.toLong)
    def writeOne(docs: Seq[(Long, String, String, String, Long)],
        name: String): Unit = {
      val scratch = Files.createTempDirectory("spackw").toString
      docs.toDF("doc_id", "text", "lang", "source", "n_chars")
        .coalesce(1).write.mode("overwrite").parquet(scratch)
      val part = new java.io.File(scratch).listFiles
        .filter(_.getName.endsWith(".parquet")).head
      Files.move(part.toPath, Paths.get(tmp, name),
        StandardCopyOption.REPLACE_EXISTING)
    }
    val a = (0L to 5L).map(i => doc(i, 3 + i.toInt))
    val b = (10L to 15L).map(i => doc(i, 2 + i.toInt % 4))
    writeOne(a, "documents.parquet")
    writeOne(b, "documents2.parquet")
    // file source processes oldest-first: A is one microbatch, then B.
    // Both mtimes come from one clock read, so the order does not hang
    // on how long the writes took
    val now = System.currentTimeMillis
    Seq("documents.parquet" -> 60000L, "documents2.parquet" -> 0L).foreach {
      case (name, ageMs) => Files.setLastModifiedTime(Paths.get(tmp, name),
        java.nio.file.attribute.FileTime.fromMillis(now - ageMs))
    }
    val sdf = graft.streaming.StreamOps.packingStream(spark, tmp,
      seqLen = 8, nShards = 2, glob = "documents*.parquet",
      maxFilesPerTrigger = Some(1))
    val ckpt = Files.createTempDirectory("spackckpt").toString
    val q = sdf.writeStream.outputMode("append").format("memory")
      .queryName("spack_out").option("checkpointLocation", ckpt).start()
    q.processAllAvailable(); q.stop()
    val rows = spark.table("spack_out").collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))
    assert(rows.length == a.length + b.length)
    def shard(id: Long): Long = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(id.toString.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex.take(14), 16) % 2
    }
    // replicate: batch A first, then B; within a batch by doc_id per shard
    val offsets = scala.collection.mutable.Map.empty[Long, Long]
    val expStart = scala.collection.mutable.Map.empty[Long, Long]
    for (batch <- Seq(a, b); d <- batch.sortBy(_._1)) {
      val sh = shard(d._1)
      val off = offsets.getOrElse(sh, 0L)
      expStart(d._1) = off
      offsets(sh) = off + d._5
    }
    rows.foreach { case (id, sh, n, start, sf, sl) =>
      assert(sh == shard(id), s"doc $id shard")
      assert(start == expStart(id),
        s"doc $id start $start != ${expStart(id)}")
      assert(sf == start / 8 && sl == (start + n - 1) / 8, s"doc $id span")
    }
    // the continuation genuinely engaged: every file-B doc starts at the
    // offset file A's shard slice left behind (non-zero for used shards)
    assert(b.exists(d => expStart(d._1) > 0), "no cross-batch continuation")
  }

  test("bounded stream dedup: state evicts past the horizon, re-arrival re-emits") {
    import spark.implicits._
    import java.nio.file.{Files, Paths, StandardCopyOption}
    import java.sql.Timestamp
    val tmp = Files.createTempDirectory("sbdedup").toString
    def ts(hhmm: String) = Timestamp.valueOf(s"2024-01-01 $hhmm:00")
    def ev(id: Long, t: String, u: Long, ty: String)
        : (Long, Timestamp, Long, String, Double, String) =
      (id, ts(t), u, ty, 1.0, "{}")
    // every mtime is derived from one clock read: a clock read per file
    // would make the order depend on how long the parquet writes take
    val now = System.currentTimeMillis
    def writeOne(evs: Seq[(Long, Timestamp, Long, String, Double, String)],
        name: String, ageMs: Long): Unit = {
      val scratch = Files.createTempDirectory("sbdw").toString
      evs.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .coalesce(1).write.mode("overwrite").parquet(scratch)
      val part = new java.io.File(scratch).listFiles
        .filter(_.getName.endsWith(".parquet")).head
      Files.move(part.toPath, Paths.get(tmp, name),
        StandardCopyOption.REPLACE_EXISTING)
      Files.setLastModifiedTime(Paths.get(tmp, name),
        java.nio.file.attribute.FileTime
          .fromMillis(now - ageMs))
    }
    // batch A: 5 distinct keys, one repeated in-batch (dropped exactly);
    // batch B advances the watermark past A's horizon; batch C's commit
    // evicts A's expired keys (eviction applies the watermark B
    // established); batch D re-sends key (1,"a") — its state is gone, so
    // it must RE-emit (the documented within-horizon contract)
    writeOne(Seq(ev(1, "10:00", 1, "a"), ev(2, "10:00", 1, "a"),
      ev(3, "10:00", 2, "a"), ev(4, "10:01", 3, "a"),
      ev(5, "10:01", 4, "a"), ev(6, "10:02", 5, "a")),
      "events.parquet", 120000)
    writeOne(Seq(ev(7, "11:00", 10, "b"), ev(8, "11:00", 11, "b")),
      "events2.parquet", 90000)
    writeOne(Seq(ev(9, "12:00", 12, "b")), "events3.parquet", 60000)
    writeOne(Seq(ev(10, "13:00", 1, "a")), "events4.parquet", 30000)
    val sdf = graft.streaming.StreamOps.dedupBoundedStream(spark, tmp,
      delay = "10 minutes", glob = "events*.parquet",
      maxFilesPerTrigger = Some(1))
    val ckpt = Files.createTempDirectory("sbdckpt").toString
    val q = sdf.writeStream.outputMode("append").format("memory")
      .queryName("sbdedup_out").option("checkpointLocation", ckpt).start()
    q.processAllAvailable()
    val progress = q.recentProgress.toSeq
    q.stop()
    val out = spark.table("sbdedup_out").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    // in-batch duplicate (1,a) in A emitted once; across the evicted
    // horizon it emits AGAIN in D — exactly twice in total
    assert(out.count(_ == ((1L, "a"))) == 2, out.sortBy(_._1).toString)
    assert(out.size == 5 + 2 + 1 + 1, out.sortBy(_._1).toString)
    // the state store genuinely shrank: A's five keys expired (10:00 +
    // 10 min < the 10:50 watermark B established), so the final state
    // holds only B's and C's keys — bounded by the horizon, not history
    val stateRows = progress.flatMap(_.stateOperators.toSeq)
      .filter(_.operatorName.contains("dedupe"))
      .map(_.numRowsTotal)
    assert(stateRows.nonEmpty, progress.map(_.json).mkString("\n"))
    assert(stateRows.max >= 5 && stateRows.last <= 4,
      s"state rows per batch: $stateRows — no eviction happened")
  }

  test("stream session_window merges a session ACROSS microbatches") {
    import spark.implicits._
    import java.nio.file.{Files, Paths, StandardCopyOption}
    import java.sql.Timestamp
    val tmp = Files.createTempDirectory("sswin").toString
    def ts(hhmm: String) = Timestamp.valueOf(s"2024-01-01 $hhmm:00")
    def ev(id: Long, t: String, u: Long)
        : (Long, Timestamp, Long, String, Double, String) =
      (id, ts(t), u, "x", 1.0, "{}")
    // every mtime is derived from one clock read: a clock read per file
    // would make the order depend on how long the parquet writes take
    val now = System.currentTimeMillis
    def writeOne(evs: Seq[(Long, Timestamp, Long, String, Double, String)],
        name: String, ageMs: Long): Unit = {
      val scratch = Files.createTempDirectory("sswinw").toString
      evs.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .coalesce(1).write.mode("overwrite").parquet(scratch)
      val part = new java.io.File(scratch).listFiles
        .filter(_.getName.endsWith(".parquet")).head
      Files.move(part.toPath, Paths.get(tmp, name),
        StandardCopyOption.REPLACE_EXISTING)
      Files.setLastModifiedTime(Paths.get(tmp, name),
        java.nio.file.attribute.FileTime
          .fromMillis(now - ageMs))
    }
    // batch A: user 1 events 10:00 + 10:10 (one open session), user 2 at
    // 10:00; batch B: user 1 at 10:30 — within the 30-min gap of 10:10,
    // so the state-store sessionization must EXTEND A's session — and
    // user 2 at 12:00, past the gap: a genuinely new session
    writeOne(Seq(ev(1, "10:00", 1), ev(2, "10:10", 1), ev(3, "10:00", 2)),
      "events.parquet", 60000)
    writeOne(Seq(ev(4, "10:30", 1), ev(5, "12:00", 2)),
      "eventsB.parquet", 30000)
    val sdf = graft.streaming.StreamOps.sessionWindowStream(spark, tmp,
      glob = "events*.parquet", maxFilesPerTrigger = Some(1))
    val ckpt = Files.createTempDirectory("sswinckpt").toString
    val q = sdf.writeStream.outputMode("complete").format("memory")
      .queryName("sswin_out").option("checkpointLocation", ckpt).start()
    q.processAllAvailable()
    val nBatches = q.recentProgress.count(_.numInputRows > 0)
    q.stop()
    val got = spark.table("sswin_out").collect()
      .map(r => (r.getLong(0),
        r.getAs[java.time.LocalDateTime](1).toString,
        r.getAs[java.time.LocalDateTime](2).toString, r.getLong(3))).toSet
    assert(nBatches >= 2, s"drip-feed did not split batches: $nBatches")
    assert(got == Set(
      // user 1: ONE merged session 10:00 → 10:30+gap, 3 events — the
      // cross-batch extension, not two fragments
      (1L, "2024-01-01T10:00", "2024-01-01T11:00", 3L),
      (2L, "2024-01-01T10:00", "2024-01-01T10:30", 1L),
      (2L, "2024-01-01T12:00", "2024-01-01T12:30", 1L)), got)
  }

  test("temperature mixture: exact integer weights, flattens the distribution") {
    val rows = operators.Sampling.temperatureMixture(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))
    assert(rows.length > 1)
    // independent recompute of the weight chain
    val sq = rows.map(r => r._1 -> math.floor(math.sqrt(r._2.toDouble)).toLong).toMap
    val tot = sq.values.sum
    rows.foreach { case (l, nt, w, quota, bp, samp) =>
      assert(w == sq(l) * 1000000L / tot, s"$l weight")
      assert(samp <= nt && quota <= nt && bp <= 10000L)
    }
    // the temperature property: √n compresses — a bigger stratum never
    // gets a smaller weight, and the squared weight ratio stays below
    // the count ratio up to integer-sqrt flooring slack: sq_a² ≤ n_a and
    // n_b < (sq_b+1)² give sq_a²·n_b < n_a·(sq_b+1)² unconditionally
    for (a <- rows; b <- rows if a._2 > b._2) {
      assert(a._3 >= b._3, s"${a._1} vs ${b._1}: weight order")
      val (sa, sb) = (sq(a._1), sq(b._1))
      assert(sa * sa * b._2 < a._2 * (sb + 1) * (sb + 1),
        s"${a._1}/${b._1}: no flattening")
    }
  }

  test("stream IVF ingest assigns every vector to the batch index's cell") {
    // the in-row argmax over the centroid literal must agree with the
    // batch broadcast-join + window top-1, tie-breaks included
    val want = operators.Similarity.ivfAssignments(spark, dir)
      .groupBy(org.apache.spark.sql.functions.col("cell"))
      .agg(org.apache.spark.sql.functions.count(
          org.apache.spark.sql.functions.lit(1)).as("n"),
        org.apache.spark.sql.functions.min(
          org.apache.spark.sql.functions.col("vec_id")).as("lo"),
        org.apache.spark.sql.functions.max(
          org.apache.spark.sql.functions.col("vec_id")).as("hi"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSet
    val got = graft.streaming.StreamOps.runIvfAssignToMemory(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSet
    assert(got == want)
    // multiple cells genuinely populated (an all-one-cell index is broken)
    assert(got.size > 1)
  }

  test("datasheet conserves docs/dups/kept across its component reports") {
    import org.apache.spark.sql.functions.col
    val ds = operators.Pipeline.datasheet(spark, dir).collect()
    val nDocs = graft.sources.Tables.documents(spark, dir).count()
    assert(ds.map(_.getLong(1)).sum == nDocs, "doc totals must tile corpus")
    // dup exposure total = docs living in multi-member clusters
    val labels = operators.Dedup.components(spark, dir)
      .select(col("doc_id"), col("component")).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val dupDocs = labels.groupBy(_._2).values.filter(_.length > 1)
      .map(_.length).sum
    assert(ds.map(_.getLong(4)).sum == dupDocs, "dup exposure mismatch")
    // gopher pass total = the rule gate's own keep count
    val kept = operators.TextOps.gopherRules(spark, dir,
        requiredWords = operators.TextOps.gopherFixtureWords)
      .filter(col("keep")).count()
    assert(ds.map(_.getLong(5)).sum == kept, "gopher keep mismatch")
    // the LM-trained source scores itself as most reference-like
    val means = ds.filter(!_.isNullAt(6))
      .map(r => r.getString(0) -> r.getLong(6)).toMap
    assert(means.contains("src0") && means("src0") == means.values.min,
      means.toString)
  }

  test("threshold curve: pair totals conserve, 0.7-cut band matches dedup") {
    val curve = operators.Dedup.thresholdCurve(spark, dir).collect()
    assert(curve.map(_.getInt(0)).forall(a => a >= 0 && a <= 64))
    // Σ pairs over the curve = every LSH-colliding pair once
    val all = operators.Dedup.minhashCandidates(spark, dir, 0.0).count()
    assert(curve.map(_.getLong(1)).sum == all)
    // agreement >= 45 ⇔ est_jaccard >= 0.7 (45/64 is the first level
    // over the cut) — the curve must predict the dedup pair count
    val at07 = operators.Dedup.minhashCandidates(spark, dir, 0.7).count()
    assert(curve.filter(_.getInt(0) >= 45).map(_.getLong(1)).sum == at07)
    // ppm column is the exact rational
    curve.foreach(r =>
      assert(r.getLong(2) == r.getInt(0) * 1000000L / 64))
  }

  test("containment finds the excerpt MinHash dedup structurally misses") {
    import spark.implicits._
    val long = (1 to 40).map(i => s"w$i").mkString(" ")
    val excerpt = (10 to 19).map(i => s"w$i").mkString(" ")
    val tmp = java.nio.file.Files.createTempDirectory("contain").toString
    Seq(
      (0L, long, "en", "s", 1L),
      (1L, excerpt, "en", "s", 1L),
      (2L, "totally different words here entirely", "en", "s", 1L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val got = operators.Dedup.containment(spark, tmp).collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    // the 10-token excerpt is FULLY contained in the long doc...
    assert(got.contains((1L, 0L)), got.toString)
    val (nc, common, ppm) = got((1L, 0L))
    assert(nc == 8 && common == 8 && ppm == 1000000L, got((1L, 0L)).toString)
    // ...the reverse direction (8 of 38 shingles) is below the bar...
    assert(!got.contains((0L, 1L)))
    // ...and symmetric-Jaccard LSH at the dedup threshold NEVER pairs
    // them (J = 8/38 ≈ 0.21) — the case this operator exists for
    val lsh = operators.Dedup.minhashCandidates(spark, tmp, 0.7).collect()
    assert(!lsh.exists(r => r.getLong(0) == 0L && r.getLong(1) == 1L),
      "LSH unexpectedly paired the excerpt")
    SessionCache.release(tmp)
  }

  test("priority keep: every cluster keeps its best-source member exactly once") {
    import org.apache.spark.sql.functions.col
    val kept = operators.Dedup.priorityKeep(spark, dir).collect()
    val labels = operators.Dedup.components(spark, dir)
      .select(col("doc_id"), col("component")).collect()
      .map(r => r.getLong(0) -> r.getLong(1))
    val srcRank = graft.sources.Tables.documents(spark, dir)
      .select(col("doc_id"), col("source")).collect()
      .map(r => r.getLong(0) -> r.getString(1).drop(3).toInt).toMap
    val byComp = labels.groupBy(_._2).view.mapValues(_.map(_._1)).toMap
    // one keep row per component, covering every component
    assert(kept.length == byComp.size)
    assert(kept.map(_.getLong(0)).toSet == byComp.keySet)
    kept.foreach { r =>
      val (comp, id, rank, n) =
        (r.getLong(0), r.getLong(1), r.getInt(3), r.getLong(4))
      val members = byComp(comp)
      assert(n == members.length, r.toString)
      val bestRank = members.map(srcRank).min
      assert(rank == bestRank, s"comp $comp kept rank $rank != $bestRank")
      // tie-break: smallest doc_id among best-rank members
      assert(id == members.filter(m => srcRank(m) == bestRank).min,
        r.toString)
    }
    // the fixture has real multi-member, multi-source clusters
    assert(kept.exists(r => r.getLong(4) > 1), "no multi-member cluster")
  }

  test("DSIR: target-domain docs outscore off-domain, quota selects by (score, id)") {
    import spark.implicits._
    // target domain speaks {a,b}; off-domain speaks {x,y}. Buckets of the
    // five distinct bigrams are collision-free under md5 % 256 (checked).
    val tmp = java.nio.file.Files.createTempDirectory("dsir").toString
    Seq(
      (0L, "a b a b a b", "en", "tgt", 11L),   // the target slice itself
      (1L, "a b a b", "en", "pool", 7L),       // pure target-like
      (2L, "x y x y", "en", "pool", 7L),       // pure off-domain
      (3L, "z", "en", "pool", 1L),             // unscorable (no bigram)
      (4L, "a b x y", "en", "pool", 7L))       // mixed
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val got = operators.Sampling
      .dsirSelect(spark, tmp, targetSource = "tgt", keepPpm = 500000L)
      .collect().map(r => r.getLong(0) ->
        ((r.getInt(1), if (r.isNullAt(2)) None else Some(r.getLong(2)),
          r.getBoolean(3)))).toMap
    // docs 0 and 1 carry only target bigrams → the two top scores (their
    // means differ slightly: different ab/ba multiplicity mixes)
    // ordering: target-like > mixed > off-domain
    assert(got(0L)._2.get > got(4L)._2.get, s"${got(0L)} vs ${got(4L)}")
    assert(got(1L)._2.get > got(4L)._2.get, s"${got(1L)} vs ${got(4L)}")
    assert(got(4L)._2.get > got(2L)._2.get, s"${got(4L)} vs ${got(2L)}")
    // unscorable doc: zero grams, NULL score, never selected
    assert(got(3L) == ((0, None, false)), got(3L).toString)
    // quota = floor(4 scorable * 0.5) = 2 → the tied top pair wins by id
    assert(got.filter(_._2._3).keySet == Set(0L, 1L),
      got.mkString(", "))
  }

  test("vocab growth: curve monotone, endpoints equal corpus totals") {
    import org.apache.spark.sql.functions.{col, explode, lower, split}
    val curve = operators.TextOps.vocabGrowth(spark, dir).collect()
    // buckets ordered, cumulative columns strictly bookkeeping-consistent
    val buckets = curve.map(_.getLong(0))
    assert(buckets.sameElements(buckets.sorted))
    var (ct, cy) = (0L, 0L)
    curve.foreach { r =>
      ct += r.getLong(2); cy += r.getLong(3)
      assert(r.getLong(4) == ct && r.getLong(5) == cy, r.toString)
    }
    // endpoint = corpus totals: token count and distinct type count
    val docs = graft.sources.Tables.documents(spark, dir)
    val toks = docs.select(explode(
      org.apache.spark.sql.functions.filter(
        split(lower(col("text")), "\\s+"), t => t =!= "")).as("w"))
    assert(ct == toks.count(), "cumulative tokens != corpus tokens")
    assert(cy == toks.distinct().count(), "cumulative types != vocabulary")
    assert(curve.map(_.getLong(1)).sum == docs.count())
    // Heaps: growth decelerates — the last bucket adds fewer new types
    // than the first (the fixture's vocabulary saturates quickly)
    assert(curve.last.getLong(3) < curve.head.getLong(3))
  }

  test("novelty: first doc fully novel, totals conserve the shingle universe") {
    import org.apache.spark.sql.functions.col
    val rows = operators.TextOps.novelty(spark, dir).collect()
    val byId = rows.map(r => r.getLong(0) -> r).toMap
    // the smallest doc_id sees every one of its shingles first
    val first = byId(rows.map(_.getLong(0)).min)
    assert(first.getLong(1) == first.getLong(2), first.toString)
    assert(first.getLong(3) == 1000000L, first.toString)
    // Σ n_novel = the global distinct shingle count (each shingle is
    // first-seen exactly once)
    import graft.functions.PortableHashExprs
    val universe = graft.sources.Tables.documents(spark, dir)
      .select(org.apache.spark.sql.functions.explode(
        PortableHashExprs.portable_shingles(col("text"), 3)).as("s"))
      .filter(col("s") =!= "").distinct().count()
    assert(rows.map(_.getLong(2)).sum == universe,
      s"novel sum ${rows.map(_.getLong(2)).sum} != universe $universe")
    // ratios bounded and exact
    rows.filter(!_.isNullAt(3)).foreach { r =>
      assert(r.getLong(3) == r.getLong(2) * 1000000L / r.getLong(1))
    }
    // the fixture's near-dup replicas give SOME doc a sub-half novelty
    assert(rows.exists(r => !r.isNullAt(3) && r.getLong(3) < 500000L),
      "no low-novelty doc — dedup fixture should produce one")
  }

  test("gopher rules: each rule trips on exactly its planted violation") {
    import spark.implicits._
    // The parquet fixture has no newlines/symbols/numeric tokens, so the
    // line/symbol/alpha rules are exercised here on planted docs.
    val docs = Seq(
      // 0: clean prose — every rule passes (words 8, mean len in [3,10])
      (0L, "the cat sat with the small grey dog", "clean"),
      // 1: bullet-heavy — 3 of 4 lines start with a bullet (> 10%)
      (1L, "- one item here\n- two item here\n* three item here\nplain tail line the cat", "bullet"),
      // 2: ellipsis-heavy — 2 of 3 lines end with '...' (> 30%)
      (2L, "to be continued...\nmore coming soon...\nthe plain cat line", "ellipsis"),
      // 3: symbol-heavy — 4 symbols over 6 words (> 1/10)
      (3L, "# # heading # mark # the cat sat", "symbol"),
      // 4: numeric soup — 2 alpha words of 7 (< 80%)
      (4L, "1 2 3 4 5 the cat", "numeric"),
      // 5: single-char tokens — mean word length 1 (< 3)
      (5L, "a b c d e f g h", "shortwords"),
      // 6: oversized words — mean word length > 10
      (6L, "extraordinarily incomprehensible uncharacteristically demonstrations", "longwords"),
      // 7: too short — word count below the minimum
      (7L, "the cat", "short"),
      // 8: no required words at all
      (8L, "big red fox runs over nine lazy dogs", "norequired"))
      .toDF("doc_id", "text", "source")
    val got = operators.TextOps
      .gopherRulesOf(docs, minWords = 4, maxWords = 50,
        requiredWords = Seq("the", "cat", "with", "sat"))
      .collect().map(r => r.getLong(0) -> r).toMap
    def rules(id: Long): Seq[Boolean] =
      (3 to 9).map(i => got(id).getBoolean(i))
    val names = Seq("word_count", "mean_word_len", "symbol_ratio",
      "bullet_lines", "ellipsis_lines", "alpha_words", "required_words")
    // doc 0 passes everything, incl. the aggregate keep column
    assert(rules(0L).forall(identity) && got(0L).getBoolean(10))
    // every planted violation trips EXACTLY its own rule
    val expectFail = Map(1L -> "bullet_lines", 2L -> "ellipsis_lines",
      3L -> "symbol_ratio", 4L -> "alpha_words", 5L -> "mean_word_len",
      6L -> "mean_word_len", 7L -> "word_count", 8L -> "required_words")
    for ((id, rule) <- expectFail) {
      val failed = names.zip(rules(id)).filterNot(_._2).map(_._1)
      // short docs legitimately co-trip word_count/required thresholds
      assert(failed.contains(rule), s"doc $id: expected $rule among $failed")
      assert(!got(id).getBoolean(10), s"doc $id keep should be false")
    }
    // doc 6's long words also violate ONLY mean_word_len besides count
    assert(names.zip(rules(6L)).filterNot(_._2).map(_._1)
      .forall(Set("mean_word_len", "required_words")))
    // every rule column sees both outcomes across the planted set
    for (i <- 3 to 9)
      assert(got.values.map(_.getBoolean(i)).toSet.size == 2,
        s"rule column $i never exercised both ways")
  }

  test("C4 filters: each screen trips on exactly its planted violation") {
    import spark.implicits._
    // The parquet fixture has no newlines/punctuation (the gate derives
    // them), so the published-parameter screens are exercised here on
    // planted pages. Published defaults: lines need >=5 words + terminal
    // punctuation, pages need >=3 sentences.
    val good = "the quick brown fox jumps over the fence."
    val docs = Seq(
      // 0: clean three-sentence page — keep
      (0L, s"$good\n$good\n$good", "clean"),
      // 1: a quote-terminated line IS retained (terminal punct incl. ")
      (1L, s"$good\n$good\nhe said \"the cat sat on the mat.\"", "quote"),
      // 2: the javascript line drops; three good lines remain — keep
      (2L, s"$good\nplease enable JavaScript to view this page.\n$good\n$good",
        "js"),
      // 3: lorem ipsum anywhere on the page kills it
      (3L, s"$good\n$good\nlorem ipsum dolor sit amet and so forth on.",
        "lorem"),
      // 4: a curly brace anywhere on the page kills it
      (4L, s"$good\n$good\na brace { appears within this long sentence.",
        "brace"),
      // 5: a blocklisted word kills the page
      (5L, s"$good\n$good\nthe verboten word appears right here today.",
        "bad"),
      // 6: blocklist matches WORDS, not substrings — keep
      (6L, s"$good\n$good\nthe verbotenheit compound is a different word.",
        "badsub"),
      // 7: short lines (<5 words) drop; only two sentences survive
      (7L, s"$good\n$good\ntiny line here.", "short"),
      // 8: unterminated lines drop entirely
      (8L, "the quick brown fox jumps over the fence\nno punctuation here" +
        "\nstill none", "unterminated"))
      .toDF("doc_id", "text", "source")
    val got = operators.TextOps
      .c4FiltersOf(docs, badWords = Seq("verboten"))
      .collect().map(r => r.getLong(0) -> r).toMap
    def b(id: Long, c: String) = got(id).getBoolean(got(id).fieldIndex(c))
    def i(id: Long, c: String) = got(id).getInt(got(id).fieldIndex(c))
    // clean page: everything passes, all lines retained
    assert(b(0L, "keep") && i(0L, "n_kept_lines") == 3 &&
      i(0L, "n_sentences") == 3)
    // quote-terminated line retained; its embedded '.' counts the sentence
    assert(b(1L, "keep") && i(1L, "n_kept_lines") == 3 &&
      i(1L, "n_sentences") == 3)
    // javascript: ONLY that line dropped, page survives
    assert(b(2L, "keep") && i(2L, "n_lines") == 4 &&
      i(2L, "n_kept_lines") == 3)
    for ((id, rule) <- Seq(3L -> "r_no_lorem", 4L -> "r_no_brace",
        5L -> "r_no_badwords")) {
      assert(!b(id, rule), s"doc $id: $rule should trip")
      assert(!b(id, "keep"), s"doc $id keep should be false")
      // page screens are independent of the line screens
      assert(b(id, "r_min_sentences"), s"doc $id sentences unaffected")
    }
    // substring of a blocklisted word does NOT trip the word screen
    assert(b(6L, "r_no_badwords") && b(6L, "keep"))
    // short/unterminated lines starve the sentence minimum
    assert(!b(7L, "r_min_sentences") && i(7L, "n_kept_lines") == 2 &&
      !b(7L, "keep"))
    assert(i(8L, "n_kept_lines") == 0 && i(8L, "n_sentences") == 0 &&
      !b(8L, "keep"))
    // every screen column sees both outcomes across the planted set
    for (c <- Seq("r_min_sentences", "r_no_lorem", "r_no_brace",
        "r_no_badwords", "keep"))
      assert(got.values.map(r => r.getBoolean(r.fieldIndex(c)))
        .toSet.size == 2, s"screen $c never exercised both ways")
  }

  test("c4KeepOf equals the frame's keep on the gate corpus") {
    import org.apache.spark.sql.functions.col
    val docs = operators.TextOps.c4GateDocs(spark, dir)
    val frame = operators.TextOps.c4FiltersFrame(docs,
      badWords = operators.TextOps.c4GateBadWords)
    val folded = docs.select(col("doc_id"), operators.TextOps.c4KeepOf(
      col("text"), badWords = operators.TextOps.c4GateBadWords).as("k"))
    val joined = frame.select(col("doc_id"), col("keep")).join(folded, "doc_id")
    assert(joined.filter(col("keep") =!= col("k")).count() == 0)
    assert(joined.filter(col("keep")).count() > 0)
  }

  test("repetition rules: planted dups trip exactly the published screens") {
    import spark.implicits._
    val clean = (0 until 30).map(i => f"t$i%02d").mkString(" ")
    val phrase = (1 to 10).map(i => f"q$i%02d").mkString(" ")
    val filler = (1 to 30).map(i => f"f$i%02d").mkString(" ")
    val docs = Seq(
      // 0: 30 distinct tokens, one line — every fraction ~0, keep
      (0L, clean, "clean"),
      // 1: a repeated line — 1/3 lines dup, 5/24 line chars dup
      (1L, "x1 y1\nx1 y1\nz1 a b c d e f", "dupline"),
      // 2: a repeated paragraph
      (2L, "p q r\n\np q r\n\ns t u", "duppara"),
      // 3: one 2-gram is 20/26 of the chars
      (3L, "ab cd ab cd ab cd ab cd xx", "gram2"),
      // 4: a 10-token phrase repeated once in long filler — trips the
      //    dup 5..10-gram screens while every top-k screen passes
      (4L, s"$phrase $phrase $filler", "phrasedup"),
      // 5: empty text — all denominators guard to 0, keep
      (5L, "", "empty"))
      .toDF("doc_id", "text", "source")
    val got = operators.TextOps.repetitionRulesOf(docs)
      .collect().map(r => r.getLong(0) -> r).toMap
    def f(id: Long, c: String) =
      got(id).getLong(got(id).fieldIndex(c))
    def r(id: Long, c: String) =
      got(id).getBoolean(got(id).fieldIndex(c))

    // doc 0: clean — keep, and the top-2-gram fraction is exactly the
    // longest gram's 7 chars over 119 text chars
    assert(r(0L, "keep"))
    assert(f(0L, "top2gram_ppm") == 7L * 1000000L / 119L)
    assert(f(0L, "dup5gram_ppm") == 0L && f(0L, "dup_line_ppm") == 0L)

    // doc 1: lines [5,5,14] chars with one dup — 333333 ppm lines,
    // 208333 ppm chars; both line screens trip, para screens don't
    assert(f(1L, "dup_line_ppm") == 333333L)
    assert(f(1L, "dup_line_char_ppm") == 208333L)
    assert(!r(1L, "r_dup_lines") && !r(1L, "r_dup_line_chars"))
    assert(r(1L, "r_dup_paras") && r(1L, "r_dup_para_chars"))

    // doc 2: 1 of 3 paragraphs duplicated
    assert(f(2L, "dup_para_ppm") == 333333L)
    assert(!r(2L, "r_dup_paras") && !r(2L, "r_dup_para_chars"))

    // doc 3: "ab cd" x4 = 20 of 26 chars
    assert(f(3L, "top2gram_ppm") == 20L * 1000000L / 26L)
    assert(!r(3L, "r_top2gram"))

    // doc 4: 50 tokens x 3 chars + 49 spaces = 199 chars; the repeated
    // 10-gram (39 chars) trips dup10 (>10%) while the heaviest 4-gram
    // (2 x 15 chars = 30) stays under the 16% top-4 screen
    assert(f(4L, "dup10gram_ppm") == 39L * 1000000L / 199L)
    assert(r(4L, "r_top2gram") && r(4L, "r_top3gram") && r(4L, "r_top4gram"))
    (5 to 10).foreach(n => assert(!r(4L, s"r_dup${n}gram"), s"dup$n"))
    assert(!r(4L, "keep"))

    // doc 5: empty text — zero denominators never divide, doc keeps
    assert(r(5L, "keep"))
    (Seq("dup_line_ppm", "dup_line_char_ppm", "top2gram_ppm",
      "dup10gram_ppm")).foreach(c => assert(f(5L, c) == 0L, c))
  }

  test("bloom decontaminate equals the exact path, even undersized") {
    import org.apache.spark.sql.functions._
    val exact = operators.Dedup.decontaminate(spark, dir).collect().toSeq
    // right-sized filter
    val bloom = operators.Dedup.decontaminateBloom(spark, dir).collect().toSeq
    assert(bloom == exact, "bloom-screened result diverged from exact")
    // a deliberately undersized filter (64 bits, k=2) floods the confirm
    // join with false positives — the result must STILL be exact, because
    // the bloom is only ever a prefilter and misses are impossible
    // (build and probe share one hash kernel)
    val tiny = operators.Dedup
      .decontaminateBloom(spark, dir, mBits = 64, k = 2).collect().toSeq
    assert(tiny == exact, "undersized bloom changed the result")
  }

  test("bloom screen admits every truly contaminated doc as a candidate") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val docs = graft.sources.Tables.documents(spark, dir)
    val exact = operators.Dedup.decontaminate(spark, dir)
      .filter(col("n_overlap") > 0).select("doc_id")
      .as[Long].collect().toSet
    // rebuild the screen frame exactly as the operator does
    val bench = docs.filter(col("source") === "src0")
      .select(explode(operators.Dedup.shingles(col("text"), 3)).as("shingle"))
      .distinct()
    val mBits = 1 << 20
    val bits = bench.select(explode(graft.functions.PortableHashExprs
      .bloom_positions(col("shingle"), mBits, 5)).as("p"))
      .distinct().as[Long].collect()
    val arr = new Array[Byte]((mBits + 7) / 8)
    bits.foreach(p => arr((p >>> 3).toInt) =
      (arr((p >>> 3).toInt) | (1 << (p & 7L).toInt)).toByte)
    val cands = docs.filter(col("source") =!= "src0")
      .select(col("doc_id"), graft.functions.PortableHashExprs
        .bloom_screen(col("text"), arr, mBits, 5, 3).as("sc"))
      .filter(col("sc.n_candidates") > 0).select("doc_id")
      .as[Long].collect().toSet
    assert(exact.subsetOf(cands),
      s"false negative: ${exact -- cands} missed by the bloom screen")
  }

  test("bpe trainer reproduces the published low/lower/newest/widest run") {
    import spark.implicits._
    // Sennrich et al. 2016's worked example: with freqs low 5, lower 2,
    // newest 6, widest 3 the first merges are (e,s) 9, (es,t) 9,
    // (est,</w>) 9, (l,o) 7, (lo,w) 7 under the deterministic
    // (count DESC, left ASC, right ASC) tie-break.
    val corpus = (Seq.fill(5)("low") ++ Seq.fill(2)("lower") ++
      Seq.fill(6)("newest") ++ Seq.fill(3)("widest")).mkString(" ")
    val docs = Seq((0L, corpus, "s")).toDF("doc_id", "text", "source")
    val (merges, finalWords) = operators.TextOps.bpeTrainOf(docs, 5)
    assert(merges.map(m => (m.left, m.right, m.cnt)) == Seq(
      ("e", "s", 9L), ("es", "t", 9L), ("est", "</w>", 9L),
      ("l", "o", 7L), ("lo", "w", 7L)))
    // after 5 merges: low = [low </w>] (merge 5 closes it),
    // newest = [n e w est</w>]
    val rep = finalWords.map { case (sy, f) =>
      sy.mkString("").stripSuffix("</w>") -> sy }.toMap
    assert(rep("low") == Vector("low", "</w>"))
    assert(rep("newest") == Vector("n", "e", "w", "est</w>"))
  }

  test("bpe trainer: bounded collect — cutoff-1 identity, engine-side " +
      "pruning, loud cap overflow") {
    import spark.implicits._
    val docs = graft.sources.Tables.documents(spark, dir)
    // frequency cutoff 1 prunes nothing: merge list bit-identical to the
    // default call (the oracle gate pins the same identity end-to-end)
    val base = operators.TextOps.bpeTrainOf(docs, 8)._1
    val cut1 = operators.TextOps.bpeTrainOf(docs, 8, minFreq = 1L)._1
    assert(base == cut1)

    // adversarial long tail: 5000 distinct singleton tokens around a
    // 3-word frequent core. maxVocab=16 would overflow on the raw
    // vocabulary — succeeding under minFreq=2 proves the tail was pruned
    // BEFORE the cap applied (i.e. inside the aggregate, engine-side)
    val junk = (0 until 5000).map(i => s"zq${i}x").mkString(" ")
    val core = (Seq.fill(9)("low") ++ Seq.fill(7)("newest") ++
      Seq.fill(5)("widest")).mkString(" ")
    val tailDocs = Seq((0L, s"$core $junk", "s")).toDF(
      "doc_id", "text", "source")
    val (prunedMerges, prunedWords) =
      operators.TextOps.bpeTrainOf(tailDocs, 4, minFreq = 2L, maxVocab = 16)
    assert(prunedWords.length == 3,
      s"expected the 3-word core, got ${prunedWords.length} entries")
    // pruned training == training on the core alone
    val coreOnly = operators.TextOps.bpeTrainOf(
      Seq((0L, core, "s")).toDF("doc_id", "text", "source"), 4)._1
    assert(prunedMerges == coreOnly)

    // past the cap: loud failure naming both knobs, not silent truncation
    val e = intercept[IllegalStateException] {
      operators.TextOps.bpeTrainOf(tailDocs, 4, minFreq = 1L, maxVocab = 16)
    }
    assert(e.getMessage.contains("minFreq") &&
      e.getMessage.contains("maxVocab"))
  }

  test("bpe encoder reproduces the trainer's final representation") {
    import org.apache.spark.sql.functions._
    val docs = graft.sources.Tables.documents(spark, dir)
    val (merges, finalWords) = operators.TextOps.bpeTrainOf(docs, 40)
    val codec = new graft.functions.BpeCodec(
      merges.map(m => m.left + " " + m.right).toArray)
    // property: encoding any TRAINING word with the ranked merge list
    // yields exactly the symbols the trainer left it with
    for ((sy, _) <- finalWords) {
      val word = sy.mkString("").stripSuffix("</w>")
      val enc = codec.segment(
        operators.TextOps.bpeInitialSymbols(word)).toVector
      assert(enc == sy, s"word '$word': $enc != $sy")
    }
    // and the compiled per-doc expression agrees with a driver recompute
    val got = docs
      .select(col("doc_id"), graft.functions.TextHashExprs
        .bpe_segment_count(col("text"), codec).as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val texts = docs.select("doc_id", "text").collect()
    for (row <- texts.take(50)) {
      val want = row.getString(1).toLowerCase.split("\\s+")
        .filter(_.nonEmpty)
        .map(w => codec.segment(
          operators.TextOps.bpeInitialSymbols(w)).length.toLong).sum
      assert(got(row.getLong(0)) == want, s"doc ${row.getLong(0)}")
    }
  }

  test("winnowing: guarantee, monotone positions, brute-force equality") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val k = 5; val w = 4
    // two docs sharing a >= k+w-1 = 8 char run (after whitespace strip)
    val shared = "xyzquvwt"
    val docs = Seq(
      (0L, s"aaa bbb $shared ccc", "a"),
      (1L, s"ddd $shared eee fff", "b"),
      (2L, "totally different words here", "c"),
      (3L, "tiny", "d"), // fewer than k chars after strip? 4 < 5 -> none
      (4L, "exact", "e")) // exactly k chars -> one k-gram, one fp
      .toDF("doc_id", "text", "source")
    val got = operators.TextOps.winnowFingerprintsOf(docs, k, w).collect()
    val byDoc = got.groupBy(_.getLong(0))
    // the winnowing guarantee: a shared substring of length k+w-1 must
    // produce at least one shared fingerprint
    val f0 = byDoc(0L).map(_.getLong(2)).toSet
    val f1 = byDoc(1L).map(_.getLong(2)).toSet
    assert((f0 & f1).nonEmpty, "shared 8-char run produced no shared fp")
    assert(!byDoc.contains(3L), "sub-k doc must have no fingerprints")
    assert(byDoc(4L).length == 1, "exactly-k doc has one fingerprint")
    // positions strictly increase (the rightmost-argmin monotonicity the
    // oracle's DISTINCT relies on)
    for ((id, rows) <- byDoc) {
      val ps = rows.map(_.getInt(1)).toSeq
      assert(ps == ps.sorted && ps.distinct == ps, s"doc $id positions")
    }
    // independent brute-force recompute of the full selection
    def brute(text: String): Seq[(Int, Long)] = {
      val norm = text.toLowerCase.replaceAll("\\s+", "")
      val n = norm.length - k + 1
      if (n <= 0) return Seq.empty
      val hs = (0 until n).map(i =>
        graft.functions.PortableHashExprs.hash32(norm.substring(i, i + k)))
      (0 to math.max(n - w, 0)).map { j =>
        val win = (j until math.min(j + w, n))
        val best = win.minBy(t => (hs(t), -t))
        (best + 1, hs(best))
      }.distinct
    }
    val texts = docs.collect().map(r => r.getLong(0) -> r.getString(1))
    for ((id, t) <- texts) {
      val want = brute(t)
      val have = byDoc.getOrElse(id, Array.empty)
        .map(r => (r.getInt(1), r.getLong(2))).toSeq
      assert(have == want, s"doc $id: $have != $want")
    }
  }

  test("single-column keep expressions equal their rule-frame keeps") {
    import org.apache.spark.sql.functions._
    val docs = graft.sources.Tables.documents(spark, dir)
    val words = operators.TextOps.gopherFixtureWords
    val gFrame = operators.TextOps
      .gopherRulesFrame(docs, requiredWords = words)
      .select("doc_id", "keep").collect()
      .map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    val gExpr = docs.select(col("doc_id"), operators.TextOps
      .gopherKeepOf(col("text"), requiredWords = words).as("k"))
      .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    assert(gExpr == gFrame, "gopherKeepOf diverged from gopherRulesFrame")
    val rFrame = operators.TextOps.repetitionRulesFrame(docs)
      .select("doc_id", "keep").collect()
      .map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    val rExpr = docs.select(col("doc_id"),
      operators.TextOps.repetitionKeepOf(col("text")).as("k"))
      .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    assert(rExpr == rFrame,
      "repetitionKeepOf diverged from repetitionRulesFrame")
  }

  test("screened corpus equals the set algebra of its three stages") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val docs = graft.sources.Tables.documents(spark, dir)
    val words = operators.TextOps.gopherFixtureWords
    val gKeep = operators.TextOps
      .gopherRulesFrame(docs, requiredWords = words)
      .filter(col("keep")).select("doc_id").as[Long].collect().toSet
    val rKeep = operators.TextOps.repetitionRulesFrame(docs)
      .filter(col("keep")).select("doc_id").as[Long].collect().toSet
    val clean = operators.Dedup.decontaminate(spark, dir)
      .filter(!col("contaminated")).select("doc_id")
      .as[Long].collect().toSet
    val want = docs.filter(col("source") =!= "src0")
      .select(col("doc_id"), col("source"),
        size(filter(split(lower(col("text")), "\\s+"), t => t =!= ""))
          .cast("long").as("n"))
      .collect()
      .filter(r => gKeep(r.getLong(0)) && rKeep(r.getLong(0)) &&
        clean(r.getLong(0)))
      .groupBy(_.getString(1))
      .map { case (src, rows) =>
        val tok = rows.map(_.getLong(2)).sum
        (src, (rows.length.toLong, tok, (tok + 63) / 64))
      }
    val got = operators.Pipeline.screenedCorpus(spark, dir).collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(got == want, s"$got vs $want")
  }

  test("repetition signals kernel equals the HOF reference, both fixtures") {
    import spark.implicits._
    val planted = Seq(
      (0L, (0 until 30).map(i => f"t$i%02d").mkString(" "), "a"),
      (1L, "x1 y1\nx1 y1\nz1 a b c d e f", "b"),
      (2L, "p q r\n\np q r\n\ns t u", "c"),
      (3L, "ab cd ab cd ab cd ab cd xx", "d"),
      (4L, "", "e"),
      (5L, "  leading space\ttab\nand a trailing line  ", "f"))
      .toDF("doc_id", "text", "source")
    for (docs <- Seq(planted, graft.sources.Tables.documents(spark, dir))) {
      val kern = operators.TextOps.repetitionRulesOf(docs, useKernel = true)
      val hof = operators.TextOps.repetitionRulesOf(docs, useKernel = false)
      assert(kern.columns.sameElements(hof.columns))
      assert(kern.collect().toSeq == hof.collect().toSeq,
        "compiled kernel diverged from the sorted-run HOF reference")
    }
  }
}
