package graft

import org.apache.spark.sql.SparkSession

import scala.jdk.CollectionConverters._

/** Benchmark main: times every [[SparkEntry.queries]] entry against
  * `SPARK_GRAFT_SF_DIR` and prints one JSON line.
  *
  * An untimed warmup precedes the timed loop: a codegen-heavy throwaway
  * query plus a footer-read of every test table, so the first timed query
  * measures the operator, not JVM/classloading/parquet-metadata startup
  * (at sf0.001 that startup is ~6s — larger than every real query).
  *
  * Each query is timed `SPARK_GRAFT_BENCH_ITERS` times (default 3) and the
  * MEDIAN is reported — a single-shot timing in a shared JVM is
  * noise-dominated (one GC stall poisons the record; round 4's artifact
  * showed 15+ phantom 2–7× "regressions" that a quiet re-run erased).
  * Values are rounded to ms so the emitted line stays small enough for the
  * driver's bounded tail capture, and the line is printed before any
  * shutdown work so nothing can push it out of the capture window. Query
  * failures are counted in an `errors` field instead of being recorded as
  * fast successes.
  */
object Bench {

  /** Counts optimizer fixpoint failures ("Max iterations (N) reached")
    * anywhere in the sweep — the r8 lesson: that warning buried in a
    * 150-query log was a REAL rule bug (PartialAggRule↔FederationRule
    * ping-pong) masquerading as bench noise. The bench now fails loudly
    * instead of requiring a human to grep the log. */
  private[graft] object MaxIterWatch
    extends org.apache.logging.log4j.core.appender.AbstractAppender(
      "graft-maxiter", null, null, false,
      org.apache.logging.log4j.core.config.Property.EMPTY_ARRAY) {
    val hits = new java.util.concurrent.atomic.AtomicInteger()
    override def append(e: org.apache.logging.log4j.core.LogEvent): Unit =
      if (e.getMessage.getFormattedMessage.contains("Max iterations ("))
        hits.incrementAndGet()
    def install(): Unit = {
      start()
      val ctx = org.apache.logging.log4j.LogManager.getContext(false)
        .asInstanceOf[org.apache.logging.log4j.core.LoggerContext]
      ctx.getConfiguration.getRootLogger.addAppender(this,
        org.apache.logging.log4j.Level.WARN, null)
      ctx.updateLoggers()
    }
  }

  /** Repo root for the committed artifacts (calibration pin, per-round
    * record): the working directory when it holds build.sbt (sbt runMain
    * always does), else the canonical checkout path. */
  private[graft] lazy val repoRoot: java.nio.file.Path = {
    val cwd = java.nio.file.Paths.get("").toAbsolutePath
    if (java.nio.file.Files.exists(cwd.resolve("build.sbt"))) cwd
    else java.nio.file.Paths.get("/root/repo")
  }

  /** The `"mins":{...}` map out of a committed per-round record (the
    * format this file itself writes). */
  private[graft] def parseMins(txt: String): Map[String, Double] =
    """"mins"\s*:\s*\{([^}]*)\}""".r.findFirstMatchIn(txt).map(_.group(1))
      .map { body =>
        """"([^"]+)"\s*:\s*(-?[0-9.]+)""".r.findAllMatchIn(body)
          .map(m => m.group(1) -> m.group(2).toDouble).toMap
      }.getOrElse(Map.empty)

  /** Gates whose sweep median reads >1.5x their last committed
    * cross-sweep minimum — the loaded-box requeue set. Sub-50ms minima
    * are skipped (pure noise at that granularity). */
  private[graft] def requeueSuspects(medians: Seq[(String, Double)],
      committed: Map[String, Double]): Seq[String] =
    medians.collect {
      case (name, med) if med >= 0 &&
        committed.get(name).exists(p => p > 0.05 && med > p * 1.5) => name
    }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val iters = math.max(1, sys.env.getOrElse("SPARK_GRAFT_BENCH_ITERS", "3").toInt)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      // 145 gates × several codegen stages each overflow the default
      // 100-entry generated-class cache, so a full sweep recompiles the
      // heaviest stages on EVERY iteration (measured: sim_label_stats
      // 0.18 s quiet → 3.0 s in-sweep, pure janino churn). Production
      // reuses a repeated query's compiled stages, so size the cache to
      // the suite — per-query medians then measure execution, not other
      // queries' cache evictions.
      // r12: raised 2000 → 5000. The r12 sweep's tail requeue read
      // fed_window/fed_unnest_* at 10-20× while a fresh process ran them
      // fine, and 600 isolated executions showed no degradation — the
      // signature of cache eviction under the FULL 221-gate × 3-iter
      // working set (window/generate stages generate the largest
      // classes, the costliest to recompile per iteration).
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    MaxIterWatch.install()

    // warmup (untimed): trigger whole-stage codegen + shuffle machinery,
    // then materialize every table's footer/schema and a cheap count
    spark.range(1000000).selectExpr("sum(id % 7)", "count(distinct id % 11)")
      .collect()
    graft.sources.Tables.all.foreach { t =>
      graft.sources.Tables.table(spark, sfDir, t).count()
    }
    // federation catalog bootstrap (remote-view registration + one-shot
    // schema inference; Derby load for the JDBC path) is session setup,
    // not query cost
    graft.federation.FederationHarness.setup(spark, sfDir)
    graft.federation.jdbc.JdbcHarness.executor(spark, sfDir)
    graft.federation.duckdb.DuckDbHarness.executor(spark, sfDir)

    def ms3(sec: Double): Double = math.round(sec * 1000.0) / 1000.0

    // --- box-load calibration ---------------------------------------
    // A fixed, plan-stable aggregate timed at the start (median of 3)
    // and re-timed every CalibEvery queries. On a quiet box the samples
    // sit at the baseline; a co-tenant load inflates them the same way
    // it inflates the query timings — so a loaded sweep SELF-IDENTIFIES
    // (three rounds of the official artifact needed out-of-band judge
    // rehabilitation; this field replaces that).
    val CalibEvery = 15
    def calibOnce(): Double = {
      val t0 = System.nanoTime()
      spark.range(4000000)
        .selectExpr("sum(id % 7)", "count(distinct id % 11)").collect()
      (System.nanoTime() - t0) / 1e9
    }
    // JIT warm-through before the baseline: the first executions of the
    // calibration plan pay codegen + C2 compilation — r13 measured
    // 0.31-0.40s cold vs 0.15-0.21s warm against the 0.19s quiet pin,
    // so an unwarmed baseline flagged every sweep "LOADED (from the
    // start)" regardless of actual box load. r13 used two fixed discard
    // runs; r14's heavier harness setup (staged DuckDB parquet ingest)
    // queues enough background C2 work that two no longer reach steady
    // state — every quiet sweep still self-flagged at pin ratios
    // 1.7-2.8 while its in-sweep samples sat AT the pin. Warm through
    // until two consecutive runs agree within 20% (cap 10), so the
    // baseline measures co-tenancy, not the JVM settling.
    var warmPrev = calibOnce()
    var warmTries = 1
    var warmStable = false
    while (!warmStable && warmTries < 10) {
      val c = calibOnce()
      warmStable = math.abs(c - warmPrev) <= 0.2 * math.min(c, warmPrev)
      warmPrev = c
      warmTries += 1
    }
    val calibBase = Seq(calibOnce(), calibOnce(), calibOnce()).sorted.apply(1)
    val calibSamples = scala.collection.mutable.ArrayBuffer.empty[Double]

    // spot re-runs: SPARK_GRAFT_BENCH_ONLY=q1,q2 restricts the timed set
    // (warmup unchanged) — for root-causing a single query's regression
    // without paying for the full sweep
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    var errors = 0
    var sinceCalib = 0
    val results = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .map { case (name, fn) =>
      sinceCalib += 1
      if (sinceCalib >= CalibEvery) {
        sinceCalib = 0
        calibSamples += calibOnce()
      }
      val times = (1 to iters).flatMap { _ =>
        val t0 = System.nanoTime()
        try { fn(spark, sfDir).count(); Some((System.nanoTime() - t0) / 1e9) }
        catch {
          case e: Throwable =>
            errors += 1
            System.err.println(s"[bench] $name FAILED: ${e.getClass.getSimpleName}: ${e.getMessage}")
            None
        }
      }.sorted
      // true median: mean of the two middles on an even sample (iters is
      // odd by default, but the env knob allows any count)
      val median =
        if (times.isEmpty) -1.0
        else if (times.size % 2 == 1) times(times.size / 2)
        else (times(times.size / 2 - 1) + times(times.size / 2)) / 2.0
      val min = if (times.isEmpty) -1.0 else times.head
      (name, ms3(median), ms3(min))
    }
    val qs = results.map { case (k, med, _) => s"\"" + k + "\":" + med }
      .mkString("{", ",", "}")
    val mins = results.map { case (k, _, mn) => s"\"" + k + "\":" + mn }
      .mkString("{", ",", "}")
    val total = ms3(results.filter(_._2 >= 0).map(_._2).sum)

    // --- self-diagnosis fields --------------------------------------
    val calibDrift =
      if (calibSamples.isEmpty || calibBase <= 0) 1.0
      else ms3(calibSamples.max / calibBase)
    // per-query median/min ratio: a quiet box keeps the median near the
    // min; load inflates medians but rarely every min — the p90 ratio is
    // the per-query view of the same signal as calibration drift
    val ratios = results.collect {
      case (_, med, mn) if mn > 0.05 && med >= 0 => med / mn
    }.sorted
    val ratioP90 =
      if (ratios.isEmpty) 1.0 else ms3(ratios((ratios.size * 9) / 10 min (ratios.size - 1)))
    val maxIterHits = MaxIterWatch.hits.get()
    // absolute check against the committed quiet-box pin: catches a box
    // loaded BEFORE the sweep started, which in-sweep drift cannot (both
    // baseline and samples inflate together — measured: a 32-hog load
    // doubled the sweep but moved drift only to 1.05)
    val pinned: Option[Double] =
      try {
        val txt = new String(java.nio.file.Files.readAllBytes(
          repoRoot.resolve("bench_calibration.json")), "UTF-8")
        s""""$cpus"\\s*:\\s*([0-9.]+)""".r.findFirstMatchIn(txt)
          .map(_.group(1).toDouble)
      } catch {
        case scala.util.control.NonFatal(e) =>
          // a silent miss would disable the from-the-start load check the
          // pin exists for — say so instead
          System.err.println(
            s"[bench] WARNING: quiet-box pin unreadable ($e) - " +
              "from-the-start load detection is OFF for this run")
          None
      }
    val pinRatio = pinned.map(p => ms3(calibBase / p))
    // the IN-SWEEP samples against the pin: the baseline can read high
    // purely because the warm-through hit its cap while the box was busy
    // STARTING UP (r15 observed baseline 3.6x pin with every in-sweep
    // sample AT the pin) — in that case the sweep itself ran quiet and
    // "the whole sweep is inflated" would be a false positive. The median
    // sample is the honest whole-sweep load signal; both ratios are
    // published so the reader can see which story the data tells.
    val sampleMedianRatio = pinned.flatMap { p =>
      if (calibSamples.isEmpty) None
      else {
        val s = calibSamples.sorted
        val med = if (s.size % 2 == 1) s(s.size / 2)
          else (s(s.size / 2 - 1) + s(s.size / 2)) / 2.0
        Some(ms3(med / p))
      }
    }
    val warn = new scala.collection.mutable.ArrayBuffer[String]
    if (calibDrift > 1.5)
      warn += f"LOADED BOX (mid-sweep): calibration drifted ${calibDrift}%.2fx over the sweep - timings are inflated, re-run quiet before recording a regression"
    pinRatio.filter(_ > 1.5).foreach { r =>
      if (sampleMedianRatio.exists(_ <= 1.3))
        warn += f"STARTUP LOAD ONLY: calibration baseline is ${r}%.2fx the quiet-box pin but the in-sweep sample median is ${sampleMedianRatio.get}%.2fx the pin - the baseline caught start-up load; later samples ran at quiet speed, but gates timed early in the sweep may still carry start-up load"
      else
        warn += f"LOADED BOX (from the start): calibration baseline is ${r}%.2fx the committed quiet-box pin - the whole sweep is inflated"
    }
    if (maxIterHits > 0)
      warn += s"OPTIMIZER FIXPOINT FAILURE: 'Max iterations reached' logged $maxIterHits time(s) - a RULE BUG (see FederationSpec fixpoint pins), not load"
    warn.foreach(w => System.err.println(s"[bench] WARNING: $w"))

    // --- loaded-box auto-requeue ------------------------------------
    // The manual disposition dance (five commits in r11) as code: when
    // the sweep self-flags as loaded, every gate reading >1.5x its last
    // committed cross-sweep minimum re-runs at 7 iterations in this same
    // process tail, and the record carries BOTH readings plus a
    // calibration pair bracketing the tail — so a flagged record arrives
    // WITH its own disposition evidence instead of demanding a human
    // re-run. Full sweeps only: spot re-runs are already targeted.
    val loadedFlag = calibDrift > 1.5 || pinRatio.exists(_ > 1.5)
    // sf0.1 only: committed minima are sf0.1 numbers, comparing another
    // scale against them would requeue (or clear) gates meaninglessly
    val committedMins: Map[String, Double] =
      if (!loadedFlag || only.nonEmpty || !sfDir.contains("sf0.1")) Map.empty
      else try {
        java.nio.file.Files.list(repoRoot).iterator().asScala
          .filter(_.getFileName.toString.matches("bench_queries_r\\d+\\.json"))
          .toSeq.sortBy(_.getFileName.toString).lastOption
          .map(p => parseMins(new String(
            java.nio.file.Files.readAllBytes(p), "UTF-8")))
          .getOrElse(Map.empty)
      } catch { case scala.util.control.NonFatal(_) => Map.empty }
    val suspectsAll =
      requeueSuspects(results.map { case (n, med, _) => (n, med) },
        committedMins)
    val RequeueCap = 20
    if (suspectsAll.size > RequeueCap)
      System.err.println(s"[bench] requeue capped at $RequeueCap of " +
        s"${suspectsAll.size} flagged gates - the box is too loaded for " +
        "per-gate dispositions, re-run the whole sweep quiet")
    val suspects = suspectsAll.take(RequeueCap)
    val requeueCalib0 = if (suspects.isEmpty) -1.0 else ms3(calibOnce())
    val requeued = suspects.map { name =>
      val fn = SparkEntry.queries(name)
      val times = (1 to 7).flatMap { _ =>
        val t0 = System.nanoTime()
        try { fn(spark, sfDir).count(); Some((System.nanoTime() - t0) / 1e9) }
        catch { case _: Throwable => None }
      }.sorted
      val med =
        if (times.isEmpty) -1.0
        else if (times.size % 2 == 1) times(times.size / 2)
        else (times(times.size / 2 - 1) + times(times.size / 2)) / 2.0
      System.err.println(f"[bench] requeue $name: sweep ${
        results.find(_._1 == name).map(_._2).getOrElse(-1.0)}%.3f -> " +
        f"tail ${ms3(med)}%.3f (committed min ${committedMins(name)}%.3f)")
      (name, ms3(med))
    }
    val requeueCalib1 = if (suspects.isEmpty) -1.0 else ms3(calibOnce())
    val requeueFields =
      if (requeued.isEmpty) ""
      else s""""requeue":${requeued.map { case (k, v) =>
          "\"" + k + "\":" + v }.mkString("{", ",", "}")},""" +
        s""""requeue_calib":[$requeueCalib0,$requeueCalib1],"""

    val diagFields = requeueFields +
      s""""calibration":{"baseline":${ms3(calibBase)},"warm_tries":$warmTries,"warm_last":${ms3(warmPrev)},"samples":[${
        calibSamples.map(ms3).mkString(",")}],"drift":$calibDrift${
        pinRatio.map(r => s""","pin_ratio":$r""").getOrElse("")}${
        sampleMedianRatio.map(r => s""","sample_median_ratio":$r""").getOrElse("")}},""" +
      s""""ratio_p90":$ratioP90,"max_iterations_hits":$maxIterHits,""" +
      (if (warn.isEmpty) "" else
        s""""warning":${"\"" + warn.mkString("; ").replace("\"", "'") + "\""},""")
    // per-query minima are diagnostics → stderr, so they can never crowd
    // the official record out of the driver's bounded stdout tail capture
    // (round 6's artifact lost its head exactly this way)
    System.err.println(s"""{"bench_min":$mins}""")
    // Durable per-query record: the driver's bounded stdout tail capture
    // head-truncated the full map two rounds running (BENCH_r06/r07 lost
    // the dedup_*/ev_* medians), so full runs also persist the record to a
    // committed file. Round number = 1 + the highest BENCH_r{N}.json the
    // driver has written so far; spot re-runs (BENCH_ONLY) never overwrite.
    // sf0.1 only: local smoke runs at other SFs must not clobber the
    // committed round record with toy-scale numbers
    if (only.isEmpty && sfDir.contains("sf0.1")) {
      try {
        val repo = repoRoot
        val round = java.nio.file.Files.list(repo).iterator().asScala
          .flatMap { p =>
            "BENCH_r(\\d+)\\.json".r.findFirstMatchIn(p.getFileName.toString)
              .map(_.group(1).toInt)
          }.foldLeft(0)(math.max) + 1
        val out = repo.resolve(f"bench_queries_r$round%02d.json")
        val body =
          s"""{"metric":"total","value":$total,"unit":"sec","iters":$iters,"errors":$errors,"sf":"$sfDir",
             |$diagFields
             |"queries":$qs,
             |"mins":$mins}""".stripMargin
        java.nio.file.Files.write(out, body.getBytes("UTF-8"))
        System.err.println(s"[bench] per-query record written to $out")
      } catch { case e: Throwable =>
        System.err.println(s"[bench] per-query record write failed: $e")
      }
    }
    // full per-query record first, then a compact summary (no queries map)
    // as the VERY LAST stdout line: the tail capture keeps the end of the
    // stream, so the parse-critical total/iters/errors/sf fields always
    // survive whole even if the per-query line above gets truncated
    println(s"""{"metric":"total","value":$total,"unit":"sec","iters":$iters,"errors":$errors,$diagFields"queries":$qs,"sf":"$sfDir"}""")
    println(s"""{"metric":"total","value":$total,"unit":"sec","iters":$iters,"errors":$errors,$diagFields"sf":"$sfDir"}""")
    System.out.flush()
    spark.stop()
  }
}
