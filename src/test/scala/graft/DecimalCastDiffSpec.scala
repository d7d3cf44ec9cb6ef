package graft

import java.math.{BigDecimal => JBigDecimal}

import scala.util.{Failure, Success, Try}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Cast, EvalMode, Literal}
import org.apache.spark.sql.types._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.federation.Federation
import graft.federation.duckdb.DuckDbSqlExecutor
import graft.federation.sql.RemoteTableRef

/** Differential spec of the pushed lossy DECIMAL cast on LIVE DuckDB
  * against Spark's own `Cast`. Generated DOUBLE, FLOAT and DECIMAL(20,8)
  * values land in one DuckDB table; every (source, target) pair runs as
  * one federated projection whose cast must be pushed (or stay local
  * where the dialect refuses it), and each row is compared with
  * `Cast(...).eval()` of the same value. Raw ScalaCheck
  * generators with fixed seeds, so a failure names a reproducible value.
  * The generators aim at the places the DuckDB forms can go wrong: ties
  * at digit s+1, near-ties (…4999999995…), the bound of the 64-bit arm,
  * 10^(p-s) and the round-up into it, half a unit, magnitudes DuckDB
  * prints with an exponent, ±0.0, NaN, ±Inf and random bit patterns. */
class DecimalCastDiffSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-decimal-cast-diff")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  /** A database file of its own, split into 4 cursors like the gate
    * harness's; the worker creates the file at the first write. */
  private lazy val engine: DuckDbSqlExecutor = {
    val root = java.nio.file.Paths.get("target", "duckdb")
    java.nio.file.Files.createDirectories(root)
    val db = root.resolve(
      s"decimal_cast_diff_${ProcessHandle.current().pid()}.duckdb")
    java.nio.file.Files.deleteIfExists(db)
    db.toFile.deleteOnExit()
    new DuckDbSqlExecutor("duck", spark, db.toAbsolutePath.toString,
      splitCount = 4)
  }

  private val targets =
    Seq((18, 2), (17, 2), (28, 6), (38, 6), (10, 4), (4, 0), (24, 12))

  private def samples[A](gen: Gen[A], n: Int, seed: Long): Seq[A] =
    (0 until n).flatMap(i =>
      gen.apply(Gen.Parameters.default, Seed(seed * 100000L + i)))

  private def pow10(k: Int): JBigDecimal = JBigDecimal.ONE.scaleByPowerOfTen(k)

  /** `d` and its neighbours `steps` ulps away on each side, both signs. */
  private def around(d: Double, steps: Int = 3): Seq[Double] = {
    val up = Iterator.iterate(d)(Math.nextUp).take(steps + 1).toSeq
    val down = Iterator.iterate(d)(Math.nextDown).take(steps + 1).toSeq
    (up ++ down).distinct.flatMap(v => Seq(v, -v))
  }

  private val sign: Gen[Int] = Gen.oneOf(1, -1)
  private val scale: Gen[Int] = Gen.oneOf(targets.map(_._2).distinct)
  /** An integer of 1 to `maxDigits` digits, the digit count uniform. */
  private def intPart(maxDigits: Int): Gen[Long] =
    Gen.choose(1, maxDigits).flatMap(n =>
      Gen.choose(0L, math.pow(10, n).toLong - 1))

  /** k·10^-s + 5·10^-(s+1), rounded to the nearest double. */
  private val tie: Gen[Double] = for {
    s <- scale; k <- intPart(16); sg <- sign
  } yield sg * JBigDecimal.valueOf(k, s).add(JBigDecimal.valueOf(5, s + 1))
    .doubleValue

  /** k·10^-s + 0.4999999995·10^-s, give or take 10^-(s+10). */
  private val nearTie: Gen[Double] = for {
    s <- scale; k <- intPart(12); sg <- sign; eps <- Gen.choose(-1, 1)
  } yield sg * JBigDecimal.valueOf(k, s)
    .add(new JBigDecimal("0.4999999995").scaleByPowerOfTen(-s))
    .add(JBigDecimal.valueOf(eps.toLong, s + 10)).doubleValue

  /** Magnitudes DuckDB prints with an exponent: below 1e-4, from 1e16. */
  private val exponentText: Gen[Double] = for {
    digits <- Gen.choose(1, 17); m <- Gen.choose(1L, math.pow(10, digits).toLong - 1)
    e <- Gen.oneOf(Gen.choose(-15, -5), Gen.choose(16, 34)); sg <- sign
  } yield sg * JBigDecimal.valueOf(m).scaleByPowerOfTen(e - digits + 1).doubleValue

  private val randomBits: Gen[Double] =
    Gen.long.map(java.lang.Double.longBitsToDouble)

  private val spread: Gen[Double] = for {
    m <- Gen.choose(-1.0, 1.0); e <- Gen.choose(-10, 33)
  } yield m * math.pow(10, e)

  private val double: Gen[Double] = Gen.frequency(
    3 -> tie, 2 -> nearTie, 2 -> exponentText, 2 -> randomBits, 2 -> spread)

  private val float: Gen[Float] = Gen.frequency(
    3 -> double.map(_.toFloat),
    2 -> Gen.choose(Int.MinValue, Int.MaxValue).map(java.lang.Float.intBitsToFloat),
    1 -> Gen.choose(-2000, 2000).map(k => k / 8.0f)) // dyadic ties

  /** DECIMAL(20,8) values: ties of each target scale, and random ones. */
  private val decimal: Gen[JBigDecimal] = Gen.oneOf(
    for { s <- Gen.oneOf(targets.map(_._2).filter(_ < 8)); k <- intPart(11)
          sg <- sign } yield
      JBigDecimal.valueOf(sg * k, s).add(JBigDecimal.valueOf(sg * 5L, s + 1))
        .setScale(8),
    Gen.choose(-99999999999L, 99999999999L).flatMap(i =>
      Gen.choose(0L, 99999999L).map(f =>
        JBigDecimal.valueOf(i).add(JBigDecimal.valueOf(f, 8)))))

  /** Fixed values: the arms' bounds of every target, specials, and inputs
    * a Spark user is likely to cast. */
  private val fixed: Seq[Double] = {
    val bounds = targets.flatMap { case (p, s) =>
      val arm1 = if (p > 11) pow10(11 - s) else pow10(p - s).subtract(pow10(-s))
      Seq(arm1, pow10(p - s),
        pow10(p - s).subtract(JBigDecimal.valueOf(5, s + 1)),
        JBigDecimal.valueOf(5, s + 1)).flatMap(b => around(b.doubleValue))
    }
    bounds ++ Seq(0.0, -0.0, Double.NaN, Double.PositiveInfinity,
      Double.NegativeInfinity, Double.MinPositiveValue, Double.MaxValue,
      java.lang.Double.MIN_NORMAL, 9.9e-7, 9.9e-14, 7424.4649, 614.114999999, 0.0049,
      0.004999999995, 2.675, 1.005, -2.675, 1.9087301168133925e14, 1e17)
  }

  private case class Probe(d: Double, f: Float, m: JBigDecimal)

  private lazy val probes: IndexedSeq[Probe] = {
    val ds = fixed ++ samples(double, 4000, 1)
    val fs = samples(float, ds.size, 2)
    val ms = samples(decimal, ds.size, 3)
    ds.indices.map(i => Probe(ds(i), fs(i), ms(i))).toIndexedSeq
  }

  private def doubleSql(d: Double): String = s"CAST('$d' AS DOUBLE)"

  /** The probe table on the live engine, read back bit for bit first. */
  private lazy val table: String = {
    val e = engine
    val ref = RemoteTableRef.parse("cast_diff_probe")
    val rows = probes.zipWithIndex.map { case (p, i) =>
      s"($i, ${doubleSql(p.d)}, CAST(${doubleSql(p.f.toDouble)} AS FLOAT), " +
        s"CAST('${p.m.toPlainString}' AS DECIMAL(20,8)))"
    }
    e.runDdl(ref, Seq("DROP TABLE IF EXISTS cast_diff_probe",
      "CREATE TABLE cast_diff_probe AS SELECT * FROM (VALUES " +
        rows.mkString(", ") + ") AS v(id, d, f, m)"))
    Federation.install(spark)
    Federation.registerRemoteTable(spark, "duck_cast_diff", "cast_diff_probe", e)
    val back = spark.table("duck_cast_diff").collect()
      .map(r => r.getInt(0) -> r).toMap
    assert(back.size == probes.size)
    probes.zipWithIndex.foreach { case (p, i) =>
      val r = back(i)
      assert(java.lang.Double.doubleToLongBits(r.getDouble(1)) ==
        java.lang.Double.doubleToLongBits(p.d), s"row $i: ${p.d}")
      assert(java.lang.Float.floatToIntBits(r.getFloat(2)) ==
        java.lang.Float.floatToIntBits(p.f), s"row $i: ${p.f}")
      assert(r.getDecimal(3).compareTo(p.m) == 0, s"row $i: ${p.m}")
    }
    "duck_cast_diff"
  }

  private def remoteSql(df: DataFrame): Seq[String] =
    df.queryExecution.executedPlan.toString()
      .linesIterator.filter(_.contains("RemoteScan")).toSeq

  private def withAnsi[A](on: Boolean)(body: => A): A = {
    val key = "spark.sql.ansi.enabled"
    val old = spark.conf.get(key)
    spark.conf.set(key, on.toString)
    try body finally spark.conf.set(key, old)
  }

  /** Spark's own cast of `v` (of type `from`) to DECIMAL(p,s). */
  private def sparkCast(v: Any, from: DataType, p: Int, s: Int,
      mode: EvalMode.Value): Option[JBigDecimal] =
    Option(Cast(Literal(v, from), DecimalType(p, s), Some("UTC"), mode).eval())
      .map(_.asInstanceOf[Decimal].toJavaBigDecimal)

  /** Run the cast of `col` to every target and list each row where the
    * result differs from Spark's `Cast`, and each target whose cast is
    * not pushed. Where the dialect refuses the cast (`local`), it must
    * stay local, and the comparison still holds. */
  private def differences(col: String, from: DataType, value: Probe => Any,
      local: ((Int, Int)) => Boolean, cast: String = "CAST",
      mode: EvalMode.Value = EvalMode.LEGACY): Seq[String] = {
    val t = table
    targets.flatMap { case (p, s) =>
      val df = spark.sql(
        s"SELECT id, $cast($col AS DECIMAL($p,$s)) AS v FROM $t")
      val scans = remoteSql(df)
      val placement =
        if (scans.nonEmpty &&
            scans.exists(_.contains(s"AS DECIMAL($p,$s)")) != local((p, s))) Nil
        else Seq(s"$col → DECIMAL($p,$s) misplaced (local: ${local((p, s))}): $scans")
      val got = df.collect().map(r =>
        r.getInt(0) -> Option(r.getDecimal(1))).toMap
      placement ++ probes.zipWithIndex.flatMap { case (pr, i) =>
        val want = sparkCast(value(pr), from, p, s, mode)
        val same = (want, got(i)) match {
          case (Some(a), Some(b)) => a.compareTo(b) == 0
          case (a, b) => a.isEmpty && b.isEmpty
        }
        if (same) None
        else Some(s"$col=${value(pr)} → DECIMAL($p,$s): " +
          s"pushed ${got(i).orNull}, Spark ${want.orNull}")
      }
    }
  }

  /** DOUBLE and FLOAT casts to more than 16 integer digits stay local:
    * from 1e16 up, Spark on JDK 17 rounds digits DuckDB does not print. */
  private val wide: ((Int, Int)) => Boolean = { case (p, s) => p - s > 16 }

  private def assertNone(diffs: Seq[String]): Unit =
    assert(diffs.isEmpty,
      s"${diffs.size} differences, first: ${diffs.take(20).mkString("; ")}")

  test("pushed DOUBLE → DECIMAL casts equal Spark's Cast on every " +
      "generated value (LEGACY)") {
    withAnsi(on = false) {
      assertNone(differences("d", DoubleType, _.d, wide))
    }
  }

  test("pushed FLOAT → DECIMAL casts widen to DOUBLE and equal Spark's " +
      "Cast (LEGACY)") {
    withAnsi(on = false) {
      assertNone(differences("f", FloatType, _.f, wide))
    }
  }

  test("pushed DECIMAL(20,8) → DECIMAL casts with excess scale equal " +
      "Spark's Cast (LEGACY)") {
    withAnsi(on = false) {
      assertNone(differences("m", DecimalType(20, 8), pr => Decimal(pr.m),
        { case (p, _) => p + 2 > 38 }))
    }
  }

  test("an ANSI cast that overflows fails on the engine as in Spark; " +
      "in-range values still agree") {
    val e = engine
    val cases = Seq( // (value, p, s)
      (1e17, 18, 2), (9999.5, 4, 0), (99.995, 4, 2), (1e16, 16, 0),
      (Double.NaN, 18, 2), (Double.PositiveInfinity, 10, 4),
      (Double.NegativeInfinity, 4, 0), (7424.4649, 18, 2),
      (2.675, 4, 2), (-9999.4, 4, 0))
    e.runDdl(RemoteTableRef.parse("cast_ansi_probe"), Seq(
      "DROP TABLE IF EXISTS cast_ansi_probe",
      "CREATE TABLE cast_ansi_probe AS SELECT * FROM (VALUES " +
        cases.zipWithIndex.map { case ((v, _, _), i) =>
          s"($i, ${doubleSql(v)})" }.mkString(", ") + ") AS v(id, d)"))
    Federation.install(spark)
    Federation.registerRemoteTable(spark, "duck_cast_ansi", "cast_ansi_probe", e)
    withAnsi(on = true) {
      cases.zipWithIndex.foreach { case ((v, p, s), i) =>
        val df = spark.sql(s"SELECT CAST(d AS DECIMAL($p,$s)) AS v " +
          s"FROM duck_cast_ansi WHERE id = $i")
        assert(remoteSql(df).exists(_.contains(s"DECIMAL($p,$s)")),
          remoteSql(df))
        Try(sparkCast(v, DoubleType, p, s, EvalMode.ANSI)) match {
          case Success(want) =>
            val got = df.collect().map(r => Option(r.getDecimal(0))).toSeq
            assert(got.map(_.map(_.stripTrailingZeros)) ==
              Seq(want.map(_.stripTrailingZeros)),
              s"$v → DECIMAL($p,$s): pushed $got, Spark $want")
          case Failure(_) =>
            val err = Iterator.iterate[Throwable](
              intercept[Exception](df.collect()))(_.getCause)
              .takeWhile(_ != null).mkString(" / ")
            assert(err.contains("Conversion Error") ||
              err.contains("out of range"), s"$v → DECIMAL($p,$s): $err")
        }
      }
    }
  }

  test("try_cast overflows to NULL on the engine, as in Spark (TRY)") {
    withAnsi(on = true) {
      assertNone(differences("d", DoubleType, _.d, wide, cast = "try_cast",
        mode = EvalMode.TRY))
    }
  }
}
