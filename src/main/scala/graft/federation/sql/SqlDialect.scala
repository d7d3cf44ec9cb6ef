package graft.federation.sql

import org.apache.spark.sql.catalyst.expressions.{Ascending, NullOrdering, NullsFirst, NullsLast, SortDirection}
import org.apache.spark.sql.types._

/** Per-engine SQL dialect: identifier quoting, literal rendering, type
  * names, and feature toggles. Isolates exactly the drift the reference
  * handles via per-dialect `Unparser` configuration (SURVEY §7.4 risk 3).
  */
trait SqlDialect {
  def name: String

  def quote(ident: String): String

  /** Quote only when needed (keeps golden SQL readable, like the
    * reference's quote_style handling). */
  def quoteIfNeeded(ident: String): String =
    if (ident.matches("[a-z_][a-z0-9_]*")) ident else quote(ident)

  def escapeString(s: String): String = s.replace("'", "''")

  /** Whether a derived-table subquery may open with its own WITH clause
    * (`(WITH c AS (…) SELECT …) AS a`) — used to emit a large NOT IN
    * build side once instead of inlining it into each of the three
    * decomposed NOT EXISTS probes. Derby has no CTE support at all, so
    * the default is off; DuckDB accepts subquery-level WITH (probed
    * live), as do Spark, Postgres and SQLite. */
  def supportsSubqueryCte: Boolean = false

  /** Whether the engine evaluates `ts/date + INTERVAL` with Spark's
    * semantics — month-end clamping (Jan 31 + 1 month = Feb 29),
    * negative intervals, fractional seconds; probed live on DuckDB,
    * trivially true on the Spark mock, documented for Postgres. Derby
    * and SQLite have no INTERVAL type at all, so the default refusal
    * keeps the arithmetic local (a degradation, never a wrong answer). */
  def supportsIntervalArithmetic: Boolean = false

  def literal(value: Any, dataType: DataType): String = (value, dataType) match {
    case (null, _) => "NULL"
    // ANSI interval literals: YM carries total months (Int), DT carries
    // total microseconds (Long) — both render in a single unit, which
    // every interval-capable engine normalizes internally (probed:
    // INTERVAL '26' MONTH, negative and fractional SECOND forms).
    // Only reachable behind supportsIntervalArithmetic.
    case (v, _: YearMonthIntervalType) => s"INTERVAL '$v' MONTH"
    case (v, _: DayTimeIntervalType) =>
      val us = v.asInstanceOf[Long]
      val sign = if (us < 0) "-" else ""
      val a = math.abs(us)
      s"INTERVAL '$sign${a / 1000000L}.${"%06d".format(a % 1000000L)}' SECOND"
    case (v, StringType) => s"'${escapeString(v.toString)}'"
    case (v, BooleanType) => if (v.asInstanceOf[Boolean]) "TRUE" else "FALSE"
    case (v, DateType) =>
      // catalyst stores days-since-epoch
      s"DATE '${java.time.LocalDate.ofEpochDay(v.asInstanceOf[Int].toLong)}'"
    case (v, TimestampType) =>
      s"TIMESTAMP '${formatMicros(v.asInstanceOf[Long])}'"
    case (v, TimestampNTZType) =>
      s"TIMESTAMP '${formatMicros(v.asInstanceOf[Long])}'"
    case (v, _: DecimalType) => v.toString
    case (v, DoubleType | FloatType) =>
      val d = v match {
        case f: java.lang.Float => f.doubleValue
        case x: java.lang.Double => x.doubleValue
        case other => other.toString.toDouble
      }
      if (d.isNaN || d.isInfinite) nonFiniteLiteral(d) else v.toString
    case (v, ByteType | ShortType | IntegerType | LongType) => v.toString
    case (v, dt) =>
      throw new UnsupportedOperationException(
        s"[$name] cannot render literal of type $dt: $v")
  }

  /** Non-finite FP literals (NaN/±Infinity) have no bare SQL spelling —
    * `v.toString` would emit an unresolvable identifier. Dialects whose
    * engines both parse the string-cast form AND share Spark's NaN
    * comparison semantics (NaN = NaN is true, NaN sorts greatest:
    * Spark/DuckDB/Postgres) override this; the default refuses, which
    * [[SqlUnparser.tryUnparse]] turns into keeping the predicate local —
    * a performance degradation, never a wrong answer. */
  def nonFiniteLiteral(d: Double): String =
    throw new UnsupportedOperationException(
      s"[$name] no portable SQL literal for non-finite $d")

  /** The string-cast spelling shared by engines that support it. */
  protected final def castNonFinite(d: Double): String = {
    val s = if (d.isNaN) "NaN" else if (d > 0) "Infinity" else "-Infinity"
    s"CAST('$s' AS ${typeName(DoubleType)})"
  }

  private def formatMicros(us: Long): String = {
    val instant = java.time.Instant.EPOCH.plus(us, java.time.temporal.ChronoUnit.MICROS)
    java.time.LocalDateTime.ofInstant(instant, java.time.ZoneOffset.UTC)
      .format(java.time.format.DateTimeFormatter
        .ofPattern("yyyy-MM-dd HH:mm:ss.SSSSSS"))
  }

  def typeName(dt: DataType): String = dt match {
    case ByteType => "TINYINT"
    case ShortType => "SMALLINT"
    case IntegerType => "INTEGER"
    case LongType => "BIGINT"
    case FloatType => "FLOAT"
    case DoubleType => "DOUBLE"
    case StringType => "VARCHAR"
    case BooleanType => "BOOLEAN"
    case DateType => "DATE"
    case TimestampType | TimestampNTZType => "TIMESTAMP"
    case d: DecimalType => s"DECIMAL(${d.precision},${d.scale})"
    case other =>
      throw new UnsupportedOperationException(s"[$name] no type name for $other")
  }

  /** Whether `agg(...) FILTER (WHERE p)` is supported. */
  def supportsFilterClause: Boolean = true

  /** Whether `(VALUES (...), (...)) AS t(c1, c2)` works as a derived
    * table in FROM — the bind-join inline table (probed live on Derby
    * and Spark; standard on Postgres/DuckDB). SQLite parses VALUES in
    * FROM but has no derived column list. */
  def supportsInlineValues: Boolean = true

  /** One cell of an inline VALUES row. NULLs always carry an explicit
    * type (Derby rejects untyped NULL in VALUES; harmless elsewhere).
    * Derby additionally types bare string literals in VALUES as
    * fixed-width CHAR — blank-padded on join/group-by — so it overrides
    * strings with a VARCHAR cast. */
  def valuesCell(v: Any, dt: DataType): String =
    if (v == null) s"CAST(NULL AS ${typeName(dt)})" else literal(v, dt)

  /** Max rows ONE inline `VALUES (…), (…)` literal may carry — engines
    * with recursive-descent VALUES parsing blow the stack beyond a bound
    * (embedded Derby 10.16, probed live: 500 rows parse, 1000 rows
    * StackOverflowError that also KILLS the connection). Renderers chunk
    * larger row sets into a UNION ALL of bounded VALUES derived tables
    * (probed: 10 × 400 rows parse fine where 4000 flat rows die). */
  def maxInlineValuesRows: Int = Int.MaxValue

  /** Total bind-join build rows this engine should ever be sent, enforced
    * at PLANNING time ([[graft.federation.BindJoinRule]]) — past this even
    * the chunked form gets slow (Derby, probed live: 2000 rows ≈ 1s of
    * parse+optimize; 20000 rows effectively hang), and a runtime filter
    * (IN-list/range) is the better ship. */
  def maxBindRows: Int = Int.MaxValue

  /** Build rows past which a bind join should MATERIALIZE the build as a
    * remote staging table instead of inline VALUES (executors that
    * support it — [[SqlExecutor.supportsBindStaging]]). Inline VALUES is
    * parse-cheap but some engines execute it as a nested-loop over a
    * re-evaluated union chain: embedded Derby, probed live against a
    * 200k-row fact, runs a 25-key VALUES join in 2.3s, 100 keys in 15s,
    * 800 keys in 336s (O(build × fact)) — while the SAME 20,000-key build
    * staged as a real table joins in 0.5s including the CREATE+INSERT.
    * Unbounded by default: engines whose VALUES execution scales (DuckDB,
    * probed) keep the zero-DDL inline form. */
  def bindStageRows: Int = Int.MaxValue

  /** The null ordering the engine assumes when none is written. ANSI-ish
    * engines (Postgres, DuckDB) treat NULLs as largest: ASC → NULLS LAST.
    * Spark treats NULLs as smallest: ASC → NULLS FIRST. Making this
    * per-dialect keeps a federated ORDER BY on a nullable key identical to
    * local execution. */
  def defaultNullOrdering(direction: SortDirection): NullOrdering =
    if (direction == Ascending) NullsLast else NullsFirst

  /** Whether the engine accepts an explicit NULLS FIRST/LAST clause. */
  def supportsNullsOrdering: Boolean = true

  /** Whether the engine's ORDER BY over this key type is BIT-IDENTICAL to
    * Spark's, so a single-cursor fragment ending in ORDER BY may expose
    * `outputOrdering` and spare the local re-sort. Conservative default:
    * fixed-point/temporal types only — string collation varies by engine
    * (Spark compares UTF-8 bytes; Derby compares UCS-2 code units, which
    * disagree on supplementary planes), and float NaN ordering varies.
    * Dialects probed to match opt in per type. */
  def orderingPortable(dt: DataType): Boolean = dt match {
    case ByteType | ShortType | IntegerType | LongType | DateType |
         TimestampType | TimestampNTZType | BooleanType | _: DecimalType =>
      true
    case _ => false
  }

  def limitClause(limit: Option[Long], offset: Option[Long]): String =
    (limit, offset) match {
      case (Some(l), Some(o)) => s" LIMIT $l OFFSET $o"
      case (Some(l), None) => s" LIMIT $l"
      case (None, Some(o)) => s" OFFSET $o"
      case (None, None) => ""
    }

  /** Dialect-specific scalar function name mapping (Spark name → remote). */
  def functionName(sparkName: String): String = sparkName

  /** Whether the engine has an `md5(text) → lowercase hex` scalar (not
    * SQL-standard: present on DuckDB/Postgres/Spark, absent on Derby/
    * SQLite). Conservative default keeps fingerprint expressions local. */
  def supportsMd5: Boolean = false

  /** Higher-order array lambdas — `transform(arr, x -> body)` /
    * `filter(arr, x -> body)`: `Some(remoteFn)` admits with the engine's
    * native `param -> body` lambda syntax (Spark `transform`, DuckDB
    * `list_transform` — probed live on 1.0.0: NULL array → NULL, NULL
    * elements map through the body, nested lambdas scope lexically).
    * Default `None` keeps every lambda-bearing expression local. NOTE:
    * Spark evaluates these expressions as `CodegenFallback` — pushing
    * them to the engine is a perf WIN, not just a federation nicety. */
  def arrayTransformFn: Option[String] = None
  def arrayFilterFn: Option[String] = None

  /** Whether the engine's 2-parameter element lambda `(x, i) -> body`
    * indexes 1-based (DuckDB, probed) where Spark's `transform` index is
    * 0-based — the unparser rebases references to the index parameter. */
  def lambdaIndexIsOneBased: Boolean = false

  /** `aggregate(arr, zero, (acc, x) -> body)` rendering style (see
    * [[SqlDialect.ArrayAggStyle]]); None refuses. */
  def arrayAggregateStyle: Option[SqlDialect.ArrayAggStyle] = None

  /** `zip_with(a, b, (x, y) -> body)` rendering style (see
    * [[SqlDialect.ZipWithStyle]]); None refuses. */
  def zipWithStyle: Option[SqlDialect.ZipWithStyle] = None

  /** Array constructor `array(e1, …)` → engine spelling (DuckDB `[e1, …]`
    * — probed, incl. NULL cells and quoted strings; Spark `array(…)`).
    * None (default) keeps expressions building arrays local. */
  def arrayConstructor: Option[Seq[String] => String] = None

  /** Whether the engine ROUNDS on `CAST(fractional AS integral)` where
    * Spark truncates toward zero — probed live on DuckDB
    * (`CAST(2.7::DOUBLE AS BIGINT)` = 3, `CAST(2.7::DECIMAL(5,2) AS
    * BIGINT)` = 3, negatives mirror) and documented for Postgres. When
    * true the unparser wraps the source in `trunc()` (probed: exact
    * toward-zero on DOUBLE, FLOAT and DECIMAL), restoring Spark's value
    * bit-for-bit. Engines that truncate natively leave the cast bare. */
  def integralCastRounds: Boolean = false

  /** Distinct build-side keys a RUNTIME FILTER may inline as an IN list
    * before degrading to a min/max range (which over a dense uniform key
    * space filters NOTHING — the r14 audit caught fed_duckdb_runtime_filter
    * shipping the full 600k-row fact because its 5,951 keys overflowed a
    * one-size cap of 1024 and the range spanned the table). Engines that
    * execute large IN lists well raise it: DuckDB probed live at 100k
    * elements in 0.73 s; the conservative default protects parse-fragile
    * engines (Derby's recursive-descent parser, probed r8). */
  def maxRuntimeFilterKeys: Int = 1024

  /** String concatenation — a function on most engines, the `||` operator
    * only on e.g. Derby (NULL-propagation is identical either way). */
  def concat(args: Seq[String]): String = s"CONCAT(${args.mkString(", ")})"

  /** Whether the engine's AVG over this input type matches Spark's
    * semantics. Engines that keep the INPUT type for AVG (Derby: AVG(INT)
    * is integer division, AVG(DECIMAL(p,s)) truncates at scale s, probed
    * live in the drift tests) must refuse everything but floating point —
    * Spark widens int→double and decimal scale by 4.
    *
    * DECIMAL inputs default to NOT safe: Spark's result type is
    * DECIMAL(p+4,s+4) rounded HALF_UP, which e.g. DuckDB (AVG(DECIMAL) →
    * DOUBLE) and Postgres (full-precision numeric, no s+4 rounding) both
    * diverge from in type and/or rounding. A refused AVG leaves the
    * aggregate local over a federated scan — correct by construction.
    * Dialects with Spark's exact AVG semantics (SparkDialect) opt back in. */
  def avgSafe(dt: DataType): Boolean = dt match {
    case _: DecimalType => false
    case _ => true
  }

  /** Engines whose SUM keeps the input type (Derby) overflow on integral
    * sums where Spark widens to BIGINT; widening the input first restores
    * Spark's semantics at no cost. */
  def sumIntegralNeedsWidening: Boolean = false

  /** CAST to `to` where the `from` source has excess scale (double/float,
    * or a wider-scale decimal). Spark rounds HALF_UP. On overflow (and on
    * NaN/±Inf) it yields NULL when `nullOnOverflow` (a LEGACY or TRY cast,
    * `CheckOverflow.nullOnOverflow`) and raises under ANSI. Engines whose
    * cast rounds differently (Derby and DuckDB, probed live) override. */
  def lossyDecimalCast(x: String, from: DataType, to: DecimalType,
      nullOnOverflow: Boolean): String =
    s"CAST($x AS ${typeName(to)})"

  /** Spark's HALF_UP on an engine whose cast to DECIMAL truncates toward
    * zero: cast to one more digit of scale, add half a unit away from
    * zero and let the final cast truncate. HALF_UP overflows DECIMAL(p,s)
    * exactly when |x| >= max + 5·10^-(s+1); a LEGACY/TRY cast yields NULL
    * there, while an ANSI one lets the engine's out-of-range error
    * through from the final cast. The intermediate DECIMAL(p+2,s+1) fits
    * every in-range value, so it needs two digits under `maxPrecision`. */
  protected final def nudgeThenTruncate(x: String, to: DecimalType,
      maxPrecision: Int, nullOnOverflow: Boolean): String = {
    val (p, s) = (to.precision, to.scale)
    if (p + 2 > maxPrecision)
      throw new UnparseUnsupported(
        s"decimal($p,$s) too wide to round-cast on $name")
    val half = java.math.BigDecimal.valueOf(5L, s + 1).toPlainString
    val nudged = s"CAST(CAST($x AS DECIMAL(${p + 2},${s + 1})) + " +
      s"(CASE WHEN $x >= 0 THEN $half ELSE -$half END) AS DECIMAL($p,$s))"
    if (!nullOnOverflow) nudged
    else {
      val bound = new java.math.BigDecimal(
          java.math.BigInteger.TEN.pow(p).subtract(java.math.BigInteger.ONE), s)
        .add(java.math.BigDecimal.valueOf(5L, s + 1)).toPlainString
      s"(CASE WHEN ABS($x) >= $bound THEN CAST(NULL AS DECIMAL($p,$s)) " +
        s"ELSE $nudged END)"
    }
  }

  /** Null-safe equality (Spark `<=>`). Engines without IS NOT DISTINCT
    * FROM emulate with COALESCE — exact in every context, including
    * projections, where bare OR-of-IS-NULLs would yield NULL instead of
    * FALSE. Operands parenthesize: a predicate-typed operand (Catalyst
    * produces `like <=> true` shapes the simplifier cannot fold) would
    * otherwise chain as `x LIKE p IS NOT DISTINCT FROM TRUE`, which SQL
    * parsers reject — found by the r13 fuzz at seed 4242. */
  def nullSafeEq(l: String, r: String): String =
    s"(($l) IS NOT DISTINCT FROM ($r))"

  /** Windowed OVER(...) clauses — Derby only parses the bare
    * `ROW_NUMBER() OVER ()` form (probed), so the whole Window node must
    * refuse there. */
  def supportsWindowFunctions: Boolean = true

  /** `GROUP BY GROUPING SETS (…)` (the lowered form of ROLLUP/CUBE).
    * Derby has no grouping analytics at all ("Encountered \"SETS\"" —
    * caught live by the r10 ROLLUP fuzz case on its FIRST Derby run;
    * the mock and DuckDB runs had always accepted it) and SQLite
    * likewise lacks the clause, so both refuse and the Expand+Aggregate
    * stays local. */
  def supportsGroupingSets: Boolean = true

  /** SUBSTRING with constant pos ≥ 1 and len ≥ 0. Spark clamps
    * out-of-range arguments; engines whose substring RAISES on them
    * (Derby: start past the end, or length past the remainder, even on
    * '' — probed live) override with a clamping emulation. */
  def substringSql(str: String, pos: Int, len: Int): String =
    s"${functionName("substring")}($str, $pos, $len)"

  /** True when the engine's substring raises on out-of-range arguments —
    * non-constant pos/len can't be proven safe, so they refuse. */
  def substringStrictRange: Boolean = false

  /** Regular-expression match predicate. */
  def regexpMatch(input: String, pattern: String): String =
    s"REGEXP_LIKE($input, $pattern)"

  /** Integer remainder (Derby has no % operator). */
  def modulo(left: String, right: String): String = s"($left % $right)"

  /** Spark's `div` (IntegralDivide) over integral operands: the quotient
    * truncated toward zero. ANSI SQL's `/` on integers is that quotient
    * (Derby), an engine whose `/` is fractional overrides. */
  def integralDivide(left: String, right: String): String =
    s"($left / $right)"

  /** Whether a zero divisor of `/`, [[integralDivide]] or [[modulo]]
    * raises, for every numeric type (as Spark's does under ANSI; SQL's
    * division-by-zero error, Derby) or gives NULL (as Spark's does
    * without ANSI; DuckDB, SQLite). None = it depends on the engine's own
    * settings, so only a non-zero literal divisor is pushed. */
  def divisionByZeroRaises: Option[Boolean] = Some(true)

  /** `divisor` wrapped to raise `errorClass` when it is zero, for an
    * engine whose zero divisor gives NULL: lets a divisor that may be
    * zero push under ANSI. None = the engine cannot raise on demand. */
  def raisingDivisor(divisor: String, errorClass: String): Option[String] =
    None

  /** A cast to `to` that gives NULL where a plain CAST raises — Spark's
    * LEGACY or TRY cast past the target's range. None = the engine has no
    * such cast, and the unparser refuses the expression. */
  def tryCast(x: String, to: DataType): Option[String] = None

  /** Hex-string → decimal-string conversion (Spark's `conv(x, 16, 10)` —
    * the deterministic MD5-bucket sampling rule rides on it). None means
    * the engine has no portable spelling and the expression refuses,
    * degrading the sampling filter to local execution over the scan. */
  def hexToDecimal(hex: String): Option[String] = None

  /** Array-unnest join: one output row per element of `arraySql` for each
    * input row of `fromText` (the SQL form of Spark's Generate/Explode —
    * reference rewrites unnest through federation, analyzer.rs:561-564).
    * ANSI/DuckDB/Postgres form; engines without array columns throw. */
  def unnestJoin(fromText: String, arraySql: String, alias: String,
      elemName: String): String =
    s"$fromText CROSS JOIN UNNEST($arraySql) AS $alias($elemName)"

  /** OUTER unnest-join: a NULL/empty array keeps the input row with a NULL
    * element (Spark's `Generate(..., outer=true)`). Opt-in capability —
    * engines without a left-lateral form refuse and the Generate degrades
    * to a local operator over the federated scan. */
  def unnestJoinOuter(fromText: String, arraySql: String, alias: String,
      elemName: String): String =
    throw new UnparseUnsupported(s"$name has no outer-unnest form")

  /** Positional unnest-join (Spark `posexplode`): returns the FROM text
    * and the SQL expression yielding the 0-BASED element position (SQL
    * `WITH ORDINALITY` is 1-based — implementations rebase). Opt-in, as
    * [[unnestJoinOuter]]. */
  def unnestJoinPos(fromText: String, arraySql: String, alias: String,
      elemName: String, posName: String, outer: Boolean): (String, String) =
    throw new UnparseUnsupported(s"$name has no positional-unnest form")

  /** Number of elements of an array value (ANSI/Postgres CARDINALITY). */
  def arraySize(arraySql: String): String = s"CARDINALITY($arraySql)"

  /** date + n days. */
  def dateAddDays(date: String, days: String): String =
    s"DATE_ADD($date, $days)"

  /** Whole days between two dates (end - start). */
  def dateDiffDays(end: String, start: String): String =
    s"DATEDIFF($end, $start)"
}

object SqlDialect {
  /** How `aggregate(arr, zero, (acc, x) -> body)` renders remotely. */
  sealed trait ArrayAggStyle
  /** The engine has Spark's native 3-arg form: `fn(arr, zero, lambda)`. */
  case class AggNative(fn: String) extends ArrayAggStyle
  /** `CASE WHEN arr IS NULL THEN NULL ELSE
    *   list_reduce(list_prepend(zero, arr), (acc, x) -> body) END` —
    * DuckDB (probed live on 1.0.0): list_reduce takes NO initial value
    * (first element seeds the fold, so prepending the zero reproduces
    * Spark exactly, including `aggregate([], zero) = zero`); the NULL
    * guard is REQUIRED because `list_prepend(zero, NULL)` yields `[zero]`
    * where Spark's aggregate(NULL, …) is NULL. Integer overflow in the
    * body errors LOUDLY on the engine where non-ANSI Spark would wrap —
    * fail-loud, never silent divergence. */
  case object AggReducePrepend extends ArrayAggStyle

  /** How `zip_with(a, b, (x, y) -> body)` renders remotely. */
  sealed trait ZipWithStyle
  /** The engine has Spark's native form: `fn(a, b, (x, y) -> body)`. */
  case class ZipNative(fn: String) extends ZipWithStyle
  /** `CASE WHEN a IS NULL OR b IS NULL THEN NULL ELSE
    *   [body(a[i], b[i]) FOR i IN range(1, greatest(len(a), len(b)) + 1)]
    * END` — DuckDB (probed live on 1.0.0): out-of-range list indexing
    * yields NULL, which reproduces Spark's shorter-side NULL padding
    * bit-for-bit; the NULL guard is required because `greatest` skips
    * NULLs and a NULL side would otherwise comprehend over the other. */
  case object ZipIndexComprehension extends ZipWithStyle
}

/** ANSI-ish default used for golden tests. */
object AnsiDialect extends SqlDialect {
  override val name = "ansi"
  override def quote(ident: String): String =
    "\"" + ident.replace("\"", "\"\"") + "\""
}

/** Spark SQL itself as the remote dialect — what the in-process mock
  * executor (a second SparkSession) speaks. */
object SparkDialect extends SqlDialect {
  override val name = "spark"
  override def supportsMd5: Boolean = true
  // higher-order lambdas: the remote IS Spark — native spellings
  override def arrayTransformFn: Option[String] = Some("transform")
  override def arrayFilterFn: Option[String] = Some("filter")
  override def arrayAggregateStyle: Option[SqlDialect.ArrayAggStyle] =
    Some(SqlDialect.AggNative("aggregate"))
  override def zipWithStyle: Option[SqlDialect.ZipWithStyle] =
    Some(SqlDialect.ZipNative("zip_with"))
  override def arrayConstructor: Option[Seq[String] => String] =
    Some(items => s"array(${items.mkString(", ")})")
  // the mock re-parses the IN list into Catalyst InSet — scale-safe
  override def maxRuntimeFilterKeys: Int = 65536
  override val supportsSubqueryCte = true
  override val supportsIntervalArithmetic = true
  override def quote(ident: String): String =
    "`" + ident.replace("`", "``") + "`"
  override def typeName(dt: DataType): String = dt.sql
  // Spark sorts NULLs smallest by default
  override def defaultNullOrdering(direction: SortDirection): NullOrdering =
    if (direction == Ascending) NullsFirst else NullsLast
  // Spark SQL's unnest form is the Hive-inherited LATERAL VIEW
  override def unnestJoin(fromText: String, arraySql: String, alias: String,
      elemName: String): String =
    s"$fromText LATERAL VIEW EXPLODE($arraySql) $alias AS $elemName"
  override def unnestJoinOuter(fromText: String, arraySql: String,
      alias: String, elemName: String): String =
    s"$fromText LATERAL VIEW OUTER EXPLODE($arraySql) $alias AS $elemName"
  // POSEXPLODE's pos is already 0-based
  override def unnestJoinPos(fromText: String, arraySql: String,
      alias: String, elemName: String, posName: String,
      outer: Boolean): (String, String) = {
    val o = if (outer) "OUTER " else ""
    (s"$fromText LATERAL VIEW ${o}POSEXPLODE($arraySql) $alias " +
      s"AS $posName, $elemName",
      s"$alias.$posName")
  }
  override def arraySize(arraySql: String): String = s"SIZE($arraySql)"
  override def nonFiniteLiteral(d: Double): String = castNonFinite(d)
  // the remote IS Spark — AVG semantics are identical for every type
  override def avgSafe(dt: DataType): Boolean = true
  // ...and so is every ordering
  override def orderingPortable(dt: DataType): Boolean = true
  override def hexToDecimal(hex: String): Option[String] =
    Some(s"conv($hex, 16, 10)")
  override def integralDivide(left: String, right: String): String =
    s"($left div $right)"
  // the remote session's own ANSI setting decides
  override def divisionByZeroRaises: Option[Boolean] = None
  override def tryCast(x: String, to: DataType): Option[String] =
    Some(s"TRY_CAST($x AS ${typeName(to)})")
}

/** DuckDB dialect — LIVE-probed against the container's DuckDB 1.0.0
  * through [[graft.federation.duckdb.DuckDbSqlExecutor]] (the same probing
  * discipline that hardened DerbyDialect in rounds 6-8; the fixes below
  * are pinned by the UnparserSpec goldens AND exercised end-to-end by the
  * live fuzz arm in UnparserFuzzSpec / DuckDbFederationSpec). */
object DuckDbDialect extends SqlDialect {
  override val name = "duckdb"
  override def supportsMd5: Boolean = true
  // probed: CAST(2.7::DOUBLE AS BIGINT) = 3 (Spark: 2) — see trait doc
  override def integralCastRounds: Boolean = true
  // higher-order lambdas, each probed live on 1.0.0 (NULL array → NULL,
  // NULL elements map through, nested lambdas scope lexically, OOB index
  // → NULL, 2-param lambda index is 1-BASED where Spark's is 0-based)
  override def arrayTransformFn: Option[String] = Some("list_transform")
  override def arrayFilterFn: Option[String] = Some("list_filter")
  override def lambdaIndexIsOneBased: Boolean = true
  override def arrayAggregateStyle: Option[SqlDialect.ArrayAggStyle] =
    Some(SqlDialect.AggReducePrepend)
  override def zipWithStyle: Option[SqlDialect.ZipWithStyle] =
    Some(SqlDialect.ZipIndexComprehension)
  override def arrayConstructor: Option[Seq[String] => String] =
    Some(items => s"[${items.mkString(", ")}]")
  override def functionName(sparkName: String): String = sparkName match {
    case "array_max" => "list_max"
    case "array_min" => "list_min"
    case other => other
  }
  // probed live on 1.0.0: a 100k-element IN list executes in 0.73 s
  override def maxRuntimeFilterKeys: Int = 65536
  override val supportsSubqueryCte = true
  override val supportsIntervalArithmetic = true
  // inline VALUES scale is safe on DuckDB (probed live on 1.0.0: 1k,
  // 20k, and 100k-row VALUES parse + execute in 0.01/0.09/0.43 s; a
  // 100k-element IN list in 0.73 s) — the Derby recursive-descent
  // StackOverflow past ~1000 rows is engine-specific, so the default
  // unbounded maxInlineValuesRows/maxBindRows stand here with evidence
  override def quote(ident: String): String =
    "\"" + ident.replace("\"", "\"\"") + "\""
  override def regexpMatch(input: String, pattern: String): String =
    s"regexp_matches($input, $pattern)"
  override def arraySize(arraySql: String): String = s"LEN($arraySql)"
  // DATE + INTERVAL yields a TIMESTAMP on DuckDB (probed live) — re-cast
  // so a projected date_add keeps Spark's DATE type
  override def dateAddDays(date: String, days: String): String =
    s"CAST(($date + INTERVAL ($days) DAY) AS DATE)"
  override def dateDiffDays(end: String, start: String): String =
    s"DATE_DIFF('day', $start, $end)"
  override def nonFiniteLiteral(d: Double): String = castNonFinite(d)
  // CONCAT skips NULL arguments on DuckDB (probed live:
  // CONCAT('a', NULL, 'b') = 'ab') where Spark propagates NULL; the ||
  // operator chain has Spark's NULL semantics
  override def concat(args: Seq[String]): String =
    args.mkString("(", " || ", ")")
  // A cast to DECIMAL(p,s) rounds on DuckDB 1.0 by source type (probed
  // live). DECIMAL and FLOAT sources TRUNCATE toward zero (2.5→2,
  // -2.5→-2, 1.9999995→1.999999). A DOUBLE source rounds its binary value
  // (2.5→3, 1.005→1.01, 0.004999999995→0.01 at scale 2), where Spark
  // rounds the double's decimal text HALF_UP (0.004999999995→0.00). So
  // DOUBLE sources, and FLOAT ones widened to DOUBLE, take `roundDouble`;
  // DECIMAL sources take nudge-then-truncate, DuckDB's max precision 38
  // bounding its two guard digits.
  override def lossyDecimalCast(x: String, from: DataType, to: DecimalType,
      nullOnOverflow: Boolean): String = from match {
    case DoubleType => roundDouble(x, to, nullOnOverflow)
    case FloatType => roundDouble(s"CAST($x AS DOUBLE)", to, nullOnOverflow)
    case _ => nudgeThenTruncate(x, to, 38, nullOnOverflow)
  }

  /** Spark's `CAST(double AS DECIMAL(p,s))`: HALF_UP on the text
    * `Double.toString` gives the double. Three arms, tried in order:
    *  1. `|x| < 10^min(11-s, p-s)` (less a unit when p <= 11, where a
    *     round-up would overflow unchecked) and `x·10^s` more than 1e-4
    *     from a half: DuckDB's own cast, on 64-bit integers (a DECIMAL
    *     past 18 digits runs in 128-bit HUGEINT, several times slower).
    *     `x·10^s < 10^11`, so the double product is off by under 1e-5
    *     and both engines pick the same integer. This arm also takes
    *     every value under half a unit, whose exponent text DuckDB 1.0
    *     mis-parses ('9.9e-07' becomes 0.01 at scale 2). Past scale 11
    *     there is no such arm, and a plain compare sends those values to
    *     0 instead.
    *  2. NaN and ±Inf: NULL in every mode (Spark's text of them is no
    *     number). `|x| >= 10^(p-s)`: NULL, or under ANSI DuckDB's own
    *     cast, which raises. The nearest double to 10^k prints as 1e+k,
    *     so this compare matches Spark's test on the text. Without ANSI
    *     one compare does both: DuckDB orders NaN above every number.
    *  3. The rest (ties, near-ties, magnitudes past arm 1) parse
    *     `CAST(x AS VARCHAR)`, DuckDB's shortest text, HALF_UP. The parse
    *     goes to one more digit of precision and then narrows, because a
    *     round-up into 10^(p-s) passes the parse unchecked ('99.995' →
    *     100.00 in DECIMAL(4,2)) but not the narrowing cast.
    * Below 1e16 the value of `Double.toString` on JDK 17 is the shortest
    * text's (no difference in 800k sampled doubles). From 1e16 up JDK 17
    * prints digits that are not the shortest (6.8615415705361114E17,
    * where DuckDB prints 6.861541570536111e+17), and nothing in DuckDB
    * reproduces them, so a target with more than 16 integer digits stays
    * local. */
  private def roundDouble(x: String, to: DecimalType,
      nullOnOverflow: Boolean): String = {
    val (p, s) = (to.precision, to.scale)
    if (p - s > 16)
      throw new UnparseUnsupported(
        s"double to decimal($p,$s) holds values from 1e16, which Spark " +
          "rounds from digits duckdb does not print")
    val dec = s"DECIMAL($p,$s)"
    val fast =
      if (s > 11) s"WHEN ABS($x) < 5e-${s + 1} THEN CAST(0 AS $dec) "
      else {
        val bound =
          if (p > 11) s"1e${11 - s}"
          else java.math.BigDecimal.ONE.scaleByPowerOfTen(p - s)
            .subtract(java.math.BigDecimal.ONE.scaleByPowerOfTen(-s))
            .toPlainString + "e0"
        val cast =
          if (p <= 18) s"CAST($x AS $dec)"
          else s"CAST(CAST($x AS DECIMAL(18,$s)) AS $dec)"
        s"WHEN ABS($x) < $bound AND " +
          s"ABS($x * 1e$s - FLOOR($x * 1e$s) - 0.5) > 1e-4 THEN $cast "
      }
    val overflow =
      if (nullOnOverflow) s"WHEN ABS($x) >= 1e${p - s} THEN CAST(NULL AS $dec) "
      else s"WHEN NOT isfinite($x) THEN CAST(NULL AS $dec) " +
        s"WHEN ABS($x) >= 1e${p - s} THEN CAST($x AS $dec) "
    val narrow = if (nullOnOverflow) "TRY_CAST" else "CAST"
    s"(CASE $fast${overflow}ELSE $narrow(CAST(CAST($x AS VARCHAR) AS " +
      s"DECIMAL(${math.min(p + 1, 38)},$s)) AS $dec) END)"
  }
  // `/` on BIGINTs is fractional on DuckDB 1.0 (probed: (7 / 2) * 2 =
  // 7.0); `//` truncates toward zero (-7 // 2 = -3). A zero divisor gives
  // NULL for `//`, `/` and `%` on every numeric type (probed on DOUBLE,
  // DECIMAL and BIGINT)
  override def integralDivide(left: String, right: String): String =
    s"($left // $right)"
  override def divisionByZeroRaises: Option[Boolean] = Some(false)
  // probed: error() raises where it is reached, and a CASE evaluates a
  // branch only for the rows that take it, so a zero divisor under a
  // guard such as `CASE WHEN m > 0 THEN x / m END` does not raise
  override def raisingDivisor(divisor: String,
      errorClass: String): Option[String] =
    Some(s"(CASE $divisor WHEN 0 THEN error('[$errorClass] division by zero') " +
      s"ELSE $divisor END)")
  // probed: TRY_CAST(CAST(123456.5 AS DECIMAL(20,8)) AS DECIMAL(10,8)) is
  // NULL, as Spark's LEGACY and TRY casts are
  override def tryCast(x: String, to: DataType): Option[String] =
    Some(s"TRY_CAST($x AS ${typeName(to)})")
  // ORDER BY probed bit-identical to Spark beyond the fixed-point
  // default: strings sort by UTF-8 bytes ('~' < 'é' < '😀', same as
  // UTF8String), doubles sort NaN greatest with ±0.0 tied
  override def orderingPortable(dt: DataType): Boolean = dt match {
    case StringType | FloatType | DoubleType => true
    case other => super.orderingPortable(other)
  }
  // DuckDB lateral joins make UNNEST left-joinable (probed live)
  override def unnestJoinOuter(fromText: String, arraySql: String,
      alias: String, elemName: String): String =
    s"$fromText LEFT JOIN UNNEST($arraySql) AS $alias($elemName) ON TRUE"
  // WITH ORDINALITY is NOT implemented on DuckDB 1.0 (probed live:
  // "Not implemented Error" — the ANSI form this dialect first pinned as
  // a golden would fail on the engine). The working live form is a
  // LATERAL derived table zipping unnest() with generate_subscripts()
  // (both 1-row-per-element expressions align positionally in DuckDB).
  override def unnestJoinPos(fromText: String, arraySql: String,
      alias: String, elemName: String, posName: String,
      outer: Boolean): (String, String) = {
    val join = if (outer) "LEFT JOIN" else "CROSS JOIN"
    val on = if (outer) " ON TRUE" else ""
    (s"$fromText $join LATERAL (SELECT UNNEST($arraySql) AS $elemName, " +
      s"GENERATE_SUBSCRIPTS($arraySql, 1) AS $posName) AS $alias$on",
      s"($alias.$posName - 1)") // subscripts are 1-based; Spark pos 0-based
  }
  // '0x'-prefixed CAST parses hex; 14 md5 hex digits = 56 bits < BIGINT.
  // Re-rendered as VARCHAR to keep conv()'s string result type.
  override def hexToDecimal(hex: String): Option[String] =
    Some(s"CAST(CAST('0x' || $hex AS BIGINT) AS VARCHAR)")
}

/** PostgreSQL dialect. */
object PostgresDialect extends SqlDialect {
  override val name = "postgres"
  override def supportsMd5: Boolean = true
  // round(), documented: float/numeric→int casts round half away
  override def integralCastRounds: Boolean = true
  override val supportsSubqueryCte = true
  override val supportsIntervalArithmetic = true
  override def quote(ident: String): String =
    "\"" + ident.replace("\"", "\"\"") + "\""
  override def typeName(dt: DataType): String = dt match {
    case ByteType => "SMALLINT" // no single-byte integer type
    case FloatType => "REAL"
    case DoubleType => "DOUBLE PRECISION"
    case StringType => "TEXT"
    case other => super.typeName(other)
  }
  override def regexpMatch(input: String, pattern: String): String =
    s"($input ~ $pattern)"
  override def dateAddDays(date: String, days: String): String =
    s"($date + ($days) * INTERVAL '1 day')"
  override def dateDiffDays(end: String, start: String): String =
    s"(CAST($end AS date) - CAST($start AS date))"
  override def nonFiniteLiteral(d: Double): String = castNonFinite(d)
  override def unnestJoinOuter(fromText: String, arraySql: String,
      alias: String, elemName: String): String =
    s"$fromText LEFT JOIN LATERAL UNNEST($arraySql) AS $alias($elemName) ON TRUE"
  override def unnestJoinPos(fromText: String, arraySql: String,
      alias: String, elemName: String, posName: String,
      outer: Boolean): (String, String) = {
    val join = if (outer) "LEFT JOIN LATERAL" else "CROSS JOIN LATERAL"
    val on = if (outer) " ON TRUE" else ""
    (s"$fromText $join UNNEST($arraySql) WITH ORDINALITY " +
      s"AS $alias($elemName, $posName)$on",
      s"($alias.$posName - 1)") // ORDINALITY is 1-based; Spark pos is 0-based
  }
}

/** SQLite dialect. NULLs sort smallest (like Spark); REGEXP needs a
  * loaded extension, so regexp fragments stay local. */
object SqliteDialect extends SqlDialect {
  override val name = "sqlite"
  override val supportsSubqueryCte = true
  override def supportsInlineValues: Boolean = false
  // SQLite has no GROUPING SETS / ROLLUP / CUBE clause
  override def supportsGroupingSets: Boolean = false
  // a zero divisor gives NULL (probed with SQLite 3: 1/0, 1.5/0.0, 7 % 0
  // and 7.5 % 0.0 are all NULL)
  override def divisionByZeroRaises: Option[Boolean] = Some(false)
  override def quote(ident: String): String =
    "\"" + ident.replace("\"", "\"\"") + "\""
  override def typeName(dt: DataType): String = dt match {
    case ByteType | ShortType | IntegerType | LongType => "INTEGER"
    case FloatType | DoubleType => "REAL"
    case StringType => "TEXT"
    case other => super.typeName(other)
  }
  override def defaultNullOrdering(direction: SortDirection): NullOrdering =
    if (direction == Ascending) NullsFirst else NullsLast
  override def regexpMatch(input: String, pattern: String): String =
    throw new UnparseUnsupported("sqlite regexp requires an extension")
  // OFFSET requires a preceding LIMIT clause; -1 means unbounded
  override def limitClause(limit: Option[Long], offset: Option[Long]): String =
    (limit, offset) match {
      case (None, Some(o)) => s" LIMIT -1 OFFSET $o"
      case other => super.limitClause(limit, offset)
    }
  override def dateDiffDays(end: String, start: String): String =
    s"CAST(julianday($end) - julianday($start) AS INTEGER)"
}
