package graft

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.dsl.expressions._
import org.apache.spark.sql.catalyst.dsl.plans._
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate._
import org.apache.spark.sql.catalyst.plans._
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.federation.jdbc.DerbyDialect
import graft.federation.plans.RemoteRelation
import graft.federation.sql._

/** Golden generated-SQL tests for the unparser — the reference's
  * highest-value test style (final-SQL string assertions,
  * src/sql/mod.rs:667-675, src/sql/analyzer.rs:715-938). Plans are built
  * directly with the Catalyst DSL (no SparkSession), so these pin the
  * exact SQL text the engine ships to a remote. */
class UnparserSpec extends AnyFunSuite {

  private object StubExecutor extends SqlExecutor {
    override def name = "golden"
    override def computeContext: Option[String] = Some("golden@test")
    override def dialect: SqlDialect = AnsiDialect
    override def execute(sql: String, schema: StructType): RDD[InternalRow] =
      throw new UnsupportedOperationException("golden tests never execute")
    override def queryRows[A](sql: String, schema: StructType)(
        consume: Iterator[InternalRow] => A): A =
      throw new UnsupportedOperationException("golden tests never execute")
    override def tableNames: Seq[String] = Nil
    override def tableSchema(ref: RemoteTableRef): StructType =
      throw new UnsupportedOperationException
  }

  private def rel(table: String, fields: (String, DataType)*): RemoteRelation =
    RemoteRelation(RemoteTableRef(Seq(table)), StubExecutor,
      fields.map { case (n, t) => AttributeReference(n, t)() })

  private def sql(plan: LogicalPlan): String =
    new SqlUnparser(AnsiDialect).unparse(plan)

  private val t = rel("t", "a" -> IntegerType, "b" -> StringType)
  private val a = t.output.head
  private val b = t.output(1)

  test("project + filter render one SELECT block") {
    val plan = Project(Seq(a, b), Filter(GreaterThan(a, Literal(1)), t))
    assert(sql(plan) ==
      "SELECT t1.a AS a, t1.b AS b FROM t AS t1 WHERE (t1.a > 1)")
  }

  test("stacked filters become conjuncts, outermost first") {
    val plan = Project(Seq(a),
      Filter(IsNotNull(b), Filter(GreaterThan(a, Literal(1)), t)))
    assert(sql(plan) ==
      "SELECT t1.a AS a FROM t AS t1 WHERE t1.b IS NOT NULL AND (t1.a > 1)")
  }

  test("stacked filters with NO project keep every conjunct (split-scan shape)") {
    // the exact shape SplitScan builds: a split Filter stacked on an
    // already-filtered fragment with no Project above. The inner conjunct
    // was silently dropped before the Derby fuzz caught it.
    val plan = Filter(IsNotNull(b), Filter(GreaterThan(a, Literal(1)), t))
    val s = sql(plan)
    assert(s.contains("t1.b IS NOT NULL") && s.contains("(t1.a > 1)"), s)
    // and three deep, mixed with a bare-attribute projection in between
    val deep = Filter(LessThan(a, Literal(9)),
      Project(Seq(a, b),
        Filter(IsNotNull(b), Filter(GreaterThan(a, Literal(1)), t))))
    val ds = sql(deep)
    assert(ds.contains("(t1.a < 9)") && ds.contains("t1.b IS NOT NULL") &&
      ds.contains("(t1.a > 1)"), ds)
  }

  test("aggregate with DISTINCT and FILTER modifiers") {
    val cnt = Alias(AggregateExpression(Count(Seq(a)), Complete,
      isDistinct = true), "n")()
    val mx = Alias(AggregateExpression(Max(a), Complete, isDistinct = false,
      filter = Some(EqualTo(b, Literal("x")))), "m")()
    val plan = Aggregate(Seq(b), Seq(b, cnt, mx), t)
    assert(sql(plan) ==
      "SELECT t1.b AS b, count(DISTINCT t1.a) AS n, " +
        "max(t1.a) FILTER (WHERE (t1.b = 'x')) AS m FROM t AS t1 GROUP BY t1.b")
  }

  test("partial-agg fragment: __gp_ aliases + GROUP BY render as one SELECT") {
    // the exact per-child shape PartialAggRule builds: group cols first,
    // then one __gp_<i> alias per combinable aggregate call
    val cnt = Alias(AggregateExpression(Count(Seq(Literal(1))), Complete,
      isDistinct = false), "__gp_0")()
    val sm = Alias(AggregateExpression(Sum(a), Complete,
      isDistinct = false), "__gp_1")()
    val mn = Alias(AggregateExpression(Min(a), Complete,
      isDistinct = false), "__gp_2")()
    val plan = Aggregate(Seq(b), Seq(b, cnt, sm, mn),
      Filter(GreaterThan(a, Literal(1)), t))
    assert(sql(plan) ==
      "SELECT t1.b AS b, count(*) AS __gp_0, sum(t1.a) AS __gp_1, " +
        "min(t1.a) AS __gp_2 FROM t AS t1 WHERE (t1.a > 1) GROUP BY t1.b")
  }

  test("inner join with condition, qualified scopes") {
    val u = rel("u", "a" -> IntegerType, "c" -> StringType)
    val ua = u.output.head
    val plan = Project(Seq(b, u.output(1)),
      Join(t, u, Inner, Some(EqualTo(a, ua)), JoinHint.NONE))
    assert(sql(plan) ==
      "SELECT t1.b AS b, t2.c AS c FROM t AS t1 JOIN u AS t2 ON (t1.a = t2.a)")
  }

  test("left semi join renders as EXISTS") {
    val u = rel("u", "a" -> IntegerType)
    val plan = Project(Seq(a),
      Join(t, u, LeftSemi, Some(EqualTo(a, u.output.head)), JoinHint.NONE))
    val s = sql(plan)
    assert(s.contains("WHERE EXISTS (SELECT 1 FROM u AS"), s)
  }

  test("order by + limit + offset peel into trailing clauses") {
    val plan = GlobalLimit(Literal(10),
      LocalLimit(Literal(10),
        Offset(Literal(5),
          Sort(Seq(SortOrder(a, Descending)), global = true,
            Project(Seq(a), t)))))
    // the sort key resolves to the select-list alias, and Catalyst's DESC
    // default (NULLS LAST) differs from the ANSI default (NULLS FIRST), so
    // the clause is spelled out
    assert(sql(plan) ==
      "SELECT t1.a AS a FROM t AS t1 ORDER BY a DESC NULLS LAST LIMIT 10 OFFSET 5")
  }

  test("null-safe equality parenthesizes predicate operands (fuzz seed " +
      "4242: `x LIKE p IS NOT DISTINCT FROM TRUE` does not parse)") {
    // Catalyst produces `like <=> true` from constant-folded CASE
    // predicates and the simplifier cannot fold through the tri-state
    val plan = Project(Seq(a),
      Filter(EqualNullSafe(Like(b, Literal("_"), '\\'), Literal(true)), t))
    assert(sql(plan) ==
      "SELECT t1.a AS a FROM t AS t1 " +
        "WHERE ((t1.b LIKE '_') IS NOT DISTINCT FROM (TRUE))")
  }

  test("ORDER BY on a declared ANSI interval key is ADMITTED (policy)") {
    // Policy, decided r13: remote interval ordering ships. Engine interval
    // comparison is normalized-duration (probed on DuckDB: 25h > 1 day,
    // 1 month = 30 days), which matches Spark's ANSI interval ordering
    // exactly BECAUSE the declared types guarantee the divergent component
    // is zero — DayTimeInterval has no months (strict IntervalCast refuses
    // at the wire), YearMonthInterval has no days/micros. The mixed
    // CalendarIntervalType can never reach here: Spark's analyzer rejects
    // sorting it. On the DuckDB wire the engine sorts the NATIVE interval
    // (it crosses as an Arrow interval, never as text); ordering claims
    // stay refused via orderingPortable.
    val iv = rel("tv", "id" -> LongType, "dt" -> DayTimeIntervalType())
    val plan = GlobalLimit(Literal(3),
      LocalLimit(Literal(3),
        Sort(Seq(SortOrder(iv.output(1), Descending)), global = true,
          Project(Seq(iv.output.head, iv.output(1)), iv))))
    assert(sql(plan) ==
      "SELECT t1.id AS id, t1.dt AS dt FROM tv AS t1 " +
        "ORDER BY dt DESC NULLS LAST LIMIT 3")
  }

  test("sort above limit keeps the limit in a derived table") {
    val inner = GlobalLimit(Literal(7), Project(Seq(a), t))
    val plan = Sort(Seq(SortOrder(a, Ascending)), global = true, inner)
    assert(sql(plan) ==
      "SELECT t2.a AS a FROM (SELECT t1.a AS a FROM t AS t1 LIMIT 7) AS t2 " +
        "ORDER BY t2.a ASC NULLS FIRST")
  }

  test("union all of two projections") {
    val t2r = rel("t2", "a" -> IntegerType)
    val plan = Union(
      Seq(Project(Seq(a), t), Project(Seq(t2r.output.head), t2r)),
      byName = false, allowMissingCol = false)
    assert(sql(plan) ==
      "SELECT t1.a AS a FROM t AS t1 UNION ALL SELECT t2.a AS a FROM t2 AS t2")
  }

  test("union with trailing ORDER BY + LIMIT binds to the whole union") {
    val t2r = rel("t2", "a" -> IntegerType)
    val u = Union(
      Seq(Project(Seq(a), t), Project(Seq(t2r.output.head), t2r)),
      byName = false, allowMissingCol = false)
    val plan = GlobalLimit(Literal(10),
      LocalLimit(Literal(10),
        Sort(Seq(SortOrder(u.output.head, Descending)), global = true, u)))
    assert(sql(plan) ==
      "SELECT t1.a AS a FROM t AS t1 UNION ALL SELECT t2.a AS a FROM t2 AS t2 " +
        "ORDER BY a DESC NULLS LAST LIMIT 10")
  }

  test("union arm with its own LIMIT is wrapped in a derived table") {
    // the per-provider top-k shape TopKPushdownRule builds: bare
    // `SELECT ... LIMIT k UNION ALL ...` is illegal, so the arm must nest
    val t2r = rel("t2", "a" -> IntegerType)
    val arm1 = GlobalLimit(Literal(5),
      LocalLimit(Literal(5),
        Sort(Seq(SortOrder(a, Ascending)), global = true,
          Project(Seq(a), t))))
    val u = Union(Seq(arm1, Project(Seq(t2r.output.head), t2r)),
      byName = false, allowMissingCol = false)
    assert(sql(u) ==
      "SELECT t2.a AS a FROM " +
        "(SELECT t1.a AS a FROM t AS t1 ORDER BY a ASC NULLS FIRST LIMIT 5) AS t2 " +
        "UNION ALL SELECT t3.a AS a FROM t2 AS t3")
  }

  test("expression ORDER BY directly over a union refuses") {
    val t2r = rel("t2", "a" -> IntegerType)
    val u = Union(
      Seq(Project(Seq(a), t), Project(Seq(t2r.output.head), t2r)),
      byName = false, allowMissingCol = false)
    val plan = Sort(Seq(SortOrder(Abs(u.output.head), Ascending)),
      global = true, u)
    assertThrows[UnparseUnsupported](sql(plan))
  }

  test("window function with frame renders OVER clause") {
    val spec = WindowSpecDefinition(Seq(b), Seq(SortOrder(a, Ascending)),
      SpecifiedWindowFrame(RowFrame, UnboundedPreceding, CurrentRow))
    val w = Alias(WindowExpression(
      AggregateExpression(Sum(a), Complete, isDistinct = false), spec), "s")()
    val plan = Project(Seq(w), Window(Seq(w), Seq(b),
      Seq(SortOrder(a, Ascending)), t))
    val s = sql(plan)
    assert(s.contains("sum(t1.a) OVER (PARTITION BY t1.b " +
      "ORDER BY t1.a ASC NULLS FIRST " +
      "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)"), s)
  }

  test("window navigation functions render; IGNORE NULLS and orderless refuse") {
    val spec = WindowSpecDefinition(Seq(b), Seq(SortOrder(a, Ascending)),
      SpecifiedWindowFrame(RangeFrame, UnboundedPreceding, CurrentRow))
    def proj(e: Expression): LogicalPlan = {
      val al = Alias(e, "v")()
      Project(Seq(al), Window(Seq(al), Seq(b),
        Seq(SortOrder(a, Ascending)), t))
    }
    val fv = sql(proj(WindowExpression(AggregateExpression(
      First(a, ignoreNulls = false), Complete, isDistinct = false), spec)))
    assert(fv.contains("first_value(t1.a) OVER (PARTITION BY t1.b " +
      "ORDER BY t1.a ASC NULLS FIRST " +
      "RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)"), fv)
    val lv = sql(proj(WindowExpression(AggregateExpression(
      Last(a, ignoreNulls = false), Complete, isDistinct = false), spec)))
    assert(lv.contains("last_value(t1.a)"), lv)
    val nv = sql(proj(WindowExpression(
      NthValue(a, Literal(2), ignoreNulls = false), spec)))
    assert(nv.contains("nth_value(t1.a, 2)"), nv)
    val pr = sql(proj(WindowExpression(PercentRank(Seq(a)), spec)))
    assert(pr.contains("percent_rank() OVER (PARTITION BY t1.b"), pr)
    val cd = sql(proj(WindowExpression(CumeDist(), spec)))
    assert(cd.contains("cume_dist() OVER (PARTITION BY t1.b"), cd)
    // IGNORE NULLS has no portable rendering → refuse (fragment stays local)
    assertThrows[UnparseUnsupported](sql(proj(WindowExpression(
      AggregateExpression(First(a, ignoreNulls = true), Complete,
        isDistinct = false), spec))))
    assertThrows[UnparseUnsupported](sql(proj(WindowExpression(
      NthValue(a, Literal(2), ignoreNulls = true), spec))))
    // first_value without ORDER BY is non-deterministic → refuse
    val orderless = WindowSpecDefinition(Seq(b), Nil, UnspecifiedFrame)
    val alNoOrd = Alias(WindowExpression(AggregateExpression(
      First(a, ignoreNulls = false), Complete, isDistinct = false),
      orderless), "v")()
    assertThrows[UnparseUnsupported](sql(
      Project(Seq(alNoOrd), Window(Seq(alNoOrd), Seq(b), Nil, t))))
  }

  test("case, between-as-conjunction, in-list, like") {
    val expr = Alias(CaseWhen(Seq((
      And(GreaterThanOrEqual(a, Literal(1)), LessThanOrEqual(a, Literal(5))),
      Literal("mid"))), Some(Literal("other"))), "band")()
    val plan = Project(Seq(expr),
      Filter(And(In(b, Seq(Literal("x"), Literal("y"))),
        Like(b, Literal("%z%"), '\\')), t))
    assert(sql(plan) ==
      "SELECT CASE WHEN ((t1.a >= 1) AND (t1.a <= 5)) THEN 'mid' " +
        "ELSE 'other' END AS band FROM t AS t1 " +
        "WHERE (t1.b IN ('x', 'y') AND t1.b LIKE '%z%')")
  }

  test("duplicate output names disambiguate deterministically") {
    val u = rel("u", "a" -> IntegerType)
    val plan = Project(Seq(a, u.output.head),
      Join(t, u, Inner, Some(EqualTo(a, u.output.head)), JoinHint.NONE))
    assert(sql(plan) ==
      "SELECT t1.a AS a, t2.a AS a_1 FROM t AS t1 JOIN u AS t2 ON (t1.a = t2.a)")
  }

  test("unsupported root aborts instead of emitting wrong SQL") {
    val plan = Project(Seq(a), Sample(0.0, 0.5, withReplacement = false, 42L, t))
    assert(SqlUnparser.tryUnparse(plan, AnsiDialect).isEmpty)
  }

  test("empty projection renders a constant (COUNT(*) shape)") {
    val plan = Project(Nil, Filter(GreaterThan(a, Literal(1)), t))
    assert(sql(plan) == "SELECT 1 FROM t AS t1 WHERE (t1.a > 1)")
  }

  // ---- dialect drift (SURVEY §7.4 risk 3) ----

  test("dialects render casts, regexp, and null ordering per engine") {
    val filtered = Project(Seq(a),
      Filter(RLike(b, Literal("^x")), t))
    assert(new SqlUnparser(PostgresDialect).unparse(filtered)
      .contains("(t1.b ~ '^x')"))
    assert(new SqlUnparser(DuckDbDialect).unparse(filtered)
      .contains("regexp_matches(t1.b, '^x')"))
    // sqlite cannot express regexp — the fragment must refuse, not mangle
    assert(SqlUnparser.tryUnparse(filtered, SqliteDialect).isEmpty)

    val casted = Project(Seq(Alias(Cast(a, DoubleType), "d")()), t)
    assert(new SqlUnparser(PostgresDialect).unparse(casted)
      .contains("CAST(t1.a AS DOUBLE PRECISION)"))
    assert(new SqlUnparser(SqliteDialect).unparse(casted)
      .contains("CAST(t1.a AS REAL)"))

    // SQLite: OFFSET is only legal after a LIMIT clause
    val offsetOnly = Offset(Literal(5), Project(Seq(a), t))
    assert(new SqlUnparser(SqliteDialect).unparse(offsetOnly)
      .endsWith("LIMIT -1 OFFSET 5"))

    val sorted = Sort(Seq(SortOrder(a, Ascending)), global = true,
      Project(Seq(a), t))
    // ANSI default is ASC→NULLS LAST; Spark's plan default (NULLS FIRST)
    // must be spelled out there but not on engines that share it
    assert(new SqlUnparser(AnsiDialect).unparse(sorted).contains("NULLS FIRST"))
    assert(!new SqlUnparser(SqliteDialect).unparse(sorted).contains("NULLS"))
  }

  test("lossy DECIMAL casts: per-engine HALF_UP form, overflow per mode") {
    val r = rel("r", "x" -> DoubleType, "f" -> FloatType,
      "m" -> DecimalType(20, 8))
    val Seq(x, f, m) = r.output
    def cast(e: Expression, p: Int, s: Int, mode: EvalMode.Value) =
      Project(Seq(Alias(Cast(e, DecimalType(p, s), Some("UTC"), mode), "v")()), r)
    def duck(plan: LogicalPlan) = new SqlUnparser(DuckDbDialect).unparse(plan)
    def derby(plan: LogicalPlan) = new SqlUnparser(DerbyDialect).unparse(plan)
    // DuckDB, DOUBLE source: 64-bit cast away from ties, NULL past the
    // range and for NaN/Inf, else the shortest text
    assert(duck(cast(x, 18, 2, EvalMode.LEGACY)) == "SELECT (CASE " +
      "WHEN ABS(t1.x) < 1e9 AND ABS(t1.x * 1e2 - FLOOR(t1.x * 1e2) - 0.5) " +
      "> 1e-4 THEN CAST(t1.x AS DECIMAL(18,2)) " +
      "WHEN ABS(t1.x) >= 1e16 THEN CAST(NULL AS DECIMAL(18,2)) " +
      "ELSE TRY_CAST(CAST(CAST(t1.x AS VARCHAR) AS DECIMAL(19,2)) AS " +
      "DECIMAL(18,2)) END) AS v FROM r AS t1")
    // past scale 11 there is no 64-bit arm; values under half a unit go
    // to 0 before their exponent text reaches DuckDB's parser
    assert(duck(cast(x, 24, 12, EvalMode.LEGACY)).startsWith("SELECT (CASE " +
      "WHEN ABS(t1.x) < 5e-13 THEN CAST(0 AS DECIMAL(24,12)) WHEN ABS(t1.x)"))
    // a small target keeps the 64-bit arm a unit under its range
    assert(duck(cast(x, 4, 0, EvalMode.TRY)).contains(
      "WHEN ABS(t1.x) < 9999e0 AND ABS(t1.x * 1e0 - FLOOR(t1.x * 1e0) - 0.5)"))
    // ANSI: NaN/Inf stay NULL, an overflow raises in DuckDB's own cast and
    // the round-up into 10^(p-s) in the narrowing cast
    val ansi = duck(cast(x, 18, 2, EvalMode.ANSI))
    assert(ansi.contains("WHEN NOT isfinite(t1.x) THEN CAST(NULL AS " +
      "DECIMAL(18,2)) WHEN ABS(t1.x) >= 1e16 THEN CAST(t1.x AS DECIMAL(18,2))"))
    assert(ansi.contains("ELSE CAST(CAST(CAST(t1.x AS VARCHAR)"))
    assert(!ansi.contains("TRY_CAST"))
    // FLOAT widens to DOUBLE first; DuckDB truncates a FLOAT source
    assert(duck(cast(f, 10, 4, EvalMode.LEGACY)).contains(
      "CAST(CAST(CAST(t1.f AS DOUBLE) AS VARCHAR) AS DECIMAL(11,4))"))
    // more than 16 integer digits: Spark's JDK 17 digits from 1e16 up
    // are not DuckDB's, so the cast stays local
    assert(SqlUnparser.tryUnparse(cast(x, 28, 6, EvalMode.LEGACY),
      DuckDbDialect).isEmpty)
    // DECIMAL source: one nudge-then-truncate helper; the NULL arm only
    // where the cast yields NULL on overflow
    val nudge = "CAST(CAST(t1.m AS DECIMAL(20,3)) + (CASE WHEN t1.m >= 0 " +
      "THEN 0.005 ELSE -0.005 END) AS DECIMAL(18,2))"
    assert(duck(cast(m, 18, 2, EvalMode.LEGACY)) == "SELECT (CASE WHEN " +
      "ABS(t1.m) >= 9999999999999999.995 THEN CAST(NULL AS DECIMAL(18,2)) " +
      s"ELSE $nudge END) AS v FROM r AS t1")
    assert(duck(cast(m, 18, 2, EvalMode.ANSI)) == s"SELECT $nudge AS v FROM r AS t1")
    assert(SqlUnparser.tryUnparse(cast(m, 37, 2, EvalMode.LEGACY),
      DuckDbDialect).isEmpty)
    // CheckOverflow carries its own mode
    val co = Project(Seq(Alias(
      CheckOverflow(m, DecimalType(18, 2), nullOnOverflow = false), "v")()), r)
    assert(duck(co) == s"SELECT $nudge AS v FROM r AS t1")
    // Derby keeps the same helper for DOUBLE sources, under its max
    // precision 31
    assert(derby(cast(x, 18, 2, EvalMode.ANSI)).contains(
      "CAST(CAST(\"t1\".\"x\" AS DECIMAL(20,3)) + " +
        "(CASE WHEN \"t1\".\"x\" >= 0 THEN 0.005 ELSE -0.005 END) " +
        "AS DECIMAL(18,2))"))
    assert(SqlUnparser.tryUnparse(cast(x, 30, 2, EvalMode.LEGACY),
      DerbyDialect).isEmpty)
  }

  test("decimal narrowing without excess scale: NULL on overflow where " +
      "the cast mode says so") {
    val r = rel("r", "m" -> DecimalType(20, 8), "n" -> LongType,
      "i" -> IntegerType)
    val Seq(m, n, i) = r.output
    def cast(e: Expression, p: Int, s: Int, mode: EvalMode.Value) =
      Project(Seq(Alias(Cast(e, DecimalType(p, s), Some("UTC"), mode), "v")()), r)
    def in(d: SqlDialect, plan: LogicalPlan) =
      SqlUnparser.tryUnparse(plan, d)
    // LEGACY / TRY: Spark gives NULL past the range, as TRY_CAST does
    assert(in(DuckDbDialect, cast(m, 10, 8, EvalMode.LEGACY)).contains(
      "SELECT TRY_CAST(t1.m AS DECIMAL(10,8)) AS v FROM r AS t1"))
    assert(in(DuckDbDialect, cast(n, 10, 0, EvalMode.TRY)).contains(
      "SELECT TRY_CAST(t1.n AS DECIMAL(10,0)) AS v FROM r AS t1"))
    assert(in(SparkDialect, cast(m, 10, 8, EvalMode.LEGACY)).contains(
      "SELECT TRY_CAST(t1.m AS DECIMAL(10,8)) AS v FROM r AS t1"))
    // Derby has no such cast: the expression stays local
    assert(in(DerbyDialect, cast(m, 10, 8, EvalMode.LEGACY)).isEmpty)
    // ANSI raises on overflow, as a plain CAST does
    assert(in(DuckDbDialect, cast(m, 10, 8, EvalMode.ANSI)).contains(
      "SELECT CAST(t1.m AS DECIMAL(10,8)) AS v FROM r AS t1"))
    assert(in(DerbyDialect, cast(m, 10, 8, EvalMode.ANSI)).nonEmpty)
    // a target that holds every source value cannot overflow
    assert(in(DerbyDialect, cast(m, 22, 8, EvalMode.LEGACY)).nonEmpty)
    assert(in(DuckDbDialect, cast(i, 10, 0, EvalMode.LEGACY)).contains(
      "SELECT CAST(t1.i AS DECIMAL(10,0)) AS v FROM r AS t1"))
  }

  test("div renders as each engine's integral quotient; refused where it " +
      "cannot be exact") {
    val r = rel("r", "a" -> LongType, "b" -> LongType,
      "d" -> DecimalType(10, 2))
    val Seq(x, y, d) = r.output
    def div(l: Expression, rr: Expression, mode: EvalMode.Value) =
      Project(Seq(Alias(IntegralDivide(l, rr, NumericEvalContext(mode)),
        "q")()), r)
    def in(dl: SqlDialect, plan: LogicalPlan) =
      SqlUnparser.tryUnparse(plan, dl)
    // a non-zero literal divisor is exact in every mode
    assert(in(DuckDbDialect, div(x, Literal(2L), EvalMode.ANSI)).contains(
      "SELECT (t1.a // 2) AS q FROM r AS t1"))
    assert(in(SparkDialect, div(x, Literal(2L), EvalMode.ANSI)).contains(
      "SELECT (t1.a div 2) AS q FROM r AS t1"))
    assert(in(DerbyDialect, div(x, Literal(2L), EvalMode.ANSI)).contains(
      "SELECT (\"t1\".\"a\" / 2) AS \"q\" FROM \"r\" AS \"t1\""))
    // a divisor that may be zero: Spark raises under ANSI and gives NULL
    // without it. DuckDB's `//` gives NULL (under ANSI its divisor is
    // wrapped to raise), Derby's `/` raises, and the mock follows its own
    // session's setting, so only a matching engine takes it
    assert(in(DuckDbDialect, div(x, y, EvalMode.LEGACY)).contains(
      "SELECT (t1.a // t1.b) AS q FROM r AS t1"))
    assert(in(DuckDbDialect, div(x, y, EvalMode.ANSI)).contains(
      "SELECT (t1.a // (CASE t1.b WHEN 0 THEN error('[DIVIDE_BY_ZERO] " +
        "division by zero') ELSE t1.b END)) AS q FROM r AS t1"))
    assert(in(DuckDbDialect, div(x, Literal(0L), EvalMode.ANSI)).isEmpty)
    assert(in(DerbyDialect, div(x, y, EvalMode.ANSI)).nonEmpty)
    assert(in(DerbyDialect, div(x, y, EvalMode.LEGACY)).isEmpty)
    assert(in(SparkDialect, div(x, y, EvalMode.ANSI)).isEmpty)
    assert(in(SparkDialect, div(x, y, EvalMode.LEGACY)).isEmpty)
    // a decimal quotient is no integral division on any engine
    Seq(DuckDbDialect, SparkDialect, DerbyDialect).foreach { dl =>
      assert(in(dl, div(d, Literal(Decimal(2), DecimalType(10, 2)),
        EvalMode.LEGACY)).isEmpty, dl.name)
    }
  }

  test("`/` and `%` push a divisor that may be zero only where the " +
      "engine treats zero as Spark does in the mode") {
    val r = rel("r", "x" -> DoubleType, "y" -> DoubleType,
      "d" -> DecimalType(10, 2), "e" -> DecimalType(10, 2))
    val Seq(x, y, d, e) = r.output
    def in(dl: SqlDialect, op: (Expression, Expression, EvalMode.Value) =>
        Expression, l: Expression, rr: Expression, mode: EvalMode.Value) =
      SqlUnparser.tryUnparse(Project(Seq(Alias(op(l, rr, mode), "q")()), r),
        dl)
    val div = (l: Expression, rr: Expression, m: EvalMode.Value) =>
      Divide(l, rr, NumericEvalContext(m))
    val rem = (l: Expression, rr: Expression, m: EvalMode.Value) =>
      Remainder(l, rr, NumericEvalContext(m))
    def dec(v: Int) = Literal(Decimal(v), DecimalType(10, 2))
    for (op <- Seq(div, rem); (l, rr, zero, two) <- Seq(
        (x, y, Literal(0.0), Literal(2.0)), (d, e, dec(0), dec(2)))) {
      // a non-zero literal divisor is exact on every engine, in every mode
      Seq(DuckDbDialect, DerbyDialect, SparkDialect, SqliteDialect)
        .foreach { dl =>
          assert(in(dl, op, l, two, EvalMode.ANSI).nonEmpty, dl.name)
        }
      // DuckDB and SQLite give NULL for a zero divisor, as LEGACY and TRY
      // do; under ANSI DuckDB wraps the divisor to raise, SQLite cannot.
      // Derby raises, as ANSI does; the mock follows its own session
      Seq(DuckDbDialect, SqliteDialect).foreach { dl =>
        assert(in(dl, op, l, rr, EvalMode.LEGACY).nonEmpty, dl.name)
        assert(in(dl, op, l, rr, EvalMode.TRY).nonEmpty, dl.name)
        assert(in(dl, op, l, zero, EvalMode.ANSI).isEmpty, dl.name)
      }
      assert(in(SqliteDialect, op, l, rr, EvalMode.ANSI).isEmpty)
      val raising = in(DuckDbDialect, op, l, rr, EvalMode.ANSI)
      assert(raising.exists(_.contains(s"(CASE t1.${rr.asInstanceOf[
        AttributeReference].name} WHEN 0 THEN error('[")), raising)
      assert(in(DuckDbDialect, op, l, Rand(Literal(1L)), EvalMode.ANSI)
        .isEmpty, "a nondeterministic divisor renders twice")
      assert(in(DerbyDialect, op, l, rr, EvalMode.ANSI).nonEmpty)
      assert(in(DerbyDialect, op, l, rr, EvalMode.LEGACY).isEmpty)
      assert(in(DerbyDialect, op, l, zero, EvalMode.LEGACY).isEmpty)
      assert(in(SparkDialect, op, l, rr, EvalMode.ANSI).isEmpty)
      assert(in(SparkDialect, op, l, rr, EvalMode.LEGACY).isEmpty)
    }
  }

  test("hex-to-dec conv: per-dialect spelling, refusal where none exists") {
    val conv = Project(Seq(Alias(
      Conv(Substring(Md5(Cast(a, StringType)), Literal(1), Literal(14)),
        Literal(16), Literal(10)), "bk")()), t)
    assert(new SqlUnparser(SparkDialect).unparse(conv).contains(
      "conv(substring(md5(CAST(t1.a AS STRING)), 1, 14), 16, 10)"))
    assert(new SqlUnparser(DuckDbDialect).unparse(conv).contains(
      "CAST(CAST('0x' || substring(md5(CAST(t1.a AS VARCHAR)), 1, 14) AS BIGINT) AS VARCHAR)"))
    // no portable spelling on ANSI/Postgres/Derby → fragment refuses
    assert(SqlUnparser.tryUnparse(conv, AnsiDialect).isEmpty)
    assert(SqlUnparser.tryUnparse(conv, PostgresDialect).isEmpty)
    assert(SqlUnparser.tryUnparse(conv, DerbyDialect).isEmpty)
    // non-16→10 base pairs refuse everywhere (no portable spelling)
    val odd = Project(Seq(Alias(Conv(b, Literal(2), Literal(8)), "o")()), t)
    assert(SqlUnparser.tryUnparse(odd, SparkDialect).isEmpty)
  }

  test("substring: Derby clamps to Spark's lenient range, refuses unprovable args") {
    val sub = Project(Seq(Alias(Substring(b, Literal(2), Literal(3)), "s")()), t)
    // engines whose substring already clamps render the plain form
    assert(sql(sub).contains("substring(t1.b, 2, 3)"))
    // Derby SUBSTR raises on out-of-range (probed) → guarded CASE form
    val derby = new SqlUnparser(DerbyDialect).unparse(sub)
    assert(derby.contains("CASE WHEN") && derby.contains("SUBSTR") &&
      derby.contains("LENGTH"), derby)
    // non-constant args can't be proven in range → refuse on Derby only
    val dynLen = Project(Seq(Alias(Substring(b, Literal(1), a), "s")()), t)
    assert(SqlUnparser.tryUnparse(dynLen, DerbyDialect).isEmpty)
    assert(SqlUnparser.tryUnparse(dynLen, AnsiDialect).nonEmpty)
  }

  test("non-finite FP literals: cast form where NaN semantics match, refusal elsewhere") {
    assert(SparkDialect.literal(Double.NaN, DoubleType) == "CAST('NaN' AS DOUBLE)")
    assert(DuckDbDialect.literal(Double.PositiveInfinity, DoubleType) ==
      "CAST('Infinity' AS DOUBLE)")
    assert(PostgresDialect.literal(Double.NegativeInfinity, DoubleType) ==
      "CAST('-Infinity' AS DOUBLE PRECISION)")
    // a fragment containing an unrenderable literal refuses cleanly —
    // bare `NaN` (an unresolvable identifier at the remote) never ships
    val nanPred = Project(Seq(a),
      Filter(EqualNullSafe(Cast(a, DoubleType), Literal(Double.NaN)), t))
    for (d <- Seq(AnsiDialect, SqliteDialect, DerbyDialect))
      assert(SqlUnparser.tryUnparse(nanPred, d).isEmpty, d.name)
    assert(SqlUnparser.tryUnparse(nanPred, SparkDialect)
      .exists(_.contains("CAST('NaN' AS DOUBLE)")))
  }

  test("Deduplicate with full key set renders SELECT DISTINCT") {
    // DataFrame .distinct()/dropDuplicates() build Deduplicate (SQL
    // DISTINCT parses to the Distinct node; Catalyst usually lowers both
    // to Aggregate before the rule runs — this pins the direct path)
    val plan = Deduplicate(Seq(a, b), Project(Seq(a, b), t))
    assert(sql(plan) == "SELECT DISTINCT t1.a AS a, t1.b AS b FROM t AS t1")
    assert(sql(Distinct(Project(Seq(a, b), t))) ==
      "SELECT DISTINCT t1.a AS a, t1.b AS b FROM t AS t1")
  }

  test("Deduplicate with subset key (arbitrary-row-per-key) refuses") {
    val plan = Deduplicate(Seq(a), Project(Seq(a, b), t))
    assertThrows[UnparseUnsupported](sql(plan))
  }

  // ---- inline VALUES (LocalRelation) goldens -----------------------------

  test("LocalRelation joins the fragment as an inline VALUES table") {
    val k = AttributeReference("k", IntegerType)()
    val tag = AttributeReference("tag", StringType)()
    val dim = LocalRelation(Seq(k, tag), Seq(
      InternalRow(1, org.apache.spark.unsafe.types.UTF8String.fromString("x")),
      InternalRow(2, null)))
    val plan = Project(Seq(a, tag),
      Join(t, dim, Inner, Some(EqualTo(a, k)), JoinHint.NONE))
    assert(sql(plan) ==
      "SELECT t1.a AS a, t2.tag AS tag FROM t AS t1 " +
        "JOIN (VALUES (1, 'x'), (2, CAST(NULL AS VARCHAR))) AS t2(k, tag) " +
        "ON (t1.a = t2.k)")
  }

  test("aggregate above a VALUES join stays in the same SQL block") {
    val k = AttributeReference("k", IntegerType)()
    val dim = LocalRelation(Seq(k), Seq(InternalRow(1), InternalRow(2)))
    val plan = Aggregate(Seq(b),
      Seq(b, Alias(Count(Literal(1)).toAggregateExpression(), "n")()),
      Join(t, dim, Inner, Some(EqualTo(a, k)), JoinHint.NONE))
    assert(sql(plan) ==
      "SELECT t1.b AS b, count(*) AS n FROM t AS t1 " +
        "JOIN (VALUES (1), (2)) AS t2(k) ON (t1.a = t2.k) GROUP BY t1.b")
  }

  test("VALUES cells per dialect: Derby VARCHAR-casts strings, SQLite refuses") {
    val k = AttributeReference("k", IntegerType)()
    val tag = AttributeReference("tag", StringType)()
    val dim = LocalRelation(Seq(k, tag), Seq(
      InternalRow(1, org.apache.spark.unsafe.types.UTF8String.fromString("eng")),
      InternalRow(2, null)))
    val plan = Project(Seq(a, tag),
      Join(t, dim, Inner, Some(EqualTo(a, k)), JoinHint.NONE))
    // Derby: bare string VALUES literals type as blank-padded CHAR (probed
    // live — GROUP BY returned 'ENG  '); the dialect must cast VARCHAR(n)
    val derby = new SqlUnparser(DerbyDialect).unparse(plan)
    assert(derby.contains("CAST('eng' AS VARCHAR(3))"), derby)
    // NULL cells carry the Derby max length — bare VARCHAR is a syntax
    // error in Derby CAST targets
    assert(derby.contains("CAST(NULL AS VARCHAR(32672))"), derby)
    // DuckDB / Postgres take the plain form
    assert(new SqlUnparser(DuckDbDialect).unparse(plan)
      .contains("(VALUES (1, 'eng'), (2, CAST(NULL AS VARCHAR)))"))
    // SQLite has no derived column list for VALUES → refusal (stays local)
    assertThrows[UnparseUnsupported](new SqlUnparser(SqliteDialect).unparse(plan))
  }

  test("empty or oversize local relations refuse the VALUES form") {
    val k = AttributeReference("k", IntegerType)()
    assertThrows[UnparseUnsupported](
      sql(Project(Seq(a), Join(t, LocalRelation(Seq(k)), Inner,
        Some(EqualTo(a, k)), JoinHint.NONE))))
    // oversize is gated in the federation rule, not the unparser
    assert(!graft.federation.InlineValues.ok(
      LocalRelation(Seq(k), (1 to 1001).map(i => InternalRow(i)))))
    assert(graft.federation.InlineValues.ok(
      LocalRelation(Seq(k), Seq(InternalRow(1)))))
  }

  // ---- unnest-join goldens -------------------------------------------------
  // Pin the exact remote SQL for every Generate shape × dialect (the
  // reference rewrites all unnest forms through federation,
  // analyzer.rs:561-564). The DuckDB/Postgres forms have no live engine in
  // this sandbox, so these strings ARE the drift pin; the Spark forms also
  // execute live in FederationSpec ("outer unnest federates", "posexplode
  // federates").

  private val u = rel("u", "id" -> IntegerType, "xs" -> ArrayType(DoubleType))
  private val uid = u.output.head
  private val uxs = u.output(1)

  private def explodePlan(outer: Boolean): LogicalPlan = {
    val e = AttributeReference("e", DoubleType)()
    Project(Seq(uid, e),
      Generate(Explode(uxs), Nil, outer, None, Seq(e), u))
  }

  private def posExplodePlan(outer: Boolean): LogicalPlan = {
    val p = AttributeReference("p", IntegerType)()
    val e = AttributeReference("e", DoubleType)()
    Project(Seq(uid, p, e),
      Generate(PosExplode(uxs), Nil, outer, None, Seq(p, e), u))
  }

  test("inner explode: CROSS JOIN UNNEST (ANSI/DuckDB/Postgres), LATERAL VIEW (Spark)") {
    assert(new SqlUnparser(AnsiDialect).unparse(explodePlan(outer = false)) ==
      "SELECT t1.id AS id, t2.e AS e FROM u AS t1 " +
        "CROSS JOIN UNNEST(t1.xs) AS t2(e)")
    assert(new SqlUnparser(SparkDialect).unparse(explodePlan(outer = false)) ==
      "SELECT t1.id AS id, t2.e AS e FROM u AS t1 " +
        "LATERAL VIEW EXPLODE(t1.xs) t2 AS e")
  }

  test("outer explode: LEFT JOIN UNNEST ON TRUE (DuckDB), LEFT JOIN LATERAL (Postgres), LATERAL VIEW OUTER (Spark)") {
    assert(new SqlUnparser(DuckDbDialect).unparse(explodePlan(outer = true)) ==
      "SELECT t1.id AS id, t2.e AS e FROM u AS t1 " +
        "LEFT JOIN UNNEST(t1.xs) AS t2(e) ON TRUE")
    assert(new SqlUnparser(PostgresDialect).unparse(explodePlan(outer = true)) ==
      "SELECT t1.id AS id, t2.e AS e FROM u AS t1 " +
        "LEFT JOIN LATERAL UNNEST(t1.xs) AS t2(e) ON TRUE")
    assert(new SqlUnparser(SparkDialect).unparse(explodePlan(outer = true)) ==
      "SELECT t1.id AS id, t2.e AS e FROM u AS t1 " +
        "LATERAL VIEW OUTER EXPLODE(t1.xs) t2 AS e")
    // engines without a left-lateral form refuse — the Generate stays local
    assert(SqlUnparser.tryUnparse(explodePlan(outer = true), AnsiDialect).isEmpty)
    assert(SqlUnparser.tryUnparse(explodePlan(outer = true), DerbyDialect).isEmpty)
  }

  test("posexplode: positional form rebased to 0 (DuckDB/Postgres), POSEXPLODE (Spark)") {
    // positions are 1-based in SQL; Spark's pos is 0-based — the
    // projected position must carry the −1 rebase. DuckDB 1.0 has NO
    // WITH ORDINALITY (probed live): its form is a LATERAL derived table
    // zipping unnest() with generate_subscripts()
    assert(new SqlUnparser(DuckDbDialect).unparse(posExplodePlan(outer = false)) ==
      "SELECT t1.id AS id, (t2.p - 1) AS p, t2.e AS e FROM u AS t1 " +
        "CROSS JOIN LATERAL (SELECT UNNEST(t1.xs) AS e, " +
        "GENERATE_SUBSCRIPTS(t1.xs, 1) AS p) AS t2")
    assert(new SqlUnparser(PostgresDialect).unparse(posExplodePlan(outer = false)) ==
      "SELECT t1.id AS id, (t2.p - 1) AS p, t2.e AS e FROM u AS t1 " +
        "CROSS JOIN LATERAL UNNEST(t1.xs) WITH ORDINALITY AS t2(e, p)")
    // POSEXPLODE's pos is already 0-based — no rebase
    assert(new SqlUnparser(SparkDialect).unparse(posExplodePlan(outer = false)) ==
      "SELECT t1.id AS id, t2.p AS p, t2.e AS e FROM u AS t1 " +
        "LATERAL VIEW POSEXPLODE(t1.xs) t2 AS p, e")
  }

  test("outer posexplode: left positional join per dialect") {
    assert(new SqlUnparser(DuckDbDialect).unparse(posExplodePlan(outer = true)) ==
      "SELECT t1.id AS id, (t2.p - 1) AS p, t2.e AS e FROM u AS t1 " +
        "LEFT JOIN LATERAL (SELECT UNNEST(t1.xs) AS e, " +
        "GENERATE_SUBSCRIPTS(t1.xs, 1) AS p) AS t2 ON TRUE")
    assert(new SqlUnparser(PostgresDialect).unparse(posExplodePlan(outer = true)) ==
      "SELECT t1.id AS id, (t2.p - 1) AS p, t2.e AS e FROM u AS t1 " +
        "LEFT JOIN LATERAL UNNEST(t1.xs) WITH ORDINALITY AS t2(e, p) ON TRUE")
    assert(new SqlUnparser(SparkDialect).unparse(posExplodePlan(outer = true)) ==
      "SELECT t1.id AS id, t2.p AS p, t2.e AS e FROM u AS t1 " +
        "LATERAL VIEW OUTER POSEXPLODE(t1.xs) t2 AS p, e")
    assert(SqlUnparser.tryUnparse(posExplodePlan(outer = true), AnsiDialect).isEmpty)
    assert(SqlUnparser.tryUnparse(posExplodePlan(outer = true), SqliteDialect).isEmpty)
  }

  // --- NOT IN CTE rewrite alias guard -----------------------------------
  // The CTE form re-aliases the build to its ONE rendered alias; from()
  // flattens bare-attribute Projects through Joins, so a multi-relation
  // build exposes several alias prefixes — re-aliasing to any single one
  // leaves predicates on the others unbound inside NOT EXISTS. Such
  // builds must keep the (always-valid) triple-inline form.

  private def notInPlan(build: LogicalPlan, buildKey: Attribute) = {
    val eq = EqualTo(a, buildKey)
    Project(Seq(a),
      Join(t, build, LeftAnti, Some(Or(eq, IsNull(EqualTo(a, buildKey)))),
        JoinHint.NONE))
  }

  test("large single-alias NOT IN build ships once as a CTE") {
    val longName = "build_" + ("x" * 600)
    val r1 = rel(longName, "k" -> IntegerType, "j" -> IntegerType)
    val s = new SqlUnparser(DuckDbDialect).unparse(
      notInPlan(Project(Seq(r1.output.head),
        Filter(GreaterThan(r1.output(1), Literal(0)), r1)), r1.output.head))
    assert(s.contains("WITH "), s)
    assert(longName.r.findAllIn(s).size == 1,
      s"single-alias build should inline exactly once (in the CTE):\n$s")
  }

  test("multi-alias NOT IN build falls back to inlining: the CTE " +
      "re-alias cannot bind two flattened relations") {
    val longA = "build_left_" + ("x" * 600)
    val r1 = rel(longA, "k" -> IntegerType, "j" -> IntegerType)
    val r2 = rel("build_right_dim", "m" -> IntegerType, "f" -> IntegerType)
    // bare-attribute Project over a Join flattens: fr.scope exposes BOTH
    // relation aliases, and a pushed filter on r2 pends a predicate that
    // must bind against r2's alias inside every NOT EXISTS probe
    val build = Project(Seq(r1.output.head),
      Join(Filter(GreaterThan(r2.output(1), Literal(7)), r2).select(r2.output: _*),
        r1, Inner, Some(EqualTo(r1.output(1), r2.output.head)), JoinHint.NONE)
        .select(r1.output.head))
    val s = new SqlUnparser(DuckDbDialect).unparse(
      notInPlan(build, r1.output.head))
    assert(!s.contains("WITH "), s)
    // the decomposed anti predicate re-inlines the build in each of the
    // three NOT EXISTS probes
    assert(longA.r.findAllIn(s).size == 3, s)
    assert("build_right_dim".r.findAllIn(s).size == 3, s)
    assert("> 7".r.findAllIn(s).size == 3,
      s"the r2-alias predicate must bind inside every probe:\n$s")
  }

  test("higher-order array lambdas: transform / filter / zip_with / " +
      "aggregate per dialect (DuckDB list kernels, Spark native); " +
      "engines without list lambdas refuse") {
    val v = rel("v", "xs" -> ArrayType(LongType), "ys" -> ArrayType(LongType))
    val xs = v.output.head
    val ys = v.output(1)
    def lv(n: String, id: Long) =
      NamedLambdaVariable(n, LongType, nullable = true, exprId = ExprId(id))

    // transform: DuckDB list_transform, Spark transform, others refuse
    val x1 = lv("x", 901)
    val tr = Project(Seq(Alias(ArrayTransform(xs,
      LambdaFunction(Multiply(x1, Literal(2L)), Seq(x1))), "o")()), v)
    val trDuck = new SqlUnparser(DuckDbDialect).unparse(tr)
    assert(trDuck.contains("list_transform(t1.xs, l901 -> (l901 * 2))"),
      trDuck)
    assert(new SqlUnparser(SparkDialect).unparse(tr)
      .contains("transform(t1.xs, l901 -> (l901 * 2))"))
    assert(SqlUnparser.tryUnparse(tr, DerbyDialect).isEmpty)
    assert(SqlUnparser.tryUnparse(tr, AnsiDialect).isEmpty)
    assert(SqlUnparser.tryUnparse(tr, PostgresDialect).isEmpty)

    // 2-arg transform: the element index rebases on 1-based engines
    val x2 = lv("x", 902)
    val i2 = lv("i", 903)
    val tri = Project(Seq(Alias(ArrayTransform(xs,
      LambdaFunction(Add(x2, i2), Seq(x2, i2))), "o")()), v)
    val triDuck = new SqlUnparser(DuckDbDialect).unparse(tri)
    assert(triDuck.contains(
      "list_transform(t1.xs, (l902, l903) -> (l902 + (l903 - 1)))"), triDuck)
    assert(new SqlUnparser(SparkDialect).unparse(tri)
      .contains("transform(t1.xs, (l902, l903) -> (l902 + l903))"))

    // filter (1-arg only)
    val x3 = lv("x", 904)
    val fl = Project(Seq(Alias(ArrayFilter(xs,
      LambdaFunction(GreaterThan(x3, Literal(0L)), Seq(x3))), "o")()), v)
    assert(new SqlUnparser(DuckDbDialect).unparse(fl)
      .contains("list_filter(t1.xs, l904 -> (l904 > 0))"))
    assert(SqlUnparser.tryUnparse(fl, DerbyDialect).isEmpty)

    // zip_with: index comprehension with OOB-NULL padding + NULL guard
    // on DuckDB, native on Spark
    val x4 = lv("x", 905)
    val y4 = lv("y", 906)
    val zw = Project(Seq(Alias(ZipWith(xs, ys,
      LambdaFunction(Multiply(x4, y4), Seq(x4, y4))), "o")()), v)
    val zwDuck = new SqlUnparser(DuckDbDialect).unparse(zw)
    assert(zwDuck.contains("CASE WHEN (t1.xs) IS NULL OR (t1.ys) IS NULL " +
      "THEN NULL ELSE [((t1.xs)[i905] * (t1.ys)[i905]) FOR i905 IN " +
      "range(1, greatest(len(t1.xs), len(t1.ys)) + 1)] END"), zwDuck)
    assert(new SqlUnparser(SparkDialect).unparse(zw)
      .contains("zip_with(t1.xs, t1.ys, (l905, l906) -> (l905 * l906))"))
    assert(SqlUnparser.tryUnparse(zw, AnsiDialect).isEmpty)

    // aggregate: list_reduce(list_prepend(zero, arr)) with a NULL guard
    // on DuckDB (probed: prepend-to-NULL would yield [zero], Spark NULL),
    // native 3-arg on Spark; a non-identity finish refuses everywhere
    val a5 = lv("acc", 907)
    val x5 = lv("x", 908)
    def aggOf(finish: Expression, finishArg: NamedLambdaVariable) =
      Project(Seq(Alias(ArrayAggregate(xs, Literal(0L),
        LambdaFunction(Add(a5, x5), Seq(a5, x5)),
        LambdaFunction(finish, Seq(finishArg))), "o")()), v)
    val f6 = lv("id", 909)
    val ag = aggOf(f6, f6)
    val agDuck = new SqlUnparser(DuckDbDialect).unparse(ag)
    assert(agDuck.contains("CASE WHEN (t1.xs) IS NULL THEN NULL ELSE " +
      "list_reduce(list_prepend(CAST(0 AS BIGINT), (t1.xs)), " +
      "(l907, l908) -> (l907 + l908)) END"), agDuck)
    assert(new SqlUnparser(SparkDialect).unparse(ag)
      .contains("aggregate(t1.xs, CAST(0 AS BIGINT), " +
        "(l907, l908) -> (l907 + l908))"))
    assert(SqlUnparser.tryUnparse(ag, DerbyDialect).isEmpty)
    val f7 = lv("z", 910)
    val agBad = aggOf(Multiply(f7, Literal(3L)), f7)
    assert(SqlUnparser.tryUnparse(agBad, DuckDbDialect).isEmpty,
      "non-identity finish must refuse")
    assert(SqlUnparser.tryUnparse(agBad, SparkDialect).isEmpty)

    // array_max/min ride the lambda capability; Spark's BIGINT-typed
    // floor gains an explicit cast on engines whose floor stays DOUBLE
    val mx = Project(Seq(Alias(ArrayMax(xs), "m")()), v)
    assert(new SqlUnparser(DuckDbDialect).unparse(mx)
      .contains("list_max(t1.xs)"))
    assert(new SqlUnparser(SparkDialect).unparse(mx)
      .contains("array_max(t1.xs)"))
    assert(SqlUnparser.tryUnparse(mx, DerbyDialect).isEmpty)

    val d = rel("d", "c" -> DoubleType)
    val fc = Project(Seq(Alias(Floor(d.output.head), "f")()), d)
    assert(new SqlUnparser(DuckDbDialect).unparse(fc)
      .contains("CAST(floor(t1.c) AS BIGINT)"))
  }
}
