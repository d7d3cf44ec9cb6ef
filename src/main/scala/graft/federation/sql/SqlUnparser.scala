package graft.federation.sql

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate._
import org.apache.spark.sql.catalyst.plans._
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.types._

import graft.federation.plans.RemoteRelation

/** Catalyst `LogicalPlan` → dialect SQL text.
  *
  * The Spark replacement for the reference's use of DataFusion's `Unparser`
  * plus `RewriteTableScanAnalyzer` (src/sql/mod.rs:229-232,
  * src/sql/analyzer.rs:25-111): because [[RemoteRelation]] carries the
  * remote table name, unparsing emits remote names directly and no
  * post-hoc table/column string rewriting is needed; attribute identity is
  * exprId-based, so local aliases can never collide with remote names
  * (the reference's `aapp_table` edge cases, analyzer.rs:116-178).
  *
  * Unsupported constructs throw [[UnparseUnsupported]]; the federation rule
  * probes with [[SqlUnparser.tryUnparse]] and simply leaves such subtrees
  * local — unparsability degrades performance, never correctness.
  */
final class UnparseUnsupported(msg: String) extends RuntimeException(msg)

class SqlUnparser(dialect: SqlDialect) {

  private var aliasCounter = 0
  private def freshAlias(): String = { aliasCounter += 1; s"t$aliasCounter" }

  private def fail(msg: String): Nothing = throw new UnparseUnsupported(msg)

  private def q(ident: String): String = dialect.quoteIfNeeded(ident)

  /** The (possibly quoted) alias part of a rendered scope value
    * (`alias.col` / `"alias"."col"`): everything before the first
    * separator dot outside quotes. */
  private def aliasPrefix(v: String): String = {
    var i = 0
    var inQ = false
    while (i < v.length) {
      val c = v.charAt(i)
      if (inQ) {
        if (c == '"') {
          if (i + 1 < v.length && v.charAt(i + 1) == '"') i += 1
          else inQ = false
        }
      } else if (c == '"') inQ = true
      else if (c == '.') return v.substring(0, i)
      i += 1
    }
    fail(s"no alias prefix in scope value '$v'")
  }

  /** A rendered FROM item with the attribute scope it exposes and any
    * hoisted filter conjuncts not yet attached to a WHERE. Flattening
    * Filters (and bare-attribute Projects) out of derived tables keeps
    * join trees as flat base-table references — remote optimizers (Derby
    * especially) materialize opaque nested subqueries and lose index
    * access, turning an indexed 3-table join into minutes of nested
    * loops. The pending preds land in the enclosing block's WHERE, an
    * inner join's ON, or — where hoisting would change semantics (the
    * null-extended side of an outer join) — a re-materialized derived
    * table. */
  private case class From(text: String, scope: Map[ExprId, String],
      preds: Seq[String] = Nil)

  /** A rendered full SELECT with its output column names (aligned to the
    * source plan's output). */
  case class Sel(sql: String, names: Seq[String])

  /** Catalyst prunes unused columns aggressively; under `df.count()` a
    * subtree's output can be empty. SQL has no zero-column SELECT, so emit
    * a constant — row multiplicity is all the parent consumes. */
  private def itemsSql(items: Seq[String]): String =
    if (items.isEmpty) "1" else items.mkString(", ")

  def unparse(plan: LogicalPlan): String = select(plan).sql

  // ------------------------------------------------------------- FROM items

  private def from(plan: LogicalPlan): From = plan match {
    case r: RemoteRelation =>
      val alias = freshAlias()
      // the alias is quoted identically in FROM and in column references —
      // engines that case-fold unquoted identifiers (Derby) would otherwise
      // see two different names
      val base = r.ref.args match {
        case Some(_) => r.ref.sql(dialect) // carries its own alias
        case None => s"${r.ref.sql(dialect)} AS ${q(alias)}"
      }
      val names = r.ref.args match {
        case Some(_) => r.ref.parts.last
        case None => alias
      }
      From(base, r.output.map(a =>
        a.exprId -> s"${q(names)}.${q(a.name)}").toMap)

    // a small literal relation (inline DataFrame, constant-folded dim)
    // ships as an inline VALUES derived table — the planning-time
    // counterpart of the execution-time bind join, and unlike it this
    // form COMPOSES: joins, filters and aggregates above it stay inside
    // the same remote SQL. Size/type gating happens in the federation
    // rule (InlineValues.ok); here only dialect capability and literal
    // renderability can refuse.
    case l: LocalRelation =>
      if (!dialect.supportsInlineValues)
        fail(s"${dialect.name} has no inline VALUES form")
      if (l.data.isEmpty) fail("empty inline relation")
      val alias = freshAlias()
      val rows = l.data.map { row =>
        l.output.zipWithIndex.map { case (a, i) =>
          dialect.valuesCell(row.get(i, a.dataType), a.dataType)
        }.mkString("(", ", ", ")")
      }.mkString(", ")
      From(s"(VALUES $rows) AS ${q(alias)}" +
          s"(${l.output.map(a => q(a.name)).mkString(", ")})",
        l.output.map(a =>
          a.exprId -> s"${q(alias)}.${q(a.name)}").toMap)

    case SubqueryAlias(_, child) => from(child)

    // Spark's top-k optimization (InferWindowGroupLimit) inserts a
    // WindowGroupLimit under the Window as a per-partition pre-filter; the
    // semantic rank Filter above the Window is preserved, so for SQL
    // generation the node is a transparent pass-through.
    case p if p.nodeName == "WindowGroupLimit" => from(p.children.head)

    // flattening: a bare-attribute Project only prunes/reorders — SQL
    // needs no derived table for that (references resolve through the
    // child scope by exprId, and the remote engine prunes columns itself)
    case Project(items, child)
        if items.forall(_.isInstanceOf[AttributeReference]) =>
      from(child)

    // array UNNEST ships to the remote engine (reference rewrites unnest
    // through federation, analyzer.rs:561-564): array explode becomes the
    // dialect's unnest-join form. Outer explode and posexplode are opt-in
    // dialect capabilities (LATERAL VIEW OUTER / LEFT JOIN UNNEST /
    // WITH ORDINALITY); dialects without the form refuse here and the
    // Generate degrades to a local operator over the federated scan. Map
    // explode (key+value output) always stays local.
    case g: Generate =>
      g.generator match {
        case Explode(arr) =>
          g.generatorOutput match {
            case Seq(elem) =>
              val f = from(g.child)
              val alias = freshAlias()
              val rendered = render(arr, f.scope)
              val text =
                if (g.outer)
                  dialect.unnestJoinOuter(f.text, rendered, q(alias),
                    q(elem.name))
                else
                  dialect.unnestJoin(f.text, rendered, q(alias), q(elem.name))
              From(text,
                f.scope + (elem.exprId -> s"${q(alias)}.${q(elem.name)}"),
                f.preds)
            case _ => fail("map explode")
          }
        case PosExplode(arr) =>
          g.generatorOutput match {
            case Seq(pos, elem) =>
              val f = from(g.child)
              val alias = freshAlias()
              val (text, posSql) = dialect.unnestJoinPos(f.text,
                render(arr, f.scope), q(alias), q(elem.name), q(pos.name),
                g.outer)
              From(text,
                f.scope +
                  (elem.exprId -> s"${q(alias)}.${q(elem.name)}") +
                  (pos.exprId -> posSql),
                f.preds)
            case _ => fail("posexplode of a map")
          }
        case other => fail(s"generator ${other.prettyName}")
      }

    // flattening: hoist the filter as a pending conjunct; the consumer
    // decides where it lands (block WHERE / inner-join ON / derived table)
    case Filter(cond, child) =>
      val f = from(child)
      f.copy(preds = f.preds :+ render(cond, f.scope))

    case Join(left, right, joinType, cond, _) =>
      joinType match {
        case Inner | Cross | LeftOuter | RightOuter | FullOuter =>
          // hoisting a child's filter past the join is only sound where
          // the filtered side is not null-extended: both sides of an
          // inner/cross join, the preserved side of an outer join. The
          // null-extended side re-materializes as a derived table.
          val (fl, fr) = joinType match {
            case Inner | Cross => (from(left), from(right))
            case LeftOuter => (from(left), materialized(right))
            case RightOuter => (materialized(left), from(right))
            case _ => (materialized(left), materialized(right))
          }
          val scope = fl.scope ++ fr.scope
          val kw = joinType match {
            case Inner => "JOIN"
            case Cross => "CROSS JOIN"
            case LeftOuter => "LEFT JOIN"
            case RightOuter => "RIGHT JOIN"
            case FullOuter => "FULL JOIN"
            case _ => fail("unreachable")
          }
          val on = cond.map(c => s" ON ${render(c, scope)}").getOrElse {
            if (joinType == Inner && cond.isEmpty) "" else ""
          }
          val text = (joinType, cond) match {
            case (Inner, None) => s"${fl.text} CROSS JOIN ${fr.text}"
            case _ => s"${fl.text} $kw ${fr.text}$on"
          }
          From(text, scope, fl.preds ++ fr.preds)

        case LeftSemi | LeftAnti =>
          // EXISTS / NOT EXISTS form. Left-side pending preds restrict the
          // preserved rows → outer WHERE; right-side preds restrict which
          // rows count as matches → inside the EXISTS subquery.
          val fl = from(left)
          val fr = from(right)
          val scope = fl.scope ++ fr.scope
          val existsKw = if (joinType == LeftSemi) "EXISTS" else "NOT EXISTS"

          def conjuncts(e: Expression): Seq[Expression] = e match {
            case And(a, b) => conjuncts(a) ++ conjuncts(b)
            case other => Seq(other)
          }
          val condConjuncts = cond.map(conjuncts).getOrElse(Nil)
          // Catalyst's null-aware NOT IN condition — `x = y OR
          // (x = y) IS NULL` — rendered wholesale defeats engine hash
          // anti-joins (probed live on DuckDB at sf0.1: 12 ms as a pure
          // equi NOT EXISTS vs 1.5 s with the OR form, a nested loop
          // that would be fatal at scale). Matched(row) distributes over
          // the OR (ISNULL(x=y) ⟺ x IS NULL ∨ y IS NULL), so the anti
          // predicate decomposes into three hash/decorrelation-friendly
          // pieces:  NOT EXISTS(B: rest ∧ x = y)
          //        ∧ NOT EXISTS(B: rest ∧ y IS NULL)
          //        ∧ (x IS NOT NULL ∨ NOT EXISTS(B: rest))
          val nullAware =
            if (joinType != LeftAnti) None
            else condConjuncts.collectFirst {
              case o @ Or(eq @ EqualTo(a, b), IsNull(eq2: EqualTo))
                  if eq2.semanticEquals(eq) &&
                    a.references.subsetOf(left.outputSet) &&
                    b.references.subsetOf(right.outputSet) => (o, a, b)
              case o @ Or(eq @ EqualTo(a, b), IsNull(eq2: EqualTo))
                  if eq2.semanticEquals(eq) &&
                    b.references.subsetOf(left.outputSet) &&
                    a.references.subsetOf(right.outputSet) => (o, b, a)
            }
          // The decomposition references the build side THREE times; a
          // large derived build (an inlined VALUES dim, a deep subquery)
          // would triple the statement size and can hit engine
          // statement-length limits at scale. Dialects with
          // subquery-level WITH emit the build ONCE as a CTE, re-aliased
          // to the build's original (machine-generated) alias so every
          // already-rendered predicate binds unchanged.
          // The CTE re-alias only works when the whole build renders under
          // ONE alias: from() flattens bare-attribute Projects through
          // Joins, so a multi-relation build exposes several alias
          // prefixes — re-aliasing the CTE to any single one would leave
          // predicates referencing the others unbound, and `SELECT *`
          // could expose duplicate column names. Those builds keep the
          // (valid) triple-inline form.
          val buildAliases =
            if (fr.scope.isEmpty) Set.empty[String]
            else fr.scope.values.map(aliasPrefix).toSet
          val useCte = nullAware.isDefined && dialect.supportsSubqueryCte &&
            fr.text.length > 512 && buildAliases.size == 1
          val (ctePrefix, buildItem) =
            if (!useCte) ("", fr.text)
            else {
              val cte = q(freshAlias())
              (s"WITH $cte AS (SELECT * FROM ${fr.text}) ",
                s"$cte AS ${buildAliases.head}")
            }
          val antiPred = nullAware match {
            case Some((orConj, x, y)) =>
              val rest = condConjuncts.filterNot(_ eq orConj)
                .map(c => render(c, scope))
              def notEx(extra: Seq[String]): String = {
                val cs = fr.preds ++ rest ++ extra
                val w = if (cs.isEmpty) "TRUE" else cs.mkString(" AND ")
                s"NOT EXISTS (SELECT 1 FROM $buildItem WHERE $w)"
              }
              val xs = render(x, scope)
              val ys = render(y, scope)
              s"(${notEx(Seq(s"$xs = $ys"))} AND " +
                s"${notEx(Seq(s"$ys IS NULL"))} AND " +
                s"($xs IS NOT NULL OR ${notEx(Nil)}))"
            case None =>
              val condSql = (fr.preds :+
                cond.map(c => render(c, scope)).getOrElse("TRUE"))
                .mkString(" AND ")
              s"$existsKw (SELECT 1 FROM ${fr.text} WHERE $condSql)"
          }
          val names = dedupNames(left.output.map(_.name))
          val items = left.output.zip(names)
            .map { case (a, n) => s"${fl.scope(a.exprId)} AS ${q(n)}" }
          val alias = freshAlias()
          val outerWhere = (fl.preds :+ antiPred).mkString(" AND ")
          val sql = s"($ctePrefix" + s"SELECT ${itemsSql(items)} FROM ${fl.text} " +
            s"WHERE $outerWhere) AS ${q(alias)}"
          From(sql, left.output.zip(names).map { case (a, n) =>
            a.exprId -> s"${q(alias)}.${q(n)}" }.toMap)

        case other => fail(s"join type $other")
      }

    case _: OneRowRelation => From("", Map.empty)

    case other if isSelectable(other) =>
      val sel = select(other)
      val alias = freshAlias()
      From(s"(${sel.sql}) AS ${q(alias)}",
        other.output.zip(sel.names).map { case (a, n) =>
          a.exprId -> s"${q(alias)}.${q(n)}" }.toMap)

    case other => fail(s"plan node ${other.getClass.getSimpleName}")
  }

  /** Nodes `select` knows how to render (whitelist — anything else aborts
    * the fragment instead of recursing forever). */
  private def isSelectable(p: LogicalPlan): Boolean = p match {
    case _: Project | _: Aggregate | _: Window | _: Union | _: Distinct |
         _: Filter | _: Sort | _: GlobalLimit | _: LocalLimit | _: Offset =>
      true
    case d: Deduplicate => dedupeIsDistinct(d)
    case _ => false
  }

  /** `Deduplicate` (what DataFrame `.distinct()`/`dropDuplicates()` build —
    * SQL DISTINCT parses to the `Distinct` node instead) is SELECT DISTINCT
    * exactly when its key set covers the child's whole output. A subset key
    * means "an arbitrary row per key": no deterministic SQL form, so that
    * shape stays local. */
  private def dedupeIsDistinct(d: Deduplicate): Boolean =
    d.child.output.forall(a => d.keys.exists(_.exprId == a.exprId))

  // ---------------------------------------------------------------- SELECT

  private object IntLit {
    def unapply(e: Expression): Option[Long] = e match {
      case Literal(v: Int, IntegerType) => Some(v.toLong)
      case Literal(v: Long, LongType) => Some(v)
      case _ => None
    }
  }

  def select(plan: LogicalPlan): Sel = {
    // Peel the trailing LIMIT/OFFSET/ORDER BY clauses off the top of the
    // plan. SQL clause execution order (bottom-up) is: core → ORDER BY →
    // OFFSET skip → LIMIT take, so walking the plan top-down we may accept
    // at most: Limit, then Offset, then Sort, then core. Any other nesting
    // (e.g. Sort above Limit — "sort the first n rows") must NOT be
    // flattened into one block: peeling stops and the inner plan renders as
    // a subquery via from(), preserving semantics.
    var limit: Option[Long] = None
    var offset: Option[Long] = None
    var order: Seq[SortOrder] = Nil
    var p = plan
    var peeling = true
    while (peeling) {
      p match {
        case GlobalLimit(IntLit(n), LocalLimit(_, child))
            if limit.isEmpty && offset.isEmpty && order.isEmpty =>
          limit = Some(n); p = child
        case GlobalLimit(IntLit(n), child)
            if limit.isEmpty && offset.isEmpty && order.isEmpty =>
          limit = Some(n); p = child
        case LocalLimit(IntLit(n), child)
            if limit.isEmpty && offset.isEmpty && order.isEmpty =>
          limit = Some(n); p = child
        case Offset(IntLit(n), child) if offset.isEmpty && order.isEmpty =>
          offset = Some(n); p = child
        case Sort(ord, true, child, _) if order.isEmpty =>
          order = ord; p = child
        // Sort under a per-row Project hoists to the block's ORDER BY —
        // SQL's ORDER BY may name FROM columns the projection dropped, so
        // `SELECT list FROM child ORDER BY k` is exact for Project(Sort)
        // and keeps the ordering guarantee at the OUTERMOST level (an
        // ORDER BY inside a derived table stops being guaranteed the
        // moment anything wraps it). Non-deterministic projections refuse:
        // hoisting would change their evaluation order.
        case Project(list, Sort(ord, true, child, _))
            if order.isEmpty && list.forall(_.deterministic) =>
          order = ord; p = Project(list, child)
        case _ => peeling = false
      }
    }

    val (core, scope) = buildCore(p)
    // ORDER BY directly above a set operation may only name output columns
    // (expressions there are engine-divergent — Derby rejects them)
    if (order.nonEmpty && p.isInstanceOf[Union] &&
        !order.forall(_.child.isInstanceOf[AttributeReference]))
      fail("expression ORDER BY over UNION")
    val orderSql =
      if (order.isEmpty) ""
      else " ORDER BY " + order.map(renderSortOrder(_, scope)).mkString(", ")
    Sel(core.sql + orderSql + dialect.limitClause(limit, offset), core.names)
  }

  /** Renders the projection/aggregation core of a block. Returns the Sel
    * plus the scope usable for trailing ORDER BY (select-list aliases +
    * input columns). */
  private def buildCore(p: LogicalPlan): (Sel, Map[ExprId, String]) = p match {
    case Project(list, child) =>
      val (f, where) = fromWithFilters(child)
      val (items, names) = renderItems(list, f.scope)
      val sql = s"SELECT ${itemsSql(items)} FROM ${f.text}" + whereSql(where)
      (Sel(sql, names), f.scope ++ aliasScope(list, names))

    // ROLLUP/CUBE/GROUPING SETS: Catalyst lowers them to Aggregate over
    // Expand before our rule runs (ResolveGroupingAnalytics); recover the
    // grouping sets from the Expand projections and emit the SQL form
    // (reference analyzer.rs:523-550 passes these through to the unparser).
    case Aggregate(groupExprs, aggExprs, e: Expand, _)
        if isGroupingSetExpand(e) =>
      unparseGroupingSets(groupExprs, aggExprs, e)

    case Aggregate(groupExprs, aggExprs, child, _) =>
      if (groupExprs.exists(hasGroupingSet))
        fail("grouping sets/rollup/cube")
      val (f, where) = fromWithFilters(child)
      val (items, names) = renderItems(aggExprs, f.scope)
      val groupSql =
        if (groupExprs.isEmpty) ""
        else " GROUP BY " + groupExprs.map(render(_, f.scope)).mkString(", ")
      val sql = s"SELECT ${itemsSql(items)} FROM ${f.text}" +
        whereSql(where) + groupSql
      (Sel(sql, names), f.scope ++ aliasScope(aggExprs, names))

    case w: Window =>
      if (!dialect.supportsWindowFunctions)
        fail(s"window functions unsupported by ${dialect.name}")
      val (f, where) = fromWithFilters(w.child)
      val passthrough = w.child.output.map(a => a: NamedExpression)
      val all = passthrough ++ w.windowExpressions
      val (items, names) = renderItems(all, f.scope)
      val sql = s"SELECT ${itemsSql(items)} FROM ${f.text}" + whereSql(where)
      (Sel(sql, names), f.scope ++ aliasScope(all, names))

    case u @ Union(children, byName, allowMissing) =>
      if (byName || allowMissing) fail("union by name")
      val names = dedupNames(children.head.output.map(_.name))
      val parts = children.map { c =>
        val armSel = select(c)
        c match {
          // an arm carrying its own ORDER BY/LIMIT/OFFSET (e.g. a
          // per-provider top-k) is illegal bare inside UNION ALL — wrap it
          // in a derived table so the clause binds to the arm, not the
          // whole union
          case _: GlobalLimit | _: LocalLimit | _: Offset | _: Sort =>
            val al = freshAlias()
            val cols = armSel.names
              .map(n => s"${q(al)}.${q(n)} AS ${q(n)}").mkString(", ")
            s"SELECT $cols FROM (${armSel.sql}) AS ${q(al)}"
          case _ => armSel.sql
        }
      }
      // scope: a trailing ORDER BY above the union resolves against the
      // first arm's output names (bare, unqualified — the SQL rule)
      (Sel(parts.mkString(" UNION ALL "), names),
        u.output.zip(names).map { case (a, n) => a.exprId -> q(n) }.toMap)

    case d: Deduplicate if dedupeIsDistinct(d) =>
      buildCore(Distinct(d.child))

    case Distinct(child) =>
      val inner = buildCore(child)
      val sql = inner._1.sql match {
        case s if s.startsWith("SELECT ") =>
          "SELECT DISTINCT " + s.stripPrefix("SELECT ")
        case _ => fail("distinct over non-select")
      }
      (Sel(sql, inner._1.names), inner._2)

    case Filter(cond, child) =>
      // Filter with no Project above (e.g. HAVING shape or bare filter):
      // SELECT child-cols FROM <child> WHERE cond — via fromWithFilters so
      // conjuncts hoisted from nested Filters are ANDed in, not dropped
      val (f, where) = fromWithFilters(child)
      val names = dedupNames(child.output.map(_.name))
      val items = child.output.zip(names)
        .map { case (a, n) => s"${f.scope(a.exprId)} AS ${q(n)}" }
      val sql = s"SELECT ${itemsSql(items)} FROM ${f.text}" +
        whereSql(where :+ render(cond, f.scope))
      (Sel(sql, names), f.scope)

    // A Sort/Limit/Offset a fresh select() could not peel either (non-global
    // sort, non-literal bound) must fail here — recursing into from() would
    // bounce back through select() without progress, forever.
    case other @ (_: Sort | _: GlobalLimit | _: LocalLimit | _: Offset)
        if !peelableFresh(other) =>
      fail(s"unpeelable ${other.getClass.getSimpleName}")

    // RemoteRelation/Join/SubqueryAlias render directly; a Sort/Limit/Offset
    // left over because select()'s peel guards stopped (e.g. Sort above
    // Limit) renders as a derived-table subquery — from() recurses into
    // select() with fresh peel state, preserving clause order. Filter
    // conjuncts hoisted out of the FROM tree (join-child filters) land in
    // this block's WHERE — dropping them would widen the result.
    case other =>
      val f = from(other)
      val names = dedupNames(other.output.map(_.name))
      val items = other.output.zip(names)
        .map { case (a, n) => s"${f.scope(a.exprId)} AS ${q(n)}" }
      (Sel(s"SELECT ${itemsSql(items)} FROM ${f.text}" + whereSql(f.preds),
        names), f.scope)
  }

  /** Is this Expand the grouping-analytics shape (last output column =
    * synthetic grouping id, every projection ends in its literal value)? */
  private def isGroupingSetExpand(e: Expand): Boolean =
    e.output.nonEmpty && e.output.last.name == "spark_grouping_id" &&
      e.projections.nonEmpty &&
      e.projections.forall(p => p.size == e.output.size &&
        p.last.isInstanceOf[Literal])

  /** `Aggregate(groupAttrs :+ gid, aggs, Expand(projections, out, child))`
    * → `SELECT ... FROM child GROUP BY GROUPING SETS ((...), ...)`.
    *
    * Each Expand projection is one grouping set: a grouping column whose
    * entry is `Literal(null)` is absent from that set. SQL GROUPING SETS
    * computes each set independently (like the Expand duplication), so row
    * multiplicity and rollup-null semantics match exactly. Queries that
    * *consume* the grouping id (grouping()/grouping_id() in output) are
    * left local — the bit order is Spark-specific. */
  private def unparseGroupingSets(groupExprs: Seq[Expression],
      aggExprs: Seq[NamedExpression], e: Expand): (Sel, Map[ExprId, String]) = {
    if (!dialect.supportsGroupingSets)
      fail(s"no GROUPING SETS support on ${dialect.name}")
    val gid = e.output.last
    if (aggExprs.exists(_.exists {
      case a: AttributeReference => a.exprId == gid.exprId
      case _ => false
    })) fail("grouping()/grouping_id() consumes the grouping id")

    val groupAttrs = groupExprs.collect {
      case a: AttributeReference if a.exprId != gid.exprId => a
    }
    if (groupAttrs.size + 1 != groupExprs.size)
      fail("non-attribute grouping expression over Expand")

    val (f, where) = fromWithFilters(e.child)
    val pos = e.output.zipWithIndex.map { case (a, i) => a.exprId -> i }.toMap

    // source SQL for each expand-output column: the first projection entry
    // that isn't the set-exclusion null
    def sourceOf(a: Attribute): String = {
      val i = pos(a.exprId)
      e.projections.map(_(i)).collectFirst {
        case expr if !isNullLit(expr) => render(expr, f.scope)
      }.getOrElse(fail(s"grouping column ${a.name} is null in every set"))
    }
    val scope2 = e.output.dropRight(1).map(a => a.exprId -> sourceOf(a)).toMap

    val sets = e.projections.map { p =>
      groupAttrs.filter(ga => !isNullLit(p(pos(ga.exprId))))
        .map(ga => scope2(ga.exprId))
    }
    val setsSql = sets.map(s => s.mkString("(", ", ", ")")).mkString(", ")

    val (items, names) = renderItems(aggExprs, f.scope ++ scope2)
    // Empty-input divergence (fuzz seed 271828, live DuckDB): standard
    // SQL GROUPING SETS emits the grand-total () row even over ZERO
    // input rows (COUNT=0, aggregates NULL), while Spark's
    // Expand+Aggregate lowering emits no rows at all. On non-empty
    // input every grouping-set row aggregates ≥ 1 row, so
    // HAVING COUNT(*) > 0 drops exactly the empty-input phantom row
    // and nothing else — Spark semantics, engine-exact.
    val sql = s"SELECT ${itemsSql(items)} FROM ${f.text}" + whereSql(where) +
      s" GROUP BY GROUPING SETS ($setsSql) HAVING COUNT(*) > 0"
    (Sel(sql, names), f.scope ++ scope2 ++ aliasScope(aggExprs, names))
  }

  private def isNullLit(e: Expression): Boolean = e match {
    case Literal(null, _) => true
    case _ => false
  }

  /** Would a fresh select() peel this node? (Guards buildCore against a
    * no-progress from→select→buildCore cycle.) */
  private def peelableFresh(p: LogicalPlan): Boolean = p match {
    case GlobalLimit(IntLit(_), _) => true
    case LocalLimit(IntLit(_), _) => true
    case Offset(IntLit(_), _) => true
    case Sort(_, true, _, _) => true
    case _ => false
  }

  /** Peel a chain of Filters above a from-able child into WHERE conjuncts. */
  private def fromWithFilters(plan: LogicalPlan): (From, Seq[String]) =
    plan match {
      case Filter(cond, child) =>
        val (f, where) = fromWithFilters(child)
        (f, where :+ render(cond, f.scope))
      case other =>
        // lift any filter conjuncts the flattened FROM tree hoisted up
        val f = from(other)
        (f.copy(preds = Nil), f.preds)
    }

  /** Render `plan` as a FROM item with no pending predicates: when
    * flattening hoisted filters that must NOT cross this boundary (the
    * null-extended side of an outer join), re-wrap them into a derived
    * table. */
  private def materialized(plan: LogicalPlan): From = {
    val f = from(plan)
    if (f.preds.isEmpty) f
    else {
      val names = dedupNames(plan.output.map(_.name))
      val items = plan.output.zip(names).map { case (a, n) =>
        s"${f.scope(a.exprId)} AS ${q(n)}" }
      val alias = freshAlias()
      From(s"(SELECT ${itemsSql(items)} FROM ${f.text}${whereSql(f.preds)})" +
        s" AS ${q(alias)}",
        plan.output.zip(names).map { case (a, n) =>
          a.exprId -> s"${q(alias)}.${q(n)}" }.toMap)
    }
  }

  private def whereSql(conjuncts: Seq[String]): String =
    if (conjuncts.isEmpty) "" else " WHERE " + conjuncts.reverse.mkString(" AND ")

  private def hasGroupingSet(e: Expression): Boolean = e.exists {
    case _: GroupingSets | _: Cube | _: Rollup => true
    case _ => false
  }

  private def dedupNames(names: Seq[String]): Seq[String] = {
    val seen = scala.collection.mutable.Map.empty[String, Int]
    names.map { n =>
      val k = n.toLowerCase
      val c = seen.getOrElse(k, 0)
      seen(k) = c + 1
      if (c == 0) n else s"${n}_$c"
    }
  }

  private def renderItems(list: Seq[NamedExpression],
      scope: Map[ExprId, String]): (Seq[String], Seq[String]) = {
    val names = dedupNames(list.map(_.name))
    val items = list.zip(names).map {
      case (ne, n) =>
        val rendered = ne match {
          case Alias(child, _) => render(child, scope)
          case a: AttributeReference => render(a, scope)
          case other => render(other, scope)
        }
        s"$rendered AS ${q(n)}"
    }
    (items, names)
  }

  private def aliasScope(list: Seq[NamedExpression],
      names: Seq[String]): Map[ExprId, String] =
    list.zip(names).map { case (ne, n) => ne.exprId -> q(n) }.toMap

  // ----------------------------------------------------------- expressions

  private def renderSortOrder(so: SortOrder, scope: Map[ExprId, String]): String = {
    val dir = so.direction match {
      case Ascending => "ASC"
      case Descending => "DESC"
    }
    // implicit only when the remote engine's default already matches the
    // plan's null ordering; otherwise spell it out (or bail if the dialect
    // can't express it)
    val nulls =
      if (so.nullOrdering == dialect.defaultNullOrdering(so.direction)) ""
      else if (!dialect.supportsNullsOrdering)
        fail(s"null ordering ${so.nullOrdering} not expressible in ${dialect.name}")
      else if (so.nullOrdering == NullsFirst) " NULLS FIRST"
      else " NULLS LAST"
    s"${render(so.child, scope)} $dir$nulls"
  }

  def render(e: Expression, scope: Map[ExprId, String]): String = {
    def r(x: Expression): String = render(x, scope)
    def bin(l: Expression, op: String, rr: Expression): String =
      s"(${r(l)} $op ${r(rr)})"
    // local so the scope threads lexically — a shared unparser instance
    // can never observe another call's scope
    def fn1(name: String, c: Expression): String =
      s"${dialect.functionName(name)}(${r(c)})"
    def fnN(name: String, cs: Seq[Expression]): String =
      s"${dialect.functionName(name)}(${cs.map(r).mkString(", ")})"
    // a cast that drops scale rounds HALF_UP in Spark; the dialect
    // renders that rounding (and the overflow mode) for its engine. One
    // that keeps the scale but may overflow (fewer integer digits, or a
    // non-numeric source) gives NULL under a LEGACY or TRY cast, where an
    // engine's plain CAST raises
    def decimalCast(c: Expression, dt: DecimalType,
        nullOnOverflow: Boolean): String = {
      def intDigits(d: DecimalType) = d.precision - d.scale
      val (excessScale, mayOverflow) = c.dataType match {
        case DoubleType | FloatType => (true, true)
        case d: DecimalType =>
          (d.scale > dt.scale, intDigits(d) > intDigits(dt))
        case ByteType => (false, 3 > intDigits(dt))
        case ShortType => (false, 5 > intDigits(dt))
        case IntegerType => (false, 10 > intDigits(dt))
        case LongType => (false, 19 > intDigits(dt))
        case _ => (false, true)
      }
      if (excessScale)
        dialect.lossyDecimalCast(r(c), c.dataType, dt, nullOnOverflow)
      else if (nullOnOverflow && mayOverflow)
        dialect.tryCast(r(c), dt).getOrElse(fail(
          s"no NULL-on-overflow cast of ${c.dataType.sql} to ${dt.sql} on " +
            dialect.name))
      else s"CAST(${r(c)} AS ${dialect.typeName(dt)})"
    }

    // a divisor that may be zero is exact only where the engine treats
    // zero as Spark does in this mode, for every numeric type: ANSI raises
    // (DIVIDE_BY_ZERO / REMAINDER_BY_ZERO), LEGACY and TRY give NULL. Under
    // ANSI, an engine whose zero gives NULL may wrap the divisor to raise;
    // the wrap renders it twice, so it must be deterministic
    def divisor(op: String, d: Expression, ctx: NumericEvalContext,
        error: String): String = {
      val ansi = ctx.evalMode == EvalMode.ANSI
      def refuse = fail(s"$op by a divisor that may be zero (ANSI $ansi) " +
        s"on ${dialect.name}")
      d match {
        case Literal(v: Decimal, _) if !v.isZero => r(d)
        case Literal(v: java.lang.Number, _) if v.doubleValue != 0 => r(d)
        case _ if dialect.divisionByZeroRaises.contains(ansi) => r(d)
        case _: Literal => refuse
        case _ if ansi && d.deterministic =>
          dialect.raisingDivisor(r(d), error).getOrElse(refuse)
        case _ => refuse
      }
    }

    e match {
      case a: AttributeReference =>
        scope.getOrElse(a.exprId,
          fail(s"unresolved attribute ${a.name}#${a.exprId.id} in scope"))
      case Alias(child, _) => r(child)
      case Literal(v, dt) => dialect.literal(v, dt)

      // arithmetic
      case Add(l, rr, _) => bin(l, "+", rr)
      case Subtract(l, rr, _) => bin(l, "-", rr)
      case Multiply(l, rr, _) => bin(l, "*", rr)
      case Divide(l, rr, ctx) =>
        s"(${r(l)} / ${divisor("/", rr, ctx, "DIVIDE_BY_ZERO")})"
      case IntegralDivide(l, rr, ctx) =>
        if (Seq(l, rr).exists(_.dataType.isInstanceOf[DecimalType]))
          fail(s"div over ${l.dataType.sql} and ${rr.dataType.sql}")
        dialect.integralDivide(r(l), divisor("div", rr, ctx, "DIVIDE_BY_ZERO"))
      case Remainder(l, rr, ctx) =>
        dialect.modulo(r(l), divisor("%", rr, ctx, "REMAINDER_BY_ZERO"))
      case UnaryMinus(c, _) => s"(- ${r(c)})"

      // comparison / boolean
      case EqualTo(l, rr) => bin(l, "=", rr)
      case EqualNullSafe(l, rr) => dialect.nullSafeEq(r(l), r(rr))
      case LessThan(l, rr) => bin(l, "<", rr)
      case LessThanOrEqual(l, rr) => bin(l, "<=", rr)
      case GreaterThan(l, rr) => bin(l, ">", rr)
      case GreaterThanOrEqual(l, rr) => bin(l, ">=", rr)
      case And(l, rr) => bin(l, "AND", rr)
      case Or(l, rr) => bin(l, "OR", rr)
      case Not(In(v, list)) =>
        s"${r(v)} NOT IN (${list.map(r).mkString(", ")})"
      case Not(c) => s"(NOT ${r(c)})"
      case IsNull(c) => s"${r(c)} IS NULL"
      case IsNotNull(c) => s"${r(c)} IS NOT NULL"
      case In(v, list) => s"${r(v)} IN (${list.map(r).mkString(", ")})"
      case ins: InSet =>
        val lits = ins.hset.toSeq.map(v =>
          dialect.literal(v, ins.child.dataType)).sorted
        s"${r(ins.child)} IN (${lits.mkString(", ")})"

      // string matching (Catalyst rewrites simple LIKEs to these)
      case Like(l, Literal(pat, StringType), escape) =>
        val esc = if (escape == '\\') "" else s" ESCAPE '$escape'"
        s"${r(l)} LIKE '${dialect.escapeString(pat.toString)}'$esc"
      case Like(l, p, _) => s"${r(l)} LIKE ${r(p)}"
      case StartsWith(l, Literal(s, StringType)) =>
        s"${r(l)} LIKE '${likeEscape(s.toString)}%'"
      case EndsWith(l, Literal(s, StringType)) =>
        s"${r(l)} LIKE '%${likeEscape(s.toString)}'"
      case Contains(l, Literal(s, StringType)) =>
        s"${r(l)} LIKE '%${likeEscape(s.toString)}%'"

      // conditional
      case CaseWhen(branches, elseV) =>
        val parts = branches.map { case (c, v) => s"WHEN ${r(c)} THEN ${r(v)}" }
        val els = elseV.map(v => s" ELSE ${r(v)}").getOrElse("")
        s"CASE ${parts.mkString(" ")}$els END"
      case If(p, t, f) =>
        s"CASE WHEN ${r(p)} THEN ${r(t)} ELSE ${r(f)} END"

      // casts & decimal bookkeeping
      case Cast(c, dt: DecimalType, _, mode) =>
        decimalCast(c, dt, mode != EvalMode.ANSI)
      // fractional → integral: Spark truncates toward zero; engines that
      // ROUND instead (DuckDB probed: CAST(2.7 AS BIGINT) = 3 for DOUBLE,
      // FLOAT and DECIMAL sources; Postgres documented) get the source
      // wrapped in trunc() — probed exact toward-zero, restoring Spark's
      // value bit-for-bit
      case Cast(c, dt @ (ByteType | ShortType | IntegerType | LongType),
          _, _) if dialect.integralCastRounds && (c.dataType match {
            case DoubleType | FloatType | _: DecimalType => true
            case _ => false
          }) =>
        s"CAST(${dialect.functionName("trunc")}(${r(c)}) AS " +
          s"${dialect.typeName(dt)})"
      case Cast(c, dt, _, _) => s"CAST(${r(c)} AS ${dialect.typeName(dt)})"
      // decimal-bound bookkeeping: re-emit as an explicit cast to the
      // bound, rounded like a Cast, in CheckOverflow's own overflow mode
      case CheckOverflow(c, dt, nullOnOverflow) =>
        decimalCast(c, dt, nullOnOverflow)
      case e if e.getClass.getSimpleName == "KnownFloatingPointNormalized" ||
        e.getClass.getSimpleName == "NormalizeNaNAndZero" =>
        r(e.asInstanceOf[UnaryExpression].child)

      // uncorrelated subqueries in expressions (correlated ones never reach
      // the unparser — the federation rule marks them Ambiguous; reference
      // analyzer.rs:185-197,457-491)
      case s: ScalarSubquery if !s.isCorrelated =>
        s"(${select(s.plan).sql})"
      case ex: Exists if !ex.isCorrelated =>
        s"EXISTS (${select(ex.plan).sql})"
      case InSubquery(Seq(v), l: ListQuery) if !l.isCorrelated =>
        s"${r(v)} IN (${select(l.plan).sql})"

      // aggregates
      case ae: AggregateExpression => renderAgg(ae, scope)

      // window
      case WindowExpression(fn, spec) => renderWindow(fn, spec, scope)

      // common scalar functions
      case Upper(c) => fn1("upper", c)
      // array length (Catalyst InferFiltersFromGenerate guards explode
      // with size(arr) > 0; engines name this differently)
      case Size(c, _) if c.dataType.isInstanceOf[ArrayType] =>
        dialect.arraySize(r(c))
      case Lower(c) => fn1("lower", c)
      case Length(c) => fn1("length", c)
      case Abs(c, _) => fn1("abs", c)
      case Sqrt(c) => fn1("sqrt", c)
      // Spark types floor/ceil(DOUBLE) as BIGINT (and DECIMAL(p-s+1, 0)
      // for decimal input); SQL floor keeps the input type (DuckDB/
      // Postgres return DOUBLE — probed) — cast to the Catalyst result
      // type so the fragment's declared schema holds and downstream
      // integer arithmetic keeps integer semantics. Exact: |floor(x)| of
      // any finite double is integral, and the cast is identity on
      // engines already returning the integral type.
      case f @ Floor(c) =>
        s"CAST(${fn1("floor", c)} AS ${dialect.typeName(f.dataType)})"
      case f @ Ceil(c) =>
        s"CAST(${fn1("ceiling", c)} AS ${dialect.typeName(f.dataType)})"
      case Exp(c) => fn1("exp", c)
      case Log(c) => fn1("ln", c)
      case Year(c) => fn1("year", c)
      case Month(c) => fn1("month", c)
      case DayOfMonth(c) => fn1("day", c)
      case Hour(c, _) => fn1("hour", c)
      case Minute(c, _) => fn1("minute", c)
      case Second(c, _) => fn1("second", c)
      case Round(c, s, _) => fnN("round", Seq(c, s))
      case Concat(cs) => dialect.concat(cs.map(r))
      case Coalesce(cs) => fnN("coalesce", cs)
      case Greatest(cs) => fnN("greatest", cs)
      case Least(cs) => fnN("least", cs)
      case Substring(str, Literal(p: Int, IntegerType),
          Literal(l: Int, IntegerType)) if p >= 1 && l >= 0 =>
        dialect.substringSql(r(str), p, l)
      case Substring(str, pos, len) =>
        if (dialect.substringStrictRange)
          fail(s"substring range not provable for ${dialect.name}")
        fnN("substring", Seq(str, pos, len))
      case StringTrim(c, None) => fn1("trim", c)
      case StringTrim(c, Some(t)) => s"TRIM(BOTH ${r(t)} FROM ${r(c)})"
      case StringTrimLeft(c, None) => fn1("ltrim", c)
      case StringTrimLeft(c, Some(t)) => s"TRIM(LEADING ${r(t)} FROM ${r(c)})"
      case StringTrimRight(c, None) => fn1("rtrim", c)
      case StringTrimRight(c, Some(t)) => s"TRIM(TRAILING ${r(t)} FROM ${r(c)})"
      case TruncTimestamp(Literal(fmt, StringType), ts, _) =>
        s"${dialect.functionName("date_trunc")}('${fmt.toString.toLowerCase}', ${r(ts)})"

      // regexp (ILIKE/SIMILAR TO family — reference analyzer.rs:253-274)
      case RLike(l, p) => dialect.regexpMatch(r(l), r(p))

      // more math
      case Pow(l, rr) => fnN("power", Seq(l, rr))
      case Log10(c) => fn1("log10", c)
      case Signum(c) => fn1("sign", c)
      case Sin(c) => fn1("sin", c)
      case Cos(c) => fn1("cos", c)
      case Tan(c) => fn1("tan", c)
      case Asin(c) => fn1("asin", c)
      case Acos(c) => fn1("acos", c)
      case Atan(c) => fn1("atan", c)
      case Atan2(l, rr) => fnN("atan2", Seq(l, rr))

      // date arithmetic
      case DateAdd(d, n) => dialect.dateAddDays(r(d), r(n))
      case DateSub(d, n) => dialect.dateAddDays(r(d), s"(- ${r(n)})")
      case DateDiff(end, start) => dialect.dateDiffDays(r(end), r(start))

      // ANSI interval arithmetic (`ts/date ± INTERVAL 'n' unit`): probed
      // for Spark parity on the live engine — month-end clamping,
      // negative intervals, fractional seconds. Year-month addition on a
      // tz-AWARE timestamp is session-zone-dependent while the remote
      // engine computes naive, so that one case is admitted only under
      // UTC (TimestampNTZ is zone-free and always safe); duration (DT)
      // addition is pure micros arithmetic, zone-irrelevant under UTC
      // sessions (no DST).
      case e: TimestampAddYMInterval
          if dialect.supportsIntervalArithmetic &&
            (e.left.dataType == TimestampNTZType ||
              e.timeZoneId.forall(tz => tz == "UTC" || tz == "Etc/UTC")) =>
        s"(${r(e.left)} + ${r(e.right)})"
      case e: TimestampAddInterval
          if dialect.supportsIntervalArithmetic &&
            (e.left.dataType == TimestampNTZType ||
              e.timeZoneId.forall(tz => tz == "UTC" || tz == "Etc/UTC")) =>
        s"(${r(e.left)} + ${r(e.right)})"
      // DATE + YM stays a DATE for Spark; interval-capable engines widen
      // to TIMESTAMP (probed), so cast back
      case e: DateAddYMInterval if dialect.supportsIntervalArithmetic =>
        s"CAST((${r(e.left)} + ${r(e.right)}) AS " +
          s"${dialect.typeName(org.apache.spark.sql.types.DateType)})"
      case Quarter(c) => fn1("quarter", c)
      case DayOfWeek(c) => fn1("dayofweek", c)
      case DayOfYear(c) => fn1("dayofyear", c)
      case WeekOfYear(c) => fn1("weekofyear", c)
      case LastDay(c) => fn1("last_day", c)

      // more strings
      case StringReplace(src, search, repl) =>
        fnN("replace", Seq(src, search, repl))
      case StringLPad(s2, len, pad) => fnN("lpad", Seq(s2, len, pad))
      case StringRPad(s2, len, pad) => fnN("rpad", Seq(s2, len, pad))
      case StringInstr(str, sub) => fnN("instr", Seq(str, sub))
      case StringRepeat(s2, n) => fnN("repeat", Seq(s2, n))
      case Reverse(c) if c.dataType == StringType => fn1("reverse", c)
      case Ascii(c) => fn1("ascii", c)
      case Chr(c) => fn1("chr", c)
      case InitCap(c) => fn1("initcap", c)
      case StringTranslate(s2, m, rep) => fnN("translate", Seq(s2, m, rep))
      case ConcatWs(cs) => fnN("concat_ws", cs)
      // Spark's analyzer wraps Md5's string child in a Cast to BINARY;
      // SQL md5() hashes the text's UTF-8 bytes directly — the SAME bytes
      // (Spark's string→binary cast IS the UTF-8 encoding), so the cast
      // strips. Gated per dialect: md5 is not SQL-standard (absent on
      // Derby/SQLite — refusal keeps the fingerprint local there).
      case Md5(Cast(c, BinaryType, _, _))
          if c.dataType == StringType && dialect.supportsMd5 =>
        fn1("md5", c)
      case Md5(c) if dialect.supportsMd5 => fn1("md5", c)
      case _: Md5 =>
        fail(s"md5: no ${dialect.name} function")

      // ------------- higher-order array lambdas (transform / filter /
      // aggregate / zip_with). Lambda parameters are NamedLambdaVariables
      // with globally-unique exprIds: bind each to its dialect-chosen
      // SPELLING in the body's scope and render the body through the same
      // pipeline — nested lambdas compose and shadowing cannot collide
      // (every parameter renders as l<exprId>). Spark evaluates all four
      // as CodegenFallback, so shipping them to the engine is a perf win
      // on top of the fragment-merging one.
      case v: NamedLambdaVariable =>
        scope.getOrElse(v.exprId,
          fail(s"lambda variable ${v.name} referenced outside its lambda"))

      case ArrayTransform(arr, LambdaFunction(body, args, _)) =>
        val fn = dialect.arrayTransformFn.getOrElse(
          fail(s"${dialect.name}: no array-lambda transform"))
        args match {
          case Seq(x) =>
            val xn = s"l${x.exprId.id}"
            val b = render(body, scope + (x.exprId -> xn))
            s"$fn(${r(arr)}, $xn -> $b)"
          case Seq(x, i) =>
            // Spark's element index is 0-based; engines whose 2-param
            // lambda index is 1-based (DuckDB, probed) get references to
            // the index parameter rebased at the spelling
            val xn = s"l${x.exprId.id}"
            val in = s"l${i.exprId.id}"
            val iRef = if (dialect.lambdaIndexIsOneBased) s"($in - 1)" else in
            val b = render(body,
              scope + (x.exprId -> xn) + (i.exprId -> iRef))
            s"$fn(${r(arr)}, ($xn, $in) -> $b)"
          case _ => fail("transform lambda arity")
        }

      case ArrayFilter(arr, LambdaFunction(body, Seq(x), _)) =>
        // 1-arg form only: the (x, i) filter's index behavior is unprobed
        // off-Spark, and Spark-side uses are rare — refusal keeps it local
        val fn = dialect.arrayFilterFn.getOrElse(
          fail(s"${dialect.name}: no array-lambda filter"))
        val xn = s"l${x.exprId.id}"
        val b = render(body, scope + (x.exprId -> xn))
        s"$fn(${r(arr)}, $xn -> $b)"

      case ZipWith(a, b, LambdaFunction(body, Seq(x, y), _)) =>
        dialect.zipWithStyle match {
          case Some(SqlDialect.ZipNative(fn)) =>
            val xn = s"l${x.exprId.id}"
            val yn = s"l${y.exprId.id}"
            val bb = render(body,
              scope + (x.exprId -> xn) + (y.exprId -> yn))
            s"$fn(${r(a)}, ${r(b)}, ($xn, $yn) -> $bb)"
          case Some(SqlDialect.ZipIndexComprehension) =>
            // [body(a[i], b[i]) FOR i IN range(1, greatest(len(a), len(b))
            // + 1)] — OOB indexing yields NULL (probed), reproducing
            // Spark's shorter-side NULL padding exactly; the NULL guard is
            // required because greatest() SKIPS a NULL operand and the
            // comprehension would run over the non-null side
            val asql = r(a)
            val bsql = r(b)
            val iv = s"i${x.exprId.id}"
            val bb = render(body,
              scope + (x.exprId -> s"($asql)[$iv]") +
                (y.exprId -> s"($bsql)[$iv]"))
            s"(CASE WHEN ($asql) IS NULL OR ($bsql) IS NULL THEN NULL " +
              s"ELSE [$bb FOR $iv IN " +
              s"range(1, greatest(len($asql), len($bsql)) + 1)] END)"
          case None => fail(s"${dialect.name}: no zip_with form")
        }

      case ArrayAggregate(arr, zero,
          LambdaFunction(mbody, Seq(acc, x), _), finish) =>
        // only an identity finish lambda federates (no engine has the
        // 4-arg form); Spark's 3-arg aggregate() builds exactly that
        val finishIsIdentity = finish match {
          case LambdaFunction(fb: NamedLambdaVariable, Seq(fa), _) =>
            fa.exprId == fb.exprId
          case _ => false
        }
        if (!finishIsIdentity) fail("aggregate finish lambda not identity")
        val an = s"l${acc.exprId.id}"
        val xn = s"l${x.exprId.id}"
        val mb = render(mbody, scope + (acc.exprId -> an) + (x.exprId -> xn))
        // the zero anchors the accumulator TYPE on re-parse: a bare
        // integral literal re-reads as INT and a BIGINT-valued merge then
        // fails the engine's aggregate typecheck (fuzz-caught on the
        // mock: Catalyst folds CAST(1 AS BIGINT) to Literal(1L), which
        // rendered bare) — always re-cast to the Catalyst zero type
        val zeroSql = s"CAST(${r(zero)} AS ${dialect.typeName(zero.dataType)})"
        dialect.arrayAggregateStyle match {
          case Some(SqlDialect.AggNative(fn)) =>
            s"$fn(${r(arr)}, $zeroSql, ($an, $xn) -> $mb)"
          case Some(SqlDialect.AggReducePrepend) =>
            // list_reduce has no initial value (first element seeds the
            // fold) — prepending the zero reproduces Spark exactly, incl.
            // aggregate([], zero) = zero; the NULL guard is required:
            // list_prepend(zero, NULL) is [zero] where Spark yields NULL.
            // Integer overflow in the body errors LOUDLY on the engine
            // where non-ANSI Spark wraps — fail-loud, never silent drift.
            val asql = r(arr)
            s"(CASE WHEN ($asql) IS NULL THEN NULL ELSE " +
              s"list_reduce(list_prepend($zeroSql, ($asql)), " +
              s"($an, $xn) -> $mb) END)"
          case None => fail(s"${dialect.name}: no aggregate(array) form")
        }

      case CreateArray(items, _) =>
        val ctor = dialect.arrayConstructor.getOrElse(
          fail(s"${dialect.name}: no array constructor"))
        ctor(items.map(r))

      // NULL-skipping max/min over an array: probed identical on DuckDB
      // (list_max([1, NULL, 3]) = 3, empty/NULL list → NULL); gated on the
      // lambda capability as the proxy for "engine has list kernels"
      case ArrayMax(c) if dialect.arrayTransformFn.nonEmpty =>
        fn1("array_max", c)
      case ArrayMin(c) if dialect.arrayTransformFn.nonEmpty =>
        fn1("array_min", c)
      // only the hex→dec shape (the MD5-bucket sampling rule); arbitrary
      // base pairs have no portable SQL spelling
      case Conv(num, Literal(16, IntegerType), Literal(10, IntegerType), _) =>
        dialect.hexToDecimal(r(num)).getOrElse(
          fail(s"hex-to-decimal conv: no ${dialect.name} spelling"))

      // bit ops (shared & | syntax)
      case BitwiseAnd(l, rr) => bin(l, "&", rr)
      case BitwiseOr(l, rr) => bin(l, "|", rr)

      // nullif/nvl/left/right/... — Catalyst models convenience functions
      // as RuntimeReplaceable wrappers; unparse the canonical replacement
      case rr: RuntimeReplaceable => r(rr.replacement)

      case other =>
        fail(s"expression ${other.getClass.getSimpleName}: ${other.sql}")
    }
  }

  private def likeEscape(s: String): String =
    dialect.escapeString(s).replace("%", "\\%").replace("_", "\\_")

  private def renderAgg(ae: AggregateExpression,
      scope: Map[ExprId, String]): String = {
    def r(x: Expression): String = render(x, scope)
    val core = ae.aggregateFunction match {
      case Count(Seq(Literal(1, _))) | Count(Nil) => "count(*)"
      case Count(args) =>
        val d = if (ae.isDistinct) "DISTINCT " else ""
        s"count($d${args.map(r).mkString(", ")})"
      case Sum(c, _) =>
        val arg = c.dataType match {
          case ByteType | ShortType | IntegerType | LongType
              if dialect.sumIntegralNeedsWidening =>
            s"CAST(${r(c)} AS BIGINT)"
          case _ => r(c)
        }
        s"sum(${distinctPrefix(ae)}$arg)"
      case Min(c) => s"min(${r(c)})"
      case Max(c) => s"max(${r(c)})"
      case Average(c, _) =>
        if (!dialect.avgSafe(c.dataType))
          fail(s"avg(${c.dataType.simpleString}) diverges on ${dialect.name}")
        s"avg(${distinctPrefix(ae)}${r(c)})"
      case First(c, _) => fail("first() is not portable SQL")
      case other => fail(s"aggregate ${other.getClass.getSimpleName}")
    }
    ae.filter match {
      case Some(p) if dialect.supportsFilterClause =>
        s"$core FILTER (WHERE ${r(p)})"
      case Some(_) => fail("FILTER clause unsupported by dialect")
      case None => core
    }
  }

  private def distinctPrefix(ae: AggregateExpression): String =
    if (ae.isDistinct) "DISTINCT " else ""

  private def renderWindow(fn: Expression, spec: WindowSpecDefinition,
      scope: Map[ExprId, String]): String = {
    def r(x: Expression): String = render(x, scope)
    val fnSql = fn match {
      case _: RowNumber => "row_number()"
      case _: Rank => "rank()"
      case _: DenseRank => "dense_rank()"
      case _: PercentRank =>
        // (rank-1)/(n-1) in IEEE double on both engines — bitwise stable
        "percent_rank()"
      case _: CumeDist => "cume_dist()"
      case ntile: NTile => s"ntile(${r(ntile.buckets)})"
      case Lag(c, o, d, _) => s"lag(${r(c)}, ${r(o)}, ${r(d)})"
      case Lead(c, o, d, _) => s"lead(${r(c)}, ${r(o)}, ${r(d)})"
      case NthValue(c, k, ignoreNulls) =>
        // IGNORE NULLS syntax varies (DuckDB: arg-suffix; Postgres: absent)
        if (ignoreNulls) fail("nth_value IGNORE NULLS is not portable SQL")
        if (spec.orderSpec.isEmpty) fail("nth_value without ORDER BY")
        s"nth_value(${r(c)}, ${r(k)})"
      // first()/last() are refused as plain aggregates (non-deterministic)
      // but FIRST_VALUE/LAST_VALUE over an ORDER BY'd window are standard
      // SQL with engine-identical semantics
      case ae: AggregateExpression => ae.aggregateFunction match {
        case First(c, ignoreNulls) if spec.orderSpec.nonEmpty =>
          if (ignoreNulls) fail("first_value IGNORE NULLS is not portable SQL")
          s"first_value(${r(c)})"
        case Last(c, ignoreNulls) if spec.orderSpec.nonEmpty =>
          if (ignoreNulls) fail("last_value IGNORE NULLS is not portable SQL")
          s"last_value(${r(c)})"
        case _ => renderAgg(ae, scope)
      }
      case other => fail(s"window function ${other.getClass.getSimpleName}")
    }
    val parts = Seq(
      if (spec.partitionSpec.isEmpty) ""
      else "PARTITION BY " + spec.partitionSpec.map(r).mkString(", "),
      if (spec.orderSpec.isEmpty) ""
      else "ORDER BY " + spec.orderSpec.map(renderSortOrder(_, scope)).mkString(", "),
      spec.frameSpecification match {
        case UnspecifiedFrame => ""
        case f: SpecifiedWindowFrame => renderFrame(f, scope)
      }).filter(_.nonEmpty)
    s"$fnSql OVER (${parts.mkString(" ")})"
  }

  private def renderFrame(f: SpecifiedWindowFrame,
      scope: Map[ExprId, String]): String = {
    def bound(b: Expression): String = b match {
      case UnboundedPreceding => "UNBOUNDED PRECEDING"
      case UnboundedFollowing => "UNBOUNDED FOLLOWING"
      case CurrentRow => "CURRENT ROW"
      case IntLit(n) if n < 0 => s"${-n} PRECEDING"
      case IntLit(n) => s"$n FOLLOWING"
      // RANGE frames over a timestamp ORDER BY carry ANSI interval
      // bounds (negative = PRECEDING); probed for engine parity like
      // the interval arithmetic cases
      case Literal(v, _: YearMonthIntervalType)
          if dialect.supportsIntervalArithmetic =>
        val m = v.asInstanceOf[Int]
        if (m < 0) s"INTERVAL '${-m}' MONTH PRECEDING"
        else s"INTERVAL '$m' MONTH FOLLOWING"
      case Literal(v, _: DayTimeIntervalType)
          if dialect.supportsIntervalArithmetic =>
        val us = v.asInstanceOf[Long]
        val a = math.abs(us)
        val lit = s"INTERVAL '${a / 1000000L}.${"%06d".format(a % 1000000L)}' SECOND"
        if (us < 0) s"$lit PRECEDING" else s"$lit FOLLOWING"
      case other => fail(s"frame bound $other")
    }
    val t = f.frameType match {
      case RowFrame => "ROWS"
      case RangeFrame => "RANGE"
    }
    s"$t BETWEEN ${bound(f.lower)} AND ${bound(f.upper)}"
  }
}

object SqlUnparser {
  /** Probe whether a fragment unparses in the given dialect. Dialect
    * hooks signal inexpressible constructs with either exception type. */
  def tryUnparse(plan: LogicalPlan, dialect: SqlDialect): Option[String] =
    try Some(new SqlUnparser(dialect).unparse(plan))
    catch {
      case _: UnparseUnsupported => None
      case _: UnsupportedOperationException => None
    }
}
