package graft.federation.sql

import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

import graft.federation.FederationProvider
import graft.federation.plans.FederatedPlan

/** Provider for SQL-speaking remote engines — the analog of the
  * reference's `SQLFederationProvider` + `SQLFederationOptimizerRule`
  * (src/sql/mod.rs:46-130): accepting a sub-plan means freezing it inside
  * an opaque [[FederatedPlan]] node. The unparse is probed eagerly so a
  * fragment the dialect cannot express is simply left local.
  */
final class SqlFederationProvider(val executor: SqlExecutor)
  extends FederationProvider {

  override def name: String = executor.name
  override def computeContext: Option[String] = executor.computeContext

  override def optimize(plan: LogicalPlan): Option[LogicalPlan] = plan match {
    case f: FederatedPlan => Some(f) // double-federation guard
    case p =>
      SqlUnparser.tryUnparse(hooked(p), executor.dialect)
        .map(_ => FederatedPlan(p, this))
  }

  /** The distinct [[TableHooks]] of every [[graft.federation.plans.RemoteRelation]]
    * inside the fragment, in first-appearance order — the reference gathers
    * each fragment's table rewriters the same way (src/sql/mod.rs:234-266).
    * Dedup is by hooks-object identity, so a self-joined table (whose
    * `newInstance` copies share the hooks reference) contributes once. */
  private def tableHooksOf(plan: LogicalPlan): Seq[TableHooks] = {
    val seen = java.util.Collections.newSetFromMap(
      new java.util.IdentityHashMap[TableHooks, java.lang.Boolean]())
    val buf = scala.collection.mutable.ArrayBuffer.empty[TableHooks]
    plan.foreach {
      case r: graft.federation.plans.RemoteRelation =>
        r.hooks.foreach { h => if (seen.add(h)) buf += h }
      case other =>
        // subquery plans (EXISTS/IN/scalar) are expression-held, not children
        other.expressions.foreach(_.foreach {
          case sq: org.apache.spark.sql.catalyst.expressions.PlanExpression[_] =>
            sq.plan match {
              case lp: LogicalPlan => buf ++= tableHooksOf(lp).filter(seen.add)
              case _ =>
            }
          case _ =>
        })
    }
    buf.toSeq
  }

  private def schemaChecked(owner: String)(
      rewrite: LogicalPlan => LogicalPlan)(plan: LogicalPlan): LogicalPlan = {
    val rewritten = rewrite(plan)
    require(rewritten.output.map(a => (a.name, a.dataType)) ==
      plan.output.map(a => (a.name, a.dataType)),
      s"[$owner] planRewriter changed the fragment schema: " +
        s"${plan.output.map(_.name)} -> ${rewritten.output.map(_.name)}")
    rewritten
  }

  /** Apply the executor's logical-plan hook, then the hooks of every table
    * the fragment references (each exactly once), enforcing the reference's
    * schema-preservation contract (src/sql/mod.rs:268-284) at every step: a
    * hook that changes the fragment's output is a misconfiguration and
    * fails loudly. */
  private def hooked(plan: LogicalPlan): LogicalPlan = {
    val execRewritten =
      schemaChecked(executor.name)(executor.planRewriter)(plan)
    tableHooksOf(plan).foldLeft(execRewritten) { (p, h) =>
      schemaChecked(s"${executor.name}/${h.name}")(h.planRewriter)(p)
    }
  }

  /** The SQL-string hook chain for a fragment: each referenced table's
    * rewriter once (reference `sql_query_rewriter`, src/sql/table.rs:33-45),
    * then the executor-level rewriter. */
  private def sqlHooked(plan: LogicalPlan)(sql: String): String =
    executor.sqlRewriter(tableHooksOf(plan).foldLeft(sql)((s, h) => h.sqlRewriter(s)))

  /** Generate the final SQL for a frozen fragment (strategy-time): plan
    * hooks (schema-checked) → unparse → SQL-string hooks — the reference's
    * final_sql() chain (src/sql/mod.rs:207-232). */
  def unparse(plan: LogicalPlan): String =
    sqlHooked(plan)(new SqlUnparser(executor.dialect).unparse(hooked(plan)))

  /** The fragment's final SQL texts, one per remote cursor: a splittable
    * fragment on an executor with `splitCount` n > 1 yields n disjoint
    * split queries ([[SplitScan]]); anything else yields the single SQL. */
  def unparseSplits(plan: LogicalPlan): Seq[String] =
    unparseSplitsInfo(plan)._1

  /** [[unparseSplits]] plus the split's partitioning metadata: when the
    * splits are quantile RANGE cuts, the second element is the position
    * (in the fragment's output) of the split column — cursor i then holds
    * exactly the rows of range i, ascending with NULLs in cursor 0, which
    * the physical scan can surface as `RangePartitioning` (the exchange
    * above a window/merge-join keyed on that column disappears). Modulo
    * splits carry no such order and report None. */
  def unparseSplitsInfo(plan: LogicalPlan): (Seq[String], Option[Int]) =
    unparseSplitsInfo(plan, None)

  /** As [[unparseSplitsInfo]], with an optional PER-CURSOR limit: each
    * split SQL truncates at `k` rows engine-side (`… WHERE split_i
    * LIMIT k`) — the unsorted-limit analog of TopKPushdownRule's
    * containment argument: any k rows of the union are a valid answer,
    * so every cursor stops after k and the caller's local GlobalLimit
    * takes the exact k. Callers own that local cut. */
  def unparseSplitsInfo(plan: LogicalPlan,
      perCursorLimit: Option[Long]): (Seq[String], Option[Int]) = {
    val p = hooked(plan)
    val n = executor.splitCount
    def limited(split: LogicalPlan): LogicalPlan =
      perCursorLimit.fold(split)(k =>
        org.apache.spark.sql.catalyst.plans.logical.LocalLimit(
          org.apache.spark.sql.catalyst.expressions.Literal(k.toInt), split))
    val col = if (n > 1) SplitScan.splitColumn(p) else None
    col match {
      case Some(c) =>
        // skew-aware preference: quantile-probed RANGE splits (a modulo
        // split leaves cursors empty whenever the column's values cluster
        // in a residue class); the probe is bounded + cached by the
        // executor, and refusal degrades to the exact modulo form
        val bounds = {
          val baseSql = sqlHooked(plan)(
            new SqlUnparser(executor.dialect).unparse(p))
          try executor.splitBoundaries(baseSql,
            executor.dialect.quoteIfNeeded(c.name), n)
          catch { case scala.util.control.NonFatal(_) => None }
        }.filter(_.nonEmpty)
        bounds match {
          case Some(bs) =>
            val sqls = (0 to bs.size).map { i =>
              sqlHooked(plan)(new SqlUnparser(executor.dialect)
                .unparse(limited(SplitScan.withRangeFilter(p, c, bs, i))))
            }
            (sqls, Some(p.output.indexWhere(_.exprId == c.exprId))
              .filter(_ >= 0))
          case None =>
            ((0 until n).map { i =>
              sqlHooked(plan)(new SqlUnparser(executor.dialect)
                .unparse(limited(SplitScan.withSplitFilter(p, c, n, i))))
            }, None)
        }
      case None =>
        val winSplit =
          if (n > 1) SplitScan.windowSplit(p).filter(_ => perCursorLimit.isEmpty)
          else None
        winSplit match {
          case Some((c, lowest)) =>
            // windowed fragment split on its PARTITION key, filter
            // injected BELOW the window (engines don't push predicates
            // through windows — probed); boundaries probe the CORE under
            // the window, not the windowed query itself
            val bounds = {
              val coreSql = new SqlUnparser(executor.dialect)
                .unparse(lowest.children.head)
              try executor.splitBoundaries(coreSql,
                executor.dialect.quoteIfNeeded(c.name), n)
              catch { case scala.util.control.NonFatal(_) => None }
            }.filter(_.nonEmpty)
            val sqls = bounds match {
              case Some(bs) => (0 to bs.size).map { i =>
                sqlHooked(plan)(new SqlUnparser(executor.dialect)
                  .unparse(SplitScan.withWindowRangeFilter(p, lowest, c, bs, i)))
              }
              case None => (0 until n).map { i =>
                sqlHooked(plan)(new SqlUnparser(executor.dialect)
                  .unparse(SplitScan.withWindowSplitFilter(p, lowest, c, n, i)))
              }
            }
            // no RangePartitioning claim: the fragment's own ORDER
            // guarantees sit above the window, and the split col may not
            // even be in the output
            (sqls, None)
          case None =>
            // plan hook already applied above — unparse `p` directly, or
            // a side-effecting/expensive planRewriter would run twice
            (Seq(sqlHooked(plan)(new SqlUnparser(executor.dialect)
              .unparse(limited(p)))), None)
        }
    }
  }
}

object SqlFederationProvider {
  /** The executor's own provider ([[SqlExecutor.provider]]). */
  def forExecutor(e: SqlExecutor): SqlFederationProvider = e.provider
}
