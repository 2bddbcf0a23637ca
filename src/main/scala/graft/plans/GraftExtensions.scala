package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.{BooleanType, StringType}

/** Optimizer rule: rewrite case-insensitive contains filters onto a
  * PERSISTED lowercased twin column when one exists in the child's output.
  *
  *   contains(lower(x), 'needle')              → contains(x_lc, 'needle')
  *   coalesce(contains(lower(x), 'n'), false)  → contains(x_lc, 'n')
  *
  * Why a Rule and not a helper: `x_lc = lower(x)` is an INGEST INVARIANT
  * of prepared tables (Tables.preparedDocuments writes it) that Catalyst
  * cannot know — no amount of built-in optimization can turn
  * `Contains(Lower(attr), lit)` into a scan-pushable predicate, because
  * the function call hides the attribute. Encoding the invariant once
  * here gives every containsCI call site pushdown for free
  * (`PushedFilters: [IsNotNull(x_lc), StringContains(x_lc, ...)]`),
  * instead of each query hand-switching columns. This is the (c) rung of
  * the extension ladder (custom Rule) used exactly where (a)/(b) cannot
  * express the semantics.
  *
  * Soundness:
  *  - Fires only when the child outputs a StringType attribute named
  *    `<x>_lc` that DECLARES the invariant via column metadata
  *    `graft.lc_of = "<x>"` (written by Tables.preparedDocuments and
  *    persisted through parquet) — a coincidentally-named `x_lc` column,
  *    e.g. from another relation in a join or an unrelated withColumn,
  *    never triggers the rewrite (PlansSpec pins the negative case) —
  *    and only when the needle literal is already lowercase (containsCI
  *    lowercases at build time; a mixed-case literal under lower() can
  *    never match anyway, but we leave such expressions alone).
  *  - `contains(x_lc, n)` is null exactly when `contains(lower(x), n)` is
  *    null (x null ⇔ x_lc null), so the bare rewrite is equivalence-
  *    preserving in ANY context.
  *  - Dropping the containsCI `coalesce(..., false)` wrapper maps null →
  *    null instead of null → false, which is indistinguishable under
  *    Filter only in null-as-false positions: the rule recurses ONLY
  *    through the Filter condition's And/Or spine (monotone — null
  *    behaves as false through both) and never under Not or other
  *    expressions.
  */
object LowercaseContainsRewrite extends Rule[LogicalPlan] {

  /** The lowercase twin of `a`, resolved by LINEAGE, not name: find the
    * leaf relation whose output carries a's exprId, take ITS declared
    * `<name>_lc` column, and require that attribute (same exprId) to
    * still be visible in the child's output. Under a self-join both
    * sides expose a `text_lc` — name-based matching could hand back the
    * other relation's column; exprId lineage pins the right side (and
    * bails if a projection re-aliased the twin away). */
  private def twin(child: LogicalPlan, a: AttributeReference): Option[Attribute] =
    child.collectLeaves()
      .find(_.output.exists(_.exprId == a.exprId))
      .flatMap(_.output.find(o =>
        o.name == a.name + "_lc" && o.dataType == StringType &&
          o.metadata.contains("graft.lc_of") &&
          o.metadata.getString("graft.lc_of") == a.name))
      .flatMap(t => child.output.find(_.exprId == t.exprId))

  private def lowercaseLit(l: Literal): Boolean = l.value match {
    case s: org.apache.spark.unsafe.types.UTF8String =>
      val str = s.toString
      str == str.toLowerCase(java.util.Locale.ROOT)
    case _ => false
  }

  /** Rewrites valid in any expression context (null-behavior identical). */
  private def rewriteExact(e: Expression, child: LogicalPlan): Expression =
    e.transformUp {
      case c @ Contains(Lower(a: AttributeReference), l: Literal) if lowercaseLit(l) =>
        twin(child, a).map(t => Contains(t, l)).getOrElse(c)
    }

  /** Rewrites valid only in null-as-false positions (the And/Or spine of
    * a Filter condition): containsCI's coalesce wrapper drops. */
  private def rewriteSpine(e: Expression, child: LogicalPlan): Expression = e match {
    case And(l, r) => And(rewriteSpine(l, child), rewriteSpine(r, child))
    case Or(l, r)  => Or(rewriteSpine(l, child), rewriteSpine(r, child))
    case Coalesce(Seq(c @ Contains(Lower(a: AttributeReference), l: Literal),
        Literal(false, BooleanType))) if lowercaseLit(l) =>
      twin(child, a).map(t => Contains(t, l)).getOrElse(rewriteExact(e, child))
    case other => rewriteExact(other, child)
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    case f @ Filter(cond, child) =>
      val rewritten = rewriteSpine(cond, child)
      if (rewritten fastEquals cond) f else Filter(rewritten, child)
  }
}

/** The library's session extensions (currently the lowercase-twin
  * rewrite). [[graft.Session]] registers them on every session it builds;
  * an external session can load them with
  * `spark.sql.extensions=graft.plans.GraftExtensions`. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    ext.injectOptimizerRule(_ => LowercaseContainsRewrite)
}
