package graft.plans

import org.apache.spark.sql.catalyst.expressions.{And, Attribute, EqualTo, Expression, In, Literal, Or}
import org.apache.spark.sql.catalyst.plans.Inner
import org.apache.spark.sql.catalyst.plans.logical.{Filter, Join, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule

/** Derives redundant-but-pushable IN filters from OR-of-conjunctions
  * predicates — the TPC-H Q7 shape:
  *
  *   (supp = 'A' AND cust = 'B') OR (supp = 'B' AND cust = 'A')
  *
  * implies `supp IN ('A','B') AND cust IN ('A','B')`, but Catalyst does
  * not infer it, so without this rule the disjunction only evaluates
  * AFTER every join that assembles its attributes — the full fact-join
  * output is materialized and then mostly discarded. The derived
  * conjuncts reference ONE attribute each, so the existing
  * PushDownPredicates/InferFiltersFromConstraints machinery (same
  * fixpoint batch) pushes them through the joins down to the scans,
  * pruning each input relation independently.
  *
  * Soundness: if every disjunct contains an equality `attr = literal`,
  * any row satisfying the disjunction has `attr` equal to one of the
  * collected literals, so conjoining `attr IN (literals)` never changes
  * the result (null attrs fail both the disjunction and the IN).
  * Convergence: a derived IN is only added when not already present
  * (semantic equality) and only with ≥2 distinct values (a 1-value IN
  * would be rewritten to EqualTo by OptimizeIn and re-derived forever).
  *
  * Runs in every session [[graft.Tables.configure]] builds (injected by
  * [[graft.GraftExtensions]]), so q7 states only the disjunction and
  * relies on this rule for its nation-scan pruning (PlanShapeSpec).
  */
object DeriveInFilters extends Rule[LogicalPlan] {

  private val MaxValues = 50

  override def apply(plan: LogicalPlan): LogicalPlan = plan transform {
    case f @ Filter(cond, child) =>
      augment(cond).map(Filter(_, child)).getOrElse(f)
    // PushDownPredicates may have merged the disjunction into an inner
    // join's condition before this rule runs — derive there too (sound
    // for inner joins: the condition is a plain conjunct filter on the
    // joined row)
    case j @ Join(_, _, Inner, Some(cond), _) =>
      augment(cond).map(c => j.copy(condition = Some(c))).getOrElse(j)
  }

  /** Returns the condition with newly-derived IN conjuncts, or None if
    * nothing new is derivable (fixpoint reached). */
  private def augment(cond: Expression): Option[Expression] = {
    val conjuncts = splitAnd(cond)
    val derived = conjuncts.flatMap(deriveFromDisjunction)
      .filterNot(d => conjuncts.exists(_.semanticEquals(d)))
    if (derived.isEmpty) None
    else Some(derived.foldLeft(cond)(And(_, _)))
  }

  private def splitAnd(e: Expression): Seq[Expression] = e match {
    case And(l, r) => splitAnd(l) ++ splitAnd(r)
    case other => Seq(other)
  }

  private def splitOr(e: Expression): Seq[Expression] = e match {
    case Or(l, r) => splitOr(l) ++ splitOr(r)
    case other => Seq(other)
  }

  /** For an OR-tree: attributes equality-bound in EVERY disjunct yield
    * `attr IN (values)`. */
  private def deriveFromDisjunction(e: Expression): Seq[Expression] = e match {
    case _: Or =>
      val disjuncts = splitOr(e)
      // per disjunct: exprId -> (attr, literals bound to it)
      val perDisjunct: Seq[Map[Attribute, Seq[Literal]]] = disjuncts.map { d =>
        splitAnd(d).collect {
          case EqualTo(a: Attribute, l: Literal) if l.value != null => (a, l)
          case EqualTo(l: Literal, a: Attribute) if l.value != null => (a, l)
        }.groupBy(_._1).map { case (a, ps) => a -> ps.map(_._2) }
      }
      if (perDisjunct.isEmpty) return Nil
      val common = perDisjunct.map(_.keySet.map(_.exprId)).reduce(_ intersect _)
      perDisjunct.head.keys.toSeq
        .filter(a => common.contains(a.exprId))
        .flatMap { a =>
          val values = perDisjunct.flatMap(
            _.collectFirst { case (k, ls) if k.exprId == a.exprId => ls }.getOrElse(Nil))
          // dedupe via Literal's own equals/hashCode (value-based even
          // for BinaryType arrays) — grouping on the raw `.value` would
          // keep equal binary literals (reference equality), derive a
          // duplicate-value IN, and oscillate against OptimizeIn's
          // 1-value collapse forever instead of reaching the fixpoint
          val distinct = values.distinct
          if (distinct.size >= 2 && distinct.size <= MaxValues)
            Some(In(a, distinct)) else None
        }
    case _ => Nil
  }
}
