package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{Alias, And, Attribute, AttributeReference, Cast, Coalesce, Expression, Literal, NamedExpression}
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Count, Max, Min, Sum}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule

/** Transparent MATERIALIZED-VIEW serving — the warehouse feature that
  * turns an at-rest rollup into an automatic answer for every query it
  * can derive. The view stores only ASSOCIATIVE partials (exact BIGINT
  * counts and exact DECIMAL sums, never averages) at its grain, so the
  * matcher serves not just the view's own aggregate but every COARSER
  * roll-up of it: a consumer grouping by a subset of the view's keys
  * whose aggregates are counts/sums over the view's stored inputs is
  * rewritten to re-aggregate the |groups|-row view scan —
  * `count(*) → sum(n)`, `sum(e) → sum(sum_e)` — the classic
  * summary-table navigation rule (Gupta & Mumick's rollup-derivability
  * condition). Because the partials are exact (decimal, not float),
  * re-aggregation is bit-identical to aggregating the fact directly,
  * which is precisely what the DuckDB oracle checks.
  *
  * Matching is conservative and cheap: the consumer's Aggregate child
  * must unwrap (through attribute-only Projects — what column pruning
  * inserts — and Filters, collected on the way down) to a relation that
  * `sameResult`s the view's base relation; every grouping expression
  * must semantically equal one of the view's (rebased onto the
  * consumer's attribute ids); every aggregate must be an undistinct,
  * unfiltered Count/Sum/Min/Max over a stored partial's input
  * (optionally Cast-wrapped, e.g. the final to-double projection).
  * A consumer FILTER is derivable iff its predicate references only
  * view group keys (Gupta & Mumick's selection condition — every fact
  * row of a group shares the keys, so filtering groups ≡ filtering
  * rows): it is rebased onto the MV scan's key columns and applied
  * BELOW the re-aggregation, the shape every dashboard query has
  * (`WHERE key = … GROUP BY other_key`). Anything else bails out to
  * the original plan — a predicate on a non-key column, a finer
  * grain, an average, a distinct count are all left untouched.
  *
  * The rewrite preserves the consumer's attribute ids (every output is
  * re-aliased under its original exprId) so parent operators stay
  * resolved, and inserts a Cast wherever re-aggregation widens a type
  * (sum-of-decimal-sums gains precision). After one application the
  * subtree aggregates the view's parquet relation, which can never
  * match the base relation again — idempotent under the fixed-point
  * batch.
  *
  * Scale shape: at 100 TB the rollup builds once per corpus generation
  * (one map-side-combined pass) and every derivable dashboard query
  * thereafter reads |groups| rows instead of the fact — partition
  * pruning's algebraic cousin. Installed per-session via
  * `spark.experimental.extraOptimizations` (Spark's sanctioned hook for
  * session-scoped optimizer rules, run as a late batch when consumer
  * subtrees are in the same normalized shape as the stored definition).
  */
case class MvRewrite(spark: SparkSession, viewName: String,
    target: LogicalPlan, location: String,
    deltaLocation: Option[String] = None) extends Rule[LogicalPlan] {

  /** A Project is transparent to the matcher iff every entry is a bare
    * attribute (column pruning) or a DETERMINISTIC alias — the shape
    * `PullOutGroupingExpressions` inserts below any Aggregate whose
    * group keys are complex (`expr AS _groupingexpression#n`). */
  private def transparentProject(pl: Seq[NamedExpression]): Boolean = pl.forall {
    case _: AttributeReference => true
    case Alias(e, _) => e.deterministic
    case _ => false
  }

  /** Unwrap transparent Projects down to the base, collecting an
    * alias-substitution map (alias exprId → defining expression, itself
    * fully inlined over the base's attributes) so callers can re-express
    * pulled-out grouping expressions over the base relation. The VIEW
    * side: a Filter in the definition is not a transparent wrapper (the
    * stored rollup is over exactly the definition's rows), so anything
    * [[unwrapCollectingFilters]] collected stops the unwrap here. */
  private def unwrap(p: LogicalPlan): (Map[Long, Expression], LogicalPlan) = {
    val (fs, m, base) = unwrapCollectingFilters(p)
    if (fs.isEmpty) (m, base) else (Map.empty, p)
  }

  /** Unwrap like [[unwrap]] but additionally COLLECT Filter conditions
    * on the way down (by optimization time consumer predicates sit
    * pushed-down, directly above the relation) — the matcher then
    * decides whether each condition is expressible over the view's
    * group keys. Conditions are returned RAW; the caller inlines them
    * through the alias map (an alias can only be referenced above the
    * Project that defines it, so the final map always covers them). */
  private def unwrapCollectingFilters(p: LogicalPlan)
      : (Seq[Expression], Map[Long, Expression], LogicalPlan) = p match {
    case Project(pl, child) if transparentProject(pl) =>
      val (fs, m, base) = unwrapCollectingFilters(child)
      val here = pl.collect { case a @ Alias(e, _) =>
        a.exprId.id -> e.transform {
          case ar: AttributeReference if m.contains(ar.exprId.id) => m(ar.exprId.id)
        }
      }
      (fs, m ++ here, base)
    case Filter(cond, child) =>
      val (fs, m, base) = unwrapCollectingFilters(child)
      (cond +: fs, m, base)
    case other => (Nil, Map.empty, other)
  }

  // Decompose the view definition once: base relation, grouping
  // expressions, and stored partials (position in the view's output →
  // aggregate kind + input expression over the base's attributes).
  private val (mvBase, mvGroups, mvPartials): (LogicalPlan,
      Seq[(Expression, Int)], Seq[(String, Option[Expression], Int)]) = target match {
    case Aggregate(ge, ae, child, _) =>
      val (am, base) = unwrap(child)
      // every stored shape is re-expressed over the BASE relation's
      // attributes (pulled-out `_groupingexpression` aliases inlined)
      def inline(e: Expression): Expression = e.transform {
        case ar: AttributeReference if am.contains(ar.exprId.id) => am(ar.exprId.id)
      }
      val geI = ge.map(inline)
      val parts = ae.zipWithIndex.flatMap {
        case (Alias(AggregateExpression(Sum(e, _), _, false, None, _), _), i) =>
          Some(("sum", Some(inline(e)), i))
        // the literal must be NON-NULL: count(NULL) is always 0, not the
        // row count, so it is neither a row-count partial nor derivable
        // from one
        case (Alias(AggregateExpression(Count(Seq(Literal(v, _))), _, false, None, _), _), i)
            if v != null =>
          Some(("count", None, i))
        case (Alias(AggregateExpression(Min(e), _, false, None, _), _), i) =>
          Some(("min", Some(inline(e)), i))
        case (Alias(AggregateExpression(Max(e), _, false, None, _), _), i) =>
          Some(("max", Some(inline(e)), i))
        case _ => None
      }
      val groups = ae.zipWithIndex.flatMap {
        case (a: AttributeReference, i) if geI.exists(_.semanticEquals(inline(a))) =>
          Some((inline(a), i))
        case (Alias(e, _), i) if geI.exists(_.semanticEquals(inline(e))) =>
          Some((inline(e), i))
        case _ => None
      }
      (base, groups, parts)
    case other => (other, Nil, Nil)
  }

  override def apply(plan: LogicalPlan): LogicalPlan =
    if (mvGroups.isEmpty && mvPartials.isEmpty) plan
    else plan.transformUp {
      case agg: Aggregate => rewrite(agg).getOrElse(agg)
    }

  /** Attempt the rollup-derivability rewrite; None = not derivable. */
  private def rewrite(agg: Aggregate): Option[LogicalPlan] = {
    val (rawConds, cam, base) = unwrapCollectingFilters(agg.child)
    // cheap leaf guard first, then the canonical-plan check — never
    // rewrite anything already served (the MV scan is a different leaf)
    if (base.children.nonEmpty || !base.sameResult(mvBase)) return None
    // the consumer's own pulled-out grouping aliases, inlined so every
    // consumer expression is over the base relation's attributes too
    def inlineC(e: Expression): Expression = e.transform {
      case ar: AttributeReference if cam.contains(ar.exprId.id) => cam(ar.exprId.id)
    }
    val conds = rawConds.map(inlineC)
    // rebase the view's expressions onto the consumer's attribute ids
    val idMap: Map[Long, Attribute] =
      mvBase.output.zip(base.output).map { case (m, c) => m.exprId.id -> c }.toMap
    def rebase(e: Expression): Expression = e.transform {
      case a: AttributeReference if idMap.contains(a.exprId.id) => idMap(a.exprId.id)
    }
    val groups = mvGroups.map { case (e, i) => (rebase(e), i) }
    val partials = mvPartials.map { case (k, e, i) => (k, e.map(rebase), i) }

    // a fresh analyzed scan per rewrite site (sharing one relation plan
    // across sites would alias expression ids between them).
    //
    // SERVING FRESHNESS: with a `deltaLocation` (a streaming
    // maintenance tick tree — StreamOps.mvDeltaSink's layout), the scan
    // is generation ∪ completed-unfolded ticks, UNFOLDED: no
    // pre-aggregation is needed because the consumer's re-aggregation
    // algebra already absorbs multiple partial rows per view group —
    // sum-of-sums and count-as-sum are associative over ANY partition
    // of the rows, min/max idempotent — so a dashboard sees ingest
    // ticks the moment their write commits, without waiting for the
    // maintenance fold (the vector-store standing ∪ delta serving
    // pattern, q_sim_ivf_incremental's, applied to MVs). Folded ticks
    // are excluded via the generation's own high-water mark, so a tick
    // is never counted twice.
    lazy val scan = {
      // generation + fresh ticks come from the ONE validated snapshot
      // (StreamOps.standingSnapshot): the generation's file listing is
      // captured inside the mark-validated section, so a concurrent
      // maintenance fold can neither pair a stale mark with the
      // post-fold generation (double-count) nor a post-fold listing
      // with a pre-fold tick list; the residual post-validation race
      // fails safe on the swapped generation's replaced files, because
      // the captured listing provably predates the swap
      val withDelta = deltaLocation
        .filter(dd => graft.AtRest.isBuilt(new java.io.File(dd)))
        .map { dd =>
          val (base, fresh) =
            graft.streaming.StreamOps.standingSnapshot(spark, location, dd)
          if (fresh.isEmpty) base
          else base.unionByName(
            graft.AtRest.ticksRelation(spark, dd, fresh)
              .select(base.columns.map(org.apache.spark.sql.functions.col): _*))
        }
        .getOrElse(spark.read.parquet(location))
      withDelta.queryExecution.analyzed
    }
    def scanCol(i: Int): Attribute = scan.output(i)

    // An aggregate call maps iff it is an undistinct, unfiltered
    // count(*) / sum / min / max over EXACTLY a stored partial's input:
    // count re-aggregates as sum(n), sum as sum(sum_x), min/max as
    // min(min_x)/max(max_x) — all exact because the partials are exact
    // (BIGINT / DECIMAL) and min/max are idempotent-associative. The
    // count mapping coalesces to 0: count(*) over an EMPTY relation is
    // 0, but sum(n) over the correspondingly empty MV scan is NULL — a
    // global (groupless) consumer would otherwise silently change its
    // answer, the one thing a transparent rewrite must never do.
    def mapAggFn(ae: AggregateExpression): Option[Expression] = ae match {
      case AggregateExpression(Sum(in, _), _, false, None, _) =>
        partials.collectFirst { case ("sum", Some(pin), i) if pin.semanticEquals(in) =>
          Sum(scanCol(i)).toAggregateExpression()
        }
      // non-null literal only: count(NULL) is the constant 0 — serving
      // it sum(n) would silently replace 0 with the group's row count,
      // the one thing a transparent rewrite must never do
      case AggregateExpression(Count(Seq(Literal(v, _))), _, false, None, _) if v != null =>
        partials.collectFirst { case ("count", _, i) =>
          Coalesce(Seq(Sum(scanCol(i)).toAggregateExpression(), Literal(0L)))
        }
      case AggregateExpression(Min(in), _, false, None, _) =>
        partials.collectFirst { case ("min", Some(pin), i) if pin.semanticEquals(in) =>
          Min(scanCol(i)).toAggregateExpression()
        }
      case AggregateExpression(Max(in), _, false, None, _) =>
        partials.collectFirst { case ("max", Some(pin), i) if pin.semanticEquals(in) =>
          Max(scanCol(i)).toAggregateExpression()
        }
      case _ => None
    }

    // Generic tree mapping: aggregate calls via mapAggFn, view keys
    // onto the scan's key columns — matched as WHOLE EXPRESSIONS first,
    // so an expression-valued key (the orders view's date_trunc month)
    // maps at the view's own grain instead of descending into the
    // expression and bailing at its non-key base attribute — and any
    // surrounding scalar arithmetic (casts, divides — e.g. a collapsed
    // avg = sum/count projection) carried over node-for-node. Any
    // leaf that is neither a literal nor a view key bails the rewrite.
    def mapExpr(e: Expression): Option[Expression] = e match {
      case ae: AggregateExpression => mapAggFn(ae)
      case k if groups.exists(_._1.semanticEquals(k)) =>
        groups.collectFirst { case (g, i) if g.semanticEquals(k) => scanCol(i): Expression }
      case l: Literal => Some(l)
      case other if other.children.nonEmpty =>
        traverse(other.children.map(mapExpr)).map(cs => other.withNewChildren(cs))
      case _ => None
    }

    // The collected consumer FILTER conditions are derivable iff each is
    // deterministic and maps (via mapExpr) onto the view's KEY columns
    // alone — Gupta & Mumick's selection condition: every fact row of a
    // group shares the keys, so filtering groups on the MV scan selects
    // exactly the fact rows the consumer's WHERE selects. The mapped
    // predicate is applied BELOW the re-aggregation. A predicate
    // touching any non-key column is finer than the view's grain and
    // bails the whole rewrite (mapExpr returns None for it).
    if (conds.exists(c => !c.deterministic)) return None
    val mappedConds: Option[Seq[Expression]] = traverse(conds.map(mapExpr))
    if (mappedConds.isEmpty) return None
    lazy val rewriteChild: LogicalPlan =
      if (mappedConds.get.isEmpty) scan
      else Filter(mappedConds.get.reduce(And), scan)

    // Every consumer grouping expression must be computable from the
    // view's keys alone (grouping by a FUNCTION of a key — a coarser
    // partition — is still derivable: sums are associative under any
    // regrouping of the view's groups).
    val mappedGroups: Option[Seq[Expression]] =
      traverse(agg.groupingExpressions.map(e => mapExpr(inlineC(e))))
    if (mappedGroups.isEmpty) return None

    val mappedAggs: Option[Seq[NamedExpression]] = traverse(agg.aggregateExpressions.map {
      case a: AttributeReference =>
        groups.collectFirst { case (g, i) if g.semanticEquals(inlineC(a)) =>
          Alias(scanCol(i), a.name)(exprId = a.exprId): NamedExpression
        }
      case al @ Alias(child, name) =>
        mapExpr(inlineC(child)).map { n =>
          val e = if (n.dataType == al.dataType) n else Cast(n, al.dataType)
          Alias(e, name)(exprId = al.exprId): NamedExpression
        }
      case _ => None
    })

    mappedAggs.map(ae => Aggregate(mappedGroups.get, ae, rewriteChild))
  }

  private def traverse[A](xs: Seq[Option[A]]): Option[Seq[A]] =
    if (xs.forall(_.isDefined)) Some(xs.map(_.get)) else None
}

object MvRewrite {
  /** Install `rule`, replacing any prior registration for the same view
    * (idempotent across Bench reps / repeated query calls). */
  def install(s: SparkSession, rule: MvRewrite): Unit = synchronized {
    uninstall(s, rule.viewName)
    s.experimental.extraOptimizations =
      s.experimental.extraOptimizations :+ rule
  }

  /** Remove the view's rule — used before re-deriving the match target,
    * so the definition's own optimization cannot self-rewrite onto the
    * view (which would store a post-rewrite plan as the match target). */
  def uninstall(s: SparkSession, viewName: String): Unit = synchronized {
    s.experimental.extraOptimizations =
      s.experimental.extraOptimizations.filterNot {
        case m: MvRewrite => m.viewName == viewName
        case _ => false
      }
  }

  /** Remove EVERY MvRewrite rule — the per-query scope boundary.
    * Installed rules live in `spark.experimental.extraOptimizations`
    * for the rest of the session, so in a shared Verify/Bench JVM any
    * query AFTER a q_mv_* would silently remain a rewrite candidate (a
    * future derivable aggregate would bench as an MV scan without its
    * author ever installing a view). The harness calls this at each
    * query's release point — alongside CacheTracker.releaseAll, after
    * the result is materialized — so a view serves exactly the query
    * that installed it. Non-MvRewrite extra optimizations (none today)
    * are left untouched. */
  def uninstallAll(s: SparkSession): Unit = synchronized {
    s.experimental.extraOptimizations =
      s.experimental.extraOptimizations.filterNot(_.isInstanceOf[MvRewrite])
  }
}
