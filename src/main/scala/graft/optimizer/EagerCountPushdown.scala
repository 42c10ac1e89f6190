package graft.optimizer

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate._
import org.apache.spark.sql.catalyst.plans.Inner
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types._

/** Eager aggregation through an inner equi-join (Yan & Larson, "Eager
  * aggregation and lazy aggregation", VLDB'95; optimization-guide §2.3
  * "aggregate before you shuffle"): when a grouped aggregate sits on a
  * join and every aggregate argument lives on ONE side (the "pushed"
  * side), aggregate that side per join key FIRST, join the (much
  * smaller) per-key partials, and combine them in the final aggregate.
  *
  *   Agg_G[count(*)] (L ⋈_{lk=rk} R)
  *     ⇒ Agg_G[coalesce(sum(c0),0)] (Agg_{lk}[count(*) AS c0](L) ⋈ R)
  *   Agg_G[sum(x)]   (L ⋈ R), x ⊆ L
  *     ⇒ Agg_G[sum(sx)] (Agg_{lk}[sum(x) AS sx](L) ⋈ R)
  *   Agg_G[min(x)]   (L ⋈ R), x ⊆ L   (max symmetric)
  *     ⇒ Agg_G[min(mx)] (Agg_{lk}[min(x) AS mx](L) ⋈ R)
  *   Agg_G[count(x)] (L ⋈ R), x ⊆ L
  *     ⇒ Agg_G[coalesce(sum(cx),0)] (Agg_{lk}[count(x) AS cx](L) ⋈ R)
  *
  * Equivalence: in the original, group g's COUNT(*) is Σ over joined
  * rows = Σ_{r∈R matching g} |{l ∈ L : l.lk = r.rk}|; in the rewrite
  * each (lk-group, r) joined row carries exactly that inner cardinality
  * as c0, so the sums coincide — for ANY multiplicities on either side
  * (duplicate R keys multiply both forms identically). The same
  * argument gives SUM/COUNT(x): each keep row picks up the per-key
  * partial of the push rows it would have joined; duplicate keep keys
  * replicate the partial exactly as the join replicates the raw rows.
  * MIN/MAX are multiplicity-insensitive, so min-of-per-key-mins equals
  * the min over the joined multiset; for the same reason a MIN/MAX
  * whose argument lives on the KEPT side passes through unchanged.
  * NULL columns: per-key SUM/MIN/MAX are NULL exactly when every pushed
  * value of that key is NULL, and the outer SUM/MIN/MAX ignores those
  * NULLs — identical to the original aggregate ignoring the raw NULLs;
  * per-key COUNT is 0 (never NULL) there, preserving COUNT semantics.
  * `coalesce(·, 0)` restores COUNT's zero on the empty global group
  * (SUM of no rows is NULL where COUNT is 0) and keeps the output
  * attribute non-nullable as COUNT declared it. Null join keys behave
  * identically: a null-key group joins nothing in either form.
  *
  * Result types are preserved exactly: COUNT→SUM(long)→long under the
  * coalesce; SUM over integral x is long at both levels, over
  * float/double x double at both levels (DECIMAL is excluded — its SUM
  * widens precision per level, or overflows a per-key partial at the
  * 38-digit cap); MIN/MAX keep their input type at both levels.
  *
  * Why it pays: the fact side of a fact⋈dim aggregate collapses BEFORE
  * the join (q_path_seq: 600 k lineitems → 150 k order keys), so the
  * join probes and the final aggregate hash pre-aggregated rows; at
  * cluster scale a shuffle join moves per-key partials instead of raw
  * fact rows. Where the join key is unique in L the pushed aggregate
  * reduces nothing and costs one extra in-pipeline hash-aggregate pass
  * over L — bounded, and not a shape the engine's corpus produces with
  * a grouped aggregate.
  *
  * Guards (all required):
  *  - batch plan only (streaming grouped aggregation is stateful);
  *  - INNER join whose condition is a conjunction of EqualTo between the
  *    two sides' attributes (the engine's equi-joins) — no residual
  *    predicate that could reference aggregated-away columns;
  *  - every AggregateExpression is non-DISTINCT and un-FILTERed, and is
  *    either COUNT of foldable non-null children, or COUNT/SUM/MIN/MAX
  *    whose argument references only the pushed side, or MIN/MAX whose
  *    argument references only the kept side (pass-through); at least
  *    one call actually pushes, else nothing is gained;
  *  - grouping expressions and every output reference OUTSIDE an
  *    aggregate call live on the kept side;
  *  - the pushed side is not an Aggregate already keyed by (a subset
  *    of) the join keys. Termination: every fire leaves exactly such an
  *    aggregate as the new push side, which can never be a push
  *    candidate again, and the rewritten SUM/COUNT calls block the
  *    mirrored arm (keep-side SUM/COUNT never classifies), so the
  *    fixpoint batch cannot re-fire on its own output; a pushed
  *    aggregate over a join CHAIN may legally cascade one level further
  *    down, which is the intended recursion. An input aggregate with a
  *    FINER grouping — the dropDuplicates(s,p,o) a set-semantics triple
  *    store carries under every scan — still collapses per join key and
  *    does not block.
  */
object EagerCountPushdown extends Rule[LogicalPlan] {

  /** How one aggregate call participates in the rewrite. */
  private sealed trait Action
  /** COUNT(*) / COUNT(1): becomes coalesce(sum(shared c0), 0). */
  private case object CStar extends Action
  /** Decomposable call whose (substituted) argument list lives entirely
    * on the pushed side: per-key partial below the join, combined above.
    * `partial` is the function to evaluate per key (args already
    * substituted through any intervening Project). */
  private case class Pushed(partial: AggregateFunction) extends Action
  /** MIN/MAX over the kept side: unchanged (multiplicity-insensitive). */
  private case object KeepAsIs extends Action

  private def isCountStar(ae: AggregateExpression): Boolean =
    ae.aggregateFunction match {
      case Count(children) =>
        !ae.isDistinct && ae.filter.isEmpty &&
          children.forall(c => c.foldable && c.eval() != null)
      case _ => false
    }

  /** SUM result types that are identical at both aggregation levels:
    * integral → long → long, float/double → double → double. No decimal
    * pushes: a narrow one widens per level, and a per-key partial at the
    * 38-digit cap can overflow to NULL, which the outer sum would skip
    * where the unpushed sum nulls the whole group. */
  private def sumTypeStable(t: DataType): Boolean = t match {
    case ByteType | ShortType | IntegerType | LongType => true
    case FloatType | DoubleType => true
    case _ => false
  }

  /** Classify one aggregate call, or None when it blocks the rewrite.
    * `subst` resolves attributes through the Project (identity when the
    * aggregate sits directly on the join). */
  private def classify(ae: AggregateExpression, subst: Expression => Expression,
      push: LogicalPlan, keep: LogicalPlan): Option[Action] = {
    if (ae.isDistinct || ae.filter.nonEmpty) return None
    if (isCountStar(ae)) return Some(CStar)
    def sideOf(args: Seq[Expression]): Option[(Seq[Expression], Boolean)] = {
      val substituted = args.map(subst)
      if (!substituted.forall(_.deterministic)) return None
      val refs = AttributeSet(substituted.flatMap(_.references))
      if (refs.isEmpty) None // constant args of non-count calls: bail
      else if (refs.subsetOf(push.outputSet)) Some((substituted, true))
      else if (refs.subsetOf(keep.outputSet)) Some((substituted, false))
      else None
    }
    ae.aggregateFunction match {
      case Count(children) => sideOf(children).collect {
        case (args, true) => Pushed(Count(args))
      }
      // TRY mode is excluded: a try_sum partial that overflows to NULL
      // would be SKIPPED by the outer sum instead of nulling the group
      case s @ Sum(x, _) if s.evalContext.evalMode != EvalMode.TRY =>
        sideOf(Seq(x)).collect {
          case (Seq(a), true) if sumTypeStable(a.dataType) =>
            Pushed(s.copy(child = a))
        }
      case Min(x) => sideOf(Seq(x)).map {
        case (args, true) => Pushed(Min(args.head))
        case _ => KeepAsIs
      }
      case Max(x) => sideOf(Seq(x)).map {
        case (args, true) => Pushed(Max(args.head))
        case _ => KeepAsIs
      }
      case _ => None
    }
  }

  private def splitConjuncts(e: Expression): Seq[Expression] = e match {
    case And(a, b) => splitConjuncts(a) ++ splitConjuncts(b)
    case other => Seq(other)
  }

  /** The pushed side's join-key attributes, provided the condition is a
    * pure conjunction of cross-side attribute equalities. */
  private def pushSideKeys(cond: Expression, push: LogicalPlan,
      keep: LogicalPlan): Option[Seq[Attribute]] = {
    val keys = splitConjuncts(cond).map {
      case EqualTo(a: Attribute, b: Attribute) =>
        if (push.outputSet.contains(a) && keep.outputSet.contains(b)) Some(a)
        else if (push.outputSet.contains(b) && keep.outputSet.contains(a))
          Some(b)
        else None
      case _ => None
    }
    if (keys.forall(_.isDefined)) Some(keys.map(_.get).distinct) else None
  }

  /** The classified aggregate calls of `agg` (keyed by canonicalized
    * call), when the shape is rewritable: every call classifies, at
    * least one pushes, and everything OUTSIDE the calls (grouping and
    * the rest of the output expressions) lives on the kept side. */
  private def analyze(agg: Aggregate, subst: Expression => Expression,
      push: LogicalPlan, keep: LogicalPlan, cond: Expression)
      : Option[Map[Expression, Action]] = {
    if (!agg.resolved) return None
    val keys = pushSideKeys(cond, push, keep) match {
      case Some(ks) if ks.nonEmpty => ks
      case _ => return None
    }
    push match {
      // Re-pushing an aggregate already keyed by (a subset of) the join
      // keys gains nothing and would let the fixpoint batch re-fire on
      // this rule's own output — that subset check IS the termination
      // argument. An aggregate with a FINER grouping (e.g. the
      // dropDuplicates(s,p,o) a set-semantics triple store carries)
      // still collapses per join key and is fair game.
      case a: Aggregate =>
        val keySet = AttributeSet(keys)
        if (a.groupingExpressions.forall {
          case attr: Attribute => keySet.contains(attr)
          case _ => false
        }) return None
      case _ =>
    }
    val outs = agg.aggregateExpressions
    if (!outs.forall(_.deterministic) ||
      !agg.groupingExpressions.forall(_.deterministic)) return None
    val aggCalls = outs.flatMap(_.collect { case ae: AggregateExpression => ae })
    if (aggCalls.isEmpty) return None
    val actions = aggCalls.map(ae =>
      classify(ae, subst, push, keep) match {
        case Some(a) => ae.canonicalized -> a
        case None => return None
      }).toMap
    if (!actions.values.exists { case CStar | _: Pushed => true
      case _ => false }) return None
    // nothing OUTSIDE an aggregate call may see a pushed-side column:
    // mask the calls, substitute through the Project, check what remains
    val outside = AttributeSet(
      (outs.map(_.transform { case _: AggregateExpression => Literal(0L) }) ++
        agg.groupingExpressions).map(subst).flatMap(_.references))
    if (outside.exists(push.outputSet.contains)) return None
    Some(actions)
  }

  /** Fire only when the join will SHUFFLE the pushed side. Under a
    * broadcast join no side moves — the pre-aggregation would ADD an
    * exchange (measured +1 Exchange, no wall win at sf0.1 where every
    * bench join broadcasts). An explicit hint on either side decides
    * first (the engine's steerSides plants BROADCAST / SHUFFLE_HASH
    * deliberately); otherwise the size estimates: the join shuffles
    * exactly when NEITHER side fits under the broadcast threshold, and
    * a negative threshold disables broadcast outright so every
    * equi-join shuffles. */
  private def joinWillShuffle(keep: LogicalPlan, push: LogicalPlan,
      keepHint: Option[HintInfo], pushHint: Option[HintInfo]): Boolean = {
    def strat(h: Option[HintInfo]) = h.flatMap(_.strategy)
    strat(keepHint) match {
      case Some(BROADCAST) => false
      case Some(SHUFFLE_HASH) | Some(SHUFFLE_MERGE) => true
      case _ =>
        strat(pushHint) match {
          case Some(BROADCAST) => false // push side broadcast: it never moves
          case Some(SHUFFLE_HASH) | Some(SHUFFLE_MERGE) => true
          case _ =>
            val thr = conf.autoBroadcastJoinThreshold
            thr < 0 || (keep.stats.sizeInBytes > thr &&
              push.stats.sizeInBytes > thr)
        }
    }
  }

  private def rewrite(agg: Aggregate, push: LogicalPlan, keep: LogicalPlan,
      cond: Expression, hint: JoinHint, pushIsLeft: Boolean,
      projUsed: Option[Seq[NamedExpression]],
      actions: Map[Expression, Action]): LogicalPlan = {
    val keys = pushSideKeys(cond, push, keep).get
    // one pushed partial column per distinct pushed call; the shared
    // COUNT(*) keeps its historical name __graft_c0
    var n = 0
    val pushedCols = scala.collection.mutable.LinkedHashMap
      .empty[Expression, (AttributeReference, Alias)]
    def pushedAttr(key: Expression, fn: AggregateFunction,
        name: String): AttributeReference =
      pushedCols.getOrElseUpdate(key, {
        val ae = AggregateExpression(fn, Complete, isDistinct = false)
        val attr = AttributeReference(name, ae.dataType, ae.nullable)()
        (attr, Alias(ae, name)(exprId = attr.exprId))
      })._1
    val cStarKey: Expression = Literal("__graft_c0")
    actions.foreach {
      case (k, Pushed(fn)) =>
        n += 1
        pushedAttr(k, fn, s"__graft_a$n"); ()
      case (_, CStar) =>
        pushedAttr(cStarKey, Count(Seq(Literal(1))), "__graft_c0"); ()
      case _ =>
    }
    val pushed = Aggregate(keys,
      keys ++ pushedCols.values.map(_._2).toSeq, push)
    val newJoin =
      if (pushIsLeft) Join(pushed, keep, Inner, Some(cond), hint)
      else Join(keep, pushed, Inner, Some(cond), hint)
    def combined(ae: AggregateExpression): Expression = {
      def sum(a: Attribute) =
        AggregateExpression(Sum(a), Complete, isDistinct = false)
      actions(ae.canonicalized) match {
        case CStar =>
          Coalesce(Seq(sum(pushedCols(cStarKey)._1), Literal(0L)))
        case Pushed(fn) =>
          val attr = pushedCols(ae.canonicalized)._1
          fn match {
            case _: Count => Coalesce(Seq(sum(attr), Literal(0L)))
            case s: Sum => // keep the partial's eval mode at the outer level
              AggregateExpression(s.copy(child = attr), Complete,
                isDistinct = false)
            case _: Min =>
              AggregateExpression(Min(attr), Complete, isDistinct = false)
            case _: Max =>
              AggregateExpression(Max(attr), Complete, isDistinct = false)
            case other => throw new IllegalStateException(
              s"unreachable pushed function $other")
          }
        case KeepAsIs => ae
      }
    }
    val newOuts = agg.aggregateExpressions.map { out =>
      out.transform {
        case ae: AggregateExpression if actions.contains(ae.canonicalized) =>
          combined(ae)
      }.asInstanceOf[NamedExpression]
    }
    // when the aggregate read through a Project, keep the project
    // entries the REWRITTEN aggregate still reads and forward the pushed
    // partials: an entry that fed only pushed calls reads push-side
    // columns the per-key Aggregate has aggregated away
    val newChild = projUsed match {
      case Some(used) =>
        val read = AttributeSet(
          (newOuts ++ agg.groupingExpressions).flatMap(_.references))
        Project(used.filter(ne => read.contains(ne.toAttribute)) ++
          pushedCols.values.map(_._1), newJoin)
      case None => newJoin
    }
    agg.copy(aggregateExpressions = newOuts, child = newChild)
  }

  /** The project entries `agg` pulls from `p`, and a substitution that
    * resolves `p`'s aliases to the expressions over `p`'s child — None
    * when any referenced project expression is non-deterministic. */
  private def throughProject(agg: Aggregate, p: Project)
      : Option[(Seq[NamedExpression], Expression => Expression)] = {
    val used = p.projectList.filter(ne => agg.references.contains(ne.toAttribute))
    if (!used.forall(_.deterministic)) None
    else {
      val map: Map[ExprId, Expression] = p.projectList.map {
        case a: Alias => a.toAttribute.exprId -> a.child
        case ne => ne.toAttribute.exprId -> (ne.toAttribute: Expression)
      }.toMap
      val subst = (e: Expression) => e.transform {
        case a: Attribute if map.contains(a.exprId) => map(a.exprId)
      }
      Some((used, subst))
    }
  }

  /** Session kill-switch: `spark.graft.eagerCountPushdown=false` disables
    * the rewrite (operational escape hatch + A/B measurement). */
  private def enabled: Boolean =
    conf.getConfString("spark.graft.eagerCountPushdown", "true") == "true"

  /** Matches an Aggregate directly over the join, or over one aliasing
    * Project (CollapseProject leaves a Project in place when folding it
    * would duplicate a non-trivial group expression — the common shape
    * for GROUP BY on a constructed struct). */
  override def apply(plan: LogicalPlan): LogicalPlan = {
    if (plan.isStreaming || !enabled) return plan
    plan.transformDown {
      case agg @ Aggregate(_, _, Join(l, r, Inner, Some(cond), hint), _) =>
        pushEither(agg, identity, None, l, r, cond, hint).getOrElse(agg)
      case agg @ Aggregate(_, _,
          p @ Project(_, Join(l, r, Inner, Some(cond), hint)), _) =>
        throughProject(agg, p).flatMap { case (used, subst) =>
          pushEither(agg, subst, Some(used), l, r, cond, hint)
        }.getOrElse(agg)
    }
  }

  /** The rewrite pushing into the left side, else into the right side:
    * each side is gated on the join shuffling it, and analyzed once. */
  private def pushEither(agg: Aggregate, subst: Expression => Expression,
      projUsed: Option[Seq[NamedExpression]], l: LogicalPlan, r: LogicalPlan,
      cond: Expression, hint: JoinHint): Option[LogicalPlan] = {
    def push(pushSide: LogicalPlan, keep: LogicalPlan, pushIsLeft: Boolean,
        pushHint: Option[HintInfo], keepHint: Option[HintInfo]) =
      if (!joinWillShuffle(keep, pushSide, keepHint, pushHint)) None
      else analyze(agg, subst, pushSide, keep, cond).map(
        rewrite(agg, pushSide, keep, cond, hint, pushIsLeft, projUsed, _))
    push(l, r, pushIsLeft = true, hint.leftHint, hint.rightHint)
      .orElse(push(r, l, pushIsLeft = false, hint.rightHint, hint.leftHint))
  }
}
