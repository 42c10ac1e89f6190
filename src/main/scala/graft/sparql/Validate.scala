package graft.sparql

import graft.GraftException
import Ast._

/** Static well-formedness checks the SPARQL 1.1 grammar notes (§19.8)
  * and scoping rules (§18.2.1, §19.6) impose BEYOND the context-free
  * grammar — a conforming engine must REJECT these queries, never
  * evaluate an approximation:
  *
  *  - note 12/13: a `(expr AS ?v)` projection must not assign a name
  *    that is already used (another projection item, or in-scope in
  *    the WHERE pattern);
  *  - §18.2.1: a BIND target must not be in-scope in the group up to
  *    the BIND;
  *  - §18.2.4: aggregates appear only in SELECT expressions, HAVING
  *    and ORDER BY — never in pattern-level FILTER or BIND;
  *  - §19.6: a blank node label may not be reused across two basic
  *    graph patterns (approximated at Join granularity: triples blocks
  *    of ONE group merge into one BGP around filters, so only
  *    OPTIONAL/MINUS/UNION/GRAPH/SERVICE/subselect boundaries start a
  *    new label region).
  *
  * Runs once per parse (Engine's parse cache) over queries and their
  * subselects/EXISTS patterns. */
object Validate {

  private def err(msg: String): Nothing =
    throw new GraftException(msg)

  def select(q: SelectQuery): Unit = {
    projection(q)
    // no nested aggregates anywhere an aggregate may appear: §18.5.1
    // evaluates one aggregation step per group — SUM(COUNT(?x)) has no
    // defined value
    q.projection match {
      case SelectVars(items) => items.foreach(i => noNestedAgg(i.expr))
      case SelectAll => ()
    }
    q.mods.having.foreach(noNestedAgg(_))
    q.mods.orderBy.foreach { case (e, _) => noNestedAgg(e) }
    q.mods.groupBy.foreach {
      case GroupExpr(e, _) => noNestedAgg(e)
      case GroupVar(_) => ()
    }
    pattern(q.where)
  }

  /** Rejects an aggregate WITHIN an aggregate's argument (at any
    * depth); plain expressions over several aggregates are fine. */
  private def noNestedAgg(e: Expr, inAgg: Boolean = false): Unit = e match {
    case ExAgg(fn, _, arg, _) =>
      if (inAgg) err(s"aggregate $fn nested inside another aggregate " +
        "(one aggregation step per group — §18.5.1)")
      arg.foreach(noNestedAgg(_, inAgg = true))
    case ExExists(_, _) => () // validated by checkExpr/pattern
    case ExOr(l, r) => noNestedAgg(l, inAgg); noNestedAgg(r, inAgg)
    case ExAnd(l, r) => noNestedAgg(l, inAgg); noNestedAgg(r, inAgg)
    case ExNot(x) => noNestedAgg(x, inAgg)
    case ExCmp(_, l, r) => noNestedAgg(l, inAgg); noNestedAgg(r, inAgg)
    case ExArith(_, l, r) => noNestedAgg(l, inAgg); noNestedAgg(r, inAgg)
    case ExNegNum(x) => noNestedAgg(x, inAgg)
    case ExIn(x, list, _) =>
      noNestedAgg(x, inAgg); list.foreach(noNestedAgg(_, inAgg))
    case ExCall(_, args) => args.foreach(noNestedAgg(_, inAgg))
    case _ => ()
  }

  def construct(where: GraphPattern): Unit = pattern(where)

  def where(p: GraphPattern): Unit = pattern(p)

  private def projection(q: SelectQuery): Unit = q.projection match {
    case SelectVars(items) =>
      val names = items.map(_.name)
      names.diff(names.distinct).headOption.foreach(d =>
        err(s"?$d is selected more than once (§19.8 note 12)"))
      val scope = inScopeVars(q.where)
      items.foreach { i =>
        val isPlainUse = i.expr match {
          case ExVar(v) => i.alias.forall(_ == v)
          case _ => false
        }
        if (!isPlainUse && scope(i.name))
          err(s"(expr AS ?${i.name}) assigns a variable already in " +
            "scope in the WHERE pattern (§19.8 note 13)")
      }
    case SelectAll => ()
  }

  private def pattern(p: GraphPattern): Unit = {
    walk(p)
    val seen = scala.collection.mutable.Map[String, Int]()
    bnodeRegions(p, 0, seen, new Counter)
  }

  /** Aggregate placement, BIND scope, and recursion into nested
    * queries/EXISTS patterns. */
  private def walk(p: GraphPattern): Unit = p match {
    case Unit0 | Bgp(_) | TableData(_, _) => ()
    case Join(l, r) => walk(l); walk(r)
    case LeftJoin(l, r, fs) =>
      fs.foreach(checkExpr(_, "an OPTIONAL filter"))
      walk(l); walk(r)
    case Minus(l, r) => walk(l); walk(r)
    case Union(l, r) => walk(l); walk(r)
    case Filter(q, exprs) =>
      exprs.foreach(checkExpr(_, "a FILTER"))
      walk(q)
    case Extend(q, v, e) =>
      if (inScopeVars(q)(v))
        err(s"BIND(… AS ?$v): ?$v is already in scope in the group " +
          "(§18.2.1)")
      checkExpr(e, "a BIND")
      walk(q)
    case SubSelect(q) => select(q)
    case GraphPat(_, q) => walk(q)
    case Service(_, q, _) => walk(q)
  }

  /** No aggregates outside SELECT/HAVING/ORDER BY; EXISTS subpatterns
    * validate recursively. */
  private def checkExpr(e: Expr, where: String): Unit = e match {
    case ExAgg(_, _, _, _) =>
      err(s"aggregate function in $where (aggregates are only legal " +
        "in SELECT expressions, HAVING and ORDER BY — §18.2.4)")
    case ExExists(p, _) => pattern(p)
    case ExOr(l, r) => checkExpr(l, where); checkExpr(r, where)
    case ExAnd(l, r) => checkExpr(l, where); checkExpr(r, where)
    case ExNot(x) => checkExpr(x, where)
    case ExCmp(_, l, r) => checkExpr(l, where); checkExpr(r, where)
    case ExArith(_, l, r) => checkExpr(l, where); checkExpr(r, where)
    case ExNegNum(x) => checkExpr(x, where)
    case ExIn(x, list, _) =>
      checkExpr(x, where); list.foreach(checkExpr(_, where))
    case ExCall(_, args) => args.foreach(checkExpr(_, where))
    case _ => ()
  }

  private final class Counter { var next = 1 }

  /** §19.6 blank-node-label regions: labels collected per region; a
    * label seen in two different regions is an error. Join/Filter/
    * Extend continue the current region (triples blocks of one group
    * merge into one BGP); every subpattern boundary starts a fresh
    * one. */
  private def bnodeRegions(p: GraphPattern, region: Int,
      seen: scala.collection.mutable.Map[String, Int],
      c: Counter): Unit = {
    def fresh(): Int = { val r = c.next; c.next += 1; r }
    p match {
      case Bgp(ts) =>
        ts.flatMap(tripleVars).filter(_.startsWith("_:")).foreach { l =>
          seen.get(l) match {
            case Some(r0) if r0 != region =>
              err(s"blank node label ${l.stripPrefix("_:")} is reused " +
                "across two basic graph patterns (§19.6)")
            case _ => seen(l) = region
          }
        }
      case Join(l, r) =>
        bnodeRegions(l, region, seen, c); bnodeRegions(r, region, seen, c)
      case Filter(q, _) => bnodeRegions(q, region, seen, c)
      case Extend(q, _, _) => bnodeRegions(q, region, seen, c)
      case LeftJoin(l, r, _) =>
        bnodeRegions(l, region, seen, c); bnodeRegions(r, fresh(), seen, c)
      case Minus(l, r) =>
        bnodeRegions(l, region, seen, c); bnodeRegions(r, fresh(), seen, c)
      case Union(l, r) =>
        bnodeRegions(l, fresh(), seen, c); bnodeRegions(r, fresh(), seen, c)
      case GraphPat(_, q) => bnodeRegions(q, fresh(), seen, c)
      case Service(_, q, _) => bnodeRegions(q, fresh(), seen, c)
      case SubSelect(q) => bnodeRegions(q.where, fresh(), seen, c)
      case Unit0 | TableData(_, _) => ()
    }
  }
}
