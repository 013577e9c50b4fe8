package graft.ast

/** Structural recursion helpers over Expr trees. */
object ExprOps {

  /** Bottom-up transform: children first, then the node itself. */
  def transformUp(e: Expr)(f: Expr => Expr): Expr = {
    def go(x: Expr): Expr = f(mapChildren(x, go))
    go(e)
  }

  def mapChildren(e: Expr, f: Expr => Expr): Expr = e match {
    case Prop(s, k) => Prop(f(s), k)
    case ListLit(items) => ListLit(items.map(f))
    case MapLit(items) => MapLit(items.map { case (k, v) => (k, f(v)) })
    case Ands(es) => Ands(es.map(f))
    case Ors(es) => Ors(es.map(f))
    case Xor(l, r) => Xor(f(l), f(r))
    case Not(x) => Not(f(x))
    case Cmp(op, l, r) => Cmp(op, f(l), f(r))
    case IsNull(x, n) => IsNull(f(x), n)
    case IsTyped(x, t, n) => IsTyped(f(x), t, n)
    case IsNormalized(x, nf, n) => IsNormalized(f(x), nf, n)
    case In(l, r) => In(f(l), f(r))
    case StartsWith(l, r) => StartsWith(f(l), f(r))
    case EndsWith(l, r) => EndsWith(f(l), f(r))
    case Contains(l, r) => Contains(f(l), f(r))
    case RegexMatch(l, r) => RegexMatch(f(l), f(r))
    case HasLabels(s, ls) => HasLabels(f(s), ls)
    case HasDynLabels(s, l) => HasDynLabels(f(s), f(l))
    case HasDynType(s, t, n) => HasDynType(f(s), f(t), n)
    case Arith(op, l, r) => Arith(op, f(l), f(r))
    case Neg(x) => Neg(f(x))
    case FuncCall(n, args, d) => FuncCall(n, args.map(f), d)
    case CaseExpr(s, alts, d) => CaseExpr(s.map(f),
      alts.map { case (c, v) => (f(c), f(v)) }, d.map(f))
    case Index(s, i) => Index(f(s), f(i))
    case Slice(s, a, b) => Slice(f(s), a.map(f), b.map(f))
    case ListComprehension(v, l, w, p) =>
      ListComprehension(v, f(l), w.map(f), p.map(f))
    case IterablePredicate(k, v, l, w) => IterablePredicate(k, v, f(l), f(w))
    case Reduce(a, i, v, l, s) => Reduce(a, f(i), v, f(l), f(s))
    case MapProjection(v, items) => MapProjection(v, items.map {
      case ProjExpr(k, ex) => ProjExpr(k, f(ex))
      case other => other
    })
    case leaf => leaf
  }

  def exists(e: Expr)(p: Expr => Boolean): Boolean = {
    var found = false
    transformUp(e) { x => if (p(x)) found = true; x }
    found
  }

  def containsPatternPredicate(e: Expr): Boolean =
    exists(e)(_.isInstanceOf[PatternPredicate])

  def containsPatternComp(e: Expr): Boolean =
    exists(e)(x => x.isInstanceOf[PatternComp] || x.isInstanceOf[QuerySub])

  // ------------------------------------------------------- liveness support

  /** Every variable name syntactically present in an expression, including
    * inside pattern predicates / comprehensions (whose patterns reference
    * outer vars by name) and comprehension binders. Shadowing names stay in
    * the set on purpose: callers use this to prove a var is NEVER observed,
    * so over-approximation is the safe direction. */
  def varRefs(e: Expr): Set[String] = e match {
    case Var(n) => Set(n)
    case MapProjection(v, items) => items.flatMap {
        case ProjExpr(_, ex) => varRefs(ex)
        case ProjVar(n) => Set(n)
        case _ => Set.empty[String]
      }.toSet + v
    case PatternPredicate(p, _, w) =>
      patternRefs(p) ++ w.toSeq.flatMap(varRefs)
    case PatternComp(p, w, proj) =>
      patternRefs(p) ++ w.toSeq.flatMap(varRefs) ++ varRefs(proj)
    case QuerySub(_, inner) =>
      // Over-approximate with everything the body references (clauseRefs
      // counts binding occurrences too) — safe for liveness, and exactly
      // what the planner imports at materialization.
      (inner.first +: inner.rest.map(_._2))
        .flatMap(_.clauses.flatMap(c => clauseRefs(c).getOrElse(Set.empty)))
        .toSet
    case other =>
      var acc = Set.empty[String]
      mapChildren(other, { c => acc ++= varRefs(c); c })
      acc
  }

  /** Every variable a pattern part names or reads (binders included). */
  def patternRefs(p: PatternPart): Set[String] = {
    val nodes = p.head +: p.tail.map(_._2)
    val rels = p.tail.map(_._1)
    nodes.flatMap(n => n.variable.toSeq ++ n.copyOf.toSeq ++
      n.props.flatMap { case (_, ex) => varRefs(ex) }).toSet ++
      rels.flatMap(r => r.variable.toSeq ++
        r.props.flatMap { case (_, ex) => varRefs(ex) }) ++
      p.pathVar
  }

  /** Variables a clause observes, for downstream-liveness analysis.
    * None = everything is observable (RETURN * / WITH *). Binding
    * occurrences count as references on purpose: a later MATCH re-using a
    * name joins on it, and a CONSTRUCT clone copies its properties. */
  def clauseRefs(c: Clause): Option[Set[String]] = c match {
    case Match(_, Pattern(parts), where) =>
      Some(parts.flatMap(patternRefs).toSet ++ where.toSeq.flatMap(varRefs))
    case Unwind(e, _) => Some(varRefs(e))
    case With(_, star, items, orderBy, skip, limit, where) =>
      if (star) None
      else Some((items.map(_.expr) ++ orderBy.map(_.expr) ++ skip ++ limit ++
        where).flatMap(varRefs).toSet)
    case Return(_, star, items, orderBy, skip, limit) =>
      if (star) None
      else Some((items.map(_.expr) ++ orderBy.map(_.expr) ++ skip ++
        limit).flatMap(varRefs).toSet)
    case CallProc(_, args, _, _) => Some(args.flatMap(varRefs).toSet)
    case Construct(_, news, sets, clones) =>
      Some(news.flatMap(patternRefs).toSet ++
        sets.flatMap(setItemRefs) ++
        clones.flatMap { case (a, b) => Seq(a, b) })
    case FromGraph(_) => Some(Set.empty)
    case Finish => Some(Set.empty)
    case ReturnGraph => Some(Set.empty)
    case LoadCsv(_, url, _, _) => Some(varRefs(url))
    // Write clauses observe every variable they touch.
    case Create(Pattern(parts)) => Some(parts.flatMap(patternRefs).toSet)
    case SetClause(items) => Some(items.flatMap(setItemRefs).toSet)
    case Remove(items) => Some(items.flatMap {
      case RemoveProp(v, _) => Set(v)
      case RemoveLabel(v, _) => Set(v)
      case RemoveDynProp(v, k) => varRefs(k) + v
      case RemoveDynLabel(v, es) => es.flatMap(varRefs).toSet + v
    }.toSet)
    case Delete(exprs, _) => Some(exprs.flatMap(varRefs).toSet)
    case Merge(part, onCreate, onMatch) =>
      Some(patternRefs(part) ++ (onCreate ++ onMatch).flatMap(setItemRefs))
    case CallSubquery(inner, _) =>
      // Over-approximate with everything the inner query references —
      // only its importing WITH actually reads outer scope.
      Some((inner.first +: inner.rest.map(_._2))
        .flatMap(_.clauses.flatMap(clauseRefs(_).getOrElse(Set.empty))).toSet)
  }

  private def setItemRefs(s: SetItem): Set[String] = s match {
    case SetProp(v, _, e) => varRefs(e) + v
    case SetLabel(v, _) => Set(v)
    case SetAllProps(v, m, _) => varRefs(m) + v
    case SetDynProp(v, k, e) => varRefs(k) ++ varRefs(e) + v
    case SetDynLabel(v, es) => es.flatMap(varRefs).toSet + v
  }

  /** Variables a MATCH clause itself observes beyond merely binding them:
    * its WHERE, inline property expressions, COPY OF sources, and — when a
    * part binds a path variable or is a shortestPath — every var of that
    * part (path functions read the component elements). */
  def matchObservedVars(m: Match): Set[String] = {
    val inPattern = m.pattern.parts.flatMap { part =>
      val nodes = part.head +: part.tail.map(_._2)
      val rels = part.tail.map(_._1)
      nodes.flatMap(n => n.copyOf.toSeq ++
        n.props.flatMap { case (_, ex) => varRefs(ex) }) ++
        rels.flatMap(_.props.flatMap { case (_, ex) => varRefs(ex) }) ++
        (if (part.pathVar.isDefined || part.shortest.isDefined)
          nodes.flatMap(_.variable) ++ rels.flatMap(_.variable)
        else Seq.empty)
    }.toSet
    inPattern ++ m.where.toSeq.flatMap(varRefs)
  }
}
