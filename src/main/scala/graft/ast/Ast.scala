package graft.ast

/** Abstract syntax tree for the supported openCypher subset.
  *
  * Shapes mirror the reference's expression inventory
  * (okapi-ir/src/main/scala/org/opencypher/okapi/ir/api/expr/Expr.scala)
  * and block structure (okapi-ir/.../api/block/), collapsed into a single
  * AST that the planner compiles directly to DataFrame operations.
  */
sealed trait Expr

// --- atoms -----------------------------------------------------------------
case class Var(name: String) extends Expr
case class Param(name: String) extends Expr
case class Prop(subject: Expr, key: String) extends Expr
case class IntLit(v: Long) extends Expr
case class FloatLit(v: Double) extends Expr
case class StrLit(v: String) extends Expr
case class BoolLit(v: Boolean) extends Expr
case object NullLit extends Expr
case class ListLit(items: Seq[Expr]) extends Expr
case class MapLit(items: Seq[(String, Expr)]) extends Expr

// --- boolean ---------------------------------------------------------------
case class Ands(exprs: Seq[Expr]) extends Expr
case class Ors(exprs: Seq[Expr]) extends Expr
case class Xor(lhs: Expr, rhs: Expr) extends Expr
case class Not(expr: Expr) extends Expr
/** op one of = <> < <= > >= */
case class Cmp(op: String, lhs: Expr, rhs: Expr) extends Expr
case class IsNull(expr: Expr, negated: Boolean) extends Expr

/** Cypher 5 type predicate `x IS [NOT] :: SPEC` (also bare `x :: SPEC`).
  * `name` is the uppercased type name ("INTEGER", "LIST", "ANY", ...),
  * `elem` the LIST element spec, `notNull` the NOT NULL suffix. */
case class CypherTypeSpec(name: String, elem: Option[CypherTypeSpec],
    notNull: Boolean)
case class IsTyped(expr: Expr, spec: CypherTypeSpec,
    negated: Boolean) extends Expr

/** Cypher 5 `x IS [NOT] [NFC|NFD|NFKC|NFKD] NORMALIZED` (default NFC).
  * Null for non-string subjects per Neo4j, where `normalize()` on a
  * non-string instead raises. */
case class IsNormalized(expr: Expr, form: String, negated: Boolean)
    extends Expr
case class In(lhs: Expr, rhs: Expr) extends Expr
case class StartsWith(lhs: Expr, rhs: Expr) extends Expr
case class EndsWith(lhs: Expr, rhs: Expr) extends Expr
case class Contains(lhs: Expr, rhs: Expr) extends Expr
case class RegexMatch(lhs: Expr, rhs: Expr) extends Expr
/** `n:Person:Swedish` label predicate in expression position. */
case class HasLabels(subject: Expr, labels: Seq[String]) extends Expr
/** Dynamic label predicate `n:$(expr)` (Neo4j 5.26/2025): expr evaluates
  * to a STRING (one label) or LIST<STRING> (conjunction). A null value
  * matches nothing; an empty list is a vacuous constraint (any node). */
case class HasDynLabels(subject: Expr, labels: Expr) extends Expr
/** Dynamic relationship-type predicate `-[r:$(expr)]->` (Neo4j 5.26/2025):
  * a STRING is one required type; a LIST<STRING> matches any of the listed
  * types (a relationship carries exactly one type, so a list is a union).
  * A null value matches nothing. negated = the `!$(expr)` form. */
case class HasDynType(subject: Expr, typeExpr: Expr, negated: Boolean)
    extends Expr

// --- arithmetic ------------------------------------------------------------
/** op one of + - * / % ^ */
case class Arith(op: String, lhs: Expr, rhs: Expr) extends Expr
case class Neg(expr: Expr) extends Expr

// --- calls & control -------------------------------------------------------
case class FuncCall(name: String, args: Seq[Expr], distinct: Boolean) extends Expr
case object CountStar extends Expr
/** Full-query subquery expression (Cypher 5): EXISTS { <query> },
  * COUNT { <query> }, COLLECT { <query> } with complete bodies (WITH,
  * RETURN, UNION, SKIP/LIMIT). kind is "exists" | "count" | "collect".
  * The simple pattern forms keep their dedicated nodes
  * (PatternPredicate / PatternComp); this one is planned through the
  * correlated CALL { } machinery. */
case class QuerySub(kind: String, inner: Query) extends Expr
case class CaseExpr(subject: Option[Expr], alternatives: Seq[(Expr, Expr)],
    default: Option[Expr]) extends Expr
/** list[idx] or map[key] */
case class Index(subject: Expr, idx: Expr) extends Expr
/** list[from..to] */
case class Slice(subject: Expr, from: Option[Expr], to: Option[Expr]) extends Expr
/** [x IN list WHERE pred | proj] */
case class ListComprehension(variable: String, list: Expr, where: Option[Expr],
    projection: Option[Expr]) extends Expr
/** any/all/none/single(x IN list WHERE pred) */
case class IterablePredicate(kind: String, variable: String, list: Expr,
    where: Expr) extends Expr
/** reduce(acc = init, x IN list | expr) */
case class Reduce(acc: String, init: Expr, variable: String, list: Expr,
    step: Expr) extends Expr
/** EXISTS { (a)-[:T]->(b) } / bare pattern predicate in WHERE. */
case class PatternPredicate(pattern: PatternPart, negated: Boolean,
    where: Option[Expr] = None) extends Expr
/** `[ (a)-->(b) WHERE pred | proj ]` — a correlated subquery producing a
  * list per outer row. */
case class PatternComp(pattern: PatternPart, where: Option[Expr],
    proj: Expr) extends Expr

/** Map projection `n {.name, .*, extra: expr, other}` (Expr.scala :518). */
sealed trait MapProjItem
case class ProjProp(key: String) extends MapProjItem
case class ProjExpr(key: String, expr: Expr) extends MapProjItem
case object ProjAll extends MapProjItem
case class ProjVar(name: String) extends MapProjItem
case class MapProjection(variable: String, items: Seq[MapProjItem]) extends Expr

// --- patterns --------------------------------------------------------------
sealed trait Direction
case object OUT extends Direction
case object INBOUND extends Direction
case object BOTH extends Direction

case class NodePattern(variable: Option[String], labels: Seq[String],
    props: Seq[(String, Expr)], copyOf: Option[String] = None,
    // Cypher 5 label EXPRESSION (:A|B, :!A, :(A|B)&!C). Pure conjunctions
    // stay in `labels` (the schema-planning fast path); anything with
    // | or ! compiles through this tree instead.
    labelExpr: Option[LabelExpr] = None)

sealed trait LabelExpr
case class LabelAtom(name: String) extends LabelExpr
/** `%` — any label (Cypher 5): at least one label present. */
case object LabelWildcard extends LabelExpr
case class LabelAnd(l: LabelExpr, r: LabelExpr) extends LabelExpr
case class LabelOr(l: LabelExpr, r: LabelExpr) extends LabelExpr
case class LabelNot(e: LabelExpr) extends LabelExpr
/** `:$(expr)` inside a MATCH node pattern — resolved at runtime, so the
  * closed-world scan pruning treats it optimistically and a row filter
  * (HasDynLabels) applies the real constraint. */
case class LabelDynamic(expr: Expr) extends LabelExpr
case class RelPattern(variable: Option[String], types: Seq[String],
    props: Seq[(String, Expr)], direction: Direction,
    varLength: Option[(Int, Option[Int])],
    // [r:!T1|T2]: traverse any type EXCEPT the listed ones (resolved to
    // the closed-world complement at planning).
    typesNegated: Boolean = false,
    // [r:$(expr)] dynamic type (Neo4j 5.26/2025): runtime row filter over
    // the any-type scan; (negated, expr).
    dynType: Option[(Boolean, Expr)] = None,
    // GQL-style quantified path pattern: ((x)-[r:T]->(y) WHERE pred){m,n}.
    // The group plans as a var-length expand over the RESTRICTED edge set
    // the inner pattern + WHERE define; varLength carries the quantifier.
    qpp: Option[QppSpec] = None)

object RelPattern {
  /** Sentinel "matches no relationship" type: produced when a type
    * expression is unsatisfiable (A&B — a relationship carries exactly one
    * type — or A&!A) or when a closed-world complement comes out empty.
    * No relationship table can carry it, so scans yield zero rows. */
  val NoneType: String = "\u0000<no-type>"
}

/** Inner shape of a quantified path pattern group: one relationship
  * pattern between two node patterns plus an optional per-repetition
  * WHERE (scoped to that repetition's bindings only). `alts` carries the
  * further branches of a pattern UNION inside the group
  * (`((x)-[:A]->(y) | (x)<-[:B]-(y))*`, GQL/Cypher-2025): each repetition
  * may take ANY branch, so the step relation is the union of the branch
  * step relations; every branch must bind the same variable names. */
case class QppSpec(src: NodePattern, rel: RelPattern, dst: NodePattern,
    where: Option[Expr], alts: Seq[QppSpec] = Seq.empty)

/** GQL / Cypher-5 path selector, normalized at parse time. Mode is one of
  *   "shortest"       — one arbitrary-but-deterministic minimal path per
  *                      endpoint pair (shortestPath(), ANY SHORTEST, ANY,
  *                      SHORTEST 1, ANY 1)
  *   "allshortest"    — every minimal-length path (allShortestPaths(),
  *                      ALL SHORTEST, SHORTEST 1 GROUPS)
  *   "shortestk"      — the k shortest distinct paths, ties broken by
  *                      rel-id order (SHORTEST k, ANY k), k >= 2
  *   "shortestgroups" — every path in the k shortest length-groups
  *                      (SHORTEST k GROUPS), k >= 2
  * `ALL` parses to no selector at all. */
case class PathSelector(mode: String, k: Int = 1)
case class PatternPart(head: NodePattern, tail: Seq[(RelPattern, NodePattern)],
    pathVar: Option[String] = None,
    shortest: Option[PathSelector] = None)
case class Pattern(parts: Seq[PatternPart])

// --- clauses ---------------------------------------------------------------
sealed trait Clause
case class Match(optional: Boolean, pattern: Pattern, where: Option[Expr])
    extends Clause
case class Unwind(expr: Expr, alias: String) extends Clause
/** LOAD CSV [WITH HEADERS] FROM url AS var [FIELDTERMINATOR sep]:
  * one row per CSV record — a map (struct of the header's static keys)
  * with headers, a LIST<STRING> without. */
case class LoadCsv(withHeaders: Boolean, url: Expr, alias: String,
    fieldTerminator: Option[String]) extends Clause
case class ReturnItem(expr: Expr, alias: Option[String])
case class SortItem(expr: Expr, ascending: Boolean)
case class With(distinct: Boolean, star: Boolean, items: Seq[ReturnItem],
    orderBy: Seq[SortItem], skip: Option[Expr], limit: Option[Expr],
    where: Option[Expr]) extends Clause
case class Return(distinct: Boolean, star: Boolean, items: Seq[ReturnItem],
    orderBy: Seq[SortItem], skip: Option[Expr], limit: Option[Expr])
    extends Clause
/** Graph reference in FROM GRAPH / USE / CONSTRUCT ON: a possibly
  * qualified name (`ns.graph`, backticks already removed), a view
  * invocation whose arguments are references themselves (`inc(inc(a))`),
  * or a view parameter `$p` (parsed only inside a CATALOG CREATE VIEW
  * body). The session resolves it; nothing re-parses it as text. */
sealed trait GraphRef
case class GraphName(parts: Seq[String]) extends GraphRef
case class ViewCall(name: String, args: Seq[GraphRef]) extends GraphRef
case class GraphParam(name: String) extends GraphRef

/** FROM GRAPH <ref> / USE <ref>: switch the ambient graph (plan-time,
  * reference FromCatalogGraph / SwitchContext). */
case class FromGraph(ref: GraphRef) extends Clause
/** CALL proc(args) [YIELD cols]: table procedure invocation (beyond-parity;
  * the reference has no procedure surface). */
case class CallProc(name: String, args: Seq[Expr],
    yields: Seq[String], optional: Boolean = false) extends Clause
/** CALL { [WITH imports] ... [RETURN ...] }: a subquery executed once per
  * driving row (correlated via the importing WITH) or once in total
  * (uncorrelated). A body without RETURN is a unit (updating) subquery;
  * FOREACH (x IN list | updates) parses to the unit body
  * `CALL (*) { UNWIND list AS x updates }`. Beyond-parity — the reference
  * has no subquery clause. */
case class CallSubquery(inner: Query,
    optional: Boolean = false) extends Clause

/** SET item inside CONSTRUCT or a SET write clause: property assignment,
  * label addition, or whole-map assignment (`n = {..}` / `n += {..}`). */
sealed trait SetItem
case class SetProp(variable: String, key: String, value: Expr) extends SetItem
case class SetLabel(variable: String, labels: Seq[String]) extends SetItem
case class SetAllProps(variable: String, map: Expr, additive: Boolean)
    extends SetItem
/** Dynamic forms (Neo4j 5.24): `SET n[keyExpr] = v` / `SET n:$(expr)`.
  * The planner resolves the key/label expressions to constants (string
  * literals or parameters — the columnar schema is fixed at plan time)
  * and rewrites to SetProp/SetLabel; non-constant expressions are a
  * classified error. */
case class SetDynProp(variable: String, key: Expr, value: Expr) extends SetItem
case class SetDynLabel(variable: String, labelExprs: Seq[Expr]) extends SetItem

// ---------------------------------------------------------- write clauses
// Beyond-reference surface: the reference engine is read-only (CONSTRUCT
// builds new graphs but never mutates one). graft's writes produce a NEW
// immutable PropertyGraph — `GraftSession.update` returns it.

/** CREATE pattern: one new element per driving row per unbound var. */
case class Create(pattern: Pattern) extends Clause
/** SET at query level (properties / labels / whole maps). */
case class SetClause(items: Seq[SetItem]) extends Clause
sealed trait RemoveItem
case class RemoveProp(variable: String, key: String) extends RemoveItem
case class RemoveLabel(variable: String, labels: Seq[String])
    extends RemoveItem
/** Dynamic forms: `REMOVE n[keyExpr]` / `REMOVE n:$(expr)` — same
  * compile-time resolution rule as [[SetDynProp]]/[[SetDynLabel]]. */
case class RemoveDynProp(variable: String, key: Expr) extends RemoveItem
case class RemoveDynLabel(variable: String, labelExprs: Seq[Expr])
    extends RemoveItem
case class Remove(items: Seq[RemoveItem]) extends Clause
/** DELETE / DETACH DELETE of bound node or relationship variables. */
case class Delete(exprs: Seq[Expr], detach: Boolean) extends Clause
/** MERGE pattern [ON CREATE SET ...] [ON MATCH SET ...]. */
case class Merge(part: PatternPart, onCreate: Seq[SetItem],
    onMatch: Seq[SetItem]) extends Clause

/** CONSTRUCT [ON graph*] [NEW pattern]* [SET ...]* [RETURN GRAPH]: build a
  * new graph from the current driving table (reference
  * ConstructGraphPlanner, SURVEY §2.6). Bound node vars are cloned; unbound
  * ones are created per row; ON merges catalog graphs into the result. */
case class Construct(on: Seq[GraphRef], news: Seq[PatternPart],
    sets: Seq[SetItem], clones: Seq[(String, String)] = Seq.empty)
    extends Clause

/** Neo4j 5.19 FINISH: execute (for side effects) and return no rows. */
case object Finish extends Clause

/** Bare `RETURN GRAPH` (reference: RelationalOperator ReturnGraph —
  * okapi-relational/.../operators/RelationalOperator.scala): the query
  * returns its WORKING graph (after FROM GRAPH switches and writes)
  * rather than a table; the tabular result is zero rows. CONSTRUCT's own
  * RETURN GRAPH tail stays part of the Construct clause. */
case object ReturnGraph extends Clause
case class SingleQuery(clauses: Seq[Clause])
/** rest entries are (unionAll, query). */
case class Query(first: SingleQuery, rest: Seq[(Boolean, SingleQuery)])
    extends Statement

// --- statements --------------------------------------------------------------
/** Everything `CypherParser.parseStatement` accepts: a query, or one of the
  * session-level statements, which have no Spark plan. */
sealed trait Statement extends Product
/** EXPLAIN / PROFILE <statement>: plan, never run. */
case class Explain(profile: Boolean, inner: Statement) extends Statement
/** CATALOG CREATE GRAPH name { query }: store the query's result graph. */
case class CatalogCreateGraph(name: String, body: Query) extends Statement
/** CATALOG CREATE VIEW name($p, ...) { query }: a parameterized graph
  * view; `$p` graph references in the body bind at each invocation. */
case class CatalogCreateView(name: String, params: Seq[String], body: Query)
    extends Statement
case class CatalogDrop(view: Boolean, name: String) extends Statement
case object ShowProcedures extends Statement
/** SHOW [USER DEFINED] FUNCTIONS. */
case object ShowFunctions extends Statement
/** SHOW [ALL|TEXT|POINT|RANGE|LOOKUP|FULLTEXT|VECTOR] INDEXES. */
case object ShowIndexes extends Statement
/** SHOW [ALL] CONSTRAINTS. */
case object ShowConstraints extends Statement
/** CREATE [kind] INDEX ... / DROP INDEX ...: the body is not retained —
  * indexes are performance-only, so the statement is a no-op. */
case object IndexDdl extends Statement
/** CREATE CONSTRAINT ...: refused (enforcement cannot be faked). */
case object CreateConstraint extends Statement
/** DROP CONSTRAINT name [IF EXISTS]. */
case class DropConstraint(ifExists: Boolean) extends Statement
