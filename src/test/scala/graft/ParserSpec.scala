package graft

import graft.ast._
import graft.parser.CypherParser
import org.scalatest.funsuite.AnyFunSuite

class ParserSpec extends AnyFunSuite {
  private def single(q: String): SingleQuery = CypherParser.parse(q).first

  test("match-return with labels, props, where") {
    val q = single("MATCH (a:Person {age: 30})-[r:KNOWS]->(b) " +
      "WHERE a.name = 'x' RETURN a.name AS n, b")
    val m = q.clauses.head.asInstanceOf[Match]
    val part = m.pattern.parts.head
    assert(part.head.labels === Seq("Person"))
    assert(part.head.props === Seq(("age", IntLit(30))))
    assert(part.tail.head._1.types === Seq("KNOWS"))
    assert(m.where.isDefined)
    val r = q.clauses.last.asInstanceOf[Return]
    assert(r.items.head.alias === Some("n"))
  }

  test("keyword-cased labels survive (Order, Count)") {
    val q = single("MATCH (o:Order)-[:IN]->(c:Count) RETURN o")
    val part = q.clauses.head.asInstanceOf[Match].pattern.parts.head
    assert(part.head.labels === Seq("Order"))
    assert(part.tail.head._2.labels === Seq("Count"))
  }

  test("var-length bounds") {
    def vl(q: String) = single(q).clauses.head.asInstanceOf[Match]
      .pattern.parts.head.tail.head._1.varLength
    assert(vl("MATCH (a)-[*]->(b) RETURN a") === Some((1, None)))
    assert(vl("MATCH (a)-[*2]->(b) RETURN a") === Some((2, Some(2))))
    assert(vl("MATCH (a)-[*1..3]->(b) RETURN a") === Some((1, Some(3))))
    assert(vl("MATCH (a)-[*0..]->(b) RETURN a") === Some((0, None)))
  }

  test("directions") {
    def dir(q: String) = single(q).clauses.head.asInstanceOf[Match]
      .pattern.parts.head.tail.head._1.direction
    assert(dir("MATCH (a)-->(b) RETURN a") === OUT)
    assert(dir("MATCH (a)<--(b) RETURN a") === INBOUND)
    assert(dir("MATCH (a)--(b) RETURN a") === BOTH)
    assert(dir("MATCH (a)<-[:T]-(b) RETURN a") === INBOUND)
  }

  test("operator precedence") {
    val q = single("RETURN 1 + 2 * 3 ^ 2 AS x")
    val e = q.clauses.head.asInstanceOf[Return].items.head.expr
    assert(e === Arith("+", IntLit(1),
      Arith("*", IntLit(2), Arith("^", IntLit(3), IntLit(2)))))
  }

  test("boolean structure and NOT binding") {
    val q = single("MATCH (a) WHERE NOT a.x = 1 AND a.y = 2 OR a.z = 3 RETURN a")
    val w = q.clauses.head.asInstanceOf[Match].where.get
    assert(w.isInstanceOf[Ors])
  }

  test("list comprehension, reduce, iterable predicates") {
    val q = single("RETURN [x IN [1,2,3] WHERE x > 1 | x * 2] AS a, " +
      "reduce(s = 0, x IN [1,2] | s + x) AS b, " +
      "any(x IN [1,2] WHERE x = 2) AS c")
    val items = q.clauses.head.asInstanceOf[Return].items
    assert(items(0).expr.isInstanceOf[ListComprehension])
    assert(items(1).expr.isInstanceOf[Reduce])
    assert(items(2).expr === IterablePredicate("any", "x",
      ListLit(Seq(IntLit(1), IntLit(2))), Cmp("=", Var("x"), IntLit(2))))
  }

  test("case expressions") {
    val q = single("RETURN CASE WHEN 1 = 1 THEN 'a' ELSE 'b' END AS x, " +
      "CASE 2 WHEN 1 THEN 'one' WHEN 2 THEN 'two' END AS y")
    val items = q.clauses.head.asInstanceOf[Return].items
    assert(items(0).expr.asInstanceOf[CaseExpr].subject.isEmpty)
    assert(items(1).expr.asInstanceOf[CaseExpr].subject === Some(IntLit(2)))
  }

  test("union all chain") {
    val q = CypherParser.parse(
      "RETURN 1 AS x UNION ALL RETURN 2 AS x UNION RETURN 3 AS x")
    assert(q.rest.map(_._1) === Seq(true, false))
  }

  test("string escapes and backtick identifiers") {
    val q = single("RETURN 'it\\'s' AS `weird name`")
    val item = q.clauses.head.asInstanceOf[Return].items.head
    assert(item.expr === StrLit("it's"))
    assert(item.alias === Some("weird name"))
  }

  test("count star vs count distinct") {
    val q = single("RETURN count(*) AS a, count(DISTINCT x) AS b")
    val items = q.clauses.head.asInstanceOf[Return].items
    assert(items(0).expr === CountStar)
    assert(items(1).expr === FuncCall("count", Seq(Var("x")), distinct = true))
  }

  test("pattern predicate in where vs parenthesized expr") {
    val q = single("MATCH (a) WHERE (a)-[:T]->(:B) AND (1 + 2) = 3 RETURN a")
    val w = q.clauses.head.asInstanceOf[Match].where.get.asInstanceOf[Ands]
    assert(w.exprs.head.isInstanceOf[PatternPredicate])
    assert(w.exprs(1) === Cmp("=", Arith("+", IntLit(1), IntLit(2)), IntLit(3)))
  }

  test("order by / skip / limit") {
    val q = single("MATCH (a) RETURN a.x AS x ORDER BY x DESC, a.y SKIP 5 LIMIT 10")
    val r = q.clauses.last.asInstanceOf[Return]
    assert(r.orderBy.map(_.ascending) === Seq(false, true))
    assert(r.skip === Some(IntLit(5)))
    assert(r.limit === Some(IntLit(10)))
  }

  test("parse errors are reported with position") {
    val e = intercept[CypherParser.CypherParseException] {
      CypherParser.parse("MATCH (a RETURN a")
    }
    assert(e.getMessage.contains("expected"))
  }

  test("mixing | and & in a rel type expression without parens is rejected") {
    val e = intercept[CypherParser.CypherParseException] {
      CypherParser.parse("MATCH (a)-[r:!T|S&U]->(b) RETURN r")
    }
    assert(e.getMessage.contains("parentheses"))
  }

  private def stmt(s: String): Statement = CypherParser.parseStatement(s)
  private def q(clauses: Clause*): Query = Query(SingleQuery(clauses), Seq.empty)

  test("every statement form parses to its AST node, bare and with a leading comment and a trailing ;") {
    val ret1 = CypherParser.parse("RETURN 1 AS x")
    val cases = Seq[(String, Statement)](
      "RETURN 1 AS x" -> ret1,
      "EXPLAIN RETURN 1 AS x" -> Explain(profile = false, ret1),
      "profile RETURN 1 AS x" -> Explain(profile = true, ret1),
      "EXPLAIN CATALOG DROP GRAPH g" ->
        Explain(profile = false, CatalogDrop(view = false, "g")),
      "CATALOG CREATE GRAPH g { RETURN GRAPH }" ->
        CatalogCreateGraph("g", q(ReturnGraph)),
      "CATALOG CREATE VIEW v($a, b) { FROM GRAPH $a CONSTRUCT ON $b RETURN GRAPH }" ->
        CatalogCreateView("v", Seq("a", "b"), q(FromGraph(GraphParam("a")),
          Construct(Seq(GraphParam("b")), Seq.empty, Seq.empty))),
      "CATALOG DROP GRAPH g" -> CatalogDrop(view = false, "g"),
      "catalog drop view `my view`" -> CatalogDrop(view = true, "my view"),
      "SHOW PROCEDURES" -> ShowProcedures,
      "SHOW FUNCTIONS" -> ShowFunctions,
      "SHOW USER DEFINED FUNCTIONS" -> ShowFunctions,
      "SHOW INDEXES" -> ShowIndexes,
      "SHOW RANGE INDEXES" -> ShowIndexes,
      "SHOW CONSTRAINTS" -> ShowConstraints,
      "SHOW ALL CONSTRAINTS" -> ShowConstraints,
      "CREATE INDEX ix IF NOT EXISTS FOR (n:N) ON (n.val)" -> IndexDdl,
      "CREATE FULLTEXT INDEX ft FOR (n:N) ON EACH [n.a, n.b]" -> IndexDdl,
      "DROP INDEX ix IF EXISTS" -> IndexDdl,
      "CREATE CONSTRAINT c FOR (n:N) REQUIRE n.val IS UNIQUE" ->
        CreateConstraint,
      "DROP CONSTRAINT c IF EXISTS" -> DropConstraint(ifExists = true),
      "DROP CONSTRAINT c" -> DropConstraint(ifExists = false))
    for ((text, expected) <- cases; form <- Seq(text, s"// lead\n$text;",
        s"/* lead */ $text ;")) {
      assert(stmt(form) === expected, form)
    }
  }

  test("statement words still parse as variable, label and property names") {
    for (w <- Seq("show", "profile", "explain", "index", "catalog", "view",
        "constraint")) {
      val m = stmt(s"MATCH ($w:$w {$w: 1}) RETURN $w.$w AS $w")
        .asInstanceOf[Query].first.clauses.head.asInstanceOf[Match]
      val node = m.pattern.parts.head.head
      assert((node.variable, node.labels, node.props) ===
        ((Some(w), Seq(w), Seq((w, IntLit(1))))), w)
    }
    // CREATE followed by a path variable named like a DDL word is a query
    for (w <- Seq("index", "constraint"))
      assert(stmt(s"CREATE $w = (a)-[:R]->(b)").isInstanceOf[Query], w)
  }

  test("graph references parse to a tree; $params only inside a view body") {
    assert(single("FROM GRAPH inc(inc(session.`a b`), g) MATCH (n) RETURN n")
      .clauses.head === FromGraph(ViewCall("inc", Seq(
        ViewCall("inc", Seq(GraphName(Seq("session", "a b")))),
        GraphName(Seq("g"))))))
    intercept[CypherParser.CypherParseException] {
      CypherParser.parse("FROM GRAPH $g MATCH (n) RETURN n")
    }
    intercept[CypherParser.CypherParseException] {
      stmt("CATALOG CREATE VIEW v($a) { FROM GRAPH $b RETURN GRAPH }")
    }
  }
}
