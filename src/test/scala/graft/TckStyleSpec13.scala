package graft

import graft.api.CypherError._

/** TCK-style conformance, part 13 — FOREACH, write-clause breadth (labels
  * on rels, unbound targets, WITH-carried writes), and residual read
  * breadth: string/list function edges, aggregate edge cases, CASE and
  * DISTINCT corners (see TckStyleSpec for why these are hand-authored). */
class TckStyleSpec13 extends TckScenarioBase {
  import TckFixtures._

  def g = graph(spark,
    Seq(
      N(1, Set("A"), Map("name" -> "a", "num" -> 1)),
      N(2, Set("B"), Map("name" -> "b", "num" -> 2)),
      N(3, Set("C"), Map("name" -> "c"))),
    Seq(
      R(10, 1, 2, "KNOWS", Map("since" -> 2010)),
      R(11, 1, 3, "LIKES")))

  // ------------------------------------------------------------ FOREACH
  scenario("FOREACH leaves the driving row count unchanged", g,
    "MATCH (n) FOREACH (i IN [1, 2, 3] | SET n.t = i) RETURN count(*) AS x",
    value(3L))
  scenario("FOREACH body sees the driving row's bindings", g,
    "MATCH (n:A) FOREACH (i IN [1] | SET n.copy = n.num) RETURN n.copy AS x",
    value(1L))
  scenario("FOREACH over empty list returns the row untouched", g,
    "MATCH (n:A) FOREACH (i IN [] | SET n.z = 1) RETURN n.z AS x",
    value(null))
  errorScenario("FOREACH with a reading clause in the body", g,
    "FOREACH (i IN [1] | MATCH (n) SET n.x = 1) RETURN 1 AS x",
    SyntaxError, InvalidSyntax)
  errorScenario("FOREACH without update clauses", g,
    "FOREACH (i IN [1] | ) RETURN 1 AS x",
    SyntaxError, InvalidSyntax)

  // ----------------------------------------------------- write breadth
  scenario("SET carried through WITH", g,
    "MATCH (n:A) WITH n AS m SET m.via = 'with' RETURN m.via AS x",
    value("with"))
  scenario("DELETE a rel bound before WITH", g,
    "MATCH (a:A)-[r:LIKES]->() WITH r, a DELETE r RETURN a.name AS x",
    value("a"))
  scenario("CREATE uses a WITH-projected value", g,
    "MATCH (n:B) WITH n.num * 10 AS v CREATE (m:V {v: v}) RETURN m.v AS x",
    value(20L))
  scenario("MERGE with multiple labels", g,
    "MERGE (n:X:Y {k: 1}) RETURN labels(n) AS x",
    value(Seq("X", "Y")))
  scenario("MERGE multi-label matches only full label coverage", g,
    "MERGE (n:A:Extra {name: 'a'}) RETURN size(labels(n)) AS x",
    value(2L)) // :A alone does not cover :A:Extra -> creates
  scenario("REMOVE a missing property is a no-op", g,
    "MATCH (n:C) REMOVE n.ghost RETURN n.name AS x", value("c"))
  scenario("SET two items in one clause", g,
    "MATCH (n:A) SET n.p1 = 1, n.p2 = 2 RETURN n.p1 + n.p2 AS x",
    value(3L))
  scenario("chained SET clauses observe each other", g,
    "MATCH (n:A) SET n.acc = 1 SET n.acc = n.acc + 1 RETURN n.acc AS x",
    value(2L))
  errorScenario("SET a label on a relationship", g,
    "MATCH ()-[r:KNOWS]->() SET r:Heavy RETURN 1 AS x",
    TypeError, InvalidArgumentType)
  errorScenario("SET on an undefined variable", g,
    "MATCH (n:A) SET ghost.p = 1 RETURN 1 AS x",
    SyntaxError, UndefinedVariable)
  errorScenario("DELETE a value variable", g,
    "WITH 1 AS v DELETE v RETURN 1 AS x",
    TypeError, InvalidArgumentType)
  scenario("unbound-endpoint MERGE with a row-dependent property", g,
    "MATCH (n) WHERE n.num IS NOT NULL " +
      "MERGE (a:NewA {p: n.num})-[r:T]->(b:NewB) " +
      "WITH n MERGE (a:NewA {p: n.num})-[r:T]->(b:NewB) " +
      "WITH count(*) AS c MATCH (a:NewA)-[:T]->(:NewB) RETURN a.p AS x",
    rows(Map("x" -> 1L), Map("x" -> 2L)))

  // -------------------------------------------------- string functions
  scenario("split on a multi-char delimiter", g,
    "RETURN split('a::b::c', '::') AS x", value(Seq("a", "b", "c")))
  scenario("split with no occurrence returns whole string", g,
    "RETURN split('abc', ',') AS x", value(Seq("abc")))
  scenario("replace all occurrences", g,
    "RETURN replace('aXbXc', 'X', '-') AS x", value("a-b-c"))
  scenario("replace with empty search is identity", g,
    "RETURN replace('abc', 'zz', '-') AS x", value("abc"))
  scenario("substring beyond the end is empty", g,
    "RETURN substring('abc', 10) AS x", value(""))
  scenario("left and right of a short string clamp", g,
    "RETURN left('ab', 5) AS l, right('ab', 5) AS r",
    rows(Map("l" -> "ab", "r" -> "ab")))
  scenario("toUpper of null is null", g,
    "RETURN toUpper(null) AS x", value(null))
  scenario("reverse of a string", g,
    "RETURN reverse('abc') AS x", value("cba"))
  scenario("string concatenation with +", g,
    "RETURN 'a' + 'b' + 'c' AS x", value("abc"))
  scenario("toString of a boolean", g,
    "RETURN toString(true) AS x", value("true"))

  // ---------------------------------------------------- list functions
  scenario("head of an empty list is null", g,
    "RETURN head([]) AS x", value(null))
  scenario("last of an empty list is null", g,
    "RETURN last([]) AS x", value(null))
  scenario("tail of an empty list is empty", g,
    "RETURN size(tail([])) AS x", value(0L))
  scenario("tail drops the first element", g,
    "RETURN tail([1, 2, 3]) AS x", value(Seq(2L, 3L)))
  scenario("reverse of a list", g,
    "RETURN reverse([1, 2, 3]) AS x", value(Seq(3L, 2L, 1L)))
  scenario("size of a nested list counts top level", g,
    "RETURN size([[1, 2], [3]]) AS x", value(2L))
  scenario("range with a step", g,
    "RETURN range(1, 10, 3) AS x", value(Seq(1L, 4L, 7L, 10L)))
  scenario("range with negative step descends", g,
    "RETURN range(5, 1, -2) AS x", value(Seq(5L, 3L, 1L)))
  scenario("list concatenation with +", g,
    "RETURN [1] + [2, 3] AS x", value(Seq(1L, 2L, 3L)))
  scenario("element appended to a list with +", g,
    "RETURN [1, 2] + 3 AS x", value(Seq(1L, 2L, 3L)))
  scenario("UNWIND of a nested list yields inner lists", g,
    "UNWIND [[1], [2, 3]] AS l RETURN size(l) AS x",
    rows(Map("x" -> 1L), Map("x" -> 2L)))
  scenario("IN over a list of lists", g,
    "RETURN [1, 2] IN [[1, 2], [3]] AS x", value(true))

  // ------------------------------------------------- aggregate corners
  scenario("collect DISTINCT removes duplicates", g,
    "UNWIND [1, 1, 2] AS i RETURN size(collect(DISTINCT i)) AS x",
    value(2L))
  scenario("collect keeps duplicates by default", g,
    "UNWIND [1, 1, 2] AS i RETURN size(collect(i)) AS x", value(3L))
  scenario("collect skips nulls", g,
    "UNWIND [1, null, 2] AS i RETURN size(collect(i)) AS x", value(2L))
  scenario("count of nulls is zero", g,
    "UNWIND [null, null] AS i RETURN count(i) AS x", value(0L))
  scenario("count(*) counts null rows", g,
    "UNWIND [null, null] AS i RETURN count(*) AS x", value(2L))
  scenario("sum over no rows is zero", g,
    "MATCH (n:Nope) RETURN sum(n.num) AS x", value(0L))
  scenario("min over no rows is null", g,
    "MATCH (n:Nope) RETURN min(n.num) AS x", value(null))
  scenario("avg ignores nulls", g,
    "UNWIND [2, null, 4] AS i RETURN avg(i) AS x", value(3.0))
  scenario("min of strings is lexicographic", g,
    "UNWIND ['pear', 'apple'] AS s RETURN min(s) AS x", value("apple"))
  scenario("count DISTINCT across grouped rows", g,
    "MATCH (n) RETURN count(DISTINCT size(labels(n))) AS x", value(1L))

  // --------------------------------------------------- CASE / DISTINCT
  scenario("CASE with no default yields null", g,
    "RETURN CASE 5 WHEN 1 THEN 'one' END AS x", value(null))
  scenario("simple CASE cannot match null (null = null is null)", g,
    "RETURN CASE null WHEN null THEN 'n' ELSE 'other' END AS x",
    value("other")) // the documented simple-CASE gotcha; use searched CASE
  scenario("searched CASE evaluates in order", g,
    "RETURN CASE WHEN 1 = 1 THEN 'first' WHEN true THEN 'second' END AS x",
    value("first"))
  scenario("DISTINCT keeps one null row", g,
    "UNWIND [null, null] AS i RETURN DISTINCT i AS x", value(null))
  scenario("DISTINCT over pairs", g,
    "UNWIND [1, 1, 2] AS a UNWIND [1] AS b " +
      "RETURN DISTINCT a AS x, b AS y",
    rows(Map("x" -> 1L, "y" -> 1L), Map("x" -> 2L, "y" -> 1L)))
  scenario("coalesce returns the first non-null", g,
    "RETURN coalesce(null, null, 3, 4) AS x", value(3L))
  scenario("ORDER BY a computed alias", g,
    "UNWIND [3, 1, 2] AS i WITH i * 10 AS v ORDER BY v DESC " +
      "RETURN collect(v) AS x",
    value(Seq(30L, 20L, 10L)))
  scenario("WITH DISTINCT collapses before aggregation", g,
    "UNWIND [1, 1, 2] AS i WITH DISTINCT i RETURN count(*) AS x",
    value(2L))
  scenario("IS NULL on a missing property", g,
    "MATCH (n:C) RETURN n.num IS NULL AS x", value(true))
  scenario("IS NOT NULL filters", g,
    "MATCH (n) WHERE n.num IS NOT NULL RETURN count(*) AS x", value(2L))

  // ------------------------------------------------ residual round-out
  scenario("WITH * carries every binding", g,
    "MATCH (n:A) WITH * RETURN n.name AS x", value("a"))
  scenario("SKIP and LIMIT combine after ORDER BY", g,
    "UNWIND [5, 3, 1, 4, 2] AS i RETURN i AS x ORDER BY i SKIP 1 LIMIT 2",
    rows(Map("x" -> 2L), Map("x" -> 3L)), ordered = true)
  scenario("STARTS WITH empty string is true", g,
    "RETURN 'abc' STARTS WITH '' AS x", value(true))
  scenario("CONTAINS null is null", g,
    "RETURN ('abc' CONTAINS null) IS NULL AS x", value(true))
  scenario("slice with negative from counts from the end", g,
    "RETURN [1, 2, 3, 4][-2..] AS x", value(Seq(3L, 4L)))
  scenario("slice beyond bounds clamps", g,
    "RETURN [1, 2][0..10] AS x", value(Seq(1L, 2L)))
  scenario("abs and sign of negatives", g,
    "RETURN abs(-3) AS a, sign(-3) AS s", rows(Map("a" -> 3L, "s" -> -1L)))
  scenario("percentileCont of a single value is that value", g,
    "UNWIND [42.0] AS v RETURN percentileCont(v, 0.5) AS x", value(42.0))
  scenario("type() across multiple rel types", g,
    "MATCH (:A)-[r]->() RETURN type(r) AS x",
    rows(Map("x" -> "KNOWS"), Map("x" -> "LIKES")))
  scenario("exists() on a relationship property", g,
    "MATCH ()-[r:KNOWS]->() RETURN exists(r.since) AS x", value(true))
  scenario("labels() after removing the only extra label", g,
    "MATCH (n:C) SET n:Tmp REMOVE n:Tmp RETURN labels(n) AS x",
    value(Seq("C")))
  scenario("nested map literal field access", g,
    "RETURN {outer: {inner: 7}}['outer']['inner'] AS x", value(7L))
  scenario("UNWIND then aggregate by parity", g,
    "UNWIND range(1, 10) AS i RETURN i % 2 AS k, count(*) AS n",
    rows(Map("k" -> 1L, "n" -> 5L), Map("k" -> 0L, "n" -> 5L)))
}
