package graft

import graft.api.CypherError._

/** TCK-style conformance, part 18 — relationship MERGE with unbound
  * endpoints (round-6 gap closed): openCypher all-or-nothing semantics —
  * the WHOLE pattern is matched; rows without a full match create the
  * entire pattern (fresh nodes for unbound endpoints even when a node
  * alone would have matched), one instance per distinct key of bound
  * endpoint ids + property values, which may depend on the driving row
  * (also inside FOREACH bodies). Mirrors the TCK Merge feature
  * scenarios the reference blacklists wholesale (read-only engine). */
class TckStyleSpec18 extends TckScenarioBase {
  import TckFixtures._

  def g = graph(spark,
    Seq(
      N(1, Set("A"), Map("name" -> "a", "num" -> 1)),
      N(2, Set("B"), Map("name" -> "b", "num" -> 2)),
      N(3, Set("C"), Map("name" -> "c"))),
    Seq(
      R(10, 1, 2, "KNOWS", Map("since" -> 2010)),
      R(11, 1, 3, "LIKES")))

  // ------------------------------------------- both endpoints unbound
  scenario("MERGE creates the whole pattern when nothing matches", g,
    "MERGE (x:X {k: 1})-[r:T {w: 2}]->(y:Y) RETURN x.k AS x", value(1L))
  scenario("created relationship carries its literal properties", g,
    "MERGE (x:X)-[r:T {w: 2}]->(y:Y) RETURN r.w AS x", value(2L))
  scenario("created relationship has the pattern's type", g,
    "MERGE (x:X)-[r:T5]->(y:Y) RETURN type(r) AS x", value("T5"))
  scenario("created endpoint carries the pattern's labels", g,
    "MERGE (x:X)-[:T]->(y:Y) RETURN labels(y) AS x", value(Seq("Y")))
  scenario("multi-label unbound endpoint is visible under every label", g,
    "MERGE (x:X:Z {k: 5})-[:T4]->(y:Y) WITH x MATCH (m:Z {k: 5}) " +
      "RETURN m.k AS x", value(5L))
  scenario("whole-pattern match reuses existing elements", g,
    "MERGE (a:A {name: 'a'})-[r:KNOWS {since: 2010}]->(b:B {name: 'b'}) " +
      "RETURN r.since AS x", value(2010L))
  scenario("whole-pattern match creates no nodes", g,
    "MERGE (a:A {name: 'a'})-[r:KNOWS {since: 2010}]->(b:B {name: 'b'}) " +
      "WITH count(*) AS c MATCH (n) RETURN count(n) AS x", value(3L))
  scenario("all-or-nothing: a non-matching rel key recreates both endpoints", g,
    "MERGE (a:A {name: 'a'})-[r:KNOWS {since: 1999}]->(b:B {name: 'b'}) " +
      "WITH count(*) AS c MATCH (n) RETURN count(n) AS x", value(5L))
  scenario("created nodes are visible to a later MATCH", g,
    "MERGE (x:X {k: 1})-[:T]->(y:Y {k: 2}) WITH x MATCH (m:Y) " +
      "RETURN m.k AS x", value(2L))
  scenario("unlabeled unbound endpoints create bare nodes", g,
    "MERGE (x)-[r:T2 {w: 9}]->(y) RETURN r.w AS x", value(9L))
  scenario("identical literal keys across driving rows create once", g,
    "UNWIND [1, 2] AS i MERGE (x:K {k: 1})-[:T8]->(y:KK) " +
      "WITH count(*) AS c MATCH (m:K) RETURN count(m) AS x", value(1L))
  scenario("a second MERGE in the same query matches the first's writes", g,
    "MERGE (x:X {k: 1})-[:T]->(y:Y {k: 2}) " +
      "MERGE (x2:X {k: 1})-[:T]->(y2:Y {k: 2}) " +
      "WITH count(*) AS c MATCH (m:X) RETURN count(m) AS x", value(1L))
  scenario("MERGE of a node then a rel from it binds both", g,
    "MERGE (p:PP {k: 1}) MERGE (p)-[:T9]->(q:QQ) RETURN labels(q) AS x",
    value(Seq("QQ")))

  // --------------------------------------------- one bound endpoint
  scenario("bound source: created target binds per row", g,
    "MATCH (n:A) MERGE (n)-[r:TAGGED]->(t:Tag {v: 1}) RETURN t.v AS x",
    value(1L))
  scenario("bound source: one instance per distinct driving node", g,
    "MATCH (n) MERGE (n)-[:TAGGED]->(t:Tag {v: 1}) " +
      "WITH count(*) AS c MATCH (t:Tag) RETURN count(t) AS x", value(3L))
  scenario("duplicate driving rows dedup on the bound endpoint id", g,
    "UNWIND [1, 1] AS i MATCH (n:A) MERGE (n)-[:TAGGED]->(t:Tag) " +
      "WITH count(*) AS c MATCH (t:Tag) RETURN count(t) AS x", value(1L))
  scenario("bound target via reversed arrow", g,
    "MATCH (n:A) MERGE (n)<-[r:REV]-(m:M {k: 3}) RETURN m.k AS x", value(3L))
  scenario("bound endpoint keeps its own properties on the row", g,
    "MATCH (n:A) MERGE (n)-[:T7]->(m:MM) RETURN n.name AS x", value("a"))
  scenario("row count equals driving rows", g,
    "MATCH (n) MERGE (n)-[:T6]->(m:MM) RETURN count(*) AS x", value(3L))
  scenario("partial rel match per row creates only for unmatched rows", g,
    "MATCH (n) MERGE (n)-[r:LIKES]->(c:C {name: 'c'}) " +
      "WITH count(*) AS c MATCH (m:C) RETURN count(m) AS x", value(3L))

  // -------------------------------------------------- self-patterns
  scenario("self-loop MERGE creates one node and one rel", g,
    "MERGE (a:L {k: 1})-[r:S]->(a) WITH count(*) AS c " +
      "MATCH (m:L) RETURN count(m) AS x", value(1L))
  scenario("self-loop rel starts and ends on the same node", g,
    "MERGE (a:L {k: 1})-[r:S]->(a) " +
      "RETURN id(startNode(r)) = id(endNode(r)) AS x", value(true))
  scenario("self-loop matches on re-merge", g,
    "MERGE (a:L {k: 1})-[r:S]->(a) MERGE (b:L {k: 1})-[r2:S]->(b) " +
      "WITH count(*) AS c MATCH (m:L) RETURN count(m) AS x", value(1L))

  // ---------------------------------------------------- ON CREATE/MATCH
  scenario("ON CREATE SET fires for a created pattern", g,
    "MERGE (x:X {k: 1})-[r:T]->(y:Y) ON CREATE SET r.c = true " +
      "RETURN r.c AS x", value(true))
  scenario("ON MATCH SET fires for a matched pattern", g,
    "MERGE (a:A {name: 'a'})-[r:KNOWS {since: 2010}]->(b:B {name: 'b'}) " +
      "ON MATCH SET r.m = 1 RETURN r.m AS x", value(1L))
  scenario("ON MATCH SET does not fire for a created pattern", g,
    "MERGE (x:X {k: 1})-[r:T]->(y:Y) ON MATCH SET r.m = 1 " +
      "RETURN r.m AS x", value(null))

  // ------------------------------------------------- multi-hop patterns
  scenario("multi-hop MERGE creates the whole chain", g,
    "MERGE (x:X {k: 1})-[r1:T]->(y:Y)-[r2:T2]->(z:Z {k: 3}) " +
      "RETURN z.k AS x", value(3L))
  scenario("multi-hop MERGE creates one node per chain position", g,
    "MERGE (x:X {k: 1})-[r1:T]->(y:Y)-[r2:T2]->(z:Z {k: 3}) " +
      "WITH count(*) AS c MATCH (n) RETURN count(n) AS x", value(6L))
  scenario("multi-hop re-MERGE matches the first's writes", g,
    "MERGE (x:X {k: 1})-[r1:T]->(y:Y)-[r2:T2]->(z:Z) " +
      "MERGE (x2:X {k: 1})-[s1:T]->(y2:Y)-[s2:T2]->(z2:Z) " +
      "WITH count(*) AS c MATCH (m:Y) RETURN count(m) AS x", value(1L))
  scenario("all-or-nothing across hops: existing first hop is not reused", g,
    // (a)-[:KNOWS]->(b) exists, but the full 2-hop chain does not, so the
    // whole chain — including fresh :A and :B nodes — is created
    "MERGE (p:A {name: 'a'})-[r:KNOWS {since: 2010}]->" +
      "(q:B {name: 'b'})-[r2:NEXT]->(t:End) " +
      "WITH count(*) AS c MATCH (n) RETURN count(n) AS x", value(6L))
  scenario("bound middle node with mixed arrow directions", g,
    "MATCH (b:B {name: 'b'}) MERGE (x:X2)-[r1:T]->(b)<-[r2:T2]-(z:Z2) " +
      "WITH count(*) AS c MATCH (:X2)-->(m:B)<--(:Z2) " +
      "RETURN m.name AS x", value("b"))
  scenario("cyclic chain reuses the repeated unbound var's node", g,
    "MERGE (a:Ring {k: 1})-[r1:RN]->(b:Ring2)-[r2:RN]->(a) " +
      "WITH count(*) AS c MATCH (m:Ring)-[:RN]->(:Ring2)-[:RN]->(m) " +
      "RETURN count(m) AS x", value(1L))
  scenario("all-bound multi-hop MERGE creates only relationships", g,
    "MATCH (a:A {name: 'a'}), (b:B {name: 'b'}) " +
      "MERGE (a)-[r1:L1]->(b)-[r2:L2]->(a) " +
      "WITH count(*) AS c MATCH (n) RETURN count(n) AS x", value(3L))
  scenario("ON CREATE SET reaches a middle chain node", g,
    "MERGE (x:X)-[r1:T]->(y:Y)-[r2:T2]->(z:Z) ON CREATE SET y.fresh = 1 " +
      "RETURN y.fresh AS x", value(1L))
  scenario("chain MERGE after a shorter MERGE recreates the prefix", g,
    "MERGE (x:PX {k: 1})-[:H1]->(y:PY {k: 2}) " +
      "MERGE (x2:PX {k: 1})-[:H1]->(y2:PY {k: 2})-[:H2]->(z:PZ) " +
      "WITH count(*) AS c MATCH (m:PX) RETURN count(m) AS x", value(2L))

  // ---------------------------------------- row-dependent properties
  // Keys are evaluated on the driving row: one pattern per distinct key
  // (each key is driven twice), and the second MERGE matches the first's.
  scenario("row-dependent property on an unbound endpoint", g,
    "UNWIND [1, 1] AS i MATCH (n) WHERE n.num IS NOT NULL " +
      "MERGE (x:X {k: n.num})-[r:T]->(y:Y) " +
      "WITH DISTINCT n MERGE (x:X {k: n.num})-[r:T]->(y:Y) " +
      "WITH count(*) AS c MATCH (m:X)-[:T]->(:Y) RETURN m.k AS x",
    rows(Map("x" -> 1L), Map("x" -> 2L)))
  scenario("row-dependent property on the relationship", g,
    "UNWIND [1, 1] AS i MATCH (n) WHERE n.num IS NOT NULL " +
      "MERGE (x:X)-[r:T {w: n.num}]->(y:Y) " +
      "WITH DISTINCT n MERGE (x:X)-[r:T {w: n.num}]->(y:Y) " +
      "WITH count(*) AS c MATCH (:X)-[r:T]->(:Y) RETURN r.w AS x",
    rows(Map("x" -> 1L), Map("x" -> 2L)))

  // ------------------------------------------------------------ errors
  errorScenario("repeated relationship variable in a MERGE chain", g,
    "MERGE (a:X)-[r:T]->(b:Y)<-[r:T]-(c:Z) RETURN 1 AS x",
    SyntaxError, VariableAlreadyBound)
  errorScenario("var-length relationship in MERGE", g,
    "MERGE (a:X)-[r:T*1..2]->(b:Y) RETURN 1 AS x",
    SyntaxError, CreatingVarLength)

  // ---------------------------------------------- FOREACH-driven paths
  scenario("FOREACH body path-MERGEs on the loop variable", g,
    "FOREACH (i IN [1, 2, 2] | MERGE (:FX {k: i})-[:FT]->(:FY)) " +
      "FOREACH (i IN [2, 3] | MERGE (:FX {k: i})-[:FT]->(:FY)) " +
      "WITH 1 AS one MATCH (m:FX)-[:FT]->(:FY) RETURN m.k AS x",
    rows(Map("x" -> 1L), Map("x" -> 2L), Map("x" -> 3L)))

  // A bound node in a relationship MERGE takes no new labels or
  // properties (TCK Merge5: VariableAlreadyBound).
  errorScenario("bound endpoint with new labels in a relationship MERGE", g,
    "MATCH (a:A) MERGE (a:Extra)-[r:T]->(b:B) RETURN 1 AS x",
    SyntaxError, VariableAlreadyBound)
}
