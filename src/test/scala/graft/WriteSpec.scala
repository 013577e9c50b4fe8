package graft

import graft.api.{CypherException, CypherError, GraftSession}
import graft.graph.PropertyGraph

/** Write clauses (CREATE/SET/REMOVE/DELETE/MERGE) — beyond-reference
  * surface: the reference engine is read-only, graft produces a new
  * immutable PropertyGraph per write query (GraftSession.update). */
class WriteSpec extends SparkTestBase {
  import TckFixtures._

  lazy val session = new GraftSession(spark)

  def g: PropertyGraph = graph(spark,
    Seq(
      N(1, Set("Person"), Map("name" -> "a", "age" -> 30)),
      N(2, Set("Person"), Map("name" -> "b", "age" -> 40)),
      N(3, Set("City"), Map("name" -> "x"))),
    Seq(
      R(10, 1, 2, "KNOWS", Map("since" -> 2010)),
      R(11, 1, 3, "LIVES_IN")))

  private def one(g: PropertyGraph, q: String): Any =
    session.cypher(g, q).collect().head.get(0)

  // ------------------------------------------------------------- CREATE
  test("CREATE a node from the unit table") {
    val g2 = session.update(g, "CREATE (n:Person {name: 'c', age: 50})")
    assert(one(g2, "MATCH (n:Person) RETURN count(*) AS n") === 3L)
    assert(one(g2, "MATCH (n:Person {name: 'c'}) RETURN n.age AS a") === 50L)
    // the input graph is untouched
    assert(one(g, "MATCH (n:Person) RETURN count(*) AS n") === 2L)
  }

  test("CREATE per driving row with computed properties") {
    val g2 = session.update(g,
      "MATCH (p:Person) CREATE (s:Shadow {of: p.name, older: p.age + 1})")
    assert(one(g2, "MATCH (s:Shadow) RETURN count(*) AS n") === 2L)
    assert(one(g2,
      "MATCH (s:Shadow {of: 'a'}) RETURN s.older AS x") === 31L)
  }

  test("CREATE a relationship between bound endpoints") {
    val g2 = session.update(g,
      "MATCH (a:Person {name: 'a'}), (b:City) " +
        "CREATE (a)-[r:VISITED {year: 2020}]->(b)")
    assert(one(g2,
      "MATCH (:Person)-[r:VISITED]->(:City) RETURN r.year AS y") === 2020L)
  }

  test("CREATE whole path with new endpoints and reversed arrow") {
    val g2 = session.update(g,
      "CREATE (a:P1 {k: 1})<-[:T]-(b:P2 {k: 2})")
    assert(one(g2, "MATCH (b:P2)-[:T]->(a:P1) RETURN b.k AS k") === 2L)
  }

  test("CREATE ... RETURN sees the created values") {
    val (rows, _) = session.updateWithResult(g,
      "CREATE (n:Person {name: 'z'}) RETURN n.name AS x")
    assert(rows.collect().map(_.getString(0)).toSeq === Seq("z"))
  }

  test("created ids are unique across the whole graph") {
    val g2 = session.update(g, "MATCH (p:Person) CREATE (:Dup)")
    val ids = session.cypher(g2, "MATCH (n) RETURN id(n) AS i")
      .collect().map(_.getLong(0))
    assert(ids.length === ids.distinct.length)
  }

  // ---------------------------------------------------------------- SET
  test("SET a property on matched nodes") {
    val g2 = session.update(g,
      "MATCH (p:Person) WHERE p.age > 35 SET p.senior = true")
    assert(one(g2,
      "MATCH (p:Person) WHERE p.senior RETURN p.name AS x") === "b")
    assert(one(g2,
      "MATCH (p:Person {name: 'a'}) RETURN p.senior AS s") === null)
  }

  test("SET overwrites and RETURN observes the new value") {
    val (rows, g2) = session.updateWithResult(g,
      "MATCH (p:Person {name: 'a'}) SET p.age = 31 RETURN p.age AS x")
    assert(rows.collect().head.getLong(0) === 31L)
    assert(one(g2, "MATCH (p:Person {name: 'a'}) RETURN p.age AS x") === 31L)
    assert(one(g2, "MATCH (p:Person {name: 'b'}) RETURN p.age AS x") === 40L)
  }

  test("SET a relationship property") {
    val g2 = session.update(g,
      "MATCH ()-[r:KNOWS]->() SET r.since = 2011")
    assert(one(g2, "MATCH ()-[r:KNOWS]->() RETURN r.since AS x") === 2011L)
  }

  test("SET a label migrates the node between label tables") {
    val g2 = session.update(g,
      "MATCH (p:Person {name: 'b'}) SET p:Admin")
    assert(one(g2, "MATCH (p:Admin) RETURN p.name AS x") === "b")
    assert(one(g2, "MATCH (p:Person) RETURN count(*) AS n") === 2L)
    assert(one(g2,
      "MATCH (p:Person {name: 'b'}) RETURN labels(p) AS l")
      .asInstanceOf[scala.collection.Seq[String]].sorted === Seq("Admin", "Person"))
  }

  test("SET += adds literal-map entries, SET = replaces") {
    val g2 = session.update(g,
      "MATCH (p:Person {name: 'a'}) SET p += {mood: 'ok'}")
    assert(one(g2, "MATCH (p:Person {name: 'a'}) RETURN p.mood AS x") === "ok")
    assert(one(g2, "MATCH (p:Person {name: 'a'}) RETURN p.age AS x") === 30L)
    val g3 = session.update(g,
      "MATCH (p:Person {name: 'a'}) SET p = {name: 'a2'}")
    assert(one(g3, "MATCH (p:Person {name: 'a2'}) RETURN p.age AS x") === null)
    assert(one(g3, "MATCH (p:Person {name: 'b'}) RETURN p.age AS x") === 40L)
  }

  test("SET on OPTIONAL MATCH null rows is a no-op") {
    val g2 = session.update(g,
      "OPTIONAL MATCH (p:Person {name: 'nope'}) SET p.x = 1")
    assert(one(g2,
      "MATCH (p:Person) WHERE p.x IS NOT NULL RETURN count(*) AS n") === 0L)
  }

  // ------------------------------------------------------------- REMOVE
  test("REMOVE a property and a label") {
    val g2 = session.update(g,
      "MATCH (p:Person {name: 'a'}) REMOVE p.age")
    assert(one(g2, "MATCH (p:Person {name: 'a'}) RETURN p.age AS x") === null)
    val g3 = session.update(g2,
      "MATCH (p:Person {name: 'a'}) SET p:Tmp")
    val g4 = session.update(g3,
      "MATCH (p:Tmp) REMOVE p:Tmp")
    assert(one(g4, "MATCH (p:Tmp) RETURN count(*) AS n") === 0L)
    assert(one(g4,
      "MATCH (p:Person {name: 'a'}) RETURN count(*) AS n") === 1L)
  }

  // ------------------------------------------------------------- DELETE
  test("DELETE a relationship") {
    val g2 = session.update(g, "MATCH ()-[r:KNOWS]->() DELETE r")
    assert(one(g2, "MATCH ()-[r]->() RETURN count(*) AS n") === 1L)
    assert(one(g2, "MATCH (n) RETURN count(*) AS n") === 3L)
  }

  test("DELETE of a connected node raises DeleteConnectedNode") {
    val e = intercept[CypherException] {
      session.update(g, "MATCH (p:Person {name: 'a'}) DELETE p")
    }
    assert(e.errorType === CypherError.ConstraintValidationFailed)
    assert(e.detail === CypherError.DeleteConnectedNode)
    assert(e.phase === CypherError.Runtime)
  }

  test("DETACH DELETE removes the node and its relationships") {
    val g2 = session.update(g,
      "MATCH (p:Person {name: 'a'}) DETACH DELETE p")
    assert(one(g2, "MATCH (n) RETURN count(*) AS n") === 2L)
    assert(one(g2, "MATCH ()-[r]->() RETURN count(*) AS n") === 0L)
  }

  test("DELETE node and its rels in the same clause") {
    val g2 = session.update(g,
      "MATCH (p:Person {name: 'b'})<-[r:KNOWS]-() DELETE r, p")
    assert(one(g2, "MATCH (n:Person) RETURN count(*) AS n") === 1L)
  }

  // -------------------------------------------------------------- MERGE
  test("MERGE matches an existing node") {
    val (rows, g2) = session.updateWithResult(g,
      "MERGE (p:Person {name: 'a'}) RETURN p.name AS x")
    assert(rows.collect().map(_.getString(0)).toSeq === Seq("a"))
    assert(one(g2, "MATCH (p:Person) RETURN count(*) AS n") === 2L)
  }

  test("MERGE creates when no match exists") {
    val g2 = session.update(g, "MERGE (p:Person {name: 'new'})")
    assert(one(g2, "MATCH (p:Person) RETURN count(*) AS n") === 3L)
  }

  test("MERGE creates once per distinct key combination") {
    val g2 = session.update(g,
      "UNWIND [1, 1, 2] AS k MERGE (p:Bucket {k: k})")
    assert(one(g2, "MATCH (p:Bucket) RETURN count(*) AS n") === 2L)
  }

  test("MERGE ON CREATE / ON MATCH set their branches") {
    val g2 = session.update(g,
      "MERGE (p:Person {name: 'a'}) " +
        "ON MATCH SET p.seen = true ON CREATE SET p.fresh = true")
    assert(one(g2, "MATCH (p:Person {name: 'a'}) RETURN p.seen AS x") === true)
    assert(one(g2,
      "MATCH (p:Person {name: 'a'}) RETURN p.fresh AS x") === null)
    val g3 = session.update(g,
      "MERGE (p:Person {name: 'q'}) " +
        "ON MATCH SET p.seen = true ON CREATE SET p.fresh = true")
    assert(one(g3,
      "MATCH (p:Person {name: 'q'}) RETURN p.fresh AS x") === true)
  }

  test("MERGE a relationship between bound endpoints") {
    // existing rel matches: no growth
    val g2 = session.update(g,
      "MATCH (a:Person {name: 'a'}), (b:Person {name: 'b'}) " +
        "MERGE (a)-[r:KNOWS {since: 2010}]->(b)")
    assert(one(g2, "MATCH ()-[r:KNOWS]->() RETURN count(*) AS n") === 1L)
    // different key: creates
    val g3 = session.update(g,
      "MATCH (a:Person {name: 'a'}), (b:Person {name: 'b'}) " +
        "MERGE (a)-[r:KNOWS {since: 2024}]->(b)")
    assert(one(g3, "MATCH ()-[r:KNOWS]->() RETURN count(*) AS n") === 2L)
  }

  test("MERGE relationship with both endpoints unbound creates the pattern") {
    val g2 = session.update(g,
      "MERGE (a:Proj {k: 1})-[r:HAS {w: 5}]->(b:Task {k: 2})")
    assert(one(g2,
      "MATCH (:Proj {k: 1})-[r:HAS]->(:Task {k: 2}) RETURN r.w AS x") === 5L)
    // idempotent: the second MERGE matches the whole pattern
    val g3 = session.update(g2,
      "MERGE (a:Proj {k: 1})-[r:HAS {w: 5}]->(b:Task {k: 2})")
    assert(one(g3, "MATCH (n:Proj) RETURN count(*) AS n") === 1L)
    assert(one(g3, "MATCH (n:Task) RETURN count(*) AS n") === 1L)
    assert(one(g3, "MATCH ()-[r:HAS]->() RETURN count(*) AS n") === 1L)
  }

  test("unbound-endpoint MERGE is all-or-nothing on a partial match") {
    // a :Task {k: 2} already exists, but the whole pattern does not match,
    // so MERGE creates the ENTIRE pattern including a fresh :Task node
    val g2 = session.update(g, "CREATE (:Task {k: 2})")
    val g3 = session.update(g2, "MERGE (a:Proj {k: 1})-[r:HAS]->(b:Task {k: 2})")
    assert(one(g3, "MATCH (b:Task) RETURN count(*) AS n") === 2L)
    assert(one(g3, "MATCH (:Proj)-[:HAS]->(:Task) RETURN count(*) AS n") === 1L)
  }

  test("MERGE with one bound endpoint creates one instance per distinct row") {
    val g2 = session.update(g,
      "MATCH (p:Person) MERGE (p)-[r:ASSIGNED]->(t:Task {kind: 'x'})")
    assert(one(g2, "MATCH (t:Task) RETURN count(*) AS n") === 2L)
    assert(one(g2,
      "MATCH (:Person)-[:ASSIGNED]->(:Task) RETURN count(*) AS n") === 2L)
    // re-running matches per row: no growth
    val g3 = session.update(g2,
      "MATCH (p:Person) MERGE (p)-[r:ASSIGNED]->(t:Task {kind: 'x'})")
    assert(one(g3, "MATCH (t:Task) RETURN count(*) AS n") === 2L)
    // duplicate driving rows for the same bound endpoint dedup on its id
    val g4 = session.update(g,
      "UNWIND [1, 1] AS i MATCH (p:Person {name: 'a'}) " +
        "MERGE (p)-[:TAG]->(t:Task)")
    assert(one(g4, "MATCH (t:Task) RETURN count(*) AS n") === 1L)
  }

  test("unbound-endpoint MERGE binds created elements and runs ON CREATE") {
    val (rows, _) = session.updateWithResult(g,
      "MERGE (a:Proj {k: 1})-[r:HAS {w: 5}]->(b:Task {k: 2}) " +
        "ON CREATE SET r.fresh = true " +
        "RETURN a.k AS ak, r.w AS rw, b.k AS bk, r.fresh AS f, labels(b) AS lb")
    val row = rows.collect().head
    assert(row.getLong(0) === 1L && row.getLong(1) === 5L &&
      row.getLong(2) === 2L && row.getBoolean(3) === true)
    assert(row.getSeq[String](4) === Seq("Task"))
  }

  test("unbound-endpoint MERGE with a reversed arrow and a self-loop") {
    val g2 = session.update(g, "MERGE (a:P1 {k: 1})<-[r:REV]-(b:P2 {k: 2})")
    assert(one(g2, "MATCH (:P2)-[:REV]->(:P1) RETURN count(*) AS n") === 1L)
    val g3 = session.update(g, "MERGE (a:Loop {k: 1})-[r:SELF]->(a)")
    assert(one(g3, "MATCH (a:Loop)-[:SELF]->(a) RETURN count(*) AS n") === 1L)
    assert(one(g3, "MATCH (a:Loop) RETURN count(*) AS n") === 1L)
  }

  test("unbound-endpoint MERGE accepts row-dependent properties") {
    val q = "MATCH (p:Person) MERGE (a:Proj {k: p.age})-[r:HAS]->(b:Task)"
    def patterns(g: PropertyGraph) = one(g,
      "MATCH (p:Person), (a:Proj)-[:HAS]->(:Task) WHERE a.k = p.age " +
        "RETURN count(*) AS n")
    // one pattern per distinct key (ages 30 and 40)
    val g2 = session.update(g, q)
    assert(patterns(g2) === 2L)
    assert(one(g2, "MATCH (n) RETURN count(*) AS n") === 7L)
    // re-running matches every row's pattern: no growth
    val g3 = session.update(g2, q)
    assert(patterns(g3) === 2L)
    assert(one(g3, "MATCH (n) RETURN count(*) AS n") === 7L)
  }

  test("SET += a parameter map") {
    val g2 = session.update(g,
      "MATCH (p:Person {name: 'a'}) SET p += $props",
      Map("props" -> Map("mood" -> "ok", "age" -> 31)))
    assert(one(g2, "MATCH (p:Person {name: 'a'}) RETURN p.mood AS x") === "ok")
    assert(one(g2, "MATCH (p:Person {name: 'a'}) RETURN p.age AS x") === 31L)
    assert(one(g2, "MATCH (p:Person {name: 'b'}) RETURN p.mood AS x") === null)
  }

  // ------------------------------------------------- pipelines & guards
  test("write clauses chain within one query") {
    val g2 = session.update(g,
      "MATCH (p:Person {name: 'a'}) " +
        "CREATE (c:Copy {name: p.name}) SET c.stamp = 7")
    assert(one(g2, "MATCH (c:Copy) RETURN c.stamp AS x") === 7L)
  }

  test("WITH after a write reshapes rows") {
    val (rows, _) = session.updateWithResult(g,
      "MATCH (p:Person) CREATE (c:Copy {name: p.name}) " +
        "WITH c ORDER BY c.name RETURN collect(c.name) AS x")
    assert(rows.collect().head.getSeq[String](0) === Seq("a", "b"))
  }

  test("MATCH after a write reads the written graph, and the update sticks") {
    val (rows, g2) = session.updateWithResult(g,
      "CREATE (n:X) MATCH (m:X) SET m.seen = true RETURN count(*) AS x")
    assert(rows.collect().head.getLong(0) === 1L)
    assert(one(g2, "MATCH (m:X) WHERE m.seen RETURN count(*)") === 1L)
  }

  test("CREATE with labels on a bound variable is VariableAlreadyBound") {
    val e = intercept[CypherException] {
      session.update(g, "MATCH (p:Person) CREATE (p:Extra)")
    }
    assert(e.detail === CypherError.VariableAlreadyBound)
  }

  test("CREATE undirected relationship is classified") {
    val e = intercept[CypherException] {
      session.update(g,
        "MATCH (a:Person {name:'a'}), (b:City) CREATE (a)-[:T]-(b)")
    }
    assert(e.detail === CypherError.RequiresDirectedRelationship)
  }

  test("store/load round-trip of a written graph") {
    val g2 = session.update(g,
      "MATCH (p:Person {name: 'a'}) SET p.age = 99")
    val dir = java.nio.file.Files.createTempDirectory("graft_write_fs").toString
    graft.sources.FsGraphSource.store(g2, dir)
    val loaded = graft.sources.FsGraphSource.load(spark, dir)
    assert(one(loaded, "MATCH (p:Person {name: 'a'}) RETURN p.age AS x") === 99L)
    assert(one(loaded, "MATCH (n) RETURN count(*) AS n") === 3L)
  }

  // ------------------------------------------------------------- FOREACH
  test("FOREACH creates one node per list element") {
    val g2 = session.update(g,
      "FOREACH (i IN [1, 2, 3] | CREATE (n:F {v: i}))")
    assert(one(g2, "MATCH (n:F) RETURN count(*) AS n") === 3L)
    assert(one(g2,
      "MATCH (n:F) RETURN sum(n.v) AS s") === 6L)
  }

  test("FOREACH sets properties per driving row and element") {
    val g2 = session.update(g,
      "MATCH (p:Person) FOREACH (k IN ['x'] | SET p.mark = k)")
    assert(one(g2,
      "MATCH (p:Person {mark: 'x'}) RETURN count(*) AS n") === 2L)
  }

  test("FOREACH leaves driving cardinality unchanged") {
    val (rows, _) = session.updateWithResult(g,
      "MATCH (p:Person) FOREACH (i IN [1, 2, 3] | SET p.t = i) " +
        "RETURN count(*) AS n")
    assert(rows.collect().head.getLong(0) === 2L)
  }

  test("FOREACH over an empty or null list is a no-op") {
    val g2 = session.update(g, "FOREACH (i IN [] | CREATE (:F))")
    assert(one(g2, "MATCH (n:F) RETURN count(*) AS n") === 0L)
    val g3 = session.update(g, "FOREACH (i IN null | CREATE (:F))")
    assert(one(g3, "MATCH (n:F) RETURN count(*) AS n") === 0L)
  }

  test("conditional-update idiom via FOREACH + CASE") {
    val g2 = session.update(g,
      "MATCH (p:Person) FOREACH (x IN CASE WHEN p.age > 35 THEN [1] " +
        "ELSE [] END | SET p.senior = true)")
    assert(one(g2,
      "MATCH (p:Person) WHERE p.senior RETURN p.name AS x") === "b")
  }

  test("nested FOREACH") {
    val g2 = session.update(g,
      "FOREACH (i IN [1, 2] | FOREACH (j IN [10, 20] | " +
        "CREATE (:G {v: i * j})))")
    assert(one(g2, "MATCH (n:G) RETURN count(*) AS n") === 4L)
    assert(one(g2, "MATCH (n:G) RETURN sum(n.v) AS s") === 90L)
  }

  // ----------------------------------------------- nested write bodies
  // FOREACH is the unit body CALL (*) { UNWIND list AS x updates }: both
  // forms write the same, and the outer bindings read the written values.
  private def rowsOf(q: String): Seq[Seq[Any]] =
    session.cypher(g, q).collect().toSeq.map(_.toSeq)

  test("a unit CALL body's SET is read back through the outer binding") {
    assert(rowsOf("MATCH (n:Person) CALL { WITH n SET n.age = 99 } " +
      "RETURN n.age AS a").map(_.head) === Seq(99L, 99L))
  }

  test("a label set in a unit body is read back, also through an alias") {
    assert(rowsOf("MATCH (n:Person) CALL { WITH n SET n:Seen } " +
      "RETURN n:Seen").map(_.head) === Seq(true, true))
    assert(rowsOf("MATCH (a:Person) CALL (*) { UNWIND CASE WHEN a.age > 35 " +
      "THEN [a] ELSE [] END AS x SET x:Old } RETURN a.name, a:Old")
      .toSet === Set(Seq("a", false), Seq("b", true)))
  }

  test("a unit body over nodes(p) writes every path node") {
    assert(rowsOf("MATCH p = (a:Person {name: 'a'})-[:KNOWS]->(b) " +
      "CALL (*) { UNWIND nodes(p) AS nd SET nd.dbl = nd.age * 2 } " +
      "RETURN a.dbl, b.dbl") === Seq(Seq(60L, 80L)))
  }

  test("a unit body over a CASE-guarded [a] writes only the guarded node") {
    assert(rowsOf("MATCH (a:Person) CALL (*) { UNWIND CASE WHEN a.age > 35 " +
      "THEN [a] ELSE [] END AS x SET x.hit = 1 } RETURN a.name, a.hit")
      .toSet === Set(Seq("a", null), Seq("b", 1L)))
  }

  test("a unit body over [r] writes the relationship") {
    assert(rowsOf("MATCH ()-[r:KNOWS]->() CALL (*) { UNWIND [r] AS x " +
      "SET x.w = 7 } RETURN r.w") === Seq(Seq(7L)))
  }

  test("unit bodies nest, in a unit body and in a RETURNing body") {
    assert(rowsOf("MATCH (n:Person) CALL (n) { CALL (n) { SET n.age = 5 } } " +
      "RETURN n.name, n.age").toSet === Set(Seq("a", 5L), Seq("b", 5L)))
    assert(rowsOf("MATCH (n:Person) CALL (n) { CALL (n) { SET n.age = 5 } " +
      "RETURN n.age AS inner } RETURN n.name, inner, n.age").toSet ===
      Set(Seq("a", 5L, 5L), Seq("b", 5L, 5L)))
  }

  test("FOREACH takes the dynamic REMOVE forms") {
    assert(rowsOf("MATCH (n:Person) FOREACH (x IN [1] | REMOVE n['age']) " +
      "RETURN n.age").map(_.head) === Seq(null, null))
    assert(rowsOf("MATCH (n:Person) FOREACH (x IN [1] | REMOVE n:$('Person')) " +
      "RETURN labels(n), n:Person").map(_.map {
        case l: scala.collection.Seq[_] => l.toList
        case b => b
      }) === Seq(Seq(Nil, false), Seq(Nil, false)))
    val g2 = session.update(g,
      "MATCH (n:Person) FOREACH (x IN [1] | REMOVE n:$('Person'))")
    assert(one(g2, "MATCH (n:Person) RETURN count(*) AS n") === 0L)
    assert(one(g2, "MATCH (n) WHERE n.age > 0 RETURN count(*) AS n") === 2L)
  }

  test("planning FOREACH and nested unit bodies runs no more jobs") {
    // Jobs to build each result frame, counted on a second pass (the first
    // fills per-graph caches). The bounds are what the dedicated FOREACH
    // planner ran; a nested unit CALL did not plan then, so its bound is
    // the one-level body's. MERGE and DETACH DELETE pin their id frames.
    val bounds = Seq(
      "MATCH (p:Person) FOREACH (k IN ['x'] | SET p.mark = k) RETURN p.mark" -> 0,
      "MATCH p = (a:Person {name: 'a'})-[:KNOWS]->(b) " +
        "FOREACH (nd IN nodes(p) | SET nd.dbl = nd.age * 2) RETURN a.dbl, b.dbl" -> 0,
      "MATCH (a:Person) FOREACH (x IN CASE WHEN a.age > 35 THEN [a] ELSE [] END " +
        "| SET x.hit = 1) RETURN a.hit" -> 0,
      "MATCH ()-[r:KNOWS]->() FOREACH (x IN [r] | SET x.w = 7) RETURN r.w" -> 0,
      "FOREACH (i IN [1, 2] | FOREACH (j IN [10, 20] | CREATE (:G {v: i * j})))" -> 0,
      "FOREACH (i IN [1, 2, 2] | MERGE (:FM {k: i}))" -> 1,
      "MATCH (c:City) WITH collect(c) AS cs FOREACH (x IN cs | DETACH DELETE x)" -> 1,
      "MATCH (n:Person) FOREACH (x IN [1] | REMOVE n.age) RETURN n.age" -> 0,
      "MATCH (n:Person) CALL (n) { CALL (n) { SET n.age = 5 } } RETURN n.age" -> 0)
    val graph = g
    bounds.foreach { case (q, _) => session.cypher(graph, q) }
    val over = bounds.map { case (q, bound) =>
      (q, jobsDuring(session.cypher(graph, q)), bound)
    }.filter { case (_, jobs, bound) => jobs > bound }
    assert(over.isEmpty, over)
  }
}
