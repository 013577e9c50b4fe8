package graft

import graft.graph.PropertyGraph

/** Correlated subqueries: CALL { } and EXISTS/COUNT/COLLECT { } bodies
  * correlate on the values they import, so driving rows with equal imports
  * share one body evaluation; only a body that writes, or one importing a
  * map, is keyed per driving row. Results here are hand-checked on a
  * six-node graph; the planning tests run on TPC-H sf0.001. */
class SubqueryCorrelationSpec extends TckScenarioBase {
  import TckFixtures._

  // a -T-> 10, a -T-> 20, b -T-> 30; c has no T edge.
  lazy val g: PropertyGraph = graph(spark,
    Seq(
      N(1, Set("P"), Map("name" -> "a", "num" -> 1)),
      N(2, Set("P"), Map("name" -> "b", "num" -> 2)),
      N(3, Set("P"), Map("name" -> "c", "num" -> 3)),
      N(10, Set("Q"), Map("v" -> 10)),
      N(20, Set("Q"), Map("v" -> 20)),
      N(30, Set("Q"), Map("v" -> 30))),
    Seq(R(100, 1, 10, "T"), R(101, 1, 20, "T"), R(102, 2, 30, "T")))

  lazy val tpch: PropertyGraph = graft.tpch.TpchGraph(spark, "/root/testdata/sf0.001")

  // ------------------------------------------ duplicate and null imports
  scenario("duplicate imports: every driving row keeps its body rows", g,
    "UNWIND [1, 1, 2] AS k MATCH (p:P {num: k}) " +
      "CALL { WITH p MATCH (p)-[:T]->(q) RETURN q.v AS v } RETURN k, v",
    rows(Map("k" -> 1L, "v" -> 10L), Map("k" -> 1L, "v" -> 20L),
      Map("k" -> 1L, "v" -> 10L), Map("k" -> 1L, "v" -> 20L),
      Map("k" -> 2L, "v" -> 30L)))
  scenario("duplicate imports: a per-row aggregate counts once per row", g,
    "UNWIND [1, 1, 2, 3] AS k MATCH (p:P {num: k}) " +
      "CALL { WITH p MATCH (p)-[:T]->(q) RETURN count(q) AS c } RETURN k, c",
    rows(Map("k" -> 1L, "c" -> 2L), Map("k" -> 1L, "c" -> 2L),
      Map("k" -> 2L, "c" -> 1L), Map("k" -> 3L, "c" -> 0L)))
  scenario("a null import from OPTIONAL MATCH keeps its body row", g,
    "MATCH (p:P) OPTIONAL MATCH (p)-[:T]->(q) " +
      "CALL { WITH q RETURN q IS NULL AS n, coalesce(q.v, -1) AS v } " +
      "RETURN p.name AS name, n, v",
    rows(Map("name" -> "a", "n" -> false, "v" -> 10L),
      Map("name" -> "a", "n" -> false, "v" -> 20L),
      Map("name" -> "b", "n" -> false, "v" -> 30L),
      Map("name" -> "c", "n" -> true, "v" -> -1L)))
  scenario("repeated null imports each keep their body rows", g,
    "UNWIND [null, null, 1] AS x " +
      "CALL { WITH x UNWIND [1, 2] AS i RETURN count(*) AS c } RETURN x, c",
    rows(Map("x" -> null, "c" -> 2L), Map("x" -> null, "c" -> 2L),
      Map("x" -> 1L, "c" -> 2L)))

  // ------------------------------------------------------- UNION bodies
  scenario("UNION body dedups per driving row, duplicates kept", g,
    "UNWIND [1, 1, 2] AS x " +
      "CALL { WITH x RETURN x * 10 AS y UNION WITH x RETURN 10 AS y } " +
      "RETURN x, y",
    rows(Map("x" -> 1L, "y" -> 10L), Map("x" -> 1L, "y" -> 10L),
      Map("x" -> 2L, "y" -> 20L), Map("x" -> 2L, "y" -> 10L)))
  scenario("UNION ALL body keeps every arm row per driving row", g,
    "UNWIND [1, 1, 2] AS x " +
      "CALL { WITH x RETURN x * 10 AS y UNION ALL WITH x RETURN 10 AS y } " +
      "RETURN x, y",
    rows(Map("x" -> 1L, "y" -> 10L), Map("x" -> 1L, "y" -> 10L),
      Map("x" -> 1L, "y" -> 10L), Map("x" -> 1L, "y" -> 10L),
      Map("x" -> 2L, "y" -> 20L), Map("x" -> 2L, "y" -> 10L)))
  scenario("UNION arm with a global aggregate yields a row per driving row", g,
    "MATCH (p:P) CALL { WITH p MATCH (p)-[:T]->(q) RETURN count(q) AS c " +
      "UNION WITH p RETURN -1 AS c } RETURN p.name AS name, c",
    rows(Map("name" -> "a", "c" -> 2L), Map("name" -> "a", "c" -> -1L),
      Map("name" -> "b", "c" -> 1L), Map("name" -> "b", "c" -> -1L),
      Map("name" -> "c", "c" -> 0L), Map("name" -> "c", "c" -> -1L)))

  // --------------------------------------------- ORDER BY / SKIP / LIMIT
  scenario("ORDER BY LIMIT selects per key", g,
    "UNWIND [1, 1, 2] AS k MATCH (p:P {num: k}) CALL { WITH p " +
      "MATCH (p)-[:T]->(q) RETURN q.v AS v ORDER BY v DESC LIMIT 1 } " +
      "RETURN k, v",
    rows(Map("k" -> 1L, "v" -> 20L), Map("k" -> 1L, "v" -> 20L),
      Map("k" -> 2L, "v" -> 30L)))
  scenario("ORDER BY SKIP selects per key", g,
    "UNWIND [1, 1, 2] AS k MATCH (p:P {num: k}) CALL { WITH p " +
      "MATCH (p)-[:T]->(q) RETURN q.v AS v ORDER BY v SKIP 1 } RETURN k, v",
    rows(Map("k" -> 1L, "v" -> 20L), Map("k" -> 1L, "v" -> 20L)))
  scenario("ORDER BY alone leaves the rows unchanged", g,
    "MATCH (p:P) CALL { WITH p MATCH (p)-[:T]->(q) " +
      "RETURN q.v AS v ORDER BY v DESC } RETURN p.name AS name, v",
    rows(Map("name" -> "a", "v" -> 10L), Map("name" -> "a", "v" -> 20L),
      Map("name" -> "b", "v" -> 30L)))
  scenario("correlated DISTINCT dedups before LIMIT selects", g,
    "UNWIND [1, 2] AS k CALL { WITH k UNWIND [3, 3, 2, 1] AS u " +
      "RETURN DISTINCT u ORDER BY u DESC LIMIT 2 } RETURN k, u",
    rows(Map("k" -> 1L, "u" -> 3L), Map("k" -> 1L, "u" -> 2L),
      Map("k" -> 2L, "u" -> 3L), Map("k" -> 2L, "u" -> 2L)))
  scenario("uncorrelated DISTINCT ORDER BY LIMIT", g,
    "UNWIND [1, 2] AS i CALL { UNWIND [3, 3, 2, 1] AS u " +
      "RETURN DISTINCT u ORDER BY u DESC LIMIT 2 } RETURN i, u",
    rows(Map("i" -> 1L, "u" -> 3L), Map("i" -> 1L, "u" -> 2L),
      Map("i" -> 2L, "u" -> 3L), Map("i" -> 2L, "u" -> 2L)))

  // --------------------------------------- nested, OPTIONAL, uncorrelated
  scenario("nested CALL sums per outer row", g,
    "MATCH (p:P) CALL { WITH p MATCH (p)-[:T]->(q) " +
      "CALL { WITH q RETURN q.v + 1 AS w } RETURN sum(w) AS s } " +
      "RETURN p.name AS name, s",
    rows(Map("name" -> "a", "s" -> 32L), Map("name" -> "b", "s" -> 31L),
      Map("name" -> "c", "s" -> 0L)))
  scenario("correlated collect over no body rows is []", g,
    "MATCH (p:P) CALL { WITH p MATCH (p)-[:T]->(q) RETURN collect(q.v) AS l } " +
      "RETURN p.name AS name, size(l) AS n",
    rows(Map("name" -> "a", "n" -> 2L), Map("name" -> "b", "n" -> 1L),
      Map("name" -> "c", "n" -> 0L)))
  scenario("OPTIONAL CALL keeps a null row for an empty body", g,
    "MATCH (p:P) OPTIONAL CALL { WITH p MATCH (p)-[:T]->(q) " +
      "RETURN q.v AS v } RETURN p.name AS name, v",
    rows(Map("name" -> "a", "v" -> 10L), Map("name" -> "a", "v" -> 20L),
      Map("name" -> "b", "v" -> 30L), Map("name" -> "c", "v" -> null)))
  scenario("uncorrelated aggregate joins every driving row", g,
    "MATCH (p:P) CALL { MATCH (q:Q) RETURN max(q.v) AS m } " +
      "RETURN p.name AS name, m",
    rows(Map("name" -> "a", "m" -> 30L), Map("name" -> "b", "m" -> 30L),
      Map("name" -> "c", "m" -> 30L)))
  scenario("leading CALL", g,
    "CALL { MATCH (q:Q) RETURN q.v AS v } RETURN v AS x",
    rows(Map("x" -> 10L), Map("x" -> 20L), Map("x" -> 30L)))
  scenario("leading uncorrelated collect over no rows is []", g,
    "CALL { MATCH (q:Q) WHERE q.v > 100 RETURN collect(q.v) AS l } " +
      "RETURN l AS x",
    value(Seq.empty[Long]))

  // ------------------------------------------- EXISTS / COUNT / COLLECT
  scenario("EXISTS, COUNT and COLLECT in WHERE", g,
    "MATCH (p:P) WHERE EXISTS { MATCH (p)-[:T]->(q) WHERE q.v > 15 } " +
      "AND COUNT { MATCH (p)-[:T]->() } >= 1 " +
      "AND size(COLLECT { MATCH (p)-[:T]->(q) RETURN q.v }) < 3 " +
      "RETURN p.name AS x",
    rows(Map("x" -> "a"), Map("x" -> "b")))
  scenario("EXISTS, COUNT and COLLECT in RETURN", g,
    "MATCH (p:P) RETURN p.name AS name, " +
      "EXISTS { MATCH (p)-[:T]->() } AS e, COUNT { MATCH (p)-[:T]->() } AS c, " +
      "COLLECT { MATCH (p)-[:T]->(q) RETURN q.v ORDER BY q.v } AS l",
    rows(Map("name" -> "a", "e" -> true, "c" -> 2L, "l" -> Seq(10L, 20L)),
      Map("name" -> "b", "e" -> true, "c" -> 1L, "l" -> Seq(30L)),
      Map("name" -> "c", "e" -> false, "c" -> 0L, "l" -> Seq.empty[Long])))
  scenario("COUNT over a UNION body, duplicate driving rows", g,
    "UNWIND [1, 1, 3] AS k MATCH (p:P {num: k}) RETURN k, " +
      "COUNT { MATCH (p)-[:T]->(q) RETURN q.v AS v " +
      "UNION MATCH (p)-[:T]->(q) RETURN q.v AS v } AS c",
    rows(Map("k" -> 1L, "c" -> 2L), Map("k" -> 1L, "c" -> 2L),
      Map("k" -> 3L, "c" -> 0L)))

  // ------------------------------------------- per-driving-row row id
  test("a write body runs once per driving row, equal imports included") {
    val (rs, g2) = session.updateWithResult(g,
      "UNWIND [1, 1] AS x CALL { WITH x CREATE (:N {v: x}) " +
        "RETURN count(*) AS c } RETURN x, c")
    assert(rowBag(rowsOf(rs)) === rowBag(Seq(Map("x" -> 1L, "c" -> 1L),
      Map("x" -> 1L, "c" -> 1L))))
    assert(session.cypher(g2, "MATCH (n:N) RETURN count(*) AS n")
      .collect().head.getLong(0) === 2L)
  }

  test("a map import from a driving table keeps one row per driving row") {
    import spark.implicits._
    val driving = Seq(Map("a" -> 1), Map("a" -> 1), Map("a" -> 1, "b" -> 2))
      .toDF("m")
    val got = session.cypher(g,
      "CALL { WITH m UNWIND [1, 2] AS i RETURN count(*) AS n } RETURN n",
      drivingTable = Some(driving)).collect().map(_.getLong(0)).toSeq
    assert(got === Seq(2L, 2L, 2L))
  }

  test("keys() of an imported map lists the map's keys") {
    import spark.implicits._
    val driving = Seq(Map("a" -> 1), Map("a" -> 1, "b" -> 2)).toDF("m")
    val got = session.cypher(g,
      "CALL { WITH m UNWIND keys(m) AS k RETURN count(k) AS n } RETURN n",
      drivingTable = Some(driving)).collect().map(_.getLong(0)).toSeq
    assert(got.sorted === Seq(1L, 2L))
  }

  // ----------------------------------------- planner names vs user names
  test("a user variable spelled like a planner name stays the user's") {
    def count(q: String) = session.cypher(tpch, q).collect().head.getLong(0)
    assert(count("MATCH (_a1:Customer)-[:PLACED]->() RETURN count(*)") === 1500L)
    assert(count("MATCH (x:Customer)-[:PLACED]->() RETURN count(*)") === 1500L)
  }

  scenario("RETURN * sees a user variable named like a planner name", g,
    "WITH 1 AS _age RETURN *", rows(Map("_age" -> 1L)))

  test("COUNT { } imports a user variable named like a planner name") {
    def counts(v: String) = session.cypher(tpch,
      s"MATCH ($v:Customer) WHERE $v.c_custkey <= 5 " +
        s"RETURN $v.c_custkey AS k, COUNT { MATCH ($v)-[:PLACED]->() } AS n")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(counts("c").map(_._2).sum > 0)
    assert(counts("_a1") === counts("c"))
  }

  // --------------------------------------------------- unit write bodies
  scenario("a unit body's SET is read back through the outer binding", g,
    "MATCH (p:P) CALL { WITH p SET p.num = 99 } RETURN p.name AS name, p.num AS num",
    rows(Map("name" -> "a", "num" -> 99L), Map("name" -> "b", "num" -> 99L),
      Map("name" -> "c", "num" -> 99L)))
  scenario("a unit body nests in a unit body", g,
    "MATCH (p:P) CALL (p) { CALL (p) { SET p.num = 5 } } RETURN sum(p.num) AS x",
    value(15L))
  scenario("a unit body nests in a RETURNing body", g,
    "MATCH (p:P) CALL (p) { MATCH (p)-[:T]->(q) CALL (q) { SET q.v = q.v + 1 } " +
      "RETURN sum(q.v) AS s } RETURN p.name AS name, s",
    rows(Map("name" -> "a", "s" -> 32L), Map("name" -> "b", "s" -> 31L),
      Map("name" -> "c", "s" -> 0L)))

  // ----------------------------------------------- planning and plan shape
  test("EXPLAIN of correlated read subqueries runs no Spark job") {
    val call = "MATCH (c:Customer)-[:FROM_NATION]->(n:Nation) " +
      "CALL { WITH c MATCH (c)-[:PLACED]->(o:Order) RETURN count(o) AS k } " +
      "RETURN n.n_name AS nn, k"
    val count = "MATCH (c:Customer)-[:PLACED]->(o:Order) WITH c, count(*) AS n " +
      "WHERE COUNT { MATCH (c)-[:FROM_NATION]->(:Nation) } > 0 " +
      "RETURN c.c_custkey AS k, n"
    val jobs = Seq(call, count).map { q =>
      session.cypher(tpch, "EXPLAIN " + q) // builds the per-graph caches
      q -> jobsDuring(session.cypher(tpch, "EXPLAIN " + q))
    }
    assert(jobs.forall(_._2 == 0), jobs)
  }

  test("a correlated RETURN ORDER BY without SKIP/LIMIT plans no window") {
    val q = "MATCH (n:Nation) CALL { WITH n MATCH (s:Supplier)-[:FROM_NATION]->(n) " +
      "RETURN s.s_name AS sn%s } RETURN n.n_name AS nn, sn"
    val ordered = session.cypher(tpch, q.format(" ORDER BY sn"))
    assert(!ordered.queryExecution.optimizedPlan.toString.contains("Window"),
      ordered.queryExecution.optimizedPlan)
    assert(rowBag(rowsOf(ordered)) === rowBag(rowsOf(session.cypher(tpch, q.format("")))))
  }
}
