package graft

import graft.api.GraftSession
import graft.graph.{NodeTableDef, PropertyGraph, RelTableDef}
import org.apache.spark.sql.functions._

/** Composite pattern scans (reference NodeRelPattern/TripletPattern,
  * okapi-api/.../api/graph/Pattern.scala:135-182 and the
  * replaceScansWithRecognizedPatterns rewrite in
  * okapi-logical/.../impl/LogicalOptimizer.scala:67-134; acceptance
  * scenarios mirrored from morpheus-testing PatternScanTests): when a node
  * table is co-stored with a relationship table (same DataFrame, endpoint
  * column = node id — the fact-table row IS the node, so node ids stay
  * unique), the planner must read node slots straight off the rel scan
  * instead of self-joining the table.
  */
class PatternScanSpec extends SparkTestBase {
  import spark.implicits._

  lazy val session = new GraftSession(spark)

  // works co-stores the Employment node (rid-keyed, cname/industry props)
  // with the WORKS_AT relationship — the classic warehouse fact-table
  // shape, exactly like TpchGraph's orders/lineitem tables.
  lazy val people = Seq((1L, "Ann", 7L), (2L, "Bob", 9L), (3L, "Cat", 3L))
    .toDF("id", "name", "score")
  lazy val works = Seq(
    (100L, 1L, 2015L, "Acme", "tech"),
    (101L, 2L, 2018L, "Beta", "bio"),
    (102L, 3L, 2020L, "Acme", "tech"))
    .toDF("rid", "pid", "since", "cname", "industry")

  lazy val g = PropertyGraph(
    Seq(
      NodeTableDef(Set("Person"), people, "id",
        Map("name" -> "name", "score" -> "score"), "people"),
      NodeTableDef(Set("Employment", "Org"), works, "rid",
        Map("cname" -> "cname", "industry" -> "industry"), "employ")),
    Seq(
      RelTableDef("WORKS_AT", works, "rid", "pid", "rid",
        Map("since" -> "since"), "r_works", "people", "employ")))

  private def joinCount(df: org.apache.spark.sql.DataFrame): Int =
    "(?i)join".r.findAllIn(df.queryExecution.optimizedPlan.toString).size

  test("co-stored target: expand reads node props without a self-join") {
    val df = session.cypher(g,
      "MATCH (p:Person)-[w:WORKS_AT]->(e:Employment) " +
        "RETURN p.name AS name, w.since AS since, e.cname AS company ORDER BY name")
    assert(joinCount(df) === 1, df.queryExecution.optimizedPlan.toString)
    assert(df.collect().map(r => (r.getString(0), r.getLong(1), r.getString(2))).toSeq ===
      Seq(("Ann", 2015L, "Acme"), ("Bob", 2018L, "Beta"), ("Cat", 2020L, "Acme")))
  }

  test("direction IN binds the co-stored endpoint too") {
    val df = session.cypher(g,
      "MATCH (e:Employment)<-[:WORKS_AT]-(p:Person) " +
        "RETURN e.cname AS company, count(*) AS n ORDER BY company")
    // e drives straight off the rel scan (co-stored); p is named but never
    // observed, so dead-endpoint liveness elides its table too.
    assert(joinCount(df) === 0, df.queryExecution.optimizedPlan.toString)
    assert(df.collect().map(r => (r.getString(0), r.getLong(1))).toSeq ===
      Seq(("Acme", 2L), ("Beta", 1L)))
  }

  test("anonymous source + co-stored target needs zero joins") {
    val df = session.cypher(g,
      "MATCH ()-[:WORKS_AT]->(e:Employment) RETURN e.cname AS company, count(*) AS n")
    assert(joinCount(df) === 0, df.queryExecution.optimizedPlan.toString)
    assert(df.collect().map(r => (r.getString(0), r.getLong(1))).toMap ===
      Map("Acme" -> 2L, "Beta" -> 1L))
  }

  test("label subset of the co-stored combination matches") {
    val n = session.cypher(g,
      "MATCH (p:Person)-[:WORKS_AT]->(o:Org) RETURN count(*) AS n")
      .collect().head.getLong(0)
    assert(n === 3L)
  }

  test("label the co-stored node does not carry yields no rows") {
    val n = session.cypher(g,
      "MATCH (p:Person)-[:WORKS_AT]->(x:Person) RETURN count(*) AS n")
      .collect().head.getLong(0)
    assert(n === 0L)
  }

  test("inline property predicates filter the co-stored endpoint") {
    val df = session.cypher(g,
      "MATCH (p:Person)-[:WORKS_AT]->(e:Employment {cname: 'Acme'}) " +
        "RETURN p.name AS name ORDER BY name")
    assert(df.collect().map(_.getString(0)).toSeq === Seq("Ann", "Cat"))
  }

  test("labels()/keys() on a co-stored node are complete") {
    val r = session.cypher(g,
      "MATCH ()-[:WORKS_AT]->(e:Employment) RETURN DISTINCT labels(e) AS ls, size(keys(e)) AS nk")
      .collect().head
    assert(r.getSeq[String](0).toSet === Set("Employment", "Org"))
    assert(r.getLong(1) === 2L)
  }

  test("undirected patterns fall back to the join plan but stay correct") {
    val n = session.cypher(g,
      "MATCH (e:Employment)-[:WORKS_AT]-(p:Person) RETURN count(*) AS n")
      .collect().head.getLong(0)
    assert(n === 3L)
  }

  test("co-stored plan matches the plain two-table graph row for row") {
    // The same data modeled WITHOUT co-storage (separate employment frame):
    // results must be identical, only the plan differs.
    val employments = works.select(col("rid"), col("cname"), col("industry"))
    val plain = PropertyGraph(
      Seq(
        NodeTableDef(Set("Person"), people, "id",
          Map("name" -> "name", "score" -> "score"), "people"),
        NodeTableDef(Set("Employment", "Org"), employments, "rid",
          Map("cname" -> "cname", "industry" -> "industry"), "employ")),
      Seq(
        RelTableDef("WORKS_AT", works, "rid", "pid", "rid",
          Map("since" -> "since"), "r_works", "people", "employ")))
    val q = "MATCH (p:Person)-[w:WORKS_AT]->(e:Employment) " +
      "RETURN p.name AS name, p.score AS score, w.since AS since, " +
      "e.cname AS company, e.industry AS industry"
    assert(dfBag(session.cypher(g, q)) === dfBag(session.cypher(plain, q)))
  }

  test("tpch fact-table expands avoid the self-join") {
    val tg = graft.tpch.TpchGraph(spark, "/root/testdata/sf0.001")
    // orders co-stores (PLACED)->(Order); lineitem co-stores
    // (HAS_ITEM)->(LineItem) and (LineItem)<-(OF_PART src).
    val expand = session.cypher(tg,
      "MATCH (c:Customer)-[:PLACED]->(o:Order) RETURN c.c_custkey AS ck, o.o_totalprice AS tp")
    assert(joinCount(expand) === 1, expand.queryExecution.optimizedPlan.toString)
    val triplet = session.cypher(tg,
      "MATCH (l:LineItem)-[:OF_PART]->(p:Part) RETURN l.l_quantity AS q, p.p_name AS pn")
    assert(joinCount(triplet) === 1, triplet.queryExecution.optimizedPlan.toString)
    val zero = session.cypher(tg,
      "MATCH ()-[:HAS_ITEM]->(l:LineItem) RETURN round(sum(l.l_quantity), 4) AS s")
    assert(joinCount(zero) === 0, zero.queryExecution.optimizedPlan.toString)
    assert(zero.collect().head.get(0) != null)
  }

  // ----- dead-endpoint liveness elision (round-5 verdict finding #1): a
  // named endpoint var that no later clause observes must behave like an
  // anonymous one — bound off the rel column, no node-table scan-union join.

  test("dead named endpoint is elided like an anonymous one") {
    val df = session.cypher(g,
      "MATCH (e:Employment)<-[:WORKS_AT]-(p) RETURN count(*) AS n")
    assert(joinCount(df) === 0, df.queryExecution.optimizedPlan.toString)
    assert(df.collect().head.getLong(0) === 3L)
  }

  test("endpoint observed by labels() keeps its node join") {
    val df = session.cypher(g,
      "MATCH (e:Employment)<-[:WORKS_AT]-(p) RETURN labels(p) AS ls, count(*) AS n")
    assert(joinCount(df) === 1, df.queryExecution.optimizedPlan.toString)
    assert(df.collect().map(r => (r.getSeq[String](0).toSet, r.getLong(1))).toSeq ===
      Seq((Set("Person"), 3L)))
  }

  test("endpoint observed only by the MATCH's own WHERE stays live") {
    val df = session.cypher(g,
      "MATCH (e:Employment)<-[:WORKS_AT]-(p) WHERE p.score > 5 RETURN count(*) AS n")
    assert(df.collect().head.getLong(0) === 2L)
  }

  test("RETURN * keeps a named endpoint live") {
    val df = session.cypher(g,
      "MATCH (e:Employment)<-[:WORKS_AT]-(p) RETURN *")
    assert(joinCount(df) >= 1, df.queryExecution.optimizedPlan.toString)
    assert(df.count() === 3L)
  }

  test("endpoint reused by a later MATCH stays live") {
    val df = session.cypher(g,
      "MATCH (e:Employment)<-[:WORKS_AT]-(p) MATCH (p)-[w:WORKS_AT]->(e2:Org) " +
        "RETURN count(*) AS n")
    assert(df.collect().head.getLong(0) === 3L)
  }

  test("multi-type rel with dead endpoint skips the all-node union") {
    val tg = graft.tpch.TpchGraph(spark, "/root/testdata/sf0.001")
    val df = session.cypher(tg,
      "MATCH (c:Customer)-[r:PLACED|FROM_NATION]->(x) RETURN type(r) AS t, count(*) AS n")
    // No join: x rides on the rel columns (without liveness elision this
    // plan unioned every node table), and with the Supplier→Nation table
    // pruned every remaining table's source space holds only Customers, so
    // the dead c rides on them too.
    assert(joinCount(df) === 0, df.queryExecution.optimizedPlan.toString)
    assert(df.collect().map(r => (r.getString(0), r.getLong(1))).toMap ===
      Map("PLACED" -> 1500L, "FROM_NATION" -> 150L))
  }
}
