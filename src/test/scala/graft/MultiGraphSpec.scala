package graft

import graft.api.GraftSession
import graft.graph.{NodeTableDef, PropertyGraph, RelTableDef}
import graft.tpch.TpchGraph
import org.apache.spark.sql.functions._

class MultiGraphSpec extends SparkTestBase {
  import spark.implicits._

  lazy val session = new GraftSession(spark)

  private def miniGraph(names: Seq[String], label: String): PropertyGraph = {
    val df = names.zipWithIndex.map { case (n, i) => (i.toLong, n) }
      .toDF("id", "name")
    PropertyGraph(Seq(
      NodeTableDef(Set(label), df, "id", Map("name" -> "name"), "n")))
  }

  test("graph unionAll retags ids so elements never collide") {
    val g1 = miniGraph(Seq("a", "b"), "X")
    val g2 = miniGraph(Seq("c", "d"), "X")
    val u = g1.unionAll(g2)
    val rows = session.cypher(u, "MATCH (x:X) RETURN id(x) AS i, x.name AS n")
      .collect()
    assert(rows.length === 4)
    assert(rows.map(_.getLong(0)).distinct.length === 4, "ids must be unique")
  }

  test("FROM GRAPH switches the ambient graph mid-query") {
    session.store("left", miniGraph(Seq("a", "b"), "X"))
    session.store("right", miniGraph(Seq("c", "d", "e"), "X"))
    val got = session.cypher(miniGraph(Seq.empty, "X"),
      "FROM GRAPH right MATCH (x:X) RETURN count(*) AS n")
      .collect().head.getLong(0)
    assert(got === 3L)
  }

  test("bare RETURN GRAPH returns the working graph") {
    // Without CONSTRUCT (the reference's ReturnGraph operator): ambient…
    val g0 = miniGraph(Seq("a", "b"), "X")
    val same = session.cypherGraph(g0, "RETURN GRAPH")
    assert(session.cypher(same, "MATCH (x:X) RETURN count(*) AS n")
      .collect().head.getLong(0) === 2L)
    // …after a FROM GRAPH switch…
    session.store("rgsrc", miniGraph(Seq("c", "d", "e"), "X"))
    val switched = session.cypherGraph(g0, "FROM GRAPH rgsrc RETURN GRAPH")
    assert(session.cypher(switched, "MATCH (x:X) RETURN count(*) AS n")
      .collect().head.getLong(0) === 3L)
    // …and after writes the working graph IS the written state.
    val written = session.cypherGraph(g0,
      "CREATE (:X {name: 'z'}) RETURN GRAPH")
    assert(session.cypher(written, "MATCH (x:X) RETURN count(*) AS n")
      .collect().head.getLong(0) === 3L)
    // The tabular result of a graph-returning query is zero rows.
    assert(session.cypher(g0, "MATCH (x:X) RETURN GRAPH").count() === 0L)
  }

  test("CONSTRUCT clones matched nodes and creates new relationships") {
    val g = TpchGraph(spark, "/root/testdata/sf0.001")
    val built = session.cypherGraph(g,
      """MATCH (n:Nation)-[:IN_REGION]->(r:Region)
        |CONSTRUCT NEW (n)-[:GROUPED_IN {via: 'region'}]->(r)
        |RETURN GRAPH""".stripMargin)
    // built graph: 25 nations + 5 regions, 25 GROUPED_IN rels
    assert(session.cypher(built, "MATCH (x) RETURN count(*) AS n")
      .collect().head.getLong(0) === 30L)
    val rels = session.cypher(built,
      "MATCH (a:Nation)-[g:GROUPED_IN]->(b:Region) " +
        "RETURN a.n_name AS n, g.via AS v, b.r_name AS r")
    assert(rels.count() === 25L)
    assert(rels.collect().forall(_.getString(1) == "region"))
  }

  test("CONSTRUCT creates fresh nodes per row with evaluated properties") {
    val g = miniGraph(Seq("a", "b", "c"), "X")
    val built = session.cypherGraph(g,
      "MATCH (x:X) CONSTRUCT NEW (:Copy {orig: x.name, up: toUpper(x.name)}) " +
        "RETURN GRAPH")
    val rows = session.cypher(built,
      "MATCH (c:Copy) RETURN c.orig AS o, c.up AS u ORDER BY o")
      .collect().map(r => (r.getString(0), r.getString(1))).toSeq
    assert(rows === Seq(("a", "A"), ("b", "B"), ("c", "C")))
  }

  test("CONSTRUCT SET adds properties and labels") {
    val g = miniGraph(Seq("a", "b"), "X")
    val built = session.cypherGraph(g,
      "MATCH (x:X) CONSTRUCT NEW (c:Copy {orig: x.name}) " +
        "SET c.stamped = true, c:Extra RETURN GRAPH")
    val rows = session.cypher(built,
      "MATCH (c:Copy:Extra) WHERE c.stamped RETURN c.orig AS o ORDER BY o")
      .collect().map(_.getString(0)).toSeq
    assert(rows === Seq("a", "b"))
  }

  test("CONSTRUCT ON merges the base graph with new elements") {
    val g = miniGraph(Seq("a", "b"), "X")
    session.store("base", g)
    val built = session.cypherGraph(g,
      "MATCH (x:X) CONSTRUCT ON base NEW (x)-[:TAGGED]->(:Tag {of: x.name}) " +
        "RETURN GRAPH")
    // base nodes + 2 fresh Tag nodes
    assert(session.cypher(built, "MATCH (n) RETURN count(*) AS c")
      .collect().head.getLong(0) === 4L)
    // cloned x ids must match the base graph's, so this traversal works:
    val got = session.cypher(built,
      "MATCH (x:X)-[:TAGGED]->(t:Tag) RETURN x.name AS n, t.of AS o")
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(got === Set(("a", "a"), ("b", "b")))
  }

  test("createGraph registers a constructed graph in the catalog") {
    val g = miniGraph(Seq("a"), "X")
    session.createGraph("copies", g,
      "MATCH (x:X) CONSTRUCT NEW (:C {v: x.name}) RETURN GRAPH")
    assert(session.cypher(session.graphByName("copies"),
      "MATCH (c:C) RETURN c.v AS v").collect().head.getString(0) === "a")
  }

  test("exists pattern predicate in value position") {
    val g = TpchGraph(spark, "/root/testdata/sf0.001")
    val rows = session.cypher(g,
      "MATCH (o:Order) RETURN ((o)-[:HAS_ITEM]->()) AS has_items, " +
        "count(*) AS n")
      .collect().map(r => (r.getBoolean(0), r.getLong(1))).toMap
    assert(rows.values.sum === 1500L)
    assert(rows.keySet === Set(true, false))
  }

  test("disjunction containing a pattern predicate") {
    val g = TpchGraph(spark, "/root/testdata/sf0.001")
    val n = session.cypher(g,
      "MATCH (o:Order) WHERE (o)-[:HAS_ITEM]->() OR o.o_totalprice > 0 " +
        "RETURN count(*) AS n").collect().head.getLong(0)
    assert(n === 1500L)
  }

  test("ORDER BY an aggregate expression") {
    val g = TpchGraph(spark, "/root/testdata/sf0.001")
    val rows = session.cypher(g,
      "MATCH (o:Order) RETURN o.o_orderstatus AS st, count(*) AS n " +
        "ORDER BY count(*) DESC, st LIMIT 2").collect()
    assert(rows.length === 2)
    assert(rows(0).getLong(1) >= rows(1).getLong(1))
  }

  test("duration arithmetic on dates and timestamps") {
    val g = TpchGraph(spark, "/root/testdata/sf0.001")
    val r = session.cypher(g,
      "RETURN date('2024-01-30') + duration({days: 3}) AS d, " +
        "localdatetime('2024-01-01 00:00:00') + duration({hours: 25}) AS t, " +
        "date('2024-03-15') - duration({months: 1, days: 14}) AS e")
      .collect().head
    assert(r.getDate(0).toString === "2024-02-02")
    assert(r.getTimestamp(1).toString.startsWith("2024-01-02 01:00:00"))
    assert(r.getDate(2).toString === "2024-02-01")
  }

  test("nodes()/relationships() API returns element structs") {
    val g = TpchGraph(spark, "/root/testdata/sf0.001")
    assert(session.nodes(g, Seq("Region")).count() === 5L)
    val r = session.relationships(g, Seq("IN_REGION")).collect().head
      .getStruct(0)
    assert(r.getAs[String]("_type") === "IN_REGION")
    assert(session.relationships(g).count() > 10000L)
  }

  test("constructed graph round-trips through the FS store") {
    val g = TpchGraph(spark, "/root/testdata/sf0.001")
    val built = session.cypherGraph(g,
      "MATCH (n:Nation)-[:IN_REGION]->(r:Region) " +
        "CONSTRUCT NEW (n)-[:GROUPED]->(r) RETURN GRAPH")
    val dir = java.nio.file.Files.createTempDirectory("graft_ct").toString
    graft.sources.FsGraphSource.store(built, dir)
    val loaded = graft.sources.FsGraphSource.load(spark, dir)
    assert(session.cypher(loaded,
      "MATCH (:Nation)-[:GROUPED]->(:Region) RETURN count(*) AS n")
      .collect().head.getLong(0) === 25L)
  }

  test("null propagation through scalar functions") {
    val g = TpchGraph(spark, "/root/testdata/sf0.001")
    val r = session.cypher(g,
      "RETURN toUpper(null) AS a, size(null) AS b, abs(null) AS c, " +
        "substring(null, 0, 2) AS d, null + 1 AS e, " +
        "coalesce(null, null, 7) AS f")
      .collect().head
    assert(r.isNullAt(0) && r.isNullAt(2) && r.isNullAt(3) && r.isNullAt(4))
    assert(r.getLong(5) === 7L)
  }

  test("temporal accessors and constructors") {
    val g = TpchGraph(spark, "/root/testdata/sf0.001")
    val rows = session.cypher(g,
      "MATCH (o:Order) RETURN o.o_orderdate.year AS y, count(*) AS n " +
        "ORDER BY y").collect()
    assert(rows.map(_.getLong(0)).forall(y => y >= 1995 && y <= 2001))
    val d = session.cypher(g,
      "RETURN date('2024-03-05') AS d, date('2024-03-05').month AS m")
      .collect().head
    assert(d.getDate(0).toString === "2024-03-05")
    assert(d.getLong(1) === 3L)
  }

  test("cypher date string forms: compact, week, quarter, ordinal, maps") {
    // Expected values from the reference's TemporalTests.scala:207-227.
    val g = miniGraph(Seq("a"), "X")
    val cases = Seq(
      "date('2010-10-10')" -> "2010-10-10",
      "date('20101010')" -> "2010-10-10",
      "date('2010-12')" -> "2010-12-01",
      "date('201012')" -> "2010-12-01",
      "date('2015-W30-2')" -> "2015-07-21",
      "date('2015W302')" -> "2015-07-21",
      "date('2015-W30')" -> "2015-07-20",
      "date('2015-Q2-60')" -> "2015-05-30",
      "date('2015Q2')" -> "2015-04-01",
      "date('2015-202')" -> "2015-07-21",
      "date('2010')" -> "2010-01-01",
      "date({year: 2015, month: 10, day: 12})" -> "2015-10-12",
      "date({year: 2015})" -> "2015-01-01")
    cases.foreach { case (expr, want) =>
      val got = session.cypher(g, s"RETURN $expr AS d")
        .collect().head.getDate(0).toString
      assert(got === want, s"for $expr")
    }
    val ldt = session.cypher(g,
      "RETURN localdatetime('2015-07-21T21:40:32.142') AS t")
      .collect().head.getTimestamp(0).toString
    assert(ldt === "2015-07-21 21:40:32.142")
  }

  test("temporal accessors: ISO dayOfWeek, weekYear, dayOfQuarter, sub-second") {
    // Expected values from the reference's TemporalTests accessor section.
    val g = miniGraph(Seq("a"), "X")
    val r = session.cypher(g,
      "RETURN date('2019-05-10').dayOfWeek AS dow, " +
        "date('1813-01-01').weekYear AS wy, " +
        "date('2019-01-01').dayOfQuarter AS doq, " +
        "localdatetime('2019-05-10T10:10:12.113').millisecond AS ms, " +
        "localdatetime('2019-05-10T10:10:12.113').microsecond AS us")
      .collect().head
    assert(r.getLong(0) === 5L)  // 2019-05-10 is a Friday; ISO Monday=1
    assert(r.getLong(1) === 1812L)
    assert(r.getLong(2) === 1L)
    assert(r.getLong(3) === 113L)
    assert(r.getLong(4) === 113000L)
  }

  test("duration ISO-8601 string literals and duration aggregates") {
    val g = miniGraph(Seq("a"), "X")
    val r = session.cypher(g,
      "RETURN duration('P1Y2M3DT4H5M6.5S') AS d").collect().head.getStruct(0)
    assert(r.getLong(0) === 14L)       // months
    assert(r.getLong(1) === 3L)        // days
    assert(r.getLong(2) === (4 * 3600L + 5 * 60L + 6) * 1000000L + 500000L)
    val agg = session.cypher(g,
      "UNWIND [duration('P1D'), duration('P2DT12H')] AS d " +
        "RETURN sum(d) AS s, min(d) AS mn, max(d) AS mx").collect().head
    assert(agg.getStruct(0).getLong(1) === 3L)
    assert(agg.getStruct(0).getLong(2) === 12 * 3600L * 1000000L)
    assert(agg.getStruct(1).getLong(1) === 1L)
    assert(agg.getStruct(2).getLong(1) === 2L)
    val neg = session.cypher(g, "RETURN duration('-PT30M') AS d")
      .collect().head.getStruct(0)
    assert(neg.getLong(2) === -30 * 60L * 1000000L)
    // Ordering compares total length (avg-month), not struct fields:
    // 1 month (~30.44 days) < 31 days even though months-field is larger.
    val ord = session.cypher(g,
      "UNWIND [duration({days: 31}), duration({months: 1})] AS d " +
        "RETURN min(d) AS mn, max(d) AS mx").collect().head
    assert(ord.getStruct(0).getLong(0) === 1L) // min is the 1-month value
    assert(ord.getStruct(1).getLong(1) === 31L) // max is the 31-day value
  }

  test("WITH after aggregation supports pattern-predicate WHERE") {
    val g = TpchGraph(spark, "/root/testdata/sf0.001")
    val n = session.cypher(g,
      """MATCH (c:Customer) WITH c, count(*) AS cnt
        |WHERE exists((c)-[:PLACED]->()) RETURN count(*) AS n""".stripMargin)
      .collect().head.getLong(0)
    assert(n === 150L)
    val none = session.cypher(g,
      """MATCH (c:Customer) WITH c, count(*) AS cnt
        |WHERE NOT exists((c)-[:PLACED]->()) RETURN count(*) AS n""".stripMargin)
      .collect().head.getLong(0)
    assert(none === 0L)
  }

  test("CATALOG CREATE GRAPH stores the constructed graph on the session") {
    // CatalogDDLTests:47.
    session.store("cg_foo", miniGraph(Seq("x"), "A"))
    val r = session.cypher(miniGraph(Seq.empty, "A"),
      "CATALOG CREATE GRAPH cg_bar { FROM GRAPH cg_foo MATCH (a:A) CONSTRUCT CLONE a RETURN GRAPH }")
    assert(r.collect().isEmpty) // DDL returns no records
    val n = session.cypher(session.graphByName("cg_bar"),
      "MATCH (a:A) RETURN a.name AS nm").collect().map(_.getString(0)).toSeq
    assert(n === Seq("x"))
  }

  test("CATALOG CREATE VIEW applies recursively (inc(inc(inc(inc(a)))))") {
    // CatalogDDLTests:175 — each application adds 1 to the node's val.
    import spark.implicits._
    val base = PropertyGraph(Seq(NodeTableDef(Set("A"),
      Seq((0L, 0L)).toDF("id", "val"), "id", Map("val" -> "val"), "n")))
    session.store("cv_a", base)
    session.cypher(base,
      """CATALOG CREATE VIEW inc($g1) {
        | FROM GRAPH $g1
        | MATCH (a:A)
        | CONSTRUCT CREATE (:A { val: a.val + 1 })
        | RETURN GRAPH
        |}""".stripMargin)
    assert(session.viewNames.contains("inc"))
    val got = session.cypher(base,
      "FROM GRAPH inc(inc(inc(inc(cv_a)))) MATCH (n) RETURN n.val AS val")
      .collect().map(_.getLong(0)).toSeq
    assert(got === Seq(4L))
  }

  test("CATALOG CREATE VIEW with two graph parameters") {
    // CatalogDDLTests:243-style — union of two parameter graphs.
    val g1 = miniGraph(Seq("l"), "L")
    val g2 = miniGraph(Seq("r"), "R")
    session.store("cv_l", g1)
    session.store("cv_r", g2)
    session.cypher(g1,
      """CATALOG CREATE VIEW both($a, $b) {
        | FROM GRAPH $a
        | MATCH (x:L)
        | CONSTRUCT ON $b
        |   CLONE x
        | RETURN GRAPH
        |}""".stripMargin)
    val names = session.cypher(g1,
      "FROM GRAPH both(cv_l, cv_r) MATCH (n) RETURN n.name AS nm ORDER BY nm")
      .collect().map(_.getString(0)).toSeq
    assert(names === Seq("l", "r"))
  }

  test("qualified graph names: session namespace, registered sources, escaped names") {
    // QualifiedGraphNameAcceptance — ns.graph forms with backtick escapes.
    val g = miniGraph(Seq("q1", "q2"), "Q")
    session.store("qgn_plain", g)
    session.store("my best graph", g)
    val viaSession = session.cypher(g,
      "FROM GRAPH session.qgn_plain MATCH (n:Q) RETURN count(*) AS c")
      .collect().head.getLong(0)
    assert(viaSession === 2L)
    val viaEscaped = session.cypher(g,
      "FROM GRAPH session.`my best graph` MATCH (n:Q) RETURN count(*) AS c")
      .collect().head.getLong(0)
    assert(viaEscaped === 2L)
    session.registerSource("fixture", _ => g)
    val viaSource = session.cypher(g,
      "FROM GRAPH fixture.anything MATCH (n:Q) RETURN count(*) AS c")
      .collect().head.getLong(0)
    assert(viaSource === 2L)
  }

  test("CATALOG DROP VIEW is idempotent") {
    val g = miniGraph(Seq.empty, "X")
    session.cypher(g, "CATALOG CREATE VIEW dropme($g1) { FROM GRAPH $g1 MATCH (n) CONSTRUCT CLONE n RETURN GRAPH }")
    assert(session.viewNames.contains("dropme"))
    session.cypher(g, "CATALOG DROP VIEW dropme")
    assert(!session.viewNames.contains("dropme"))
    session.cypher(g, "CATALOG DROP VIEW dropme") // second drop: no error
  }

  test("CATALOG CREATE GRAPH / VIEW / DROP accept backticked names") {
    val sess = new GraftSession(spark)
    val g = miniGraph(Seq("x"), "A")
    sess.store("bt_src", g)
    def count(ref: String): Long = sess.cypher(g,
      s"FROM GRAPH $ref MATCH (a:A) RETURN count(*) AS n").collect().head.getLong(0)
    sess.cypher(g, "CATALOG CREATE GRAPH `bt` { FROM GRAPH bt_src RETURN GRAPH }")
    assert(count("bt") === 1L)
    assert(count("`bt`") === 1L)
    sess.cypher(g, "CATALOG CREATE VIEW `bt view`($g1) " +
      "{ FROM GRAPH $g1 MATCH (a:A) CONSTRUCT CLONE a RETURN GRAPH }")
    assert(count("`bt view`(`bt`)") === 1L)
    sess.cypher(g, "CATALOG DROP GRAPH `bt`")
    sess.cypher(g, "CATALOG DROP VIEW `bt view`")
    assert(!sess.catalog.contains("bt"))
    assert(sess.viewNames.isEmpty)
  }

  test("a view body binds its graph parameters, not their spelling in literals") {
    val sess = new GraftSession(spark)
    val g = miniGraph(Seq("x"), "A")
    sess.store("vb_a", g)
    sess.cypher(g, "CATALOG CREATE VIEW lit($g1) { FROM GRAPH $g1 MATCH (a:A) " +
      "CONSTRUCT CREATE (:T {s: '$g1'}) RETURN GRAPH }")
    assert(sess.cypher(g, "FROM GRAPH lit(vb_a) MATCH (t:T) RETURN t.s AS s")
      .collect().map(_.getString(0)).toSeq === Seq("$g1"))
  }

  test("the catalog holds no temporary graphs while a view resolves") {
    val sess = new GraftSession(spark)
    val g = miniGraph(Seq("x"), "A")
    sess.store("vc_a", g)
    val before = sess.catalog.keySet.toSet
    var seen = Set.empty[String]
    sess.registerSource("probe", _ => { seen = sess.catalog.keySet.toSet; g })
    sess.cypher(g, "CATALOG CREATE VIEW vc($g1) { FROM GRAPH probe.x " +
      "MATCH (a:A) CONSTRUCT ON $g1 CLONE a RETURN GRAPH }")
    sess.cypher(g, "FROM GRAPH vc(vc_a) MATCH (a:A) RETURN count(*) AS n").collect()
    assert(seen === before)
  }

  test("CATALOG CREATE VIEW rejects a body with a syntax error") {
    val sess = new GraftSession(spark)
    intercept[graft.api.CypherException] {
      sess.cypher(miniGraph(Seq.empty, "A"),
        "CATALOG CREATE VIEW bad($g1) { MATCH (a:A RETURN GRAPH }")
    }
    assert(sess.viewNames.isEmpty)
  }

  test("CONSTRUCT CREATE syntax and standalone construction") {
    // MultipleGraphTests "should construct a graph" — CREATE == NEW.
    val g = miniGraph(Seq.empty, "X")
    val built = session.cypherGraph(g,
      "CONSTRUCT CREATE (:A)-[:KNOWS]->(:B) RETURN GRAPH")
    assert(session.cypher(built, "MATCH (n) RETURN count(*) AS n")
      .collect().head.getLong(0) === 2L)
    assert(session.cypher(built, "MATCH (:A)-[:KNOWS]->(:B) RETURN count(*) AS n")
      .collect().head.getLong(0) === 1L)
    // Multiple connected CREATE clauses share bound vars.
    val built2 = session.cypherGraph(g,
      "CONSTRUCT CREATE (a:A)-[:KNOWS]->(b:B) CREATE (b)-[:KNOWS]->(c:C) RETURN GRAPH")
    assert(session.cypher(built2, "MATCH (n) RETURN count(*) AS n")
      .collect().head.getLong(0) === 3L)
    assert(session.cypher(built2, "MATCH ()-[e:KNOWS]->() RETURN count(*) AS n")
      .collect().head.getLong(0) === 2L)
  }

  test("CONSTRUCT COPY OF creates fresh elements with inherited labels/props") {
    // MultipleGraphTests "creates multiple copies of the same node".
    val g = miniGraph(Seq("orig"), "X")
    val built = session.cypherGraph(g,
      "MATCH (a:X) CONSTRUCT CREATE (f COPY OF a)-[:FOO]->(g COPY OF a) RETURN GRAPH")
    val rows = session.cypher(built, "MATCH (n) RETURN id(n) AS i, n.name AS nm")
      .collect()
    assert(rows.length === 2)
    assert(rows.map(_.getLong(0)).distinct.length === 2, "fresh distinct ids")
    assert(rows.forall(_.getString(1) == "orig"), "copied properties")
    assert(session.cypher(built, "MATCH (:X)-[:FOO]->(:X) RETURN count(*) AS n")
      .collect().head.getLong(0) === 1L)
  }

  test("CONSTRUCT CLONE with alias lands the clone in the graph") {
    // MultipleGraphTests "CLONEs with an alias".
    val g = miniGraph(Seq("a", "b"), "X")
    val built = session.cypherGraph(g,
      "MATCH (n:X) CONSTRUCT CLONE n AS m RETURN GRAPH")
    val names = session.cypher(built, "MATCH (v:X) RETURN v.name AS nm")
      .collect().map(_.getString(0)).toSeq.sorted
    assert(names === Seq("a", "b"))
  }

  test("CONSTRUCT clone keeps per-row label combinations") {
    // Mixed-label source: MATCH (a) binds X and Y nodes; the clone must
    // land each row under its own label combination, not one static set.
    val xs = Seq((1L, "a"), (2L, "b")).toDF("id", "name")
    val ys = Seq((3L, "c")).toDF("id", "name")
    val g = PropertyGraph(Seq(
      NodeTableDef(Set("X"), xs, "id", Map("name" -> "name"), "n"),
      NodeTableDef(Set("Y"), ys, "id", Map("name" -> "name"), "n")))
    val built = session.cypherGraph(g, "MATCH (a) CONSTRUCT NEW (a) RETURN GRAPH")
    assert(session.cypher(built, "MATCH (v:X) RETURN count(*) AS n")
      .collect().head.getLong(0) === 2L)
    assert(session.cypher(built, "MATCH (v:Y) RETURN v.name AS n")
      .collect().map(_.getString(0)).toSeq === Seq("c"))
    assert(session.cypher(built, "MATCH (v) RETURN count(*) AS n")
      .collect().head.getLong(0) === 3L)
  }

  test("plans() exposes printable logical and physical plans") {
    // parquet-backed graph: a local Seq would constant-fold to a
    // LocalRelation and leave nothing to see in the optimized plan
    val g = graft.tpch.TpchGraph(spark, "/root/testdata/sf0.001")
    val (logical, physical) = session.plans(g,
      "MATCH (c:Customer) WHERE c.c_custkey > 10 RETURN c.c_custkey AS k")
    // the filter must be visible in the optimized logical plan and the
    // physical plan must be the formatted (numbered-operator) rendering
    assert(logical.contains("Filter"), logical)
    assert(physical.contains("(1)"), physical)
    assert(session.explain(g, "MATCH (c:Customer) RETURN c.c_custkey AS k")
      .contains("Project"))
  }
}
