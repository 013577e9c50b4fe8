package graft

import graft.api.GraftSession
import graft.graph.{NodeTableDef, PropertyGraph, RelTableDef}
import graft.pipeline.Similarity
import org.apache.spark.sql.functions._

/** Regression tests for the round-1 advisor findings (ADVICE.md): bound-node
  * constraints on edge endpoints, target-anchored var-length expand, UNION
  * header alignment, OPTIONAL MATCH null-padding, LSH dimensionality. */
class AdviceRegressionSpec extends SparkTestBase {
  import spark.implicits._

  lazy val session = new GraftSession(spark)

  // Person 1-alice, 2-bob, 3-carol; Thing 4-box. KNOWS 1->2->3; OWNS 3->4.
  lazy val graph: PropertyGraph = {
    val persons = Seq((1L, "alice"), (2L, "bob"), (3L, "carol"))
      .toDF("id", "name")
    val things = Seq((4L, "box")).toDF("id", "name")
    val knows = Seq((100L, 1L, 2L), (101L, 2L, 3L)).toDF("id", "src", "tgt")
    val owns = Seq((102L, 3L, 4L)).toDF("id", "src", "tgt")
    PropertyGraph(
      Seq(
        NodeTableDef(Set("Person"), persons, "id", Map("name" -> "name"), "n"),
        NodeTableDef(Set("Thing"), things, "id", Map("name" -> "name"), "n")),
      Seq(
        RelTableDef("KNOWS", knows, "id", "src", "tgt", Map.empty, "r", "n", "n"),
        RelTableDef("OWNS", owns, "id", "src", "tgt", Map.empty, "r", "n", "n")))
  }

  private def rows(q: String): Seq[Seq[Any]] =
    session.cypher(graph, q).collect().toSeq.map(_.toSeq)

  // --- high: label constraint on an already-bound edge endpoint ---
  test("label constraint applies to a re-bound node used as edge endpoint") {
    // Without the fix, :Thing on re-bound a is dropped and alice/bob leak in.
    val r = rows(
      """MATCH (a) WITH a MATCH (a:Thing)<-[:OWNS]-(b)
        |RETURN a.name AS an, b.name AS bn""".stripMargin)
    assert(r === Seq(Seq("box", "carol")))
  }

  test("property constraint applies to a re-bound node used as edge endpoint") {
    val r = rows(
      """MATCH (a) WITH a MATCH (a {name: 'alice'})-[:KNOWS]->(b)
        |RETURN b.name AS bn""".stripMargin)
    assert(r === Seq(Seq("bob")))
  }

  // --- medium: var-length expand with only the target bound ---
  test("var-length expand anchored from a pre-bound target") {
    val r = rows(
      """MATCH (a {name: 'carol'}) MATCH (b:Person)-[:KNOWS*1..2]->(a)
        |RETURN b.name AS bn ORDER BY bn""".stripMargin)
    assert(r === Seq(Seq("alice"), Seq("bob")))
  }

  test("var-length with both endpoints pre-bound") {
    val r = rows(
      """MATCH (a {name: 'alice'}) MATCH (c {name: 'carol'})
        |MATCH (a)-[:KNOWS*1..3]->(c) RETURN a.name AS an""".stripMargin)
    assert(r === Seq(Seq("alice")))
  }

  // --- medium: UNION header alignment across branches ---
  test("UNION of differently-labelled entity vars keeps labels and props") {
    val df = session.cypher(graph,
      "MATCH (n:Thing) RETURN n UNION MATCH (m:Person {name:'alice'}) RETURN m AS n")
    val got = df.collect().map { r =>
      val s = r.getStruct(0)
      val labels = s.getSeq[String](s.fieldIndex("_labels")).toSet
      val props = s.getStruct(s.fieldIndex("_properties"))
      (labels, props.getAs[String]("name"))
    }.toSet
    assert(got === Set((Set("Thing"), "box"), (Set("Person"), "alice")))
  }

  // --- low: OPTIONAL MATCH null-padding ---
  test("OPTIONAL MATCH as first clause returns one null row on no match") {
    val df = session.cypher(graph, "OPTIONAL MATCH (n:Nope) RETURN n.name AS x")
    val r = df.collect()
    assert(r.length === 1 && r.head.isNullAt(0))
  }

  test("OPTIONAL MATCH with no shared vars null-pads on empty rhs") {
    val r = rows(
      """MATCH (a:Thing) OPTIONAL MATCH (z:Nope)
        |RETURN a.name AS an, z.name AS zn""".stripMargin)
    assert(r === Seq(Seq("box", null)))
  }

  test("OPTIONAL MATCH with no shared vars cross-pairs on non-empty rhs") {
    val r = rows(
      """MATCH (a:Thing) OPTIONAL MATCH (z:Person)
        |RETURN a.name AS an, z.name AS zn ORDER BY zn""".stripMargin)
    assert(r === Seq(Seq("box", "alice"), Seq("box", "bob"), Seq("box", "carol")))
  }

  // --- inline props referencing outer-scope variables ---
  test("pattern property map can reference a variable projected by WITH") {
    val r = rows(
      """MATCH (p {name: 'alice'}) WITH p.name AS nm
        |MATCH (q:Person {name: nm}) RETURN q.name AS qn""".stripMargin)
    assert(r === Seq(Seq("alice")))
  }

  // --- low: LSH near-dup pairs must use the data's true dimensionality ---
  test("cosineNearDupPairs probes embedding dim from the data") {
    // 8-dim vectors (<< the old hardcoded 64): two near-identical, one far.
    val df = Seq(
      (1L, Seq(1.0, 0.0, 0.0, 0.0, 0.5, 0.0, 0.0, 0.0)),
      (2L, Seq(0.99, 0.01, 0.0, 0.0, 0.5, 0.0, 0.0, 0.0)),
      (3L, Seq(0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 1.0))
    ).toDF("id", "vec")
    val pairs = Similarity.cosineNearDupPairs(df, "id", "vec", 0.95)
      .select("id1", "id2").as[(Long, Long)].collect().toSet
    assert(pairs === Set((1L, 2L)))
  }

  // --- round-4 advice: dynamic map access must not widen value types ---
  test("literal key access on a heterogeneous map keeps the value type") {
    val r = session.cypher(graph,
      "WITH {name: 'x', age: 1} AS m RETURN m['age'] AS a, m['name'] AS n")
    val row = r.collect().head
    assert(row.getLong(0) === 1L, "age must stay a number, not become '1'")
    assert(row.getString(1) === "x")
  }

  test("missing literal key on a map literal returns null") {
    val r = session.cypher(graph,
      "WITH {name: 'x'} AS m RETURN m['nope'] AS v").collect().head
    assert(r.isNullAt(0))
  }

  test("empty map literal access returns null, not an analysis error") {
    val r = session.cypher(graph,
      "WITH {} AS m, 'k' AS k RETURN m[k] AS v").collect().head
    assert(r.isNullAt(0))
  }

  test("dynamic key access on homogeneous map dispatches by key") {
    val r = session.cypher(graph,
      "UNWIND ['a','b'] AS k WITH {a: 1, b: 2} AS m, k RETURN m[k] AS v ORDER BY v")
      .collect().map(_.getLong(0)).toSeq
    assert(r === Seq(1L, 2L))
  }

  test("percentileDisc: exact default, approx_percentile behind session conf") {
    val q = "UNWIND [1,2,3,4,5,6,7,8,9,10] AS x RETURN percentileDisc(x, 0.3) AS p"
    val exact = session.cypher(graph, q)
    assert(exact.queryExecution.analyzed.toString.contains("collect_list"),
      "exact (collect-based) percentileDisc must remain the default")
    assert(exact.collect().head.getLong(0) === 3L)
    withSQLConf("spark.graft.percentileDisc.approx" -> "true") {
      val approx = session.cypher(graph, q)
      val plan = approx.queryExecution.analyzed.toString
      assert(!plan.contains("collect_list") &&
        plan.toLowerCase.contains("percentile"),
        s"conf must switch to approx_percentile:\n$plan")
      assert(approx.collect().head.getLong(0) === 3L)
    }
  }

  // Round-12 pin: on a LARGE group the approx branch must agree with the
  // exact one within approx_percentile's contract (rank error <= n/accuracy)
  // — previously only a 10-row group was checked, which cannot distinguish
  // a broken accuracy wiring from a working one.
  test("percentileDisc approx agrees with exact within 1/accuracy on a large group") {
    val q = "UNWIND range(1, 100000) AS x RETURN percentileDisc(x, 0.37) AS p"
    val exact = session.cypher(graph, q).collect().head.getLong(0)
    assert(exact === 37000L) // ceil(0.37 * 100000) over the identity values
    for ((acc, tol) <- Seq("10000" -> 10L, "100" -> 1000L)) {
      withSQLConf("spark.graft.percentileDisc.approx" -> "true",
          "spark.graft.percentileDisc.accuracy" -> acc) {
        val approx = session.cypher(graph, q).collect().head.getLong(0)
        // Values are the identity permutation of ranks, so the rank-error
        // bound n/accuracy is directly a value bound.
        assert(math.abs(approx - exact) <= tol,
          s"accuracy=$acc: approx $approx vs exact $exact (tol $tol)")
      }
    }
  }

  test("dynamic key access on heterogeneous map is a clear compile error") {
    val e = intercept[Exception] {
      session.cypher(graph,
        "WITH {name: 'x', age: 1} AS m, 'age' AS k RETURN m[k] AS v").collect()
    }
    assert(e.getMessage.contains("heterogeneous"))
  }

  // --- round-5 medium: a single-var WHERE conjunct containing a pattern
  // comprehension must NOT be pushed onto the node scan (the scan compiler
  // cannot materialize subqueries; materializePatternComps handles it).
  test("pattern-comprehension conjunct in WHERE is not pushed onto the scan") {
    val r = rows(
      """MATCH (a:Person) WHERE size([(a)-[:KNOWS]->(b) | b.name]) = 1
        |RETURN a.name AS an ORDER BY an""".stripMargin)
    assert(r === Seq(Seq("alice"), Seq("bob")))
  }

  // --- round-7 medium: EXPLAIN recursed into cypher(), which ran
  // handleCatalogDdl first — EXPLAIN CATALOG DROP GRAPH actually dropped
  // the graph and EXPLAIN CATALOG CREATE GRAPH actually stored it.
  test("EXPLAIN/PROFILE never execute catalog DDL side effects") {
    val s = new GraftSession(spark)
    s.store("keepme", graph)
    val dropPlan = s.cypher(graph, "EXPLAIN CATALOG DROP GRAPH keepme")
    assert(dropPlan.columns.toSeq === Seq("plan"))
    assert(s.catalog.contains("keepme"), "EXPLAIN must not drop the graph")
    s.cypher(graph,
      "PROFILE CATALOG CREATE GRAPH ghost { FROM GRAPH keepme RETURN GRAPH }")
    assert(!s.catalog.contains("ghost"), "EXPLAIN must not create the graph")
    s.cypher(graph, "EXPLAIN CATALOG DROP VIEW someview")
    assert(s.viewNames.isEmpty)
    // Any non-query statement: described, not run (CREATE CONSTRAINT
    // would raise if it ran).
    val constraintPlan = s.cypher(graph,
      "EXPLAIN CREATE CONSTRAINT c FOR (n:Person) REQUIRE n.name IS UNIQUE")
    assert(constraintPlan.columns.toSeq === Seq("plan"))
  }

  test("update / updateWithResult / cypherGraph refuse non-query statements by kind") {
    val s = new GraftSession(spark)
    s.store("keepme", graph)
    val entries = Seq[(String, String => Any)](
      "update" -> (q => s.update(graph, q)),
      "updateWithResult" -> (q => s.updateWithResult(graph, q)),
      "cypherGraph" -> (q => s.cypherGraph(graph, q)))
    for ((op, run) <- entries) {
      val e = intercept[graft.api.CypherException] {
        run("CATALOG DROP GRAPH keepme")
      }
      assert(e.detail === graft.api.CypherError.InvalidClauseComposition, op)
      assert(e.getMessage.contains(op) && e.getMessage.contains("CatalogDrop"),
        e.getMessage)
    }
    assert(s.catalog.contains("keepme"))
  }

  // --- round-13 medium (ADVICE r13): in a MIXED literal list, a
  // non-entity needle against the non-entity ITEMS must use real equality
  // — the old `case _` arm caught (None, None) pairs and compiled them to
  // cross-type-class FALSE, so `1 IN [n, 1]` returned false.
  test("non-entity needle IN a mixed entity/literal list uses real equality") {
    val r = rows(
      "MATCH (n:Person {name: 'alice'}) RETURN 1 IN [n, 1] AS hit, " +
        "2 IN [n, 1] AS miss, n IN [n, 1] AS self")
    assert(r === Seq(Seq(true, false, true)))
  }

  test("null and string needles against mixed lists keep 3VL/cross-class") {
    val r = rows(
      "MATCH (n:Person {name: 'alice'}) RETURN 'x' IN [n, 'x'] AS s, " +
        "null IN [n, 1] AS nu")
    assert(r === Seq(Seq(true, null)))
  }

  // --- round-14 (VERDICT r13 what's-wrong #4): a user map literal whose
  // key set equals the FULL entity marker shape ({_id, _labels, ...}) is
  // still a plain map — the MapLit compiler stamps field metadata on its
  // _id field, so equality compares every field, not entity identity.
  test("map literal shaped like the full entity marker set stays a map") {
    val r = rows(
      "RETURN {_id: 1, _labels: ['X'], name: 'a'} = " +
        "{_id: 1, _labels: ['X'], name: 'b'} AS eqDiff, " +
        "{_id: 1, _labels: ['X']} = {_id: 1, _labels: ['X']} AS eqSame")
    // entity-identity semantics would make eqDiff TRUE (same _id)
    assert(r === Seq(Seq(false, true)))
  }

  test("rel-shaped map literal ({_id,_src,_tgt,_type}) stays a map") {
    val r = rows(
      "RETURN {_id: 1, _src: 2, _tgt: 3, _type: 'R', w: 1} = " +
        "{_id: 1, _src: 2, _tgt: 3, _type: 'R', w: 2} AS eqDiff")
    assert(r === Seq(Seq(false)))
  }

  test("entity values kept in maps still compare by identity") {
    // {node: n} captures the full entity struct; the tag must not leak
    // onto real entities — n-in-a-map equality stays identity-based.
    val r = rows(
      "MATCH (n:Person {name: 'alice'}) " +
        "RETURN {node: n} = {node: n} AS same")
    assert(r === Seq(Seq(true)))
  }

  // --- round-7 low: valueType() on a node/relationship variable reported
  // "INTEGER" (the id slot's physical type) instead of the entity type.
  test("valueType reports NODE/RELATIONSHIP for entity variables") {
    val r = rows(
      "MATCH (a:Person)-[r:KNOWS]->(b) " +
        "RETURN valueType(a) AS ta, valueType(r) AS tr LIMIT 1")
    // graft's documented valueType divergence: base name, no nullability
    // suffix (the same convention as every other valueType result here)
    assert(r === Seq(Seq("NODE", "RELATIONSHIP")))
  }
}
