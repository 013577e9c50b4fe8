package graft

import graft.api.GraftSession
import graft.graph.{NodeTableDef, PropertyGraph, RelTableDef}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.{LeftAnti, LeftSemi}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Join}

/** Label-pruned pattern scans: an expand reads only the rel tables whose
  * endpoint id spaces can hold the pattern's endpoint labels (the
  * reference's ScanGraph.scanOperator table selection), an OPTIONAL MATCH
  * plans its shared variables id-only, semi/anti joins read their match
  * side without a dedup pass, and a sub-pattern (pattern predicate,
  * comprehension, QPP step) skips exactly the node scans nothing reads.
  * The plan-shape tests count the source tables a plan reads, in the style
  * of WriteScaleSpec; the others pin the results of the edge cases the
  * pruning must respect. */
class LabelPruningSpec extends SparkTestBase {
  import spark.implicits._

  lazy val session = new GraftSession(spark)

  // A TPC-H-shaped graph (TpchGraph's tables, rels and id spaces) small
  // enough to check by hand: FROM_NATION is stored in two tables,
  // Customer→Nation and Supplier→Nation.
  lazy val region = Seq((0L, "EUROPE"), (1L, "ASIA")).toDF("r_regionkey", "r_name")
  lazy val nation = Seq((0L, "FRANCE", 0L), (1L, "GERMANY", 0L), (2L, "JAPAN", 1L),
    (3L, "CHINA", 1L)).toDF("n_nationkey", "n_name", "n_regionkey")
  lazy val customer = Seq((1L, "c1", 0L), (2L, "c2", 0L), (3L, "c3", 2L))
    .toDF("c_custkey", "c_name", "c_nationkey")
  lazy val supplier = Seq((1L, "s1", 0L), (2L, "s2", 0L), (3L, "s3", 1L))
    .toDF("s_suppkey", "s_name", "s_nationkey")
  lazy val part = Seq((1L, "p1"), (2L, "p2")).toDF("p_partkey", "p_name")
  lazy val orders = Seq((10L, 1L), (11L, 1L), (12L, 3L)).toDF("o_orderkey", "o_custkey")
  lazy val lineitem = Seq((100L, 10L, 1L, 1L), (101L, 10L, 2L, 3L), (102L, 12L, 1L, 2L))
    .toDF("l_id", "l_orderkey", "l_partkey", "l_suppkey")

  lazy val tpch: PropertyGraph = {
    def props(df: DataFrame) = df.columns.map(c => c -> c).toMap
    PropertyGraph(
      Seq(
        NodeTableDef(Set("Region"), region, "r_regionkey", props(region), "region"),
        NodeTableDef(Set("Nation"), nation, "n_nationkey", props(nation), "nation"),
        NodeTableDef(Set("Customer"), customer, "c_custkey", props(customer), "customer"),
        NodeTableDef(Set("Supplier"), supplier, "s_suppkey", props(supplier), "supplier"),
        NodeTableDef(Set("Part"), part, "p_partkey", props(part), "part"),
        NodeTableDef(Set("Order"), orders, "o_orderkey", props(orders), "orders"),
        NodeTableDef(Set("LineItem"), lineitem, "l_id", props(lineitem), "lineitem")),
      Seq(
        RelTableDef("IN_REGION", nation, "n_nationkey", "n_nationkey",
          "n_regionkey", Map.empty, "r_in_region", "nation", "region"),
        RelTableDef("FROM_NATION", customer, "c_custkey", "c_custkey",
          "c_nationkey", Map.empty, "r_cust_nation", "customer", "nation"),
        RelTableDef("FROM_NATION", supplier, "s_suppkey", "s_suppkey",
          "s_nationkey", Map.empty, "r_supp_nation", "supplier", "nation"),
        RelTableDef("PLACED", orders, "o_orderkey", "o_custkey", "o_orderkey",
          Map.empty, "r_placed", "customer", "orders"),
        RelTableDef("HAS_ITEM", lineitem, "l_id", "l_orderkey", "l_id",
          Map.empty, "r_has_item", "orders", "lineitem"),
        RelTableDef("OF_PART", lineitem, "l_id", "l_id", "l_partkey",
          Map.empty, "r_of_part", "lineitem", "part"),
        RelTableDef("BY_SUPPLIER", lineitem, "l_id", "l_id", "l_suppkey",
          Map.empty, "r_by_supplier", "lineitem", "supplier")))
  }

  /** How many leaves of `df`'s analyzed plan read `table`. */
  private def leaves(df: DataFrame, table: DataFrame): Int = {
    val source = table.queryExecution.analyzed.collectLeaves()
    df.queryExecution.analyzed.collectLeaves()
      .count(l => source.exists(_.sameResult(l)))
  }

  /** A dedup (Aggregate) directly under a semi or anti join. */
  private def dedupUnderSemiJoin(df: DataFrame): Boolean =
    df.queryExecution.optimizedPlan.exists {
      case j: Join if j.joinType == LeftSemi || j.joinType == LeftAnti =>
        j.children.exists(_.isInstanceOf[Aggregate])
      case _ => false
    }

  private def count(g: PropertyGraph, q: String): Long =
    session.cypher(g, q).collect().head.getLong(0)

  // ------------------------------------------------------------ plan shape

  test("typed hop with a Supplier endpoint reads no Customer table") {
    val df = session.cypher(tpch,
      "MATCH (n:Nation)<-[:FROM_NATION]-(s:Supplier) " +
        "RETURN n.n_name AS nation, s.s_name AS name")
    assert(leaves(df, customer) === 0, df.queryExecution.analyzed)
    assert(dfBag(df) === bag(Seq(Seq("FRANCE", "s1"), Seq("FRANCE", "s2"),
      Seq("GERMANY", "s3"))))
  }

  test("OPTIONAL MATCH plans its shared variable id-only") {
    val df = session.cypher(tpch,
      "MATCH (n:Nation) OPTIONAL MATCH (s:Supplier)-[:FROM_NATION]->(n) " +
        "RETURN n.n_name AS nation, count(s.s_suppkey) AS n_supp")
    Seq(region, customer, part, orders, lineitem).foreach { t =>
      assert(leaves(df, t) === 0, df.queryExecution.analyzed)
    }
    assert(dfBag(df) === bag(Seq(Seq("FRANCE", 2L), Seq("GERMANY", 1L),
      Seq("JAPAN", 0L), Seq("CHINA", 0L))))
  }

  test("EXISTS, NOT EXISTS and *0..1 read their semi/anti side without a dedup") {
    val exists = session.cypher(tpch,
      "MATCH (o:Order) WHERE (o)-[:HAS_ITEM]->(:LineItem) RETURN o.o_orderkey AS ok")
    val notExists = session.cypher(tpch,
      "MATCH (o:Order) WHERE NOT (o)-[:HAS_ITEM]->(:LineItem) RETURN o.o_orderkey AS ok")
    val varlen = session.cypher(tpch,
      "MATCH (n:Nation)-[:IN_REGION*0..1]->(x) WHERE n.n_regionkey = 1 " +
        "RETURN n.n_nationkey AS nk, count(*) AS n")
    Seq(exists, notExists, varlen).foreach { df =>
      assert(!dedupUnderSemiJoin(df), df.queryExecution.optimizedPlan)
    }
    assert(dfBag(exists) === bag(Seq(Seq(10L), Seq(12L))))
    assert(dfBag(notExists) === bag(Seq(Seq(11L))))
    assert(dfBag(varlen) === bag(Seq(Seq(2L, 2L), Seq(3L, 2L))))
  }

  test("a pattern comprehension reads each source table once") {
    // c is shared and o unread by the projection: both bind off PLACED
    val df = session.cypher(tpch,
      "MATCH (c:Customer) RETURN c.c_custkey AS ck, " +
        "size([(c)-[:PLACED]->(o:Order) | 1]) AS n")
    assert(leaves(df, customer) === 1, df.queryExecution.analyzed)
    assert(leaves(df, orders) === 1, df.queryExecution.analyzed)
    assert(dfBag(df) === bag(Seq(Seq(1L, 2L), Seq(2L, 0L), Seq(3L, 1L))))
  }

  test("an EXISTS whose inner WHERE reads two variables scans both tables") {
    val df = session.cypher(tpch,
      "MATCH (c:Customer) WHERE EXISTS { MATCH (c)-[:PLACED]->(o:Order) " +
        "WHERE o.o_orderkey > c.c_custkey + 9 } RETURN c.c_custkey AS ck")
    // the driving scan, and the sub-pattern's scan of c for its c_custkey
    // (c is unlabeled there, so it reads the union of every node table)
    assert(leaves(df, customer) === 2, df.queryExecution.analyzed)
    assert(leaves(df, orders) >= 1, df.queryExecution.analyzed)
    assert(dfBag(df) === bag(Seq(Seq(1L))))
  }

  // ------------------------------------------- sub-pattern reads (results)

  /** Customer 1's order 11 passes `o.o_orderkey > c.c_custkey + 9`; no
    * other customer has such an order. */
  private val innerWhere =
    "MATCH (c)-[:PLACED]->(o:Order) WHERE o.o_orderkey > c.c_custkey + 9"

  test("EXISTS and NOT EXISTS read the variables of their inner WHERE") {
    def keys(pred: String) = dfBag(session.cypher(tpch,
      s"MATCH (c:Customer) WHERE $pred RETURN c.c_custkey AS ck"))
    assert(keys(s"EXISTS { $innerWhere }") === keys(s"COUNT { $innerWhere } > 0"))
    assert(keys(s"EXISTS { $innerWhere }") === bag(Seq(Seq(1L))))
    assert(keys(s"NOT EXISTS { $innerWhere }") === keys(s"COUNT { $innerWhere } = 0"))
    assert(keys(s"NOT EXISTS { $innerWhere }") === bag(Seq(Seq(2L), Seq(3L))))
  }

  test("a value-position EXISTS reads the variables of its inner WHERE") {
    def rows(e: String) = dfBag(session.cypher(tpch,
      s"MATCH (c:Customer) RETURN c.c_custkey AS ck, $e AS e"))
    assert(rows(s"EXISTS { $innerWhere }") === rows(s"COUNT { $innerWhere } > 0"))
    assert(rows(s"EXISTS { $innerWhere }") ===
      bag(Seq(Seq(1L, true), Seq(2L, false), Seq(3L, false))))
  }

  test("a QPP step reads the variables of its WHERE") {
    def pairs(q: String) = dfBag(session.cypher(tpch,
      q + " RETURN a.n_name AS a, b.r_name AS b"))
    val qpp = pairs("MATCH (a:Nation)((x)-[:IN_REGION]->(y) " +
      "WHERE y.r_regionkey = x.n_regionkey)+(b)")
    assert(qpp === pairs("MATCH (a:Nation)-[:IN_REGION]->(b) " +
      "WHERE b.r_regionkey = a.n_regionkey"))
    assert(qpp === bag(Seq(Seq("FRANCE", "EUROPE"), Seq("GERMANY", "EUROPE"),
      Seq("JAPAN", "ASIA"), Seq("CHINA", "ASIA"))))
  }

  // ------------------------------------------------------------ edge cases

  test("undirected hop with a label on one side only") {
    assert(count(tpch, "MATCH (s:Supplier)-[:FROM_NATION]-(x) RETURN count(*)") === 3L)
    assert(count(tpch, "MATCH (x)-[:FROM_NATION]-(s:Supplier) RETURN count(*)") === 3L)
    assert(count(tpch, "MATCH (n:Nation)-[:FROM_NATION]-(x) RETURN count(*)") === 6L)
    assert(count(tpch, "MATCH (n:Nation)-[:FROM_NATION]-(:Customer) RETURN count(*)") === 3L)
    assert(dfBag(session.cypher(tpch,
      "MATCH (x)-[:FROM_NATION]-(n:Nation) WHERE n.n_name = 'GERMANY' " +
        "RETURN labels(x) AS l")) === bag(Seq(Seq(Seq("Supplier")))))
    assert(count(tpch, "MATCH (s:Supplier)-[:FROM_NATION]-(:Region) RETURN count(*)") === 0L)
  }

  /** Space "x" holds an (:A:B) table and an (:A) table; space "y" a (:C). */
  lazy val shared: PropertyGraph = {
    val ab = Seq((1L, "ab1"), (2L, "ab2")).toDF("id", "name")
    val a = Seq((3L, "a3"), (4L, "a4")).toDF("id", "name")
    val c = Seq((10L, "c10"), (11L, "c11")).toDF("id", "name")
    val r = Seq((20L, 1L, 10L), (21L, 3L, 11L)).toDF("id", "src", "dst")
    PropertyGraph(
      Seq(NodeTableDef(Set("A", "B"), ab, "id", Map("name" -> "name"), "x"),
        NodeTableDef(Set("A"), a, "id", Map("name" -> "name"), "x"),
        NodeTableDef(Set("C"), c, "id", Map("name" -> "name"), "y")),
      Seq(RelTableDef("R", r, "id", "src", "dst", Map.empty, "r", "x", "y")))
  }

  test("two node tables sharing one id space with different label sets") {
    def names(q: String) = session.cypher(shared, q).collect().map(_.getString(0)).toSet
    assert(names("MATCH (a:B)-[:R]->(c) RETURN a.name") === Set("ab1"))
    assert(names("MATCH (a:A)-[:R]->(c) RETURN a.name") === Set("ab1", "a3"))
    // an anonymous :B endpoint is not implied by its space (the :A table
    // lacks B), so it still joins its node table
    assert(names("MATCH (:B)-[:R]->(c) RETURN c.name") === Set("c10"))
    assert(names("MATCH (:A)-[:R]->(c) RETURN c.name") === Set("c10", "c11"))
    assert(names("MATCH (:A&!B)-[:R]->(c) RETURN c.name") === Set("c11"))
    assert(names("MATCH (c)<-[:R]-(:A|C) RETURN c.name") === Set("c10", "c11"))
    assert(count(shared, "MATCH (:C)-[:R]->() RETURN count(*)") === 0L)
    assert(count(shared, "MATCH ()-[:R]->(:B) RETURN count(*)") === 0L)
    assert(count(shared, "MATCH (c)-[:R]-(:B) RETURN count(*)") === 1L)
  }

  test("a CONSTRUCTed graph's pre-tagged spaces keep every table") {
    val built = session.cypherGraph(shared,
      "MATCH (a:A)-[:R]->(c:C) CONSTRUCT NEW (a)-[:R]->(c) RETURN GRAPH")
    assert(built.relTables.forall(t => t.srcCombos.isEmpty && t.tgtCombos.isEmpty))
    assert(built.relScansFor(Seq("R"), Some(_ => false), Some(_ => false),
      undirected = false).size === built.relTables.size)
    assert(dfBag(session.cypher(built,
      "MATCH (a:B)-[:R]->(c) RETURN a.name AS a, c.name AS c")) ===
      bag(Seq(Seq("ab1", "c10"))))
    assert(count(built, "MATCH (:A)-[:R]->(:C) RETURN count(*)") === 2L)
    assert(count(built, "MATCH (:B)-[:R]->() RETURN count(*)") === 1L)
  }

  test("OPTIONAL MATCH shared variable with a new label, inline property or WHERE read") {
    def q(opt: String) = dfBag(session.cypher(tpch,
      s"MATCH (n:Nation) OPTIONAL MATCH $opt " +
        "RETURN n.n_name AS nation, s.s_name AS s"))
    val none = Seq("FRANCE", "GERMANY", "JAPAN", "CHINA").map(n => Seq(n, null))
    assert(q("(s:Supplier)-[:FROM_NATION]->(n:Region)") === bag(none))
    assert(q("(s:Supplier)-[:FROM_NATION]->(n {n_name: 'GERMANY'})") ===
      bag(Seq(Seq("FRANCE", null), Seq("GERMANY", "s3"), Seq("JAPAN", null),
        Seq("CHINA", null))))
    assert(q("(s:Supplier)-[:FROM_NATION]->(n) WHERE n.n_name = 'FRANCE'") ===
      bag(Seq(Seq("FRANCE", "s1"), Seq("FRANCE", "s2"), Seq("GERMANY", null),
        Seq("JAPAN", null), Seq("CHINA", null))))
    // a new label the shared variable's space holds only in part
    assert(dfBag(session.cypher(shared,
      "MATCH (a:A) OPTIONAL MATCH (a:B)-[:R]->(c) RETURN a.name AS a, c.name AS c")) ===
      bag(Seq(Seq("ab1", "c10"), Seq("ab2", null), Seq("a3", null), Seq("a4", null))))
  }

  test("EXISTS reaching one node twice returns each driving row once") {
    // FRANCE has two customers and two suppliers: four matches of the
    // first pattern, four (customer, supplier) pairs of the second, one row
    val q = "MATCH (n:Nation) WHERE %s RETURN n.n_name AS n"
    assert(dfBag(session.cypher(tpch, q.format(
      "(n)<-[:FROM_NATION]-()"))) ===
      bag(Seq(Seq("FRANCE"), Seq("GERMANY"), Seq("JAPAN"))))
    assert(dfBag(session.cypher(tpch, q.format(
      "EXISTS { MATCH (:Customer)-[:FROM_NATION]->(n)<-[:FROM_NATION]-(:Supplier) }"))) ===
      bag(Seq(Seq("FRANCE"))))
    assert(dfBag(session.cypher(tpch, q.format(
      "NOT (n)<-[:FROM_NATION]-()"))) === bag(Seq(Seq("CHINA"))))
  }

  test("*0..1 keeps duplicate driving rows and skips null anchors") {
    // every nation twice (once per region): 2 × (zero-length + one hop)
    assert(count(tpch, "MATCH (n:Nation), (r:Region) WITH n " +
      "MATCH (n)-[:IN_REGION*0..1]->(x) RETURN count(*)") === 16L)
    assert(count(tpch, "OPTIONAL MATCH (q:Nation {n_name: 'PERU'}) WITH q " +
      "MATCH (q)-[*0..1]->(x) RETURN count(*)") === 0L)
  }
}
