package graft

import graft.api.GraftSession

/** SHORTEST k / SHORTEST k GROUPS on a graph where the bounded trail set
  * is much larger than pairs·k (parallel arms + a long tail). These shapes
  * once also compared a per-level accumulator-compaction variant against
  * the plain plan (SCALE.md "SHORTEST k>=2 per-pair early-stop" variant
  * (b)); that variant was removed, and the test names keep its wording so
  * their history stays traceable.
  *
  * Reference semantics: the openCypher M23 path-selector proposal; the
  * reference engine has no keyword selectors (okapi-ir plans only
  * shortestPath/allShortestPaths) so k>=2 is beyond-reference surface. */
class ShortestCompactSpec extends SparkTestBase {
  import TckFixtures._

  lazy val session = new GraftSession(spark)

  /** Braid: three parallel 2-hop arms 1->4, two parallel direct edges
    * 1->4, a 3-hop arm, and a 4-hop tail through the 7<->8 cycle, plus a
    * side pair (5->9) reachable only THROUGH the long arm — the shape
    * that made the frontier-drop variant unsound (a pair full for (1,4)
    * still carries prefixes of (1,9) trails). */
  lazy val gBraidFull = graph(spark,
    ((1L to 10L).map(i => N(i, Set("V"), Map("name" -> s"n$i")))),
    Seq(
      R(20, 1, 2, "E"), R(21, 2, 4, "E"),
      R(22, 1, 3, "E"), R(23, 3, 4, "E"),
      R(24, 1, 10, "E"), R(25, 10, 4, "E"),
      R(26, 1, 4, "E"), R(27, 1, 4, "E"),
      R(28, 1, 5, "E"), R(29, 5, 6, "E"), R(30, 6, 4, "E"),
      R(31, 1, 7, "E"), R(32, 7, 8, "E"), R(33, 8, 7, "E"), R(34, 8, 4, "E"),
      R(35, 5, 9, "E")))

  private def bag(q: String): Map[Seq[Any], Int] =
    session.cypher(gBraidFull, q).collect().toSeq
      .map(_.toSeq).groupBy(identity).map { case (k, v) => k -> v.size }

  private val shapes = Seq(
    ("SHORTEST 2",
      "MATCH p = SHORTEST 2 (a {name:'n1'})-[:E*]->(b {name:'n4'}) " +
        "RETURN length(p) AS l"),
    ("SHORTEST 3 bounded",
      "MATCH p = SHORTEST 3 (a {name:'n1'})-[:E*1..4]->(b {name:'n4'}) " +
        "RETURN length(p) AS l"),
    ("SHORTEST 2 GROUPS",
      "MATCH p = SHORTEST 2 GROUPS (a {name:'n1'})-[:E*]->(b {name:'n4'}) " +
        "RETURN length(p) AS l"),
    ("SHORTEST 4 unanchored target",
      "MATCH p = SHORTEST 4 (a {name:'n1'})-[:E*]->(b) " +
        "RETURN b.name AS bn, length(p) AS l"),
    ("SHORTEST 2 with downstream path read",
      "MATCH p = SHORTEST 2 (a {name:'n1'})-[:E*]->(b {name:'n4'}) " +
        "RETURN [x IN nodes(p) | x.name] AS names"))

  for ((name, q) <- shapes) test(s"compaction flag is result-invisible: $name") {
    val off = bag(q)
    assert(off.nonEmpty)
  }

  test("compaction leaves pairs reached only through a full pair intact") {
    // (1,4) fills its top-2 at length 1 (two parallel direct edges); n9 is
    // only reachable through the length-2 prefix 1->5. A frontier drop of
    // the full (1,4) pair would lose (1,9).
    val q = "MATCH p = SHORTEST 2 (a {name:'n1'})-[:E*]->(b {name:'n9'}) " +
      "RETURN length(p) AS l"
    val off = bag(q)
    assert(off === Map(Seq(2L) -> 1))
  }

  test("deferred path-reading WHERE is unaffected by the flag") {
    // WHERE reads the path -> selection defers behind the filter.
    val q = "MATCH p = SHORTEST 2 (a {name:'n1'})-[:E*]->(b {name:'n4'}) " +
      "WHERE length(p) > 1 RETURN length(p) AS l"
    val off = bag(q)
    // Two shortest SATISFYING paths: lengths > 1 only.
    assert(off.keySet.flatten.forall(_.asInstanceOf[Long] > 1L))
  }
}
