package graft

import graft.algos.GraphAlgorithms
import graft.graph.{NodeTableDef, PropertyGraph, RelTableDef}
import org.apache.spark.sql.functions._

class AlgosSpec extends SparkTestBase {
  import spark.implicits._

  /** Two components: a triangle 1-2-3 and a chain 4-5. */
  lazy val graph: PropertyGraph = {
    val nodes = Seq(1L, 2L, 3L, 4L, 5L).toDF("id")
    val edges = Seq((10L, 1L, 2L), (11L, 2L, 3L), (12L, 3L, 1L),
      (13L, 4L, 5L)).toDF("id", "src", "tgt")
    PropertyGraph(
      Seq(NodeTableDef(Set("V"), nodes, "id", Map.empty, "v")),
      Seq(RelTableDef("E", edges, "id", "src", "tgt", Map.empty, "e", "v", "v")))
  }

  test("degrees") {
    val d = GraphAlgorithms.degrees(graph).collect()
      .map(r => (r.getLong(0) & 0xFFFFFFFFL, r.getLong(3))).toMap
    assert(d(1L) === 2L) // one out (1->2), one in (3->1)
    assert(d(4L) === 1L)
    assert(d(5L) === 1L)
  }

  test("connected components: triangle and chain are separate") {
    val comps = GraphAlgorithms.connectedComponents(graph).collect()
      .map(r => (r.getLong(0) & 0xFFFFFFFFL, r.getLong(1) & 0xFFFFFFFFL))
      .toMap
    assert(comps(1L) === comps(2L) && comps(2L) === comps(3L))
    assert(comps(4L) === comps(5L))
    assert(comps(1L) !== comps(4L))
  }

  test("pagerank: symmetric triangle nodes tie, ranks sum to n") {
    val pr = GraphAlgorithms.pageRank(graph, iterations = 15).collect()
      .map(r => (r.getLong(0) & 0xFFFFFFFFL, r.getDouble(1))).toMap
    assert(math.abs(pr.values.sum - 5.0) < 1e-6, s"ranks: $pr")
    assert(math.abs(pr(1L) - pr(2L)) < 1e-6)
    assert(math.abs(pr(2L) - pr(3L)) < 1e-6)
    assert(pr(5L) > pr(4L)) // 5 receives, 4 only sends
  }

  test("weighted pagerank: mass conserves, weight skews rank, uniform weights equal unweighted") {
    // 1 -E-> 2 (w 1) and 1 -H-> 3 (w 3): node 3 must outrank node 2.
    val nodes = Seq(1L, 2L, 3L).toDF("id")
    val e = Seq((10L, 1L, 2L)).toDF("id", "src", "tgt")
    val h = Seq((11L, 1L, 3L)).toDF("id", "src", "tgt")
    val g = PropertyGraph(
      Seq(NodeTableDef(Set("V"), nodes, "id", Map.empty, "v")),
      Seq(RelTableDef("E", e, "id", "src", "tgt", Map.empty, "e", "v", "v"),
        RelTableDef("H", h, "id", "src", "tgt", Map.empty, "h", "v", "v")))
    val pr = GraphAlgorithms
      .pageRankWeighted(g, Map("E" -> 1.0, "H" -> 3.0), iterations = 10)
      .collect().map(r => (r.getLong(0) & 0xFFFFFFFFL, r.getDouble(1))).toMap
    assert(math.abs(pr.values.sum - 3.0) < 1e-6, s"ranks: $pr")
    assert(pr(3L) > pr(2L), s"weight-3 edge must outrank weight-1: $pr")
    // Uniform weights reduce to the unweighted algorithm exactly.
    val uni = GraphAlgorithms
      .pageRankWeighted(graph, Map("E" -> 2.5), iterations = 7)
      .collect().map(r => (r.getLong(0) & 0xFFFFFFFFL, r.getDouble(1))).toMap
    val plain = GraphAlgorithms.pageRank(graph, iterations = 7)
      .collect().map(r => (r.getLong(0) & 0xFFFFFFFFL, r.getDouble(1))).toMap
    uni.foreach { case (id, r) => assert(math.abs(r - plain(id)) < 1e-9,
      s"uniform-weight rank diverged at $id: $r vs ${plain(id)}") }
  }

  test("triangle count") {
    assert(GraphAlgorithms.triangleCount(graph) === 1L)
  }

  test("validateNodeIds drops edges with dangling endpoints (opt-in)") {
    // edge 2->9 references node 9 absent from the node table
    val nodes = Seq(1L, 2L, 3L).toDF("id")
    val edges = Seq((10L, 1L, 2L), (11L, 2L, 9L)).toDF("id", "src", "tgt")
    val g = PropertyGraph(
      Seq(NodeTableDef(Set("V"), nodes, "id", Map.empty, "v")),
      Seq(RelTableDef("E", edges, "id", "src", "tgt", Map.empty, "e", "v", "v")))
    def prIds() = GraphAlgorithms.pageRank(g, iterations = 3).collect()
      .map(_.getLong(0) & 0xFFFFFFFFL).toSet
    // default: edge endpoints define the participating set -> 9 appears
    assert(prIds().contains(9L))
    spark.conf.set("spark.graft.algo.validateNodeIds", "true")
    try {
      // opt-in: dangling edge dropped, rank rows = real nodes only, mass
      // normalization stays aligned with the row set
      val pr = GraphAlgorithms.pageRank(g, iterations = 3).collect()
        .map(r => (r.getLong(0) & 0xFFFFFFFFL, r.getDouble(1))).toMap
      assert(pr.keySet === Set(1L, 2L, 3L))
      assert(math.abs(pr.values.sum - 3.0) < 1e-6)
      val comps = GraphAlgorithms.connectedComponents(g).collect()
        .map(_.getLong(0) & 0xFFFFFFFFL).toSet
      assert(comps === Set(1L, 2L, 3L))
    } finally spark.conf.unset("spark.graft.algo.validateNodeIds")
  }

  test("CALL procedures from Cypher with YIELD and post-processing") {
    val session = new graft.api.GraftSession(spark)
    val top = session.cypher(graph,
      "CALL pagerank(10) YIELD id, rank RETURN id, rank " +
        "ORDER BY rank DESC, id LIMIT 2").collect()
    assert(top.length === 2)
    assert(top(0).getDouble(1) >= top(1).getDouble(1))
    assert(session.cypher(graph, "CALL trianglecount() YIELD triangles " +
      "RETURN triangles").collect().head.getLong(0) === 1L)
    val comps = session.cypher(graph,
      "CALL connectedcomponents() YIELD component " +
        "RETURN count(DISTINCT component) AS n").collect().head.getLong(0)
    assert(comps === 2L)
  }

  test("round-12 algorithms are CALL-able procedures") {
    val session = new graft.api.GraftSession(spark)
    // nodesimilarity over the triangle: every node shares a neighbor with
    // the others (undirected edges are stored directed src->dst; sources
    // here are 1,2,3 with out-targets {2},{3},{1} — no shared targets —
    // so use topK over the full graph and just assert the shape runs and
    // respects the cutoff).
    val ns = session.cypher(graph,
      "CALL nodesimilarity(5, 1) YIELD id, other, jacc " +
        "RETURN count(*) AS n").collect().head.getLong(0)
    assert(ns >= 0L)
    // closeness seeded on V (every node): chain node 5 is reached by 4
    // only -> r=1, sumd=1 within its component... undirected: 4-5 pair
    // reach each other at d 1; triangle nodes reach both others at d 1.
    val cl = session.cypher(graph,
      "CALL closeness('V') YIELD id, closeness " +
        "RETURN round(closeness, 4) AS c, count(*) AS n ORDER BY c")
      .collect().map(r => r.getDouble(0) -> r.getLong(1)).toMap
    assert(cl(1.0) === 5L) // triangle: 2/(1+1); chain pair: 1/1
    // eigenvector (undirected): triangle nodes tie and dominate or equal
    // chain scores; L2 normalized.
    val ev = session.cypher(graph,
      "CALL eigenvector(6) YIELD id, score RETURN sum(score * score) AS s")
      .collect().head.getDouble(0)
    assert(math.abs(ev - 1.0) < 1e-9)
    // randomwalks: 5 starts x 4 walks x 9 rows (step 0..8), deterministic.
    val rw = session.cypher(graph,
      "CALL randomwalks('V', 4, 8, 42) YIELD walk_id, step, node " +
        "RETURN count(*) AS n").collect().head.getLong(0)
    val rw2 = session.cypher(graph,
      "CALL randomwalks('V', 4, 8, 42) YIELD walk_id, step, node " +
        "RETURN count(*) AS n").collect().head.getLong(0)
    assert(rw === rw2 && rw >= 5 * 4 * 1)
  }

  /** Graph with two isolated nodes (6, 7) next to the triangle+chain. */
  lazy val graphIso: PropertyGraph = {
    val nodes = Seq(1L, 2L, 3L, 4L, 5L, 6L, 7L).toDF("id")
    val edges = Seq((10L, 1L, 2L), (11L, 2L, 3L), (12L, 3L, 1L),
      (13L, 4L, 5L)).toDF("id", "src", "tgt")
    PropertyGraph(
      Seq(NodeTableDef(Set("V"), nodes, "id", Map.empty, "v")),
      Seq(RelTableDef("E", edges, "id", "src", "tgt", Map.empty, "e", "v", "v")))
  }

  /** Dense driver-side PageRank oracle: dangling mass (nodes without
    * out-links, including isolated ones) spread uniformly over all n. */
  private def densePageRank(n: Int, edges: Seq[(Int, Int)], iters: Int,
      d: Double = 0.85): Array[Double] = {
    val out = edges.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    var r = Array.fill(n)(1.0)
    for (_ <- 1 to iters) {
      val contrib = Array.fill(n)(0.0)
      var transferred = 0.0
      for ((s, ts) <- out; t <- ts) {
        contrib(t - 1) += r(s - 1) / ts.size; transferred += r(s - 1) / ts.size
      }
      val miss = (n - transferred) / n
      r = Array.tabulate(n)(i => (1 - d) + d * (contrib(i) + miss))
    }
    r
  }

  test("pagerank: isolated nodes get the analytic rank, sum conserved") {
    val pr = GraphAlgorithms.pageRank(graphIso, iterations = 7).collect()
      .map(r => (r.getLong(0) & 0xFFFFFFFFL, r.getDouble(1))).toMap
    val expect = densePageRank(7,
      Seq((1, 2), (2, 3), (3, 1), (4, 5)), iters = 7)
    assert(pr.size === 7)
    assert(math.abs(pr.values.sum - 7.0) < 1e-6)
    for (i <- 1 to 7)
      assert(math.abs(pr(i.toLong) - expect(i - 1)) < 1e-9,
        s"node $i: got ${pr(i.toLong)}, want ${expect(i - 1)}")
  }

  test("connected components: isolated nodes are their own singleton") {
    val comps = GraphAlgorithms.connectedComponents(graphIso).collect()
      .map(r => (r.getLong(0) & 0xFFFFFFFFL, r.getLong(1) & 0xFFFFFFFFL))
      .toMap
    assert(comps.size === 7)
    assert(comps(6L) !== comps(7L))
    assert(comps(6L) !== comps(1L))
    assert(comps(6L) !== comps(4L))
  }

  test("connected components: diameter-40 chain converges in O(log n) star rounds") {
    // Star contraction halves every node's distance to the component min
    // per round — a 41-node path (diameter 40) fits in ceil(log2(40)) = 6
    // contraction rounds + 1 fixpoint-detection round, where per-hop
    // min-propagation would need 40. maxIterations doubles as the
    // round-count probe: 7 must suffice (measured: 41 nodes -> 7 rounds,
    // 101 -> 8, 1001 -> 11 — the log curve, not the diameter curve).
    val e = (1L to 40L).map(i => (i, i + 1)).toDF("src", "dst")
    val comp = GraphAlgorithms.ccStarLabels(e, maxIterations = 7).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(comp.keySet === (1L to 41L).toSet)
    assert(comp.values.toSet === Set(1L)) // one component, labeled by its min
  }

  test("connected components: throws at the cap instead of mid-contraction labels") {
    val e = (1L to 40L).map(i => (i, i + 1)).toDF("src", "dst")
    val ex = intercept[IllegalStateException] {
      GraphAlgorithms.ccStarLabels(e, maxIterations = 1).collect()
    }
    assert(ex.getMessage.contains("did not converge"))
  }

  test("connected components agree with a driver-side union-find (seeded)") {
    val rnd = new scala.util.Random(42)
    for (_ <- 1 to 3) {
      val n = 60
      val pairs = (1 to 90).map(_ => (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter { case (a, b) => a != b }.distinct
      val parent = Array.tabulate(n)(identity)
      def find(x: Int): Int = { var r = x; while (parent(r) != r) r = parent(r); r }
      pairs.foreach { case (a, b) =>
        val (ra, rb) = (find(a.toInt), find(b.toInt))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val want = pairs.flatMap(p => Seq(p._1, p._2)).distinct
        .map(id => id -> {
          // canonical label: min id in the component
          val r = find(id.toInt)
          pairs.flatMap(p => Seq(p._1, p._2)).distinct
            .filter(j => find(j.toInt) == r).min
        }).toMap
      val got = GraphAlgorithms.ccStarLabels(pairs.toDF("src", "dst"),
        maxIterations = 20).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got === want)
    }
  }

  test("k-core: throws at the cap instead of a superset of the core") {
    // a 9-node path sheds one endpoint layer per peel round at k=2:
    // 4 rounds to empty, so a cap of 2 must throw, never return survivors
    val e = (1L to 8L).map(i => (i, i + 1)).toDF("src", "dst")
    val ex = intercept[IllegalStateException] {
      GraphAlgorithms.kCoreEdges(e, k = 2, maxIterations = 2).collect()
    }
    assert(ex.getMessage.contains("did not converge"))
    assert(GraphAlgorithms.kCoreEdges(e, k = 2).count() === 0L)
  }

  test("pagerank and components on a graph with zero matching edges") {
    // relTypes that match nothing: every node is isolated.
    val pr = GraphAlgorithms.pageRank(graph, iterations = 3,
      relTypes = Seq("NO_SUCH_TYPE")).collect()
      .map(r => r.getDouble(1))
    assert(pr.length === 5)
    assert(pr.forall(r => math.abs(r - 1.0) < 1e-9)) // all mass recycles
    val cc = GraphAlgorithms.connectedComponents(graph,
      relTypes = Seq("NO_SUCH_TYPE")).collect()
    assert(cc.length === 5)
    assert(cc.map(_.getLong(1)).distinct.length === 5)
  }

  test("pagerank on the TPC-H graph runs and is positive") {
    val g = graft.tpch.TpchGraph(spark, "/root/testdata/sf0.001")
    val pr = GraphAlgorithms.pageRank(g, iterations = 3,
      relTypes = Seq("IN_REGION", "FROM_NATION"))
    assert(pr.filter(col("rank") <= 0).count() === 0)
  }

  test("sssp: weighted distances prefer cheap multi-hop over direct edges") {
    // 1 -10-> 4 directly, but 1 -1-> 2 -1-> 3 -1-> 4 is cheaper; node 6
    // is only reachable through the expensive edge's endpoint.
    val nodes = Seq(1L, 2L, 3L, 4L, 5L, 6L).toDF("id")
    val cheap = Seq((20L, 1L, 2L), (21L, 2L, 3L), (22L, 3L, 4L))
      .toDF("id", "src", "tgt")
    val exp = Seq((30L, 1L, 4L), (31L, 4L, 6L)).toDF("id", "src", "tgt")
    val g = PropertyGraph(
      Seq(NodeTableDef(Set("V"), nodes, "id", Map.empty, "v")),
      Seq(RelTableDef("CHEAP", cheap, "id", "src", "tgt", Map.empty, "e1", "v", "v"),
        RelTableDef("EXP", exp, "id", "src", "tgt", Map.empty, "e2", "v", "v")))
    val src = Seq(1L).toDF("id")
      .select((shiftleft(lit(0L), 56).bitwiseOR(col("id"))).as("id"))
    val d = GraphAlgorithms.sssp(g, src,
        Map("CHEAP" -> 1.0, "EXP" -> 10.0)).collect()
      .map(r => (r.getLong(0) & 0xFFFFFFFFL, r.getDouble(1))).toMap
    assert(d(1L) === 0.0)
    assert(d(2L) === 1.0)
    assert(d(3L) === 2.0)
    assert(d(4L) === 3.0) // 3-hop cheap path beats the weight-10 edge
    assert(d(6L) === 13.0)
    assert(!d.contains(5L)) // isolated: unreachable nodes are omitted
  }

  test("sssp: directed mode does not traverse edges backwards") {
    val nodes = Seq(1L, 2L, 3L).toDF("id")
    val edges = Seq((10L, 1L, 2L), (11L, 3L, 2L)).toDF("id", "src", "tgt")
    val g = PropertyGraph(
      Seq(NodeTableDef(Set("V"), nodes, "id", Map.empty, "v")),
      Seq(RelTableDef("E", edges, "id", "src", "tgt", Map.empty, "e", "v", "v")))
    val src = Seq(1L).toDF("id")
      .select((shiftleft(lit(0L), 56).bitwiseOR(col("id"))).as("id"))
    val dDir = GraphAlgorithms.sssp(g, src, Map("E" -> 1.0),
      directed = true).collect().map(r => r.getLong(0) & 0xFFFFFFFFL).toSet
    assert(dDir === Set(1L, 2L)) // 3 only reachable via 2<-3 reversed
    val dUnd = GraphAlgorithms.sssp(g, src, Map("E" -> 1.0)).collect()
      .map(r => (r.getLong(0) & 0xFFFFFFFFL, r.getDouble(1))).toMap
    assert(dUnd(3L) === 2.0)
  }

  test("topological levels: longest-path depth, sinks and isolated nodes") {
    // Diamond 1->2->4, 1->3->4 plus shortcut 1->4 and pendant source 5->4:
    // 4's longest path is 2; isolated node 6 sits at level 0.
    val nodes = (1L to 6L).toDF("id")
    val edges = Seq((10L, 1L, 2L), (11L, 1L, 3L), (12L, 2L, 4L),
      (13L, 3L, 4L), (14L, 1L, 4L), (15L, 5L, 4L)).toDF("id", "src", "tgt")
    val g = PropertyGraph(
      Seq(NodeTableDef(Set("V"), nodes, "id", Map.empty, "v")),
      Seq(RelTableDef("E", edges, "id", "src", "tgt", Map.empty, "e", "v", "v")))
    val lv = GraphAlgorithms.topologicalLevels(g).collect()
      .map(r => (r.getLong(0) & 0xFFFFFFFFL, r.getLong(1))).toMap
    assert(lv === Map(1L -> 0L, 2L -> 1L, 3L -> 1L, 4L -> 2L,
      5L -> 0L, 6L -> 0L))
  }

  test("topological levels: cycle raises a classified error") {
    val nodes = (1L to 3L).toDF("id")
    val edges = Seq((10L, 1L, 2L), (11L, 2L, 3L), (12L, 3L, 1L))
      .toDF("id", "src", "tgt")
    val g = PropertyGraph(
      Seq(NodeTableDef(Set("V"), nodes, "id", Map.empty, "v")),
      Seq(RelTableDef("E", edges, "id", "src", "tgt", Map.empty, "e", "v", "v")))
    val ex = intercept[graft.api.CypherException] {
      GraphAlgorithms.topologicalLevels(g).collect()
    }
    assert(ex.getMessage.contains("cycle"))
    // self-loop is a 1-cycle
    val e2 = Seq((10L, 1L, 1L)).toDF("id", "src", "tgt")
    val g2 = PropertyGraph(
      Seq(NodeTableDef(Set("V"), nodes, "id", Map.empty, "v")),
      Seq(RelTableDef("E", e2, "id", "src", "tgt", Map.empty, "e", "v", "v")))
    val ex2 = intercept[graft.api.CypherException] {
      GraphAlgorithms.topologicalLevels(g2).collect()
    }
    assert(ex2.getMessage.contains("self-loop"))
  }

  test("topological levels: throws at the cap instead of partial levels") {
    val nodes = (1L to 7L).toDF("id")
    val edges = (1L to 6L).map(i => (100L + i, i, i + 1))
      .toDF("id", "src", "tgt")
    val g = PropertyGraph(
      Seq(NodeTableDef(Set("V"), nodes, "id", Map.empty, "v")),
      Seq(RelTableDef("E", edges, "id", "src", "tgt", Map.empty, "e", "v", "v")))
    val ex = intercept[IllegalStateException] {
      GraphAlgorithms.topologicalLevels(g, maxIterations = 3).collect()
    }
    assert(ex.getMessage.contains("did not finish"))
    val lv = GraphAlgorithms.topologicalLevels(g, maxIterations = 10)
      .collect().map(r => (r.getLong(0) & 0xFFFFFFFFL, r.getLong(1))).toMap
    assert(lv(7L) === 6L)
  }

  private def sccGraph(edges: Seq[(Long, Long)], n: Long): PropertyGraph = {
    val nodes = (1L to n).toDF("id")
    val e = edges.zipWithIndex.map { case ((s, t), i) => (100L + i, s, t) }
      .toDF("id", "src", "tgt")
    PropertyGraph(
      Seq(NodeTableDef(Set("V"), nodes, "id", Map.empty, "v")),
      Seq(RelTableDef("E", e, "id", "src", "tgt", Map.empty, "e", "v", "v")))
  }

  private def sccOf(g: PropertyGraph): Map[Long, Long] =
    GraphAlgorithms.stronglyConnectedComponents(g).collect()
      .map(r => (r.getLong(0) & 0xFFFFFFFFL, r.getLong(1) & 0xFFFFFFFFL)).toMap

  /** Driver-side Tarjan for the seeded comparison. */
  private def tarjan(n: Long, edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val adj = edges.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    val index = scala.collection.mutable.Map.empty[Long, Int]
    val low = scala.collection.mutable.Map.empty[Long, Int]
    val onStack = scala.collection.mutable.Set.empty[Long]
    val stack = scala.collection.mutable.Stack.empty[Long]
    val scc = scala.collection.mutable.Map.empty[Long, Long]
    var counter = 0
    def strongconnect(v: Long): Unit = {
      index(v) = counter; low(v) = counter; counter += 1
      stack.push(v); onStack += v
      for (w <- adj.getOrElse(v, Seq.empty)) {
        if (!index.contains(w)) { strongconnect(w); low(v) = low(v) min low(w) }
        else if (onStack(w)) low(v) = low(v) min index(w)
      }
      if (low(v) == index(v)) {
        var members = List.empty[Long]
        var w = -1L
        while (w != v) { w = stack.pop(); onStack -= w; members ::= w }
        val m = members.min
        members.foreach(x => scc(x) = m)
      }
    }
    (1L to n).foreach(v => if (!index.contains(v)) strongconnect(v))
    scc.toMap
  }

  test("harmonic centrality: exact path-graph values, isolated at 0") {
    // Path 1-2-3-4 (undirected), isolated 5. H(1)=1+1/2+1/3, H(2)=1+1+1/2.
    val nodes = (1L to 5L).toDF("id")
    val edges = Seq((10L, 1L, 2L), (11L, 2L, 3L), (12L, 3L, 4L))
      .toDF("id", "src", "tgt")
    val g = PropertyGraph(
      Seq(NodeTableDef(Set("V"), nodes, "id", Map.empty, "v")),
      Seq(RelTableDef("E", edges, "id", "src", "tgt", Map.empty, "e", "v", "v")))
    val src = nodes.select((shiftleft(lit(0L), 56).bitwiseOR(col("id"))).as("id"))
    val h = GraphAlgorithms.harmonicCentrality(g, src).collect()
      .map(r => (r.getLong(0) & 0xFFFFFFFFL, r.getDouble(1))).toMap
    assert(math.abs(h(1L) - (1.0 + 0.5 + 1.0 / 3)) < 1e-9)
    assert(math.abs(h(2L) - (1.0 + 1.0 + 0.5)) < 1e-9)
    assert(h(5L) === 0.0)
    // cap throws rather than dropping far distances from the sum
    val ex = intercept[IllegalStateException] {
      GraphAlgorithms.harmonicCentrality(g, src, maxIterations = 1).collect()
    }
    assert(ex.getMessage.contains("did not finish"))
    val exC = intercept[IllegalStateException] {
      GraphAlgorithms.closenessCentrality(g, src, maxIterations = 1).collect()
    }
    assert(exC.getMessage.contains("closenessCentrality did not finish"))
    // directed: only forward paths count — nothing reaches 1, 3 is reached
    // from 2 (d=1) and 1 (d=2)
    val hd = GraphAlgorithms.harmonicCentrality(g, src, directed = true)
      .collect().map(r => (r.getLong(0) & 0xFFFFFFFFL, r.getDouble(1))).toMap
    assert(hd(1L) === 0.0 && hd(2L) === 1.0 && hd(3L) === 1.5)
    assert(math.abs(hd(4L) - (1.0 + 0.5 + 1.0 / 3)) < 1e-9)
  }

  test("harmonic centrality HLL estimate tracks the exact values") {
    // K4 plus a pendant: exact H is computable; HLL at lgK=12 on 5 nodes
    // is near-exact (dense register mode).
    val edges = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L),
      (3L, 4L), (4L, 5L)).toDF("src", "dst")
    val est = GraphAlgorithms.harmonicCentralityHll(edges).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    // H(4) = 4 (adjacent to all); H(5) = 1 + 3/2; H(1) = 3 + 1/2
    assert(math.abs(est(4L) - 4.0) < 0.2)
    assert(math.abs(est(5L) - 2.5) < 0.2)
    assert(math.abs(est(1L) - 3.5) < 0.2)
  }

  test("scc: ring plus tail") {
    val m = sccOf(sccGraph(Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L)), 4))
    assert(m === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L))
  }

  test("scc: chain of two components peels across outer rounds") {
    // {1,2} -> {3,4}: the forward color of the whole graph is 1, so only
    // the first component extracts in round one; the second needs its own
    // round — the multi-outer-round path.
    val m = sccOf(sccGraph(
      Seq((1L, 2L), (2L, 1L), (3L, 4L), (4L, 3L), (2L, 3L)), 4))
    assert(m === Map(1L -> 1L, 2L -> 1L, 3L -> 3L, 4L -> 3L))
  }

  test("scc: self-loops and isolated nodes are singletons") {
    val m = sccOf(sccGraph(Seq((1L, 1L), (2L, 3L)), 4))
    assert(m === Map(1L -> 1L, 2L -> 2L, 3L -> 3L, 4L -> 4L))
  }

  test("scc agrees with driver-side Tarjan on seeded random digraphs") {
    val rnd = new scala.util.Random(1337)
    for (_ <- 1 to 3) {
      val n = 40
      val edges = (1 to 140).map(_ =>
        (rnd.nextInt(n).toLong + 1, rnd.nextInt(n).toLong + 1))
        .filter { case (a, b) => a != b }.distinct
      val got = sccOf(sccGraph(edges, n))
      assert(got === tarjan(n, edges)) // Tarjan visits every node 1..n
    }
  }

  test("scc: throws at the outer cap instead of a partial decomposition") {
    // 3 SCCs in a chain peel one per round; cap 1 must throw.
    val edges = Seq((1L, 2L), (2L, 1L), (3L, 4L), (4L, 3L), (5L, 6L),
      (6L, 5L), (2L, 3L), (4L, 5L))
    val ex = intercept[IllegalStateException] {
      GraphAlgorithms.stronglyConnectedComponents(
        sccGraph(edges, 6), maxOuterRounds = 1).collect()
    }
    assert(ex.getMessage.contains("outer rounds"))
    val full = sccOf(sccGraph(edges, 6))
    assert(full === Map(1L -> 1L, 2L -> 1L, 3L -> 3L, 4L -> 3L,
      5L -> 5L, 6L -> 5L))
  }

  test("sssp: throws at the cap instead of returning unfinalized distances") {
    // A 6-hop chain with maxIterations=3: the frontier is still active at
    // the cap, so distances past hop 3 would be missing/overestimated —
    // the call must fail, not truncate (same rule as components/k-truss).
    val nodes = (1L to 7L).toDF("id")
    val edges = (1L to 6L).map(i => (100L + i, i, i + 1))
      .toDF("id", "src", "tgt")
    val g = PropertyGraph(
      Seq(NodeTableDef(Set("V"), nodes, "id", Map.empty, "v")),
      Seq(RelTableDef("E", edges, "id", "src", "tgt", Map.empty, "e", "v", "v")))
    val src = Seq(1L).toDF("id")
      .select((shiftleft(lit(0L), 56).bitwiseOR(col("id"))).as("id"))
    val ex = intercept[IllegalStateException] {
      GraphAlgorithms.sssp(g, src, Map("E" -> 1.0), maxIterations = 3).collect()
    }
    assert(ex.getMessage.contains("did not converge"))
    // and with a sufficient cap the same graph resolves fully
    val d = GraphAlgorithms.sssp(g, src, Map("E" -> 1.0), maxIterations = 10)
      .collect().map(r => (r.getLong(0) & 0xFFFFFFFFL, r.getDouble(1))).toMap
    assert(d(7L) === 6.0)
  }

  test("triangle count via degree orientation over an edge frame") {
    // K4 has 4 triangles; an extra pendant edge adds none. Duplicate and
    // reversed input edges must not change the count.
    val k4 = for (a <- 1L to 4L; b <- 1L to 4L if a != b) yield (a, b)
    val e = (k4 :+ ((4L, 5L)) :+ ((5L, 4L))).toDF("src", "dst")
    assert(GraphAlgorithms.triangleCountEdges(e).head().getLong(0) === 4L)
    assert(GraphAlgorithms.triangleCount(graph) === 1L)
  }

  /** Runs `body` with AQE and broadcast joins off so physical plans are
    * deterministic and collect()-traversable (AdaptiveSparkPlanExec hides
    * its subtree from TreeNode.collect). */
  private def withStaticPlans[T](body: => T): T = {
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    val prevBc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try body finally {
      spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBc)
    }
  }

  test("sssp round consumes the pinned edge partitioning: no edge-side exchange") {
    // The scale property: the (large) edge frame shuffles ONCE per sssp
    // call at pin time; each round's frontier join must reuse that
    // hash(src) partitioning. Exactly two exchanges may appear in a round
    // plan — the small frontier, and the dst-keyed min-aggregation. A
    // third would mean the refactored join re-shuffles the edges per round.
    withStaticPlans {
      import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
      val edges = Seq((1L, 2L, 1.0), (2L, 3L, 1.0), (3L, 4L, 1.0))
        .toDF("src", "dst", "w")
      val e = graft.impl.Pin(edges.repartition(col("src")))
      val frontier = Seq((1L, 0.0)).toDF("id", "dist")
      val plan = GraphAlgorithms.ssspCandidates(e, frontier, 4)
        .queryExecution.executedPlan
      val exchanges = plan.collect { case s: ShuffleExchangeExec => s }
      assert(exchanges.length === 2,
        s"expected 2 exchanges (frontier + agg), got ${exchanges.length}:\n$plan")
    }
  }

  test("toposort decrement join consumes the pinned edge partitioning") {
    // Same contract as the sssp round: the edge frame shuffles once at
    // pin time, each Kahn round only shuffles the small front and the
    // dst-keyed decrement aggregation.
    withStaticPlans {
      import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
      val edges = Seq((1L, 2L), (2L, 3L)).toDF("src", "dst")
      val e = graft.impl.Pin(edges.repartition(col("src")))
      val front = Seq((1L, 0L)).toDF("id", "level")
      val plan = GraphAlgorithms.topoDecrements(e, front)
        .queryExecution.executedPlan
      val exchanges = plan.collect { case s: ShuffleExchangeExec => s }
      assert(exchanges.length === 2,
        s"expected 2 exchanges (front + agg), got ${exchanges.length}:\n$plan")
    }
  }

  test("triangle orientation is forward-degree; wedge join keys on the oriented source") {
    // Star hub 1 (degree 4) plus chain edges: every oriented edge must
    // point UP the (degree, id) order — the hub can only ever be a wedge
    // target, which is what bounds wedge fan-out by forward degree.
    val canon = Seq((1L, 2L), (1L, 3L), (1L, 4L), (1L, 5L), (2L, 3L), (4L, 5L))
      .toDF("a", "b")
    val deg = canon.select(explode(array(col("a"), col("b"))).as("id"))
      .groupBy("id").agg(count(lit(1)).as("deg"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    withStaticPlans {
      val oriented = GraphAlgorithms.orientByDegree(canon)
      val bad = oriented.collect().filter { r =>
        val (u, v) = (r.getLong(0), r.getLong(1))
        !(deg(u) < deg(v) || (deg(u) == deg(v) && u < v))
      }
      assert(bad.isEmpty,
        s"edges oriented against the degree order: ${bad.mkString(", ")}")
      // and the wedge self-join must key on u (the low-forward-degree
      // source) — keying on v would re-introduce the hub blowup
      import org.apache.spark.sql.execution.joins.{
        BroadcastHashJoinExec, ShuffledHashJoinExec, SortMergeJoinExec}
      val plan = GraphAlgorithms.wedgeJoin(oriented)
        .queryExecution.executedPlan
      val keySets = plan.collect {
        case j: SortMergeJoinExec => j.leftKeys ++ j.rightKeys
        case j: ShuffledHashJoinExec => j.leftKeys ++ j.rightKeys
        case j: BroadcastHashJoinExec => j.leftKeys ++ j.rightKeys
      }.flatten
      assert(keySets.nonEmpty &&
        keySets.forall(_.references.map(_.name).toSet == Set("u")),
        s"wedge join does not key on u:\n$plan")
    }
  }

  test("degree assortativity: star graph is perfectly disassortative") {
    val star = Seq((1L, 2L), (1L, 3L), (1L, 4L)).toDF("src", "dst")
    val r = GraphAlgorithms.degreeAssortativity(star).head().getDouble(0)
    assert(r === -1.0, s"star assortativity should be -1, got $r")
  }

  test("degree assortativity matches the hand-computed Pearson value") {
    // path 1-2-3 plus pendant 3-4: degrees 1,2,2,1
    val g = Seq((1L, 2L), (2L, 3L), (3L, 4L)).toDF("src", "dst")
    // directed pairs (x,y): (1,2),(2,1),(2,2),(2,2),(2,1),(1,2)
    // n=6 sx=10 sy=10 sxy=16 sxx=18 syy=18
    // r = (96-100)/(sqrt(108-100)*sqrt(108-100)) = -4/8 = -0.5
    val r = GraphAlgorithms.degreeAssortativity(g).head().getDouble(0)
    assert(r === -0.5, s"expected -0.5, got $r")
  }

  test("label propagation: each component converges to one community") {
    // two triangles, no bridge, plus the chain 4-5 from `graph`'s shape
    val nodes = (1L to 6L).toDF("id")
    val edges = Seq((10L, 1L, 2L), (11L, 2L, 3L), (12L, 3L, 1L),
      (13L, 4L, 5L), (14L, 5L, 6L), (15L, 6L, 4L)).toDF("id", "src", "tgt")
    val g = PropertyGraph(
      Seq(NodeTableDef(Set("V"), nodes, "id", Map.empty, "v")),
      Seq(RelTableDef("E", edges, "id", "src", "tgt", Map.empty, "e", "v", "v")))
    val lbl = GraphAlgorithms.labelPropagation(g, maxIterations = 10)
      .collect().map(r => (r.getLong(0) & 0xFFFFFFFFL, r.getLong(1))).toMap
    assert(lbl(1L) === lbl(2L) && lbl(2L) === lbl(3L))
    assert(lbl(4L) === lbl(5L) && lbl(5L) === lbl(6L))
    assert(lbl(1L) !== lbl(4L))
  }

  test("label propagation: isolated nodes keep their own label") {
    val lbl = GraphAlgorithms.labelPropagation(graph).collect()
      .map(r => (r.getLong(0) & 0xFFFFFFFFL, r.getLong(1) & 0xFFFFFFFFL)).toMap
    assert(lbl.keySet === Set(1L, 2L, 3L, 4L, 5L))
    assert(lbl(1L) === lbl(2L) && lbl(2L) === lbl(3L))
  }

  test("k-core: peeling strips the tail, keeps the triangle") {
    // triangle 1-2-3 with a chain 3-4-5 hanging off: the 2-core is the
    // triangle alone — 4 peels first, then 5's support collapses too
    val e = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L), (4L, 5L))
      .toDF("src", "dst")
    val core = GraphAlgorithms.kCoreEdges(e, k = 2).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(core === Map(1L -> 2L, 2L -> 2L, 3L -> 2L))
    // the 3-core of a plain triangle is empty
    assert(GraphAlgorithms.kCoreEdges(e, k = 3).count() === 0L)
  }

  test("neighborhoodSizes2: exact 2-hop balls on a path graph") {
    // path 1-2-3-4-5: B(1,2)={1,2,3}, B(2,2)={1..4}, B(3,2)={1..5},
    // B(4,2)={2..5}, B(5,2)={3,4,5}
    val e = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L)).toDF("src", "dst")
    val got = GraphAlgorithms.neighborhoodSizes2(e).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === Map(1L -> 3L, 2L -> 4L, 3L -> 5L, 4L -> 4L, 5L -> 3L))
  }

  test("neighborhoodHll agrees exactly with the exact balls on a small graph") {
    // below the HLL sparse-mode threshold every estimate is EXACT, so the
    // sketch path must reproduce neighborhoodSizes2 to the integer
    val e = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (5L, 6L),
      (6L, 1L), (3L, 7L)).toDF("src", "dst")
    val exact = GraphAlgorithms.neighborhoodSizes2(e).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val est = GraphAlgorithms.neighborhoodHll(e, maxHops = 2).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(est === exact)
  }

  test("neighborhood functions agree with a driver-side BFS on random graphs (seeded)") {
    val rnd = new scala.util.Random(7L)
    for (_ <- 1 to 5) {
      val n = 20 + rnd.nextInt(30)
      val edges = (0 until 2 * n).map(_ =>
        (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter { case (a, b) => a != b }.distinct
      val adj = edges.flatMap { case (a, b) => Seq(a -> b, b -> a) }
        .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
      val expected = adj.keys.map { v =>
        val one = adj(v) + v
        v -> (one ++ one.flatMap(u => adj.getOrElse(u, Set.empty))).size.toLong
      }.toMap
      val e = edges.toDF("src", "dst")
      val exact = GraphAlgorithms.neighborhoodSizes2(e).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(exact === expected, s"exact mismatch on edges $edges")
      val est = GraphAlgorithms.neighborhoodHll(e, maxHops = 2).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(est === expected, s"hll mismatch on edges $edges")
    }
  }

  test("neighborhoodHll radius grows to the whole component at the diameter") {
    // cycle of 8: ball at maxHops=4 is the full cycle for every node
    val e = (0L until 8L).map(i => (i, (i + 1) % 8)).toDF("src", "dst")
    val est = GraphAlgorithms.neighborhoodHll(e, maxHops = 4).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(est.values.toSet === Set(8L))
  }

  test("rank round consumes the pinned link partitioning: no edge-side exchange") {
    // conservedRound is the round of pageRank, pageRankWeighted,
    // personalizedPageRank, eigenvectorCentrality and articleRank. Links
    // and ranks are keyed pins at one width w, narrower than
    // shuffle.partitions included: EnsureRequirements re-exchanges a
    // narrower keyed side joined with a side that needs an exchange, so a
    // second exchange here means the round lost its co-partitioning. The
    // one exchange is the round's hash(id) re-keying at w, with or without
    // a carried column (personalizedPageRank's restart share p).
    withStaticPlans {
      import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
      import org.apache.spark.sql.execution.RDDScanExec
      import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
      val e = Seq((1L, 2L), (1L, 3L), (2L, 3L), (3L, 1L)).toDF("src", "dst")
      val n = spark.conf.get("spark.sql.shuffle.partitions").toInt
      for (w <- Seq(1, 2, n).distinct; carried <- Seq(Nil, Seq("p"))) {
        val links = GraphAlgorithms.degreeLinks(e, Some(w))
        val ranks = graft.impl.Pin.keyed(e.select(col("src").as("id")),
          Seq("id"), _.distinct().select(col("id"), lit(1.0).as("rank"),
            lit(0.5).as("p")), Some(w))
        val round = GraphAlgorithms.conservedRound(links, ranks,
          col("rank") / col("deg"), w, carried)
        val plan = round.queryExecution.executedPlan
        val exchanges = plan.collect { case s: ShuffleExchangeExec => s }
        assert(exchanges.map(_.outputPartitioning.numPartitions) === Seq(w),
          s"width $w, carried $carried:\n$plan")
        exchanges.head.outputPartitioning match {
          case h: HashPartitioning =>
            assert(h.expressions.flatMap(_.references.map(_.name)) === Seq("id"))
          case other => // a 1-wide repartition plans as SinglePartition
            assert(w === 1, s"width $w exchange is $other")
        }
        // links once, ranks twice (the join side and the zero rows)
        val scans = plan.collect { case r: RDDScanExec => r.outputPartitioning }
        assert(scans.size === 3 &&
          scans.forall(_.isInstanceOf[HashPartitioning]), s"unkeyed scan:\n$plan")
        // 3 -> 1 (deg 1), 1 -> 2 and 1 -> 3 (deg 2), 2 -> 3 (deg 1)
        val got = round.collect().map(r => r.getLong(0) -> r.toSeq.tail).toMap
        val p = carried.map(_ => 0.5)
        assert(got === Map(1L -> (1.0 +: p), 2L -> (0.5 +: p),
          3L -> (1.5 +: p)))
      }
    }
  }

  test("personalized PageRank: dangling mass restarts at the seed (hand-checked)") {
    // 1 -> 2, seed {1}, d = 0.85, 2 rounds:
    // r1 = (0.15, 0.85); round 2 transfers 0.15, node 2's 0.85 dangles
    // back to the seed: r2(1) = 0.15 + 0.85*0.85 = 0.8725, r2(2) = 0.1275.
    val g = TckFixtures.graph(spark,
      Seq(TckFixtures.N(1, Set("X")), TckFixtures.N(2, Set("X")),
        TckFixtures.N(3, Set("Y"))), // 3 is outside the edge set: rank 0
      Seq(TckFixtures.R(10, 1, 2, "T")))
    val seeds = Seq(Tuple1(1L)).toDF("id")
    val got = GraphAlgorithms.personalizedPageRank(g, seeds,
        iterations = 2, damping = 0.85)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(math.abs(got(1L) - 0.8725) < 1e-12)
    assert(math.abs(got(2L) - 0.1275) < 1e-12)
    assert(got(3L) === 0.0)
    assert(math.abs(got.values.sum - 1.0) < 1e-12, "mass conservation")
  }

  test("personalized PageRank: unreachable working nodes score exactly 0") {
    // two components; seeds only in the first
    val g = TckFixtures.graph(spark,
      (1 to 6).map(i => TckFixtures.N(i.toLong, Set("X"))),
      Seq(TckFixtures.R(10, 1, 2, "T"), TckFixtures.R(11, 2, 1, "T"),
        TckFixtures.R(12, 4, 5, "T"), TckFixtures.R(13, 5, 6, "T")))
    val got = GraphAlgorithms.personalizedPageRank(g,
        Seq(Tuple1(1L)).toDF("id"), iterations = 4)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(got(4L) === 0.0 && got(5L) === 0.0 && got(6L) === 0.0)
    assert(got(1L) > 0 && got(2L) > 0)
    assert(math.abs(got(1L) + got(2L) - 1.0) < 1e-12)
  }

  test("betweenness: path graph center carries the one crossing pair") {
    val e = Seq((1L, 2L), (2L, 3L)).toDF("src", "dst")
    val all = Seq(1L, 2L, 3L).toDF("id")
    val got = GraphAlgorithms.betweenness(e, all)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(got === Map(1L -> 0.0, 2L -> 1.0, 3L -> 0.0))
  }

  test("betweenness: star center carries (n-1)(n-2)/2 pairs") {
    val e = (2L to 6L).map(i => (1L, i)).toDF("src", "dst")
    val all = (1L to 6L).toDF("id")
    val got = GraphAlgorithms.betweenness(e, all)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(got(1L) === 10.0) // 5*4/2
    assert((2L to 6L).forall(got(_) === 0.0))
  }

  test("betweenness agrees with a driver-side Brandes replay (seeded)") {
    val rnd = new scala.util.Random(31)
    for (_ <- 1 to 3) {
      val edges = (0 until 40).map(_ =>
        (rnd.nextInt(10).toLong, rnd.nextInt(10).toLong))
        .filter { case (a, b) => a != b }.distinct
      val und = (edges ++ edges.map(_.swap)).distinct
      val adj = und.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
      val nodes = und.flatMap(t => Seq(t._1, t._2)).distinct
      // exact Brandes, all sources
      val bc = scala.collection.mutable.Map(nodes.map(_ -> 0.0): _*)
      nodes.foreach { s =>
        val dist = scala.collection.mutable.Map(s -> 0)
        val sigma = scala.collection.mutable.Map(s -> 1.0)
        val order = scala.collection.mutable.ArrayBuffer(s)
        val preds = scala.collection.mutable.Map
          .empty[Long, List[Long]].withDefaultValue(Nil)
        var i = 0
        while (i < order.size) {
          val v = order(i); i += 1
          adj.getOrElse(v, Set.empty).foreach { w =>
            if (!dist.contains(w)) {
              dist(w) = dist(v) + 1; sigma(w) = 0.0; order += w
            }
            if (dist(w) == dist(v) + 1) {
              sigma(w) = sigma(w) + sigma(v); preds(w) = v :: preds(w)
            }
          }
        }
        val delta = scala.collection.mutable.Map(
          order.map(_ -> 0.0).toSeq: _*)
        order.reverseIterator.foreach { w =>
          preds(w).foreach { v =>
            delta(v) += sigma(v) / sigma(w) * (1.0 + delta(w))
          }
          if (w != s) bc(w) += delta(w)
        }
      }
      val expected = bc.map { case (k, v) => k -> v / 2.0 }.toMap
      val got = GraphAlgorithms.betweenness(
          edges.toDF("src", "dst"), nodes.toDF("id"))
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
      nodes.foreach { n =>
        assert(math.abs(got(n) - expected(n)) < 1e-9,
          s"node $n: got ${got(n)}, want ${expected(n)}; edges $edges")
      }
    }
  }

  test("k-truss: 3-truss keeps triangles, 4-truss keeps only the clique") {
    // 4-clique {1,2,3,4} plus a pendant triangle {4,5,6} and a tail 6-7.
    val e = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L),
      (4L, 5L), (4L, 6L), (5L, 6L), (6L, 7L)).toDF("src", "dst")
    def edges(k: Int) = GraphAlgorithms.kTrussEdges(e, k)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // 3-truss: every triangle edge survives, the tail 6-7 peels off.
    assert(edges(3) === Set((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L),
      (2L, 4L), (3L, 4L), (4L, 5L), (4L, 6L), (5L, 6L)))
    // 4-truss: each edge needs 2 triangles — only the 4-clique qualifies.
    assert(edges(4) === Set((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L),
      (2L, 4L), (3L, 4L)))
    // 5-truss of this graph is empty.
    assert(edges(5) === Set.empty)
  }

  test("k-truss: cascading peel (removing one edge's support cascades)") {
    // Triangle chain: t1 = {1,2,3}, t2 = {2,3,4} share edge (2,3); edge
    // (1,2) has support 1, so 4-truss peels everything (each removal
    // drops the shared edge's support below 2 in turn).
    val e = Seq((1L, 2L), (1L, 3L), (2L, 3L), (2L, 4L), (3L, 4L))
      .toDF("src", "dst")
    assert(GraphAlgorithms.kTrussEdges(e, 4).count() === 0L)
    assert(GraphAlgorithms.kTrussEdges(e, 3).count() === 5L)
  }

  test("k-truss agrees with a driver-side peeling replay on random graphs") {
    val rnd = new scala.util.Random(23)
    for (_ <- 1 to 3) {
      val edges = (0 until 70).map(_ =>
        (rnd.nextInt(14).toLong, rnd.nextInt(14).toLong))
        .filter { case (a, b) => a != b }
        .map { case (a, b) => (math.min(a, b), math.max(a, b)) }.distinct
      def replay(k: Int): Set[(Long, Long)] = {
        var cur = edges.toSet
        var changed = true
        while (changed) {
          def nbrs(v: Long) = cur.collect {
            case (a, b) if a == v => b
            case (a, b) if b == v => a
          }
          val next = cur.filter { case (a, b) =>
            (nbrs(a).toSet intersect nbrs(b).toSet).size >= k - 2 }
          changed = next != cur
          cur = next
        }
        cur
      }
      val df = edges.toDF("src", "dst")
      for (k <- Seq(3, 4)) {
        val got = GraphAlgorithms.kTrussEdges(df, k)
          .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
        assert(got === replay(k), s"k=$k edges=$edges")
      }
    }
  }

  test("HITS: exact integer scores after two rounds on a hand-checked graph") {
    // 1->3, 2->3, 3->4: auth1 = indeg (3:2, 4:1); hub1 = (1:2, 2:2, 3:1);
    // auth2 = (3: hub1(1)+hub1(2) = 4, 4: hub1(3) = 1);
    // hub2 = (1:4, 2:4, 3:1, 4:0).
    val e = Seq((1L, 3L), (2L, 3L), (3L, 4L)).toDF("src", "dst")
    val got = GraphAlgorithms.hitsEdges(e, iterations = 2).collect()
      .map(r => r.getLong(0) ->
        ((r.getDecimal(1).longValueExact, r.getDecimal(2).longValueExact)))
      .toMap
    assert(got === Map(1L -> ((4L, 0L)), 2L -> ((4L, 0L)),
      3L -> ((1L, 4L)), 4L -> ((0L, 1L))))
  }

  test("HITS is partitioning-invariant (exact integers, no FP order)") {
    val rnd = new scala.util.Random(7)
    val edges = (0 until 60).map(_ => (rnd.nextInt(12).toLong,
      rnd.nextInt(12).toLong)).distinct
    def run(parts: Int) = GraphAlgorithms.hitsEdges(
        edges.toDF("src", "dst").repartition(parts), iterations = 3)
      .collect().map(r => r.getLong(0) ->
        ((r.getDecimal(1), r.getDecimal(2)))).toMap
    assert(run(1) === run(13))
  }

  test("node similarity: hand-computed Jaccard, topK cut, degree cutoff") {
    // Sources 1,2,3 over targets: 1->{a,b,c}, 2->{b,c,d}, 3->{c}, 4->{x}.
    // J(1,2) = 2/4 = 0.5; J(1,3) = J(2,3) = 1/3 but 3 has degree 1 so a
    // degreeCutoff of 2 removes it entirely; 4 shares nothing.
    val e = Seq((1L, 10L), (1L, 11L), (1L, 12L), (2L, 11L), (2L, 12L),
      (2L, 13L), (3L, 12L), (4L, 20L)).toDF("src", "dst")
    val all = GraphAlgorithms.nodeSimilarityEdges(e, topK = 10,
        degreeCutoff = 1).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(math.abs(all((1L, 2L)) - 0.5) < 1e-12)
    assert(math.abs(all((1L, 3L)) - 1.0 / 3) < 1e-12)
    assert(math.abs(all((3L, 1L)) - 1.0 / 3) < 1e-12)
    assert(!all.contains((1L, 4L)) && !all.contains((4L, 1L)))
    val cut = GraphAlgorithms.nodeSimilarityEdges(e, topK = 10,
        degreeCutoff = 2).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(cut === Set((1L, 2L), (2L, 1L)))
    // topK = 1 keeps only each node's best neighbor (ties by id).
    val top1 = GraphAlgorithms.nodeSimilarityEdges(e, topK = 1,
        degreeCutoff = 1).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(top1(1L) === 2L) // 0.5 beats 1/3
    assert(top1(3L) === 1L) // tie 1/3 with both 1 and 2 -> lower id
  }

  test("node similarity: overlap and cosine metrics (GDS similarityMetric)") {
    // 1->{a,b,c}, 2->{b,c,d}: c=2, da=db=3.
    val e = Seq((1L, 10L), (1L, 11L), (1L, 12L), (2L, 11L), (2L, 12L),
      (2L, 13L)).toDF("src", "dst")
    def score(metric: String) = GraphAlgorithms.nodeSimilarityEdges(e,
        metric = metric).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(math.abs(score("overlap")((1L, 2L)) - 2.0 / 3) < 1e-12)
    assert(math.abs(score("cosine")((1L, 2L)) - 2.0 / 3) < 1e-12)
    assert(math.abs(score("jaccard")((1L, 2L)) - 0.5) < 1e-12)
    intercept[IllegalArgumentException] {
      GraphAlgorithms.nodeSimilarityEdges(e, metric = "pearson")
    }
  }

  test("node similarity: hub-target cutoff drops the hub, keeps the rest") {
    // Target 99 is shared by everyone (a hub); with maxTargetDegree = 2 it
    // is dropped, so only the genuine pair (1,2) via target 10 survives.
    val e = (Seq((1L, 10L), (2L, 10L)) ++
      (1L to 5L).map(s => (s, 99L))).toDF("src", "dst")
    val got = GraphAlgorithms.nodeSimilarityEdges(e, topK = 10,
        degreeCutoff = 1, maxTargetDegree = 2).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got === Set((1L, 2L), (2L, 1L)))
  }

  test("closeness centrality: path graph, plain and Wasserman-Faust") {
    // Path 1-2-3 (undirected), sources = all three nodes.
    // closeness(2) = 2/(1+1) = 1.0; closeness(1) = 2/(1+2) = 2/3.
    val nodes = Seq(1L, 2L, 3L, 9L).toDF("id")
    val edges = Seq((10L, 1L, 2L), (11L, 2L, 3L)).toDF("id", "src", "tgt")
    val g = PropertyGraph(
      Seq(NodeTableDef(Set("V"), nodes, "id", Map.empty, "v")),
      Seq(RelTableDef("E", edges, "id", "src", "tgt", Map.empty, "e", "v", "v")))
    val src = GraphAlgorithms.nodeIds(g)
    val plain = GraphAlgorithms.closenessCentrality(g, src).collect()
      .map(r => (r.getLong(0) & 0xFFFFFFFFL) -> r.getDouble(1)).toMap
    assert(math.abs(plain(2L) - 1.0) < 1e-12)
    assert(math.abs(plain(1L) - 2.0 / 3) < 1e-12)
    assert(plain(9L) === 0.0) // isolated: unreached
    val wf = GraphAlgorithms.closenessCentrality(g, src,
        wassermanFaust = true).collect()
      .map(r => (r.getLong(0) & 0xFFFFFFFFL) -> r.getDouble(1)).toMap
    // n = 4: WF multiplies by r/(n-1) = 2/3.
    assert(math.abs(wf(2L) - (2.0 / 3) * 1.0) < 1e-12)
    assert(math.abs(wf(1L) - (2.0 / 3) * (2.0 / 3)) < 1e-12)
    // directed 1 -> 2 -> 3: nothing reaches 1; 3 is reached from 2 (d=1)
    // and 1 (d=2), so closeness(3) = 2/3 and closeness(2) = 1/1.
    val dir = GraphAlgorithms.closenessCentrality(g, src, directed = true)
      .collect().map(r => (r.getLong(0) & 0xFFFFFFFFL) -> r.getDouble(1)).toMap
    assert(dir(1L) === 0.0 && dir(2L) === 1.0)
    assert(math.abs(dir(3L) - 2.0 / 3) < 1e-12)
  }

  test("eigenvector centrality: star center dominates, L2 norm is 1") {
    // Directed star: 1,2,3 -> 4, a back-edge 4 -> 1 so iteration doesn't
    // die, and a self-loop 4 -> 4 so the graph is APERIODIC (without it
    // the 1->4->1 cycle has period 2 and power iteration oscillates —
    // correct behavior, but not a stable assertion). Center 4 dominates.
    val nodes = Seq(1L, 2L, 3L, 4L, 9L).toDF("id")
    val edges = Seq((10L, 1L, 4L), (11L, 2L, 4L), (12L, 3L, 4L),
      (13L, 4L, 1L), (14L, 4L, 4L)).toDF("id", "src", "tgt")
    val g = PropertyGraph(
      Seq(NodeTableDef(Set("V"), nodes, "id", Map.empty, "v")),
      Seq(RelTableDef("E", edges, "id", "src", "tgt", Map.empty, "e", "v", "v")))
    val x = GraphAlgorithms.eigenvectorCentrality(g, iterations = 6).collect()
      .map(r => (r.getLong(0) & 0xFFFFFFFFL) -> r.getDouble(1)).toMap
    assert(x(4L) > x(1L) && x(1L) > 0.0)
    assert(x(2L) === 0.0 && x(3L) === 0.0) // no in-edges after round 1...
    assert(x(9L) === 0.0) // isolated: analytic zero
    assert(math.abs(x.values.map(v => v * v).sum - 1.0) < 1e-9)
  }

  test("local clustering coefficient: triangle with a tail") {
    // Triangle 1-2-3 plus pendant 3-4: lcc(1)=lcc(2)=1, lcc(3)=1/3, lcc(4)=0.
    val e = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L)).toDF("src", "dst")
    val got = GraphAlgorithms.localClusteringCoefficient(e).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    assert(got(1L) === ((1L, 1.0)))
    assert(got(2L) === ((1L, 1.0)))
    assert(got(3L)._1 === 1L)
    assert(math.abs(got(3L)._2 - 1.0 / 3) < 1e-12)
    assert(got(4L) === ((0L, 0.0)))
  }

  test("louvain: two triangles joined by a bridge split into two communities") {
    val e = Seq((1L, 2L), (2L, 3L), (3L, 1L),
      (4L, 5L), (5L, 6L), (6L, 4L), (3L, 4L)).toDF("src", "dst")
    val got = GraphAlgorithms.louvain(e, levels = 2, sweeps = 3).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.keySet === Set(1L, 2L, 3L, 4L, 5L, 6L))
    assert(got(1L) === got(2L) && got(2L) === got(3L))
    assert(got(4L) === got(5L) && got(5L) === got(6L))
    assert(got(1L) !== got(4L))
  }

  test("louvain: deterministic and partitioning-invariant") {
    val rnd = new scala.util.Random(11)
    val edges = (0 until 80).map(_ =>
      (rnd.nextInt(16).toLong, rnd.nextInt(16).toLong)).distinct
    def run(parts: Int) = GraphAlgorithms.louvain(
        edges.toDF("src", "dst").repartition(parts), levels = 2, sweeps = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(run(1) === run(13))
  }

  /** Plain-Scala replay of the EXACT algorithm (same parity gating, tie
    * breaks, and integer-weighted arithmetic — every double is a sum of
    * integer-valued terms, so order cannot perturb it) for seeded random
    * graphs. */
  private def louvainRef(edges0: Seq[(Long, Long)], levels: Int,
      sweeps: Int, res: Double = 1.0): Map[Long, Long] = {
    var sym: Seq[(Long, Long, Double)] = edges0.filter(e => e._1 != e._2)
      .flatMap(e => Seq((e._1, e._2), (e._2, e._1))).distinct
      .map { case (u, v) => (u, v, 1.0) }
    var selfw: Map[Long, Double] =
      sym.map(_._1).distinct.map(_ -> 0.0).toMap
    var mapping: Map[Long, Long] = sym.map(_._1).distinct.map(x => x -> x).toMap
    for (level <- 1 to levels) {
      val deg = sym.groupBy(_._1).map { case (k, v) => k -> v.map(_._3).sum }
      val strength = selfw.map { case (id, sw) =>
        id -> (deg.getOrElse(id, 0.0) + 2.0 * sw) }
      val m2 = strength.values.sum
      if (m2 == 0.0)
        return mapping
      var comm: Map[Long, Long] = strength.keys.map(x => x -> x).toMap
      for (sweep <- 1 to sweeps) {
        val ctot = comm.groupBy(_._2).map { case (c, m) =>
          c -> m.keys.map(strength).sum }
        val movers = comm.keys.filter(id => ((id + sweep) % 2 + 2) % 2 == 0)
        val upd = movers.flatMap { u =>
          val oc = comm(u)
          val kin = sym.filter(_._1 == u)
            .groupBy(t => comm(t._2)).map { case (c, rs) => c -> rs.map(_._3).sum }
          val cand = (kin.keySet + oc).toSeq.map { nc =>
            val ki = kin.getOrElse(nc, 0.0)
            val score = ki - res * strength(u) *
              (ctot(nc) - (if (nc == oc) strength(u) else 0.0)) / m2
            (nc, score)
          }
          val best = cand.minBy { case (nc, sc) => (-sc, nc) }
          Some(u -> best._1)
        }.toMap
        comm = comm.map { case (id, c) => id -> upd.getOrElse(id, c) }
      }
      mapping = mapping.map { case (orig, node) => orig -> comm(node) }
      if (level < levels) {
        val tagged = sym.map { case (u, v, w) => (comm(u), comm(v), w) }
        val cross = tagged.filter(t => t._1 != t._2)
          .groupBy(t => (t._1, t._2))
          .map { case ((u, v), rs) => (u, v, rs.map(_._3).sum) }.toSeq
        val internal = tagged.filter(t => t._1 == t._2)
          .groupBy(_._1).map { case (c, rs) => c -> rs.map(_._3).sum / 2.0 }
        val oldSelf = selfw.groupBy { case (id, _) => comm(id) }
          .map { case (c, m) => c -> m.values.sum }
        val nodes = comm.values.toSeq.distinct
        selfw = nodes.map(c => c ->
          (internal.getOrElse(c, 0.0) + oldSelf.getOrElse(c, 0.0))).toMap
        sym = cross
      }
    }
    mapping
  }

  test("louvain agrees with the driver-side replay on seeded random graphs") {
    for (seed <- Seq(3, 17)) {
      val rnd = new scala.util.Random(seed)
      val edges = (0 until 120).map(_ =>
        (rnd.nextInt(24).toLong, rnd.nextInt(24).toLong))
        .filter(e => e._1 != e._2).distinct
      val got = GraphAlgorithms.louvain(edges.toDF("src", "dst"),
          levels = 2, sweeps = 2).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      val want = louvainRef(edges, levels = 2, sweeps = 2)
      assert(got === want, s"seed $seed")
    }
  }

  test("random walks: deterministic, correct shape, visits stay on the graph") {
    // Undirected triangle 1-2-3 plus isolated 9 (no walks from it if not
    // a start). Walks never leave {1,2,3}; re-running gives identical rows.
    val e = Seq((1L, 2L), (2L, 3L), (3L, 1L)).toDF("src", "dst")
    val starts = Seq(1L, 2L).toDF("id")
    def run() = GraphAlgorithms.randomWalks(e, starts,
      walksPerStart = 3, steps = 5, seed = 7L).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getLong(3)))
      .sortBy(x => (x._1, x._3))
    val a = run()
    assert(a.toSeq === run().toSeq) // deterministic
    // 2 starts x 3 walks x (1 + 5 steps) rows, none leaving the triangle.
    assert(a.length === 2 * 3 * 6)
    assert(a.forall(x => Set(1L, 2L, 3L).contains(x._4)))
    // step 0 is the start node.
    assert(a.filter(_._3 == 0).forall(x => x._2 === x._4))
    // consecutive steps are graph edges.
    val byWalk = a.groupBy(_._1).values
    for (w <- byWalk; Array(p, q) <- w.sortBy(_._3).sliding(2))
      assert(Set((p._4, q._4), (q._4, p._4)).exists(
        Set((1L, 2L), (2L, 3L), (3L, 1L)).contains))
  }

  test("article rank: hub-damped recurrence matches an in-spec replay") {
    // Replay the documented recurrence directly: contrib = r/(deg+avgd),
    // avgd = |E|/|connected|, no dangling redistribution.
    val pr = GraphAlgorithms.articleRank(graph, iterations = 4).collect()
      .map(r => (r.getLong(0) & 0xFFFFFFFFL, r.getDouble(1))).toMap
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (4L, 5L))
    val outDeg = edges.groupBy(_._1).view.mapValues(_.size.toDouble).toMap
    val avgd = edges.size.toDouble / 5
    var r = Map(1L -> 1.0, 2L -> 1.0, 3L -> 1.0, 4L -> 1.0, 5L -> 1.0)
    for (_ <- 1 to 4) {
      val contrib = edges.groupBy(_._2).view.mapValues(_.map { case (u, _) =>
        r(u) / (outDeg(u) + avgd) }.sum).toMap
      r = r.keys.map(v => v -> (0.15 + 0.85 * contrib.getOrElse(v, 0.0))).toMap
    }
    r.foreach { case (id, want) =>
      assert(math.abs(pr(id) - want) < 1e-12, s"node $id: ${pr(id)} vs $want") }
  }

  test("transitivity: triangle + chain = 1 triangle / 3 wedges") {
    import spark.implicits._
    val e = Seq((1L, 2L), (2L, 3L), (3L, 1L), (4L, 5L)).toDF("src", "dst")
    val row = GraphAlgorithms.transitivityEdges(e).collect()(0)
    assert(row.getLong(0) === 1L)   // triangles
    assert(row.getLong(1) === 3L)   // wedges (all at the triangle corners)
    assert(row.getDouble(2) === 1.0)
    // wedge-only graph: 0 triangles over 1 wedge
    val path = Seq((1L, 2L), (2L, 3L)).toDF("src", "dst")
    val r2 = GraphAlgorithms.transitivityEdges(path).collect()(0)
    assert(r2.getLong(0) === 0L && r2.getLong(1) === 1L && r2.getDouble(2) === 0.0)
  }

  test("modularity: component partition of triangle + chain is 0.375") {
    import spark.implicits._
    val e = Seq((1L, 2L), (2L, 3L), (3L, 1L), (4L, 5L)).toDF("src", "dst")
    val assign = Seq((1L, 10L), (2L, 10L), (3L, 10L), (4L, 20L), (5L, 20L))
      .toDF("id", "community")
    val row = GraphAlgorithms.modularityEdges(e, assign).collect()(0)
    assert(row.getLong(0) === 4L)       // m
    assert(row.getLong(1) === 2L)       // communities
    assert(row.getDouble(2) === 0.375)  // (3/4 - (6/8)^2) + (1/4 - (2/8)^2)
    // everything in ONE community: Q = 1 - 1 = 0
    val one = Seq((1L, 7L), (2L, 7L), (3L, 7L), (4L, 7L), (5L, 7L))
      .toDF("id", "community")
    val q1 = GraphAlgorithms.modularityEdges(e, one).collect()(0)
    assert(q1.getDouble(2) === 0.0)
  }

  test("modularity: partial assignment normalizes m over the induced subgraph") {
    import spark.implicits._
    // ADVICE r12: edges with an unassigned endpoint must drop out of m
    // too, not just out of m_c/d_c — otherwise Q mixes two graphs.
    val e = Seq((1L, 2L), (2L, 3L), (3L, 4L)).toDF("src", "dst")
    val partial = Seq((1L, 10L), (2L, 10L)).toDF("id", "community")
    val row = GraphAlgorithms.modularityEdges(e, partial).collect()(0)
    assert(row.getLong(0) === 1L)      // only edge 1-2 has both ends assigned
    assert(row.getLong(1) === 1L)
    assert(row.getDouble(2) === 0.0)   // 1/1 - (2/2)^2
  }
}
