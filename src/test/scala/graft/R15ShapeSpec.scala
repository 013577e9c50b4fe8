package graft

import graft.algos.GraphAlgorithms
import org.apache.spark.sql.functions._

/** Round-15 optimization shape pins: the wedge-family bloom prefilter
  * (guide §3.2) must stay in front of the wedge exchange, and must never
  * change results (no false negatives by construction). */
class R15ShapeSpec extends SparkTestBase {
  import spark.implicits._

  // A graph big enough that triangles/wedges are non-trivial: a clique of
  // 12 (220 triangles) plus a 200-node star (0 triangles, many wedges)
  // plus a chain. Dup edges and both orientations exercise canon.
  private def messyEdges = {
    val clique = for (i <- 1L to 12L; j <- 1L to 12L if i != j) yield (i, j)
    val star = (100L to 299L).map(i => (50L, i))
    val chain = (300L to 340L).map(i => (i, i + 1))
    (clique ++ star ++ chain).toDF("src", "dst")
  }

  test("bloom prefilter leaves triangle counts unchanged (forced on vs off)") {
    val e = messyEdges
    val on = withSQLConf("spark.graft.bloom.minItems" -> "0") {
      GraphAlgorithms.triangleCountEdges(e).head().getLong(0)
    }
    val off = withSQLConf("spark.graft.bloom.minItems" -> s"${Long.MaxValue}") {
      GraphAlgorithms.triangleCountEdges(e).head().getLong(0)
    }
    assert(on === off && on === 220L, s"bloom on=$on off=$off")
  }

  test("bloom prefilter leaves lcc and k-truss unchanged (forced on vs off)") {
    val e = messyEdges
    def lccMap(minItems: String) = withSQLConf(
      "spark.graft.bloom.minItems" -> minItems) {
      GraphAlgorithms.localClusteringCoefficient(e)
        .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2)))
        .toMap
    }
    assert(lccMap("0") === lccMap(s"${Long.MaxValue}"))
    def truss(minItems: String) = withSQLConf(
      "spark.graft.bloom.minItems" -> minItems) {
      GraphAlgorithms.kTrussEdges(e, 4)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    }
    assert(truss("0") === truss(s"${Long.MaxValue}"))
  }

  test("an explicit bloom.minItems=0 builds the k-truss per-round bloom") {
    // The 2^20 per-round floor applies only while the conf is unset, so
    // the forced-on k-truss comparison above really runs a bloom.
    import org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain
    withSQLConf("spark.graft.bloom.minItems" -> "0") {
      val canon = messyEdges.filter(col("src") =!= col("dst"))
        .select(least(col("src"), col("dst")).as("a"),
          greatest(col("src"), col("dst")).as("b")).distinct()
      val plan = GraphAlgorithms.edgeSupport(canon, canon.count())
        .queryExecution.optimizedPlan
      assert(plan.exists(_.expressions.exists(
        _.exists(_.isInstanceOf[BloomFilterMightContain]))),
        s"edgeSupport must probe the wedge bloom:\n$plan")
    }
  }

  // ---- Pin.keyed round-body pins (VERDICT r14 #7): the per-round join
  // against a keyed pin must consume the claimed hash layout — no exchange
  // above the pinned scan — and the claim must never change results.

  private def exchangesAndClaims(plan: org.apache.spark.sql.execution.SparkPlan) = {
    import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
    import org.apache.spark.sql.execution.RDDScanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val exchanges = plan.collect { case s: ShuffleExchangeExec => s }
    val claimedScans = plan.collect {
      case r: RDDScanExec
        if r.outputPartitioning.isInstanceOf[HashPartitioning] => r
    }
    (exchanges, claimedScans)
  }

  test("sssp round body: pinned edge frame is NOT re-exchanged (keyed pin)") {
    withSQLConf("spark.sql.adaptive.enabled" -> "false",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val e = graft.impl.Pin.keyed(
        Seq((1L, 2L, 1.0), (2L, 3L, 1.0), (3L, 4L, 2.0))
          .toDF("src", "dst", "w"), Seq("src"))
      val frontier = Seq((1L, 0.0)).toDF("id", "dist")
      val cand = GraphAlgorithms.ssspCandidates(e, frontier)
      val (exchanges, claims) = exchangesAndClaims(
        cand.queryExecution.executedPlan)
      assert(claims.nonEmpty, "edge scan must carry the hash(src) claim:\n" +
        cand.queryExecution.executedPlan)
      // frontier exchange + candidate aggregation only — the edge side
      // consumes its claimed layout (3 exchanges = claim lost).
      assert(exchanges.length === 2,
        s"expected 2 exchanges (frontier, groupBy), got " +
          s"${exchanges.length}:\n${cand.queryExecution.executedPlan}")
    }
  }

  test("pagerank round body: pinned links frame is NOT re-exchanged") {
    withSQLConf("spark.sql.adaptive.enabled" -> "false",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val links = graft.impl.Pin.keyed(
        Seq((1L, 2L), (2L, 3L), (1L, 3L)).toDF("src", "dst"), Seq("src"),
        ep => ep.join(ep.groupBy(col("src"))
          .agg(count(lit(1)).as("deg")), "src"))
      val ranks = Seq((1L, 1.0), (2L, 1.0), (3L, 1.0)).toDF("id", "rank")
      val contribs = GraphAlgorithms.rankContribs(links, ranks)
      val (exchanges, claims) = exchangesAndClaims(
        contribs.queryExecution.executedPlan)
      assert(claims.nonEmpty && exchanges.length === 2,
        s"expected claimed links scan + 2 exchanges (ranks, groupBy):\n" +
          contribs.queryExecution.executedPlan)
    }
  }

  test("keyed pin joins produce identical results to plain pins (claim safety)") {
    // The layout claim would silently mis-join if it were ever false —
    // equality against the claim-free plan is the unit-level guard (the
    // DuckDB oracle is the registry-level one).
    val edges = (1L to 400L).map(i => (i % 37, i % 11)).toDF("src", "dst")
    val other = (0L to 36L).map(i => (i, i * 10)).toDF("src", "tag")
    val keyed = graft.impl.Pin.keyed(edges, Seq("src"),
      _.dropDuplicates(Seq("src", "dst")))
      .join(other, "src").groupBy(col("tag"))
      .agg(count(lit(1)).as("n")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val plain = graft.impl.Pin(edges.dropDuplicates(Seq("src", "dst")))
      .join(other, "src").groupBy(col("tag"))
      .agg(count(lit(1)).as("n")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(keyed === plain)
  }

  test("bloom prefilter sits BEFORE the wedge exchange in the plan") {
    withSQLConf("spark.graft.bloom.minItems" -> "0",
      "spark.sql.adaptive.enabled" -> "false",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      import org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain
      import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
      import org.apache.spark.sql.execution.SparkPlan
      val plan = GraphAlgorithms.triangleCountEdges(messyEdges)
        .queryExecution.executedPlan
      // Find the exchange feeding the closing semi-join's streamed (wedge)
      // side; somewhere strictly BELOW it the might_contain predicate must
      // appear (as a Filter or fused into the wedge join's condition), so
      // non-closing wedges are dropped before their bytes are shuffled.
      def hasBloom(p: SparkPlan): Boolean =
        p.expressions.exists(_.exists(_.isInstanceOf[BloomFilterMightContain])) ||
          p.children.exists(hasBloom)
      val wedgeExchanges = plan.collect {
        case ex: ShuffleExchangeExec if hasBloom(ex.child) => ex
      }
      assert(wedgeExchanges.nonEmpty,
        s"might_contain must be below the wedge exchange:\n$plan")
    }
  }

  test("bloom size is clamped to Spark's runtime bloomFilter.maxNumBits") {
    // ~2,000 canon edges want ~15k bits at 3% fpp; BloomFilterAggregate
    // would cut that to the session cap at execution, so the plan must
    // already carry the capped size.
    import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
    val chain = spark.range(2000L).select(col("id").as("src"),
      (col("id") + 1L).as("dst"))
    val e = messyEdges.unionByName(chain.select(col("src") + 1000L,
      col("dst") + 1000L).toDF("src", "dst"))
    withSQLConf("spark.graft.bloom.minItems" -> "0",
      "spark.sql.optimizer.runtime.bloomFilter.maxNumBits" -> "4096") {
      val plan = GraphAlgorithms.triangleCountEdges(e).queryExecution.analyzed
      val bits = plan.collectWithSubqueries { case p => p.expressions }
        .flatten.flatMap(_.collect { case b: BloomFilterAggregate =>
          b.numBitsExpression.eval().asInstanceOf[Number].longValue })
      assert(bits.nonEmpty && bits.forall(_ <= 4096L), s"bloom bits: $bits")
    }
  }
}
