package graft

import graft.algos.GraphAlgorithms
import graft.graph.{NodeTableDef, PropertyGraph, RelTableDef}
import graft.impl.Pin
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import scala.collection.mutable

/** Algorithm loop state: jobs per call of the five `algo_rounds`
  * algorithms (pagerank, sssp, components, triangles, kcore) and of every
  * other loop, the hash claim of every keyed pin they build, and empty
  * inputs. */
class AlgoRoundsSpec extends SparkTestBase {
  import spark.implicits._

  /** 300 nodes and 1,500 seeded edges whose sources follow a cubic power
    * law, so a few hubs carry most out-edges. */
  private lazy val seededEdges: DataFrame = {
    val rnd = new scala.util.Random(41)
    (0 until 1500).map { i =>
      (i.toLong, (300 * math.pow(rnd.nextDouble(), 3)).toLong,
        rnd.nextInt(300).toLong)
    }.toDF("rid", "src", "dst")
  }

  private def graphOf(edges: DataFrame): PropertyGraph = PropertyGraph(
    Seq(NodeTableDef(Set("N"), spark.range(300).toDF("id"), "id", Map.empty, "n")),
    Seq(RelTableDef("E", edges, "rid", "src", "dst", Map.empty, "e", "n", "n")))

  lazy val g: PropertyGraph = graphOf(seededEdges)

  /** `g`'s edges oriented from the smaller id to the larger, loops
    * dropped: a DAG for topologicalLevels. */
  lazy val dag: PropertyGraph = graphOf(seededEdges.selectExpr("rid",
      "least(src, dst) AS src", "greatest(src, dst) AS dst")
    .filter(col("src") =!= col("dst")))

  private def pageRank(iterations: Int) =
    GraphAlgorithms.pageRank(g, iterations = iterations)

  private lazy val sources = Seq(0L, 5L, 17L)
    .map(v => (g.tags("n") << PropertyGraph.TagBits) | v).toDF("id")

  /** The five calls as the `algo_rounds` benchmark makes them. */
  private lazy val calls: Seq[(String, () => DataFrame)] = Seq(
    "pagerank(5)" -> (() => pageRank(5)),
    "sssp" -> (() => GraphAlgorithms.sssp(g, sources, Map("E" -> 1.0))),
    "components" -> (() => GraphAlgorithms.connectedComponents(g)),
    "triangles" -> (() =>
      GraphAlgorithms.triangleCountEdges(GraphAlgorithms.edges(g))),
    "kcore" -> (() =>
      GraphAlgorithms.kCoreEdges(GraphAlgorithms.edges(g), 5)))

  test("job census: jobs per call of the five algo_rounds algorithms") {
    // Warm calls (the graph's node count and id frame already built),
    // final collect included. Before the loop state moved to Pin.round:
    // pagerank(5) 39, sssp 25, components 29, triangles 11, kcore 43, and
    // 6 jobs per extra pagerank iteration. A change that adds jobs raises
    // this table and says why.
    val recorded = Map("pagerank(5)" -> 15, "sssp" -> 12, "components" -> 20,
      "triangles" -> 10, "kcore" -> 19)
    val jobs = calls.map { case (name, f) =>
      f().collect()
      name -> jobsDuring(f().collect())
    }.toMap
    recorded.foreach { case (name, n) =>
      assert(jobs(name) <= n, s"$name: ${jobs(name)} jobs, recorded $n; $jobs")
    }
    val perIteration = jobsDuring(pageRank(6).collect()) -
      jobsDuring(pageRank(5).collect())
    assert(perIteration <= 2, s"$perIteration jobs per extra pagerank iteration")
  }

  /** The rank family's calls at `iterations` rounds. */
  private def ranked(iterations: Int): Seq[(String, () => DataFrame)] = Seq(
    "ppr" -> (() => GraphAlgorithms.personalizedPageRank(g, sources,
      iterations = iterations)),
    "eigenvector" -> (() => GraphAlgorithms.eigenvectorCentrality(g,
      iterations = iterations)),
    "articleRank" -> (() => GraphAlgorithms.articleRank(g,
      iterations = iterations)))

  /** Every other algorithm loop, one call each. */
  private lazy val loops: Seq[(String, () => DataFrame)] = {
    val e = GraphAlgorithms.edges(g)
    ranked(5).map { case (name, f) => s"$name(5)" -> f } ++ Seq(
      "labelPropagation" -> (() => GraphAlgorithms.labelPropagation(g)),
      "scc" -> (() => GraphAlgorithms.stronglyConnectedComponents(g)),
      "topologicalLevels" -> (() => GraphAlgorithms.topologicalLevels(dag)),
      "ktruss(3)" -> (() => GraphAlgorithms.kTrussEdges(e, 3)),
      "betweenness" -> (() => GraphAlgorithms.betweenness(e, sources)),
      "harmonic" -> (() => GraphAlgorithms.harmonicCentrality(g, sources)),
      "hits(2)" -> (() => GraphAlgorithms.hits(g, iterations = 2)),
      "louvain" -> (() => GraphAlgorithms.louvain(e)),
      "neighborhoodHll(2)" -> (() => GraphAlgorithms.neighborhoodHll(e, 2)),
      "harmonicHll" -> (() => GraphAlgorithms.harmonicCentralityHll(e)),
      "randomWalks" -> (() => GraphAlgorithms.randomWalks(e, sources)))
  }

  test("job census: jobs per call of every other algorithm loop") {
    // Warm calls, final collect included. Before every loop's round went
    // through Pin.round: ppr(5) 39, eigenvector(5) 34, articleRank(5) 28,
    // labelPropagation 35, scc 171, topologicalLevels 105, ktruss(3) 25,
    // betweenness 57, harmonic 31, hits(2) 18, louvain 83,
    // neighborhoodHll(2) 11, harmonicHll 41, randomWalks 16 (694 in all);
    // and 6, 6 and 4 jobs per extra ppr, eigenvector and articleRank
    // iteration. A change that adds jobs raises this table and says why.
    // scc and topologicalLevels vary by a job or two from run to run.
    val recorded = Map("ppr(5)" -> 19, "eigenvector(5)" -> 14,
      "articleRank(5)" -> 18, "labelPropagation" -> 12, "scc" -> 136,
      "topologicalLevels" -> 85, "ktruss(3)" -> 23, "betweenness" -> 51,
      "harmonic" -> 27, "hits(2)" -> 12, "louvain" -> 39,
      "neighborhoodHll(2)" -> 7, "harmonicHll" -> 15, "randomWalks" -> 12)
    val jobs = loops.map { case (name, f) =>
      f().collect()
      name -> jobsDuring(f().collect())
    }.toMap
    recorded.foreach { case (name, n) =>
      assert(jobs(name) <= n, s"$name: ${jobs(name)} jobs, recorded $n; $jobs")
    }
    ranked(5).zip(ranked(6)).foreach { case ((name, five), (_, six)) =>
      val perIteration = jobsDuring(six().collect()) - jobsDuring(five().collect())
      assert(perIteration <= 2, s"$perIteration jobs per extra $name iteration")
    }
  }

  /** Rows of the keyed pin `pin` outside the partition its claim names,
    * i.e. where pmod(hash(keys), n) != spark_partition_id(). */
  private def misplaced(pin: DataFrame, keys: Seq[String]): Long = {
    val n = pin.queryExecution.executedPlan.outputPartitioning match {
      case h: HashPartitioning =>
        assert(h.expressions.flatMap(_.references.map(_.name)) === keys)
        h.numPartitions
      case other => fail(s"keyed pin on $keys claims $other")
    }
    pin.filter(pmod(hash(keys.map(col): _*), lit(n)) =!= spark_partition_id())
      .count()
  }

  /** Every keyed pin `f` builds, with its keys. */
  private def keyedPinsOf(f: => Any): Seq[(DataFrame, Seq[String])] = {
    val pins = mutable.Buffer.empty[(DataFrame, Seq[String])]
    Pin.keyedPins.withValue(Some((df, keys) => pins += (df -> keys)))(f)
    pins.toSeq
  }

  test("every keyed pin of the five algorithms holds its hash claim") {
    // A small advisory partition size makes every pin several partitions
    // wide; at width 1 every row trivially sits in its claimed partition.
    withSQLConf("spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "1k") {
      calls.foreach { case (name, f) =>
        val pins = keyedPinsOf(f().collect())
        // components keeps its AQE-sized exchanges: no keyed pin
        assert(pins.nonEmpty === (name != "components"), s"$name: $pins")
        pins.foreach { case (pin, keys) =>
          assert(pin.rdd.getNumPartitions > 1, s"$name: a pin of width 1")
          assert(misplaced(pin, keys) === 0L, s"$name: pin on $keys")
        }
      }
    }
  }

  test("every keyed pin of the other algorithm loops holds its hash claim") {
    withSQLConf("spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "1k") {
      loops.foreach { case (name, f) =>
        keyedPinsOf(f().collect()).foreach { case (pin, keys) =>
          assert(pin.rdd.getNumPartitions > 1, s"$name: a pin of width 1")
          assert(misplaced(pin, keys) === 0L, s"$name: pin on $keys")
        }
      }
    }
  }

  test("the claim check catches a re-keying andThen") {
    val edges = GraphAlgorithms.edges(g)
    val rekeyed = Pin.keyed(edges, Seq("src"),
      _.select(col("dst").as("src"), col("src").as("dst")), Some(4))
    assert(misplaced(rekeyed, Seq("src")) > 0L)
    assert(misplaced(Pin.keyed(edges, Seq("src"), width = Some(4)),
      Seq("src")) === 0L)
  }

  private lazy val noEdges = spark.createDataFrame(
    spark.sparkContext.emptyRDD[Row],
    StructType(Seq(StructField("src", LongType), StructField("dst", LongType))))

  test("an observed round over an empty frame returns at once, claim kept") {
    var state: DataFrame = null
    var scalars: Row = null
    val lines = graftLog {
      val t0 = System.nanoTime()
      val (s, r) = Pin.round(noEdges.repartition(4, col("src")),
        Seq(count(lit(1)), sum(col("dst"))), Seq("src"), 4)
      assert((System.nanoTime() - t0) / 1e9 < 20.0)
      state = s
      scalars = r
    }
    assert(lines.isEmpty, lines)
    assert(scalars === Row(0L, null))
    assert(state.count() === 0L)
    assert(misplaced(state, Seq("src")) === 0L)
  }

  test("the algorithms over an empty edge set are empty, with no [graft] line") {
    val lines = graftLog {
      assert(GraphAlgorithms.kCoreEdges(noEdges, 2).count() === 0L)
      assert(GraphAlgorithms.triangleCountEdges(noEdges).head().getLong(0) === 0L)
      assert(GraphAlgorithms.ccStarLabels(noEdges, 5).count() === 0L)
    }
    assert(lines.isEmpty, lines)
  }
}
