package graft

import graft.algos.GraphAlgorithms
import graft.graph.{NodeTableDef, PropertyGraph, RelTableDef}
import graft.impl.Pin
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import scala.collection.mutable

/** The loop state of the five `algo_rounds` algorithms (pagerank, sssp,
  * components, triangles, kcore): jobs per call, the hash claim of every
  * keyed pin they build, and empty inputs. */
class AlgoRoundsSpec extends SparkTestBase {
  import spark.implicits._

  /** 300 nodes and 1,500 seeded edges whose sources follow a cubic power
    * law, so a few hubs carry most out-edges. */
  lazy val g: PropertyGraph = {
    val rnd = new scala.util.Random(41)
    val n = 300
    val edges = (0 until 1500).map { i =>
      (i.toLong, (n * math.pow(rnd.nextDouble(), 3)).toLong, rnd.nextInt(n).toLong)
    }.toDF("rid", "src", "dst")
    PropertyGraph(
      Seq(NodeTableDef(Set("N"), spark.range(n).toDF("id"), "id", Map.empty, "n")),
      Seq(RelTableDef("E", edges, "rid", "src", "dst", Map.empty, "e", "n", "n")))
  }

  private def pageRank(iterations: Int) =
    GraphAlgorithms.pageRank(g, iterations = iterations)

  /** The five calls as the `algo_rounds` benchmark makes them. */
  private lazy val calls: Seq[(String, () => DataFrame)] = {
    val sources = Seq(0L, 5L, 17L)
      .map(v => (g.tags("n") << PropertyGraph.TagBits) | v).toDF("id")
    Seq(
      "pagerank(5)" -> (() => pageRank(5)),
      "sssp" -> (() => GraphAlgorithms.sssp(g, sources, Map("E" -> 1.0))),
      "components" -> (() => GraphAlgorithms.connectedComponents(g)),
      "triangles" -> (() =>
        GraphAlgorithms.triangleCountEdges(GraphAlgorithms.edges(g))),
      "kcore" -> (() =>
        GraphAlgorithms.kCoreEdges(GraphAlgorithms.edges(g), 5)))
  }

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
