package graft.bench

import graft.algos.GraphAlgorithms
import graft.graph.PropertyGraph
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Paths}
import java.nio.charset.StandardCharsets

/** Dump `.explain("formatted")` for named registry queries and iterative
  * round bodies to files.
  *
  * Usage: runMain graft.bench.PlanDump <outDir> <tag> <name>[,<name>...]
  * A registry query writes <outDir>/<name>_<tag>.txt; a round body (see
  * [[roundBodies]]) writes <outDir>/roundbody_<name>.txt. The session and
  * preparation are the bench's, so the captured plans are the ones the
  * bench executes.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    require(args.length >= 3, "PlanDump <outDir> <tag> <name>[,<name>...]")
    val outDir = Paths.get(args(0))
    val tag = args(1)
    val names = args(2).split(",").map(_.trim).filter(_.nonEmpty)
    val spark = Harness.session()
    Files.createDirectories(outDir)
    val bodies = roundBodies(Harness.prepare(spark, Harness.sfDir))
    names.foreach { name =>
      graft.SparkEntry.queries.get(name)
        .map(fn => (s"${name}_$tag.txt", () => fn(spark, Harness.sfDir)))
        .orElse(bodies.get(name).map(b => (s"roundbody_$name.txt", b))) match {
        case None =>
          System.err.println(s"[plandump] unknown query or round body: $name")
        case Some((file, df)) =>
          val text = df().queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode)
          Files.write(outDir.resolve(file),
            text.getBytes(StandardCharsets.UTF_8))
          System.err.println(s"[plandump] wrote $file (${text.length} chars)")
      }
    }
    spark.stop()
  }

  /** ROUND-BODY plans of the iterative algorithms — the fragments a
    * registry dump cannot capture (a loop's returned frame only shows the
    * post-loop projection). Each is one round's join+aggregate against the
    * keyed-pinned fact frame built from the bench graph, so a reader can
    * check that the pinned scan carries `hashpartitioning(...)` instead of
    * `UnknownPartitioning(0)` and no Exchange sits above it. */
  private def roundBodies(g: PropertyGraph): Map[String, () => DataFrame] = {
    lazy val edges = GraphAlgorithms.edges(g)
    Map(
      // sssp round: candidates from a frontier against the keyed-pinned
      // weighted symmetric edge frame (the exact construction sssp uses).
      "sssp_candidates" -> { () =>
        val t = edges.withColumn("w", lit(1.0))
        val e = graft.impl.Pin.keyed(t.unionByName(t.select(
          col("dst").as("src"), col("src").as("dst"), col("w"))), Seq("src"))
        GraphAlgorithms.ssspCandidates(e, g.nodeIdFrame.limit(64)
          .select(col("id"), lit(0.0).as("dist")))
      },
      // pagerank round: rank contributions against the keyed-pinned links
      // frame (one explicit src exchange shared with the degree aggregation).
      "pagerank_contribs" -> { () =>
        GraphAlgorithms.rankContribs(GraphAlgorithms.degreeLinks(edges),
          g.nodeIdFrame.select(col("id"), lit(1.0).as("rank")))
      },
      // toposort round: in-degree decrements against the keyed-pinned edges.
      "toposort_decrements" -> { () =>
        GraphAlgorithms.topoDecrements(graft.impl.Pin.keyed(edges, Seq("src")),
          g.nodeIdFrame.limit(64).select(col("id"), lit(0L).as("level")))
      },
      // wedge canon fragment: orientByDegree pins its result, so this is
      // its a-side attachment join inline (the same expression, minus the
      // final Pin): the canon scan must carry the hash(a) claim with no
      // Exchange above it.
      "wedge_orient_attach" -> { () =>
        val canon = GraphAlgorithms.canonEdges(edges)
        val deg = canon.select(explode(array(col("a"), col("b"))).as("id"))
          .groupBy("id").agg(count(lit(1)).as("deg"))
        canon.join(deg.select(col("id").as("a"), col("deg").as("da"))
          .hint("shuffle_hash"), "a")
      })
  }
}
