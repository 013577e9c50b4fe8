package graft.bench

import graft.algos.GraphAlgorithms
import graft.api.GraftSession
import graft.graph.{NodeTableDef, PropertyGraph, RelTableDef}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Empirical validation of SCALE.md's complexity claims (VERDICT r12 #3):
  * run the headline algorithm rows on a deterministic synthetic graph at
  * 1x and 10x the data and report the observed scaling exponent
  * log10(t_10x / t_1x) per row. Frontier-proportional / edge-linear claims
  * predict an exponent near 1 (often below it locally, since fixed
  * per-round scheduling overhead amortizes); a wedge- or pair-quadratic
  * regression shows up as an exponent near 2 — exactly the failure the
  * sf0.1 driver gate cannot see.
  *
  * The generator is hash-based and fully deterministic: src uniform over
  * N nodes, dst Zipf-skewed toward low ids (u^3 transform), so hubs exist
  * and the degree-ordered wedge bounds actually get exercised. 1x is
  * sized like the sf0.1 TPC-H graph (~0.75 M edges).
  *
  * Usage: runMain graft.bench.ScaleCheck [scale ...]   (default: 1 10)
  * Prints one line per (algo, scale) and a final exponent table; paste
  * into SCALE.md's round-13 validation section. `SPARK_GRAFT_ONLY` picks
  * rows (e.g. `SPARK_GRAFT_ONLY=pagerank` with scale 10 for a pagerank
  * A/B) without paying for the full matrix.
  */
object ScaleCheck {
  private val BaseNodes = 60000L
  private val BaseEdges = 750000L

  def syntheticEdges(spark: SparkSession, scale: Int): DataFrame = {
    val n = BaseNodes * scale
    val m = BaseEdges * scale
    spark.range(m).select(
      pmod(xxhash64(col("id"), lit(1)), lit(n)).as("src"),
      // Zipf-ish target skew: u^3 concentrates mass near id 0 — the max
      // in-degree hub sees ~m/n * skew-factor edges.
      floor(pow(pmod(xxhash64(col("id"), lit(2)), lit(1000000L))
        .cast("double") / 1000000.0, 3.0) * n).cast("long").as("dst"))
      .filter(col("src") =!= col("dst"))
  }

  def syntheticGraph(spark: SparkSession, scale: Int): PropertyGraph =
    graphOf(spark, scale, syntheticEdges(spark, scale), Map.empty)

  /** One `N` node table over ids `0 until BaseNodes * scale` and one `E`
    * rel table over `edges0` (src, dst), rel ids assigned here. */
  private def graphOf(spark: SparkSession, scale: Int, edges0: DataFrame,
      props: Map[String, String]): PropertyGraph = {
    val nodes = spark.range(BaseNodes * scale).toDF("id")
    val edges = edges0.withColumn("rid", monotonically_increasing_id())
      .select(col("rid"), col("src"), col("dst"))
    PropertyGraph(
      Seq(NodeTableDef(Set("N"), nodes, "id", props, "n")),
      Seq(RelTableDef("E", edges, "rid", "src", "dst", Map.empty,
        "e", "n", "n")))
  }

  /** Layered synthetic DAG for the trail-enumeration rows (VERDICT r13
    * #4): 6 equal bands by id, every edge goes from band i to band i+1,
    * so unbounded [*] trails are depth-bounded at 5 exactly like the
    * TPC-H graph the registry rows run on (the cyclic Zipf graph would
    * make unbounded trail counts exponential BY CONSTRUCTION, which is
    * not the claim under test). Out-degree is m/n-proportional and
    * therefore CONSTANT across scales — per-source trail counts stay
    * fixed while the edge frame grows 10x, so a frontier-proportional
    * fixpoint should show exponent <= 1 (the per-round join scans the
    * 10x edge frame) and a trails-times-graph regression shows up >> 1. */
  def syntheticDagEdges(spark: SparkSession, scale: Int): DataFrame = {
    val n = BaseNodes * scale
    val m = 450000L * scale
    val band = n / 6
    val layer = pmod(xxhash64(col("id"), lit(3)), lit(5L))
    spark.range(m).select(
      (layer * band + pmod(xxhash64(col("id"), lit(4)), lit(band)))
        .as("src"),
      ((layer + 1L) * band + pmod(xxhash64(col("id"), lit(5)), lit(band)))
        .as("dst"))
  }

  def syntheticDagGraph(spark: SparkSession, scale: Int): PropertyGraph =
    graphOf(spark, scale, syntheticDagEdges(spark, scale), Map("pid" -> "id"))

  /** [[syntheticGraph]] with the raw id exposed as a `pid` node property
    * (the cypher-driven rows need a property to select sources by;
    * [[syntheticGraph]] itself stays property-less so the r13 algo rows
    * keep their exact measured shape). */
  def syntheticPropGraph(spark: SparkSession, scale: Int): PropertyGraph =
    graphOf(spark, scale, syntheticEdges(spark, scale), Map("pid" -> "id"))

  /** Deterministic synthetic events for the streaming state-growth row:
    * `scale` multiplies BOTH the row count and the key cardinality, so
    * the windowed-aggregation state (keys x windows) grows 10x while the
    * time span (and so the window count) stays fixed. */
  def syntheticEvents(spark: SparkSession, scale: Int): DataFrame = {
    val n = 200000L * scale
    val users = 2000L * scale
    val spanMs = 30L * 24 * 3600 * 1000 // 30 days from a fixed epoch
    spark.range(n).select(
      col("id").as("event_id"),
      timestamp_millis(lit(1700000000000L) +
        pmod(xxhash64(col("id"), lit(11)), lit(spanMs))).as("ts"),
      pmod(xxhash64(col("id"), lit(12)), lit(users)).as("user_id"),
      element_at(array(lit("view"), lit("click"), lit("buy")),
        (pmod(xxhash64(col("id"), lit(13)), lit(3L)) + 1).cast("int"))
        .as("event_type"),
      (pmod(xxhash64(col("id"), lit(14)), lit(10000L)).cast("double") / 100.0)
        .as("value"),
      lit("""{"k":1}""").as("props"))
  }

  /** Deterministic synthetic documents with REAL near-dup structure:
    * groups of 10 docs share 57 of 60 pseudo-words (3 are doc-salted),
    * so minhash has genuine ~90%-Jaccard groups to find — a dedup
    * benchmark over random unrelated text would measure nothing. */
  def syntheticDocs(spark: SparkSession, scale: Int): DataFrame = {
    val n = 20000L * scale
    val grp = floor(col("id") / 10).cast("long")
    spark.range(n).select(col("id").as("doc_id"),
      concat_ws(" ", concat(
        transform(sequence(lit(0), lit(56)),
          j => concat(lit("w"), pmod(xxhash64(grp, j), lit(5000)))),
        transform(sequence(lit(57), lit(59)),
          j => concat(lit("x"), pmod(xxhash64(col("id"), j), lit(5000))))))
        .as("text"))
  }

  def main(args: Array[String]): Unit = {
    val scales = if (args.nonEmpty) args.map(_.toInt).toSeq else Seq(1, 10)
    val spark = Harness.session()
    val session = new GraftSession(spark)

    // Spill / peak-memory accounting per timed row (VERDICT r14 #5: the
    // forced shuffle-hash builds need a spill-safety story — shuffled-hash
    // build sides do not spill, so the signal to watch at low partition
    // counts is peak execution memory and whether ANY operator spills).
    val meter = new Harness.Meter(spark)

    // (name, scale) -> seconds
    val times = scala.collection.mutable.LinkedHashMap.empty[(String, Int), Double]
    def time(name: String, scale: Int)(f: => Unit): Unit = {
      if (Harness.selected(name)) {
        val (sec, c) = meter.time(f)
        times((name, scale)) = sec
        println(f"[scale] $name%-16s ${scale}x  $sec%8.2f s  " +
          f"spillMB=${c.spillMem / 1e6}%8.1f " +
          f"spillDiskMB=${c.spillDisk / 1e6}%8.1f " +
          f"peakTaskMemMB=${c.peakTaskMem / 1e6}%8.1f")
      }
    }

    scales.foreach { sc =>
      // Materialize the inputs once per scale so per-algo times measure
      // the algorithm, not the generator.
      val e = graft.impl.Pin(syntheticEdges(spark, sc))
      e.count()
      val g = syntheticGraph(spark, sc)
      val sources8 = spark.range(8).select((col("id") * 7919L).as("id"))

      time("pagerank", sc) { GraphAlgorithms.pageRank(g, 10).count() }
      time("sssp", sc) {
        GraphAlgorithms.sssp(g, spark.range(1).toDF("id"),
          Map("E" -> 1.0), maxIterations = 60).count()
      }
      time("components", sc) { GraphAlgorithms.connectedComponents(g).count() }
      time("triangles", sc) { GraphAlgorithms.triangleCountEdges(e).head() }
      time("lcc", sc) { GraphAlgorithms.localClusteringCoefficient(e).count() }
      time("louvain", sc) { GraphAlgorithms.louvain(e).count() }
      time("betweenness", sc) {
        GraphAlgorithms.betweenness(e, sources8).count()
      }
      // nodesim MUST run with the hub guard here: the Zipf target skew
      // gives node 0 ~2.5% of all edges, and the unguarded pair join is
      // pair-quadratic in that degree BY DESIGN (the guard is the scale
      // path; this harness measures the guarded shape, and the guard's
      // drop count prints to stderr — counted, never silent).
      time("nodesim", sc) {
        GraphAlgorithms.nodeSimilarityEdges(e, maxTargetDegree = 64).count()
      }
      time("varexpand", sc) {
        session.cypher(g,
          "MATCH (a:N)-[:E*1..2]->(b) RETURN count(*) AS c").head()
      }
      // --- VERDICT r13 #4: the remaining O(?)-risk rows ---
      // SHORTEST k on the cyclic graph: bounded *1..4, 4 sources. The
      // out-degree is m/n (constant across scales), so per-source trail
      // counts are scale-invariant; the cost under test is the per-hop
      // join against the 10x edge frame.
      val pg = syntheticPropGraph(spark, sc)
      time("shortest_k", sc) {
        session.cypher(pg,
          "MATCH p = SHORTEST 2 (a:N)-[:E*1..4]->(b:N) WHERE a.pid < 4 " +
            "RETURN count(*) AS c").head()
      }
      // Unbounded [*] fixpoint on the layered DAG (depth-bounded at 5,
      // like the registry row's TPC-H shape).
      val dagG = syntheticDagGraph(spark, sc)
      time("varexpand_unb", sc) {
        session.cypher(dagG,
          "MATCH (a:N)-[:E*]->(x) WHERE a.pid < 4 RETURN count(*) AS c")
          .head()
      }
      // CONSTRUCT NEW: fresh-entity id generation over a 10x node set.
      time("construct_new", sc) {
        val built = session.cypherGraph(pg,
          "MATCH (n:N) CONSTRUCT NEW (:R {v: n.pid}) RETURN GRAPH")
        session.cypher(built, "MATCH (r:R) RETURN count(*) AS c").head()
      }
      // Streaming windowed aggregation: state = keys x windows grows 10x
      // (10x rows AND 10x key cardinality over a fixed 30-day span),
      // driven end to end through a staged file stream.
      time("stream_window", sc) {
        val staged = java.nio.file.Files.createTempDirectory("graft_scale_ev")
        try {
          syntheticEvents(spark, sc).coalesce(4)
            .write.mode("overwrite").parquet(staged.toString)
          import graft.streaming.GraftStreaming
          GraftStreaming.withStatePartitions(spark, Harness.cpus) {
            val stream = GraftStreaming.eventsStream(spark, staged.toString)
            // Per-USER windowed aggregation — state rows = users x open
            // windows, so the 10x key cardinality actually lands in the
            // state store (windowedCounts' (window, type) key set would
            // stay constant across scales).
            val counts = stream.withWatermark("ts", "2 hours")
              .groupBy(window(col("ts"), "1 hour"), col("user_id"))
              .agg(count(lit(1)).as("n"), sum(col("value")).as("total"))
            val sink = "scale_stream_" + sc + "_" +
              java.util.UUID.randomUUID().toString.replace("-", "")
            GraftStreaming.runToMemorySink(counts, sink,
              outputMode = "complete").count()
          }
        } finally {
          import scala.jdk.CollectionConverters._
          java.nio.file.Files.walk(staged).iterator().asScala.toSeq
            .reverse.foreach(java.nio.file.Files.deleteIfExists(_))
        }
      }

      // pipeline rows over synthetic near-dup documents
      val docs = graft.impl.Pin(syntheticDocs(spark, sc))
      docs.count()
      time("dedup_exact", sc) {
        graft.pipeline.Dedup.exact(docs, "doc_id", Seq("text")).count()
      }
      time("dedup_minhash", sc) {
        graft.pipeline.Dedup.minhashLsh(docs, "doc_id", "text").count()
      }
      time("decontaminate", sc) {
        // probes = a 1% slice of the corpus itself: every probe hits
        val probes = docs.filter(col("doc_id") % 100 === 0)
        graft.pipeline.Decontaminate.flag(
          docs, probes, "doc_id", "text").count()
      }
    }

    if (scales.size >= 2) {
      val lo = scales.min
      val hi = scales.max
      val ratio = hi.toDouble / lo
      println(f"%n[scale] exponent table (${lo}x -> ${hi}x, " +
        f"exponent = log(t_hi/t_lo)/log($ratio%.0f)):")
      times.keys.map(_._1).toSeq.distinct.foreach { name =>
        for {
          t1 <- times.get((name, lo))
          t2 <- times.get((name, hi))
        } println(f"[scale] $name%-16s t${lo}x=$t1%8.2f  t${hi}x=$t2%8.2f  " +
          f"exponent=${math.log(t2 / t1) / math.log(ratio)}%5.2f")
      }
    }
    spark.stop()
  }
}
