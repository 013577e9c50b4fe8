package graft.api

import graft.ast._
import graft.graph.PropertyGraph
import graft.impl.Planner
import graft.parser.CypherParser
import org.apache.spark.sql.{DataFrame, SparkSession}
import scala.collection.concurrent.TrieMap

/** Entry point: Cypher over Spark DataFrames.
  *
  * Mirrors the reference's session surface
  * (okapi-relational/.../api/graph/RelationalCypherSession.scala:130-199;
  * okapi-api/.../api/graph/PropertyGraph.scala:46-117): parse -> plan ->
  * lazy DataFrame. Nothing executes until an action on the returned frame.
  *
  * Constructing a session sizes Spark's JVM-wide codegen cache for graft's
  * working set, unless the host set its size or a class already compiled
  * ([[org.apache.spark.sql.graftx.CodegenBridge.sizeCache]]), so a repeated
  * plan shape compiles once per JVM and not once per call.
  */
class GraftSession(val spark: SparkSession) {
  org.apache.spark.sql.graftx.CodegenBridge.sizeCache(spark)

  /** Named-graph catalog (SessionGraphDataSource equivalent). */
  val catalog: TrieMap[String, PropertyGraph] = TrieMap.empty

  /** User-registered Cypher functions (procedure-like extension hook):
    * `registerFunction("sq", args => args.head * args.head)` makes `sq(x)`
    * callable from any query in this session. */
  private val functions = TrieMap.empty[String, Seq[org.apache.spark.sql.Column] => org.apache.spark.sql.Column]
  def registerFunction(name: String,
      fn: Seq[org.apache.spark.sql.Column] => org.apache.spark.sql.Column): Unit =
    functions.put(name.toLowerCase, fn)

  /** Table procedures callable via `CALL name(args) YIELD cols`. Built-ins
    * expose the graph algorithms; users can register more. */
  private val procedures =
    TrieMap.empty[String, (PropertyGraph, Seq[Any]) => DataFrame]
  def registerProcedure(name: String,
      proc: (PropertyGraph, Seq[Any]) => DataFrame): Unit =
    procedures.put(name.toLowerCase, proc)

  private def intArg(args: Seq[Any], i: Int, default: Int): Int =
    args.lift(i).map { case l: Long => l.toInt; case x: Int => x
      case other => throw new IllegalArgumentException(s"int expected: $other")
    }.getOrElse(default)

  private def strArg(args: Seq[Any], i: Int): String =
    args.lift(i) match {
      case Some(s: String) => s
      case other => throw new IllegalArgumentException(
        s"string expected at CALL argument $i: $other")
    }

  /** Trailing relationship-type varargs (empty = every type). */
  private def strArgs(args: Seq[Any], from: Int): Seq[String] =
    args.drop(from).map {
      case s: String => s
      case other => throw new IllegalArgumentException(
        s"relationship type (string) expected: $other")
    }

  private def numArg(v: Any): Double = v match {
    case d: Double => d
    case l: Long => l.toDouble
    case i: Int => i.toDouble
    case other => throw new IllegalArgumentException(s"number expected: $other")
  }

  /** Tagged-id frame of every node carrying `label` — the seed-set surface
    * the algorithm procedures use (CALL args are literals, so seeds are
    * named by label, the Neo4j-GDS convention). */
  private def labelIds(g: PropertyGraph, label: String)
      : org.apache.spark.sql.DataFrame = {
    val scans = g.nodeScansFor(Seq(label))
    require(scans.nonEmpty, s"no node table carries label: $label")
    scans.map(_.df.select(
        org.apache.spark.sql.functions.col(PropertyGraph.ID).as("id")))
      .reduce(_.unionByName(_))
  }

  registerProcedure("pagerank", (g, args) =>
    graft.algos.GraphAlgorithms.pageRank(g, iterations = intArg(args, 0, 10))
      .toDF("id", "rank"))
  // CALL pagerankWeighted(iterations, relType, weight [, relType, weight]...)
  registerProcedure("pagerankweighted", (g, args) => {
    val weights = args.drop(1).grouped(2).map {
      case Seq(t: String, w) => t -> numArg(w)
      case other => throw new IllegalArgumentException(
        s"pagerankWeighted expects (relType, weight) pairs after the " +
          s"iteration count: $other")
    }.toMap
    graft.algos.GraphAlgorithms.pageRankWeighted(g, weights,
      iterations = intArg(args, 0, 10)).toDF("id", "rank")
  })
  registerProcedure("connectedcomponents", (g, _) =>
    graft.algos.GraphAlgorithms.connectedComponents(g)
      .toDF("id", "component"))
  registerProcedure("degrees", (g, _) =>
    graft.algos.GraphAlgorithms.degrees(g))
  registerProcedure("trianglecount", (g, _) => {
    val n = graft.algos.GraphAlgorithms.triangleCount(g)
    spark.range(1).select(
      org.apache.spark.sql.functions.lit(n).as("triangles"))
  })
  // Round-7 algorithms surfaced as procedures (the full analytics module is
  // reachable from Cypher, mirroring the reference's session entry points —
  // okapi-api/.../api/graph/CypherSession.scala). Signatures use literal
  // args only (the CALL contract): seed sets are named by node label,
  // relationship types are trailing string varargs (empty = all types).
  // CALL sssp(seedLabel, relType, weight [, relType, weight]...)
  registerProcedure("sssp", (g, args) => {
    val weights = args.drop(1).grouped(2).map {
      case Seq(t: String, w) => t -> numArg(w)
      case other => throw new IllegalArgumentException(
        s"sssp expects (relType, weight) pairs after the seed label: $other")
    }.toMap
    graft.algos.GraphAlgorithms.sssp(g, labelIds(g, strArg(args, 0)), weights)
      .toDF("id", "dist")
  })
  // CALL hits(iterations [, relType...])
  registerProcedure("hits", (g, args) =>
    graft.algos.GraphAlgorithms.hits(g, strArgs(args, 1),
      iterations = intArg(args, 0, 2)).toDF("id", "hub", "auth"))
  // CALL ppr(seedLabel, iterations [, relType...])
  registerProcedure("ppr", (g, args) =>
    graft.algos.GraphAlgorithms.personalizedPageRank(g,
      labelIds(g, strArg(args, 0)), iterations = intArg(args, 1, 10),
      relTypes = strArgs(args, 2)).toDF("id", "rank"))
  // CALL betweenness(seedLabel [, relType...]) — k-source Brandes seeded
  // on the labeled nodes, undirected (the algorithm's default).
  registerProcedure("betweenness", (g, args) =>
    graft.algos.GraphAlgorithms.betweenness(
      graft.algos.GraphAlgorithms.edges(g, strArgs(args, 1)),
      labelIds(g, strArg(args, 0))).toDF("id", "betweenness"))
  // CALL kcore(k [, relType...]) — members of the k-core with within-core
  // degree.
  registerProcedure("kcore", (g, args) =>
    graft.algos.GraphAlgorithms.kCore(g, intArg(args, 0, 2),
      strArgs(args, 1)).toDF("id", "degree"))
  // CALL ktruss(k [, relType...]) — surviving canonical (a < b) edges.
  registerProcedure("ktruss", (g, args) =>
    graft.algos.GraphAlgorithms.kTrussEdges(
      graft.algos.GraphAlgorithms.edges(g, strArgs(args, 1)),
      intArg(args, 0, 3)).toDF("a", "b"))
  // CALL toposort([relType...]) — longest-path topological level per node
  // (classified error on a cyclic graph).
  registerProcedure("toposort", (g, args) =>
    graft.algos.GraphAlgorithms.topologicalLevels(g, strArgs(args, 0))
      .toDF("id", "level"))
  // CALL scc([relType...]) — strongly connected component (min member id)
  // per node.
  registerProcedure("scc", (g, args) =>
    graft.algos.GraphAlgorithms.stronglyConnectedComponents(g,
      strArgs(args, 0)).toDF("id", "scc"))
  // CALL harmonic(seedLabel [, relType...]) — exact k-source harmonic
  // centrality seeded on the labeled nodes (undirected).
  registerProcedure("harmonic", (g, args) =>
    graft.algos.GraphAlgorithms.harmonicCentrality(g,
      labelIds(g, strArg(args, 0)), strArgs(args, 1))
      .toDF("id", "harmonic"))
  // CALL labelprop(maxIterations [, relType...])
  registerProcedure("labelprop", (g, args) =>
    graft.algos.GraphAlgorithms.labelPropagation(g, strArgs(args, 1),
      maxIterations = intArg(args, 0, 10)).toDF("id", "label"))
  // CALL assortativity([relType...]) — 1-row degree assortativity.
  registerProcedure("assortativity", (g, args) =>
    graft.algos.GraphAlgorithms.degreeAssortativity(
      graft.algos.GraphAlgorithms.edges(g, strArgs(args, 0))))
  // CALL articlerank(iterations [, relType...]) — PageRank recurrence
  // with the hub-damped outDeg + avgOutDeg normalizer.
  registerProcedure("articlerank", (g, args) =>
    graft.algos.GraphAlgorithms.articleRank(g,
      iterations = intArg(args, 0, 10), relTypes = strArgs(args, 1))
      .toDF("id", "rank"))
  // CALL transitivity([relType...]) — 1-row global clustering coefficient
  // (3·triangles / wedges) over the undirected simple graph.
  registerProcedure("transitivity", (g, args) =>
    graft.algos.GraphAlgorithms.transitivityEdges(
      graft.algos.GraphAlgorithms.edges(g, strArgs(args, 0))))
  // CALL modularity(levels, sweeps [, relType...]) — 1-row Newman
  // modularity of the louvain(levels, sweeps) partition on the same
  // rel-type subgraph.
  registerProcedure("modularity", (g, args) => {
    val e = graft.algos.GraphAlgorithms.edges(g, strArgs(args, 2))
    graft.algos.GraphAlgorithms.modularityEdges(e,
      graft.algos.GraphAlgorithms.louvain(e,
        levels = intArg(args, 0, 2), sweeps = intArg(args, 1, 2))
        .toDF("id", "community"))
  })
  // CALL louvain(levels, sweeps [, relType...]) — deterministic Louvain
  // community detection (parity-gated sweeps, smaller-id tie break).
  registerProcedure("louvain", (g, args) =>
    graft.algos.GraphAlgorithms.louvain(
      graft.algos.GraphAlgorithms.edges(g, strArgs(args, 2)),
      levels = intArg(args, 0, 2), sweeps = intArg(args, 1, 2))
      .toDF("id", "community"))
  // CALL nodesimilarity(topK, degreeCutoff [, relType...]) — Jaccard over
  // shared out-neighbor targets, top-k per node (GDS nodeSimilarity).
  registerProcedure("nodesimilarity", (g, args) =>
    graft.algos.GraphAlgorithms.nodeSimilarity(g, strArgs(args, 2),
      topK = intArg(args, 0, 10), degreeCutoff = intArg(args, 1, 1))
      .toDF("id", "other", "jacc"))
  // CALL closeness(seedLabel [, relType...]) — exact k-source closeness
  // centrality seeded on the labeled nodes (undirected, plain variant;
  // the Wasserman-Faust correction stays programmatic).
  registerProcedure("closeness", (g, args) =>
    graft.algos.GraphAlgorithms.closenessCentrality(g,
      labelIds(g, strArg(args, 0)), strArgs(args, 1))
      .toDF("id", "closeness"))
  // CALL eigenvector(iterations [, relType...]) — power-iteration
  // eigenvector centrality, undirected orientation (the useful mode on
  // DAG-shaped data; the directed variant stays programmatic).
  registerProcedure("eigenvector", (g, args) =>
    graft.algos.GraphAlgorithms.eigenvectorCentrality(g,
      iterations = intArg(args, 0, 3), relTypes = strArgs(args, 1),
      directed = false).toDF("id", "score"))
  // CALL randomwalks(seedLabel, walksPerStart, steps, seed [, relType...])
  // — deterministic DeepWalk-style walks from every labeled node.
  registerProcedure("randomwalks", (g, args) =>
    graft.algos.GraphAlgorithms.randomWalks(
      graft.algos.GraphAlgorithms.edges(g, strArgs(args, 4)),
      labelIds(g, strArg(args, 0)),
      walksPerStart = intArg(args, 1, 4), steps = intArg(args, 2, 8),
      seed = intArg(args, 3, 42).toLong)
      .toDF("walk_id", "start", "step", "node"))
  // CALL neighborhood(maxHops [, lgK [, relType...]]) — HyperBall ball-size
  // estimates (the scale path; exact 2-hop baseline stays programmatic).
  registerProcedure("neighborhood", (g, args) =>
    graft.algos.GraphAlgorithms.neighborhoodHll(
      graft.algos.GraphAlgorithms.edges(g, strArgs(args, 2)),
      maxHops = intArg(args, 0, 2), lgK = intArg(args, 1, 12))
      .toDF("id", "ball_est"))
  // Neo4j-style schema introspection: the graph schema is known up front
  // (SURVEY §1.1), so these are driver-side constants, no jobs.
  registerProcedure("db.labels", (g, _) => {
    import spark.implicits._
    g.schema.labels.toSeq.sorted.toDF("label")
  })
  registerProcedure("db.relationshiptypes", (g, _) => {
    import spark.implicits._
    g.schema.relTypes.keySet.toSeq.sorted.toDF("relationshipType")
  })
  registerProcedure("db.propertykeys", (g, _) => {
    import spark.implicits._
    (g.schema.labelCombinations.values.flatMap(_.keySet) ++
      g.schema.relTypes.values.flatMap(_.keySet))
      .toSeq.distinct.sorted.toDF("propertyKey")
  })
  // Neo4j's db.schema.nodeTypeProperties / relTypeProperties: one row
  // per (type, property) with the Cypher type name; property-less types
  // get a single null-property row (Neo4j's shape). Statically known —
  // no jobs.
  registerProcedure("db.schema.nodetypeproperties", (g, _) => {
    import spark.implicits._
    g.schema.labelCombinations.toSeq.flatMap { case (labels, props) =>
      val ls = labels.toSeq.sorted
      val nt = ls.map(l => s":`$l`").mkString
      if (props.isEmpty)
        Seq((nt, ls, null.asInstanceOf[String],
          null.asInstanceOf[Seq[String]], false))
      else props.toSeq.sortBy(_._1).map { case (k, t) =>
        (nt, ls, k, Seq(t.toString), true)
      }
    }.toDF("nodeType", "nodeLabels", "propertyName", "propertyTypes",
      "mandatory")
  })
  registerProcedure("db.schema.reltypeproperties", (g, _) => {
    import spark.implicits._
    g.schema.relTypes.toSeq.flatMap { case (t, props) =>
      val rt = s":`$t`"
      if (props.isEmpty)
        Seq((rt, null.asInstanceOf[String],
          null.asInstanceOf[Seq[String]], false))
      else props.toSeq.sortBy(_._1).map { case (k, ct) =>
        (rt, k, Seq(ct.toString), true)
      }
    }.toDF("relType", "propertyName", "propertyTypes", "mandatory")
  })
  registerProcedure("db.schema.nodetypecount", (g, _) => {
    import spark.implicits._
    g.schema.labelCombinations.keySet.toSeq
      .map(ls => ls.toSeq.sorted.mkString(":"))
      .sorted.toDF("labelCombination")
  })

  def store(name: String, g: PropertyGraph): Unit = catalog.put(name, g)

  /** A graph by name: the exact catalog name first (dotted names
    * included), then `ns.rest` through the source registered for `ns`. */
  def graphByName(name: String): PropertyGraph = catalog.get(name) match {
    case Some(g) => g
    case None =>
      val i = name.indexOf('.')
      if (i > 0) graphSources.get(name.substring(0, i)) match {
        case Some(src) => src(name.substring(i + 1))
        case None => throw new IllegalArgumentException(
          s"unknown graph namespace: ${name.substring(0, i)}")
      }
      else throw new IllegalArgumentException(s"unknown graph or view: $name")
  }

  /** Parameterized graph views (CatalogDDLTests' CATALOG CREATE VIEW):
    * name -> (parameter names without '$', body ending RETURN GRAPH). */
  private val views = TrieMap.empty[String, (Seq[String], Query)]
  def storeView(name: String, params: Seq[String], body: Query): Unit =
    views.put(name, (params, body))
  def dropView(name: String): Unit = views.remove(name)
  def viewNames: Set[String] = views.keySet.toSet

  /** Resolve a graph reference. A view call resolves its arguments
    * (recursively — `inc(inc(a))`), then plans the stored body with its
    * `$param` references bound to them through `bound`. */
  private def resolveGraph(ref: GraphRef,
      bound: Map[String, PropertyGraph]): PropertyGraph = ref match {
    case GraphName(parts) => graphByName(parts.mkString("."))
    case GraphParam(p) => bound.getOrElse(p,
      throw new IllegalArgumentException(s"unbound graph parameter: $$$p"))
    case ViewCall(name, args) =>
      val (params, body) = views.getOrElse(name,
        throw new IllegalArgumentException(s"unknown graph or view: $name"))
      require(args.size == params.size,
        s"view $name expects ${params.size} graph arguments, got ${args.size}")
      graphOf(PropertyGraph(Seq.empty), body, Map.empty,
        params.zip(args.map(resolveGraph(_, bound))).toMap)
  }

  /** Graph namespaces (the reference's PGDS namespaces / qualified graph
    * names): `FROM GRAPH ns.name` resolves via the source registered for
    * `ns`. "session" is pre-registered as the catalog itself; register an
    * FS or SQL source to address stored graphs by name. */
  private val graphSources = TrieMap[String, String => PropertyGraph](
    "session" -> ((n: String) => catalog.getOrElse(n,
      throw new IllegalArgumentException(s"unknown session graph: $n"))))
  def registerSource(namespace: String, src: String => PropertyGraph): Unit =
    graphSources.put(namespace, src)

  /** The one planner path: plan `query` against `graph` (`bound` holds a
    * view body's graph parameters). Returns the planner, for its written
    * or constructed graph, and a thunk rendering the RETURN rows. */
  private def plan(graph: PropertyGraph, query: Query,
      params: Map[String, Any], drivingTable: Option[DataFrame] = None,
      bound: Map[String, PropertyGraph] = Map.empty)
      : (Planner, () => DataFrame) = {
    val planner = new Planner(spark, graph, params, drivingTable,
      resolveGraph(_, bound), functions.toMap, procedures.toMap)
    val (df, outs, header) = classifyingTypeErrors { planner.plan(query) }
    (planner, () => classifyingTypeErrors { planner.render(df, outs, header) })
  }

  private def graphOf(graph: PropertyGraph, query: Query,
      params: Map[String, Any],
      bound: Map[String, PropertyGraph] = Map.empty): PropertyGraph =
    plan(graph, query, params, bound = bound)._1.constructedGraph.getOrElse(
      throw new IllegalArgumentException(
        "query does not end in CONSTRUCT ... RETURN GRAPH"))

  /** Parse `text`, which must be a query; `op` names the entry point that
    * refuses session-level statements. */
  private def queryOf(text: String, op: String): Query =
    CypherParser.parseStatement(text) match {
      case q: Query => q
      case s => throw new CypherException(CypherError.SemanticError,
        CypherError.CompileTime, CypherError.InvalidClauseComposition,
        s"$op expects a query, not a ${s.productPrefix} statement")
    }

  /** Compile a Cypher statement against a graph. A query plans to a lazy
    * DataFrame with user-facing column names; an optional driving table's
    * columns are visible to it as value variables (reference entry point 3,
    * RelationalCypherSession driving tables). Session-level statements
    * (CATALOG, SHOW, index and constraint DDL) run at once. */
  def cypher(graph: PropertyGraph, query: String,
      params: Map[String, Any] = Map.empty,
      drivingTable: Option[DataFrame] = None): DataFrame = {
    import spark.implicits._
    CypherParser.parseStatement(query) match {
      case q: Query => plan(graph, q, params, drivingTable)._2()
      // EXPLAIN <query>: plan but don't run — one (plan) row with Spark's
      // formatted physical plan (what `.explain("formatted")` prints).
      // PROFILE is accepted as a synonym; with no instrumentation layer the
      // honest answer is the same plan text, not fake per-operator counts.
      case Explain(_, q: Query) =>
        Seq(plan(graph, q, params, drivingTable)._2().queryExecution
          .explainString(org.apache.spark.sql.execution.FormattedMode))
          .toDF("plan")
      // Any other statement has no Spark plan, and EXPLAIN must not apply
      // its side effects: the honest answer is a descriptive row.
      case Explain(_, s) =>
        Seq(s"${s.productPrefix} statement: no Spark plan; not executed " +
          "under EXPLAIN/PROFILE").toDF("plan")
      case CatalogCreateGraph(name, body) =>
        store(name, graphOf(graph, body, params))
        spark.emptyDataFrame
      case CatalogCreateView(name, ps, body) =>
        storeView(name, ps, body)
        spark.emptyDataFrame
      case CatalogDrop(view, name) =>
        if (view) dropView(name) else catalog.remove(name)
        spark.emptyDataFrame // idempotent, like the reference
      // Discovery surface (Neo4j SHOW PROCEDURES / SHOW FUNCTIONS): list the
      // session registries. Built-in scalar functions compile directly in
      // ExprCompiler (no runtime registry), so SHOW FUNCTIONS enumerates the
      // REGISTERED (user) functions — the scoped divergence is recorded in
      // tck_blacklist.md.
      case ShowProcedures =>
        procedures.keys.toSeq.sorted.map(n => (n, "READ")).toDF("name", "mode")
      case ShowFunctions =>
        functions.keys.toSeq.sorted.map(n => (n, "user"))
          .toDF("name", "category")
      // Neo4j migration-script DDL. Indexes are performance-only artifacts —
      // Catalyst plans against parquet statistics, so CREATE/DROP INDEX is an
      // honest no-op (same stance as the discarded USING hints). Constraints
      // are ENFORCEMENT: silently not enforcing a uniqueness/existence rule
      // the user believes is active would be a correctness lie, so CREATE
      // CONSTRAINT refuses with a classified error instead.
      // SHOW INDEXES / SHOW CONSTRAINTS: indexes are no-ops and constraints
      // refuse at CREATE, so the truthful listing is ALWAYS empty — a
      // migration script's inventory pass runs and sees none. DROP CONSTRAINT
      // follows Neo4j: IF EXISTS tolerates the (necessarily) missing
      // constraint; the bare form raises for an unknown name.
      case ShowIndexes | ShowConstraints =>
        Seq.empty[(String, String, Seq[String], Seq[String])]
          .toDF("name", "type", "labelsOrTypes", "properties")
      case IndexDdl | DropConstraint(true) => spark.emptyDataFrame
      case DropConstraint(false) =>
        throw new CypherException(
          CypherError.SemanticError, CypherError.CompileTime,
          CypherError.UnsupportedExpression,
          "no such constraint: constraints cannot be created in this " +
            "engine (use DROP CONSTRAINT ... IF EXISTS for tolerant scripts)")
      case CreateConstraint =>
        throw new CypherException(
          CypherError.SemanticError, CypherError.CompileTime,
          CypherError.UnsupportedExpression,
          "constraints are not supported: this engine computes over " +
            "immutable snapshots and cannot enforce uniqueness/existence " +
            "rules; refusing rather than silently not enforcing")
    }
  }

  /** Spark analyzes eagerly at DataFrame construction, so a static type
    * mismatch (NOT 3, 1 + {map}) surfaces during planning as an
    * AnalysisException. Those are compile-time-detectable type errors in
    * TCK terms — reclassify them instead of leaking Spark internals; the
    * Spark message is kept for diagnosis. Runtime clashes on dynamic
    * values stay Spark's (raised at action time, out of this taxonomy's
    * scope — tck_blacklist.md). */
  private def classifyingTypeErrors[T](body: => T): T =
    try body catch {
      case e: org.apache.spark.sql.AnalysisException
          if e.getCondition != null &&
            e.getCondition.startsWith("DATATYPE_MISMATCH") =>
        throw new CypherException(CypherError.SyntaxError,
          CypherError.CompileTime, CypherError.InvalidArgumentType,
          e.getMessage)
      case e: org.apache.spark.sql.AnalysisException
          if e.getCondition != null &&
            e.getCondition.startsWith("WRONG_NUM_ARGS") =>
        throw new CypherException(CypherError.SyntaxError,
          CypherError.CompileTime, CypherError.InvalidNumberOfArguments,
          e.getMessage)
      // An aggregate item referencing a grouping EXPRESSION that is not
      // itself listed as a projection item — `RETURN n.x + count(*)` with
      // no `n.x` key. Neo4j rejects implicit grouping the same way
      // ("Aggregation column contains implicit grouping expressions").
      case e: org.apache.spark.sql.AnalysisException
          if e.getCondition != null &&
            (e.getCondition.startsWith("MISSING_GROUP_BY") ||
              e.getCondition.startsWith("MISSING_AGGREGATION")) =>
        throw new CypherException(CypherError.SyntaxError,
          CypherError.CompileTime,
          CypherError.AmbiguousAggregationExpression, e.getMessage)
    }

  /** Execute a write query (CREATE / SET / REMOVE / DELETE / MERGE after an
    * optional reading prefix) and return the updated graph. Writes never
    * mutate the input graph — the result is a new immutable PropertyGraph
    * whose tables are lazy views over the old ones (beyond-reference
    * surface: the reference engine is read-only). */
  def update(graph: PropertyGraph, query: String,
      params: Map[String, Any] = Map.empty): PropertyGraph =
    written(plan(graph, queryOf(query, "update"), params)._1)

  /** Like update(), additionally returning the RETURN rows of the write
    * query (`CREATE (n) RETURN n.p`). */
  def updateWithResult(graph: PropertyGraph, query: String,
      params: Map[String, Any] = Map.empty): (DataFrame, PropertyGraph) = {
    val (planner, rows) = plan(graph, queryOf(query, "updateWithResult"), params)
    (rows(), written(planner))
  }

  private def written(planner: Planner): PropertyGraph =
    planner.updatedGraph.getOrElse(
      throw new IllegalArgumentException("query has no write clauses"))

  /** Run a query ending in CONSTRUCT ... RETURN GRAPH; returns the built
    * graph (reference multiple-graphs support, SURVEY §2.6). */
  def cypherGraph(graph: PropertyGraph, query: String,
      params: Map[String, Any] = Map.empty): PropertyGraph =
    graphOf(graph, queryOf(query, "cypherGraph"), params)

  /** CATALOG CREATE GRAPH equivalent: run a graph-returning query and
    * register the result under a name. */
  def createGraph(name: String, source: PropertyGraph, query: String,
      params: Map[String, Any] = Map.empty): PropertyGraph = {
    val g = cypherGraph(source, query, params)
    store(name, g)
    g
  }

  /** Collect results as Cypher values (rowToCypherMap parity). */
  def cypherValues(graph: PropertyGraph, query: String,
      params: Map[String, Any] = Map.empty): Seq[graft.values.CypherMap] =
    cypher(graph, query, params).collect().toSeq
      .map(graft.values.CypherValue.rowToCypherMap)

  /** All nodes (optionally label-filtered) as element structs —
    * PropertyGraph.nodes() parity (PropertyGraph.scala:46-117). */
  /** All nodes with the given labels. `exactLabelMatch = true` returns only
    * nodes whose label set equals the requested combination exactly (the
    * reference's `nodes(name, ct, exactLabelMatch = true)`,
    * okapi-api/.../api/graph/PropertyGraph.scala:46-117) — expressed as a
    * size(labels(n)) guard so the whole check stays one Cypher plan. */
  def nodes(graph: PropertyGraph, labels: Seq[String] = Seq.empty,
      exactLabelMatch: Boolean = false): DataFrame = {
    val pat = s"(n${labels.map(":" + _).mkString})"
    if (exactLabelMatch)
      cypher(graph,
        s"MATCH $pat WHERE size(labels(n)) = ${labels.size} RETURN n")
    else cypher(graph, s"MATCH $pat RETURN n")
  }

  /** All relationships (optionally typed) as element structs. */
  def relationships(graph: PropertyGraph,
      relTypes: Seq[String] = Seq.empty): DataFrame = {
    val t = if (relTypes.isEmpty) "" else relTypes.mkString(":", "|", "")
    cypher(graph, s"MATCH ()-[r$t]->() RETURN r")
  }

  /** Raw SQL passthrough (CAPFSession.sql / MorpheusSession.sql:84-86). */
  def sql(query: String): DataFrame = spark.sql(query)

  /** Formatted physical plan of a Cypher query (debug / plan review). */
  def explain(graph: PropertyGraph, query: String,
      params: Map[String, Any] = Map.empty): String =
    cypher(graph, query, params).queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)

  /** Printable (logical, physical) plans — the reference's
    * CypherResult.plans surface (okapi-api/.../api/graph/
    * CypherResult.scala:74-84 exposes logical + relational). graft's
    * planning collapses into Catalyst, so the analogue is Catalyst's
    * optimized logical plan and the formatted physical plan — the two
    * layers a user reviews when tuning a query. */
  def plans(graph: PropertyGraph, query: String,
      params: Map[String, Any] = Map.empty): (String, String) = {
    val qe = cypher(graph, query, params).queryExecution
    (qe.optimizedPlan.toString,
      qe.explainString(org.apache.spark.sql.execution.FormattedMode))
  }
}

object GraftSession {
  def local(cores: Int = 32, shufflePartitions: Int = 32): GraftSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft")
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new GraftSession(spark)
  }

  def apply(spark: SparkSession): GraftSession = new GraftSession(spark)
}
