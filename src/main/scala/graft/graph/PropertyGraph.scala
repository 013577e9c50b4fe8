package graft.graph

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Property graph over Spark DataFrames.
  *
  * Follows the reference's "schema-full property graph over element tables"
  * model (okapi-relational/.../impl/graph/ScanGraph.scala:43,
  * okapi-api/.../io/conversion/ElementMapping.scala:53): a graph is a set of
  * node tables (one per label combination) and relationship tables (one per
  * type), each backed by an arbitrary DataFrame plus a column mapping.
  *
  * Element ids are LongType with an id-space tag in the high byte
  * (SURVEY §1.4: long + tag bits instead of the reference's binary-encoded
  * ids — plain long arithmetic stays inside whole-stage codegen and joins at
  * native speed, which the reference's own JoinBenchmark shows is the fastest
  * encoding). Raw ids must fit in 56 bits.
  */
case class NodeTableDef(
    labels: Set[String],
    df: DataFrame,
    idCol: String,
    properties: Map[String, String], // property key -> source column
    idSpace: String)

case class RelTableDef(
    relType: String,
    df: DataFrame,
    idCol: String,
    srcCol: String,
    tgtCol: String,
    properties: Map[String, String],
    idSpace: String,
    srcSpace: String,
    tgtSpace: String)

/** Label combinations + rel types with property Cypher types — the fixed,
  * known-up-front schema the planner leans on (SURVEY §1.1). */
case class PropertyGraphSchema(
    labelCombinations: Map[Set[String], Map[String, graft.types.CypherType]],
    relTypes: Map[String, Map[String, graft.types.CypherType]]) {
  def labels: Set[String] = labelCombinations.keySet.flatten
  /** Properties visible for a label (union over combinations containing it). */
  def nodePropertyKeys(label: String): Map[String, graft.types.CypherType] =
    labelCombinations.filter(_._1.contains(label)).values
      .foldLeft(Map.empty[String, graft.types.CypherType])(_ ++ _)
  def relPropertyKeys(relType: String): Map[String, graft.types.CypherType] =
    relTypes.getOrElse(relType, Map.empty)
  /** Combinations implied by a label (ImpliedLabels analogue). */
  def impliedLabels(label: String): Set[String] = {
    val combos = labelCombinations.keySet.filter(_.contains(label))
    if (combos.isEmpty) Set.empty
    else combos.reduce(_ intersect _)
  }
}

/** Canonical node scan: `_id` (tagged long) + `p_<key>` property columns. */
case class NodeScanTable(labels: Set[String], df: DataFrame,
    propTypes: Map[String, DataType])

/** An endpoint node co-stored in the SAME table as a relationship (the
  * reference's NodeRelPattern / TripletPattern,
  * okapi-api/.../api/graph/Pattern.scala:135-182): the endpoint id space
  * has exactly one node table, backed by the same DataFrame, keyed by the
  * rel's endpoint column. The rel scan then carries the node's properties
  * (`nps_<key>` / `npt_<key>` columns) and the planner reads node slots
  * straight off the rel scan instead of self-joining the table — the
  * rewrite the reference performs in
  * okapi-logical/.../impl/LogicalOptimizer.scala:67-134. */
case class CoStoredNode(labels: Set[String], propTypes: Map[String, DataType])

/** Canonical rel scan: `_id`, `_src`, `_tgt`, `_type` + `p_<key>` columns
  * (+ co-stored endpoint properties, see [[CoStoredNode]]).
  * `srcCombos`/`tgtCombos` are the label combinations a node at each
  * endpoint can carry: the label sets of the node tables in the endpoint's
  * id space and of every pre-tagged node table. `None` marks a pre-tagged "!" space, whose ids may name a node
  * of any table. The planner uses them twice: a table whose endpoint can
  * hold no node of the pattern's labels is left out of the scan (the
  * reference's pattern-embedding table selection, ScanGraph.scanOperator),
  * and an endpoint whose every combination satisfies the pattern's labels
  * binds its id off the rel column, without a node-table join. */
case class RelScanTable(relType: String, df: DataFrame,
    propTypes: Map[String, DataType],
    srcCombos: Option[Set[Set[String]]] = None,
    tgtCombos: Option[Set[Set[String]]] = None,
    srcNode: Option[CoStoredNode] = None,
    tgtNode: Option[CoStoredNode] = None) {
  private def combos(relSrc: Boolean) = if (relSrc) srcCombos else tgtCombos
  /** Some node at endpoint `relSrc` can carry a combination `accepts`. */
  def canHold(relSrc: Boolean, accepts: Set[String] => Boolean): Boolean =
    combos(relSrc).forall(_.exists(accepts))
  /** Every node at endpoint `relSrc` carries a combination `accepts` (false
    * for a "!" space or a space without node tables). */
  def implies(relSrc: Boolean, accepts: Set[String] => Boolean): Boolean =
    combos(relSrc).exists(cs => cs.nonEmpty && cs.forall(accepts))
}

object PropertyGraph {
  val ID = "_id"
  val SRC = "_src"
  val TGT = "_tgt"
  val TYPE = "_type"
  val TagBits = 56

  def propCol(key: String): String = "p_" + key

  def apply(nodes: Seq[NodeTableDef], rels: Seq[RelTableDef] = Seq.empty): PropertyGraph =
    new PropertyGraph(nodes, rels)
}

class PropertyGraph(val nodeDefs: Seq[NodeTableDef], val relDefs: Seq[RelTableDef]) {
  import PropertyGraph._

  /** Stable tag per id space; id spaces shared between tables produce
    * colliding ids on purpose (same logical entity). Spaces starting with
    * "!" carry pre-tagged ids and are passed through untouched (used by
    * CONSTRUCT, whose cloned elements keep their source-graph ids). */
  val tags: Map[String, Long] = {
    val spaces = (nodeDefs.map(_.idSpace) ++
      relDefs.flatMap(r => Seq(r.idSpace, r.srcSpace, r.tgtSpace)))
      .distinct.filterNot(_.startsWith("!"))
    spaces.zipWithIndex.map { case (s, i) => s -> i.toLong }.toMap
  }

  private def tagged(space: String, c: Column): Column =
    if (space.startsWith("!")) c.cast(LongType)
    else shiftleft(lit(tags(space)), TagBits).bitwiseOR(c.cast(LongType))

  /** All labels appearing in the graph. */
  lazy val labels: Set[String] = nodeDefs.flatMap(_.labels).toSet
  lazy val relTypes: Set[String] = relDefs.map(_.relType).toSet

  /** Schema-full property graph schema: label combinations and rel types
    * with their property Cypher types (PropertyGraphSchema,
    * okapi-api/.../api/schema/PropertyGraphSchema.scala:62-366). */
  lazy val schema: PropertyGraphSchema = {
    def props(df: org.apache.spark.sql.DataFrame,
        mapping: Map[String, String]): Map[String, graft.types.CypherType] = {
      val fields = df.schema.fields.map(f => f.name -> f).toMap
      mapping.map { case (k, src) =>
        k -> graft.types.CypherType.fromSparkType(
          fields(src).dataType, fields(src).nullable)
      }
    }
    PropertyGraphSchema(
      nodeDefs.groupBy(_.labels).map { case (ls, defs) =>
        ls -> defs.map(d => props(d.df, d.properties))
          .reduce(_ ++ _)
      },
      relDefs.groupBy(_.relType).map { case (t, defs) =>
        t -> defs.map(d => props(d.df, d.properties)).reduce(_ ++ _)
      })
  }

  /** Distinct node-id frame, lazily checkpointed and memoized: the graph
    * analytics (PageRank, components, degrees) all anchor on it, so the
    * union-distinct over every node table runs once per graph instance;
    * blocks are freed by the ContextCleaner with the graph. */
  lazy val nodeIdFrame: org.apache.spark.sql.DataFrame =
    nodeTables.map(_.df.select(col(ID).as("id")))
      .reduceOption(_.unionByName(_))
      .map(df => graft.impl.Pin(df.distinct()))
      .getOrElse {
        val spark = (nodeDefs.map(_.df) ++ relDefs.map(_.df)).headOption
          .map(_.sparkSession)
          .getOrElse(org.apache.spark.sql.SparkSession.active)
        spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("id", LongType))))
      }

  /** Row count of [[nodeIdFrame]], counted once per graph instance: the
    * rank algorithms divide by it on every call. */
  lazy val nodeCount: Long = nodeIdFrame.count()

  lazy val nodeTables: Seq[NodeScanTable] = nodeDefs.map { d =>
    val fields = d.df.schema.fields.map(f => f.name -> f.dataType).toMap
    val cols = tagged(d.idSpace, col(d.idCol)).as(ID) +:
      d.properties.toSeq.map { case (k, src) => col(src).as(propCol(k)) }
    NodeScanTable(d.labels, d.df.select(cols: _*),
      d.properties.map { case (k, src) => k -> fields(src) })
  }

  /** Label combinations a node of an id space can carry: the label sets of
    * the space's node tables, plus those of every pre-tagged "!" node table,
    * whose ids are not confined to a space. A "!" space can hold anything. */
  private def spaceCombos(space: String): Option[Set[Set[String]]] =
    if (space.startsWith("!")) None
    else Some(nodeDefs.filter(d => d.idSpace == space ||
      d.idSpace.startsWith("!")).map(_.labels).toSet)

  /** The single node table of `space` when it is co-stored with rel def `d`
    * (same DataFrame, keyed by the rel's endpoint column). */
  private def coStoredWith(d: RelTableDef, space: String,
      endCol: String): Option[NodeTableDef] =
    nodeDefs.filter(_.idSpace == space) match {
      case Seq(nd) if (nd.df eq d.df) && nd.idCol == endCol => Some(nd)
      case _ => None
    }

  lazy val relTables: Seq[RelScanTable] = relDefs.map { d =>
    val fields = d.df.schema.fields.map(f => f.name -> f.dataType).toMap
    val srcCo = coStoredWith(d, d.srcSpace, d.srcCol)
    val tgtCo = coStoredWith(d, d.tgtSpace, d.tgtCol)
    def nodeCols(nd: NodeTableDef, prefix: String) =
      nd.properties.toSeq.map { case (k, src) => col(src).as(prefix + k) }
    val cols = Seq(
      tagged(d.idSpace, col(d.idCol)).as(ID),
      tagged(d.srcSpace, col(d.srcCol)).as(SRC),
      tagged(d.tgtSpace, col(d.tgtCol)).as(TGT),
      lit(d.relType).as(TYPE)) ++
      d.properties.toSeq.map { case (k, src) => col(src).as(propCol(k)) } ++
      srcCo.toSeq.flatMap(nodeCols(_, "nps_")) ++
      tgtCo.toSeq.flatMap(nodeCols(_, "npt_"))
    def coInfo(nd: NodeTableDef) = CoStoredNode(nd.labels,
      nd.properties.map { case (k, src) => k -> fields(src) })
    RelScanTable(d.relType, d.df.select(cols: _*),
      d.properties.map { case (k, src) => k -> fields(src) },
      spaceCombos(d.srcSpace), spaceCombos(d.tgtSpace),
      srcCo.map(coInfo), tgtCo.map(coInfo))
  }

  /** Node tables whose label set contains every requested label. */
  def nodeScansFor(requested: Seq[String]): Seq[NodeScanTable] =
    nodeTables.filter(t => requested.forall(t.labels.contains))

  /** Node tables whose label set EXACTLY equals the requested combination
    * (the reference's exactLabelMatch scan mode,
    * okapi-api/.../api/graph/PropertyGraph.scala:46-117). */
  def nodeScansForExact(requested: Seq[String]): Seq[NodeScanTable] =
    nodeTables.filter(_.labels == requested.toSet)

  /** Rel tables matching any of the requested types (all if empty). */
  def relScansFor(requested: Seq[String]): Seq[RelScanTable] =
    if (requested.isEmpty) relTables
    else relTables.filter(t => requested.contains(t.relType))

  /** Rel tables of the requested types that can connect a node whose label
    * combination `src` accepts to one `tgt` accepts, in stored direction or,
    * when `undirected`, in either. `None` constrains nothing: an unlabelled
    * endpoint keeps every table, even one whose space has no node table. */
  def relScansFor(requested: Seq[String], src: Option[Set[String] => Boolean],
      tgt: Option[Set[String] => Boolean],
      undirected: Boolean): Seq[RelScanTable] = {
    def fits(t: RelScanTable, from: Option[Set[String] => Boolean],
        to: Option[Set[String] => Boolean]) =
      from.forall(t.canHold(relSrc = true, _)) && to.forall(t.canHold(relSrc = false, _))
    relScansFor(requested).filter(t =>
      fits(t, src, tgt) || (undirected && fits(t, tgt, src)))
  }

  /** Memoized oriented hop tables for var-length expands, keyed by
    * (rel types, reversed, undirected). Every var-length / shortestPath
    * query re-walks the same edge list; materializing the pre-partitioned
    * (_h_from, _h_to, _h_i) projection once per graph amortizes its union
    * scan + shuffle across the session's queries (the reference's Cache
    * operator applied to the traversal's hottest artifact). The builder is
    * expected to pin; entries live as long as the graph object. */
  private val hopMemo = scala.collection.concurrent.TrieMap
    .empty[(Seq[String], Boolean, Boolean), org.apache.spark.sql.DataFrame]
  def hopTable(types: Seq[String], reversed: Boolean, undirected: Boolean,
      build: () => org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    hopMemo.getOrElseUpdate((types.sorted, reversed, undirected), build())

  /** Persist all canonical scans (useful before repeated traversals,
    * mirroring the reference's Cache operator / InsertCachingOperators). */
  def cache(): this.type = {
    nodeTables.foreach(_.df.persist())
    relTables.foreach(_.df.persist())
    this
  }

  def unpersist(): this.type = {
    nodeTables.foreach(_.df.unpersist())
    relTables.foreach(_.df.unpersist())
    this
  }

  /** N-ary graph union with id retagging: each input graph's id spaces are
    * prefixed with a per-graph ordinal so elements never collide — the
    * PrefixGraph + GraphUnionAll semantics
    * (RelationalOperator.scala:185,505). */
  def unionAll(others: PropertyGraph*): PropertyGraph = {
    val graphs = this +: others
    // "!"-spaces carry pre-tagged ids and keep them across the union (the
    // caller guarantees their uniqueness, e.g. CONSTRUCT output).
    def remap(s: String, i: Int) = if (s.startsWith("!")) s else s"g$i/$s"
    val nodes = graphs.zipWithIndex.flatMap { case (g, i) =>
      g.nodeDefs.map(d => d.copy(idSpace = remap(d.idSpace, i)))
    }
    val rels = graphs.zipWithIndex.flatMap { case (g, i) =>
      g.relDefs.map(d => d.copy(idSpace = remap(d.idSpace, i),
        srcSpace = remap(d.srcSpace, i), tgtSpace = remap(d.tgtSpace, i)))
    }
    new PropertyGraph(nodes, rels)
  }
}
